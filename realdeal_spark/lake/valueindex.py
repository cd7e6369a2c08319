"""Secondary value index: point lookups by a NON-key column.

The base table buckets by its key columns, so "latest state of url X"
is a one-bucket, bloom-pruned read (``LakeTable.lookup``) — but
"which urls currently have lang = 'de'" still scans every bucket.
This module maintains a derived LakeTable mapping an indexed value
column back to the base table's primary keys:

- the index table's key is ``(value, *base_keys)`` and its **bucket
  hash uses only the value column** (``bucket_columns`` — see
  ``LakeTable.create``), so a value lookup prunes to the value's own
  bucket: O(1/n_buckets) of the index, metadata-planned;
- maintenance tails the base's incremental changes feed
  (``read_changes(include_preimage=True)``) — O(changes) per
  interval, never O(table): a changed value upserts the new entry
  and tombstones the old one, both riding the source row's order
  tuple so out-of-order replays resolve exactly like the base MERGE;
- exactly-once composes from the index table's own applied-epoch
  guard (interval id == epoch id), same in-band-checkpoint property
  as the CDC applier and the replica path (cdc/replicate.py).

At 10^10 rows this is the Iceberg-world answer to "index on lang":
a second, value-bucketed table kept in sync through CDC, instead of
a full-table shuffle per query.

Reference analogue: the reference queries Fusion Tables by arbitrary
columns and the service indexes server-side (fusion_tables_client.py:
103-116 issues `WHERE lang = ...` style filters); here the engine
owns the index.
"""

from __future__ import annotations

from functools import partial
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from realdeal_spark.lake.merge import (
    OP_COL,
    OP_DELETE,
    OP_UPDATE,
    MergeResult,
    merge_apply,
)
from realdeal_spark.lake.table import LakeTable, interval_step, interval_watermark

_EPOCH_PREFIX = "valueindex:"


def _base_columns(src: LakeTable) -> tuple[list[str], list[str], dict]:
    snap = src.snapshot()
    fields = src._schema_version(snap, snap.current_schema).fields
    types = {f["name"]: f["type"] for f in fields}
    return list(snap.key_columns), list(snap.order_columns), types


def create_value_index(
    src: LakeTable,
    root: str,
    value_column: str,
    n_buckets: int = 64,
) -> LakeTable:
    """An empty index over ``src[value_column]``.

    The index is itself a LakeTable — same commit protocol, time
    travel, compaction, metrics — keyed by ``(value, *base_keys)``,
    ordered by the base order columns, and bucket-hashed on the value
    alone so ``lookup_by_value`` prunes to the probed values' buckets.

    Requires a soft-delete base: index maintenance must see deletes in
    the changes feed to retire entries (a hard-delete base's feed is
    upserts-only and the index would hold ghosts).
    """
    snap = src.snapshot()
    if not snap.soft_delete:
        raise ValueError(
            "value index requires a soft-delete base table (deletes "
            "must be representable in the changes feed)"
        )
    keys, orders, types = _base_columns(src)
    if value_column in keys:
        raise ValueError(
            f"{value_column!r} is a base key column — key lookups are "
            "already bucket-pruned; index a non-key column"
        )
    if value_column not in types:
        raise ValueError(f"base table has no column {value_column!r}")
    cols = [value_column, *keys, *orders]
    ddl = ", ".join(f"{c} {types[c]}" for c in cols)
    return LakeTable.create(
        src.spark,
        root,
        ddl,
        key_columns=[value_column, *keys],
        order_columns=orders,
        n_buckets=n_buckets,
        soft_delete=True,  # retired entries tombstone, then compact away
        bucket_columns=[value_column],
    )


def value_index_watermark(idx: LakeTable) -> int | None:
    """Highest base version the index has applied, recovered from its
    own epoch ids (``valueindex:<from>-<to>``) — replication state
    carried in-band, so resume needs no side checkpoint."""
    return interval_watermark(idx, _EPOCH_PREFIX)


def _step(src, idx, value_column, mode, **span) -> MergeResult | None:
    """One exactly-once step.  Each change row, joined with its key's
    OLD value (the feed's pre-image; none in a bootstrap, which reads
    the base snapshot as all upserts), becomes index events — a pure
    column shuffle, no base-table read:

    - net upsert with a non-null value  → index upsert of
      ``(new_value, key)``;
    - old value present and (key deleted OR value changed, null-safe)
      → index delete of ``(old_value, key)``.

    Both ride the current row's order tuple, which is >= the old
    entry's by the base table's own out-of-order protection — so a
    replayed or re-chopped interval reconverges (tested)."""
    keys, orders, types = _base_columns(src)

    def apply(epoch_id, j):
        ups = j.where(
            (F.col("change_type") == "upsert")
            & F.col(value_column).isNotNull()
        ).select(
            value_column, *keys, *orders, F.lit(OP_UPDATE).alias(OP_COL)
        )
        dels = j.where(
            F.col("_old_value").isNotNull()
            & (
                (F.col("change_type") == "delete")
                | ~F.col(value_column).eqNullSafe(F.col("_old_value"))
            )
        ).select(
            F.col("_old_value").alias(value_column),
            *keys,
            *orders,
            F.lit(OP_DELETE).alias(OP_COL),
        )
        return merge_apply(
            idx, ups.unionByName(dels), epoch_id=epoch_id, mode=mode
        )

    def bootstrap(epoch_id, tv):
        rows = src.read(version=tv).select(
            "*",
            F.lit("upsert").alias("change_type"),
            F.lit(None).cast(types[value_column]).alias("_old_value"),
        )
        return apply(epoch_id, rows)

    def interval(epoch_id, fv, tv):
        ch = src.read_changes(fv, tv, include_preimage=True)
        cur = ch.where(F.col("change_type") != "update_preimage")
        pre = ch.where(F.col("change_type") == "update_preimage").select(
            *keys, F.col(value_column).alias("_old_value")
        )
        return apply(epoch_id, cur.join(pre, on=keys, how="left"))

    return interval_step(src, idx, _EPOCH_PREFIX, bootstrap, interval, **span)


def advance_interval(
    src: LakeTable,
    idx: LakeTable,
    value_column: str,
    from_version: int,
    to_version: int,
    mode: str = "cow",
) -> MergeResult | None:
    """Apply one base interval ``(from_version, to_version]`` to the
    index through the changes feed, exactly once (epoch id
    ``valueindex:<from>-<to>``; a replay is a metadata no-op)."""
    return _step(
        src, idx, value_column, mode,
        from_version=from_version, to_version=to_version,
    )


def advance_value_index(
    src: LakeTable,
    idx: LakeTable,
    value_column: str,
    to_version: int | None = None,
    mode: str = "cow",
) -> MergeResult | None:
    """Catch the index up from its watermark to ``to_version``
    (default: the base's current version) in one interval.

    First advance (watermark None) **bootstraps from the base
    snapshot**: ONE pruned scan of the base instead of a changes-feed
    replay of the whole history (the 2 M-key table's 13-version feed
    replay cost 428 s, BENCH_LOOKUP.md round 4; the snapshot path
    replaces it).  It is also *complete* under snapshot expiry: the
    feed over (earliest-retained, v] misses rows that predate the
    earliest retained snapshot and never changed; the snapshot read
    cannot.  Its epoch id spans (earliest-retained, v] like a feed
    interval, so the watermark and every later advance are the same
    as for a feed-seeded index; it skips the feed's no-op deletes
    (against an empty index they only mint tombstones).  Steady
    state: O(changes) intervals via the feed."""
    return _step(src, idx, value_column, mode, to_version=to_version)


def value_index_surface(
    src: LakeTable, idx: LakeTable, value_column: str, **advance_kw
):
    """The index as a maintained surface (``streaming.Surface``);
    ``advance_kw`` pass through to :func:`advance_value_index`."""
    from realdeal_spark.streaming.cdf_source import Surface

    return Surface(
        src,
        partial(value_index_watermark, idx),
        partial(advance_value_index, src, idx, value_column, **advance_kw),
    )


def lookup_by_value(
    src: LakeTable,
    idx: LakeTable,
    value_column: str,
    values: Any,
    version: int | None = None,
    scan_fallback_fraction: float | None = 0.01,
) -> DataFrame:
    """Current base rows whose ``value_column`` is in ``values`` —
    served through the index, reading only the probed values' index
    buckets and then the base's bloom-pruned key lookup.

    Reads "as of" the index watermark by default (the base version the
    index reflects); pass ``version`` to pin elsewhere — the result is
    re-filtered on the value column, so a stale index yields misses,
    never wrong rows.  Plan shape at 10^10 rows: k probed values →
    ≤k index buckets → ~k keys → ``src.lookup`` (bucket + Bloom
    pruned) — every stage metadata-planned, nothing O(table).

    **Index-vs-scan crossover:** a secondary index only wins when the
    probed values are rare.  Once the matched key set approaches the
    table size, the key fan-out touches every bucket anyway and the
    index adds pure overhead (measured 0.44x at 3.8% selectivity,
    BENCH_LOOKUP.md).  So after the (cheap, probed-buckets-only) index
    read, if the key count exceeds ``scan_fallback_fraction`` of the
    base's manifest-recorded physical rows, serve through the plain
    ``read() + filter`` plan instead — the same cost-based access-path
    choice an RDBMS planner makes.  Pass ``None`` to force the index
    path (the bench does, to measure it)."""
    wm = value_index_watermark(idx)
    if wm is None and version is None:
        raise ValueError("index has never been advanced; no watermark")
    ver = int(version) if version is not None else _serve_version(src, wm)
    isnap = idx.snapshot()
    vdf = _values_frame(idx, value_column, values)
    buckets = sorted(
        r["_b"]
        for r in vdf.select(
            F.pmod(F.xxhash64(value_column), F.lit(isnap.n_buckets))
            .cast("int")
            .alias("_b")
        )
        .distinct()
        .collect()
    )
    keys, _, _ = _base_columns(src)
    entries = (
        idx.read(buckets=buckets)
        .join(F.broadcast(vdf), on=value_column, how="leftsemi")
        .select(*keys)
        .distinct()
    )
    if scan_fallback_fraction is not None:
        # physical_rows counts tombstones and superseded MoR/append
        # generations, so it is an UPPER bound on live rows — the
        # denominator is inflated on update-heavy tables and the
        # planner keeps the index path past the configured selectivity
        # fraction.  Deliberately conservative: the index path is
        # always CORRECT (just slower near the crossover), while an
        # exact live count would need a scan that costs what the
        # fallback decision is trying to save.  compact() restores the
        # bound to exact (it drops superseded generations and purges
        # tombstones).
        base_rows = src.physical_rows(version=ver)
        if base_rows:
            # Materialize once: the count below and (on the index
            # path) the lookup probe both reuse it instead of
            # re-reading the index buckets.  persist (not
            # localCheckpoint): the lineage stays attached, so losing
            # an executor mid-query recomputes the partition instead
            # of failing the lookup.
            entries = entries.persist(StorageLevel.MEMORY_AND_DISK)
            if entries.count() > scan_fallback_fraction * base_rows:
                return src.read(version=ver).join(
                    F.broadcast(vdf), on=value_column, how="leftsemi"
                )
    rows = src.lookup(entries, version=ver)
    return rows.join(F.broadcast(vdf), on=value_column, how="leftsemi")


# base commits that change file layout or table metadata but not one
# logical row — the index stays exact across them, so serving may (and
# for performance should) use the newest such version's layout
_MAINTENANCE_OPS = (
    "compact",
    "rebucket",
    "set-key-blooms",
    "add-check",
    "drop-check",
)


def _serve_version(src: LakeTable, watermark: int) -> int:
    """Highest base version whose logical state equals the watermark's:
    slide forward across maintenance-only commits (compaction,
    rebucketing, metadata toggles) so that compacting the base doesn't
    pin index-served lookups to the old uncompacted file layout.
    Stops at the first data-changing commit — those the index hasn't
    applied yet.  Metadata-only walk (one snapshot JSON per version
    past the watermark, usually zero)."""
    ver = int(watermark)
    for v in src.versions():
        if v <= ver:
            continue
        op = str(src.snapshot(v).summary.get("operation", ""))
        if any(op.startswith(m) for m in _MAINTENANCE_OPS):
            ver = v
        else:
            break
    return ver


def _values_frame(
    idx: LakeTable, value_column: str, values: Any
) -> DataFrame:
    if isinstance(values, DataFrame):
        if value_column not in values.columns:
            raise ValueError(f"values frame lacks {value_column!r}")
        return values.select(value_column).distinct()
    snap = idx.snapshot()
    cur = idx._schema_version(snap, snap.current_schema)
    vtype = next(
        f["type"] for f in cur.fields if f["name"] == value_column
    )
    return (
        idx.spark.createDataFrame(
            [(v,) for v in values], f"{value_column} {vtype}"
        ).distinct()
    )
