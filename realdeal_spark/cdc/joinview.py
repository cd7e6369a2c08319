"""Incrementally-maintained join view: a LEFT equi-join enrichment
MV (fact ⋈ dim on a foreign key) kept in sync with BOTH tables
through their changes feeds — the delta-join that turns "re-run the
join nightly" into O(changes) per epoch.

A 100-TB CDC deployment rarely serves the raw fact table: consumers
want it enriched (page joined to its domain record, order to its
customer).  Recomputing the join after every epoch is O(fact ⋈ dim);
this module maintains the joined result as its own LakeTable and
advances it from the two feeds:

- **fact-side delta** (the hot path): the fact feed's net rows are
  enriched against the dim's CURRENT snapshot and MERGEd into the
  view.  The dim read is a point ``lookup`` on the batch's fk values
  — bucket- and Bloom-pruned, O(changes) not O(dim).
- **dim-side delta** (the path nightly-join pipelines cannot do
  incrementally): when dim rows change, every view row referencing a
  changed dim key is re-enriched.  Because the view is a LEFT join it
  holds one row per live fact row, so the affected rows come from the
  VIEW itself — no fact rescan, ever.  The read is restricted to
  fk ∈ changed-keys; with a value index on the view's fk column
  (lake/valueindex.py as the join *arrangement*, the differential-
  dataflow trick) it prunes to the probed values' buckets instead of
  scanning the view.
- a dim DELETE null-enriches its referrers (left-join semantics); a
  later re-insert re-enriches them.  INNER-join consumers filter
  ``dim_col IS NOT NULL`` — exact for a keyed dim, and it keeps the
  maintained state self-contained (an inner MV would need a fact
  rescan on late-arriving dim inserts).

Ordering: the view carries its own order columns ``(_jv_f, _jv_d)``
— the (fact, dim) version pair the batch reflects, strictly
increasing per advance.  Dim-side refreshes re-emit a fact row with
an unchanged fact order tuple but a higher stamp, so they win the
MERGE in both CoW and MoR modes (MoR's equal-order "unchanged"
shortcut never mis-fires), and (key, order) stays unique across
file generations as the MoR reconcile requires.  Out-of-order fact
events never reach the view: the feed is the net change between
snapshots, already conflated by the fact table's own order columns.

Exactly-once: each advance commits under epoch id
``jv:<fF>-<tF>:<fD>-<tD>``; a replayed interval is a metadata no-op
and the watermarks are recovered from the applied-epoch ids in-band
(the checkpoint-in-the-data property the applier and replicas have).

Reference analogue: none — the reference joins scraped records to
their metadata by re-reading the whole store per report run
(realdeal/luigi/email_deals.py); the maintained delta-join is the
lake recast.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, types as T
from pyspark.sql import functions as F

from realdeal_spark.cdc.evolve import reconcile
from realdeal_spark.lake.merge import MergeResult, merge_apply
from realdeal_spark.lake.table import LakeTable

_F_COL = "_jv_f"
_D_COL = "_jv_d"
_EPOCH_PREFIX = "jv:"


def _fk_pairs(on) -> list[tuple[str, str]]:
    """Normalize ``on`` to [(fact_col, dim_key_col), ...]."""
    if isinstance(on, dict):
        return [(f, d) for f, d in on.items()]
    pairs = []
    for item in on:
        if isinstance(item, str):
            pairs.append((item, item))
        else:
            f, d = item
            pairs.append((f, d))
    return pairs


def _dim_payload(dim: LakeTable, on, dim_cols: Sequence[str] | None) -> list[str]:
    snap = dim.snapshot()
    dim_keys = {d for _, d in _fk_pairs(on)}
    if dim_keys != set(snap.key_columns):
        raise ValueError(
            "join must cover the dim's full key (keyed-dim semantics "
            "— anything less fans the enrichment out): need "
            f"{sorted(snap.key_columns)}, got {sorted(dim_keys)}"
        )
    if dim_cols is None:
        skip = dim_keys | set(snap.order_columns)
        dim_cols = [c for c in dim.schema().names if c not in skip]
    return list(dim_cols)


def create_join_view(
    fact: LakeTable,
    dim: LakeTable,
    on,
    root: str,
    dim_cols: Sequence[str] | None = None,
    n_buckets: int | None = None,
    key_blooms: bool = False,
) -> LakeTable:
    """An empty join view of ``fact LEFT JOIN dim``: fact's current
    schema plus the dim payload columns, keyed by the fact's keys,
    ordered by the advance stamps.  ``on`` maps fact fk column(s) to
    the dim's key column(s) (str / (fact, dim) pairs / dict)."""
    dim_cols = _dim_payload(dim, on, dim_cols)
    fsnap = fact.snapshot()
    clash = set(dim_cols) & set(fact.schema().names)
    if clash:
        raise ValueError(
            f"dim payload columns collide with fact columns: {sorted(clash)}"
            " — pass dim_cols with renames applied upstream"
        )
    dim_types = {f.name: f.dataType for f in dim.schema().fields}
    fields = list(fact.schema().fields)
    fields += [T.StructField(c, dim_types[c], True) for c in dim_cols]
    fields += [
        T.StructField(_F_COL, T.LongType(), True),
        T.StructField(_D_COL, T.LongType(), True),
    ]
    return LakeTable.create(
        fact.spark,
        root,
        T.StructType(fields),
        key_columns=list(fsnap.key_columns),
        order_columns=[_F_COL, _D_COL],
        n_buckets=n_buckets or fsnap.n_buckets,
        soft_delete=True,
        key_blooms=key_blooms,
    )


def join_view_watermark(view: LakeTable) -> tuple[int, int] | None:
    """(fact_version, dim_version) the view reflects, recovered from
    its applied-epoch ids; None if never bootstrapped."""
    best: tuple[int, int] | None = None
    for eid in view.snapshot().applied_epochs:
        if not eid.startswith(_EPOCH_PREFIX):
            continue
        fpart, dpart = eid[len(_EPOCH_PREFIX):].split(":")
        tf = int(fpart.split("-")[1])
        td = int(dpart.split("-")[1])
        if best is None or (tf, td) > best:
            best = (tf, td)
    return best


def _enrich(
    rows: DataFrame, dim_rows: DataFrame, pairs: list[tuple[str, str]],
    dim_cols: list[str],
) -> DataFrame:
    """LEFT-join ``rows`` (fact shape) with ``dim_rows`` (dim key +
    payload), matching fk names to dim key names; dim keys dropped."""
    d = dim_rows
    for fcol, dcol in pairs:
        if dcol != fcol:
            d = d.withColumnRenamed(dcol, fcol)
    return rows.join(d, on=[f for f, _ in pairs], how="left")


def advance_join_view(
    fact: LakeTable,
    dim: LakeTable,
    view: LakeTable,
    on,
    dim_cols: Sequence[str] | None = None,
    to_version: int | None = None,
    mode: str = "cow",
    fk_index: LakeTable | None = None,
    fk_scan_fallback_fraction: float | None = 0.01,
    fk_index_mode: str = "mor",
    auto_evolve: bool = True,
) -> MergeResult | None:
    """Advance the view to fact version ``to_version`` (default: the
    fact's current version) and the dim's current version, using only
    the two changes feeds.

    Equivalence contract (tested + oracle-checked): after any
    sequence of advances, ``view == fact.read() LEFT JOIN
    dim.read()`` on the join columns, whatever interleaving of fact
    and dim epochs produced it.

    ``fk_index``: optional value index (lake/valueindex.py) on the
    VIEW's (single-column) fk — the join arrangement.  When passed it
    is advanced to the view's current version and the dim-side
    affected-row read serves through ``lookup_by_value`` (probed
    value buckets → Bloom-pruned key lookup, with the cost-based
    scan fallback — ``fk_scan_fallback_fraction`` — when the changed
    dim keys touch too much of the view).  The arrangement pays in
    the TRICKLE regime (a few changed dim keys against a huge view)
    and only when the view was created with ``key_blooms=True`` — a
    bloom-less key lookup touches every bucket a key hashes to and
    is never cheaper than the plain semi-scan (measured,
    BENCH_JOINVIEW.md).  Without it the dim-side read is a
    fk-semi-joined view scan — correct, O(view) input per dim epoch;
    fine for rare dim changes at bench scale, the indexed+bloomed
    path is the 100-TB trickle answer.
    """
    pairs = _fk_pairs(on)
    if fk_index is not None and len(pairs) > 1:
        raise ValueError(
            "fk_index is a single-column value index; it cannot serve "
            f"a {len(pairs)}-column join"
        )
    dim_cols = _dim_payload(dim, on, dim_cols)
    fk_cols = [f for f, _ in pairs]
    dkey_cols = [d for _, d in pairs]
    vf2 = fact.current_version() if to_version is None else int(to_version)
    vd2 = dim.current_version()
    wm = join_view_watermark(view)

    if wm is None:
        # bootstrap: the one O(fact ⋈ dim) pass
        eid = f"{_EPOCH_PREFIX}0-{vf2}:0-{vd2}"
        dimj = dim.read(version=vd2).select(*dkey_cols, *dim_cols)
        src = _enrich(fact.read(version=vf2), dimj, pairs, dim_cols)
        batch = src.withColumn("op", F.lit("update"))
    else:
        vf1, vd1 = wm
        # a replayed interval (streaming restart) may target versions
        # at or behind the watermark — clamp each side: the portion
        # already applied is exactly-once-skipped, any genuinely new
        # portion still lands
        vf2, vd2 = max(vf2, vf1), max(vd2, vd1)
        if (vf2, vd2) == (vf1, vd1):
            return None
        eid = f"{_EPOCH_PREFIX}{vf1}-{vf2}:{vd1}-{vd2}"
        if eid in view.snapshot().applied_epochs:
            return None
        parts: list[DataFrame] = []
        dim_types = {f.name: f.dataType for f in dim.schema().fields}
        ch_f = None
        if vf2 > vf1:
            # fact side: net rows enriched against dim@vd2.  The feed
            # is referenced by the enrichment join AND (below) the
            # dim-side exclusion — materialize it once, O(changes).
            ch_f = fact.read_changes(vf1, vf2).localCheckpoint(eager=True)
            ups = ch_f.where(F.col("change_type") == "upsert").drop(
                "change_type"
            )
            # dim read pruned to the batch's fk values: a distributed
            # point lookup (bucket + Bloom), never an O(dim) scan
            # a null fk component can never equi-match a dim key —
            # probe only complete keys (null-fk rows enrich to null)
            complete = F.lit(True)
            for d in dkey_cols:
                complete = complete & F.col(d).isNotNull()
            probe = (
                ups.select(*[F.col(f).alias(d) for f, d in pairs])
                .where(complete)
                .distinct()
            )
            dim_rows = dim.lookup(probe, version=vd2).select(
                *dkey_cols, *dim_cols
            )
            parts.append(
                _enrich(ups, dim_rows, pairs, dim_cols).withColumn(
                    "op", F.lit("update")
                )
            )
            dels = ch_f.where(F.col("change_type") == "delete").drop(
                "change_type"
            )
            parts.append(
                dels.select(
                    "*",
                    *[
                        F.lit(None).cast(dim_types[c]).alias(c)
                        for c in dim_cols
                    ],
                ).withColumn("op", F.lit("delete"))
            )
        if vd2 > vd1:
            # dim side: re-enrich every view row whose fk hit a
            # changed dim key.  The view (LEFT join) holds one row per
            # live fact row, so the affected rows come from the view
            # itself — no fact read.  Changed-key set is O(dim
            # changes); materialized once (semi probe + payload join).
            ch_d = (
                dim.read_changes(vd1, vd2)
                .select(*dkey_cols, *dim_cols, "change_type")
                .localCheckpoint(eager=True)
            )
            kvals = ch_d.select(
                *[F.col(d).alias(f) for f, d in pairs]
            ).distinct()
            vpin = view.current_version()
            if fk_index is not None:
                from realdeal_spark.lake.valueindex import (
                    advance_value_index,
                    lookup_by_value,
                )

                # MoR by default: a CoW index advance rewrites every
                # index bucket the changed fks hash into — once the
                # epoch touches more fks than the index has buckets
                # that is an O(index) rewrite per epoch; MoR keeps it
                # O(changes) (compact() amortizes the deltas)
                advance_value_index(
                    view, fk_index, fk_cols[0], mode=fk_index_mode
                )
                affected = lookup_by_value(
                    view, fk_index, fk_cols[0], kvals, version=vpin,
                    scan_fallback_fraction=fk_scan_fallback_fraction,
                )
            else:
                affected = view.read(version=vpin).join(
                    kvals, on=fk_cols, how="leftsemi"
                )
            if ch_f is not None:
                # fact-side rows already reflect dim@vd2 — drop their
                # keys here so the batch holds one row per key
                affected = affected.join(
                    ch_f.select(*view.snapshot().key_columns),
                    on=list(view.snapshot().key_columns),
                    how="left_anti",
                )
            new_dim = ch_d.where(F.col("change_type") == "upsert").drop(
                "change_type"
            )
            refreshed = _enrich(
                affected.drop(*dim_cols, _F_COL, _D_COL),
                new_dim,
                pairs,
                dim_cols,
            )
            parts.append(refreshed.withColumn("op", F.lit("update")))
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p, allowMissingColumns=True)
    batch = batch.withColumn(_F_COL, F.lit(vf2).cast("long")).withColumn(
        _D_COL, F.lit(vd2).cast("long")
    )
    if auto_evolve:
        reconcile(view, batch.drop("op").schema)
    res = merge_apply(
        view,
        batch,
        epoch_id=eid,
        mode=mode,
        extra_summary={"jv_fact_version": vf2, "jv_dim_version": vd2},
    )
    if res.snapshot is None:
        # nothing in either feed touched the view (e.g. a dim epoch
        # whose keys have no referrers) — commit a metadata-only
        # marker so the epoch id (and with it the watermark) still
        # advances; otherwise every later advance re-reads this
        # interval and the feed read stops being O(new changes)
        res = MergeResult(
            snapshot=view.commit(
                view.snapshot(),
                "merge-mor",
                summary={
                    "inserted": 0,
                    "updated": 0,
                    "deleted": 0,
                    "unchanged": 0,
                    "stale": 0,
                    "jv_fact_version": vf2,
                    "jv_dim_version": vd2,
                },
                epoch_id=eid,
            )
        )
    return res


class JoinViewMaintainer:
    """Standing consumer and maintained surface (``streaming.Surface``)
    whose source is the FACT table, the hot input: ``advance()`` after
    each committed epoch on either input advances the view (bootstrap
    on first call); dim edits ride the next advance.  State lives in the view
    table itself — watermarks in-band via epoch ids — so a restarted
    maintainer resumes with no side checkpoint.

    ``compact_every``: compact the view after every N effective
    advances — the MoR delta-stack amortizer (the same lever as
    ``CdcApplier(compact_every=…)``; BENCH_JOINVIEW.md's 64M
    trickle outlier is what an uncompacted stack costs).  Compaction
    is a maintenance commit: the changes feed skips it and the
    in-band watermarks are untouched, so it composes with
    exactly-once replay for free (tested).  Other keyword arguments
    pass through to every :func:`advance_join_view` call."""

    def __init__(
        self,
        fact: LakeTable,
        dim: LakeTable,
        view: LakeTable,
        on,
        compact_every: int | None = None,
        **advance_kw,
    ):
        self.source, self.dim, self.view, self.on = fact, dim, view, on
        self.compact_every = compact_every
        self.advance_kw = advance_kw
        self._since_compact = 0

    def watermark(self) -> int | None:
        """The fact version the view reflects."""
        wm = join_view_watermark(self.view)
        return None if wm is None else wm[0]

    def advance(self, to_version: int | None = None) -> MergeResult | None:
        res = advance_join_view(
            self.source, self.dim, self.view, self.on,
            to_version=to_version, **self.advance_kw,
        )
        if res is not None and self.compact_every:
            self._since_compact += 1
            if self._since_compact >= self.compact_every:
                self.view.compact()
                fk_index = self.advance_kw.get("fk_index")
                if fk_index is not None:
                    fk_index.compact()
                self._since_compact = 0
        return res

