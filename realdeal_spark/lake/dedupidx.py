"""CDC-maintained near-duplicate (MinHash-LSH) index.

Batch dedup (operators/dedup.py) answers "which documents in this
corpus are near-duplicates" by banding every document and self-joining
— O(corpus) per run.  At ingest time the question is different:
"is this NEWLY-ARRIVED page a near-dup of anything already in the
corpus?" — and re-banding 10^10 stored documents per crawl batch is
the wrong plan.  This module maintains the banded-LSH frame itself as
a LakeTable kept current through the base table's changes feed:

- the index row is ``(band, bh, doc_key, *order_cols)`` — the exact
  candidate-generation key of :func:`~realdeal_spark.operators.dedup.
  minhash_lsh_pairs` (same md5 shingle hash, same permutation family,
  bit-identical to the DuckDB oracle);
- the index table's key is ``(band, bh, doc_key)`` and its **bucket
  hash uses only ``bh``** (``bucket_columns``), so probing a batch of
  new documents prunes to the batch's own band-hash buckets —
  O(batch), never O(corpus);
- maintenance tails ``read_changes(include_preimage=True)``:
  an upserted document bands its NEW text, a deleted/rewritten
  document retires the OLD text's bands (the pre-image supplies it) —
  both ride the source row's order tuple, so replayed or re-chopped
  intervals reconverge exactly like the base MERGE;
- exactly-once composes from the index's own applied-epoch guard
  (``dedupidx:<from>-<to>``), in-band like every other maintained
  surface (valueindex.py, scd.py, cdc/rollup.py).

The reference dedups by key only (dedupe_properties.py); content
near-dup at ingest is the training-data-pipeline generalization.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realdeal_spark.lake.merge import (
    OP_COL,
    OP_DELETE,
    OP_UPDATE,
    MergeResult,
    merge_apply,
)
from realdeal_spark.lake.table import LakeTable, interval_step, interval_watermark
from realdeal_spark.operators.dedup import banded_minhash

_EPOCH_PREFIX = "dedupidx:"


def _base_columns(src: LakeTable) -> tuple[str, list[str], dict]:
    snap = src.snapshot()
    if len(snap.key_columns) != 1:
        raise ValueError(
            "dedup index requires a single-column document key; got "
            f"{snap.key_columns!r}"
        )
    fields = src._schema_version(snap, snap.current_schema).fields
    types = {f["name"]: f["type"] for f in fields}
    return snap.key_columns[0], list(snap.order_columns), types


def create_dedup_index(
    src: LakeTable,
    root: str,
    text_col: str = "text",
    n_buckets: int = 64,
    key_blooms: bool = True,
) -> LakeTable:
    """An empty LSH index over ``src[text_col]``.

    The index is itself a LakeTable — same commit protocol, time
    travel, compaction, metrics — keyed ``(band, bh, doc_key)``,
    ordered by the base order columns, bucket-hashed on ``bh`` alone
    so a probe prunes to the probed band hashes' buckets.

    **Sizing ``n_buckets``:** a probe of B documents carries ≈
    B×bands distinct band hashes and reads ``min(1, B×bands /
    n_buckets)`` of the index, so size buckets well past the typical
    probe batch's band count — ``n_buckets ≥ 25 × B × bands`` keeps
    the read under ~4% of the corpus (a 20-doc trickle probe at the
    default 64 read 33/64 buckets; at 2048 it reads ≤ 80).  The
    advance's bloom pruning has the same lever: its batch probes
    ``n_keys / n_buckets`` keys per bucket and prunes only while that
    density stays under ``bloomidx.BLOOM_PROBE_MAX_KEYS_PER_BUCKET``,
    and only once the touched buckets hold at least
    ``bloomidx.BLOOM_PROBE_MIN_ROWS`` entries (a smaller index is
    cheaper to scan than to probe).
    The default 64 is test-scale; a 10^10-document corpus wants
    thousands (buckets are metadata — the cost of more is small
    files, fixed by compaction).

    Requires a soft-delete base: retirement must see deletes in the
    changes feed (a hard-delete base's feed is upserts-only and the
    index would hold ghost candidates forever).
    """
    snap = src.snapshot()
    if not snap.soft_delete:
        raise ValueError(
            "dedup index requires a soft-delete base table (deletes "
            "must be representable in the changes feed)"
        )
    key, orders, types = _base_columns(src)
    if text_col not in types:
        raise ValueError(f"base table has no column {text_col!r}")
    cols = [f"band int", f"bh string", f"{key} {types[key]}"]
    cols += [f"{c} {types[c]}" for c in orders]
    return LakeTable.create(
        src.spark,
        root,
        ", ".join(cols),
        key_columns=["band", "bh", key],
        order_columns=orders,
        n_buckets=n_buckets,
        soft_delete=True,  # retired entries tombstone, then compact away
        bucket_columns=["bh"],
        # a batch's band hashes are uniform, so even a small batch
        # touches most buckets — without per-file key blooms the MoR
        # advance's classification would read every touched bucket's
        # entries (O(index) per batch, measured 18.5 s for a 5 k-doc
        # batch against a 1 M-doc corpus); with them it opens only
        # files that MAY hold a batch key, and a mostly-new-key batch
        # reads almost nothing (BENCH_DEDUPIDX.md)
        key_blooms=key_blooms,
    )


def dedup_index_watermark(idx: LakeTable) -> int | None:
    """Highest base version the index has applied, recovered from its
    own epoch ids — replication state carried in-band, so resume
    needs no side checkpoint."""
    return interval_watermark(idx, _EPOCH_PREFIX)


def _banded_with_orders(
    rows: DataFrame,
    text_col: str,
    key: str,
    orders: list[str],
    num_perm: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(band, bh, key, *orders) for each input document row.

    ``banded_minhash`` carries only (id, band, bh) through the Arrow
    pass — the order tuple joins back on the key afterwards, so the
    band computation never widens with the order columns."""
    banded = banded_minhash(
        rows, text_col=text_col, id_col=key,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
    ).withColumnRenamed("_id", key)
    return banded.join(rows.select(key, *orders), on=key)


def advance_dedup_index(
    src: LakeTable,
    idx: LakeTable,
    text_col: str = "text",
    to_version: int | None = None,
    mode: str = "cow",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> MergeResult | None:
    """Catch the index up from its watermark to ``to_version``
    (default: the base's current version) in one interval, exactly
    once.

    First advance **bootstraps from the base snapshot** — every live
    document bands once, one pruned scan, complete even under snapshot
    expiry (the feed path would miss rows predating the earliest
    retained snapshot).  Steady state is O(changes): the interval's
    net upserts band their new text; keys whose text changed or that
    were deleted retire the OLD text's bands via the pre-image side of
    the feed.  Bands whose hash did not change under an update are
    upserted, not retired (the delete side anti-joins the upsert side,
    so one batch never carries a same-key op conflict).

    The LSH parameters are part of the index's identity — advancing
    with different (num_perm, bands, shingle_n) than the index was
    built with silently corrupts it, exactly as mixing permutation
    families would in any LSH store; keep them pinned at the call
    site (:func:`dedup_index_surface` does)."""
    key, orders, _ = _base_columns(src)

    def bootstrap(epoch_id: str, tv: int) -> MergeResult:
        live = src.read(version=tv).where(F.col(text_col).isNotNull())
        events = _banded_with_orders(
            live, text_col, key, orders, num_perm, bands, shingle_n
        ).withColumn(OP_COL, F.lit(OP_UPDATE))
        return merge_apply(idx, events, epoch_id=epoch_id, mode=mode)

    def interval(epoch_id: str, fv: int, tv: int) -> MergeResult:
        ch = src.read_changes(fv, tv, include_preimage=True)
        cur = ch.where(F.col("change_type") != "update_preimage")
        pre = ch.where(F.col("change_type") == "update_preimage").select(
            F.col(key).alias(key), F.col(text_col).alias("_old_text")
        )
        # Materialize the O(batch) feed projection ONCE: the banding pass
        # and the order-tuple join each consume it on both the upsert and
        # retirement sides — without this the changes-feed plan (delta
        # read + carryover reconcile) re-executed four times per advance,
        # and the feed, not the banding, dominated the advance wall clock.
        j = (
            cur.join(pre, on=key, how="left")
            .select(key, text_col, "_old_text", "change_type", *orders)
            .localCheckpoint(eager=True)
        )
        ups_rows = j.where(
            (F.col("change_type") == "upsert") & F.col(text_col).isNotNull()
        ).select(key, text_col, *orders)
        ret_rows = j.where(
            F.col("_old_text").isNotNull()
            & (
                (F.col("change_type") == "delete")
                | ~F.col(text_col).eqNullSafe(F.col("_old_text"))
            )
        ).select(key, F.col("_old_text").alias(text_col), *orders)
        # ups feeds two plan subtrees (the events union AND the right
        # side of the retirement anti-join below); Spark does not CSE
        # across them, so without a checkpoint the Arrow banding pass over
        # the new text — the most expensive per-row work here — runs twice
        ups = _banded_with_orders(
            ups_rows, text_col, key, orders, num_perm, bands, shingle_n
        ).localCheckpoint(eager=True)
        dels = _banded_with_orders(
            ret_rows, text_col, key, orders, num_perm, bands, shingle_n
        )
        # a band whose sub-signature survived the rewrite appears on both
        # sides with the same key AND the same order tuple — keep the
        # upsert, drop the retirement (same-batch op conflicts are
        # rejected by the MoR merge, and rightly so)
        dels = dels.join(ups, on=["band", "bh", key], how="left_anti")
        events = (
            ups.withColumn(OP_COL, F.lit(OP_UPDATE))
            .unionByName(dels.withColumn(OP_COL, F.lit(OP_DELETE)))
        )
        return merge_apply(idx, events, epoch_id=epoch_id, mode=mode)

    return interval_step(
        src, idx, _EPOCH_PREFIX, bootstrap, interval, to_version=to_version
    )


def dedup_index_surface(src: LakeTable, idx: LakeTable, **advance_kw):
    """The index as a maintained surface (``streaming.Surface``) with
    its LSH parameters pinned: ``advance_kw`` pass through to every
    :func:`advance_dedup_index` call."""
    from realdeal_spark.streaming.cdf_source import Surface

    return Surface(
        src,
        partial(dedup_index_watermark, idx),
        partial(advance_dedup_index, src, idx, **advance_kw),
    )


def neardup_probe(
    idx: LakeTable,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    version: int | None = None,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicates of ``docs`` among the INDEXED corpus:
    ``(probe_id, match_id)`` distinct, self-matches (same key value)
    excluded.

    Plan shape at 10^10 indexed documents: the probe batch bands to
    ``bands`` rows per doc (Arrow pass over the batch only), its
    distinct band hashes map to ≤ batch-size index buckets driver-side
    (metadata, one collect of bucket ids), and the candidate join
    reads ONLY those buckets — cost tracks the probe batch, never the
    corpus.  LSH parameters must match the ones the index was
    advanced with."""
    snap = idx.snapshot(version)
    key = snap.key_columns[-1]
    # null-text docs never enter the index (advance filters them);
    # banding them here would normalize to the empty string and
    # collide with every indexed empty document — spurious candidates
    probe = banded_minhash(
        docs.where(F.col(text_col).isNotNull()),
        text_col=text_col, id_col=id_col,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
    ).localCheckpoint(eager=True)
    # bucket ids via the table's own bucket_expr (bit-identical to the
    # write-side assignment by construction), resolved against the
    # SAME pinned snapshot the read below uses — resolving twice let a
    # concurrent rebucket change n_buckets between the two and read
    # the wrong buckets
    buckets = sorted(
        r["_b"]
        for r in probe.select(
            idx.bucket_expr(snap).cast("int").alias("_b")
        )
        .distinct()
        .collect()
    )
    entries = idx.read(snapshot=snap, buckets=buckets).select(
        "band", "bh", F.col(key).alias("_match")
    )
    return (
        probe.join(entries, on=["band", "bh"])
        .where(F.col("_id") != F.col("_match"))
        .select(
            F.col("_id").alias("probe_id"),
            F.col("_match").alias("match_id"),
        )
        .distinct()
    )
