"""Per-key conflation: reduce a change batch to one winner per key.

The winner is the row with the maximum order tuple (``warc_ts, lsn``
in the engine's tables) — the reference's keep-first-per-key ordered
dedup (dedupe_properties.py:11-27 scans ORDER BY created DESC and
keeps the first rowid per key) plus its intra-batch key-set dedup
(find_new_properties.py:49), expressed set-based.

Three strategies, identical results (tested against each other):

- ``light`` (the engine default — see :func:`conflate`): winner-find
  on a (key, order) projection + semi join + an exact-replay
  ``dropDuplicates(key, order)``.  The winner-find never shuffles the
  payload; the collapse's exchange carries the winners' full rows, so
  the payload crosses one exchange sized by the winners, not the
  batch.  The scale-correct choice for wide/binary rows (html).

- ``max_by``: ``groupBy(key).agg(max_by(struct(*), order))``.
  Plans as **SortAggregate** (struct-typed agg buffers are not
  hash-aggregatable) with partial aggregation: each map task still
  reduces its local rows per key before the shuffle — skew is
  resolved map-side with no salt — but the shuffled value is the
  full-row struct and the input is sorted per task.  Fine for narrow
  rows; for KB-payload CDC rows the payload shuffle made conflation
  disk-bound and anti-scaling (profiled in BENCH_SCALING.md), which
  is why ``light`` is the default.

- ``window`` (+ optional explicit salt): the literal
  ``row_number() over (partition by key order by order desc)`` form.
  A plain window shuffles *every* row of the hot key into one
  partition; the two-phase salted variant first dedups within
  ``(key, salt)`` groups, then across salts.  Correct because the
  order tuple is total per key (lsn unique), so max-of-maxes = max.
  Kept for parity with the north_rule's named plan and as the shape
  to use when the full sorted history per key is needed (not just
  the winner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realdeal_spark.operators.relational import latest_per_key


def conflate(
    df: DataFrame,
    key_columns: list[str],
    order_columns: list[str],
    strategy: str = "max_by",
    salt_buckets: int | None = None,
    broadcast_winners: bool = True,
    bloom_expected_keys: int | None = None,
) -> DataFrame:
    """One row per key: the max-order-tuple winner.

    ``salt_buckets`` only applies to the window strategy; with the
    ``max_by`` strategy partial aggregation already bounds
    per-partition hot-key volume.

    The ``light`` strategy finds winners on a (key, order) projection
    only — for a web-page change log that's ~30 bytes/row instead of
    the ~KBs of html — and a left-semi join on (key, order) pulls the
    winner rows.  The exact-replay ``dropDuplicates`` that ends it
    plans an ``Exchange hashpartitioning(key, order)`` over the
    winners' full rows: the payload crosses that one exchange.  With
    ``broadcast_winners`` the semi join broadcasts the winner list so
    the join does not shuffle the payload side (valid while winners-per-
    epoch fit the broadcast budget — bounded by the per-trigger
    admission budget, SURVEY ST4).  Beyond the cap the appliers drop
    the broadcast AND pass ``bloom_expected_keys`` (the admission
    pass's HLL estimate): the payload side is prefiltered by a
    distributed Bloom filter over the winner tuples
    (operators.bloom) so only winners + ~1.4% false positives enter
    the semi-join shuffle instead of every event row.

    ``light`` preconditions (both guaranteed by a binlog/WAL source,
    and required — silent divergence from max_by otherwise):
    - the order tuple is **unique per key** (lsn is unique), else the
      semi join keeps every tied winner row instead of one;
    - the order columns are **non-null** (binlog ts/lsn always are):
      ``F.max`` ignores nulls and the equality semi join never
      matches null, so a key whose winning rows have a null order
      value is silently dropped where max_by would emit a winner.

    Profiling: the max_by payload shuffle made conflation
    *disk*-bound and anti-scaling — see BENCH_SCALING.md; hence
    ``light`` is the CdcApplier default.
    """
    if strategy == "light":
        # Iterated *scalar* max per order column: each level is a
        # HashAggregate + a semi join that keeps only rows achieving
        # the level's max (ties flow to the next level).  A single
        # max(struct(order...)) would express this in one aggregate but
        # plans as SortAggregate — it sorts the entire batch
        # (profiled 5.6× slower at 40M rows; see BENCH_SCALING.md).
        light = df.select(*key_columns, *order_columns)
        cand = light
        for c in order_columns[:-1]:
            m = cand.groupBy(*key_columns).agg(F.max(c).alias(c))
            if broadcast_winners:
                m = F.broadcast(m)
            cand = cand.join(m, on=key_columns + [c], how="left_semi")
        winners = cand.groupBy(*key_columns).agg(
            *[F.max(c).alias(c) for c in order_columns]
        )
        if broadcast_winners:
            winners = F.broadcast(winners)
        elif bloom_expected_keys is not None:
            # over-cap winner set: the semi join below must shuffle —
            # prefilter the payload side with a Bloom filter over the
            # winner (key, order) tuples so only winners (+ ~1.4% false
            # positives) enter that shuffle instead of every event row.
            # winners is materialized so the bloom build, the k probe
            # broadcasts, and the semi join share one execution of the
            # (narrow) winner-find plan.
            from realdeal_spark.operators.bloom import bloom_prefilter

            winners = winners.localCheckpoint(eager=True)
            df = bloom_prefilter(
                df, winners, key_columns + order_columns, bloom_expected_keys
            )
        out = df.join(
            winners, on=key_columns + order_columns, how="left_semi"
        )
        # at-least-once delivery can replay the SAME event twice in
        # one batch (identical key AND order tuple): the semi join
        # keeps both copies and the MERGE would emit duplicate key
        # rows into the table — silent corruption max_by/window are
        # structurally immune to.  Collapse exact (key, order) ties;
        # the aggregate rides the winner-set-sized output, not the
        # raw batch.
        return out.dropDuplicates(key_columns + order_columns)

    if strategy == "max_by":
        return latest_per_key(df, key_columns, order_columns)

    if strategy == "window":
        order_desc = [F.desc(c) for c in order_columns]
        if salt_buckets and salt_buckets > 1:
            # phase 1: dedup within (key, salt) — splits a hot key's
            # rows across `salt_buckets` window partitions
            salted = df.withColumn(
                "_salt",
                F.pmod(F.xxhash64(*order_columns), F.lit(salt_buckets)).cast("int"),
            )
            w1 = Window.partitionBy(*key_columns, "_salt").orderBy(*order_desc)
            phase1 = (
                salted.withColumn("_rn", F.row_number().over(w1))
                .where(F.col("_rn") == 1)
                .drop("_rn", "_salt")
            )
            # phase 2: ≤ salt_buckets rows per key remain
            w2 = Window.partitionBy(*key_columns).orderBy(*order_desc)
            return (
                phase1.withColumn("_rn", F.row_number().over(w2))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        w = Window.partitionBy(*key_columns).orderBy(*order_desc)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    raise ValueError(f"unknown strategy: {strategy}")
