"""Epoch admission: strategy resolution + winner-broadcast gating.

Two decisions, made once per epoch inside
``cdc.apply.CdcApplier.apply_batch`` whichever caller delivered the
batch (a grid epoch, a redrive, or a streaming micro-batch):

- :func:`resolve_strategy` — ``"auto"`` conflation picks the
  payload-light strategy for payload-heavy tables.  Payload-heavy
  means any non-key/order column has an *unbounded-width* type
  (binary, string, array, map, struct) — not just ``binary``: a wide
  extracted-``text`` string column (this engine's own html→text
  pipeline output) shuffles exactly like an html blob, and max_by
  would drag it through a SortAggregate (BENCH_SCALING.md
  "scale bugs" #1).  Fixed-width payloads (numerics, dates,
  timestamps, booleans) stay on max_by, whose single partial
  aggregation has the lowest per-epoch fixed cost.
- :func:`admission_stats` — one narrow aggregation over the batch
  yields BOTH the admission row count and an HLL estimate of
  distinct keys (≈ the winner-set size).  The winner list is
  broadcast only when it surely fits (estimate × 1.3 safety margin
  vs ``lake.merge.BROADCAST_KEYS_MAX``); falsely *disabling* the
  broadcast on a big epoch with few keys would reintroduce the
  payload shuffle (profiled: 80M events / 500k urls, >50 min at one
  core without the broadcast) — hence: gate on keys, not events.

The broadcast gate matters most for the largest batches: a backfill
delivered as one epoch (or one micro-batch) through auto→light
conflation would otherwise rebuild the unbounded winner broadcast
(profiled as a driver stall at 1.9M winner rows; commit "Gate winner
broadcast on distinct-key estimate").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realdeal_spark.lake.merge import OP_COL

# Spark schema simpleString prefixes whose width is unbounded (or
# unbounded-by-schema): a row carrying any of these as payload is
# treated as payload-heavy.
_WIDE_TYPE_PREFIXES = ("binary", "string", "array", "map", "struct", "variant")


def _is_wide(type_str: str) -> bool:
    return type_str.startswith(_WIDE_TYPE_PREFIXES)


def resolve_strategy(table, snap, configured: str, batch=None) -> str:
    """Resolve an ``"auto"`` conflation strategy from the table's
    *current* schema (per epoch, so schema evolution — e.g. adding an
    html or text column — flips it correctly).

    ``light`` iff any non-key/order column is unbounded-width; else
    ``max_by``.  A CDC source guarantees light's preconditions
    (unique, non-null order tuple per key — the binlog lsn).

    ``batch`` (optional DataFrame): also consider the INCOMING
    batch's schema — the epoch that auto-evolves a wide column in
    would otherwise resolve against the still-narrow pre-epoch table
    and shuffle the new payload through max_by's SortAggregate, and
    the evolving epoch (a backfill) is typically the largest.  Only
    the columns the batch would evolve in count: the ``op`` envelope
    is not payload, and a column the table already has is judged by
    the table's type.  The batch schema is driver-side metadata — no
    job runs.
    """
    if configured != "auto":
        return configured
    keyed = set(snap.key_columns) | set(snap.order_columns)
    schema = table.schema(snap)
    payload = [f for f in schema.fields if f.name not in keyed]
    if batch is not None:
        known = keyed | set(schema.fieldNames()) | {OP_COL}
        payload += [f for f in batch.schema.fields if f.name not in known]
    heavy = any(_is_wide(f.dataType.simpleString()) for f in payload)
    return "light" if heavy else "max_by"


def admission_stats(
    batch: DataFrame, key_columns: list[str]
) -> tuple[int, int, bool]:
    """One narrow pass over the batch → ``(events_in, est_distinct_keys,
    broadcast_winners)``.

    The scan reads only the key columns (column pruning), the
    aggregation is a single HashAggregate with partial combine, and
    the result is two longs — this is the cheapest admission check
    that can gate the winner broadcast correctly.
    """
    # late import + attribute read so tests can monkeypatch the cap
    from realdeal_spark.lake import merge as _merge

    stats = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.xxhash64(*key_columns), rsd=0.05).alias("d"),
    ).first()
    n_in = int(stats["n"])
    est_keys = int(stats["d"])
    # 1.3 = HLL rsd guard band: never broadcast a set that might
    # exceed the cap, never shuffle one that surely fits.
    return n_in, est_keys, est_keys * 1.3 <= _merge.BROADCAST_KEYS_MAX
