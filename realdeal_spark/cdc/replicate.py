"""Table-to-table CDC replication: keep a replica LakeTable in sync
with a source table through the incremental changes feed.

This is the engine emitting CDC *and* consuming it end-to-end — the
downstream-replica use case `read_changes` exists for.  A replica is
how a 100-TB deployment serves divergent workloads off one ingest:
re-bucketed for a different join key, region-local, or schema-trimmed.
Replication cost per interval is O(changes), never O(table):

- the feed nets each changed key to one row (intermediate churn
  inside the interval is conflated away at the source);
- the replica MERGE rewrites only the buckets those keys hash to;
- exactly-once composes from the replica's own applied-epoch guard —
  the interval id IS the epoch id, so a replayed interval (streaming
  restart, crashed driver) is a metadata no-op.

Out-of-order protection carries over for free: the feed's rows carry
the SOURCE's order-column values, so the replica's MERGE rejects any
stale overlap exactly like the source would — replicas converge to
the source state no matter how the version range is chopped into
intervals (tested).

Schema evolution propagates: when the source gained columns (or
widened types), the feed emits current-schema rows and
``auto_evolve`` reconciles the replica's schema (metadata-only
commits) before the MERGE.

Reference analogue: none — the reference writes one Fusion Tables
store and re-renders its report from it (realdeal/luigi/
email_deals.py); fan-out to derived stores without rescanning is the
lake-format recast.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from realdeal_spark.cdc.evolve import reconcile
from realdeal_spark.lake.merge import MergeResult, merge_apply
from realdeal_spark.lake.table import LakeTable, interval_step, interval_watermark

_EPOCH_PREFIX = "cdf-replicate:"


def create_replica(
    src: LakeTable,
    root: str,
    n_buckets: int | None = None,
) -> LakeTable:
    """An empty replica of ``src``: same current schema, keys, and
    order columns; ``n_buckets`` may differ (a re-partitioned replica
    — the point of replicating instead of copying files)."""
    snap = src.snapshot()
    fields = src._schema_version(snap, snap.current_schema).fields
    ddl = ", ".join(f"{f['name']} {f['type']}" for f in fields)
    return LakeTable.create(
        src.spark,
        root,
        ddl,
        key_columns=list(snap.key_columns),
        order_columns=list(snap.order_columns),
        n_buckets=n_buckets or snap.n_buckets,
        soft_delete=True,  # deletes must be representable downstream
    )


def _apply(dst, auto_evolve, mode, epoch_id, rows) -> MergeResult:
    """MERGE change rows into the replica: ``delete`` stays a delete,
    anything else upserts (the MERGE inserts unmatched keys)."""
    if auto_evolve:
        reconcile(dst, rows.drop("change_type").schema)
    op = F.when(F.col("change_type") == "delete", "delete").otherwise("update")
    ev = rows.withColumn("op", op).drop("change_type")
    return merge_apply(dst, ev, epoch_id=epoch_id, mode=mode)


def _step(src, dst, auto_evolve, mode, **span) -> MergeResult | None:
    """A bootstrap upserts every live row of the source snapshot with
    its own order tuple; an interval applies the feed's net rows."""
    apply = partial(_apply, dst, auto_evolve, mode)
    return interval_step(
        src, dst, _EPOCH_PREFIX,
        lambda eid, tv: apply(
            eid, src.read(version=tv).withColumn("change_type", F.lit("upsert"))
        ),
        lambda eid, fv, tv: apply(eid, src.read_changes(fv, tv)),
        **span,
    )


def replicate_interval(
    src: LakeTable,
    dst: LakeTable,
    from_version: int,
    to_version: int,
    auto_evolve: bool = True,
    mode: str = "cow",
) -> MergeResult | None:
    """Apply one source interval to the replica, exactly once: epoch
    id ``cdf-replicate:<from>-<to>``; an interval ending at or below
    the replica's watermark (a replay) is a metadata-only no-op,
    decided before any read."""
    return _step(
        src, dst, auto_evolve, mode,
        from_version=from_version, to_version=to_version,
    )


def replica_watermark(dst: LakeTable) -> int | None:
    """The highest source version the replica has applied, recovered
    from its own applied-epoch ids (``cdf-replicate:<from>-<to>``) —
    the replica carries its replication state in-band, the same
    checkpoint-in-the-data property the applier has.  None if this
    table never received a replicated interval."""
    return interval_watermark(dst, _EPOCH_PREFIX)


def advance_replica(
    src: LakeTable,
    dst: LakeTable,
    to_version: int | None = None,
    auto_evolve: bool = True,
    mode: str = "cow",
) -> MergeResult | None:
    """Catch the replica up from its watermark to ``to_version``
    (default: the source's current version) in one interval.  The
    first advance **bootstraps from the source snapshot**: a feed
    replay from the earliest retained snapshot would miss every row
    that predates it and never changed since."""
    return _step(src, dst, auto_evolve, mode, to_version=to_version)


def replica_surface(src: LakeTable, dst: LakeTable, **advance_kw):
    """The replica as a maintained surface (``streaming.Surface``);
    ``advance_kw`` pass through to :func:`advance_replica`."""
    from realdeal_spark.streaming.cdf_source import Surface

    return Surface(
        src,
        partial(replica_watermark, dst),
        partial(advance_replica, src, dst, **advance_kw),
    )
