"""Streaming changes-feed source: tail a LakeTable as a stream.

``LakeTable.read_changes(from_v, to_v)`` gives the *batch* incremental
read (Iceberg changelog-scan shape).  This module makes the table a
first-class Structured Streaming source so downstream consumers — a
maintained rollup, a secondary index, a replica — tail it with Spark's
own offset checkpointing instead of hand-rolled version bookkeeping.

Design (the 100-TB shape)
-------------------------
The stream carries **epoch descriptors**, not change rows: one
metadata-sized row ``(from_version, to_version)`` per micro-batch,
produced by a PySpark 4 Python DataSource
(:class:`SimpleDataSourceStreamReader` — explicitly intended for
driver-side, metadata-rate sources).  The offset IS the table version,
checkpointed by Spark exactly like a Kafka offset.  Each micro-batch
hands its interval to the consumer, which derives the feed through the
existing distributed ``read_changes`` plan — winner reconcile,
carryover elimination, bucket-pruned pre-images all stay in the
DataFrame engine, scanning O(changes) data files, never O(table).

Pushing the change *rows* through the source instead would force the
reconcile semi-join into per-partition Python readers (impossible:
it is a cross-partition join) or a driver-side collect (the
anti-pattern).  Control-plane stream + data-plane DataFrame is the
standard connector recast of that constraint.

Maintained surfaces
-------------------
The seven derived stores kept current from a table's feed share one
protocol, :class:`Surface`; :func:`stream_maintain` drives any of them
from the descriptor stream and :func:`maintainer_lag` reports how far
behind one is.

Exactly-once: offsets live in the Spark checkpoint; on restart the
last in-flight batch replays via ``readBetweenOffsets`` with the same
``(from_version, to_version)``, and every surface's advance is a no-op
for a target at or below its watermark — so a replayed or stale
interval reconverges to the identical state.

Retention contract (same as Delta CDF / Iceberg incremental reads):
``expire_snapshots`` must keep each surface's watermark snapshot —
the advance reads the feed from there, and a watermark whose snapshot
was expired fails loudly at ``read_changes`` time rather than
silently rescanning.  :func:`maintainer_lag` reports that bound.

Reference analogue: the reference re-renders the whole deal report
per run (realdeal/luigi/email_deals.py); a standing "what changed
since my last run" subscription is the Spark-first recast.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, Iterator, NamedTuple, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

_FORMAT_NAME = "lake_changes"
_log = logging.getLogger(__name__)

# descriptor schema: one row per micro-batch, metadata-sized
_SCHEMA_DDL = "from_version bigint, to_version bigint"


def _list_versions(table_root: str) -> list[int]:
    """Committed snapshot versions present on disk, ascending.  Pure
    filesystem metadata — callable from the driver-side reader where
    no SparkSession exists."""
    import os

    meta = os.path.join(table_root, "_meta")
    try:
        names = os.listdir(meta)
    except FileNotFoundError:
        raise FileNotFoundError(f"not a lake table: {table_root}") from None
    return sorted(
        int(n[1:-5])
        for n in names
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )


class LakeChangesStreamReader(SimpleDataSourceStreamReader):
    """Driver-side version tailer.  Offsets are ``{"version": N}``."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("lake_changes requires .option('path', <table root>)")
        self.path = path
        start = str(options.get("startingversion", "latest")).lower()
        self.starting = start
        mvt = options.get("maxversionspertrigger")
        self.max_versions = int(mvt) if mvt is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")

    def initialOffset(self) -> dict:
        vs = _list_versions(self.path)
        if not vs:
            raise FileNotFoundError(f"lake table has no snapshots: {self.path}")
        if self.starting == "latest":
            v = vs[-1]
        elif self.starting == "earliest":
            # baseline-EXCLUSIVE: the offset starts AT the oldest
            # retained snapshot and the stream delivers changes strictly
            # after it (unlike Delta CDF's inclusive startingVersion).
            # After expire_snapshots that snapshot holds accumulated
            # state the feed never shows, so no consumer bootstraps by
            # replaying from "earliest": a maintained surface
            # bootstraps through its advance (a snapshot read) and
            # tails from its watermark — see stream_maintain.
            v = vs[0]
        else:
            v = int(self.starting)
            if v not in vs:
                raise ValueError(
                    f"startingVersion {v} is not a live snapshot of "
                    f"{self.path} (present: {vs[0]}..{vs[-1]})"
                )
        return {"version": v}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        from_v = int(start["version"])
        vs = _list_versions(self.path)
        cur = vs[-1] if vs else from_v
        if cur <= from_v:
            return iter([]), start  # no progress — empty batch
        to_v = cur
        if self.max_versions is not None:
            # admission control: a numeric cap bounds epochs-per-
            # trigger (ST4's per-trigger budget, applied to the
            # change-feed side).  Clamp to a version that EXISTS:
            # expire_snapshots can leave gaps (a tagged old snapshot
            # pinned while intermediates were dropped), and a
            # descriptor ending on a dropped version would fail
            # read_changes on every replay — a permanently wedged
            # stream.  Take the largest retained version inside the
            # budget, else the smallest retained one past it (jump
            # the gap; the interval still ends on real metadata).
            cap = from_v + self.max_versions
            inside = [v for v in vs if from_v < v <= cap]
            to_v = max(inside) if inside else min(
                v for v in vs if v > from_v
            )
            if to_v > cap:
                _log.warning(
                    "lake_changes %s: batch v%d -> v%d exceeds "
                    "maxVersionsPerTrigger=%d (the versions inside it "
                    "were expired)", self.path, from_v, to_v, self.max_versions,
                )
        return iter([(from_v, to_v)]), {"version": to_v}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        from_v, to_v = int(start["version"]), int(end["version"])
        if to_v <= from_v:
            return iter([])
        return iter([(from_v, to_v)])

    def commit(self, end: dict) -> None:
        pass


class LakeChangesDataSource(DataSource):
    """``spark.readStream.format("lake_changes")`` — version-advance
    descriptors of a LakeTable as a streaming source.

    Options: ``path`` (table root, required); ``startingVersion``
    (``latest`` default | ``earliest`` | int); ``maxVersionsPerTrigger``
    (int — cap snapshots consumed per micro-batch)."""

    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> str:
        return _SCHEMA_DDL

    def simpleStreamReader(self, schema: StructType) -> LakeChangesStreamReader:
        return LakeChangesStreamReader(self.options)


def register_lake_changes(spark: SparkSession) -> None:
    """Register the data source (idempotent per session).

    The DataSource class is pickled to a separate Python worker
    process whose ``sys.path`` is NOT the driver script's — a user
    whose job found ``realdeal_spark`` via a path tweak (or an
    unshipped checkout) would hit ``ModuleNotFoundError`` at
    ``load()`` time.  The reader is deliberately self-contained
    (os/json only), so serialize this module BY VALUE instead of by
    reference; ``spark-submit --py-files`` deployments work either
    way."""
    if getattr(spark, "_lake_changes_registered", False):
        return
    try:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # older cloudpickle: --py-files / PYTHONPATH deployments still work
    spark.dataSource.register(LakeChangesDataSource)
    spark._lake_changes_registered = True


def stream_changes(
    spark: SparkSession,
    table_root: str,
    starting_version: str | int = "latest",
    max_versions_per_trigger: int | None = None,
) -> DataFrame:
    """The descriptor stream as a DataFrame (schema
    ``from_version bigint, to_version bigint``)."""
    register_lake_changes(spark)
    r = (
        spark.readStream.format(_FORMAT_NAME)
        .option("path", table_root)
        .option("startingVersion", str(starting_version))
    )
    if max_versions_per_trigger is not None:
        r = r.option("maxVersionsPerTrigger", str(max_versions_per_trigger))
    return r.load()




def foreach_changes(
    table,
    handler: Callable[[int, int], None],
    checkpoint_dir: str,
    starting_version: str | int = "latest",
    max_versions_per_trigger: int | None = None,
    trigger: dict | None = None,
):
    """Run ``handler(from_version, to_version)`` for every interval the
    table advances — the standing CDF consumer.

    The handler derives what it needs from the interval (typically
    through ``read_changes``) and MUST be idempotent per interval: a
    replayed batch after restart re-presents the same versions.
    Returns the StreamingQuery; ``trigger`` kwargs pass through (e.g.
    ``{"availableNow": True}`` to drain and stop)."""
    desc = stream_changes(
        table.spark, table.root, starting_version, max_versions_per_trigger
    )

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        # descriptor rows: at most one per source per batch — metadata
        for row in batch_df.collect():
            handler(int(row["from_version"]), int(row["to_version"]))

    w = desc.writeStream.foreachBatch(_each).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        w = w.trigger(**trigger)
    return w.start()


class Surface(NamedTuple):
    """A maintained surface: a derived store kept current from one
    LakeTable's changes feed.  Any object with these three members
    works with :func:`stream_maintain` / :func:`maintainer_lag`;
    every surface gets one from its module's ``*_surface`` factory.

    - ``source`` — the LakeTable the surface tails;
    - ``watermark()`` — the highest source version the surface
      reflects, None before its first advance;
    - ``advance(to_version=None)`` — catch up from the watermark to
      ``to_version`` (default: the source's current version).  With no
      watermark it bootstraps from the source SNAPSHOT at the target,
      never from a feed replay; for any target at or below the
      watermark it does nothing."""

    source: Any
    watermark: Callable[[], int | None]
    advance: Callable[..., Any]


def stream_maintain(
    surface,
    checkpoint_dir: str,
    max_versions_per_trigger: int | None = None,
    trigger: dict | None = None,
):
    """Keep ``surface`` continuously current: one O(changes) advance
    per source commit.  Returns the StreamingQuery.

    Bootstraps (or catches up) synchronously first, so a surface
    created after ``expire_snapshots`` still holds every live row and
    edits made while no maintainer ran are applied before the tail
    starts; then tails the source from the surface's watermark.
    Exactly-once composes from Spark's offset checkpoint plus the
    surface's no-op-at-or-below-watermark advance: a restart off a
    checkpoint older than the watermark replays harmlessly."""
    v = surface.source.current_version()
    surface.advance(to_version=v)
    wm = surface.watermark()
    return foreach_changes(
        surface.source,
        lambda fv, tv: surface.advance(to_version=tv),
        checkpoint_dir,
        # an empty source bootstraps to nothing and sets no watermark;
        # the surface still equals the source at v
        starting_version=v if wm is None else wm,
        max_versions_per_trigger=max_versions_per_trigger,
        trigger=trigger,
    )


def maintainer_lag(surface) -> dict:
    """How far behind its source is the surface?  ``versions_behind``
    is the metric a monitor alerts on; ``watermark`` is the retention
    bound — ``expire_snapshots`` on the source must keep that snapshot
    or the surface cannot resume incrementally."""
    cur = surface.source.current_version()
    wm = surface.watermark()
    return {
        "source_version": cur,
        "watermark": wm,
        "versions_behind": None if wm is None else cur - wm,
    }
