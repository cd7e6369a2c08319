"""The epoch apply loop: change log → lake table, exactly-once.

The reference's whole Luigi pipeline (one epoch = scrape → find-new →
enrich → upsert, realtor_pipeline.py:27-54, idempotent via
output-target existence checks at realdeal/luigi/base_task.py:18-23)
collapses here into one function over a micro-batch:

    events(lsn range) → conflate → enrich (pandas-UDF transform)
        → merge_apply → snapshot commit carrying the epoch id

Exactly-once: the epoch id is recorded in the *same* snapshot commit
as the data (Snapshot.applied_epochs), so a re-run of an
already-committed epoch is detected and skipped — the Spark analogue
of the reference's completion-token files (shellscript.py:42-50,
target_factory.py:42-54), but atomic with the write instead of a
separate marker.

Lineage + metrics per epoch (SURVEY §7.1 M6 / north_rule): each
EpochReport records the source offset range, the snapshot id it
committed, per-action row counts, and wall-clock throughput.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from realdeal_spark.cdc.admission import admission_stats, resolve_strategy
from realdeal_spark.cdc.conflate import conflate
from realdeal_spark.lake.merge import MergeResult, merge_apply
from realdeal_spark.lake.table import LakeTable

# Epoch-boundary driver GC fires once this many events were applied
# since the last one.  Spark's ContextCleaner reclaims dead shuffle
# files, broadcasts, and checkpoint blocks only when the driver JVM
# collects — a long epoch loop on a large heap can run for hours
# without one, and the accumulation compounds: measured per-epoch wall
# grew 34s -> 124s over 8 epochs of a 160M-event replay (round-5
# scaling soak).  The boundary is the RIGHT moment: no stage is
# running and the live set is minimal, so the collection is cheap; a
# timer-based periodicGC instead fires mid-epoch against a heap full
# of live shuffle state and measurably regresses (765s -> 896s at
# local[4]).  Same lifecycle discipline a streaming query gets from
# micro-batch turnover.  A full System.gc() costs a measurable fixed
# ~0.3-0.5s on a warm multi-GB heap, so tiny epochs must not pay it:
# a 30k-row bench replay never GCs (measured 5.2s -> 4.3s); a
# 20M-row soak epoch always does, which is where the reclaim matters.
GC_MIN_ROWS = 1_000_000


@dataclass
class EpochReport:
    epoch_id: str
    lsn_start: int | None  # None for a batch without lsn bounds (a stream batch)
    lsn_end: int | None  # inclusive
    events_in: int
    conflated: int
    inserted: int
    updated: int
    deleted: int
    unchanged: int
    stale: int
    snapshot_version: int | None
    touched_buckets: list[int] = field(default_factory=list)
    rewritten_buckets: list[int] = field(default_factory=list)
    wall_ms: float = 0.0
    skipped: bool = False
    quarantined: int = 0

    @property
    def events_per_sec(self) -> float:
        return self.events_in / (self.wall_ms / 1000.0) if self.wall_ms else 0.0

    def to_json(self) -> str:
        d = asdict(self)
        d["events_per_sec"] = round(self.events_per_sec, 1)
        return json.dumps(d, sort_keys=True)


class CdcApplier:
    """Drives epochs of a change log into a LakeTable.

    ``apply_batch`` is the one epoch body, and every option below
    applies to all three of its callers: ``run``/``apply_epoch``
    (lsn-grid epochs of a batch log), ``cdc.quarantine.
    redrive_quarantine`` (repaired dead letters) and
    ``streaming.stream_apply`` (the micro-batches of a streaming
    query).

    ``transform`` is the enrichment hook run on the conflated batch
    before the MERGE (e.g. extract.html_to_text adds the ``text``
    column) — the reference's enrich stages
    (update_mortage_data/update_address_data/update_zillow_data)
    compressed into one vectorized pass.

    ``conflate_strategy`` defaults to ``"auto"``, resolved per epoch
    from the table's current schema: **light** when any payload
    column has an unbounded-width type — binary, string, array, map
    (web-page CDC html blobs, but equally the extracted ``text``
    string downstream; max_by would shuffle the full payload through
    a SortAggregate, profiled disk-bound and anti-scaling at 40M+
    rows, BENCH_SCALING.md), else
    **max_by** (narrow rows — the payload shuffle is cheap and max_by
    has the lowest fixed cost per epoch: one aggregation instead of
    light's aggregation + two semi joins).  A CDC source guarantees
    light's preconditions (unique, non-null order tuple per key — the
    binlog lsn).  Both strategies are oracle-checked to identical
    results; set the strategy explicitly to pin one.

    ``salt_buckets`` (with ``conflate_strategy="window"`` only)
    enables the two-phase salted dedup for hot-key change logs —
    see cdc.conflate.  Measured at local[8] on 6M events with one url
    carrying half of them: the salt (32 buckets) lifts the pinned
    window strategy from 101k to 169k events/s on the hot log, but
    halves it on uniform input (179k → 84k), while light and max_by
    stay at 197k–246k either way — so it is an opt-in skew remedy,
    never a default.

    ``merge_mode="mor"`` switches the MERGE to merge-on-read (write
    only changed rows as per-bucket deltas; see lake.merge) — the
    scale default once the table dwarfs the epoch.  With MoR, set
    ``compact_every=N`` to fold deltas into base files every N
    committed epochs (``compact_max_files`` is the per-bucket file
    budget that triggers a bucket's rewrite).
    """

    def __init__(
        self,
        table: LakeTable,
        lsn_col: str = "lsn",
        transform: Callable[[DataFrame], DataFrame] | None = None,
        column_merge: str = "replace",
        conflate_strategy: str = "auto",
        auto_evolve: bool = False,
        renames: dict[str, str] | None = None,
        merge_mode: str = "cow",
        compact_every: int | None = None,
        compact_max_files: int = 4,
        report_sink: Callable[[EpochReport], None] | None = None,
        salt_buckets: int | None = None,
        quarantine_dir: str | None = None,
        capture_changes: bool = False,
    ):
        self.table = table
        self.lsn_col = lsn_col
        self.quarantine_dir = quarantine_dir
        self.transform = transform
        self.column_merge = column_merge
        self.conflate_strategy = conflate_strategy
        self.salt_buckets = salt_buckets
        self.auto_evolve = auto_evolve
        self.renames = renames
        self.merge_mode = merge_mode
        # write-time CDF capture (CoW only; see lake.merge): turn on
        # for tables that feed CDF consumers — rollup maintainers,
        # replicas, secondary indexes read O(changes) instead of
        # reconstructing intervals from data files
        self.capture_changes = capture_changes
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        self._epochs_since_compact = 0
        self.report_sink = report_sink
        self.reports: list[EpochReport] = []
        # events applied since the last epoch-boundary GC (GC_MIN_ROWS)
        self._rows_since_gc = 0

    # ------------------------------------------------------------ state

    def last_applied_lsn(self) -> int:
        """Resume point: max lsn_end over committed epochs (the
        checkpoint lives *in* the table, so resume needs no side
        files — replays reconverge from any snapshot)."""
        snap = self.table.snapshot()
        hi = -1
        for eid in snap.applied_epochs:
            if eid.startswith("lsn:"):
                hi = max(hi, int(eid.split("-")[-1]))
        return hi

    @staticmethod
    def epoch_id_for(lsn_start: int, lsn_end: int) -> str:
        return f"lsn:{lsn_start}-{lsn_end}"

    # ------------------------------------------------------------ epochs

    def apply_epoch(self, events: DataFrame, lsn_start: int, lsn_end: int) -> EpochReport:
        """Apply one epoch = the events with lsn in [lsn_start, lsn_end].

        Idempotent: if the epoch id is already in the snapshot's
        applied set, returns a skipped report without touching data.
        """
        batch = events.where(
            (F.col(self.lsn_col) >= lsn_start) & (F.col(self.lsn_col) <= lsn_end)
        )
        return self.apply_batch(
            batch, self.epoch_id_for(lsn_start, lsn_end), lsn_start, lsn_end
        )

    def apply_batch(
        self,
        batch: DataFrame,
        epoch_id: str,
        lsn_start: int | None = None,
        lsn_end: int | None = None,
    ) -> EpochReport:
        """The engine's one epoch body: apply an already-sliced batch
        under an explicit epoch id — ``lsn:<a>-<b>`` from
        ``apply_epoch``, ``redrive:<digest>:<n>`` from
        ``redrive_quarantine``, ``stream:<name>:<batchId>`` from
        ``stream_apply``.  The lsn bounds are informational: when
        given they go into the commit summary, so
        ``lake.inspect.lineage_df`` serves the commit; the batch is
        applied as-is.  Idempotent: an epoch id already in the
        snapshot's applied set returns a skipped report carrying that
        snapshot's version."""
        t0 = time.monotonic()
        snap = self.table.snapshot()
        if epoch_id in snap.applied_epochs:
            return self._record(
                EpochReport(
                    epoch_id=epoch_id,
                    lsn_start=lsn_start,
                    lsn_end=lsn_end,
                    events_in=0,
                    conflated=0,
                    inserted=0,
                    updated=0,
                    deleted=0,
                    unchanged=0,
                    stale=0,
                    snapshot_version=snap.version,
                    skipped=True,
                    wall_ms=(time.monotonic() - t0) * 1000,
                )
            )

        n_quarantined = 0
        if self.quarantine_dir:
            # dead-letter route: bad rows (unknown op / null key / null
            # order) to parquet under <dir>/<epoch_id>, good rows flow
            # on.  Runs before conflation so a null-order row can never
            # silently vanish in the light path.
            from realdeal_spark.cdc.quarantine import (
                split_quarantine,
                write_quarantine,
            )

            batch, bad = split_quarantine(
                batch, snap.key_columns, snap.order_columns,
                checks=snap.checks,
            )
            n_quarantined = write_quarantine(bad, self.quarantine_dir, epoch_id)
        # events_in rides the merge job as an Observation instead of a
        # dedicated count() — at scale that saves one full scan of the
        # batch per epoch.  The light conflation references the batch
        # twice in one DAG (winner-find + semi join), which would
        # double-count an Observation — there, count on a key-column
        # projection instead (columnar scan of one column).
        strategy = resolve_strategy(
            self.table, snap, self.conflate_strategy, batch=batch
        )
        obs = None
        conflate_kwargs = {}
        if strategy == "light":
            # one narrow pass yields BOTH the admission count and an
            # HLL estimate of distinct keys (≈ the winner-set size);
            # see cdc.admission for the gate's rationale (broadcast
            # iff the winner set surely fits; gate on keys, not
            # events).
            n_in, est_keys, bcast = admission_stats(batch, snap.key_columns)
            conflate_kwargs["broadcast_winners"] = bcast
            if not bcast:
                # over-cap winner set: Bloom-prefilter the payload side
                # before the shuffled semi join (operators.bloom); the
                # HLL estimate sizes the filter
                conflate_kwargs["bloom_expected_keys"] = est_keys
        else:
            obs = Observation(f"epoch-{epoch_id}")
            batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
        if strategy == "window" and self.salt_buckets:
            # two-phase salted row_number: splits a hot key's rows
            # across salt partitions before the per-key dedup — the
            # explicit-skew knob for callers pinning the window
            # strategy (light/max_by resolve skew map-side already)
            conflate_kwargs["salt_buckets"] = self.salt_buckets
        conflated = conflate(
            batch,
            snap.key_columns,
            snap.order_columns,
            strategy=strategy,
            **conflate_kwargs,
        )
        if self.transform is not None:
            conflated = self.transform(conflated)
        if self.auto_evolve:
            from realdeal_spark.cdc.evolve import reconcile

            reconcile(self.table, conflated.schema, self.renames)
        res: MergeResult = merge_apply(
            self.table,
            conflated,
            column_merge=self.column_merge,
            epoch_id=epoch_id,
            extra_summary={
                **(
                    {"lsn_start": lsn_start, "lsn_end": lsn_end}
                    if lsn_start is not None
                    else {}
                ),
                # in-band audit completeness: the dead-letter count is
                # known pre-merge, so lineage_df can report it without
                # a side store
                "quarantined": n_quarantined,
                # events_in is known pre-merge only on the light path
                # (the admission pass counts it); the max_by/window
                # paths learn it from an Observation AFTER the commit,
                # so their snapshots omit it rather than record a
                # placeholder — lineage_df reports None there, the
                # in-run EpochReport always has the true value
                **(
                    {"events_in": n_in}
                    if strategy == "light"
                    else {}
                ),
            },
            mode=self.merge_mode,
            capture_changes=self.capture_changes,
        )
        if self.compact_every is not None and res.snapshot is not None:
            # MoR amortizer: fold delta files back into base files
            # every N epochs (the background-compaction stand-in; at
            # cluster scale this is a separate maintenance job).
            self._epochs_since_compact += 1
            if self._epochs_since_compact >= self.compact_every:
                self.table.compact(max_files_per_bucket=self.compact_max_files)
                self._epochs_since_compact = 0
        if obs is not None:
            try:
                n_in = int(obs.get["n"])
            except Exception:
                # empty batch: the observed node emitted no row at all
                # (merge short-circuited on zero touched buckets)
                n_in = 0
        n_conflated = res.inserted + res.updated + res.deleted + res.unchanged + res.stale
        return self._record(
            EpochReport(
                epoch_id=epoch_id,
                lsn_start=lsn_start,
                lsn_end=lsn_end,
                events_in=n_in,
                conflated=n_conflated,
                inserted=res.inserted,
                updated=res.updated,
                deleted=res.deleted,
                unchanged=res.unchanged,
                stale=res.stale,
                snapshot_version=res.snapshot.version if res.snapshot else None,
                touched_buckets=res.touched_buckets,
                rewritten_buckets=res.rewritten_buckets,
                wall_ms=(time.monotonic() - t0) * 1000,
                quarantined=n_quarantined,
            )
        )

    def run(
        self,
        log: DataFrame,
        epoch_size: int,
        max_epochs: int | None = None,
        from_lsn: int | None = None,
        lsn_bounds: tuple[int, int] | None = None,
    ) -> list[EpochReport]:
        """Tail the log in fixed lsn-range epochs until exhausted.

        ``epoch_size`` is the per-trigger admission budget — the
        analogue of maxOffsetsPerTrigger and of the reference's
        quota-bounded batch (limit=900, update_zillow_data.py:23).
        Epoch boundaries are deterministic functions of lsn, so a
        restart from any point re-produces identical batches and the
        exactly-once guard makes replays no-ops.
        """
        start = (self.last_applied_lsn() + 1) if from_lsn is None else from_lsn
        # align to deterministic epoch grid
        start = (start // epoch_size) * epoch_size
        if lsn_bounds is not None:
            # caller knows the log's lsn range (a binlog tail always
            # does) — bound the discovery aggregation to that slice
            # (pushed-down lsn predicate) instead of trusting the
            # range to be dense: blindly enumerating every grid cell
            # in [lo, hi] made an lsn GAP cost one conflate+merge
            # round-trip per empty cell, and under max_epochs the
            # truncation could select ONLY empty cells — which commit
            # nothing, so the applier livelocked at the gap forever.
            # One narrow one-column pass over the bounded slice finds
            # the real cells; max_epochs then always truncates to
            # cells that advance progress.
            lo, hi = lsn_bounds
            lo = max(lo, start)
            cells = sorted(
                r[0]
                for r in log.where(
                    (F.col(self.lsn_col) >= lo) & (F.col(self.lsn_col) <= hi)
                )
                .select(F.floor(F.col(self.lsn_col) / epoch_size).alias("c"))
                .distinct()
                .collect()
            )
        else:
            # one aggregation finds the non-empty grid cells — sparse
            # lsn ranges (compacted logs, retention-trimmed tails)
            # don't cost a merge round-trip per empty cell.
            cells = sorted(
                r[0]
                for r in log.where(F.col(self.lsn_col) >= start)
                .select(F.floor(F.col(self.lsn_col) / epoch_size).alias("c"))
                .distinct()
                .collect()
            )
        if max_epochs is not None:
            cells = cells[:max_epochs]
        out = []
        for c in cells:
            out.append(
                self.apply_epoch(log, int(c) * epoch_size, (int(c) + 1) * epoch_size - 1)
            )
            self._maybe_driver_gc(out[-1])
        return out

    def _maybe_driver_gc(self, report: EpochReport) -> None:
        """Trigger a driver GC at the epoch boundary (see GC_MIN_ROWS)
        so the ContextCleaner reclaims the finished epoch's
        shuffle/broadcast state before the next one starts.  Skipped
        epochs (idempotent replays) don't count — they created no
        state — and small epochs accumulate toward GC_MIN_ROWS instead
        of paying the fixed GC cost."""
        if report.skipped:
            return
        self._rows_since_gc += report.events_in
        if self._rows_since_gc >= GC_MIN_ROWS:
            self._rows_since_gc = 0
            self._fire_driver_gc()

    def _fire_driver_gc(self) -> None:
        try:
            jvm = self.table.spark.sparkContext._jvm
            jvm.System.gc()
        except Exception:
            pass  # py4j unavailable (e.g. Spark Connect): backstop
            # timer in session.py still bounds the accumulation

    def _record(self, r: EpochReport) -> EpochReport:
        self.reports.append(r)
        if self.report_sink is not None:
            self.report_sink(r)
        return r
