"""The three benchmark workloads: ``tail``, ``backfill`` and ``mixed``.

Each workload builds its inputs from the seed, loads its tables, runs a
timed phase for a fixed number of seconds, and checks every result it
produced against ``reference``.  All tables and logs live under one work
directory that the caller removes.

- ``tail``: open loop at a fixed offered rate.  Wide page rows, MoR with
  key blooms, html→text extraction.  Fixed per-epoch work dominates.
- ``backfill``: closed loop.  The whole log is available when a pass
  starts; each pass loads it into an empty copy-on-write table in a few
  large epochs through ``CdcApplier.run``.  Payload work dominates.
- ``mixed``: closed loop, one client.  Narrow rows, MoR with key blooms;
  each round applies one epoch, advances a differently bucketed replica
  and runs point lookups.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

import numpy as np

import reference as ref

TABLE_DDL_WIDE = (
    "url string, warc_ts timestamp_ntz, lsn bigint, html binary, "
    "lang string, text string"
)
TABLE_DDL_NARROW = "url string, warc_ts timestamp_ntz, lsn bigint, lang string"
KEYS, ORDER = ["url"], ["warc_ts", "lsn"]
LOOKUP_KEYS = 50  # keys per lookup batch, of which ABSENT_KEYS are never written
ABSENT_KEYS = 5
LOG_ROWS_PER_FILE = 4000
N_BUCKETS = 4


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def write_log(events, path: str, n_events: int) -> None:
    """Write the log lsn-clustered: each parquet file holds one contiguous
    lsn range, so an epoch's lsn window reads only its own slice."""
    n_files = max(1, -(-n_events // LOG_ROWS_PER_FILE))
    events.repartitionByRange(n_files, "lsn").sortWithinPartitions("lsn").write.parquet(path)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: float, tiny: bool, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tiny = tiny
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # timed-phase observations
        self.epoch_walls: list[float] = []
        self.fresh: list[np.ndarray] = []
        self.lookup_s: list[float] = []
        self.replica_lag_s: list[float] = []
        self.units: list[tuple[float, bool]] = []  # (wall, traced)
        self.events_applied = 0
        self.bytes_added = 0
        self.backlog_end_s = 0.0
        self.log_pd = None

    # ------------------------------------------------------------ helpers

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def root(self, rep: int, name: str) -> str:
        return os.path.join(self.work, f"rep{rep}", name)

    def traced_unit(self, i: int) -> bool:
        """Traced runs alternate traced and untraced units (epochs,
        passes or rounds) so the tracing overhead is measured in-run."""
        if self.tracer is None:
            return False
        self.tracer.enabled = i % 2 == 0
        return self.tracer.enabled

    def time_epochs(self, applier, on_commit) -> None:
        """Time every ``apply_epoch`` of ``applier`` from outside,
        including the ones ``CdcApplier.run`` issues."""
        inner = applier.apply_epoch

        def timed(events, lo, hi):
            t = time.perf_counter()
            rep = inner(events, lo, hi)
            on_commit(t, time.perf_counter(), rep)
            return rep

        applier.apply_epoch = timed

    def record_epoch(self, t_start: float, t_commit: float, due: np.ndarray) -> None:
        self.epoch_walls.append(t_commit - t_start)
        self.fresh.append(t_commit - due)
        self.events_applied += len(due)

    def lookup(self, table, lsn_hi: int) -> None:
        """One batch of point lookups: random urls of the log plus a few
        that were never written, checked against the reference."""
        urls = self.rng.sample(self.all_urls, LOOKUP_KEYS - ABSENT_KEYS) + [
            f"https://absent.example.com/p/{self.rng.randrange(10**9)}"
            for _ in range(ABSENT_KEYS)
        ]
        # the client span keeps the traced lookup's persisted result alive
        # until its rows are collected
        span = self.tracer.span("client.lookup") if self.tracer else contextlib.nullcontext()
        t = time.perf_counter()
        with span:
            rows = table.lookup(urls).collect()
        self.lookup_s.append(time.perf_counter() - t)
        bad = ref.mismatches(ref.rows_frame(rows), ref.expected(self.log_pd, lsn_hi, urls))
        self.check(bad == 0, f"lookup: {bad} rows differ from the reference")

    def read_phase(self, table, lsn_hi: int, n: int) -> None:
        """``n`` lookups after the timed phase (traced in a traced run)."""
        if self.tracer is not None:
            self.tracer.enabled = True
        for _ in range(n):
            self.lookup(table, lsn_hi)
        if self.tracer is not None:
            self.tracer.enabled = False

    def check_table(self, table, lsn_hi: int, what: str) -> int:
        got = ref.table_rows(table)
        bad = ref.mismatches(got, ref.expected(self.log_pd, lsn_hi))
        self.check(bad == 0, f"{what}: {bad} rows differ from the reference")
        return len(got)

    def check_text(self, table) -> None:
        n, bad = ref.text_mismatches(table)
        self.check(n > 0 and bad == 0, f"text: {bad} of {n} sampled rows differ")

    def load_reference(self) -> None:
        self.log_pd = ref.narrow_log(self.log)
        self.all_urls = sorted(set(self.log_pd["url"]))

    def files_per_bucket(self, table) -> float:
        snap = table.snapshot()
        counts = [len(fl) for fl in snap.files.values()]
        return sum(counts) / len(counts) if counts else 0.0

    def finish(self) -> dict:
        """End-of-run checks; returns the table-shape numbers."""
        raise NotImplementedError


# ---------------------------------------------------------------- tail


class Tail(Workload):
    """Open loop with a processing-time trigger, as a streaming query
    runs: event ``lsn`` is due at ``t0 + (lsn - start) / rate - TRIGGER_S``,
    and every ``TRIGGER_S`` seconds (or at once, if the previous epoch
    overran its slot) the client applies every due event, up to a budget,
    as one epoch.  Triggers stop at the deadline; the epoch in flight
    finishes.  ``backlog_end_s`` is how late the last trigger fired."""

    name = "tail"
    # 150 events/s every 7 s is 1 050 events per epoch, which a 4-CPU box
    # applies in 5-7 s: the trigger keeps its schedule, so the loop is
    # measured below saturation; a 10 s run has triggers at 0 s and 7 s
    RATE = 150.0
    TRIGGER_S = 7.0
    BUDGET_S = 14.0  # at most this many seconds of events per epoch

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        s = (
            dict(n_urls=2000, base=2000, rate=50.0)
            if self.tiny
            else dict(n_urls=6000, base=6000, rate=self.RATE)
        )
        self.n_urls, self.base, self.rate = s["n_urls"], s["base"], s["rate"]
        self.n_events = self.base + int(self.rate * (self.seconds + self.BUDGET_S))

    def build(self, rep: int) -> tuple[float, float]:
        from realdeal_spark.cdc import CdcApplier
        from realdeal_spark.cdc.events import generate_change_events
        from realdeal_spark.extract.html_text import with_text
        from realdeal_spark.lake import LakeTable

        t = time.perf_counter()
        path = self.root(rep, "log")
        ev = generate_change_events(
            self.spark, n_events=self.n_events, n_urls=self.n_urls,
            hot_share_percent=10, ooo_percent=10, seed=self.seed,
        )
        write_log(ev, path, self.n_events)
        self.log = self.spark.read.parquet(path)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        self.table = LakeTable.create(
            self.spark, self.root(rep, "pages"), TABLE_DDL_WIDE, KEYS, ORDER,
            n_buckets=N_BUCKETS, soft_delete=True, key_blooms=True,
        )
        CdcApplier(self.table, transform=with_text).apply_epoch(self.log, 0, self.base - 1)
        return gen_s, time.perf_counter() - t

    def warm_up(self) -> None:
        """No warm-up epoch: the first setup pays the JVM's cold start,
        and after the second the first timed epoch measures as fast as
        the second one."""
        from realdeal_spark.cdc import CdcApplier
        from realdeal_spark.extract.html_text import with_text

        transform = with_text if self.tracer is None else self.tracer.wrap_transform(with_text)
        self.applier = CdcApplier(self.table, transform=transform, merge_mode="mor")
        self.load_reference()

    def run(self) -> None:
        start, rate = self.base, self.rate
        t0 = time.perf_counter()
        due0 = t0 - self.TRIGGER_S
        bytes0 = dir_bytes(self.table.root)
        nxt, i = start, 0
        while True:
            trigger = t0 + i * self.TRIGGER_S
            if trigger >= t0 + self.seconds:
                break
            now = time.perf_counter()
            if now < trigger:
                time.sleep(trigger - now)
                now = time.perf_counter()
            self.backlog_end_s = now - trigger
            due_hi = min(start + int((now - due0) * rate), nxt + int(rate * self.BUDGET_S))
            if due_hi > self.n_events:
                self.check(False, "tail: log exhausted before the deadline")
                break
            hi = due_hi - 1
            traced = self.traced_unit(i)
            rep = self.applier.apply_epoch(self.log, nxt, hi)
            t_commit = time.perf_counter()
            self.check(rep.events_in == hi - nxt + 1 and not rep.skipped,
                       f"tail: epoch {nxt}-{hi} applied {rep.events_in} events")
            self.record_epoch(now, t_commit, due0 + (np.arange(nxt, hi + 1) - start) / rate)
            self.units.append((t_commit - now, traced))
            nxt, i = hi + 1, i + 1
        if self.tracer is not None:
            self.tracer.enabled = False
        self.lsn_hi = nxt - 1
        self.bytes_added = dir_bytes(self.table.root) - bytes0

    def finish(self) -> dict:
        live = self.check_table(self.table, self.lsn_hi, "tail table")
        self.check_text(self.table)
        return {
            "live_rows": live,
            "table_bytes": dir_bytes(self.table.root),
            "files_per_bucket": self.files_per_bucket(self.table),
        }


# ---------------------------------------------------------------- backfill


class Backfill(Workload):
    """Closed loop: repeated passes of the whole log into an empty CoW
    table, each in ``EPOCHS`` epochs; every event of a pass is due when
    the pass starts."""

    name = "backfill"
    EPOCHS = 3

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.n_events, self.n_urls = (3000, 1500) if self.tiny else (24000, 12000)
        self.epoch_size = -(-self.n_events // self.EPOCHS)

    def new_table(self, root):
        from realdeal_spark.lake import LakeTable

        return LakeTable.create(
            self.spark, root, TABLE_DDL_WIDE, KEYS, ORDER,
            n_buckets=N_BUCKETS, soft_delete=True,
        )

    def build(self, rep: int) -> tuple[float, float]:
        from realdeal_spark.cdc.events import generate_change_events

        t = time.perf_counter()
        path = self.root(rep, "log")
        ev = generate_change_events(
            self.spark, n_events=self.n_events, n_urls=self.n_urls,
            ooo_percent=10, seed=self.seed, html_paragraphs=12,
        )
        write_log(ev, path, self.n_events)
        self.log = self.spark.read.parquet(path)
        self.rep = rep
        # every pass starts from an empty table: there is no base to load
        return time.perf_counter() - t, 0.0

    def applier(self, table):
        from realdeal_spark.cdc import CdcApplier
        from realdeal_spark.extract.html_text import with_text

        transform = with_text if self.tracer is None else self.tracer.wrap_transform(with_text)
        return CdcApplier(table, transform=transform, merge_mode="cow")

    def warm_up(self) -> None:
        table = self.new_table(self.root(self.rep, "pass-warm"))
        self.applier(table).apply_epoch(self.log, 0, self.epoch_size - 1)
        self.load_reference()

    def run(self) -> None:
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        i, prev = 0, None
        while time.perf_counter() < deadline:
            table = self.new_table(self.root(self.rep, f"pass-{i}"))
            applier = self.applier(table)
            traced = self.traced_unit(i)
            t_pass = time.perf_counter()

            def on_commit(t, t_commit, rep):
                lo, hi = rep.lsn_start, min(rep.lsn_end, self.n_events - 1)
                self.check(rep.events_in == hi - lo + 1 and not rep.skipped,
                           f"backfill: epoch {lo}-{hi} applied {rep.events_in} events")
                self.record_epoch(t, t_commit, np.full(hi - lo + 1, t_pass))

            self.time_epochs(applier, on_commit)
            applier.run(self.log, self.epoch_size, lsn_bounds=(0, self.n_events - 1))
            self.units.append((time.perf_counter() - t_pass, traced))
            self.bytes_added += dir_bytes(table.root)
            if prev is not None:
                shutil.rmtree(prev.root)
            prev, i = table, i + 1
        if self.tracer is not None:
            self.tracer.enabled = False
        self.table = prev

    def finish(self) -> dict:
        self.read_phase(self.table, self.n_events - 1, 4)
        live = self.check_table(self.table, self.n_events - 1, "backfill table")
        self.check_text(self.table)
        return {
            "live_rows": live,
            "table_bytes": dir_bytes(self.table.root),
            "files_per_bucket": self.files_per_bucket(self.table),
        }


# ---------------------------------------------------------------- mixed


class Mixed(Workload):
    """Closed loop, one client: each round applies one epoch, replicates
    the new source version into a replica with other bucketing, then runs
    ``LOOKUPS`` point-lookup batches.  The round's events are due when the
    round starts.  A round starts only if half of it, judged by the last
    round, fits before the deadline, so the round count does not flip
    between runs when a round takes about as long as the timed phase."""

    name = "mixed"
    LOOKUPS = 2

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.n_urls, self.base, self.epoch = (
            (2000, 2000, 500) if self.tiny else (40000, 8000, 3000)
        )
        self.max_rounds = int(self.seconds // 2) + 2
        self.n_events = self.base + self.epoch * self.max_rounds

    def build(self, rep: int) -> tuple[float, float]:
        from realdeal_spark.cdc import CdcApplier
        from realdeal_spark.cdc.events import generate_change_events
        from realdeal_spark.lake import LakeTable

        t = time.perf_counter()
        path = self.root(rep, "log")
        ev = generate_change_events(
            self.spark, n_events=self.n_events, n_urls=self.n_urls,
            ooo_percent=10, seed=self.seed,
        ).drop("html")
        write_log(ev, path, self.n_events)
        self.log = self.spark.read.parquet(path)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        self.table = LakeTable.create(
            self.spark, self.root(rep, "pages"), TABLE_DDL_NARROW, KEYS, ORDER,
            n_buckets=N_BUCKETS, soft_delete=True, key_blooms=True,
        )
        CdcApplier(self.table, merge_mode="mor").apply_epoch(self.log, 0, self.base - 1)
        self.rep = rep
        return gen_s, time.perf_counter() - t

    def round(self, lo: int, hi: int) -> None:
        from realdeal_spark.cdc import replicate

        t = time.perf_counter()
        rep = self.applier.apply_epoch(self.log, lo, hi)
        t_commit = time.perf_counter()
        self.check(rep.events_in == hi - lo + 1 and not rep.skipped,
                   f"mixed: epoch {lo}-{hi} applied {rep.events_in} events")
        replicate.replicate_interval(
            self.table, self.replica, self.version, rep.snapshot_version
        )
        lag = time.perf_counter() - t_commit
        self.version = rep.snapshot_version
        self.record_epoch(t, t_commit, np.full(hi - lo + 1, t))
        self.replica_lag_s.append(lag)
        for _ in range(self.LOOKUPS):
            self.lookup(self.table, hi)

    def warm_up(self) -> None:
        """The replica and its initial sync.  There is no warm-up round
        (it would add ≈13 s to every run), so the timed round's epoch is
        the table's first incremental one and still pays some first-use
        cost: at local[4] it took 6.5-6.7 s without a warm-up round and
        4.9-5.5 s after one."""
        from realdeal_spark.cdc import CdcApplier, create_replica, replicate

        self.applier = CdcApplier(self.table, merge_mode="mor")
        self.load_reference()
        self.replica = create_replica(
            self.table, self.root(self.rep, "replica"), n_buckets=N_BUCKETS // 2
        )
        self.version = self.table.current_version()
        replicate.replicate_interval(self.table, self.replica, 1, self.version)

    def run(self) -> None:
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        bytes0 = dir_bytes(self.table.root) + dir_bytes(self.replica.root)
        lo, i, last = self.base, 0, 0.0
        # a traced run needs a traced and an untraced round
        min_rounds = 2 if self.tracer is not None else 1
        while i < min_rounds or time.perf_counter() + last / 2 < deadline:
            if i >= self.max_rounds:
                self.check(False, "mixed: log exhausted before the deadline")
                break
            traced = self.traced_unit(i)
            t = time.perf_counter()
            self.round(lo, lo + self.epoch - 1)
            last = time.perf_counter() - t
            self.units.append((last, traced))
            lo, i = lo + self.epoch, i + 1
        if self.tracer is not None:
            self.tracer.enabled = False
        self.lsn_hi = lo - 1
        self.bytes_added = (
            dir_bytes(self.table.root) + dir_bytes(self.replica.root) - bytes0
        )

    def finish(self) -> dict:
        live = self.check_table(self.table, self.lsn_hi, "mixed table")
        self.check_table(self.replica, self.lsn_hi, "mixed replica")
        return {
            "live_rows": live,
            "table_bytes": dir_bytes(self.table.root),
            "files_per_bucket": self.files_per_bucket(self.table),
        }


WORKLOADS = {w.name: w for w in (Tail, Backfill, Mixed)}
