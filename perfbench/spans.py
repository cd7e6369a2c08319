"""Spans around the engine's public calls, timed from outside the engine.

``Tracer.install()`` wraps a fixed list of public functions and methods
of ``realdeal_spark`` at runtime (no engine file is edited).  Each
wrapper records a span (name, start, end, parent, workload, epoch id)
while ``tracer.enabled`` is true and passes straight through otherwise,
so a traced run can interleave traced and untraced epochs and report the
tracing overhead from the same process.

Every span also sets the Spark job group to its own id, so the Spark
event log written during the run attributes each job, stage and task to
the innermost span that issued it (``stage_metrics``).

Lazy results: ``conflate``, the transform, ``LakeTable.lookup`` and
``LakeTable.read_changes`` return DataFrames whose work would otherwise
run inside whichever later action first touches them.  With tracing on,
their results are persisted and counted inside their own span; the
persisted frames are released when the enclosing epoch (or top-level
span) ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

GROUP_PREFIX = "pb-"


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "workload", "epoch", "attrs")

    def __init__(self, sid, name, start, parent, workload, epoch):
        self.id = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.workload = workload
        self.epoch = epoch
        self.attrs: dict = {}

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "workload": self.workload,
            "epoch": self.epoch,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span recorder plus the runtime shims that feed it."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list = []
        self._undo: list = []

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, epoch: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            name,
            time.perf_counter(),
            parent.id if parent else None,
            self.workload,
            epoch if epoch is not None else (parent.epoch if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{GROUP_PREFIX}{self._stack[-1].id}" if self._stack else None,
            )
            if not self._stack:
                self._release()

    def _materialize(self, df, span: Span):
        """Persist + count a lazy result inside its own span."""
        df = df.persist()
        span.attrs["rows"] = df.count()
        self._persisted.append(df)
        return df

    def _release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # ------------------------------------------------------------ shims

    def _wrap(self, owner, attr: str, name: str, lazy: bool = False, hook=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if lazy:
                    out = tracer._materialize(out, s)
                if hook is not None:
                    hook(s, args, kwargs, out)
                return out

        setattr(owner, attr, shim)
        self._undo.append((owner, attr, orig))

    def wrap_transform(self, fn):
        """The transform the benchmark hands to CdcApplier."""
        tracer = self

        def shim(df):
            if not tracer.enabled:
                return fn(df)
            with tracer.span("extract.html_text") as s:
                return tracer._materialize(fn(df), s)

        return shim

    def install(self) -> None:
        from realdeal_spark.cdc import apply as cdc_apply
        from realdeal_spark.cdc import replicate as cdc_replicate
        from realdeal_spark.lake import bloomidx
        from realdeal_spark.lake.table import LakeTable

        tracer = self
        orig_apply = cdc_apply.CdcApplier.apply_epoch

        @functools.wraps(orig_apply)
        def apply_epoch(applier, events, lsn_start, lsn_end):
            if not tracer.enabled:
                return orig_apply(applier, events, lsn_start, lsn_end)
            eid = applier.epoch_id_for(lsn_start, lsn_end)
            with tracer.span("cdc.apply", epoch=eid) as s:
                rep = orig_apply(applier, events, lsn_start, lsn_end)
                s.attrs["events_in"] = rep.events_in
                s.attrs["version"] = rep.snapshot_version
                return rep

        cdc_apply.CdcApplier.apply_epoch = apply_epoch
        self._undo.append((cdc_apply.CdcApplier, "apply_epoch", orig_apply))

        self._wrap(cdc_apply, "admission_stats", "cdc.admission")
        self._wrap(cdc_apply, "conflate", "cdc.conflate", lazy=True)
        self._wrap(cdc_apply, "merge_apply", "lake.merge")
        self._wrap(
            bloomidx, "bloom_candidate_paths", "lake.bloomidx.probe",
            hook=_probe_hook,
        )
        self._wrap(bloomidx, "build_bloom_sidecar", "lake.bloomidx.build")
        self._wrap(LakeTable, "snapshot", "lake.table.snapshot")
        self._wrap(
            LakeTable, "commit_file_additions", "lake.table.commit",
            hook=_commit_hook,
        )
        self._wrap(
            LakeTable, "commit_bucket_replacement", "lake.table.commit",
            hook=_commit_hook,
        )
        self._wrap(LakeTable, "lookup", "lake.table.lookup", lazy=True)
        self._wrap(LakeTable, "read_changes", "lake.table.read_changes", lazy=True)
        self._wrap(cdc_replicate, "replicate_interval", "cdc.replicate")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_dict()) + "\n")


def _probe_hook(span, args, kwargs, out):
    covered = kwargs.get("covered", args[4] if len(args) > 4 else [])
    paths = {c[0] for c in covered}
    span.attrs["covered"] = len(paths)
    span.attrs["kept"] = len(paths & set(out))


def _commit_hook(span, args, kwargs, out):
    table = args[0]
    new_files = kwargs.get("new_files", args[3] if len(args) > 3 else {})
    entries = [fe for fl in new_files.values() for fe in fl]
    span.attrs["files"] = len(entries)
    span.attrs["bytes"] = sum(
        os.path.getsize(os.path.join(table.root, fe["path"])) for fe in entries
    )


# ------------------------------------------------------------ event log


def stage_metrics(event_dir: str) -> dict[int, dict]:
    """Per-span Spark metrics from the JSON event log: job count,
    shuffle-write / spill / input bytes, and each stage's task run
    times, keyed by the span id carried in the job group."""
    files = [
        f for f in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
        + glob.glob(os.path.join(event_dir, "app-*"))
        if os.path.isfile(f)
    ]
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "shuffle": 0, "spill": 0, "input": 0,
                 "stages": defaultdict(list)}
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX):])
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    m = out[sid]
                    m["shuffle"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    m["spill"] += tm.get("Disk Bytes Spilled", 0)
                    m["input"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    m["stages"][ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
    return out


# ------------------------------------------------------------ per layer


def _self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover.  Children
    of one span run sequentially on the single driver thread, so their
    intervals do not overlap."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def _subtree(spans: list[Span]) -> dict[int, list[int]]:
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out = {}

    def walk(i):
        ids = [i]
        for k in kids[i]:
            ids.extend(walk(k))
        return ids

    for s in spans:
        if s.parent is None:
            for i in walk(s.id):
                out.setdefault(i, s.id)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[Span], stages: dict[int, dict]) -> tuple[dict, float]:
    """Per-layer metrics from the spans of one traced run.

    Seconds of layers inside an epoch (``cdc.apply.self_s``,
    ``cdc.admission.s``, ``cdc.conflate.s``, ``extract.html_text.s``,
    ``lake.merge.s``, ``lake.table.snapshot_s``) are self seconds per
    epoch, averaged over traced epochs, so together with the other
    spans' self time they add up to the mean epoch wall time.  The
    ``lake.table.*_s`` / ``lake.bloomidx.*_s`` / ``cdc.replicate.s``
    metrics are inclusive seconds per call.  Returns the metrics and the
    largest negative self time (seconds): children that outlast their
    parent would break that accounting."""
    self_t = _self_times(spans)
    root_of = _subtree(spans)
    by_id = {s.id: s for s in spans}
    epochs = [s for s in spans if s.name == "cdc.apply"]
    n_ep = max(len(epochs), 1)

    def in_epochs(name):
        return [s for s in spans if s.name == name and by_id[root_of[s.id]].name == "cdc.apply"]

    def self_per_epoch(name):
        return sum(self_t[s.id] for s in in_epochs(name)) / n_ep

    def calls(name):
        return [s for s in spans if s.name == name]

    def incl(name):
        return _mean(s.end - s.start for s in calls(name))

    def stage_sum(ids, key):
        return sum(stages.get(i, {}).get(key, 0) for i in ids)

    overlap = max([0.0] + [-t for t in self_t.values()])
    jobs_per_epoch = []
    per_epoch_snap_calls = []
    for e in epochs:
        members = [i for i, r in root_of.items() if r == e.id]
        jobs_per_epoch.append(stage_sum(members, "jobs"))
        per_epoch_snap_calls.append(
            sum(1 for i in members if by_id[i].name == "lake.table.snapshot")
        )

    conflates = in_epochs("cdc.conflate")
    events_in = sum(e.attrs.get("events_in", 0) for e in epochs)
    html = in_epochs("extract.html_text")
    html_s = sum(self_t[s.id] for s in html)
    merges = in_epochs("lake.merge")

    skews = []
    for s in merges:
        st = stages.get(s.id, {}).get("stages", {})
        runs = max(st.values(), key=sum, default=[])
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))

    probes = calls("lake.bloomidx.probe")
    covered = sum(s.attrs.get("covered", 0) for s in probes)
    kept = sum(s.attrs.get("kept", 0) for s in probes)
    commits = in_epochs("lake.table.commit")
    lookups = calls("lake.table.lookup")
    lookup_bytes = [
        stage_sum([i for i in root_of if _is_under(by_id, i, s.id)], "input")
        for s in lookups
    ]

    m = {
        "cdc.apply.self_s": self_per_epoch("cdc.apply"),
        "cdc.apply.jobs_per_epoch": _median(jobs_per_epoch),
        "cdc.admission.s": self_per_epoch("cdc.admission"),
        "cdc.conflate.s": self_per_epoch("cdc.conflate"),
        "cdc.conflate.shuffle_bytes": stage_sum([s.id for s in conflates], "shuffle") / n_ep,
        "cdc.conflate.rows_out_ratio": (
            sum(s.attrs.get("rows", 0) for s in conflates) / events_in if events_in else 0.0
        ),
        "extract.html_text.s": html_s / n_ep,
        "extract.html_text.rows_per_s": (
            sum(s.attrs.get("rows", 0) for s in html) / html_s if html_s else 0.0
        ),
        "lake.merge.s": self_per_epoch("lake.merge"),
        "lake.merge.shuffle_bytes": stage_sum([s.id for s in merges], "shuffle") / n_ep,
        "lake.merge.spill_bytes": stage_sum([s.id for s in merges], "spill") / n_ep,
        "lake.merge.task_skew": _median(skews),
        "lake.bloomidx.probe_s": incl("lake.bloomidx.probe"),
        "lake.bloomidx.files_pruned_ratio": (1 - kept / covered) if covered else 0.0,
        "lake.bloomidx.build_s": incl("lake.bloomidx.build"),
        "lake.table.snapshot_s": self_per_epoch("lake.table.snapshot"),
        "lake.table.snapshot_calls_per_epoch": _median(per_epoch_snap_calls),
        "lake.table.commit_s": incl("lake.table.commit"),
        "lake.table.files_added_per_epoch": sum(s.attrs.get("files", 0) for s in commits) / n_ep,
        "lake.table.bytes_written_per_epoch": sum(s.attrs.get("bytes", 0) for s in commits) / n_ep,
        "lake.table.lookup_s": incl("lake.table.lookup"),
        "lake.table.lookup_bytes_read": _mean(lookup_bytes),
        "lake.table.read_changes_s": incl("lake.table.read_changes"),
        "cdc.replicate.s": incl("cdc.replicate"),
    }
    return m, overlap


def _is_under(by_id, i, ancestor) -> bool:
    while i is not None:
        if i == ancestor:
            return True
        i = by_id[i].parent
    return False


UNITS = {
    "cdc.apply.jobs_per_epoch": "count",
    "cdc.conflate.shuffle_bytes": "B/epoch",
    "cdc.conflate.rows_out_ratio": "ratio",
    "extract.html_text.rows_per_s": "rows/s",
    "lake.merge.shuffle_bytes": "B/epoch",
    "lake.merge.spill_bytes": "B/epoch",
    "lake.merge.task_skew": "ratio",
    "lake.bloomidx.files_pruned_ratio": "ratio",
    "lake.table.snapshot_calls_per_epoch": "count",
    "lake.table.files_added_per_epoch": "count",
    "lake.table.bytes_written_per_epoch": "B/epoch",
    "lake.table.lookup_bytes_read": "B",
    "lake.table.files_per_bucket_end": "count",
    "trace.overhead_ratio": "ratio",
    "session.start_s": "s",
    "cdc.events.generate_s": "s",
    "lake.table.base_load_s": "s",
    "cdc.replicate.lag_p50_s": "s",
    "load.backlog_end_s": "s",
}
PER_EPOCH_S = {
    "cdc.apply.self_s", "cdc.admission.s", "cdc.conflate.s",
    "extract.html_text.s", "lake.merge.s", "lake.table.snapshot_s",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name in PER_EPOCH_S:
        return "s/epoch"
    if name.startswith(("lake.table.", "lake.bloomidx.", "cdc.replicate.")):
        return "s/call"
    return "s"
