"""Benchmark for the CDC engine: one command, three workloads.

    python3 perfbench/run.py --workload {tail,backfill,mixed} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The run starts one Spark session at
``local[<nproc / 2>]``, sets its workload up twice (the median is
reported), warms up, measures for ``--seconds``, checks every result
against an independent reference, and prints each metric by name with
its unit.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where ``metrics``
holds the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1`` (see perfbench/README.md).

All tables, logs, Spark scratch space and the event log live under
``perfbench/.work/`` and are removed when the run ends; the traced run
keeps its spans in ``perfbench/out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 2
END_TO_END = [
    ("setup_s", "s"),
    ("events_per_s", "events/s"),
    ("epoch_p50_s", "s"),
    ("freshness_p50_s", "s"),
    ("freshness_p99_s", "s"),
    ("write_bytes_per_event", "B/event"),
    ("table_bytes_per_row", "B/row"),
    ("peak_rss_mb", "MB"),
]


class RssSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc.  Sums proportional
    set sizes, so pages the forked Python workers share with their
    daemon count once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["tail", "backfill", "mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from realdeal_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    # half the CPUs run tasks; the other half is left to the JVM's JIT
    # and GC threads and the Python workers, so a CPU the host takes away
    # for a while slows an epoch less (on a 4-CPU machine with 1-9% steal,
    # ten-seed epoch medians spread 0.23 of their median at local[4])
    cpus = task_threads()
    # a fixed, pre-touched driver heap keeps the JVM's share of peak RSS
    # the same from run to run
    conf["spark.driver.extraJavaOptions"] = "-Xms1g -XX:+AlwaysPreTouch"
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def task_threads() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """Steal and total jiffies of all CPUs from /proc/stat; over an
    interval, their ratio is the share of CPU time the host gave to
    someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def percentile(xs, q):
    import numpy as np

    return float(np.percentile(xs, q)) if len(xs) else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    if not os.path.isdir(os.path.join(REPO, "realdeal_spark")):
        print(f"engine package realdeal_spark not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.dont_write_bytecode = True
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"

    import numpy as np

    from spans import Tracer, layer_metrics, stage_metrics, unit_of
    from workloads import WORKLOADS

    spark = None
    steal0, total0 = cpu_ticks()
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = start_spark(work, bool(args.trace))
            session_s = time.perf_counter() - t
            tracer = Tracer(spark, args.workload) if args.trace else None
            wl = WORKLOADS[args.workload](
                spark, work, args.seed, args.seconds, args.tiny, tracer
            )
            phases = {"session": session_s}
            t = time.perf_counter()
            reps = [wl.build(r) for r in range(SETUP_REPS)]
            phases["setup_reps"] = time.perf_counter() - t
            for r in range(SETUP_REPS - 1):
                shutil.rmtree(os.path.join(work, f"rep{r}"))
            if tracer is not None:
                tracer.install()
            t = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t
            setup_s = session_s + median(g + l for g, l in reps) + warm_s
            phases["warm_up"] = warm_s
            t = time.perf_counter()
            wl.run()
            phases["timed"] = time.perf_counter() - t
            t = time.perf_counter()
            shape = wl.finish()
            phases["finish"] = time.perf_counter() - t
            t = time.perf_counter()
            stop_spark(spark)
            spark = None
            phases["stop"] = time.perf_counter() - t
        steal1, total1 = cpu_ticks()
        fresh = np.concatenate(wl.fresh) if wl.fresh else np.array([])
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "events_per_s": (
                    wl.events_applied / sum(wl.epoch_walls) if wl.epoch_walls else 0.0
                ),
                "epoch_p50_s": median(wl.epoch_walls),
                "freshness_p50_s": percentile(fresh, 50),
                "freshness_p99_s": percentile(fresh, 99),
                "write_bytes_per_event": (
                    wl.bytes_added / wl.events_applied if wl.events_applied else 0.0
                ),
                "table_bytes_per_row": (
                    shape["table_bytes"] / shape["live_rows"] if shape["live_rows"] else 0.0
                ),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = dict(END_TO_END)
        else:
            tracer.uninstall()
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.write(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics, overlap = layer_metrics(
                tracer.spans, stage_metrics(os.path.join(work, "events"))
            )
            wl.check(overlap < 1e-3, f"trace: child spans outlast their parent by {overlap:.4f} s")
            on = [w for w, tr in wl.units if tr]
            off = [w for w, tr in wl.units if not tr]
            metrics.update({
                "session.start_s": session_s,
                "cdc.events.generate_s": median(g for g, _ in reps),
                "lake.table.base_load_s": median(l for _, l in reps),
                "lake.table.files_per_bucket_end": shape["files_per_bucket"],
                "cdc.replicate.lag_p50_s": median(wl.replica_lag_s),
                "load.backlog_end_s": wl.backlog_end_s,
                "trace.overhead_ratio": median(on) / median(off) if on and off else 0.0,
            })
            units = {k: unit_of(k) for k in metrics}
        info = {
            "epochs": len(wl.epoch_walls),
            "events_applied": wl.events_applied,
            "lookups": len(wl.lookup_s),
            "lookup_p50_s": median(wl.lookup_s),
            "replica_advances": len(wl.replica_lag_s),
            "replica_lag_p50_s": median(wl.replica_lag_s),
            "backlog_end_s": wl.backlog_end_s,
            "failed_ratio": wl.failed / max(wl.attempted, 1),
            "workers": task_threads(),
            "cpu_steal_share": round((steal1 - steal0) / max(total1 - total0, 1), 4),
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "setup_reps_s": [(round(g, 2), round(l, 2)) for g, l in reps],
            "epoch_walls_s": [round(w, 2) for w in wl.epoch_walls],
            "lookups_s": [round(w, 2) for w in wl.lookup_s],
            "replica_lags_s": [round(w, 2) for w in wl.replica_lag_s],
        }
        for name, value in info.items():
            print(f"# {name} {value}")
        for f in wl.failures:
            print(f"# FAILED {f}")
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
        correct = wl.failed == 0 and wl.attempted > 0
        print(json.dumps({
            "correct": correct,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
