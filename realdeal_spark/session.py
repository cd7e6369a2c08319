"""SparkSession factory with scale-oriented defaults.

Single place where every entry point (tests, bench, driver contract)
builds its session so the AQE / shuffle / Arrow configuration is
uniform.  The defaults are chosen for the 100 TB design point and
scale *down* to local[n]:

- AQE on, with coalescing + skew-join handling: at cluster scale the
  static shuffle-partition count is always wrong for some stage; AQE
  re-plans from runtime statistics.
- Arrow enabled for all pandas-UDF exchange (the engine forbids
  per-row Python; reference anti-pattern: realdeal/zillow_client.py:90-136
  does one HTTP call + dict-diff per row).
- Parquet pushdown left on (default) — the lake format relies on
  filter pushdown + column pruning reaching the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "realdeal-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so the same code path serves tests, bench, and a
    real ``spark-submit`` deployment (where ``master`` is None and the
    cluster manager supplies it).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # Rule of thumb: ~2x cores locally; a real cluster overrides
        # (or lets AQE coalesce from a high initial count).
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # timestamp_ntz keeps parity with the parquet test data and the
        # DuckDB oracle (no session-tz reinterpretation).
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame-debugging hook wraps every Column/DataFrame
        # API call with ~6 extra py4j round trips (active-session and
        # conf lookups, a Python stack walk, origin set/clear) only to
        # put the caller's file:line into error messages.  The engine
        # builds plans from many such calls per epoch, so the hook cost
        # ~7% of a merge-heavy test run's wall (cProfile, local[4]).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Long-running epoch loops (the CDC applier's whole life) leak
        # shuffle files / broadcast blocks until the ContextCleaner
        # runs, and the cleaner only fires on a DRIVER GC — which a
        # large, mostly-idle driver heap may not do for hours.  The
        # measured failure: an 8-epoch 160M-event run's per-epoch wall
        # grew 34s -> 124s as dead shuffle state accumulated.  The
        # PRIMARY fix is epoch-boundary GC in the applier (see
        # cdc.apply.GC_MIN_ROWS — between epochs the live set is
        # minimal, so the collection is cheap and never stalls a
        # running stage); this timer is only the backstop for callers
        # not driving an epoch loop.  A short timer measurably HURTS:
        # at 30s it fires full GCs mid-epoch while the heap is full of
        # live shuffle state (160M-event run: local[4] regressed
        # 765s -> 896s).  10min keeps the backstop off the hot path.
        .config("spark.cleaner.periodicGC.interval", "10min")
    )
    # Shuffle/spill scratch location.  On this single-box sandbox every
    # executor thread shares ONE /tmp device, so disk-backed shuffle is
    # a contention point a real cluster doesn't have (per-executor
    # local disks); point SPARK_GRAFT_LOCAL_DIR at a tmpfs (/dev/shm)
    # to measure engine scaling without that substrate artifact.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
