"""Structured Streaming wrapper: availableNow drain == batch replay,
replayed batch ids are no-ops (exactly-once), per-trigger budget."""

from __future__ import annotations

from pyspark.sql import functions as F

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.events import EVENT_SCHEMA, generate_change_events, naive_replay
from realdeal_spark.lake.inspect import lineage_df
from realdeal_spark.lake.table import LakeTable
from realdeal_spark.streaming import file_source, stream_apply

DRAIN = {"availableNow": True}

PAGES_SCHEMA = (
    "url string, warc_ts timestamp_ntz, lsn bigint, html binary, lang string"
)


def _mk_table(spark, tmp_path, name="pages"):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        PAGES_SCHEMA,
        key_columns=["url"],
        order_columns=["warc_ts", "lsn"],
        n_buckets=8,
        soft_delete=True,
    )


def _visible(table):
    rows = table.read().collect()
    return {
        r["url"]: (r["warc_ts"], r["lsn"], bytes(r["html"]) if r["html"] else None)
        for r in rows
    }


def _expected(events_df):
    final = naive_replay([r.asDict() for r in events_df.collect()])
    return {
        u: (v["warc_ts"], v["lsn"], bytes(v["html"]) if v["html"] else None)
        for u, v in final.items()
    }


def test_streaming_drain_matches_naive_replay(spark, tmp_path):
    events = generate_change_events(spark, n_events=600, n_urls=80, seed=7)
    src_dir = tmp_path / "log"
    # 4 files → 4 micro-batches at maxFilesPerTrigger=1
    events.withColumn("part", (F.col("lsn") % 4).cast("int")).write.partitionBy(
        "part"
    ).parquet(str(src_dir))

    table = _mk_table(spark, tmp_path)
    applier = CdcApplier(table)
    stream = file_source(
        spark, f"{src_dir}/part=*", EVENT_SCHEMA, max_files_per_trigger=1
    )
    q = stream_apply(applier, stream, "t1", str(tmp_path / "ckpt"), DRAIN)
    q.awaitTermination(120)

    assert len([r for r in applier.reports if not r.skipped]) >= 2
    assert _visible(table) == _expected(events)


def test_streaming_restart_processes_nothing_new(spark, tmp_path):
    events = generate_change_events(spark, n_events=200, n_urls=30, seed=9)
    src_dir = tmp_path / "log"
    events.write.parquet(str(src_dir))
    table = _mk_table(spark, tmp_path)
    applier = CdcApplier(table)
    stream = file_source(spark, str(src_dir), EVENT_SCHEMA, 10)
    q = stream_apply(applier, stream, "t2", str(tmp_path / "ckpt"), DRAIN)
    q.awaitTermination(120)
    v1 = table.current_version()

    # restart with the same checkpoint: no new files → no new batches
    applier2 = CdcApplier(table)
    stream2 = file_source(spark, str(src_dir), EVENT_SCHEMA, 10)
    q = stream_apply(applier2, stream2, "t2", str(tmp_path / "ckpt"), DRAIN)
    q.awaitTermination(120)
    assert table.current_version() == v1
    assert _visible(table) == _expected(events)


def test_replayed_batch_id_is_noop(spark, tmp_path):
    """Simulated crash replay: the same (name, batchId) applied twice
    must commit exactly once."""
    events = generate_change_events(spark, n_events=150, n_urls=25, seed=11)
    table = _mk_table(spark, tmp_path)
    applier = CdcApplier(table)
    res1 = applier.apply_batch(events, "stream:t3:0")
    assert not res1.skipped and res1.snapshot_version is not None
    v1 = table.current_version()
    res2 = applier.apply_batch(events, "stream:t3:0")  # replay
    assert res2.skipped
    assert table.current_version() == v1
    assert _visible(table) == _expected(events)


def test_streaming_auto_evolve(spark, tmp_path):
    """Mid-stream schema drift handled inside the foreachBatch body."""
    from pyspark.sql import functions as F

    table = _mk_table(spark, tmp_path)
    applier = CdcApplier(table, auto_evolve=True)
    e1 = generate_change_events(spark, n_events=100, n_urls=20, seed=3)
    applier.apply_batch(e1, "stream:t4:0")
    e2 = (
        generate_change_events(spark, n_events=100, n_urls=20, seed=4)
        .withColumn("lsn", F.col("lsn") + 100)
        .withColumn("fetch_status", F.lit(200))
    )
    applier.apply_batch(e2, "stream:t4:1")
    sch = table.schema()
    assert "fetch_status" in [f.name for f in sch.fields]
    rows = table.read().collect()
    assert any(r["fetch_status"] == 200 for r in rows)
    assert any(r["fetch_status"] is None for r in rows)  # pre-drift winners


def test_streaming_winner_broadcast_gated(spark, tmp_path, monkeypatch):
    """A micro-batch whose distinct-key estimate exceeds the broadcast
    cap must run light conflation WITHOUT broadcasting winners (the
    round-2 fix, in the one epoch body every caller shares) — and still
    converge to the same state."""
    import realdeal_spark.cdc.apply as apply_mod
    import realdeal_spark.lake.merge as merge_mod

    events = generate_change_events(spark, n_events=300, n_urls=60, seed=5)
    table = _mk_table(spark, tmp_path)

    seen_kwargs = []
    real_conflate = apply_mod.conflate

    def spy(df, keys, orders, **kw):
        seen_kwargs.append(dict(kw))
        return real_conflate(df, keys, orders, **kw)

    monkeypatch.setattr(apply_mod, "conflate", spy)

    # cap far below the 60 distinct urls → gate must disable broadcast
    monkeypatch.setattr(merge_mod, "BROADCAST_KEYS_MAX", 10)
    applier = CdcApplier(table)
    report = applier.apply_batch(events, "stream:gate1:0")
    assert not report.skipped and report.snapshot_version is not None
    assert report.events_in == 300
    assert seen_kwargs[-1]["strategy"] == "light"
    assert seen_kwargs[-1]["broadcast_winners"] is False
    assert seen_kwargs[-1]["bloom_expected_keys"] > 10
    assert _visible(table) == _expected(events)

    # cap back above → broadcast re-enabled on the next batch
    monkeypatch.setattr(merge_mod, "BROADCAST_KEYS_MAX", 1_000_000)
    more = generate_change_events(spark, n_events=100, n_urls=20, seed=6).withColumn(
        "lsn", F.col("lsn") + 1000
    )
    applier.apply_batch(more, "stream:gate1:1")
    assert seen_kwargs[-1]["broadcast_winners"] is True


def test_resolve_strategy_payload_width(spark, tmp_path):
    """auto-conflation must treat a wide *string* payload (extracted
    text — this engine's own downstream shape) as payload-heavy, not
    just binary; fixed-width payloads stay on max_by."""
    from realdeal_spark.cdc.admission import resolve_strategy

    text_table = LakeTable.create(
        spark,
        str(tmp_path / "text_t"),
        "url string, warc_ts timestamp_ntz, lsn bigint, text string",
        key_columns=["url"],
        order_columns=["warc_ts", "lsn"],
        n_buckets=4,
        soft_delete=True,
    )
    snap = text_table.snapshot()
    assert resolve_strategy(text_table, snap, "auto") == "light"
    assert resolve_strategy(text_table, snap, "max_by") == "max_by"  # explicit wins

    narrow_table = LakeTable.create(
        spark,
        str(tmp_path / "narrow_t"),
        "url string, warc_ts timestamp_ntz, lsn bigint, price double, n int",
        key_columns=["url"],
        order_columns=["warc_ts", "lsn"],
        n_buckets=4,
        soft_delete=True,
    )
    assert resolve_strategy(narrow_table, narrow_table.snapshot(), "auto") == "max_by"


def test_streaming_report_sink(spark, tmp_path):
    """S12 on the streaming path: every micro-batch emits an
    EpochReport through the sink, with lineage + counts."""
    events = generate_change_events(spark, n_events=200, n_urls=40, seed=12)
    table = _mk_table(spark, tmp_path)
    sunk = []
    applier = CdcApplier(table, report_sink=sunk.append)
    applier.apply_batch(events, "stream:rs1:0")
    applier.apply_batch(events, "stream:rs1:0")  # replay → skipped report
    assert len(sunk) == 2
    first, replay = sunk
    assert first.epoch_id == "stream:rs1:0" and not first.skipped
    assert first.events_in == 200
    assert first.conflated == first.inserted + first.updated + first.deleted + (
        first.unchanged + first.stale
    )
    assert first.snapshot_version == table.current_version()
    assert replay.skipped and replay.snapshot_version == first.snapshot_version
    # a batchId is not an lsn offset: stream commits stay out of lineage
    assert first.lsn_start is None
    assert lineage_df(table).count() == 0


def test_streaming_mor_drain_matches_replay(spark, tmp_path):
    """The streaming wrapper over the merge-on-read path: availableNow
    drain through MoR deltas converges to the naive-replay state, and
    a replayed batch id stays a no-op."""
    events = generate_change_events(
        spark, n_events=500, n_urls=70, seed=9, delete_percent=10, ooo_percent=15
    )
    src_dir = tmp_path / "log_mor"
    events.withColumn("part", (F.col("lsn") % 3).cast("int")).write.partitionBy(
        "part"
    ).parquet(str(src_dir))

    table = _mk_table(spark, tmp_path, name="pages_mor")
    applier = CdcApplier(table, merge_mode="mor")
    stream = file_source(
        spark, f"{src_dir}/part=*", EVENT_SCHEMA, max_files_per_trigger=1
    )
    q = stream_apply(applier, stream, "m1", str(tmp_path / "ckpt_mor"), DRAIN)
    q.awaitTermination(120)
    assert _visible(table) == _expected(events)
    snap = table.snapshot()
    assert any(fe.get("mor") for fl in snap.files.values() for fe in fl)
    # replay the first batch id → exactly-once no-op
    v = table.current_version()
    batch0 = spark.read.schema(EVENT_SCHEMA).parquet(f"{src_dir}/part=0")
    assert applier.apply_batch(batch0, "stream:m1:0").skipped
    assert table.current_version() == v


def test_streaming_soak_processing_time_catches_up(spark, tmp_path):
    """ST1 continuous mode: a processingTime trigger tails a growing
    file source — new waves of event files land while the query runs
    — and the table catches up to the full naive-replay state, with
    per-epoch S12 artifacts written by EpochReportSink."""
    import json
    import os
    import time as _time

    from realdeal_spark.report import EpochReportSink

    events = generate_change_events(
        spark, n_events=900, n_urls=120, seed=21, delete_percent=10, ooo_percent=10
    )
    waves = [events.where(F.col("lsn") % 3 == i) for i in range(3)]
    src_dir = str(tmp_path / "soaklog")
    waves[0].write.mode("append").parquet(src_dir)

    table = _mk_table(spark, tmp_path, name="pages_soak")
    report_dir = str(tmp_path / "reports")
    applier = CdcApplier(table, report_sink=EpochReportSink(report_dir))
    stream = file_source(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=4)
    q = stream_apply(
        applier,
        stream,
        "soak1",
        str(tmp_path / "ckpt_soak"),
        trigger={"processingTime": "1 seconds"},
    )
    try:
        want = _expected(events)
        # feed the remaining waves while the query runs
        for w in waves[1:]:
            w.write.mode("append").parquet(src_dir)
            _time.sleep(1)
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            if _visible(table) == want:
                break
            _time.sleep(2)
        assert _visible(table) == want, "backlog never caught up"
    finally:
        q.stop()
    applied = [r for r in applier.reports if not r.skipped and r.events_in > 0]
    assert len(applied) >= 2, "growing source should span multiple micro-batches"
    # S12 artifacts: one jsonl line + one html page per report
    lines = open(os.path.join(report_dir, "epochs.jsonl")).read().splitlines()
    assert len(lines) == len(applier.reports)
    recs = [json.loads(ln) for ln in lines]
    assert sum(r["events_in"] for r in recs) == 900
    htmls = [f for f in os.listdir(report_dir) if f.endswith(".html")]
    assert len(htmls) == len(applier.reports)


# ------------------------- event-time windows (ST9, streaming.windows)


def _win_rows(spark, specs):
    """specs: (hour_offset_float, key) → rows with ntz timestamps."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(base + dt.timedelta(hours=h), k) for h, k in specs],
        "ts timestamp_ntz, k string",
    )


def test_windowed_rollup_stream_matches_batch(spark, tmp_path):
    """One drained micro-batch in update mode == the batch rollup —
    F.window is engine-shared, watermark is a no-op on complete data."""
    from realdeal_spark.streaming import tumbling_rollup

    specs = [(i * 0.4, ["a", "b"][i % 2]) for i in range(30)]
    _win_rows(spark, specs).write.parquet(str(tmp_path / "ev"))

    batch = tumbling_rollup(
        spark.read.parquet(str(tmp_path / "ev")), "ts", "1 hour", keys=["k"]
    )
    want = {
        (r["window_start"], r["k"]): r["n_events"] for r in batch.collect()
    }

    stream = spark.readStream.schema("ts timestamp_ntz, k string").parquet(
        str(tmp_path / "ev")
    )
    out = tumbling_rollup(stream, "ts", "1 hour", keys=["k"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("winroll1")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["k"]): r["n_events"]
        for r in spark.sql("select * from winroll1").collect()
    }
    assert got == want and len(want) > 4


def test_windowed_rollup_append_finalizes_and_drops_late(spark, tmp_path):
    """Append mode + watermark: a window emits once the watermark
    passes its end, and events older than the watermark are dropped —
    the state bound that makes the rollup run on an unbounded stream.

    Micro-batch watermark mechanics (observed on Spark 4.1, matches
    WatermarkSupport): each batch carries TWO watermark values — the
    late-row filter uses the watermark as of the *previous* batch,
    eviction/emission uses the *current* one.  So a late event only
    drops once the watermark that covers it is at least one batch
    old; three files (one per trigger via maxFilesPerTrigger=1 +
    coalesce(1)) stage exactly that:

      A: events at 0.2h 0.5h 1.5h 3.0h   → wm after A = 2h
      B: event at 3.2h                    → evicts hour-0, hour-1
      C: fresh 5.0h + LATE 0.7h           → filter wm = 2h → dropped
      (final empty finalize batch)        → evicts hour-3
    """
    import time

    from realdeal_spark.streaming import tumbling_rollup

    src = tmp_path / "ev"
    for specs in (
        [(0.2, "a"), (0.5, "a"), (1.5, "a"), (3.0, "a")],
        [(3.2, "a")],
        [(5.0, "a"), (0.7, "a")],
    ):
        _win_rows(spark, specs).coalesce(1).write.mode("append").parquet(
            str(src)
        )
        time.sleep(1.1)  # file-source orders batches by mod time

    stream = (
        spark.readStream.schema("ts timestamp_ntz, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tumbling_rollup(stream, "ts", "1 hour", keys=["k"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("winroll2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["window_start"].hour: r["n_events"]
        for r in spark.sql("select * from winroll2").collect()
    }
    # hour-0 finalized WITHOUT the late 0.7h event; hour-3 got 3.0+3.2
    assert rows.get(0) == 2
    assert rows.get(1) == 1
    assert rows.get(3) == 2
    # hour-5 still open (never emitted), and no duplicate hour-0 emission
    assert 5 not in rows
    # the engine counted exactly one state row dropped by the watermark
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    assert dropped == 1


def test_windowed_rollup_requires_watermark_on_stream(spark, tmp_path):
    import pytest

    from realdeal_spark.streaming import session_rollup, tumbling_rollup

    _win_rows(spark, [(0.0, "a")]).write.parquet(str(tmp_path / "ev"))
    stream = spark.readStream.schema("ts timestamp_ntz, k string").parquet(
        str(tmp_path / "ev")
    )
    with pytest.raises(ValueError, match="watermark"):
        tumbling_rollup(stream, "ts", "1 hour", keys=["k"])
    with pytest.raises(ValueError, match="watermark"):
        session_rollup(stream, "ts", "30 minutes", keys=["k"])


def test_session_rollup_stream_matches_batch(spark, tmp_path):
    """Sessionization with merging state: bursts within the gap chain
    into one session, a >gap pause starts a new one; the drained
    stream (append mode — the only mode session windows support)
    equals the batch gaps-and-islands answer.  A far-future sentinel
    event per key advances the watermark past every real session's
    end so append mode finalizes them all; the sentinel's own session
    stays open and never emits."""
    from realdeal_spark.streaming import session_rollup

    # key a: burst at 0–0.4h (gap 30m merges), lone event at 3h
    # key b: events at 0.1h, 0.55h (chained within gap → ONE session)
    specs = [
        (0.0, "a"), (0.2, "a"), (0.4, "a"), (3.0, "a"),
        (0.1, "b"), (0.55, "b"),
    ]
    _win_rows(spark, specs).write.mode("append").parquet(str(tmp_path / "ev"))
    _win_rows(spark, [(100.0, "a"), (100.0, "b")]).write.mode(
        "append"
    ).parquet(str(tmp_path / "ev"))

    real = spark.read.parquet(str(tmp_path / "ev")).where("ts < '2024-01-03'")
    batch = session_rollup(real, "ts", "30 minutes", keys=["k"])
    want = {
        (r["session_start"], r["session_end"], r["k"]): r["n_events"]
        for r in batch.collect()
    }
    # chained merge: b's two events 27m apart → one session
    assert sum(1 for (_, _, k) in want if k == "b") == 1
    assert sum(1 for (_, _, k) in want if k == "a") == 2

    stream = spark.readStream.schema("ts timestamp_ntz, k string").parquet(
        str(tmp_path / "ev")
    )
    out = session_rollup(
        stream, "ts", "30 minutes", keys=["k"], watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessroll")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_start"], r["session_end"], r["k"]): r["n_events"]
        for r in spark.sql("select * from sessroll").collect()
    }
    assert got == want


# ------------------------------------------------------- suppress_unchanged


def _susp_rows():
    # user 1: A A B B A  -> emit ts 0 (A), 2 (B), 4 (A)  (A->B->A re-emits!)
    # user 2: A A A      -> emit ts 0 only
    # user 3 fp nulls: None None A None -> emit 0, 2, 3
    return [
        (0, 1, "A"), (1, 1, "A"), (2, 1, "B"), (3, 1, "B"), (4, 1, "A"),
        (0, 2, "A"), (1, 2, "A"), (2, 2, "A"),
        (0, 3, None), (1, 3, None), (2, 3, "A"), (3, 3, None),
    ]


_SUSP_WANT = {(1, 0), (1, 2), (1, 4), (2, 0), (3, 0), (3, 2), (3, 3)}


def _susp_df(spark, rows):
    return spark.createDataFrame(
        [(t, u, fp) for t, u, fp in rows], "seq bigint, user_id bigint, fp string"
    )


def test_suppress_unchanged_batch(spark):
    from realdeal_spark.streaming import suppress_unchanged

    out = suppress_unchanged(
        _susp_df(spark, _susp_rows()), ["user_id"], ["seq"], "fp"
    )
    assert {(r["user_id"], r["seq"]) for r in out.collect()} == _SUSP_WANT
    assert out.columns == ["seq", "user_id", "fp"]  # schema preserved


def test_suppress_unchanged_stream_matches_batch(spark, tmp_path):
    """The stateful stream path over 3 micro-batches must equal the
    batch lag() answer — in particular a duplicate arriving in a LATER
    micro-batch must be suppressed (state crosses batch boundaries)
    and an A->B->A flip must re-emit (previous-value dedup, not
    set-membership dedup)."""
    from realdeal_spark.streaming import suppress_unchanged

    rows = _susp_rows()
    src = tmp_path / "susp_src"
    # split by seq so micro-batches cut across every user's run:
    # batch 0 = seq 0..1, batch 1 = seq 2..3, batch 2 = seq 4
    # one file per directory (coalesce(1)) so maxFilesPerTrigger=1
    # yields exactly these three micro-batches in seq order — a multi-
    # part write would split a batch across triggers in arbitrary file
    # order and violate the operator's documented per-key monotone-
    # arrival contract (observed: user 2's seq-1 file before seq-0)
    for part, pred in enumerate([lambda s: s <= 1, lambda s: 2 <= s <= 3,
                                 lambda s: s >= 4]):
        _susp_df(spark, [r for r in rows if pred(r[0])]).coalesce(1).write.parquet(
            str(src / f"p{part}")
        )
    stream = (
        spark.readStream.schema("seq bigint, user_id bigint, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    # NOTE: no state TTL here — ProcessingTimeTimeout makes the
    # availableNow drain keep scheduling empty batches until pending
    # timers fire (observed: 40+ no-data epochs, drain > 300 s), so the
    # TTL belongs to continuously-triggered deployments, not drains
    out = suppress_unchanged(stream, ["user_id"], ["seq"], "fp")
    q = (
        out.writeStream.format("memory")
        .queryName("susp_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "susp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # generous bound: 3 micro-batches each spin an Arrow python worker,
    # slow under full-suite contention — and assert the drain finished
    # (a partial memory table would fail the compare confusingly)
    assert q.awaitTermination(300), "availableNow drain did not finish"
    got = {
        (r["user_id"], r["seq"])
        for r in spark.sql("select * from susp_out").collect()
    }
    assert got == _SUSP_WANT


def test_suppress_chained_into_streaming_applier(spark, tmp_path):
    """suppress_unchanged composes in front of stream_apply on
    the same checkpoint: recrawl no-ops never reach MERGE (events_in
    drops), final payload state is the content-version history, and
    the stored order tuple is the FIRST sighting of each content
    version (the documented recency-stamping trade)."""
    import datetime as dt

    from realdeal_spark.streaming import suppress_unchanged

    def ts(i):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)

    SCHEMA = (
        "lsn bigint, op string, url string, warc_ts timestamp_ntz, "
        "html binary, lang string, fp string"
    )
    batches = [
        [(0, "upsert", "u1", ts(0), b"A", "en", "A"),
         (1, "upsert", "u2", ts(0), b"X", "en", "X")],
        [(2, "upsert", "u1", ts(1), b"A", "en", "A"),  # recrawl, suppressed
         (3, "upsert", "u2", ts(1), b"Y", "en", "Y")],
        [(4, "upsert", "u1", ts(2), b"B", "en", "B"),
         (5, "upsert", "u2", ts(2), b"Y", "en", "Y")],  # recrawl, suppressed
    ]
    src = tmp_path / "chain_src"
    for i, rows in enumerate(batches):
        # coalesce(1): one file per micro-batch, deterministic order
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"p{i}")
        )

    table = _mk_table(spark, tmp_path, name="chained")
    applier = CdcApplier(table, transform=lambda df: df.drop("fp"))
    stream = file_source(spark, f"{src}/p*", SCHEMA)
    sup = suppress_unchanged(stream, ["url"], ["warc_ts", "lsn"], "fp")
    q = stream_apply(applier, sup, "chain", str(tmp_path / "chain_ckpt"), DRAIN)
    assert q.awaitTermination(300), "availableNow drain did not finish"

    state = {
        r["url"]: (bytes(r["html"]), r["lsn"]) for r in table.read().collect()
    }
    # content-version history: latest distinct content per key, stamped
    # at its FIRST sighting (u2's Y arrived at lsn 3; the lsn-5 recrawl
    # was suppressed)
    assert state == {"u1": (b"B", 4), "u2": (b"Y", 3)}
    # only 4 of the 6 events reached the applier
    assert sum(r.events_in for r in applier.reports) == 4


def test_suppress_out_of_order_straggler_passes_through(spark, tmp_path):
    """A micro-batch older than the state (late file) must PASS its
    rows through untouched — never suppress against a fingerprint from
    the future — and must not regress the state: a newer duplicate
    after the stragglers still dedups against the pre-straggler
    fingerprint.  (False pass only; the batch lag() result stays a
    subset of the stream emissions.)"""
    from realdeal_spark.streaming import suppress_unchanged

    batches = [
        [(2, 1, "A"), (3, 1, "A")],   # arrives first: emit 2, suppress 3
        [(0, 1, "A"), (1, 1, "A")],   # stragglers: both pass through
        [(4, 1, "A")],                # newer dup: suppressed vs state A@3
    ]
    src = tmp_path / "ooo_src"
    for i, rows in enumerate(batches):
        _susp_df(spark, rows).coalesce(1).write.parquet(str(src / f"p{i}"))
    stream = (
        spark.readStream.schema("seq bigint, user_id bigint, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    out = suppress_unchanged(stream, ["user_id"], ["seq"], "fp")
    q = (
        out.writeStream.format("memory")
        .queryName("ooo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow drain did not finish"
    got = {r["seq"] for r in spark.sql("select * from ooo_out").collect()}
    assert got == {2, 0, 1}, got  # 3 suppressed in-batch, 4 vs state
    # batch oracle over the complete data is a subset of the stream
    full = _susp_df(spark, [r for b in batches for r in b])
    batch = {
        r["seq"]
        for r in suppress_unchanged(full, ["user_id"], ["seq"], "fp").collect()
    }
    assert batch <= got
