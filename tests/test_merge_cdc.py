"""CDC core: conflation, MERGE-apply vs the naive-replay oracle,
exactly-once epochs, out-of-order protection, delete/resurrect,
skewed hot keys, replay equivalence across different epoch sizes."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import functions as F

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.conflate import conflate
from realdeal_spark.cdc.events import EVENT_SCHEMA, generate_change_events, naive_replay
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable

PAGES_SCHEMA = (
    "url string, warc_ts timestamp_ntz, lsn bigint, html binary, lang string"
)


def _mk_table(spark, tmp_path, n_buckets=8):
    return LakeTable.create(
        spark,
        str(tmp_path / "pages"),
        PAGES_SCHEMA,
        key_columns=["url"],
        order_columns=["warc_ts", "lsn"],
        n_buckets=n_buckets,
        soft_delete=True,
    )


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _events_df(spark, rows):
    """rows: (lsn, op, url, sec, body) tuples."""
    return spark.createDataFrame(
        [
            (lsn, op, url, _ts(sec), body.encode() if body is not None else None, "en")
            for (lsn, op, url, sec, body) in rows
        ],
        EVENT_SCHEMA,
    )


def _state(table):
    return {
        r["url"]: r.asDict() for r in table.read().collect()
    }


def _count_jobs(spark, fn):
    """``(fn(), n)``: ``n`` is the number of Spark jobs ``fn`` ran, read
    off the status tracker through a job group.  Job counts are
    deterministic where wall time is not, so they pin a code path's
    cost."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------ conflate


def test_conflate_strategies_agree(spark):
    ev = generate_change_events(spark, n_events=1200, n_urls=200, ooo_percent=20)
    a = conflate(ev, ["url"], ["warc_ts", "lsn"], strategy="max_by")
    b = conflate(ev, ["url"], ["warc_ts", "lsn"], strategy="window")
    c = conflate(ev, ["url"], ["warc_ts", "lsn"], strategy="window", salt_buckets=4)
    ka = sorted((r["url"], r["lsn"]) for r in a.collect())
    kb = sorted((r["url"], r["lsn"]) for r in b.collect())
    kc = sorted((r["url"], r["lsn"]) for r in c.collect())
    assert ka == kb == kc
    assert len(ka) == ev.select("url").distinct().count()


# --------------------------------------------------------------- merge


def test_merge_insert_update_delete(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]))
    assert set(_state(t)) == {"a", "b"}
    res, jobs = _count_jobs(
        spark, lambda: merge_apply(t, _events_df(spark, [(3, "update", "a", 20, "A2")]))
    )
    # the CoW MERGE's job count, pinned: a change that adds a job to
    # the epoch body must show up here
    assert res.updated == 1 and jobs == 6, jobs
    st = _state(t)
    assert bytes(st["a"]["html"]).decode() == "A2"
    merge_apply(t, _events_df(spark, [(4, "delete", "b", 21, None)]))
    assert set(_state(t)) == {"a"}
    # tombstone visible on include_deleted read
    assert t.read(include_deleted=True).count() == 2


def test_merge_stale_event_ignored(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 100, "NEW")]))
    merge_apply(t, _events_df(spark, [(2, "update", "a", 50, "OLD")]))  # older warc_ts
    assert bytes(_state(t)["a"]["html"]).decode() == "NEW"


def test_stale_update_cannot_resurrect_after_delete(spark, tmp_path):
    """The tombstone property: delete in epoch 1, stale update in epoch 2."""
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    merge_apply(t, _events_df(spark, [(2, "delete", "a", 100, None)]))
    merge_apply(t, _events_df(spark, [(3, "update", "a", 50, "ZOMBIE")]))
    assert _state(t) == {}


def test_delete_then_reinsert(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    merge_apply(t, _events_df(spark, [(2, "delete", "a", 20, None)]))
    merge_apply(t, _events_df(spark, [(3, "insert", "a", 30, "A3")]))
    st = _state(t)
    assert bytes(st["a"]["html"]).decode() == "A3"


def test_noop_update_rewrites_nothing(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    v = t.current_version()
    # same values, newer order tuple in-batch conflated to identical row
    res = merge_apply(
        t,
        _events_df(spark, [(1, "insert", "a", 10, "A1")]),
    )
    assert res.unchanged == 1 and res.effective_changes == 0
    assert res.snapshot is None  # no commit for a pure no-op
    assert t.current_version() == v


def test_coalesce_column_merge_patches(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    patch = _events_df(spark, [(2, "update", "a", 20, None)])  # html null
    merge_apply(t, patch, column_merge="coalesce")
    st = _state(t)
    assert bytes(st["a"]["html"]).decode() == "A1"  # kept
    assert st["a"]["lsn"] == 2  # order advanced


# ------------------------------------------------------ oracle replay


def _assert_matches_oracle(table, events_df):
    expected = naive_replay([r.asDict() for r in events_df.collect()])
    actual = _state(table)
    assert set(actual) == set(expected)
    for url, row in expected.items():
        got = actual[url]
        assert got["lsn"] == row["lsn"], url
        assert got["warc_ts"] == row["warc_ts"], url
        e_html = bytes(row["html"]) if row["html"] is not None else None
        g_html = bytes(got["html"]) if got["html"] is not None else None
        assert g_html == e_html, url


def test_generated_log_matches_naive_replay(spark, tmp_path):
    ev = generate_change_events(spark, n_events=1000, n_urls=150, ooo_percent=25, delete_percent=15)
    t = _mk_table(spark, tmp_path)
    applier = CdcApplier(t)
    reports = applier.run(ev, epoch_size=200)
    assert sum(r.events_in for r in reports) == ev.count()
    _assert_matches_oracle(t, ev)


def test_replay_equivalence_epoch_sizes(spark, tmp_path):
    """Same log, different epoch chopping → identical final state."""
    ev = generate_change_events(spark, n_events=480, n_urls=80, ooo_percent=30, delete_percent=20)
    t1 = LakeTable.create(
        spark, str(tmp_path / "t1"), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"], 4, soft_delete=True
    )
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"], 4, soft_delete=True
    )
    CdcApplier(t1).run(ev, epoch_size=50)
    CdcApplier(t2).run(ev, epoch_size=1000)
    s1 = {r["url"]: (r["lsn"], bytes(r["html"]) if r["html"] else None) for r in t1.read().collect()}
    s2 = {r["url"]: (r["lsn"], bytes(r["html"]) if r["html"] else None) for r in t2.read().collect()}
    assert s1 == s2


def test_exactly_once_epoch_skip(spark, tmp_path):
    ev = generate_change_events(spark, n_events=200, n_urls=50)
    t = _mk_table(spark, tmp_path)
    a1 = CdcApplier(t)
    a1.run(ev, epoch_size=100)
    v = t.current_version()
    # replay the same epochs from scratch (fresh applier, same table)
    a2 = CdcApplier(t)
    reports = a2.run(ev, epoch_size=100, from_lsn=0)
    assert all(r.skipped for r in reports)
    assert t.current_version() == v
    # merge_apply itself honours an applied epoch id: no job, no commit
    eid = "lsn:0-99"
    assert eid in t.snapshot().applied_epochs
    res, jobs = _count_jobs(
        spark,
        lambda: merge_apply(
            t, _events_df(spark, [(0, "insert", "x", 1, "X")]), epoch_id=eid
        ),
    )
    assert res.snapshot is None and jobs == 0
    assert t.current_version() == v
    assert t.snapshot().applied_epochs.count(eid) == 1
    _assert_matches_oracle(t, ev)


def test_resume_from_checkpoint(spark, tmp_path):
    """Kill mid-run, resume: state reconverges to the full replay."""
    ev = generate_change_events(spark, n_events=300, n_urls=60, ooo_percent=20, delete_percent=15)
    t = _mk_table(spark, tmp_path)
    a = CdcApplier(t)
    a.run(ev, epoch_size=60, max_epochs=2)  # "crash" after 2 epochs
    b = CdcApplier(t)  # new process: recovers watermark from the table
    assert b.last_applied_lsn() == 119
    b.run(ev, epoch_size=60)
    _assert_matches_oracle(t, ev)


def test_hot_url_skew(spark, tmp_path):
    """One url carries ~50% of all events (SURVEY §5 test 5)."""
    ev = generate_change_events(
        spark, n_events=300, n_urls=40, hot_share_percent=50, delete_percent=10, ooo_percent=20
    )
    t = _mk_table(spark, tmp_path, n_buckets=4)
    CdcApplier(t).run(ev, epoch_size=100)
    _assert_matches_oracle(t, ev)


def test_hot_url_skew_salted_window_applier(spark, tmp_path):
    """The explicit-skew knob: window strategy + salt_buckets through
    the applier converges to the same state as the default (light)
    path on a 50%-hot log."""
    ev = generate_change_events(
        spark, n_events=300, n_urls=40, hot_share_percent=50,
        delete_percent=10, ooo_percent=20,
    )
    t = _mk_table(spark, tmp_path, n_buckets=4)
    CdcApplier(t, conflate_strategy="window", salt_buckets=8).run(
        ev, epoch_size=100
    )
    _assert_matches_oracle(t, ev)


def test_lineage_records_offsets_to_snapshots(spark, tmp_path):
    from realdeal_spark.lake.inspect import lineage_df

    ev = generate_change_events(spark, n_events=200, n_urls=50)
    t = _mk_table(spark, tmp_path)
    a = CdcApplier(t)
    a.run(ev, epoch_size=70)
    lin = [r.asDict() for r in lineage_df(t).collect()]
    assert lin, "lineage must not be empty"
    assert all(
        {"snapshot_version", "lsn_start", "lsn_end", "events_in"} <= set(e) for e in lin
    )
    assert sum(e["events_in"] for e in lin) == 200
    # contiguous, non-overlapping offset ranges
    spans = sorted((e["lsn_start"], e["lsn_end"]) for e in lin)
    for (s1, e1), (s2, _) in zip(spans, spans[1:]):
        assert s2 == e1 + 1


def test_auto_conflate_strategy_resolution(spark, tmp_path):
    """auto → light iff a wide payload column exists in the table or
    arrives with the batch; flips when schema evolution adds one."""
    from realdeal_spark.cdc.admission import resolve_strategy

    narrow = LakeTable.create(
        spark, str(tmp_path / "narrow"),
        "url string, warc_ts timestamp_ntz, lsn bigint, score double",
        ["url"], ["warc_ts", "lsn"], 4, soft_delete=True,
    )
    assert resolve_strategy(narrow, narrow.snapshot(), "auto") == "max_by"
    # the op envelope column is not payload: a narrow batch into a
    # narrow table stays on max_by; a batch evolving a blob in does not
    batch = spark.createDataFrame(
        [(0, "insert", "u1", _ts(0), 1.0)],
        "lsn bigint, op string, url string, warc_ts timestamp_ntz, score double",
    )
    assert resolve_strategy(narrow, narrow.snapshot(), "auto", batch=batch) == "max_by"
    evolving = batch.withColumn("html", F.lit(b"x"))
    assert resolve_strategy(narrow, narrow.snapshot(), "auto", batch=evolving) == "light"
    wide = _mk_table(spark, tmp_path)  # has html binary
    assert resolve_strategy(wide, wide.snapshot(), "auto") == "light"
    narrow.add_column("html", "binary")
    assert resolve_strategy(narrow, narrow.snapshot(), "auto") == "light"
    # explicit pin wins
    assert resolve_strategy(wide, wide.snapshot(), "window") == "window"


def test_epoch_gc_gated_on_rows(spark, tmp_path, monkeypatch):
    """The epoch-boundary driver GC must not fire for small epochs:
    it costs a fixed ~0.3-0.5s per System.gc() that a 30k-row bench
    epoch cannot amortize.  Rows accumulate toward GC_MIN_ROWS across
    epochs; skipped (replayed) epochs contribute nothing."""
    from realdeal_spark.cdc import apply as cdc_apply
    from realdeal_spark.cdc.apply import EpochReport

    monkeypatch.setattr(cdc_apply, "GC_MIN_ROWS", 100)
    table = _mk_table(spark, tmp_path)
    a = CdcApplier(table)
    fired = []
    a._fire_driver_gc = lambda: fired.append(True)

    def rep(events_in, skipped=False):
        return EpochReport(
            epoch_id="e", lsn_start=0, lsn_end=0, events_in=events_in,
            conflated=0, inserted=0, updated=0, deleted=0, unchanged=0,
            stale=0, snapshot_version=None, skipped=skipped,
        )

    a._maybe_driver_gc(rep(40))
    a._maybe_driver_gc(rep(40))
    assert fired == []  # 80 < 100: below the rows gate
    a._maybe_driver_gc(rep(1000, skipped=True))
    assert fired == []  # replayed epoch created no state
    a._maybe_driver_gc(rep(40))
    assert fired == [True]  # 120 >= 100: fires and resets
    assert a._rows_since_gc == 0
    a._maybe_driver_gc(rep(40))
    assert fired == [True]


def test_run_lsn_bounds_skips_gap_cells(spark, tmp_path):
    """A sparse lsn range under lsn_bounds must not enumerate empty
    grid cells: with max_epochs the truncation previously selected
    ONLY empty cells (which commit nothing) and the applier
    livelocked at the gap forever (regression)."""
    from realdeal_spark.cdc.apply import CdcApplier

    t = LakeTable.create(
        spark, str(tmp_path / "gap"),
        "url string, warc_ts timestamp_ntz, lsn bigint, v double",
        ["url"], ["warc_ts", "lsn"], n_buckets=4, soft_delete=True,
    )
    import datetime as dt

    rows = [
        ("a", dt.datetime(2024, 1, 1), 5, 1.0, "insert"),
        # gap: nothing between lsn 6 and 9999
        ("b", dt.datetime(2024, 1, 2), 10000, 2.0, "insert"),
    ]
    log = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp_ntz, lsn bigint, v double, op string",
    )
    a = CdcApplier(t)
    reports = a.run(log, epoch_size=100, max_epochs=5, lsn_bounds=(0, 10100))
    # two real cells, zero empty round-trips, progress past the gap
    assert len(reports) == 2
    assert {r["url"] for r in t.read().collect()} == {"a", "b"}
    assert a.last_applied_lsn() >= 10000
    # re-run: everything skips (no livelock, no recompute)
    again = a.run(log, epoch_size=100, max_epochs=5, lsn_bounds=(0, 10100))
    assert all(rep.skipped for rep in again)


def test_light_conflation_collapses_exact_replays_in_batch(spark, tmp_path):
    """At-least-once delivery: the SAME event twice in one batch
    (identical key AND order tuple) must conflate to one row — the
    light path's semi join previously kept both copies and the MERGE
    wrote duplicate key rows (regression)."""
    from realdeal_spark.cdc.conflate import conflate

    rows = [
        (1, 10, "x", "update"),
        (1, 10, "x", "update"),  # exact replay
        (2, 10, "y", "update"),
    ]
    df = spark.createDataFrame(rows, "k bigint, ts bigint, v string, op string")
    out = conflate(df, ["k"], ["ts"], strategy="light")
    assert sorted((r["k"], r["ts"]) for r in out.collect()) == [(1, 10), (2, 10)]
