"""Streaming changes-feed source (streaming/cdf_source): a LakeTable
as a Structured Streaming source — version-tail descriptors with
Spark-checkpointed offsets handed to the consumer per micro-batch; a
maintained rollup riding it through stream_maintain with exactly-once
semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from realdeal_spark.cdc.rollup import (
    Measure,
    create_rollup_table,
    rollup_full,
    rollup_surface,
)
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable
from realdeal_spark.streaming.cdf_source import (
    foreach_changes,
    stream_changes,
    stream_maintain,
)

SCHEMA = "k string, ts timestamp_ntz, lsn bigint, cat string, v double"


def _mk(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )


def _ev(spark, rows):
    """rows: (lsn, op, k, sec, cat, v)."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (k, base + dt.timedelta(seconds=sec), lsn, cat, v, op)
            for (lsn, op, k, sec, cat, v) in rows
        ],
        SCHEMA + ", op string",
    )


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def _seed(spark, tmp_path):
    """Table with three committed epochs; returns (table, [v1, v2, v3])
    where v1 is the FIRST data commit (create itself commits an empty
    snapshot below it — that empty snapshot is what 'earliest' means)."""
    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (1, "insert", "a", 10, "x", 1.0),
        (2, "insert", "b", 11, "x", 2.0),
    ]))
    v1 = t.current_version()
    merge_apply(t, _ev(spark, [
        (3, "insert", "c", 12, "y", 3.0),
        (4, "update", "a", 13, "y", 5.0),
    ]))
    v2 = t.current_version()
    merge_apply(t, _ev(spark, [(5, "delete", "b", 14, None, None)]))
    v3 = t.current_version()
    return t, [v1, v2, v3]


def test_descriptor_stream_tails_from_earliest(spark, tmp_path):
    t, (v1, v2, v3) = _seed(spark, tmp_path)
    v0 = t.versions()[0]  # the empty create snapshot
    seen: list[tuple[int, int]] = []
    q = foreach_changes(
        t, lambda fv, tv: seen.append((fv, tv)), str(tmp_path / "ckpt"),
        starting_version="earliest",
    )
    _drain(q)
    # one descriptor netting the whole committed interval
    assert seen == [(v0, v3)]


def test_max_versions_per_trigger_paces_epochs(spark, tmp_path):
    t, (v1, v2, v3) = _seed(spark, tmp_path)
    seen: list[tuple[int, int]] = []
    q = foreach_changes(
        t,
        lambda fv, tv: seen.append((fv, tv)),
        str(tmp_path / "ckpt"),
        starting_version=v1,
        max_versions_per_trigger=1,
    )
    _drain(q)
    assert seen == [(v1, v2), (v2, v3)]


def test_starting_latest_sees_only_new_commits(spark, tmp_path):
    t, (v1, v2, v3) = _seed(spark, tmp_path)
    seen: list[tuple[int, int]] = []
    q = foreach_changes(
        t, lambda fv, tv: seen.append((fv, tv)), str(tmp_path / "c1")
    )
    q.processAllAvailable()
    assert seen == []  # nothing committed since stream start
    merge_apply(t, _ev(spark, [(6, "insert", "d", 20, "z", 7.0)]))
    v4 = t.current_version()
    _drain(q)
    assert seen == [(v3, v4)]


def test_restart_resumes_from_checkpoint_no_overlap(spark, tmp_path):
    t, (v1, v2, v3) = _seed(spark, tmp_path)
    v0 = t.versions()[0]
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, int]] = []
    q = foreach_changes(
        t, lambda fv, tv: seen.append((fv, tv)), ckpt,
        starting_version="earliest",
    )
    _drain(q)
    assert seen == [(v0, v3)]
    merge_apply(t, _ev(spark, [(7, "insert", "e", 30, "z", 9.0)]))
    v4 = t.current_version()
    q2 = foreach_changes(
        t, lambda fv, tv: seen.append((fv, tv)), ckpt,
        starting_version="earliest",  # ignored: checkpoint wins
    )
    _drain(q2)
    assert seen == [(v0, v3), (v3, v4)]


def test_bad_starting_version_rejected(spark, tmp_path):
    t, _ = _seed(spark, tmp_path)
    q = foreach_changes(
        t, lambda fv, tv: None, str(tmp_path / "ckpt"),
        starting_version=999,
    )
    with pytest.raises(Exception, match="not a live snapshot"):
        _drain(q)


MEASURES = [
    Measure("n_rows", "count"),
    Measure("sum_v", "sum", "v"),
    Measure("max_ts", "max", "ts"),
]


def _norm(df):
    return sorted(
        (r["cat"], r["n_rows"], float(r["sum_v"]), r["max_ts"])
        for r in df.collect()
    )


def test_stream_maintained_rollup_matches_full(spark, tmp_path):
    t, _ = _seed(spark, tmp_path)
    st = create_rollup_table(t, str(tmp_path / "state"), ["cat"], MEASURES)
    s = rollup_surface(t, st, ["cat"], MEASURES)
    s.advance()  # bootstrap at v3
    # two more epochs while the consumer is running
    q = stream_maintain(s, str(tmp_path / "ckpt"))
    merge_apply(t, _ev(spark, [
        (8, "insert", "f", 40, "x", 11.0),
        (9, "update", "c", 41, "x", 13.0),   # cat y -> x
    ]))
    merge_apply(t, _ev(spark, [(10, "delete", "a", 42, None, None)]))
    _drain(q)
    assert s.watermark() == t.current_version()
    assert _norm(st.read()) == _norm(
        rollup_full(t, ["cat"], MEASURES)
    )


def test_stream_maintained_rollup_restart_is_idempotent(spark, tmp_path):
    t, _ = _seed(spark, tmp_path)
    sd = str(tmp_path / "state")
    st = create_rollup_table(t, sd, ["cat"], MEASURES)
    s = rollup_surface(t, st, ["cat"], MEASURES)
    s.advance()
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(s, ckpt)
    merge_apply(t, _ev(spark, [(11, "insert", "g", 50, "y", 17.0)]))
    _drain(q)
    v_after = t.current_version()
    assert s.watermark() == v_after
    # restart with a FRESH surface over the same state table and the
    # same checkpoint: nothing new to do, state must not regress
    st2 = LakeTable(spark, sd)
    s2 = rollup_surface(t, st2, ["cat"], MEASURES)
    q2 = stream_maintain(s2, ckpt)
    merge_apply(t, _ev(spark, [(12, "insert", "h", 60, "x", 19.0)]))
    _drain(q2)
    assert s2.watermark() == t.current_version()
    assert _norm(st2.read()) == _norm(
        rollup_full(t, ["cat"], MEASURES)
    )


def test_descriptor_schema_and_raw_stream(spark, tmp_path):
    t, _ = _seed(spark, tmp_path)
    df = stream_changes(spark, t.root, starting_version="earliest")
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "from_version", "to_version",
    ]


def test_max_versions_pacing_jumps_expiry_gaps(spark, tmp_path):
    """expire_snapshots can leave version gaps (a tagged old snapshot
    pinned while intermediates drop); the pacer must clamp descriptors
    to RETAINED versions — an interval ending on a dropped version
    would wedge the stream permanently (regression)."""
    t, (v1, v2, v3) = _seed(spark, tmp_path)
    t.set_tag("base", version=v1)
    t.expire_snapshots(keep_last=1)
    vs = t.versions()
    assert v1 in vs and v2 not in vs  # the gap is real
    seen: list[tuple[int, int]] = []
    q = foreach_changes(
        t,
        lambda fv, tv: seen.append((fv, tv)),
        str(tmp_path / "ckpt_gap"),
        starting_version=v1,
        max_versions_per_trigger=1,
    )
    _drain(q)
    # one hop across the gap, landing on the retained head
    assert seen == [(v1, v3)]


def test_gap_jump_past_budget_logs_warning(spark, tmp_path, caplog):
    """A gap-jump past maxVersionsPerTrigger still lands on a retained
    version, but the oversize batch is logged with both versions."""
    import logging

    from realdeal_spark.streaming.cdf_source import LakeChangesStreamReader

    t, (v1, v2, v3) = _seed(spark, tmp_path)
    t.set_tag("base", version=v1)
    t.expire_snapshots(keep_last=1)
    reader = LakeChangesStreamReader(
        {"path": t.root, "maxversionspertrigger": "1"}
    )
    with caplog.at_level(logging.WARNING):
        rows, end = reader.read({"version": v1})
    assert list(rows) == [(v1, v3)] and end == {"version": v3}
    msg = " ".join(r.getMessage() for r in caplog.records)
    assert f"v{v1}" in msg and f"v{v3}" in msg
    assert "maxVersionsPerTrigger=1" in msg
