"""Table-to-table CDC replication (cdc/replicate): a replica fed only
by the changes feed must converge to the source state — across
interval chops, bucket-count changes, deletes, replays, schema
evolution, and the streaming path."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from realdeal_spark.cdc.replicate import (
    create_replica,
    replica_surface,
    replicate_interval,
)
from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.streaming.cdf_source import maintainer_lag, stream_maintain

SCHEMA = "k string, ts timestamp_ntz, lsn bigint, cat string, v double"


def _mk(spark, tmp_path, name="src", n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=n_buckets, soft_delete=True,
    )


def _ev(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (k, base + dt.timedelta(seconds=lsn), lsn, cat, v, op)
            for (lsn, op, k, cat, v) in rows
        ],
        SCHEMA + ", op string",
    )


def _state(t):
    return sorted(
        (r["k"], r["ts"], r["lsn"], r["cat"], r["v"])
        for r in t.read().collect()
    )


def _seed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (i, "insert", f"k{i % 30}", "x" if i % 2 else "y", float(i))
        for i in range(1, 31)
    ]))
    merge_apply(t, _ev(spark, [
        (40 + i, "update", f"k{i}", "z", float(i) * 2) for i in range(10)
    ] + [
        (60 + i, "delete", f"k{20 + i}", None, None) for i in range(5)
    ]))
    merge_apply(t, _ev(spark, [
        (80, "insert", "k21", "w", 7.0),   # resurrect a deleted key
        (81, "insert", "new1", "w", 8.0),
    ]))
    return t


def test_replica_converges_whole_range(spark, tmp_path):
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    v0 = src.versions()[0]
    replicate_interval(src, dst, v0, src.current_version())
    assert _state(dst) == _state(src)


def test_replica_converges_per_epoch_and_rebucketted(spark, tmp_path):
    """Interval chopping must not matter, and the replica may hash
    into a different bucket count (the re-partitioned replica)."""
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"), n_buckets=7)
    assert dst.snapshot().n_buckets == 7
    vs = src.versions()
    for a, b in zip(vs, vs[1:]):
        replicate_interval(src, dst, a, b)
    assert _state(dst) == _state(src)


def test_replayed_interval_is_noop(spark, tmp_path):
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    vs = src.versions()
    replicate_interval(src, dst, vs[0], vs[1])
    v_after = dst.current_version()
    r = replicate_interval(src, dst, vs[0], vs[1])  # replay
    assert r is None or r.snapshot is None
    assert dst.current_version() == v_after
    replicate_interval(src, dst, vs[1], vs[-1])
    assert _state(dst) == _state(src)


def test_schema_evolution_propagates(spark, tmp_path):
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    v_mid = src.current_version()
    replicate_interval(src, dst, src.versions()[0], v_mid)
    src.add_column("score", "double")
    ev = _ev(spark, [(90, "update", "k1", "e", 1.5)]).withColumn(
        "score", F.lit(0.25)
    )
    merge_apply(src, ev)
    replicate_interval(src, dst, v_mid, src.current_version())
    assert "score" in dst.read().columns
    assert _state(dst) == _state(src)
    got = {r["k"]: r["score"] for r in dst.read().collect()}
    assert got["k1"] == 0.25 and got["k2"] is None


def test_stream_replicate_with_restart(spark, tmp_path):
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"), n_buckets=2)
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(
        replica_surface(src, dst), ckpt, max_versions_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert _state(dst) == _state(src)
    # more source commits, then a fresh query off the same checkpoint
    merge_apply(src, _ev(spark, [
        (100, "update", "k3", "q", 99.0),
        (101, "delete", "new1", None, None),
    ]))
    q2 = stream_maintain(replica_surface(src, dst), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    assert _state(dst) == _state(src)


def test_out_of_order_protection_carries_to_replica(spark, tmp_path):
    """A replica that already holds a NEWER row for a key (manual
    write, or an interval applied ahead) must reject the stale
    overlap, exactly like the source would."""
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    vs = src.versions()
    # apply the whole range first (dst is current)
    replicate_interval(src, dst, vs[0], vs[-1])
    # then replay an EARLY interval without the epoch guard by faking a
    # different interval id: stale rows must lose to order columns
    ch = src.read_changes(vs[0], vs[1])
    ev = ch.withColumn(
        "op",
        F.when(F.col("change_type") == "delete", F.lit("delete"))
        .otherwise(F.lit("update")),
    ).drop("change_type")
    merge_apply(dst, ev, epoch_id="stale-replay")
    assert _state(dst) == _state(src)


def test_replication_watermark_and_lag(spark, tmp_path):
    from realdeal_spark.cdc.replicate import replica_watermark

    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    surface = replica_surface(src, dst)
    assert replica_watermark(dst) is None
    assert maintainer_lag(surface)["versions_behind"] is None
    vs = src.versions()
    replicate_interval(src, dst, vs[0], vs[1])
    assert replica_watermark(dst) == vs[1]
    lag = maintainer_lag(surface)
    assert lag["versions_behind"] == src.current_version() - vs[1] > 0
    replicate_interval(src, dst, vs[1], src.current_version())
    assert maintainer_lag(surface)["versions_behind"] == 0


def test_inverted_or_empty_interval_is_noop(spark, tmp_path):
    src = _seed(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    vs = src.versions()
    replicate_interval(src, dst, vs[0], vs[-1])
    v_after = dst.current_version()
    assert replicate_interval(src, dst, vs[-1], vs[-1]) is None
    assert replicate_interval(src, dst, vs[-1], vs[0]) is None
    assert dst.current_version() == v_after
