"""SCD2 history reconstruction (lake.scd.history_rows) and
point-in-time enrichment (enrich_asof): validity intervals match the
commit clock, and enrichment equals a per-timestamp read_asof lookup."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.scd import enrich_asof, history_rows

SCHEMA = "k string, ts timestamp_ntz, lsn bigint, v double"


def _mk(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )


def _ev(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (k, base + dt.timedelta(seconds=lsn), lsn, v, op)
            for (lsn, op, k, v) in rows
        ],
        SCHEMA + ", op string",
    )


@pytest.fixture()
def table3(spark, tmp_path):
    """Three epochs: insert a+b, update a + insert c, delete b."""
    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (1, "insert", "a", 1.0), (2, "insert", "b", 2.0),
    ]))
    time.sleep(0.05)
    merge_apply(t, _ev(spark, [
        (3, "update", "a", 10.0), (4, "insert", "c", 3.0),
    ]))
    time.sleep(0.05)
    merge_apply(t, _ev(spark, [(5, "delete", "b", None)]))
    return t


def test_history_rows_intervals(spark, table3):
    t = table3
    hist = history_rows(t)
    rows = sorted(
        (r["k"], r["_commit_version"], r["_live"],
         r["_valid_to"] is None, r["v"])
        for r in hist.collect()
    )
    vs = t.versions()  # [1(create), 2, 3, 4]
    v2, v3, v4 = vs[1], vs[2], vs[3]
    assert rows == sorted([
        ("a", v2, True, False, 1.0),      # superseded by the update
        ("a", v3, True, True, 10.0),      # current
        ("b", v2, True, False, 2.0),      # ended by the delete
        ("b", v4, False, True, None),     # tombstone interval, open
        ("c", v3, True, True, 3.0),       # current
    ])
    # validity chains per key: valid_to of the old row == valid_from
    # of its successor, and stamps follow the commit clock
    a = {r["_commit_version"]: r for r in hist.where("k='a'").collect()}
    assert a[v2]["_valid_to"] == a[v3]["_valid_from"]
    s2 = t.snapshot(v2).summary["committed_at"]
    s3 = t.snapshot(v3).summary["committed_at"]
    assert a[v2]["_valid_from"] == pytest.approx(s2)
    assert a[v3]["_valid_from"] == pytest.approx(s3)


def test_enrich_asof_equals_read_asof(spark, table3):
    t = table3
    vs = t.versions()
    stamps = [t.snapshot(v).summary["committed_at"] for v in vs[1:]]
    # facts straddling every interval boundary, incl. before-history
    # and after-current, for keys a (updated), b (deleted), d (never)
    probes = (
        [stamps[0] - 10.0]
        + [s + 0.01 for s in stamps]
        + [time.time() + 60]
    )
    facts = spark.createDataFrame(
        [(k, p, i) for i, p in enumerate(probes) for k in ("a", "b", "d")],
        "k string, fts double, fid int",
    )
    got = {
        (r["k"], r["fid"]): r["v"]
        for r in enrich_asof(facts, t, on=["k"], fact_ts="fts").collect()
    }
    # oracle: one read_asof lookup per probe timestamp
    for i, p in enumerate(probes):
        try:
            state = {
                r["k"]: r["v"] for r in t.read_asof(p).collect()
            }
        except ValueError:
            state = {}
        for k in ("a", "b", "d"):
            assert got[(k, i)] == state.get(k), (k, i, p)


def test_enrich_asof_bucketed_identity_and_validation(spark, table3):
    t = table3
    facts = spark.createDataFrame(
        [("a", time.time(), 1)], "k string, fts double, fid int"
    )
    plain = enrich_asof(facts, t, on=["k"], fact_ts="fts").collect()
    bucketed = enrich_asof(
        facts, t, on=["k"], fact_ts="fts", bucket_width=3600.0
    ).collect()
    assert plain == bucketed
    with pytest.raises(ValueError, match="collide"):
        enrich_asof(
            facts.withColumnRenamed("fid", "v"), t, on=["k"], fact_ts="fts"
        )
    with pytest.raises(ValueError, match="no retained versions"):
        history_rows(t, from_version=10_000)


def test_history_rows_after_expire_and_evolution(spark, table3):
    """Expiring old snapshots shortens history (the first retained
    version's full state seeds it); schema evolution mid-history
    union-aligns."""
    t = table3
    t.add_column("lang", "string")
    merge_apply(t, _ev(spark, [
        (6, "update", "a", 20.0),
    ]).withColumn("lang", F.lit("de")))
    hist = history_rows(t)
    a = sorted(
        (r["v"], r["lang"]) for r in hist.where("k='a'").collect()
    )
    assert a == [(1.0, None), (10.0, None), (20.0, "de")]
    t.expire_snapshots(keep_last=2)
    hist2 = history_rows(t)
    # only the last two versions remain: the seed state + one epoch
    assert hist2.where("k='a'").count() <= 2
    cur = hist2.where("k='a' and _valid_to is null").first()
    assert cur["v"] == 20.0 and cur["lang"] == "de"


# ---------------------------------------------------------------------------
# Maintained history (create_history_table / advance_history)
# ---------------------------------------------------------------------------

from realdeal_spark.lake.scd import (  # noqa: E402
    advance_history,
    create_history_table,
    history_watermark,
    read_history_asof,
)


def _hist_set(df):
    cols = sorted(c for c in df.columns if c != "_ord")
    rows = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(
        rows, key=lambda t: tuple((v is None, v) for v in t)
    )


def test_advance_history_per_epoch_matches_history_rows(spark, table3, tmp_path):
    t = table3
    h = create_history_table(t, str(tmp_path / "h"))
    vs = t.versions()
    # bootstrap to the first data version, then advance epoch by epoch
    assert advance_history(t, h, to_version=vs[1]) is not None
    assert history_watermark(h) == vs[1]
    for v in vs[2:]:
        assert advance_history(t, h, to_version=v) is not None
    assert history_watermark(h) == vs[-1]
    assert _hist_set(h.read()) == _hist_set(history_rows(t))
    # replayed interval: epoch guard no-ops
    assert advance_history(t, h, to_version=vs[-1]) is None


def test_advance_history_one_shot_and_rechop_converge(spark, table3, tmp_path):
    t = table3
    want = _hist_set(history_rows(t))
    # one multi-version advance (bootstrap straight to head)
    h1 = create_history_table(t, str(tmp_path / "h1"))
    advance_history(t, h1)
    assert _hist_set(h1.read()) == want
    # bootstrap to v2 then one advance spanning v3..v4 (steady-state
    # multi-pair interval)
    vs = t.versions()
    h2 = create_history_table(t, str(tmp_path / "h2"))
    advance_history(t, h2, to_version=vs[1])
    advance_history(t, h2)
    assert _hist_set(h2.read()) == want


def test_advance_history_mor_and_asof_serving(spark, table3, tmp_path):
    t = table3
    h = create_history_table(t, str(tmp_path / "h"))
    vs = t.versions()
    advance_history(t, h, to_version=vs[1], mode="mor")
    for v in vs[2:]:
        advance_history(t, h, to_version=v, mode="mor")
    assert _hist_set(h.read()) == _hist_set(history_rows(t))
    # read_history_asof == read_asof at every commit stamp + epsilon
    for v in vs[1:]:
        at = t.snapshot(v).summary["committed_at"] + 0.001
        want = sorted(
            (r["k"], r["v"]) for r in t.read_asof(at).collect()
        )
        got = sorted(
            (r["k"], r["v"])
            for r in read_history_asof(h, at).collect()
        )
        assert got == want, v


def test_advance_history_schema_evolution_and_expiry(spark, table3, tmp_path):
    t = table3
    h = create_history_table(t, str(tmp_path / "h"))
    advance_history(t, h)
    t.add_column("lang", "string")
    merge_apply(t, _ev(spark, [(6, "update", "a", 20.0)]).withColumn(
        "lang", F.lit("de")
    ))
    advance_history(t, h)
    assert _hist_set(h.read()) == _hist_set(history_rows(t))
    cur = h.read().where("k='a' and _valid_to is null").first()
    assert cur["v"] == 20.0 and cur["lang"] == "de"
    # expire the watermark version out of src: advance must refuse
    merge_apply(t, _ev(spark, [(7, "update", "c", 30.0)]).withColumn(
        "lang", F.lit(None).cast("string")
    ))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="no longer a retained"):
        advance_history(t, h)


def test_history_collision_and_empty_guard(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA + ", _live boolean",
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )
    with pytest.raises(ValueError, match="collide"):
        create_history_table(t, str(tmp_path / "h"))
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )
    h = create_history_table(t2, str(tmp_path / "h2"))
    assert advance_history(t2, h) is None  # nothing past create
    assert history_watermark(h) is None


def test_stream_maintain_history_tracks_base(spark, table3, tmp_path):
    from realdeal_spark.lake.scd import history_surface
    from realdeal_spark.streaming import stream_maintain

    t = table3
    h = create_history_table(t, str(tmp_path / "h"))
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(
        history_surface(t, h), ckpt, max_versions_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert _hist_set(h.read()) == _hist_set(history_rows(t))
    # more base commits; fresh query off the same checkpoint resumes
    merge_apply(t, _ev(spark, [(9, "update", "b", 77.0)]))
    q2 = stream_maintain(history_surface(t, h), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    assert _hist_set(h.read()) == _hist_set(history_rows(t))
    cur = h.read().where("k='b' and _valid_to is null").first()
    assert cur["v"] == 77.0
