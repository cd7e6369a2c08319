"""As-of join and range join: semantics vs a DuckDB reference,
plain-vs-bucketed identity, tolerance/direction/how variants, and
plan shape (no cartesian)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from realdeal_spark.operators.asof import asof_join
from realdeal_spark.operators.interval import range_join, suggest_cell


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.fixture(scope="module")
def asof_data(spark):
    # deterministic, collision-bearing timeline: 3 keys, left points
    # interleaved with right updates, incl. exact-tie timestamps and
    # a key with no right rows at all
    left = [
        (k, t, f"L{k}-{t}")
        for k in (1, 2, 3)
        for t in (5.0, 10.0, 17.5, 40.0)
    ]
    right = [
        (1, 4.0, 100), (1, 10.0, 110), (1, 30.0, 120),
        (2, 6.0, 200), (2, 17.5, 210),
        # key 3: no right rows
    ]
    ldf = spark.createDataFrame(left, "k int, ts double, lv string")
    rdf = spark.createDataFrame(right, "k int, ts double, p int")
    return ldf, rdf, left, right


def _duck_asof(left, right, direction="backward", tolerance=None, how="left"):
    con = duckdb.connect()
    con.execute("create table l(k int, ts double, lv varchar)")
    con.execute("create table r(k int, ts double, p int)")
    con.executemany("insert into l values (?,?,?)", left)
    con.executemany("insert into r values (?,?,?)", right)
    op = ">=" if direction == "backward" else "<="
    band = ""
    if tolerance is not None:
        gap = "l.ts - r.ts" if direction == "backward" else "r.ts - l.ts"
        band = f"and {gap} <= {tolerance}"
    jk = "asof left join" if how == "left" else "asof join"
    q = f"""
        select l.k, l.ts, l.lv, r.p
        from l {jk} r on l.k = r.k and l.ts {op} r.ts {band}
    """
    return sorted(tuple(r) for r in con.execute(q).fetchall())


@pytest.mark.parametrize("bucket_width", [None, 7.0, 1000.0])
def test_asof_backward_matches_duckdb(spark, asof_data, bucket_width):
    ldf, rdf, left, right = asof_data
    out = asof_join(
        ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"],
        bucket_width=bucket_width,
    )
    assert _rows(out, ["k", "ts", "lv", "p"]) == _duck_asof(left, right)


@pytest.mark.parametrize("bucket_width", [None, 7.0])
def test_asof_forward_matches_duckdb(spark, asof_data, bucket_width):
    ldf, rdf, left, right = asof_data
    out = asof_join(
        ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"],
        direction="forward", bucket_width=bucket_width,
    )
    assert _rows(out, ["k", "ts", "lv", "p"]) == _duck_asof(
        left, right, direction="forward"
    )


@pytest.mark.parametrize("bucket_width", [None, 7.0])
def test_asof_tolerance_and_inner(spark, asof_data, bucket_width):
    ldf, rdf, left, right = asof_data
    out = asof_join(
        ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"],
        tolerance=5.0, how="inner", bucket_width=bucket_width,
    )
    assert _rows(out, ["k", "ts", "lv", "p"]) == _duck_asof(
        left, right, tolerance=5.0, how="inner"
    )


def test_asof_timestamp_columns(spark):
    ldf = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10"), (1, "2024-01-01 00:01:00")],
        "k int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rdf = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05", 7), (1, "2024-01-01 00:00:59", 8)],
        "k int, rts string, p int",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(
        ldf, rdf, on=["k"], left_ts="ts", right_ts="rts", right_cols=["p"]
    )
    got = {(str(r["ts"]), r["p"]) for r in out.collect()}
    assert got == {("2024-01-01 00:00:10", 7), ("2024-01-01 00:01:00", 8)}
    # tolerance is in seconds for timestamps: 1s band voids the
    # 5s-stale match at 00:00:10 (gap 5s > 1? 5 > 1 → void), keeps
    # the 1s-stale one at 00:01:00
    band = asof_join(
        ldf, rdf, on=["k"], left_ts="ts", right_ts="rts",
        right_cols=["p"], tolerance=1.0,
    )
    got = {(str(r["ts"]), r["p"]) for r in band.collect()}
    assert got == {("2024-01-01 00:00:10", None), ("2024-01-01 00:01:00", 8)}


def test_asof_bucketed_identity_random(spark):
    # 2 hot keys x 400 mixed events with duplicate-free right
    # timestamps: bucketed plan must be row-identical to the plain
    # window at several widths (incl. width smaller than typical gap)
    import random

    rng = random.Random(42)
    left, right = [], []
    for k in (1, 2):
        rts = rng.sample(range(0, 10_000), 150)
        right += [(k, float(t), t * 10 + k) for t in rts]
        lts = rng.sample(range(0, 10_000), 250)
        left += [(k, float(t) + 0.5, f"x{t}") for t in lts]
    ldf = spark.createDataFrame(left, "k int, ts double, lv string")
    rdf = spark.createDataFrame(right, "k int, ts double, p int")
    base = _rows(
        asof_join(ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"]),
        ["k", "ts", "lv", "p"],
    )
    for w in (3.0, 97.0, 5000.0):
        got = _rows(
            asof_join(
                ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"],
                bucket_width=w,
            ),
            ["k", "ts", "lv", "p"],
        )
        assert got == base, f"bucket_width={w} diverged"


def test_asof_validation(spark, asof_data):
    ldf, rdf, _, _ = asof_data
    with pytest.raises(ValueError, match="direction"):
        asof_join(ldf, rdf, on=["k"], left_ts="ts", direction="nearest")
    with pytest.raises(ValueError, match="collide"):
        asof_join(ldf, rdf, on=["k"], left_ts="ts", right_cols=["ts"])
    with pytest.raises(ValueError, match="bucket_width"):
        asof_join(ldf, rdf, on=["k"], left_ts="ts", bucket_width=-1.0)


def test_asof_no_cartesian_plan(spark, asof_data):
    ldf, rdf, _, _ = asof_data
    for w in (None, 7.0):
        plan = asof_join(
            ldf, rdf, on=["k"], left_ts="ts", right_cols=["p"],
            bucket_width=w,
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- range join


@pytest.fixture(scope="module")
def range_data(spark):
    points = [(i, float(i * 7 % 100)) for i in range(60)]
    intervals = [
        (j, float(j * 11 % 90), float(j * 11 % 90) + (j % 13))
        for j in range(25)
    ]
    pdf = spark.createDataFrame(points, "pid int, v double")
    idf = spark.createDataFrame(intervals, "iid int, lo double, hi double")
    return pdf, idf, points, intervals


def _duck_range(points, intervals, how="inner"):
    con = duckdb.connect()
    con.execute("create table p(pid int, v double)")
    con.execute("create table i(iid int, lo double, hi double)")
    con.executemany("insert into p values (?,?)", points)
    con.executemany("insert into i values (?,?,?)", intervals)
    jk = "join" if how == "inner" else "left join"
    q = f"""
        select p.pid, p.v, i.iid, i.lo, i.hi
        from p {jk} i on p.v between i.lo and i.hi
    """
    return sorted(tuple(r) for r in con.execute(q).fetchall())


@pytest.mark.parametrize("cell", [1.0, 5.0, 64.0])
@pytest.mark.parametrize("how", ["inner", "left"])
def test_range_join_matches_duckdb(spark, range_data, cell, how):
    pdf, idf, points, intervals = range_data
    out = range_join(pdf, idf, "v", "lo", "hi", cell=cell, how=how)
    assert _rows(out, ["pid", "v", "iid", "lo", "hi"]) == _duck_range(
        points, intervals, how=how
    )


def test_range_join_extra_equi_keys(spark):
    pdf = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 5.0)], "pid int, g string, v double"
    )
    idf = spark.createDataFrame(
        [("a", 0.0, 10.0, "ia"), ("b", 6.0, 10.0, "ib")],
        "g string, lo double, hi double, tag string",
    )
    out = range_join(pdf, idf, "v", "lo", "hi", cell=4.0, on=["g"])
    assert _rows(out, ["pid", "tag"]) == [(1, "ia")]


def test_range_join_fanout_guard_and_shared_lineage(spark):
    pdf = spark.createDataFrame([(1, 5.0)], "pid int, v double")
    idf = spark.createDataFrame(
        [(1, 0.0, 1e9)], "iid int, lo double, hi double"
    )
    with pytest.raises(Exception, match="spans more than"):
        range_join(pdf, idf, "v", "lo", "hi", cell=1.0).collect()
    # shared-lineage sides (intervals derived from the points) plan
    # without ambiguous-column errors
    base = spark.createDataFrame([(1, 5.0), (2, 9.0)], "pid int, v double")
    iv = base.select(
        F.col("pid").alias("iid"),
        (F.col("v") - 1).alias("lo"),
        (F.col("v") + 1).alias("hi"),
    )
    out = range_join(base, iv, "v", "lo", "hi", cell=2.0)
    assert out.count() == 2


def test_range_join_plan_is_hash_join(spark, range_data):
    pdf, idf, _, _ = range_data
    plan = (
        range_join(pdf, idf, "v", "lo", "hi", cell=8.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_suggest_cell(spark, range_data):
    _, idf, _, intervals = range_data
    w = suggest_cell(idf, "lo", "hi")
    lens = sorted(hi - lo for _, lo, hi in intervals)
    assert 0 < w <= max(lens) + 1


def test_asof_bucketed_handles_null_keys_like_plain(spark):
    """NULL join keys must group together in the bucketed plan exactly
    as Window.partitionBy groups them in the plain plan (regression:
    the carry equi-join was null-unsafe and dropped NULL-key
    matches)."""
    from realdeal_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, 200000.0), (1, 200000.0)], "k int, t double"
    )
    right = spark.createDataFrame(
        [(None, 10.0, "null-key"), (1, 10.0, "one")],
        "k int, rt double, v string",
    )
    plain = asof_join(left, right, on=["k"], left_ts="t", right_ts="rt")
    bucketed = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        bucket_width=86400.0,
    )
    key = lambda df: sorted(  # noqa: E731
        ((r["k"] is None, r["k"]), r["v"]) for r in df.collect()
    )
    assert (
        key(bucketed)
        == key(plain)
        == [((False, 1), "one"), ((True, None), "null-key")]
    )


def test_asof_on_typo_raises(spark):
    from realdeal_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5.0)], "user_id int, t double")
    right = spark.createDataFrame([(1, 1.0, "x")], "user int, rt double, v string")
    with pytest.raises(ValueError, match="missing"):
        asof_join(left, right, on=["user"], left_ts="t", right_ts="rt")


def test_range_join_string_typed_numerics_match_grid(spark):
    """String-typed numeric bounds must BETWEEN numerically, not
    lexicographically (regression: refine compared raw strings while
    the grid cells compared doubles — '9' <= '15' was false)."""
    from realdeal_spark.operators.interval import range_join

    pts = spark.createDataFrame([("15",)], "p string")
    ivs = spark.createDataFrame([("9", "100")], "lo string, hi string")
    got = range_join(pts, ivs, point_col="p", lo_col="lo", hi_col="hi", cell=8.0)
    assert got.count() == 1
    # bigint sides past 2^53 refine exactly: 2^53 + 1 rounds to the
    # double 2^53 == hi, yet lies outside [2^53 - 10, 2^53]
    big = 2**53
    pts = spark.createDataFrame([(1, big + 1), (2, big - 1)], "pid int, p bigint")
    ivs = spark.createDataFrame([(big - 10, big)], "lo bigint, hi bigint")
    got = range_join(pts, ivs, point_col="p", lo_col="lo", hi_col="hi", cell=8.0)
    assert [r["pid"] for r in got.collect()] == [2]
