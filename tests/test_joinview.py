"""Maintained join view (cdc/joinview.py): the view must equal
``fact LEFT JOIN dim`` after any interleaving of fact and dim epochs,
advanced only through the two changes feeds."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from realdeal_spark.cdc.joinview import (
    advance_join_view,
    create_join_view,
    join_view_surface,
    join_view_watermark,
)
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable
from realdeal_spark.streaming.cdf_source import maintainer_lag, stream_maintain

FACT_SCHEMA = "k bigint, ts bigint, fk bigint, val double"
DIM_SCHEMA = "dk bigint, dts bigint, label string, weight double"


def _mk_tables(spark, root):
    fact = LakeTable.create(
        spark, f"{root}/fact", FACT_SCHEMA,
        key_columns=["k"], order_columns=["ts"],
        n_buckets=4, soft_delete=True,
    )
    dim = LakeTable.create(
        spark, f"{root}/dim", DIM_SCHEMA,
        key_columns=["dk"], order_columns=["dts"],
        n_buckets=4, soft_delete=True,
    )
    view = create_join_view(fact, dim, {"fk": "dk"}, f"{root}/view")
    return fact, dim, view


def _apply(table, spark, schema, rows, op_default="update"):
    df = spark.createDataFrame(rows, schema + ", op string")
    merge_apply(table, df, epoch_id=f"t:{table.current_version()}")


def _expected(fact, dim):
    f = fact.read()
    d = (
        dim.read()
        .select(F.col("dk").alias("fk"), "label", "weight")
    )
    return f.join(d, on="fk", how="left")


def _rows(df, cols=("k", "ts", "fk", "val", "label", "weight")):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def _assert_converged(fact, dim, view):
    assert _rows(view.read()) == _rows(_expected(fact, dim))


@pytest.fixture()
def jv(spark, tmp_path):
    return _mk_tables(spark, str(tmp_path))


F1 = [
    (1, 10, 100, 1.0, "update"),
    (2, 10, 100, 2.0, "update"),
    (3, 10, 200, 3.0, "update"),
    (4, 10, None, 4.0, "update"),  # null fk → null-enriched
]
D1 = [
    (100, 10, "a-v1", 0.5, "update"),
    (200, 10, "b-v1", 0.6, "update"),
    (300, 10, "c-v1", 0.7, "update"),  # no referrers
]


def test_bootstrap_equals_full_join(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    res = advance_join_view(fact, dim, view, {"fk": "dk"})
    assert res is not None and res.snapshot is not None
    _assert_converged(fact, dim, view)
    assert join_view_watermark(view) == (
        fact.current_version(), dim.current_version()
    )


def test_fact_side_advance(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    # epoch 2: update k=1 (fk change 100→200), insert k=5, delete k=2
    _apply(fact, spark, FACT_SCHEMA, [
        (1, 20, 200, 1.5, "update"),
        (5, 20, 300, 5.0, "update"),
        (2, 20, 100, 2.0, "delete"),
    ])
    advance_join_view(fact, dim, view, {"fk": "dk"})
    _assert_converged(fact, dim, view)
    got = {r["k"]: (r["label"], r["val"]) for r in view.read().collect()}
    assert got[1] == ("b-v1", 1.5)  # fk change re-enriched
    assert got[5] == ("c-v1", 5.0)
    assert 2 not in got


def test_dim_side_propagation(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    # dim epoch: relabel 100, delete 200
    _apply(dim, spark, DIM_SCHEMA, [
        (100, 20, "a-v2", 0.9, "update"),
        (200, 20, "b-v1", 0.6, "delete"),
    ])
    advance_join_view(fact, dim, view, {"fk": "dk"})
    _assert_converged(fact, dim, view)
    got = {r["k"]: r["label"] for r in view.read().collect()}
    assert got[1] == "a-v2" and got[2] == "a-v2"  # update propagated
    assert got[3] is None  # dim delete → null-enriched, row kept
    # late re-insert re-enriches
    _apply(dim, spark, DIM_SCHEMA, [(200, 30, "b-v2", 0.65, "update")])
    advance_join_view(fact, dim, view, {"fk": "dk"})
    _assert_converged(fact, dim, view)


def test_interleaved_epochs_converge(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    advance_join_view(fact, dim, view, {"fk": "dk"})  # dim still empty
    _assert_converged(fact, dim, view)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    _assert_converged(fact, dim, view)
    # simultaneous fact + dim epochs in ONE advance
    _apply(fact, spark, FACT_SCHEMA, [
        (1, 20, 300, 1.1, "update"),
        (6, 20, 100, 6.0, "update"),
    ])
    _apply(dim, spark, DIM_SCHEMA, [(100, 20, "a-v2", 0.8, "update")])
    advance_join_view(fact, dim, view, {"fk": "dk"})
    _assert_converged(fact, dim, view)
    got = {r["k"]: r["label"] for r in view.read().collect()}
    assert got[6] == "a-v2"  # fact-side row saw dim@v2, not v1
    assert got[2] == "a-v2"  # dim-side refresh of untouched referrer


def test_replay_is_noop_and_lag(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    v = view.current_version()
    assert advance_join_view(fact, dim, view, {"fk": "dk"}) is None
    assert view.current_version() == v
    m = join_view_surface(fact, dim, view, {"fk": "dk"})
    assert maintainer_lag(m)["versions_behind"] == 0
    assert join_view_watermark(view)[1] == dim.current_version()


def test_irrelevant_dim_epoch_marker_advances_watermark(spark, jv):
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    # dim epoch touching only the referrer-less key 300
    _apply(dim, spark, DIM_SCHEMA, [(300, 20, "c-v2", 0.75, "update")])
    res = advance_join_view(fact, dim, view, {"fk": "dk"})
    assert res is not None and res.snapshot is not None
    assert join_view_watermark(view) == (
        fact.current_version(), dim.current_version()
    )
    _assert_converged(fact, dim, view)


def test_mor_mode_matches(spark, tmp_path):
    fact, dim, view = _mk_tables(spark, str(tmp_path))
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"}, mode="mor")
    _apply(dim, spark, DIM_SCHEMA, [(100, 20, "a-v2", 0.9, "update")])
    _apply(fact, spark, FACT_SCHEMA, [(3, 20, 100, 3.3, "update")])
    advance_join_view(fact, dim, view, {"fk": "dk"}, mode="mor")
    _assert_converged(fact, dim, view)


def test_fk_index_arrangement_path(spark, tmp_path):
    from realdeal_spark.lake.valueindex import create_value_index

    fact, dim, view = _mk_tables(spark, str(tmp_path))
    idx = create_value_index(view, f"{tmp_path}/fkidx", "fk", n_buckets=4)
    m = join_view_surface(fact, dim, view, {"fk": "dk"}, fk_index=idx)
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    m.advance()
    _apply(dim, spark, DIM_SCHEMA, [
        (100, 20, "a-v2", 0.9, "update"),
        (200, 20, "b-v1", 0.6, "delete"),
    ])
    m.advance()
    _assert_converged(fact, dim, view)
    got = {r["k"]: r["label"] for r in view.read().collect()}
    assert got[1] == "a-v2" and got[3] is None
    # a single-column arrangement cannot serve a composite join
    with pytest.raises(ValueError, match="single-column"):
        advance_join_view(
            fact, dim, view, [("fk", "dk"), ("k", "dts")], fk_index=idx
        )


def test_streaming_maintainer(spark, tmp_path):
    fact, dim, view = _mk_tables(spark, str(tmp_path))
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    _apply(fact, spark, FACT_SCHEMA, [(5, 20, 200, 5.0, "update")])
    q = stream_maintain(
        join_view_surface(fact, dim, view, {"fk": "dk"}),
        f"{tmp_path}/ckpt",
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    _assert_converged(fact, dim, view)
    # a dim-only edit rides the next drain even with no fact traffic
    _apply(dim, spark, DIM_SCHEMA, [(200, 30, "b-v2", 0.66, "update")])
    q = stream_maintain(
        join_view_surface(fact, dim, view, {"fk": "dk"}),
        f"{tmp_path}/ckpt",
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    _assert_converged(fact, dim, view)


def test_fact_schema_evolution_propagates(spark, jv):
    """north_rule: schema evolution rides the maintained surfaces —
    a column added to the FACT table mid-stream must appear in the
    view (auto_evolve reconcile) and carry values for rows touched
    after the evolution, null for untouched older rows."""
    fact, dim, view = jv
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    advance_join_view(fact, dim, view, {"fk": "dk"})
    fact.add_column("src", "string")
    _apply(
        fact, spark, FACT_SCHEMA + ", src string",
        [(1, 20, 100, 1.5, "crawl-b", "update"),
         (7, 20, 200, 7.0, "crawl-b", "update")],
    )
    advance_join_view(fact, dim, view, {"fk": "dk"})
    assert "src" in view.read().columns
    got = {r["k"]: (r["src"], r["label"]) for r in view.read().collect()}
    assert got[1] == ("crawl-b", "a-v1")
    assert got[7] == ("crawl-b", "b-v1")
    assert got[2][0] is None  # untouched pre-evolution row
    # dim-side refresh afterwards must preserve the evolved column
    _apply(dim, spark, DIM_SCHEMA, [(100, 20, "a-v2", 0.9, "update")])
    advance_join_view(fact, dim, view, {"fk": "dk"})
    got = {r["k"]: (r["src"], r["label"]) for r in view.read().collect()}
    assert got[1] == ("crawl-b", "a-v2")
    assert got[2] == (None, "a-v2")


def test_maintainer_compaction_amortizer(spark, jv):
    """compact_every folds the view's MoR delta stack without
    disturbing convergence, watermarks, or replay idempotence
    (compaction is a maintenance commit the feed skips)."""
    fact, dim, view = jv
    m = join_view_surface(
        fact, dim, view, {"fk": "dk"}, mode="mor", compact_every=2,
    )
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    m.advance()  # 1st effective advance
    _apply(fact, spark, FACT_SCHEMA, [(5, 20, 200, 5.0, "update")])
    m.advance()  # 2nd → compacts
    snap = view.snapshot()
    assert snap.summary.get("operation") == "compact"
    wm = join_view_watermark(view)
    _assert_converged(fact, dim, view)
    # replay after compaction: still a no-op, watermark unchanged
    assert m.advance() is None
    assert join_view_watermark(view) == wm
    # and the next real epoch advances straight across the compaction
    _apply(dim, spark, DIM_SCHEMA, [(200, 30, "b-v2", 0.7, "update")])
    m.advance()
    _assert_converged(fact, dim, view)


def test_streaming_maintainer_with_compaction(spark, tmp_path):
    """compact_every through the STREAMING entry point: the drain
    still converges, the view history shows a compact commit, and a
    checkpointed re-drain after compaction replays nothing."""
    fact, dim, view = _mk_tables(spark, str(tmp_path))
    _apply(fact, spark, FACT_SCHEMA, F1)
    _apply(dim, spark, DIM_SCHEMA, D1)
    _apply(fact, spark, FACT_SCHEMA, [(5, 20, 200, 5.0, "update")])
    q = stream_maintain(
        join_view_surface(
            fact, dim, view, {"fk": "dk"}, mode="mor", compact_every=1
        ),
        f"{tmp_path}/ckpt",
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    _assert_converged(fact, dim, view)
    ops = {s.summary.get("operation") for s in view.history()}
    assert "compact" in ops
    wm = join_view_watermark(view)
    v = view.current_version()
    q = stream_maintain(
        join_view_surface(
            fact, dim, view, {"fk": "dk"}, mode="mor", compact_every=1
        ),
        f"{tmp_path}/ckpt",
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert join_view_watermark(view) == wm
    assert view.current_version() == v
