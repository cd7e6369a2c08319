"""CDC-maintained IVF index: ivf_index_advance must keep a persisted
index exactly in sync with a LakeTable through the changes feed —
cell-for-cell equal to a rebuild over the same centroids — while
rewriting only the buckets of affected cells, and a crash or a query
at any point of an advance must see the index before or after it,
never in between."""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.operators.similarity import (
    build_ivf_index,
    ivf_index_advance,
    ivf_index_watermark,
    ivf_knn_indexed,
)

DIM = 8
SCHEMA = "vec_id bigint, lsn bigint, embedding array<double>"


def _vec(i: int, salt: int = 0) -> list[float]:
    rng = random.Random(i * 7919 + salt)
    return [rng.uniform(-1, 1) for _ in range(DIM)]


def _ev(spark, rows):
    """rows: (lsn, op, vec_id, embedding-or-None)."""
    return spark.createDataFrame(
        [(vid, lsn, emb, op) for (lsn, op, vid, emb) in rows],
        SCHEMA + ", op string",
    )


def _mk(spark, tmp_path, n=200):
    t = LakeTable.create(
        spark, str(tmp_path / "vlake"), SCHEMA,
        key_columns=["vec_id"], order_columns=["lsn"],
        n_buckets=8, soft_delete=True,
    )
    merge_apply(
        t, _ev(spark, [(1, "insert", i, _vec(i)) for i in range(n)])
    )
    return t


def _cells(spark, idx):
    df = LakeTable(spark, idx).read()
    return sorted(
        (r["vec_id"], r["list_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in df.collect()
    )


def _rebuild(t, idx_src, idx_dst, version):
    """Rebuild at ``version`` over the SAME centroids as ``idx_src``."""
    cents = LakeTable(t.spark, idx_src).snapshot().centroids
    build_ivf_index(
        t.read(version=version), idx_dst,
        centroids=[(int(cid), cv) for cid, cv in cents],
        table_version=version,
    )


def _knn_rows(spark, idx, queries, k=4, nprobe=3):
    return sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in ivf_knn_indexed(
            spark, idx, queries, k=k, nprobe=nprobe
        ).collect()
    )


def test_advance_equals_rebuild_over_epoch_chain(spark, tmp_path):
    """Two CDC epochs (inserts + updates + deletes), one advance per
    epoch: the advanced index equals a from-scratch rebuild over the
    pinned centroids after EACH advance, and answers queries
    identically."""
    t = _mk(spark, tmp_path)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=8, table_version=t.current_version()
    )

    # epoch 1: move 30 vectors, delete 20, insert 25 new keys
    merge_apply(t, _ev(spark,
        [(2, "update", i, _vec(i, salt=1)) for i in range(20, 50)]
        + [(2, "delete", i, None) for i in range(50, 70)]
        + [(2, "insert", i, _vec(i)) for i in range(200, 225)],
    ))
    s1 = ivf_index_advance(t, idx)
    # every upsert lands once (a new entry, or an update in place);
    # each cell move is one insert plus one delete
    assert s1.inserted + s1.updated == 55
    assert s1.inserted - 25 == s1.deleted - 20 > 0
    assert ivf_index_watermark(LakeTable(spark, idx)) == t.current_version()
    rb1 = str(tmp_path / "rb1")
    _rebuild(t, idx, rb1, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb1)

    # epoch 2: touch a different slice (incl. re-inserting deleted keys
    # and a live key whose vector becomes null: it leaves the index,
    # and the rebuild leaves it out too)
    merge_apply(t, _ev(spark,
        [(3, "update", i, _vec(i, salt=2)) for i in range(200, 210)]
        + [(3, "insert", i, _vec(i, salt=3)) for i in range(55, 60)]
        + [(3, "delete", i, None) for i in range(0, 5)]
        + [(3, "update", 210, None)],
    ))
    s2 = ivf_index_advance(t, idx)
    assert s2.effective_changes > 0
    rb2 = str(tmp_path / "rb2")
    _rebuild(t, idx, rb2, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb2)

    queries = t.read().where("vec_id in (5, 6, 7, 205)")
    assert _knn_rows(spark, idx, queries) == _knn_rows(spark, rb2, queries)


def test_advance_rewrites_only_affected_cells(spark, tmp_path):
    """Buckets that hold no old or new cell of a changed key keep
    their manifest entries and their files byte-for-byte (same names,
    sizes, mtimes) — the O(affected cells) write bound, physically
    verified."""
    t = _mk(spark, tmp_path)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=8, table_version=t.current_version()
    )
    index = LakeTable(spark, idx)

    def files():
        return {
            b: [
                (fe, os.path.getmtime(os.path.join(idx, fe["path"])),
                 os.path.getsize(os.path.join(idx, fe["path"])))
                for fe in fl
            ]
            for b, fl in index.snapshot().files.items()
        }

    def cell_buckets():
        return {
            r["_bucket"]
            for r in index.read(with_bucket=True)
            .where(F.col("vec_id").between(100, 109))
            .collect()
        }

    before, old = files(), cell_buckets()
    merge_apply(t, _ev(spark, [(2, "update", i, _vec(i, salt=9))
                               for i in range(100, 110)]))
    s = ivf_index_advance(t, idx)
    after, touched = files(), old | cell_buckets()
    assert set(s.rewritten_buckets) == touched
    assert touched and {int(b) for b in before} - touched  # a strict subset
    for b, entries in before.items():
        if int(b) not in touched:
            assert after[b] == entries, f"untouched bucket {b} rewritten"


def test_advance_empties_cell_and_reruns_idempotently(spark, tmp_path, monkeypatch):
    """Deleting every member of a cell leaves no entry of it; an
    advance whose commit crashed re-runs to the same index, and a
    second run of the applied interval is a no-op."""
    t = _mk(spark, tmp_path, n=60)
    idx = str(tmp_path / "ivf")
    build_ivf_index(t.read(), idx, n_lists=4, table_version=t.current_version())

    # find one cell's full membership, delete all of it
    cells = LakeTable(spark, idx).read()
    lid = cells.groupBy("list_id").count().orderBy("count", "list_id").first()[
        "list_id"
    ]
    victims = [r["vec_id"] for r in cells.where(F.col("list_id") == lid).collect()]
    merge_apply(t, _ev(spark, [(2, "delete", v, None) for v in victims]))
    v2 = t.current_version()

    real_commit = LakeTable._commit

    def crash(self, snap):
        monkeypatch.setattr(LakeTable, "_commit", real_commit)
        raise RuntimeError("injected crash before the commit")

    monkeypatch.setattr(LakeTable, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        ivf_index_advance(t, idx)
    assert ivf_index_watermark(LakeTable(spark, idx)) == v2 - 1
    s = ivf_index_advance(t, idx)
    assert s.deleted == len(victims) and s.inserted == s.updated == 0
    assert lid not in {c[1] for c in _cells(spark, idx)}
    rb = str(tmp_path / "rb")
    _rebuild(t, idx, rb, v2)
    assert _cells(spark, idx) == _cells(spark, rb)
    assert ivf_index_advance(t, idx) is None
    assert ivf_index_advance(t, idx, to_version=v2 - 1) is None
    assert _cells(spark, idx) == _cells(spark, rb)


def test_advance_noop_and_missing_stamp(spark, tmp_path):
    t = _mk(spark, tmp_path, n=40)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=4, table_version=t.current_version()
    )
    v = LakeTable(spark, idx).current_version()
    assert ivf_index_advance(t, idx) is None
    assert LakeTable(spark, idx).current_version() == v

    bare = str(tmp_path / "bare")
    build_ivf_index(t.read(), bare, n_lists=4)  # no version stamp
    with pytest.raises(ValueError, match="table_version"):
        ivf_index_advance(t, bare)


def test_stream_maintained_ivf_tracks_table(spark, tmp_path):
    """stream_maintain keeps the persisted index cell-identical to a
    rebuild while the table takes commits — one bounded advance per
    epoch, driven by the lake_changes descriptor stream with Spark
    offset checkpointing."""
    from realdeal_spark.operators.similarity import ivf_surface
    from realdeal_spark.streaming.cdf_source import stream_maintain

    t = _mk(spark, tmp_path)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=8, table_version=t.current_version()
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(
        ivf_surface(t, idx), ckpt, max_versions_per_trigger=1
    )
    try:
        merge_apply(t, _ev(spark,
            [(2, "update", i, _vec(i, salt=4)) for i in range(10, 30)]
            + [(2, "insert", i, _vec(i)) for i in range(300, 320)],
        ))
        merge_apply(t, _ev(spark,
            [(3, "delete", i, None) for i in range(0, 8)],
        ))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert ivf_index_watermark(LakeTable(spark, idx)) == t.current_version()
    rb = str(tmp_path / "rb")
    _rebuild(t, idx, rb, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb)


# --- the index before or after an advance, never in between ---------------

# every filesystem mutation an advance could make from Python
POINTS = ["os.rename", "os.replace", "shutil.rmtree", "LakeTable._commit"]
_OWNERS = {
    "os.rename": (os, "rename"),
    "os.replace": (os, "replace"),
    "shutil.rmtree": (shutil, "rmtree"),
    "LakeTable._commit": (LakeTable, "_commit"),
}


def _at_first(monkeypatch, point, idx, action):
    """Run ``action()`` at the first call of ``point`` that touches the
    index at ``idx``; the call itself proceeds unless ``action``
    raises."""
    owner, name = _OWNERS[point]
    real = getattr(owner, name)
    armed = [True]

    def hook(*args, **kw):
        target = args[0].root if owner is LakeTable else str(args[0])
        if armed[0] and target.startswith(idx):
            armed[0] = False
            action()
        return real(*args, **kw)

    monkeypatch.setattr(owner, name, hook)


def _wide(spark, idx):
    """Every candidate of a full probe — shows any row missing."""
    q = spark.createDataFrame(
        [(1000 + i, _vec(1000 + i)) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    return sorted(
        tuple(r) for r in ivf_knn_indexed(spark, idx, q, k=300, nprobe=8).collect()
    )


@pytest.fixture(scope="module")
def advance_case(spark, tmp_path_factory):
    """A 200-vector table with the index built at v2, one epoch to v3
    that moves, deletes and inserts vectors, and the v3 rebuild over
    the same centroids; the wide query's answer before and after."""
    root = tmp_path_factory.mktemp("ivf_holes")
    t = _mk(spark, root)
    base = str(root / "ivf_v2")
    build_ivf_index(t.read(), base, n_lists=8, table_version=t.current_version())
    merge_apply(t, _ev(spark,
        [(2, "update", i, _vec(i, salt=5)) for i in range(20, 60)]
        + [(2, "delete", i, None) for i in range(60, 70)]
        + [(2, "insert", i, _vec(i)) for i in range(200, 210)],
    ))
    rb = str(root / "rb_v3")
    _rebuild(t, base, rb, t.current_version())
    return t, base, _cells(spark, rb), _wide(spark, base), _wide(spark, rb)


@pytest.mark.parametrize("point", POINTS)
def test_crash_at_any_advance_mutation_reruns_to_rebuild(
    spark, tmp_path, monkeypatch, advance_case, point
):
    """A crash at any filesystem mutation of an advance, then a re-run,
    leaves the index equal to the rebuild: no cell's unchanged rows
    are lost."""
    t, base, rebuilt, _, _ = advance_case
    idx = str(tmp_path / "ivf")
    shutil.copytree(base, idx)

    def crash():
        raise RuntimeError("injected crash")

    _at_first(monkeypatch, point, idx, crash)
    try:
        ivf_index_advance(t, idx)
    except RuntimeError as e:
        assert "injected crash" in str(e)
    monkeypatch.undo()
    ivf_index_advance(t, idx)
    got = _cells(spark, idx)
    assert got == rebuilt, f"{len(got)} rows, want {len(rebuilt)}"


@pytest.mark.parametrize("point", POINTS)
def test_query_during_advance_sees_before_or_after(
    spark, tmp_path, monkeypatch, advance_case, point
):
    """A query issued at any filesystem mutation of an advance answers
    from the whole index before the advance or the whole index after
    it."""
    t, base, _, before, after = advance_case
    idx = str(tmp_path / "ivf")
    shutil.copytree(base, idx)
    seen = []
    _at_first(monkeypatch, point, idx, lambda: seen.append(_wide(spark, idx)))
    ivf_index_advance(t, idx)
    monkeypatch.undo()
    for got in seen:
        assert got in (before, after), f"{len(got)} rows, want {len(before)}"
    assert _wide(spark, idx) == after
