"""CDC-maintained IVF index: ivf_index_advance must keep a persisted
index exactly in sync with a LakeTable through the changes feed —
cell-for-cell equal to a rebuild over the same centroids — while
rewriting only the affected cells."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.operators.similarity import (
    build_ivf_index,
    ivf_index_advance,
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
    df = spark.read.parquet(os.path.join(idx, "cells"))
    return sorted(
        (r["vec_id"], r["list_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in df.collect()
    )


def _rebuild(t, idx_src, idx_dst, version):
    """Rebuild at ``version`` over the SAME centroids as ``idx_src``."""
    with open(os.path.join(idx_src, "centroids.json")) as f:
        meta = json.load(f)
    cents = [
        (int(cid), [float(x) for x in cv]) for cid, cv in meta["centroids"]
    ]
    build_ivf_index(
        t.read(version=version), idx_dst, centroids=cents,
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
    assert s1["advanced"] and s1["affected_cells"] >= 1
    rb1 = str(tmp_path / "rb1")
    _rebuild(t, idx, rb1, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb1)

    # epoch 2: touch a different slice (incl. re-inserting deleted keys)
    merge_apply(t, _ev(spark,
        [(3, "update", i, _vec(i, salt=2)) for i in range(200, 210)]
        + [(3, "insert", i, _vec(i, salt=3)) for i in range(55, 60)]
        + [(3, "delete", i, None) for i in range(0, 5)],
    ))
    s2 = ivf_index_advance(t, idx)
    assert s2["advanced"]
    rb2 = str(tmp_path / "rb2")
    _rebuild(t, idx, rb2, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb2)

    queries = t.read().where("vec_id in (5, 6, 7, 205)")
    assert _knn_rows(spark, idx, queries) == _knn_rows(spark, rb2, queries)


def test_advance_rewrites_only_affected_cells(spark, tmp_path):
    """Cells outside the affected set keep their files byte-for-byte
    (same names, sizes, mtimes) — the O(affected cells) write bound,
    physically verified."""
    t = _mk(spark, tmp_path)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=8, table_version=t.current_version()
    )

    def files(idx):
        out = {}
        cells = os.path.join(idx, "cells")
        for d in os.listdir(cells):
            if d.startswith("list_id="):
                lid = int(d.split("=")[1])
                out[lid] = sorted(
                    (f, os.path.getmtime(os.path.join(cells, d, f)),
                     os.path.getsize(os.path.join(cells, d, f)))
                    for f in os.listdir(os.path.join(cells, d))
                    if f.endswith(".parquet")
                )
        return out

    before = files(idx)
    merge_apply(t, _ev(spark, [(2, "update", i, _vec(i, salt=9))
                               for i in range(100, 110)]))
    s = ivf_index_advance(t, idx)
    after = files(idx)
    touched = set(s["affected_list_ids"])
    assert touched and touched != set(before)  # a strict subset moved
    for lid, entries in before.items():
        if lid not in touched:
            assert after[lid] == entries, f"untouched cell {lid} rewritten"


def test_advance_empties_cell_and_reruns_idempotently(spark, tmp_path):
    """Deleting every member of a cell removes its partition dir; and
    re-running an advance over the same interval (the crash-recovery
    path: sidecar version reset) reconverges to the same index."""
    t = _mk(spark, tmp_path, n=60)
    idx = str(tmp_path / "ivf")
    v1 = t.current_version()
    build_ivf_index(t.read(), idx, n_lists=4, table_version=v1)

    # find one cell's full membership, delete all of it
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    lid = cells.groupBy("list_id").count().orderBy("count", "list_id").first()[
        "list_id"
    ]
    victims = [r["vec_id"] for r in cells.where(F.col("list_id") == lid).collect()]
    merge_apply(t, _ev(spark, [(2, "delete", v, None) for v in victims]))
    v2 = t.current_version()
    s = ivf_index_advance(t, idx)
    assert s["emptied_cells"] >= 1
    assert not os.path.isdir(os.path.join(idx, "cells", f"list_id={lid}"))
    rb = str(tmp_path / "rb")
    _rebuild(t, idx, rb, v2)
    assert _cells(spark, idx) == _cells(spark, rb)

    # crash recovery: roll the sidecar back to v1 and advance again
    mp = os.path.join(idx, "centroids.json")
    meta = json.load(open(mp))
    meta["table_version"] = v1
    json.dump(meta, open(mp, "w"))
    s2 = ivf_index_advance(t, idx)
    assert s2["advanced"]
    assert _cells(spark, idx) == _cells(spark, rb)


def test_advance_noop_and_missing_stamp(spark, tmp_path):
    t = _mk(spark, tmp_path, n=40)
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        t.read(), idx, n_lists=4, table_version=t.current_version()
    )
    s = ivf_index_advance(t, idx)
    assert s["advanced"] is False and s["affected_cells"] == 0

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
    meta = json.load(open(os.path.join(idx, "centroids.json")))
    assert meta["table_version"] == t.current_version()
    rb = str(tmp_path / "rb")
    _rebuild(t, idx, rb, t.current_version())
    assert _cells(spark, idx) == _cells(spark, rb)

