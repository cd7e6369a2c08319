"""CDC-maintained near-dup LSH index (lake/dedupidx): the maintained
banded frame must equal the from-scratch banding of the base's live
documents after any advance schedule — across text rewrites (old bands
retired), deletes, interval chops, and replays — and probing a batch
must return exactly the batch-restricted candidates of the batch LSH
self-join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.dedupidx import (
    advance_dedup_index,
    create_dedup_index,
    dedup_index_surface,
    dedup_index_watermark,
    neardup_probe,
)
from realdeal_spark.operators.dedup import banded_minhash, minhash_lsh_pairs
from realdeal_spark.streaming import stream_maintain

SCHEMA = "doc_id bigint, ts timestamp_ntz, lsn bigint, text string"
LSH = dict(num_perm=8, bands=4, shingle_n=2)

_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog tonight",
    2: "the quick brown fox jumps over the lazy dog tonight",  # dup of 1
    3: "pack my box with five dozen liquor jugs for the trip",
    4: "pack my box with five dozen liquor jugs for the trip",  # dup of 3
    5: "sphinx of black quartz judge my vow said the priest",
    6: "how vexingly quick daft zebras jump over the old fence",
    7: "crawl the web nightly and merge the change feed upstream",
}


def _mk(spark, tmp_path, name="src"):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA,
        key_columns=["doc_id"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )


def _ev(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (d, base + dt.timedelta(seconds=lsn), lsn, text, op)
            for (lsn, op, d, text) in rows
        ],
        SCHEMA + ", op string",
    )


def _seed(spark, tmp_path, **kw):
    t = _mk(spark, tmp_path, **kw)
    merge_apply(t, _ev(spark, [
        (i, "insert", i, _TEXTS[i]) for i in (1, 2, 3, 4, 5)
    ]))
    merge_apply(t, _ev(spark, [
        (10, "insert", 6, _TEXTS[6]),
        (11, "update", 3, _TEXTS[5]),   # rewrite: 3 now dups 5, not 4
        (12, "delete", 2, None),
    ]))
    merge_apply(t, _ev(spark, [
        (20, "insert", 7, _TEXTS[7]),
        (21, "insert", 2, _TEXTS[6]),   # resurrect with different text
    ]))
    return t


def _idx_set(idx):
    return sorted(
        (r["band"], r["bh"], r["doc_id"])
        for r in idx.read().select("band", "bh", "doc_id").collect()
    )


def _scratch_set(src):
    live = src.read().where(F.col("text").isNotNull())
    return sorted(
        (r["band"], r["bh"], r["_id"])
        for r in banded_minhash(live, "text", "doc_id", **LSH).collect()
    )


def test_bootstrap_matches_banded_frame(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    assert advance_dedup_index(src, idx, **LSH) is not None
    assert dedup_index_watermark(idx) == src.current_version()
    assert _idx_set(idx) == _scratch_set(src)


def test_incremental_advance_retires_old_bands(spark, tmp_path):
    src = _seed(spark, tmp_path)
    vs = src.versions()
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    # bootstrap at the first data version, then advance per version
    advance_dedup_index(src, idx, to_version=vs[1], **LSH)
    for v in vs[2:]:
        advance_dedup_index(src, idx, to_version=v, **LSH)
    assert _idx_set(idx) == _scratch_set(src)
    # doc 3 was rewritten (epoch 2): its OLD text equaled doc 4's, so a
    # ghost entry would band-match doc 4 — assert none survives
    d3 = [r for r in _idx_set(idx) if r[2] == 3]
    d4 = {(b, h) for (b, h, d) in _idx_set(idx) if d == 4}
    assert d3 and not any((b, h) in d4 for (b, h, _) in d3)
    # one-shot advance over the same history converges identically
    idx2 = create_dedup_index(src, str(tmp_path / "idx2"))
    advance_dedup_index(src, idx2, **LSH)
    assert _idx_set(idx2) == _idx_set(idx)


def test_advance_replay_is_noop(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    assert advance_dedup_index(src, idx, **LSH) is not None
    assert advance_dedup_index(src, idx, **LSH) is None
    assert (
        advance_dedup_index(
            src, idx, to_version=src.versions()[1], **LSH
        )
        is None
    )


def test_probe_matches_batch_lsh(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    advance_dedup_index(src, idx, **LSH)
    live = src.read().where(F.col("text").isNotNull())
    got = {
        (min(r["probe_id"], r["match_id"]), max(r["probe_id"], r["match_id"]))
        for r in neardup_probe(idx, live, "text", "doc_id", **LSH).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(live, "text", "doc_id", **LSH).collect()
    }
    assert got == want and want  # non-vacuous: seeded dups must pair


def test_probe_unseen_batch_finds_indexed_dup(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    advance_dedup_index(src, idx, **LSH)
    batch = spark.createDataFrame(
        [(100, _TEXTS[7]), (101, "a sentence sharing nothing with any")],
        "doc_id bigint, text string",
    )
    got = {
        (r["probe_id"], r["match_id"])
        for r in neardup_probe(idx, batch, "text", "doc_id", **LSH).collect()
    }
    assert (100, 7) in got
    assert not any(p == 101 for (p, _) in got)


def test_requires_soft_delete_and_single_key(spark, tmp_path):
    hard = LakeTable.create(
        spark, str(tmp_path / "hard"), SCHEMA,
        key_columns=["doc_id"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=False,
    )
    with pytest.raises(ValueError, match="soft-delete"):
        create_dedup_index(hard, str(tmp_path / "i1"))
    comp = LakeTable.create(
        spark, str(tmp_path / "comp"), SCHEMA,
        key_columns=["doc_id", "lsn"], order_columns=["ts"],
        n_buckets=4, soft_delete=True,
    )
    with pytest.raises(ValueError, match="single-column"):
        create_dedup_index(comp, str(tmp_path / "i2"))


def test_stream_maintainer_tracks_base(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_dedup_index(src, str(tmp_path / "idx"))
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(
        dedup_index_surface(src, idx, **LSH), ckpt,
        max_versions_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert _idx_set(idx) == _scratch_set(src)
    merge_apply(src, _ev(spark, [
        (30, "update", 6, _TEXTS[1]),   # 6 now dups 1
        (31, "delete", 5, None),
    ]))
    q2 = stream_maintain(dedup_index_surface(src, idx, **LSH), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    assert _idx_set(idx) == _scratch_set(src)
    assert dedup_index_watermark(idx) == src.current_version()
