"""Point lookup through per-file key Bloom sidecars (lake/bloomidx).

Correctness contract: ``lookup(keys)`` ≡ ``read()`` filtered to the
keys — on CoW and MoR tables, across updates/deletes/out-of-order
events, with and without bloom coverage (legacy files), and after
compaction + snapshot expiration.  Scale contract: on a MoR table
whose deltas touch disjoint key slices, lookup reads only the files
whose blooms hit (no false negatives ⇒ never fewer than the key's
true generations).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake.bloomidx import bloom_m_bits
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable

SCHEMA = "url string, v bigint, ts bigint, lsn bigint"


def _batch(spark, lo, hi, op="upsert", ts_shift=0, v=None):
    df = spark.range(lo, hi).select(
        F.format_string("https://x.com/%d", F.col("id")).alias("url"),
        (F.col("id") * 10 if v is None else F.lit(v)).alias("v"),
        (F.col("id") + ts_shift).alias("ts"),
        (F.col("id") + ts_shift).alias("lsn"),
        F.lit(op).alias("op"),
    )
    return df


def _mk(spark, tmp_path, name, key_blooms=True, n_buckets=4):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        SCHEMA,
        key_columns=["url"],
        order_columns=["ts", "lsn"],
        n_buckets=n_buckets,
        soft_delete=True,
        key_blooms=key_blooms,
    )


def _urls(*ids):
    return [f"https://x.com/{i}" for i in ids]


def _rows(df):
    return sorted((r["url"], r["v"], r["ts"]) for r in df.collect())


def _assert_lookup_matches_read(table, keys):
    got = _rows(table.lookup(keys))
    want = _rows(table.read().where(F.col("url").isin(keys)))
    assert got == want


def test_lookup_matches_read_mor_with_updates_and_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path, "t1")
    merge_apply(t, _batch(spark, 0, 300), mode="mor", epoch_id="e1")
    merge_apply(t, _batch(spark, 300, 600), mode="mor", epoch_id="e2")
    # update keys 10..19 with newer order, delete 20..29
    merge_apply(
        t,
        _batch(spark, 10, 20, ts_shift=10_000, v=-1),
        mode="mor",
        epoch_id="e3",
    )
    merge_apply(
        t, _batch(spark, 20, 30, op="delete", ts_shift=10_000), mode="mor",
        epoch_id="e4",
    )
    keys = _urls(5, 12, 25, 310, 999_999)
    _assert_lookup_matches_read(t, keys)
    got = {r["url"]: r["v"] for r in t.lookup(keys).collect()}
    assert got[_urls(12)[0]] == -1  # newest generation wins
    assert _urls(25)[0] not in got  # deleted key yields no row
    assert _urls(999_999)[0] not in got  # absent key yields no row


def test_lookup_matches_read_cow(spark, tmp_path):
    t = _mk(spark, tmp_path, "t2")
    merge_apply(t, _batch(spark, 0, 100), mode="cow", epoch_id="e1")
    merge_apply(
        t, _batch(spark, 50, 60, ts_shift=5_000, v=7), mode="cow",
        epoch_id="e2",
    )
    _assert_lookup_matches_read(t, _urls(1, 55, 99))


def test_lookup_prunes_untouched_generations(spark, tmp_path):
    """Disjoint-key MoR epochs: a key present in exactly one delta
    reads that delta (plus fpp accidents), not every generation."""
    t = _mk(spark, tmp_path, "t3", n_buckets=2)
    for i in range(6):
        merge_apply(
            t,
            _batch(spark, i * 100, (i + 1) * 100),
            mode="mor",
            epoch_id=f"e{i}",
        )
    snap = t.snapshot()
    keys = _urls(250)  # written only by epoch e2
    kdf = t._keys_frame(snap, keys)
    _, allow, stats, _ = t._lookup_candidates(snap, kdf)
    assert stats["files_legacy"] == 0
    assert stats["files_in_buckets"] == 6  # one delta file per epoch
    # no false negatives: >= 1; pruning: strictly fewer than all
    assert 1 <= stats["files_read"] < stats["files_in_buckets"]
    _assert_lookup_matches_read(t, keys)


def test_lookup_no_false_negatives_every_key(spark, tmp_path):
    """Every written key must survive its bloom probes — sweep all."""
    t = _mk(spark, tmp_path, "t4")
    merge_apply(t, _batch(spark, 0, 500), mode="mor", epoch_id="e1")
    keys = _urls(*range(0, 500, 7))
    got = {r["url"] for r in t.lookup(keys).collect()}
    assert got == set(keys)


def test_lookup_legacy_files_stay_candidates(spark, tmp_path):
    """Blooms enabled mid-life: pre-flag files have no sidecar and are
    always read; post-flag files prune.  Lookup stays exact."""
    t = _mk(spark, tmp_path, "t5", key_blooms=False)
    merge_apply(t, _batch(spark, 0, 100), mode="mor", epoch_id="e1")
    t.set_key_blooms(True)
    merge_apply(t, _batch(spark, 100, 200), mode="mor", epoch_id="e2")
    snap = t.snapshot()
    keys = _urls(10, 150)
    _, allow, stats, _ = t._lookup_candidates(snap, t._keys_frame(snap, keys))
    assert stats["files_legacy"] > 0
    _assert_lookup_matches_read(t, keys)
    # compaction rewrites under the flag: legacy coverage disappears
    t.compact()
    snap2 = t.snapshot()
    _, _, stats2, _ = t._lookup_candidates(snap2, t._keys_frame(snap2, keys))
    assert stats2["files_legacy"] == 0
    _assert_lookup_matches_read(t, keys)


def test_lookup_after_compact_and_expire_gc(spark, tmp_path):
    """Compaction + expire_snapshots: stale sidecars are swept with
    their deltas, the live base's sidecar survives, lookup intact."""
    t = _mk(spark, tmp_path, "t6")
    merge_apply(t, _batch(spark, 0, 200), mode="mor", epoch_id="e1")
    merge_apply(t, _batch(spark, 200, 400), mode="mor", epoch_id="e2")
    t.compact()
    removed = t.expire_snapshots(keep_last=1)
    assert removed["files_removed"] > 0
    keys = _urls(13, 213)
    snap = t.snapshot()
    _, allow, stats, _ = t._lookup_candidates(snap, t._keys_frame(snap, keys))
    assert stats["files_legacy"] == 0  # compacted base carries a bloom
    _assert_lookup_matches_read(t, keys)
    # the live sidecar's parquet parts exist on disk
    live = {
        fe["bloom"] for fl in snap.files.values() for fe in fl if fe.get("bloom")
    }
    assert live
    for bd in live:
        parts = [
            fn
            for fn in os.listdir(os.path.join(t.root, bd))
            if fn.endswith(".parquet")
        ]
        assert parts


def test_lookup_keys_frame_and_include_deleted(spark, tmp_path):
    t = _mk(spark, tmp_path, "t7")
    merge_apply(t, _batch(spark, 0, 50), mode="mor", epoch_id="e1")
    merge_apply(
        t, _batch(spark, 5, 6, op="delete", ts_shift=1_000), mode="mor",
        epoch_id="e2",
    )
    # DataFrame-shaped keys
    kdf = spark.createDataFrame([(u,) for u in _urls(3, 5)], "url string")
    vis = t.lookup(kdf).collect()
    assert {r["url"] for r in vis} == set(_urls(3))
    tomb = t.lookup(kdf, include_deleted=True).collect()
    assert {r["url"] for r in tomb} == set(_urls(3, 5))
    with pytest.raises(ValueError, match="lacks"):
        t.lookup(spark.createDataFrame([(1,)], "x bigint"))


def test_lookup_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, "t8")
    merge_apply(t, _batch(spark, 0, 50), mode="mor", epoch_id="e1")
    v1 = t.current_version()
    merge_apply(
        t, _batch(spark, 10, 11, ts_shift=1_000, v=-5), mode="mor",
        epoch_id="e2",
    )
    old = t.lookup(_urls(10), version=v1).collect()
    new = t.lookup(_urls(10)).collect()
    assert old[0]["v"] == 100 and new[0]["v"] == -5


def test_bloom_m_bits_word_aligned():
    assert bloom_m_bits(0) == 256
    assert bloom_m_bits(1_000) % 64 == 0
    assert bloom_m_bits(1_000) >= 1_000 * 16


def test_mor_classification_bloom_pruning_converges(
    spark, tmp_path, monkeypatch
):
    """On a key_blooms table the MoR classification read is pruned to
    bloom-positive files; final state must equal the unbloomed
    table's, and the commit summary must record the pruning.  The
    table is far below the probe's size floor, so the floor is lifted
    to keep this on the probe path."""
    from realdeal_spark.lake import bloomidx

    monkeypatch.setattr(bloomidx, "BLOOM_PROBE_MIN_ROWS", 0)
    tb = _mk(spark, tmp_path, "t9", key_blooms=True)
    tp = _mk(spark, tmp_path, "t9p", key_blooms=False)
    epochs = [
        _batch(spark, 0, 200),
        _batch(spark, 200, 400),
        # revisit a slice with newer order + a delete wave
        _batch(spark, 50, 80, ts_shift=10_000, v=1),
        _batch(spark, 300, 320, op="delete", ts_shift=10_000),
    ]
    for i, e in enumerate(epochs):
        merge_apply(tb, e, mode="mor", epoch_id=f"e{i}")
        merge_apply(tp, e, mode="mor", epoch_id=f"e{i}")
    assert _rows(tb.read()) == _rows(tp.read())
    stats = tb.snapshot().summary.get("classify_bloom")
    assert stats is not None and stats["files_read"] >= 1
    # epoch 3 touched only keys 300..319: generations from other
    # epochs in its buckets must have been pruned from the classify
    assert stats["files_pruned"] > 0


def test_probe_worthwhile_density_gate():
    """The gate is per-touched-bucket density, not batch total: a wide
    fan-out batch (many buckets) keeps probing, a bulk batch into few
    buckets skips.  It also skips when the touched buckets hold fewer
    rows than the probe's size floor."""
    from realdeal_spark.lake.bloomidx import (
        BLOOM_PROBE_MAX_KEYS_PER_BUCKET as CAP,
        BLOOM_PROBE_MIN_ROWS as FLOOR,
        probe_skip,
        probe_worthwhile,
    )

    assert probe_worthwhile(1, 4)  # point lookup
    assert probe_worthwhile(CAP * 4, 4)  # exactly at density CAP
    assert not probe_worthwhile(CAP * 4 + 4, 4)  # just past it
    # dedup-index shape: 20k band hashes over 64 bh-buckets ≈ 312/bkt
    assert probe_worthwhile(20_000, 64)
    # bulk epoch into a small table: 20k keys over 4 buckets = 5000/bkt
    assert not probe_worthwhile(20_000, 4)
    # batch smaller than the bucket count touches ≤ n_keys buckets
    assert probe_worthwhile(3, 1024)
    # size floor: too few rows in the touched buckets to repay the probe
    assert not probe_worthwhile(1, 4, rows=FLOOR - 1)
    assert probe_skip(1, 4, rows=FLOOR - 1) == {"skipped_small_read": FLOOR - 1}
    assert probe_worthwhile(1, 4, rows=FLOOR)  # exactly at the floor
    # unknown row counts (legacy files) leave only the density gate
    assert probe_worthwhile(CAP * 4, 4, rows=None)
    # density is checked first: a bulk batch into a small table records
    # the bulk skip, not the size skip
    assert probe_skip(20_000, 4, rows=10) == {"skipped_bulk_keys": 20_000}


def test_mor_bulk_batch_skips_bloom_probe(spark, tmp_path):
    """A bulk epoch (density past the gate) must skip the sidecar
    probe — summary records the skip — and still converge to the
    unbloomed table's state."""
    tb = _mk(spark, tmp_path, "t10", key_blooms=True)
    tp = _mk(spark, tmp_path, "t10p", key_blooms=False)
    seed = _batch(spark, 0, 500)
    bulk = _batch(spark, 100, 4800, ts_shift=10_000, v=7)  # 4700 > 4*1024
    for i, e in enumerate([seed, bulk]):
        merge_apply(tb, e, mode="mor", epoch_id=f"e{i}")
        merge_apply(tp, e, mode="mor", epoch_id=f"e{i}")
    assert _rows(tb.read()) == _rows(tp.read())
    stats = tb.snapshot().summary.get("classify_bloom")
    assert stats == {"skipped_bulk_keys": 4700}


def test_mor_small_read_skips_bloom_probe(spark, tmp_path):
    """A MoR epoch into touched buckets below the probe's size floor
    takes the plain narrow scan: the summary records the skip with the
    touched buckets' manifest rows, and the state equals the unbloomed
    twin's."""
    from realdeal_spark.lake.bloomidx import rows_in_buckets

    tb = _mk(spark, tmp_path, "t11", key_blooms=True)
    tp = _mk(spark, tmp_path, "t11p", key_blooms=False)
    epochs = [
        _batch(spark, 0, 300),
        _batch(spark, 250, 320, ts_shift=10_000, v=3),
    ]
    for i, e in enumerate(epochs):
        before = tb.snapshot()
        res = merge_apply(tb, e, mode="mor", epoch_id=f"e{i}")
        merge_apply(tp, e, mode="mor", epoch_id=f"e{i}")
    assert _rows(tb.read()) == _rows(tp.read())
    rows = rows_in_buckets(before.files, res.touched_buckets)
    assert rows == 300
    stats = tb.snapshot().summary.get("classify_bloom")
    assert stats == {"skipped_small_read": rows}


def test_sidecar_build_guard_covers_unknown_row_counts(
    spark, tmp_path, monkeypatch
):
    """Entries without a manifest row count take theirs from the
    parquet footer, so a sidecar build whose path join matches nothing
    still raises instead of shipping an empty, false-negative
    sidecar."""
    from realdeal_spark.lake import bloomidx

    t = _mk(spark, tmp_path, "t12", key_blooms=False)
    merge_apply(t, _batch(spark, 0, 40), epoch_id="e1")
    entries = [
        {"path": fe["path"], "rows": None}
        for fl in t.snapshot().files.values()
        for fe in fl
    ]
    assert entries
    monkeypatch.setattr(bloomidx, "_norm_uri", lambda c: F.lit("/nowhere"))
    with pytest.raises(RuntimeError, match="matched no keys"):
        bloomidx.build_bloom_sidecar(
            spark, t.root, entries, ["url"], "_data/x/_bloom"
        )
    assert not os.path.exists(os.path.join(t.root, "_data/x/_bloom"))


def test_bloom_sidecar_builds_under_relative_root(spark, tmp_path):
    """A table opened via a RELATIVE root must still build correct
    sidecars (regression: the executor-side absolute input paths
    joined nothing against the driver's relative map, writing an
    empty sidecar whose probe then false-negatived real keys; the
    build now abspaths its map and fails loudly on a mismatch)."""
    import os

    from realdeal_spark.lake.table import LakeTable

    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        t = LakeTable.create(
            spark, "rel_bloom_t",
            "url string, warc_ts timestamp_ntz, lsn bigint, v double",
            ["url"], ["warc_ts", "lsn"], n_buckets=2,
            soft_delete=True, key_blooms=True,
        )
        import datetime as dt

        rows = [
            (f"u{i}", dt.datetime(2024, 1, 1), i, float(i))
            for i in range(20)
        ]
        merge_apply(t, spark.createDataFrame(
            [r + ("update",) for r in rows],
            "url string, warc_ts timestamp_ntz, lsn bigint, v double, "
            "op string",
        ))
        got = {r["url"] for r in t.lookup(["u3", "u7", "nope"]).collect()}
        assert got == {"u3", "u7"}
    finally:
        os.chdir(cwd)
