"""Merge-on-read MERGE path: delta-file writes, read-time reconcile,
equivalence with the copy-on-write path and the naive-replay oracle,
compaction as the amortizer, exactly-once, write-amplification shape.
"""

from __future__ import annotations

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.events import generate_change_events, naive_replay
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable

from tests.test_merge_cdc import (
    PAGES_SCHEMA,
    _count_jobs,
    _events_df,
    _mk_table,
    _state,
)


def _assert_oracle(table, events_df):
    expected = naive_replay([r.asDict() for r in events_df.collect()])
    actual = _state(table)
    assert set(actual) == set(expected)
    for url, row in expected.items():
        got = actual[url]
        assert (got["lsn"], got["warc_ts"]) == (row["lsn"], row["warc_ts"]), url


def test_mor_insert_update_delete(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(
        t,
        _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]),
        mode="mor",
    )
    assert set(_state(t)) == {"a", "b"}
    r = merge_apply(t, _events_df(spark, [(3, "update", "a", 20, "A2")]), mode="mor")
    assert r.updated == 1
    st = _state(t)
    assert bytes(st["a"]["html"]).decode() == "A2"
    merge_apply(t, _events_df(spark, [(4, "delete", "b", 21, None)]), mode="mor")
    assert set(_state(t)) == {"a"}
    # tombstone visible on include_deleted read, reconciled to 1 row/key
    assert t.read(include_deleted=True).count() == 2


def test_mor_writes_only_changes(spark, tmp_path):
    """The write-amplification property: an epoch's delta files carry
    only the changed rows, not a rewrite of the touched buckets."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    base = [(i, "insert", f"u{i}", 10 + i, f"B{i}") for i in range(50)]
    merge_apply(t, _events_df(spark, base), mode="mor")
    r = merge_apply(
        t, _events_df(spark, [(100, "update", "u7", 1000, "NEW")]), mode="mor"
    )
    assert r.updated == 1 and r.effective_changes == 1
    snap = t.snapshot()
    # the second delta holds exactly 1 row (vs 50-row bucket rewrite in cow)
    delta2 = [
        fe for fl in snap.files.values() for fe in fl if "delta-000000003" in fe["path"]
    ]
    assert len(delta2) == 1 and delta2[0].get("mor") is True
    import os

    df = spark.read.parquet(os.path.join(t.root, delta2[0]["path"]))
    assert df.count() == 1
    assert bytes(_state(t)["u7"]["html"]).decode() == "NEW"


def test_mor_stale_and_zombie_protection(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 100, "NEW")]), mode="mor")
    r = merge_apply(t, _events_df(spark, [(2, "update", "a", 50, "OLD")]), mode="mor")
    assert r.stale == 1 and r.effective_changes == 0
    assert bytes(_state(t)["a"]["html"]).decode() == "NEW"
    # delete then stale update in a later epoch cannot resurrect
    merge_apply(t, _events_df(spark, [(3, "delete", "a", 200, None)]), mode="mor")
    merge_apply(t, _events_df(spark, [(4, "update", "a", 150, "ZOMBIE")]), mode="mor")
    assert _state(t) == {}
    # fresh insert with a newer order tuple resurrects
    merge_apply(t, _events_df(spark, [(5, "insert", "a", 300, "BACK")]), mode="mor")
    assert bytes(_state(t)["a"]["html"]).decode() == "BACK"


def test_mor_replay_matches_oracle_and_cow(spark, tmp_path):
    ev = generate_change_events(
        spark, n_events=600, n_urls=90, ooo_percent=25, delete_percent=15
    )
    mor_t = LakeTable.create(
        spark, str(tmp_path / "mor"), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"], 4,
        soft_delete=True,
    )
    cow_t = LakeTable.create(
        spark, str(tmp_path / "cow"), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"], 4,
        soft_delete=True,
    )
    CdcApplier(mor_t, merge_mode="mor").run(ev, epoch_size=100)
    CdcApplier(cow_t, merge_mode="cow").run(ev, epoch_size=100)
    _assert_oracle(mor_t, ev)
    s_mor = {
        r["url"]: (r["lsn"], bytes(r["html"]) if r["html"] else None)
        for r in mor_t.read().collect()
    }
    s_cow = {
        r["url"]: (r["lsn"], bytes(r["html"]) if r["html"] else None)
        for r in cow_t.read().collect()
    }
    assert s_mor == s_cow


def test_mor_compact_folds_deltas(spark, tmp_path):
    ev = generate_change_events(
        spark, n_events=400, n_urls=60, ooo_percent=20, delete_percent=10
    )
    t = _mk_table(spark, tmp_path, n_buckets=4)
    CdcApplier(t, merge_mode="mor").run(ev, epoch_size=80)
    before = _state(t)
    snap = t.snapshot()
    assert any(fe.get("mor") for fl in snap.files.values() for fe in fl)
    t.compact(max_files_per_bucket=1)
    snap2 = t.snapshot()
    assert not any(fe.get("mor") for fl in snap2.files.values() for fe in fl)
    assert all(len(fl) <= 1 for fl in snap2.files.values())
    assert _state(t) == before
    _assert_oracle(t, ev)
    # post-compact merges still work (base files + fresh deltas)
    merge_apply(t, _events_df(spark, [(10_000, "insert", "zz", 9999, "Z")]), mode="mor")
    assert "zz" in _state(t)


def test_mor_auto_compact_via_applier(spark, tmp_path):
    ev = generate_change_events(spark, n_events=300, n_urls=50, delete_percent=10)
    t = _mk_table(spark, tmp_path, n_buckets=2)
    CdcApplier(t, merge_mode="mor", compact_every=2, compact_max_files=1).run(
        ev, epoch_size=60
    )
    snap = t.snapshot()
    assert all(len(fl) <= 2 for fl in snap.files.values())
    _assert_oracle(t, ev)


def test_mor_exactly_once_and_noop_epoch(spark, tmp_path):
    ev = generate_change_events(spark, n_events=200, n_urls=40)
    t = _mk_table(spark, tmp_path)
    a1 = CdcApplier(t, merge_mode="mor")
    a1.run(ev, epoch_size=100)
    v = t.current_version()
    reports = CdcApplier(t, merge_mode="mor").run(ev, epoch_size=100, from_lsn=0)
    assert all(r.skipped for r in reports)
    assert t.current_version() == v
    # replaying one epoch's exact events as a *new* lsn-range would be
    # all-unchanged: no delta files added, but the epoch id is recorded
    r = merge_apply(
        t,
        _events_df(spark, [(10_000, "insert", "nn", 1, "N")]),
        mode="mor",
        epoch_id="lsn:10000-10000",
    )
    r2 = merge_apply(
        t,
        _events_df(spark, [(10_000, "insert", "nn", 1, "N")]),
        mode="mor",
        epoch_id="lsn:10001-10001",
    )
    assert r2.unchanged == 1 and r2.effective_changes == 0
    assert r2.snapshot is not None  # marker commit carries the epoch id
    assert "lsn:10001-10001" in t.snapshot().applied_epochs
    assert r.snapshot.version + 1 == r2.snapshot.version
    # a retry of the applied id is a no-op: no job, no second commit
    r3, jobs = _count_jobs(
        spark,
        lambda: merge_apply(
            t,
            _events_df(spark, [(10_000, "insert", "nn", 1, "N")]),
            mode="mor",
            epoch_id="lsn:10001-10001",
        ),
    )
    assert r3.snapshot is None and jobs == 0
    assert t.current_version() == r2.snapshot.version
    assert t.snapshot().applied_epochs.count("lsn:10001-10001") == 1


def test_mor_coalesce_rejected(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    import pytest

    with pytest.raises(ValueError, match="coalesce"):
        merge_apply(
            t,
            _events_df(spark, [(1, "insert", "a", 10, "A")]),
            column_merge="coalesce",
            mode="mor",
        )


def test_mor_time_travel_and_expire(spark, tmp_path):
    """Snapshot isolation across MoR commits + history after expire."""
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]), mode="mor")
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(2, "update", "a", 20, "A2")]), mode="mor")
    assert bytes(t.read(version=v1).collect()[0]["html"]).decode() == "A1"
    assert bytes(_state(t)["a"]["html"]).decode() == "A2"
    t.expire_snapshots(keep_last=1)
    # ADVICE fix: history()/lineage_df survive expiration
    hist = t.history()
    assert [s.version for s in hist] == [t.current_version()]
    assert bytes(_state(t)["a"]["html"]).decode() == "A2"


def test_mor_classification_materialized_once(spark, tmp_path, monkeypatch):
    """The classification result must be localCheckpoint-ed (narrow:
    key columns only) so the Observation count and the winner-routing
    semi join share ONE execution of the target scan + classify join."""
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]), mode="mor")

    calls = []
    df_cls = type(spark.range(1))
    real = df_cls.localCheckpoint

    def spy(self, eager=True):
        calls.append(list(self.columns))
        return real(self, eager=eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    r, jobs = _count_jobs(
        spark,
        lambda: merge_apply(
            t, _events_df(spark, [(2, "update", "a", 20, "A2")]), mode="mor"
        ),
    )
    assert r.updated == 1
    # exactly one checkpoint during the MoR apply, of the key projection
    assert ["url"] in calls
    # the MoR epoch's job count, pinned: the winner count is read off
    # the classification's own counters, so the checkpointed keys are
    # never counted again
    assert jobs == 13, jobs


def test_mor_tying_conflict_raises(spark, tmp_path):
    """A delete carrying the stored row's exact order tuple violates
    the unique-order precondition (MoR would silently drop it, CoW
    would apply it) — must raise, not diverge."""
    import pytest

    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(7, "insert", "a", 10, "A1")]), mode="mor")
    with pytest.raises(ValueError, match="order tuple"):
        merge_apply(t, _events_df(spark, [(7, "delete", "a", 10, None)]), mode="mor")
    # exact replay of the SAME event stays a legal no-op
    r = merge_apply(t, _events_df(spark, [(7, "insert", "a", 10, "A1")]), mode="mor")
    assert r.unchanged == 1 and r.effective_changes == 0
    assert bytes(_state(t)["a"]["html"]).decode() == "A1"


def test_append_null_order_rejected(spark, tmp_path):
    """Null order columns would make rows invisible to MoR reconcile /
    light conflation — append must fail loudly and leave no trace."""
    import pytest
    from pyspark.sql import functions as F

    t = _mk_table(spark, tmp_path)
    v0 = t.current_version()
    good = _events_df(spark, [(1, "insert", "a", 10, "A1")]).drop("op")
    bad = good.withColumn("lsn", F.lit(None).cast("bigint"))
    with pytest.raises(ValueError, match="null order"):
        t.append(bad)
    assert t.current_version() == v0
    assert t.snapshot().files == {}
    t.append(good)  # clean rows still append fine
    assert t.read().count() == 1


def test_mor_hot_key_skew(spark, tmp_path):
    """One url carries ~50% of events; MoR replay (payload-light
    conflation + narrow classify) still matches the oracle."""
    ev = generate_change_events(
        spark, n_events=400, n_urls=50, hot_share_percent=50,
        delete_percent=10, ooo_percent=20,
    )
    t = _mk_table(spark, tmp_path, n_buckets=4)
    CdcApplier(t, merge_mode="mor").run(ev, epoch_size=100)
    _assert_oracle(t, ev)
