"""Multi-writer commit handling: files-only commits that commute (MoR
additions or appends vs background compaction; bucket writes on
disjoint buckets) are rebased onto the winner and retried;
non-commuting races, and metadata commits that lose any race, still
raise CommitConflict.  The scenario that motivates this: one streaming
ingest applier plus a compact()/maintenance job on the same table —
the docs tell users to run exactly that, so an epoch must not abort
because compaction won a commit race.
"""

from __future__ import annotations

import pytest

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.events import generate_change_events, naive_replay
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import CommitConflict, LakeTable

from tests.test_merge_cdc import _events_df, _mk_table, _state


def test_mor_epoch_survives_interleaved_compact(spark, tmp_path, monkeypatch):
    """A compact() lands between an MoR epoch's write and its commit:
    the epoch must rebase + commit, and the final state must equal the
    serial order (epoch applied, then compacted base still visible)."""
    ev = generate_change_events(
        spark, n_events=300, n_urls=50, delete_percent=10, ooo_percent=15
    )
    t = _mk_table(spark, tmp_path, n_buckets=4)
    applier = CdcApplier(t, merge_mode="mor")
    applier.run(ev, epoch_size=100, max_epochs=2)  # several deltas on disk

    orig = LakeTable._commit
    state = {"injected": False}

    def race(self, snap_):
        # inject exactly one compaction right before the next MoR
        # epoch's commit — it wins the version race
        if not state["injected"] and snap_.summary.get("operation") == "merge-mor":
            state["injected"] = True
            t.compact(max_files_per_bucket=1)
        return orig(self, snap_)

    monkeypatch.setattr(LakeTable, "_commit", race)
    reports = applier.run(ev, epoch_size=100)  # remaining epochs
    monkeypatch.setattr(LakeTable, "_commit", orig)
    assert state["injected"]
    assert all(not r.skipped for r in reports if r.events_in > 0)

    expected = naive_replay([r.asDict() for r in ev.collect()])
    actual = _state(t)
    assert set(actual) == set(expected)
    for url, row in expected.items():
        assert actual[url]["lsn"] == row["lsn"], url
    # exactly-once intact: every epoch id recorded exactly once
    applied = t.snapshot().applied_epochs
    assert len(applied) == len(set(applied))
    # replay from scratch is a no-op
    replays = CdcApplier(t, merge_mode="mor").run(ev, epoch_size=100, from_lsn=0)
    assert all(r.skipped for r in replays)


def test_disjoint_bucket_replacements_rebase(spark, tmp_path):
    """Two writers replacing DISJOINT buckets from the same base
    snapshot: the loser rebases and both rewrites survive."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    rows = [(i, "insert", f"u{i}", 10 + i, f"B{i}") for i in range(40)]
    merge_apply(t, _events_df(spark, rows))
    base = t.snapshot()
    buckets = sorted(int(b) for b in base.files)
    assert len(buckets) == 2

    from pyspark.sql import functions as F

    def rewrite(bucket):
        return t.read(buckets=[bucket], with_bucket=True, include_deleted=True)

    s1 = t.replace_buckets(
        rewrite(buckets[0]).withColumn("lang", F.lit("aa")),
        [buckets[0]],
        base_snapshot=base,
    )
    # second writer still holds the stale base → rebase path
    s2 = t.replace_buckets(
        rewrite(buckets[1]).withColumn("lang", F.lit("bb")),
        [buckets[1]],
        base_snapshot=base,
    )
    assert s2.version == s1.version + 1
    langs = {r["lang"] for r in t.read().collect()}
    assert langs == {"aa", "bb"}  # both writers' effects visible


def test_overlapping_bucket_replacement_conflicts(spark, tmp_path):
    """Same-bucket replacement race must still refuse (stale
    classification cannot be rebased)."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(t, _events_df(spark, [(i, "insert", f"u{i}", 10 + i, "X") for i in range(20)]))
    base = t.snapshot()
    b0 = sorted(int(b) for b in base.files)[0]
    df = t.read(buckets=[b0], with_bucket=True, include_deleted=True)
    t.replace_buckets(df, [b0], base_snapshot=base)
    with pytest.raises(CommitConflict, match="overlapping"):
        t.replace_buckets(df, [b0], base_snapshot=base)


def test_concurrent_same_epoch_refused(spark, tmp_path):
    """Two appliers racing the SAME epoch id: the loser must not
    double-apply (exactly-once across writers)."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A")]))
    base = t.snapshot()
    # winner applies epoch lsn:100-199
    merge_apply(
        t,
        _events_df(spark, [(150, "update", "a", 50, "A2")]),
        epoch_id="lsn:100-199",
        mode="mor",
    )
    # loser (stale base) tries to commit the same epoch id as a marker
    with pytest.raises(CommitConflict, match="concurrently applied"):
        t.commit_file_additions(base, new_files={}, epoch_id="lsn:100-199")


def test_rebase_refuses_layout_change(spark, tmp_path):
    """A rebucket between write and commit invalidates the pending
    files' layout — must refuse, never rebase."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(t, _events_df(spark, [(i, "insert", f"u{i}", 10 + i, "X") for i in range(10)]))
    base = t.snapshot()
    t.rebucket(4)
    with pytest.raises(CommitConflict, match="layout/schema"):
        t.commit_file_additions(base, new_files={}, epoch_id="lsn:9000-9000")


def _race(monkeypatch, op, winner):
    """Run ``winner`` once, right before the first ``op`` commit's CAS,
    so that commit loses the version race."""
    orig = LakeTable._commit
    state = {"injected": False}

    def race(self, snap_):
        if not state["injected"] and snap_.summary.get("operation") == op:
            state["injected"] = True
            winner()
        return orig(self, snap_)

    monkeypatch.setattr(LakeTable, "_commit", race)
    return state


def test_append_rebases_over_interleaved_compact(spark, tmp_path, monkeypatch):
    """An append carries no key reconciliation, so a compact() that
    wins its commit race commutes with it: the append rebases onto the
    compacted snapshot and both effects are visible."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    rows = lambda lo: [
        (lo + i, "insert", f"u{lo + i}", lo + i, "X") for i in range(10)
    ]
    t.append(_events_df(spark, rows(0)).drop("op"))
    t.append(_events_df(spark, rows(10)).drop("op"))  # 2 files per bucket
    state = _race(monkeypatch, "append", lambda: t.compact(max_files_per_bucket=1))
    out = t.append(_events_df(spark, rows(20)).drop("op"))
    assert state["injected"]
    compacted = t.snapshot(out.parent)
    assert compacted.summary["operation"] == "compact"
    assert t.current_version() == out.version
    assert {r["url"] for r in t.read().collect()} == {f"u{i}" for i in range(30)}
    # the compaction's effect survives: its base files are still listed
    for b, fl in compacted.files.items():
        assert fl[0] in out.files[b]


def test_metadata_commit_never_rebases(spark, tmp_path, monkeypatch):
    """An add_check that loses its race to a MoR epoch was validated
    against the old snapshot: it must raise, and the winning epoch
    must stay the current snapshot (no lost update)."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A")]))
    won = {}

    def epoch():
        won["snap"] = merge_apply(
            t,
            _events_df(spark, [(2, "insert", "b", 20, "B")]),
            epoch_id="lsn:2-2",
            mode="mor",
        ).snapshot

    _race(monkeypatch, "add-check", epoch)
    with pytest.raises(CommitConflict):
        t.add_check("lsn_pos", "lsn > 0")
    cur = t.snapshot()
    assert cur.version == won["snap"].version
    assert cur.summary["operation"] == "merge-mor"
    assert cur.checks == {} and cur.applied_epochs == ["lsn:2-2"]
    assert set(_state(t)) == {"a", "b"}


def test_epoch_refuses_rebase_over_new_check(spark, tmp_path, monkeypatch):
    """A MoR epoch whose commit loses to an add_check was validated
    without the new constraint: it must raise rather than land rows
    the check forbids."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A")]))
    _race(monkeypatch, "merge-mor", lambda: t.add_check("lsn_small", "lsn < 100"))
    with pytest.raises(CommitConflict, match="check change"):
        merge_apply(
            t,
            _events_df(spark, [(500, "insert", "b", 20, "B")]),
            epoch_id="lsn:500-500",
            mode="mor",
        )
    assert t.snapshot().summary["operation"] == "add-check"
    assert set(_state(t)) == {"a"}
