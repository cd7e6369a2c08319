"""Metadata inspection tables (lake/inspect): snapshots/files/
partitions DataFrames and the maintenance planner — pure manifest
reads, cross-checked against the snapshot JSONs they summarize."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.inspect import (
    files_df,
    maintenance_plan,
    partitions_df,
    snapshots_df,
)

SCHEMA = "k string, ts timestamp_ntz, lsn bigint, v double"


def _mk(spark, tmp_path, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=n_buckets, soft_delete=True,
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


def _seed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (i, "insert", f"k{i}", float(i)) for i in range(1, 41)
    ]), epoch_id="e1")
    merge_apply(t, _ev(spark, [
        (100 + i, "update", f"k{i}", float(i) * 2) for i in range(1, 11)
    ]), epoch_id="e2")
    return t


def test_files_df_matches_manifest(spark, tmp_path):
    t = _seed(spark, tmp_path)
    snap = t.snapshot()
    df = files_df(t)
    manifest_n = sum(len(fl) for fl in snap.files.values())
    assert df.count() == manifest_n
    rows = df.collect()
    assert all(r["bytes"] > 0 for r in rows)
    assert {r["bucket"] for r in rows} == {int(b) for b in snap.files}
    assert all(r["version"] == snap.version for r in rows)
    # generations come from the delta dir names — monotone ints
    assert all(r["generation"] >= 1 for r in rows)


def test_snapshots_df_covers_history(spark, tmp_path):
    t = _seed(spark, tmp_path)
    df = snapshots_df(t)
    assert [r["version"] for r in df.orderBy("version").collect()] == t.versions()
    cur = df.orderBy(F.desc("version")).first()
    assert cur["n_files"] == files_df(t).count()
    assert cur["n_applied_epochs"] == 2
    assert cur["soft_delete"] is True
    # parent chain is intact
    by_v = {r["version"]: r for r in df.collect()}
    for v in t.versions()[1:]:
        assert by_v[v]["parent"] in by_v


def test_partitions_df_rolls_up_buckets(spark, tmp_path):
    t = _seed(spark, tmp_path)
    pdf = partitions_df(t)
    fdf = files_df(t)
    per_bucket = {
        r["bucket"]: (r["n_files"], r["total_bytes"])
        for r in fdf.groupBy("bucket")
        .agg(F.count("*").alias("n_files"), F.sum("bytes").alias("total_bytes"))
        .collect()
    }
    for r in pdf.collect():
        assert (r["n_files"], r["total_bytes"]) == per_bucket[r["bucket"]]
        # tiny test files are all "small"
        assert r["small_files"] == r["n_files"]


def test_maintenance_plan_flags_mor_and_fragments_then_clears(spark, tmp_path):
    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (i, "insert", f"k{i}", float(i)) for i in range(1, 41)
    ]))
    merge_apply(
        t,
        _ev(spark, [(100 + i, "update", f"k{i}", 0.5) for i in range(1, 21)]),
        mode="mor",
    )
    plan = maintenance_plan(t, keep_snapshots=10)
    compact_rows = [r for r in plan.collect() if r["action"] == "compact"]
    assert compact_rows, "MoR deltas must surface a compact recommendation"
    assert all(r["scope"] == "bucket" for r in compact_rows)
    mor_buckets = {
        int(b)
        for b, fl in t.snapshot().files.items()
        if any(fe.get("mor") for fe in fl)
    }
    assert {int(r["target"]) for r in compact_rows} == mor_buckets

    t.compact()
    after = maintenance_plan(t, keep_snapshots=10)
    assert [r for r in after.collect() if r["action"] == "compact"] == []


def test_maintenance_plan_snapshot_pileup_and_stages(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i in range(6):
        merge_apply(t, _ev(spark, [(i + 1, "insert", f"k{i}", 1.0)]))
    plan = maintenance_plan(t, keep_snapshots=3)
    acts = {r["action"] for r in plan.collect()}
    assert "expire_snapshots" in acts
    t.append(_ev(spark, [(99, "insert", "zz", 9.9)]).drop("op"), stage="audit")
    plan2 = maintenance_plan(t, keep_snapshots=3)
    stage_rows = [
        r for r in plan2.collect() if r["action"] == "abort_or_publish_stage"
    ]
    assert [r["target"] for r in stage_rows] == ["audit"]
    t.abort_staged("audit")
    t.expire_snapshots(keep_last=3)
    plan3 = maintenance_plan(t, keep_snapshots=3)
    assert plan3.count() == 0


def test_physical_rows_from_manifests_only(spark, tmp_path):
    """Manifest row counts answer physical COUNT without a scan:
    equal to the as-stored row count (tombstones and superseded
    generations included), and files_df/partitions_df carry the same
    per-file / per-bucket numbers."""
    t = _seed(spark, tmp_path)
    stored = t.read(include_deleted=True).count()
    assert t.physical_rows() == stored
    merge_apply(t, _ev(spark, [(200, "delete", "k1", None)]))
    # tombstone is a physical row; logical count drops below physical
    assert t.physical_rows() == t.read(include_deleted=True).count()
    assert t.read().count() < t.physical_rows()
    fdf = files_df(t)
    assert fdf.where(F.col("rows").isNull()).count() == 0
    assert (
        fdf.agg(F.sum("rows").alias("s")).first()["s"] == t.physical_rows()
    )
    per_bucket = {
        r["bucket"]: r["rows"]
        for r in partitions_df(t).collect()
    }
    manifest = {
        int(b): sum(fe["rows"] for fe in fl)
        for b, fl in t.snapshot().files.items()
    }
    assert per_bucket == manifest


def test_physical_rows_none_on_legacy_manifest(spark, tmp_path):
    """A pre-row-count manifest (simulated by stripping the field)
    yields None, never a silently wrong number."""
    import json as _json
    import os as _os

    t = _seed(spark, tmp_path)
    p = t._snap_path(t.current_version())
    d = _json.loads(open(p).read())
    for fl in d["files"].values():
        for fe in fl:
            fe.pop("rows", None)
    _os.chmod(p, 0o644)
    with open(p, "w") as f:
        f.write(_json.dumps(d))
    assert t.physical_rows() is None
    assert files_df(t).where(F.col("rows").isNull()).count() > 0
    assert partitions_df(t).where(F.col("rows").isNull()).count() > 0


def test_tags_pin_snapshots_and_name_reads(spark, tmp_path):
    """set_tag names a version; read(version=resolve_tag()) time-travels
    by name; expire_snapshots keeps tagged versions alive; drop_tag
    releases them to the next sweep."""
    import pytest as _pytest

    from realdeal_spark.lake.table import CommitConflict

    t = _mk(spark, tmp_path)
    for i in range(5):
        merge_apply(t, _ev(spark, [(i + 1, "insert", f"k{i}", float(i))]))
    vs = t.versions()
    v_tagged = vs[2]
    t.set_tag("release-1", v_tagged)
    assert t.tags() == {"release-1": v_tagged}
    want = sorted(r["k"] for r in t.read(version=v_tagged).collect())
    assert sorted(r["k"] for r in t.read(version=t.resolve_tag("release-1")).collect()) == want

    with _pytest.raises(CommitConflict):
        t.set_tag("release-1", vs[3])
    t.set_tag("release-1", vs[3], replace=True)
    assert t.resolve_tag("release-1") == vs[3]
    t.set_tag("release-1", v_tagged, replace=True)

    t.expire_snapshots(keep_last=1)
    assert v_tagged in t.versions()  # pinned
    assert sorted(r["k"] for r in t.read(version=t.resolve_tag("release-1")).collect()) == want

    t.drop_tag("release-1")
    t.expire_snapshots(keep_last=1)
    assert v_tagged not in t.versions()
    with _pytest.raises(KeyError):
        t.resolve_tag("release-1")


def test_tag_validation_and_read_arg_conflicts(spark, tmp_path):
    import pytest as _pytest

    t = _seed(spark, tmp_path)
    with _pytest.raises(ValueError, match="bad tag name"):
        t.set_tag("../escape")
    with _pytest.raises(Exception):
        t.set_tag("ok", version=999)  # unknown snapshot
    t.set_tag("ok")


def test_auto_maintain_executes_plan(spark, tmp_path):
    from realdeal_spark.lake.inspect import auto_maintain

    t = _mk(spark, tmp_path)
    merge_apply(t, _ev(spark, [
        (i, "insert", f"k{i}", float(i)) for i in range(1, 41)
    ]))
    for i in range(8):
        merge_apply(t, _ev(spark, [(200 + i, "insert", f"z{i}", 1.0)]))
    # MoR last: a later CoW rewrite of the same bucket would fold the
    # deltas and clear the compact trigger
    merge_apply(
        t,
        _ev(spark, [(100 + i, "update", f"k{i}", 0.5) for i in range(1, 21)]),
        mode="mor",
    )
    t.append(_ev(spark, [(999, "insert", "st", 1.0)]).drop("op"), stage="aud")
    done = auto_maintain(t, keep_snapshots=3)
    acts = [d["action"] for d in done]
    assert acts == ["compact", "expire_snapshots", "needs_decision"]
    # plan is now clean except the stage, which is never auto-resolved
    after = maintenance_plan(t, keep_snapshots=3).collect()
    assert {r["action"] for r in after} == {"abort_or_publish_stage"}
    assert auto_maintain(t, keep_snapshots=3) == [
        {"action": "needs_decision", "stage": "aud"}
    ]


def test_lineage_df_recovers_offset_ranges(spark, tmp_path):
    """One lineage row per ingest commit, recovered purely from
    snapshot summaries: lsn ranges, epoch id, MERGE stats, and the
    dead-letter count all in-band; non-ingest commits excluded."""
    from realdeal_spark.cdc.apply import CdcApplier
    from realdeal_spark.lake.inspect import lineage_df

    t = LakeTable.create(
        spark, str(tmp_path / "lin"), SCHEMA,
        key_columns=["k"], order_columns=["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )
    log = _ev(spark, (
        [(i, "insert", f"k{i}", float(i)) for i in range(0, 10)]
        + [(13, "bogus-op", "k1", 1.0)]   # dead-letters in epoch 2
        + [(15, "delete", "k2", None)]
    ))
    a = CdcApplier(t, lsn_col="lsn", quarantine_dir=str(tmp_path / "dlq"))
    a.run(log, epoch_size=10)
    t.compact()  # non-ingest commit: must NOT appear in lineage
    rows = {r["epoch_id"]: r for r in lineage_df(t).collect()}
    assert set(rows) == {"lsn:0-9", "lsn:10-19"}
    e1, e2 = rows["lsn:0-9"], rows["lsn:10-19"]
    assert (e1["lsn_start"], e1["lsn_end"]) == (0, 9)
    assert e1["inserted"] == 10 and e1["quarantined"] == 0
    assert e2["deleted"] == 1 and e2["quarantined"] == 1
    # snapshot_version strictly increasing and distinct per epoch
    assert e1["snapshot_version"] < e2["snapshot_version"]
    # restart-replay adds no lineage rows (exactly-once)
    CdcApplier(t, lsn_col="lsn",
               quarantine_dir=str(tmp_path / "dlq")).run(log, epoch_size=10)
    assert lineage_df(t).count() == 2
