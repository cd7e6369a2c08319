"""The benchmark's tracer wraps engine names it reads by name and by
argument position (``perfbench/spans.py``).  A renamed wrap target, or
a commit forwarder that stops receiving ``new_files`` by keyword, would
zero the traced per-layer metrics without any failure; this test turns
either into a tier-1 failure."""

from __future__ import annotations

from perfbench.spans import Tracer

from realdeal_spark.lake import LakeTable, merge_apply

from tests.test_merge_cdc import PAGES_SCHEMA, _events_df


def test_tracer_shims_resolve_and_commit_span_sees_files(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"],
        n_buckets=2, soft_delete=True, key_blooms=True,
    )
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 1, "A")]))
    tracer = Tracer(spark, "contract")
    tracer.install()  # getattr on every wrap target: raises if one is gone
    try:
        assert tracer._undo
        for owner, attr, orig in tracer._undo:
            assert getattr(owner, attr).__wrapped__ is orig
        tracer.enabled = True
        merge_apply(
            t,
            _events_df(spark, [(2, "update", "a", 2, "A2"), (3, "insert", "b", 3, "B")]),
            epoch_id="lsn:2-3",
            mode="mor",
        )
    finally:
        tracer.enabled = False
        tracer.uninstall()
    commits = [s for s in tracer.spans if s.name == "lake.table.commit"]
    assert commits
    assert all(s.attrs["files"] > 0 and s.attrs["bytes"] > 0 for s in commits)
