"""A crash at the commit point of each of the table's own write paths.

Every write path reaches the version chain through the one CAS in
``LakeTable._commit``.  For CoW merge (with change capture), MoR merge
on a ``key_blooms`` table, append, WAP publish, compact and rebucket:
``_commit`` fails once after the path has written its files, then the
same call is retried.  Afterwards every retained snapshot still reads,
the table equals its no-crash twin, and the orphan sweep removes
exactly the files of the failed attempt.  The maintained surfaces have
the same matrix in ``test_maintainers_soak.py``."""

from __future__ import annotations

import os
import shutil

import pytest

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.bloomidx import SIDECAR_DIRNAME
from realdeal_spark.lake.inspect import remove_orphan_files

from tests.test_merge_cdc import _events_df


def _rows(lsn, n, op="insert", url="u"):
    return [(lsn + i, op, f"{url}{i}", lsn + i, f"B{lsn + i}") for i in range(n)]


@pytest.fixture(scope="module")
def crash_base(spark, tmp_path_factory):
    """Two buckets, each holding a CoW base file plus a MoR delta, so
    compact has work; one staged append for the publish case.  Key
    blooms stay off but for the MoR case: a sidecar build per write
    would double the matrix's time."""
    root = str(tmp_path_factory.mktemp("crash_base") / "t")
    t = LakeTable.create(
        spark, root,
        "url string, warc_ts timestamp_ntz, lsn bigint, html binary, lang string",
        ["url"], ["warc_ts", "lsn"], n_buckets=2, soft_delete=True,
    )
    merge_apply(t, _events_df(spark, _rows(0, 12)))
    merge_apply(t, _events_df(spark, _rows(100, 4, "update")), mode="mor")
    t.append(_events_df(spark, _rows(200, 3, url="s")).drop("op"), stage="audit")
    return t


def _write(kind, t):
    ev = lambda rows: _events_df(t.spark, rows)
    if kind == "cow":
        return merge_apply(
            t, ev(_rows(300, 6, "update") + [(306, "delete", "u7", 900, None)]),
            epoch_id="e-cow", capture_changes=True,
        )
    if kind == "mor":
        return merge_apply(
            t, ev(_rows(400, 5, "update") + _rows(420, 2, url="n")),
            epoch_id="e-mor", mode="mor",
        )
    if kind == "append":
        return t.append(ev(_rows(500, 2, url="a")).drop("op"))
    if kind == "publish":
        return t.publish_staged("audit")
    if kind == "compact":
        return t.compact()
    if kind == "rebucket":
        return t.rebucket(3)
    raise AssertionError(kind)


def _parquet(t: LakeTable) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), t.root)
        for d, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }


def _rows_of(t: LakeTable):
    return sorted(map(repr, t.read(include_deleted=True).collect()))


@pytest.mark.parametrize(
    "kind", ["cow", "mor", "append", "publish", "compact", "rebucket"]
)
def test_crash_at_commit_retries_to_no_crash_result(
    spark, tmp_path, crash_base, monkeypatch, kind
):
    twin = LakeTable(spark, str(tmp_path / "twin"))
    h = LakeTable(spark, str(tmp_path / "crash"))
    shutil.copytree(crash_base.root, twin.root)
    shutil.copytree(crash_base.root, h.root)
    if kind == "mor":  # the MoR case runs on a key_blooms table
        twin.set_key_blooms(True)
        h.set_key_blooms(True)
    _write(kind, twin)

    real_commit = LakeTable._commit
    armed = [True]

    def crash_once(self, snap):
        if armed[0] and self.root == h.root:
            armed[0] = False
            raise RuntimeError("injected crash before the commit")
        return real_commit(self, snap)

    monkeypatch.setattr(LakeTable, "_commit", crash_once)
    before, v_before = _parquet(h), h.current_version()
    with pytest.raises(RuntimeError, match="injected crash"):
        _write(kind, h)
    debris = _parquet(h) - before
    assert h.current_version() == v_before
    # publish writes no files of its own: the staged ones stay pinned
    assert bool(debris) == (kind != "publish")
    if kind == "mor":  # the failed attempt's key sidecar is debris too
        assert any(SIDECAR_DIRNAME in p for p in debris)
    _write(kind, h)

    assert h.current_version() == twin.current_version()
    assert h.snapshot().summary["operation"] == twin.snapshot().summary["operation"]
    assert _rows_of(h) == _rows_of(twin)
    for v in h.versions():
        h.read(version=v, include_deleted=True).collect()
    swept = remove_orphan_files(h, older_than_s=0)
    assert set(swept["orphans"]) == debris
