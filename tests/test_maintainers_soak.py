"""All seven maintained surfaces through the one protocol
(``streaming.cdf_source``: Surface / stream_maintain / maintainer_lag)
— replica, rollup, IVF index, value index, dedup index, SCD2 history
and join view — over ONE base table plus a small dim table for the
join view:

- a surface created after ``expire_snapshots(keep_last=1)`` serves
  every live row (regression: a feed replay from "earliest" left a
  replica empty and a value index without a watermark);
- an advance at or below the watermark is a no-op on every surface,
  which restarting a stream off an older checkpoint relies on;
- a commit that fails mid-advance on any of the six surfaces behind
  ``interval_step`` leaves only orphan files, and the retry
  reconverges;
- a processingTime soak: all seven maintainers run while the base
  keeps taking commits; lag returns to zero and every surface equals
  its from-scratch twin."""

from __future__ import annotations

import os
import random
import shutil
import time as _time

import pytest
from pyspark.sql import functions as F

from realdeal_spark.cdc.joinview import create_join_view, join_view_surface
from realdeal_spark.cdc.replicate import create_replica, replica_surface
from realdeal_spark.cdc.rollup import (
    Measure,
    create_rollup_table,
    rollup_full,
    rollup_surface,
)
from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.dedupidx import create_dedup_index, dedup_index_surface
from realdeal_spark.lake.inspect import remove_orphan_files
from realdeal_spark.lake.scd import (
    create_history_table,
    history_rows,
    history_surface,
)
from realdeal_spark.lake.valueindex import (
    create_value_index,
    lookup_by_value,
    value_index_surface,
)
from realdeal_spark.operators.dedup import banded_minhash
from realdeal_spark.operators.similarity import (
    build_ivf_index,
    ivf_index_watermark,
    ivf_surface,
)
from realdeal_spark.streaming.cdf_source import maintainer_lag, stream_maintain

DIM = 6
SCHEMA = (
    "vec_id bigint, lsn bigint, embedding array<double>, "
    "lang string, v double, text string"
)
DIM_SCHEMA = "lang string, dts bigint, label string"
LANGS = ["de", "en", "fr"]
WORDS = "crawl merge feed page index delta snapshot bucket bloom epoch".split()
KINDS = [
    "replica", "rollup", "ivf", "value_index",
    "dedup_index", "history", "join_view",
]
MEASURES = [
    Measure("n", "count"),
    Measure("sum_v", "sum", "v"),
    Measure("max_lsn", "max", "lsn"),
]
LSH = dict(num_perm=8, bands=4, shingle_n=2)
HIST_COLS = [
    "vec_id", "lsn", "lang", "v",
    "_live", "_valid_from", "_valid_to", "_commit_version",
]


def _vec(i: int, salt: int = 0) -> list[float]:
    rng = random.Random(i * 7919 + salt)
    return [rng.uniform(-1, 1) for _ in range(DIM)]


def _text(i: int, salt: int = 0) -> str:
    # ids ten apart share a text: near-dup candidates for the LSH index
    rng = random.Random((i % 10) * 31 + salt)
    return " ".join(rng.choice(WORDS) for _ in range(8))


def _ev(spark, rows):
    """rows: (lsn, op, vec_id, salt-or-None)."""
    return spark.createDataFrame(
        [
            (vid, lsn)
            + (
                (None,) * 4
                if op == "delete"
                else (
                    _vec(vid, salt),
                    LANGS[(vid + salt) % 3],
                    float(vid),
                    _text(vid, salt),
                )
            )
            + (op,)
            for (lsn, op, vid, salt) in rows
        ],
        SCHEMA + ", op string",
    )


def _dim_ev(spark, rows):
    """rows: (lang, dts, label, op)."""
    return spark.createDataFrame(rows, DIM_SCHEMA + ", op string")


def _base(spark, root: str, n: int) -> LakeTable:
    src = LakeTable.create(
        spark, f"{root}/base", SCHEMA,
        key_columns=["vec_id"], order_columns=["lsn"],
        n_buckets=4, soft_delete=True,
    )
    merge_apply(src, _ev(spark, [(1, "insert", i, 0) for i in range(n)]))
    return src


def _dim(spark, root: str) -> LakeTable:
    dim = LakeTable.create(
        spark, f"{root}/dim", DIM_SCHEMA,
        key_columns=["lang"], order_columns=["dts"],
        n_buckets=2, soft_delete=True,
    )
    merge_apply(
        dim, _dim_ev(spark, [(g, 1, f"{g}-v1", "insert") for g in LANGS])
    )
    return dim


def _create(kind: str, src: LakeTable, dim: LakeTable | None, root: str):
    """The LakeTable a surface of ``kind`` persists.  The IVF index is
    built over the earliest retained version that holds rows (it has
    no snapshot bootstrap), so its first advance has work to do."""
    if kind == "replica":
        return create_replica(src, f"{root}/replica", n_buckets=2)
    if kind == "rollup":
        return create_rollup_table(src, f"{root}/rollup", ["lang"], MEASURES)
    if kind == "ivf":
        v = next(v for v in src.versions() if src.snapshot(v).files)
        build_ivf_index(
            src.read(version=v), f"{root}/ivf", n_lists=4, table_version=v
        )
        return LakeTable(src.spark, f"{root}/ivf")
    if kind == "value_index":
        return create_value_index(src, f"{root}/vidx", "lang", n_buckets=4)
    if kind == "dedup_index":
        return create_dedup_index(src, f"{root}/didx", n_buckets=4)
    if kind == "history":
        return create_history_table(src, f"{root}/hist")
    return create_join_view(src, dim, {"lang": "lang"}, f"{root}/jv")


def _surface(kind: str, src: LakeTable, dim: LakeTable | None, h):
    if kind == "replica":
        return replica_surface(src, h)
    if kind == "rollup":
        return rollup_surface(src, h, ["lang"], MEASURES)
    if kind == "ivf":
        return ivf_surface(src, h.root)
    if kind == "value_index":
        return value_index_surface(src, h, "lang")
    if kind == "dedup_index":
        return dedup_index_surface(src, h, **LSH)
    if kind == "history":
        return history_surface(src, h)
    return join_view_surface(src, dim, h, {"lang": "lang"})


def _build(kind: str, src: LakeTable, dim: LakeTable | None, root: str):
    """(surface, handle): a new surface of ``kind`` and its store."""
    h = _create(kind, src, dim, root)
    return _surface(kind, src, dim, h), h


def _state(t: LakeTable):
    return sorted(
        (r["vec_id"], r["lsn"], r["lang"], r["v"], r["text"],
         tuple(round(x, 9) for x in r["embedding"]))
        for r in t.read().collect()
    )


def _cells(idx: LakeTable):
    return sorted(
        (r["vec_id"], r["list_id"],
         tuple(round(x, 9) for x in r["embedding"]))
        for r in idx.read().collect()
    )


def _served(src, vidx, langs):
    return sorted(
        (r["vec_id"], r["lang"])
        for r in lookup_by_value(
            src, vidx, "lang", langs, scan_fallback_fraction=None
        ).collect()
    )


def _scanned(src, langs):
    return sorted(
        (r["vec_id"], r["lang"])
        for r in src.read().where(F.col("lang").isin(langs)).collect()
    )


def _rollup_rows(df):
    return sorted(
        ((r["lang"], r["n"], r["sum_v"], r["max_lsn"]) for r in df.collect()),
        key=repr,  # the null-dim group sorts with the others
    )


def _bands(idx):
    return sorted(
        (r["band"], r["bh"], r["vec_id"])
        for r in idx.read().select("band", "bh", "vec_id").collect()
    )


def _scratch_bands(src):
    live = src.read().where(F.col("text").isNotNull())
    return sorted(
        (r["band"], r["bh"], r["_id"])
        for r in banded_minhash(live, "text", "vec_id", **LSH).collect()
    )


def _hist(df):
    rows = [tuple(r) for r in df.select(*HIST_COLS).collect()]
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def _joined(src, dim):
    return _view_rows(
        src.read().join(
            dim.read().select("lang", "label"), on="lang", how="left"
        )
    )


def _view_rows(df):
    return sorted(
        (r["vec_id"], r["lsn"], r["lang"], r["label"]) for r in df.collect()
    )


@pytest.mark.parametrize("kind", ["replica", "value_index"])
def test_stream_maintain_bootstraps_after_expiry(spark, tmp_path, kind):
    src = _base(spark, str(tmp_path), 10)
    merge_apply(src, _ev(spark, [(2, "update", i, 3) for i in range(4)]))
    src.expire_snapshots(keep_last=1)
    assert len(src.versions()) == 1
    s, h = _build(kind, src, None, str(tmp_path))
    q = stream_maintain(
        s, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    if kind == "replica":
        assert len(_state(h)) == 10
        assert _state(h) == _state(src)
    else:
        assert len(_served(src, h, LANGS)) == 10
        assert _served(src, h, LANGS) == _scanned(src, LANGS)
    assert maintainer_lag(s)["versions_behind"] == 0


@pytest.fixture(scope="module")
def base_and_dim(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("surfaces"))
    src = _base(spark, root, 24)
    merge_apply(
        src,
        _ev(spark, [(2, "update", i, 5) for i in range(6)]
            + [(2, "delete", i, None) for i in range(6, 9)]),
    )
    return src, _dim(spark, root)


@pytest.mark.parametrize("kind", KINDS)
def test_advance_at_or_below_watermark_is_noop(
    spark, tmp_path, base_and_dim, kind
):
    """After a bootstrap, advancing to any retained version at or
    below the watermark — a replayed interval from an older checkpoint
    — commits nothing and leaves the watermark where it was."""
    src, dim = base_and_dim
    s, h = _build(kind, src, dim, str(tmp_path))
    s.advance()
    wm = s.watermark()
    assert wm == src.current_version()
    before = h.current_version()
    for t in src.versions():
        s.advance(to_version=t)
    assert s.watermark() == wm
    assert h.current_version() == before


@pytest.fixture(scope="module")
def null_lang_base(spark, tmp_path_factory):
    """A base whose lang has a null group at v3 that v3 -> v4 changes:
    rows leave it, one is deleted from it, one joins it."""

    def ev(rows, null_ids):
        return _ev(spark, rows).withColumn(
            "lang",
            F.when(F.col("vec_id").isin(null_ids), None).otherwise(
                F.col("lang")
            ),
        )

    src = _base(spark, str(tmp_path_factory.mktemp("null_lang")), 9)
    merge_apply(src, ev([(2, "update", i, 1) for i in range(9)], [0, 1, 2, 3]))
    merge_apply(
        src,
        ev([(3, "update", i, 2) for i in (0, 1, 6)] + [(3, "delete", 2, None)],
           [6]),
    )
    return src


def _parquet(t: LakeTable) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), t.root)
        for d, _, fs in os.walk(os.path.join(t.root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize(
    "kind", ["replica", "rollup", "ivf", "value_index", "dedup_index", "history"]
)
def test_crash_mid_advance_retries_to_no_crash_result(
    spark, tmp_path, null_lang_base, monkeypatch, kind
):
    """The surface's commit fails once mid-advance (its files are
    written, its snapshot is not); the retry converges to the
    no-crash twin, every retained snapshot reads, and the orphan sweep
    removes exactly the failed attempt's files.  The interval moves
    rows in and out of a null lang, which the rollup keeps as a group
    like any other."""
    src = null_lang_base
    twin, twin_h = _build(kind, src, None, str(tmp_path / "twin"))
    twin.advance(to_version=src.versions()[-2])
    # the crashing surface starts from a copy of the bootstrapped twin
    shutil.copytree(twin_h.root, str(tmp_path / "crash"))
    h = LakeTable(spark, str(tmp_path / "crash"))
    s = _surface(kind, src, None, h)
    twin.advance()

    real_commit = LakeTable._commit
    armed = [True]

    def crash_once(self, snap):
        if armed[0] and self.root == h.root:
            armed[0] = False
            raise RuntimeError("injected crash before the commit")
        return real_commit(self, snap)

    monkeypatch.setattr(LakeTable, "_commit", crash_once)
    before = _parquet(h)
    with pytest.raises(RuntimeError, match="injected crash"):
        s.advance()
    debris = _parquet(h) - before
    assert debris and s.watermark() == src.versions()[-2]
    s.advance()
    assert s.watermark() == twin.watermark() == src.current_version()
    assert sorted(map(repr, h.read().collect())) == sorted(
        map(repr, twin_h.read().collect())
    )
    if kind == "rollup":
        assert _rollup_rows(h.read()) == _rollup_rows(
            rollup_full(src, ["lang"], MEASURES)
        )
    for v in h.versions():
        h.read(version=v).collect()
    swept = remove_orphan_files(h, older_than_s=0)
    assert set(swept["orphans"]) == debris


def test_seven_maintainers_soak_processing_time(spark, tmp_path):
    root = str(tmp_path)
    src = _base(spark, root, 60)
    dim = _dim(spark, root)
    built = {k: _build(k, src, dim, root) for k in KINDS}

    trig = {"processingTime": "1 seconds"}
    queries = [
        stream_maintain(s, f"{root}/ck_{k}", trigger=trig)
        for k, (s, _) in built.items()
    ]
    try:
        # waves of commits WHILE the maintainers run: vector moves
        # (cell churn), lang flips (index retire+insert, rollup group
        # moves, join re-enrichment), text rewrites (band retirement),
        # deletes, inserts, a dim edit the join view must pick up, and
        # an out-of-order straggler that must lose
        waves = [
            [(10, "update", i, 3) for i in range(0, 20)]
            + [(10, "insert", i, 0) for i in range(60, 75)],
            [(20, "delete", i, None) for i in range(5, 12)]
            + [(20, "update", i, 7) for i in range(30, 50)],
            [(5, "update", i, 9) for i in range(0, 8)]  # stale: lsn 5
            + [(30, "update", i, 11) for i in range(50, 60)],
        ]
        for i, w in enumerate(waves):
            merge_apply(src, _ev(spark, w))
            if i == 0:
                merge_apply(
                    dim, _dim_ev(spark, [("de", 2, "de-v2", "update")])
                )
            _time.sleep(1.5)

        deadline = _time.monotonic() + 180
        while _time.monotonic() < deadline:
            behind = {
                k: maintainer_lag(s)["versions_behind"]
                for k, (s, _) in built.items()
            }
            if all(b == 0 for b in behind.values()):
                break
            _time.sleep(2)
        assert all(b == 0 for b in behind.values()), f"lag stuck: {behind}"
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination()

    # every maintained surface == its from-scratch twin
    assert _state(built["replica"][1]) == _state(src)
    assert _rollup_rows(built["rollup"][1].read()) == _rollup_rows(
        rollup_full(src, ["lang"], MEASURES)
    )
    ivf = built["ivf"][1]
    rebuilt = f"{root}/ivf_rebuild"
    build_ivf_index(
        src.read(), rebuilt,
        centroids=[(int(c), v) for c, v in ivf.snapshot().centroids],
        table_version=src.current_version(),
    )
    assert ivf_index_watermark(ivf) == src.current_version()
    assert _cells(ivf) == _cells(LakeTable(spark, rebuilt))
    vidx = built["value_index"][1]
    for langs in (["de"], ["en"], ["fr"], LANGS):
        assert _served(src, vidx, langs) == _scanned(src, langs)
    assert _bands(built["dedup_index"][1]) == _scratch_bands(src)
    assert _hist(built["history"][1].read()) == _hist(history_rows(src))
    assert _view_rows(built["join_view"][1].read()) == _joined(src, dim)
    # the stale wave lost: lsn-5 straggler never overwrote lsn-10 rows
    got = {r["vec_id"]: r["lsn"] for r in src.read().collect()}
    assert all(got[i] == 10 for i in range(0, 5))
