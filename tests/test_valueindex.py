"""Secondary value index (lake/valueindex): a value-bucketed index
maintained purely off the changes feed must serve lookups identical to
a full-scan filter — across value changes, deletes, resurrections,
interval chops, replays, and the streaming maintenance path — while
planning reads over only the probed values' buckets."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from realdeal_spark.lake import LakeTable, merge_apply
from realdeal_spark.lake.valueindex import (
    advance_interval,
    advance_value_index,
    create_value_index,
    lookup_by_value,
    value_index_surface,
    value_index_watermark,
)
from realdeal_spark.streaming.cdf_source import maintainer_lag, stream_maintain

SCHEMA = "url string, ts timestamp_ntz, lsn bigint, lang string, v double"


def _mk(spark, tmp_path, name="src", n_buckets=4, soft_delete=True):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA,
        key_columns=["url"], order_columns=["ts", "lsn"],
        n_buckets=n_buckets, soft_delete=soft_delete,
    )


def _ev(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (u, base + dt.timedelta(seconds=lsn), lsn, lang, v, op)
            for (lsn, op, u, lang, v) in rows
        ],
        SCHEMA + ", op string",
    )


def _seed(spark, tmp_path, **kw):
    t = _mk(spark, tmp_path, **kw)
    merge_apply(t, _ev(spark, [
        (i, "insert", f"u{i}", ["de", "en", "fr"][i % 3], float(i))
        for i in range(1, 31)
    ]))
    merge_apply(t, _ev(spark, [
        # u1 de->en, u4 en->fr, u7 stays de (other column changes)
        (41, "update", "u1", "en", 10.0),
        (42, "update", "u4", "fr", 11.0),
        (43, "update", "u7", "de", 12.0),
        (44, "delete", "u10", None, None),
        (45, "update", "u11", None, 13.0),  # value -> null: retire entry
    ]))
    merge_apply(t, _ev(spark, [
        (60, "insert", "u10", "en", 14.0),  # resurrect with a new lang
        (61, "update", "u11", "fr", 15.0),  # null -> value
    ]))
    return t


def _served(src, idx, langs):
    # Force the index path: at test scale every value exceeds the
    # scan-fallback fraction and the auto planner would (correctly)
    # serve via scan, which would stop exercising the index itself.
    return sorted(
        (r["url"], r["lang"], r["v"])
        for r in lookup_by_value(
            src, idx, "lang", langs, scan_fallback_fraction=None
        ).collect()
    )


def _scanned(src, langs, version=None):
    return sorted(
        (r["url"], r["lang"], r["v"])
        for r in src.read(version=version)
        .where(F.col("lang").isin(langs))
        .collect()
    )


def test_bootstrap_and_value_transitions(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    advance_value_index(src, idx, "lang")
    for langs in (["de"], ["en"], ["fr"], ["de", "en", "fr"]):
        assert _served(src, idx, langs) == _scanned(src, langs)
    # u1 moved de->en: must not appear under de
    de = {u for u, _, _ in _served(src, idx, ["de"])}
    assert "u1" not in de and "u7" in de
    # deleted-then-resurrected key appears only under its new value
    en = {u for u, _, _ in _served(src, idx, ["en"])}
    assert "u10" in en
    # null-valued interlude leaves no ghost
    fr = {u for u, _, _ in _served(src, idx, ["fr"])}
    assert "u11" in fr


def test_snapshot_bootstrap_matches_feed_bootstrap(spark, tmp_path):
    """The default (snapshot) bootstrap and the feed-replay bootstrap
    must serve identical lookups, carry the same watermark, and accept
    the same incremental advances afterwards — an index bootstrapped
    either way is interchangeable."""
    src = _seed(spark, tmp_path)
    snap_ix = create_value_index(src, str(tmp_path / "snap_ix"), "lang")
    feed_ix = create_value_index(src, str(tmp_path / "feed_ix"), "lang")
    advance_value_index(src, snap_ix, "lang")  # bootstraps: snapshot
    advance_interval(  # the feed replay over the same interval
        src, feed_ix, "lang", src.versions()[0], src.current_version()
    )
    assert value_index_watermark(snap_ix) == value_index_watermark(feed_ix)
    for langs in (["de"], ["en"], ["fr"], ["de", "en", "fr"]):
        assert _served(src, snap_ix, langs) == _scanned(src, langs)
        assert _served(src, snap_ix, langs) == _served(src, feed_ix, langs)
    # bootstrap replay is a metadata no-op (same epoch-id guard)
    v_after = snap_ix.current_version()
    assert advance_value_index(src, snap_ix, "lang") is None
    assert snap_ix.current_version() == v_after
    # a later incremental advance lands identically on both
    merge_apply(src, _ev(spark, [
        (70, "update", "u2", "fr", 20.0),   # en -> fr
        (71, "delete", "u5", None, None),
        (72, "insert", "u99", "de", 21.0),
    ]))
    advance_value_index(src, snap_ix, "lang")
    advance_value_index(src, feed_ix, "lang")
    for langs in (["de"], ["en"], ["fr"]):
        assert _served(src, snap_ix, langs) == _scanned(src, langs)
        assert _served(src, snap_ix, langs) == _served(src, feed_ix, langs)


def test_serve_version_slides_across_maintenance(spark, tmp_path):
    """Compacting the base must not pin index-served lookups to the
    old uncompacted layout: the serve version slides forward across
    maintenance-only commits, and stops at the first data commit the
    index hasn't applied (stale index = misses, never wrong rows)."""
    from realdeal_spark.lake.valueindex import _serve_version

    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    advance_value_index(src, idx, "lang")
    wm = value_index_watermark(idx)
    assert _serve_version(src, wm) == wm  # nothing after the watermark
    src.compact()
    assert _serve_version(src, wm) == src.current_version()
    # served through the compacted layout, results unchanged
    for langs in (["de"], ["en"], ["fr"]):
        assert _served(src, idx, langs) == _scanned(src, langs)
    # a data commit after the compaction stops the slide
    merge_apply(src, _ev(spark, [(80, "insert", "u77", "de", 30.0)]))
    assert _serve_version(src, wm) == src.current_version() - 1
    de = {u for u, _, _ in _served(src, idx, ["de"])}
    assert "u77" not in de  # miss, not a wrong row
    advance_value_index(src, idx, "lang")
    de = {u for u, _, _ in _served(src, idx, ["de"])}
    assert "u77" in de


def test_interval_chops_converge_and_replay_is_noop(spark, tmp_path):
    src = _seed(spark, tmp_path)
    one = create_value_index(src, str(tmp_path / "one"), "lang")
    per = create_value_index(src, str(tmp_path / "per"), "lang")
    advance_value_index(src, one, "lang")
    vs = src.versions()
    for a, b in zip(vs, vs[1:]):
        advance_interval(src, per, "lang", a, b)
    assert _served(src, one, ["de", "en", "fr"]) == _served(
        src, per, ["de", "en", "fr"]
    )
    # replaying an already-applied interval is a metadata no-op
    v_after = per.current_version()
    assert advance_interval(src, per, "lang", vs[0], vs[1]) is None
    assert per.current_version() == v_after
    # catch-up when already current is a no-op too
    assert advance_value_index(src, per, "lang") is None


def test_watermark_and_lag(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    surface = value_index_surface(src, idx, "lang")
    assert value_index_watermark(idx) is None
    assert maintainer_lag(surface)["versions_behind"] is None
    vs = src.versions()
    advance_interval(src, idx, "lang", vs[0], vs[1])
    assert value_index_watermark(idx) == vs[1]
    assert (
        maintainer_lag(surface)["versions_behind"]
        == src.current_version() - vs[1]
        > 0
    )
    advance_value_index(src, idx, "lang")
    assert maintainer_lag(surface)["versions_behind"] == 0


def test_lookup_pins_to_watermark(spark, tmp_path):
    """A lagging index serves the base AS OF its watermark — stale
    rows, never wrong ones (value re-filter guards drift)."""
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    vs = src.versions()
    advance_interval(src, idx, "lang", vs[0], vs[1])  # only the seed batch
    assert _served(src, idx, ["de", "en", "fr"]) == _scanned(
        src, ["de", "en", "fr"], version=vs[1]
    )


def test_bucket_pruning_plans_subset(spark, tmp_path):
    """The index read behind a lookup touches only the probed values'
    buckets (value-only bucket hash), not all of them."""
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang", n_buckets=16)
    advance_value_index(src, idx, "lang")
    isnap = idx.snapshot()
    want = {
        r["b"]
        for r in idx.spark.createDataFrame([("de",)], "lang string")
        .select(
            F.pmod(F.xxhash64("lang"), F.lit(isnap.n_buckets))
            .cast("int")
            .alias("b")
        )
        .collect()
    }
    assert len(want) == 1
    # the single-bucket read alone already serves the full answer
    got = sorted(
        (r["url"],)
        for r in idx.read(buckets=sorted(want))
        .where(F.col("lang") == "de")
        .select("url")
        .collect()
    )
    scan = sorted((u,) for u, _, _ in _scanned(src, ["de"]))
    assert got == scan
    # and lookup_by_value end-to-end agrees
    assert _served(src, idx, ["de"]) == _scanned(src, ["de"])


def test_scan_fallback_crossover(spark, tmp_path):
    """Cost-based access-path choice: a common value (over the
    fraction threshold) serves via the scan plan, a forced-index or
    rare-value lookup via the key fan-out — all answer-identical."""
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    advance_value_index(src, idx, "lang")
    scan = _scanned(src, ["de"])
    # 'de' is ~1/3 of rows: every fraction below that falls back to
    # scan, fraction=None forces the index, a generous fraction keeps
    # the index path — all three must agree with the plain scan.
    for frac in (0.01, 0.99, None):
        got = sorted(
            (r["url"], r["lang"], r["v"])
            for r in lookup_by_value(
                src, idx, "lang", ["de"], scan_fallback_fraction=frac
            ).collect()
        )
        assert got == scan, frac
    # the fallback plan must not probe the index's key path: it reads
    # the base directly, so a stale (never-advanced-further) index
    # still answers through scan at the pinned version
    merge_apply(src, _ev(spark, [(99, "insert", "u99", "de", 99.0)]))
    wm = value_index_watermark(idx)
    served = lookup_by_value(
        src, idx, "lang", ["de"], scan_fallback_fraction=0.0
    )
    assert ("u99",) not in {
        (r["url"],) for r in served.collect()
    }, "scan fallback must pin to the index watermark version"
    assert sorted(
        (r["url"], r["lang"], r["v"]) for r in served.collect()
    ) == _scanned(src, ["de"], version=wm)


def test_requires_soft_delete_and_non_key_column(spark, tmp_path):
    hard = _mk(spark, tmp_path, name="hard", soft_delete=False)
    with pytest.raises(ValueError, match="soft-delete"):
        create_value_index(hard, str(tmp_path / "i1"), "lang")
    src = _mk(spark, tmp_path, name="soft")
    with pytest.raises(ValueError, match="key column"):
        create_value_index(src, str(tmp_path / "i2"), "url")
    with pytest.raises(ValueError, match="no column"):
        create_value_index(src, str(tmp_path / "i3"), "nope")


def test_stream_maintenance_with_restart(spark, tmp_path):
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    ckpt = str(tmp_path / "ckpt")
    q = stream_maintain(
        value_index_surface(src, idx, "lang"), ckpt,
        max_versions_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert _served(src, idx, ["de", "en", "fr"]) == _scanned(
        src, ["de", "en", "fr"]
    )
    # more base commits, fresh query off the same checkpoint
    merge_apply(src, _ev(spark, [
        (100, "update", "u2", "de", 99.0),
        (101, "delete", "u3", None, None),
    ]))
    q2 = stream_maintain(value_index_surface(src, idx, "lang"), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()
    assert _served(src, idx, ["de", "en", "fr"]) == _scanned(
        src, ["de", "en", "fr"]
    )
    assert maintainer_lag(
        value_index_surface(src, idx, "lang")
    )["versions_behind"] == 0


def test_index_compaction_preserves_lookups(spark, tmp_path):
    """Retired entries tombstone, then compact away — the index is a
    normal LakeTable, so its own maintenance applies."""
    src = _seed(spark, tmp_path)
    idx = create_value_index(src, str(tmp_path / "idx"), "lang")
    advance_value_index(src, idx, "lang")
    before = _served(src, idx, ["de", "en", "fr"])
    idx.compact()
    assert _served(src, idx, ["de", "en", "fr"]) == before
