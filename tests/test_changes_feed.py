"""Incremental changes feed (LakeTable.read_changes): the Iceberg
changelog-scan shape — net per-key change between two snapshots,
emitting only files added in the interval, with rewrite/compaction
carryover eliminated payload-light.

Reference analogue: the report stage consumes each run's rows
(realdeal/luigi/email_deals.py) — here "what changed this run" is
re-expressed as a snapshot-range incremental read any downstream
consumer can tail.
"""

from __future__ import annotations

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.events import generate_change_events
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.table import LakeTable

from tests.test_merge_cdc import PAGES_SCHEMA, _events_df, _mk_table


def _feed(table, v_from, v_to=None):
    return {
        r["url"]: (r["lsn"], r["change_type"])
        for r in table.read_changes(v_from, v_to).collect()
    }


def test_changes_cow_upsert_and_delete(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(
        t,
        _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]),
    )
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(3, "update", "a", 20, "A2")]))
    merge_apply(
        t, _events_df(spark, [(4, "insert", "c", 21, "C1"), (5, "delete", "b", 22, None)])
    )
    feed = _feed(t, v1)
    assert feed == {"a": (3, "upsert"), "b": (5, "delete"), "c": (4, "upsert")}
    # the upsert row carries the new payload
    row = {r["url"]: r for r in t.read_changes(v1).collect()}["a"]
    assert bytes(row["html"]).decode() == "A2"


def test_changes_are_net_not_intermediate(spark, tmp_path):
    """Two updates to the same key inside the interval → ONE feed row,
    the final state (net conflation, same contract as the log)."""
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(2, "update", "a", 20, "A2")]))
    merge_apply(t, _events_df(spark, [(3, "update", "a", 30, "A3")]))
    feed = t.read_changes(v1).collect()
    assert len(feed) == 1
    assert feed[0]["lsn"] == 3 and bytes(feed[0]["html"]).decode() == "A3"


def test_changes_empty_interval_and_same_version(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    v1 = t.current_version()
    assert t.read_changes(v1, v1).count() == 0
    assert t.read_changes(v1).count() == 0  # to=None → current == v1


def test_changes_compaction_and_rebucket_are_not_changes(spark, tmp_path):
    """Physical rewrites (compact, rebucket) add files but change no
    rows — the feed must stay empty across them."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(
        t,
        _events_df(spark, [(i, "insert", f"u{i}", 10 + i, f"B{i}") for i in range(20)]),
        mode="mor",
    )
    merge_apply(t, _events_df(spark, [(100, "update", "u3", 999, "NEW")]), mode="mor")
    v1 = t.current_version()
    t.compact(max_files_per_bucket=1)
    assert t.read_changes(v1).count() == 0
    v2 = t.current_version()
    t.rebucket(4)
    assert t.read_changes(v2).count() == 0
    # and across BOTH rewrites plus a real change, only the change shows
    merge_apply(t, _events_df(spark, [(101, "update", "u5", 1000, "N5")]), mode="mor")
    assert _feed(t, v1) == {"u5": (101, "upsert")}


def test_changes_stale_event_is_silent(spark, tmp_path):
    """An out-of-order event that loses the MERGE produces no feed row."""
    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(2, "insert", "a", 100, "NEW")]))
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(3, "update", "a", 50, "OLD")]))  # stale
    assert t.read_changes(v1).count() == 0


def test_changes_mor_with_interleaved_compaction(spark, tmp_path):
    """MoR deltas + a compaction inside the interval: the carried
    copies from the compacted generation must not duplicate or
    resurrect rows (newest-generation winner-find)."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(
        t,
        _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]),
        mode="mor",
    )
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(3, "update", "a", 20, "A2")]), mode="mor")
    t.compact(max_files_per_bucket=1)  # folds a+b; carries b unchanged
    merge_apply(t, _events_df(spark, [(4, "update", "a", 30, "A3")]), mode="mor")
    feed = t.read_changes(v1).collect()
    assert {r["url"]: r["lsn"] for r in feed} == {"a": 4}
    assert bytes(feed[0]["html"]).decode() == "A3"


def test_changes_schema_evolution_inside_interval(spark, tmp_path):
    """Add/rename inside the interval: feed rows come out under the
    to-snapshot's current schema; pre-evolution winners carry typed
    nulls in added columns."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "evo"),
        "url string, warc_ts timestamp_ntz, lsn bigint, html binary",
        key_columns=["url"],
        order_columns=["warc_ts", "lsn"],
        n_buckets=2,
        soft_delete=True,
    )
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]).drop("lang"))
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(2, "update", "a", 20, "A2")]).drop("lang"))
    t.add_column("lang", "string")
    t.rename_column("html", "body")
    src = (
        _events_df(spark, [(3, "insert", "b", 30, "B1")])
        .withColumnRenamed("html", "body")
    )
    merge_apply(t, src)
    feed = {r["url"]: r for r in t.read_changes(v1).collect()}
    assert set(feed) == {"a", "b"}
    assert bytes(feed["a"]["body"]).decode() == "A2" and feed["a"]["lang"] is None
    assert bytes(feed["b"]["body"]).decode() == "B1" and feed["b"]["lang"] == "en"


def test_changes_full_replay_diff_oracle(spark, tmp_path):
    """Random replay, epoch split at an arbitrary version: the feed
    must equal the brute-force diff of the two visible states plus
    tombstone transitions — for both CoW and MoR appliers."""
    ev = generate_change_events(
        spark, n_events=500, n_urls=80, ooo_percent=25, delete_percent=15
    )
    for mode, sub in (("cow", "c"), ("mor", "m")):
        t = LakeTable.create(
            spark, str(tmp_path / sub), PAGES_SCHEMA, ["url"], ["warc_ts", "lsn"], 4,
            soft_delete=True,
        )
        CdcApplier(t, merge_mode=mode).run(ev, epoch_size=200)
        versions = t.versions()
        v_mid = versions[len(versions) // 2]
        old = {
            r["url"]: (r["warc_ts"], r["lsn"])
            for r in t.read(version=v_mid, include_deleted=True).collect()
        }
        new = {
            r["url"]: (r["warc_ts"], r["lsn"], bool(r["_deleted"]))
            for r in t.read(include_deleted=True).collect()
        }
        expected = {
            u: ("delete" if deleted else "upsert")
            for u, (ts, lsn, deleted) in new.items()
            if old.get(u) != (ts, lsn)
        }
        got = {r["url"]: r["change_type"] for r in t.read_changes(v_mid).collect()}
        assert got == expected, mode


def test_changes_from_newer_than_to_raises(spark, tmp_path):
    import pytest

    t = _mk_table(spark, tmp_path)
    merge_apply(t, _events_df(spark, [(1, "insert", "a", 10, "A1")]))
    v = t.current_version()
    merge_apply(t, _events_df(spark, [(2, "update", "a", 20, "A2")]))
    with pytest.raises(ValueError, match="newer"):
        t.read_changes(t.current_version(), v)


def test_changes_legacy_delta_dirs_still_rank_generations(spark, tmp_path):
    """Delta dirs written before the random-suffix rename
    (delta-000000001/...) must still yield their version as the
    rewrite generation: if they all collapsed to gen 0, the carried
    copy from a compaction inside the interval would tie with the
    original row on (key, order, gen) and both would survive the
    winner semi-join — duplicate change rows."""
    import json
    import os
    import re

    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(
        t,
        _events_df(spark, [(i, "insert", f"u{i}", 10 + i, f"B{i}") for i in range(10)]),
        mode="mor",
    )
    v1 = t.current_version()
    merge_apply(t, _events_df(spark, [(100, "update", "u3", 999, "NEW")]), mode="mor")
    t.compact(max_files_per_bucket=1)  # carried copies inside the interval

    # rewrite the physical layout to the legacy naming (no random suffix)
    root = t.root
    data = os.path.join(root, "data")
    mapping = {}
    for name in os.listdir(data):
        m = re.match(r"(delta-\d+)-[0-9a-f]+$", name)
        if m:
            mapping[name] = m.group(1)
            os.rename(os.path.join(data, name), os.path.join(data, m.group(1)))
    assert mapping  # the rewrite actually renamed something
    meta = os.path.join(root, "_meta")
    for fn in os.listdir(meta):
        if not fn.endswith(".json"):
            continue
        p = os.path.join(meta, fn)
        with open(p) as f:
            s = f.read()
        for old, new in sorted(mapping.items(), key=lambda kv: -len(kv[0])):
            s = s.replace(old, new)
        os.remove(p)  # v*.json are created via hard link; replace in place
        with open(p, "w") as f:
            f.write(s)

    t2 = LakeTable(spark, root)
    feed = t2.read_changes(v1).collect()
    urls = [r["url"] for r in feed]
    assert sorted(urls) == sorted(set(urls)), "duplicate change rows"
    assert {r["url"]: (r["lsn"], r["change_type"]) for r in feed} == {
        "u3": (100, "upsert")
    }


def test_interval_additive_detection_and_skip_equivalence(spark, tmp_path):
    """Pure merge-mor (+ metadata-only) intervals are detected as
    additive — the reconstruction then skips the old-snapshot
    carryover anti-join — and MUST yield the identical feed an
    equivalent rewrite-bearing interval yields through the join."""
    t = _mk_table(spark, tmp_path, n_buckets=2)
    merge_apply(
        t,
        _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]),
        mode="mor",
    )
    v1 = t.current_version()
    merge_apply(
        t,
        _events_df(spark, [(3, "update", "a", 20, "A2"), (4, "delete", "b", 21, None)]),
        mode="mor",
    )
    t.add_check("lsn_nonneg", "lsn >= 0")
    merge_apply(t, _events_df(spark, [(5, "insert", "c", 30, "C1")]), mode="mor")
    assert t._interval_additive(v1, t.current_version())
    feed_skip = _feed(t, v1)
    # same logical epochs through the CoW path (rewrites → join path)
    s2 = tmp_path / "cow"; s2.mkdir()
    t2 = _mk_table(spark, s2, n_buckets=2)
    merge_apply(
        t2,
        _events_df(spark, [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1")]),
    )
    v1b = t2.current_version()
    merge_apply(
        t2,
        _events_df(spark, [(3, "update", "a", 20, "A2"), (4, "delete", "b", 21, None)]),
    )
    merge_apply(t2, _events_df(spark, [(5, "insert", "c", 30, "C1")]))
    assert not t2._interval_additive(v1b, t2.current_version())
    assert feed_skip == _feed(t2, v1b)
    assert feed_skip == {"a": (3, "upsert"), "b": (4, "delete"), "c": (5, "upsert")}
    # a compaction inside the interval disables the skip
    t.compact(max_files_per_bucket=1)
    assert not t._interval_additive(v1, t.current_version())
    assert _feed(t, v1) == feed_skip  # join path still nets correctly


def test_preimage_bloom_pruning_equivalence(spark, tmp_path, monkeypatch):
    """With key_blooms on the base, the pre-image read prunes to the
    bloom-positive files of the changed keys; the emitted pre-images
    must be byte-identical to the unbloomed table's.  The floor that
    skips the probe on small reads is lifted to keep it on the probe
    path."""
    from realdeal_spark.lake import bloomidx

    monkeypatch.setattr(bloomidx, "BLOOM_PROBE_MIN_ROWS", 0)

    def _pre(table, v_from):
        return {
            r["url"]: (r["lsn"], bytes(r["html"]).decode())
            for r in table.read_changes(v_from, include_preimage=True)
            .where("change_type = 'update_preimage'")
            .collect()
        }

    feeds = {}
    for name, blooms in [("plain", False), ("bloomed", True)]:
        d = tmp_path / name
        d.mkdir()
        t = _mk_table(spark, d, n_buckets=2)
        if blooms:
            t.set_key_blooms(True)
        merge_apply(
            t,
            _events_df(
                spark,
                [(1, "insert", "a", 10, "A1"), (2, "insert", "b", 11, "B1"),
                 (3, "insert", "d", 12, "D1")],
            ),
            mode="mor",
        )
        v1 = t.current_version()
        merge_apply(
            t,
            _events_df(
                spark,
                [(4, "update", "a", 20, "A2"), (5, "delete", "b", 21, None),
                 (6, "insert", "c", 22, "C1")],
            ),
            mode="mor",
        )
        feeds[name] = _pre(t, v1)
    assert feeds["bloomed"] == feeds["plain"]
    assert set(feeds["plain"]) == {"a", "b"}  # inserts have no pre-image
