"""Dump formatted physical plans of the engine's key operators to
EXPLAIN.md (at the repo root), with the invariants each plan must
exhibit.  Every lake table the plans read is built under one temp dir,
removed once the plans are formatted.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from realdeal_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="rds_plan_")
    try:
        text = render(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write(text)
    print("wrote EXPLAIN.md")


def render(spark, root: str) -> str:
    """Build every section's frame over tables under ``root`` and
    format the plans while those tables still exist."""
    from realdeal_spark.cdc.conflate import conflate
    from realdeal_spark.cdc.events import generate_change_events
    from realdeal_spark.operators.relational import find_new, latest_per_key

    ev = spark.read.parquet(f"{SF}/events.parquet")
    gen = generate_change_events(spark, n_events=10000, n_urls=1000)

    sections = [
        (
            "Filter + projection pushdown",
            "PushedFilters reach the parquet scan; ReadSchema is pruned "
            "to the 3 referenced columns.",
            ev.where(F.col("event_type") == "click").select("event_id", "user_id"),
        ),
        (
            "Per-key conflation (max_by)",
            "partial_max_by before the exchange — map-side combine is the "
            "hot-key defense; shuffle carries one row per key per map task.",
            latest_per_key(ev, ["user_id"], ["ts", "event_id"]),
        ),
        (
            "Per-key conflation (light / payload-free)",
            "The winner-find aggregate reads only (url, warc_ts, lsn), and "
            "the payload column enters the BroadcastHashJoin LeftSemi on its "
            "stream side only.  The exact-replay dropDuplicates after the "
            "join is the one exchange that carries html: Exchange "
            "hashpartitioning(url, warc_ts, lsn) over the winners' full rows.",
            conflate(gen, ["url"], ["warc_ts", "lsn"], strategy="light"),
        ),
        (
            "Two-phase salted window conflation",
            "Two row_number windows: within (key, salt) then across salts — "
            "a hot key's rows split over salt_buckets partitions in phase 1.",
            conflate(
                gen, ["url"], ["warc_ts", "lsn"], strategy="window", salt_buckets=8
            ),
        ),
        (
            "Find-new (anti-join)",
            "LeftAnti join — never a driver-side key set.",
            find_new(
                ev,
                spark.read.parquet(f"{SF}/customer.parquet").select(
                    F.col("c_custkey").alias("user_id")
                ),
                ["user_id"],
            ),
        ),
        (
            "Synthetic change-log generator",
            "Pure Range → Project: no Exchange anywhere — 10^10-event "
            "generation is embarrassingly parallel.",
            gen,
        ),
    ]

    # bucketed embedding near-dup: equi-join on (table, bucket), never
    # a cartesian (contrast with the brute-force baseline)
    from realdeal_spark.operators.dedup import embedding_neardup_pairs_bucketed

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections.append(
        (
            "Bucketed embedding near-dup (LSH candidates)",
            "SortMergeJoin/ShuffledHashJoin on (t, bk, id<id) for candidate "
            "generation and id equi-joins to re-attach vectors — no "
            "CartesianProduct / BroadcastNestedLoopJoin anywhere (the "
            "brute-force baseline's shape).",
            embedding_neardup_pairs_bucketed(emb, dim=64, n_planes=4, n_tables=2),
        )
    )

    # MoR classification target read: payload pruned at the scan
    import datetime as dt

    from realdeal_spark.lake.table import _DELETED_COL, LakeTable

    t = LakeTable.create(
        spark, f"{root}/mor",
        "url string, warc_ts timestamp_ntz, lsn bigint, html binary",
        ["url"], ["warc_ts", "lsn"], n_buckets=4, soft_delete=True,
    )
    t.append(
        spark.createDataFrame(
            [(f"u{i}", dt.datetime(2024, 1, 1), i, b"x" * 100) for i in range(100)],
            "url string, warc_ts timestamp_ntz, lsn bigint, html binary",
        )
    )
    narrow = t.read(include_deleted=True).select(
        "url", "warc_ts", "lsn", _DELETED_COL
    )
    sections.append(
        (
            "MoR classification target read (narrow projection)",
            "ReadSchema contains only (url, warc_ts, lsn, _bucket, _deleted) "
            "— the html payload is pruned at the parquet scan, so the "
            "merge-on-read classify join costs O(narrow bytes) regardless "
            "of payload width.",
            narrow,
        )
    )

    # geo point-in-polygon: broadcast polygons + bbox prune before the
    # Arrow ray-cast
    from realdeal_spark.operators.geo import point_in_polygon_join

    pts = ev.select(
        "event_id",
        ((F.col("event_id") % 1000) / F.lit(100.0)).alias("lon"),
        ((F.col("user_id") % 1000) / F.lit(100.0)).alias("lat"),
    )
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    cx = (F.col("n_nationkey") % 5) * 2.0 + 1.0
    cy = F.floor(F.col("n_nationkey") / 5) * 2.0 + 1.0
    polys = nat.select(
        F.col("n_nationkey").alias("poly_id"),
        F.array(cx - 0.8, cx + 0.8, cx).alias("xs"),
        F.array(cy - 0.8, cy - 0.8, cy + 0.9).alias("ys"),
    )
    sections.append(
        (
            "Point-in-polygon join (grid-cell equi-join + bbox prune + Arrow ray cast)",
            "Polygons explode to covering grid cells and BROADCAST; the "
            "candidate join is a BroadcastHashJoin on the point's cell id "
            "(never a nested loop over all polygons), bbox predicate "
            "prunes within-cell candidates JVM-side, ArrowEvalPython "
            "ray-casts the survivors only.  The point side never shuffles.",
            point_in_polygon_join(pts, polys).select("event_id", "poly_id"),
        )
    )

    # round 3: connected-components star round — pure equi-joins
    from realdeal_spark.operators.graph import _large_star, _small_star

    edges = spark.range(1, 400).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sections.append(
        (
            "Connected-components round (large-star → small-star)",
            "groupBy-min neighborhoods (partial_min map-side) + hash "
            "equi-joins on the node id — no collect_list (a 10^8-degree "
            "hub never materializes one row), no cartesian; O(log n) "
            "such rounds with a localCheckpoint between them.",
            _small_star(_large_star(edges)),
        )
    )

    # round 3: event-time tumbling rollup — windowed partial aggregation
    from realdeal_spark.streaming.windows import tumbling_rollup

    sections.append(
        (
            "Event-time tumbling rollup (batch twin of the streaming plan)",
            "HashAggregate partial over (window, key) BEFORE the exchange "
            "— the shuffle carries one row per (window, key) per task, "
            "not per event; the same F.window expression drives the "
            "streaming state-store plan.",
            tumbling_rollup(ev, "ts", "6 hours", keys=["event_type"]),
        )
    )

    # round 3: CDF pre-image read — bucket-pruned old-snapshot scan
    from realdeal_spark.lake.merge import merge_apply

    src = spark.createDataFrame(
        [("u7", dt.datetime(2024, 1, 2), 1000, b"y", "update")],
        "url string, warc_ts timestamp_ntz, lsn bigint, html binary, op string",
    )
    merge_apply(t, src)
    from_snap = t.snapshot(t.current_version() - 1)
    to_snap = t.snapshot()
    changed = spark.createDataFrame([("u7",)], "url string")
    sections.append(
        (
            "CDF pre-image read (bucket-pruned old snapshot)",
            "The scan's file list holds ONLY the changed keys' buckets "
            "(driver-side pruning from the snapshot manifest — compare "
            "the single pb= path against the table's 4 buckets); the "
            "winner-find reconcile and the changed-key semi join are "
            "narrow.",
            t._preimage_frame(from_snap, to_snap, changed),
        )
    )

    # round 3: IVF ANN — map-only cell assignment, equi-join candidates
    from realdeal_spark.operators.similarity import ivf_knn

    sections.append(
        (
            "IVF ANN (map-only cell assignment + equi-join candidates)",
            "Cell assignment is a Project (centroid literals folded "
            "in-plan — no join, no exchange on the corpus side); the "
            "candidate join is a BroadcastHashJoin on the long cell id "
            "with the nprobe-exploded query side broadcast; the only "
            "corpus shuffle is the final per-query window rank.",
            ivf_knn(emb, emb.where("vec_id < 4"), k=5, n_lists=8, nprobe=2),
        )
    )

    # round 3: z-order sort expression — rank + interleave, pure Project
    from realdeal_spark.lake.zorder import zorder_boundaries, zorder_expr

    zsrc = ev.select("event_id", "user_id", "value")
    zb = zorder_boundaries(zsrc, ["user_id", "value"], bits=4)
    sections.append(
        (
            "Z-order clustering value (compaction write sort key)",
            "The Morton code is one Project over the scan — equi-depth "
            "rank folds (cut-point literals) + bit interleave, no join, "
            "no exchange; compaction sorts within already-partitioned "
            "buckets so z-ordering adds zero shuffles to the rewrite.",
            zsrc.select(
                "event_id",
                zorder_expr(["user_id", "value"], zb, bits=4).alias("z"),
            ),
        )
    )

    # round 3: change suppression (batch form) — lag window, one shuffle
    from realdeal_spark.streaming.suppress import suppress_unchanged

    sections.append(
        (
            "Change suppression (batch lag form)",
            "One hash-partitioned exchange on the key feeds both lag() "
            "and row_number() in a single Window node; the filter drops "
            "no-op recrawls before they ever reach conflation/MERGE.  "
            "The streaming twin holds one fingerprint string per key in "
            "the state store (applyInPandasWithState).",
            suppress_unchanged(ev, ["user_id"], ["ts", "event_id"], "event_type"),
        )
    )

    # persisted IVF — the probed cells' buckets, read off one snapshot
    from realdeal_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn_indexed,
    )

    idxdir = f"{root}/ivf"
    build_ivf_index(emb, idxdir, n_lists=8)
    sections.append(
        (
            "Persisted IVF query (bucket-pruned cell scan)",
            "The index is a LakeTable bucketed on list_id alone: the "
            "scan's file list holds only the probed cells' buckets "
            "(pruned from one snapshot's manifest before any scan — at "
            "most nprobe of n_lists buckets per query), and the probed "
            "ids filter the scan (list_id IN ...); assignment cost was "
            "paid once at build.",
            ivf_knn_indexed(spark, idxdir, emb.where("vec_id < 3"), k=3, nprobe=2),
        )
    )

    # round 3: composed curation pipeline — fused filters, one window
    import __spark_entry__ as E

    sections.append(
        (
            "Curation pipeline v2 (composed: repetition → quality → sample → balance)",
            "All three filters (repetition, quality, hash-sample) fuse "
            "into the document scan's WholeStageCodegen; the stratified "
            "balance is the single hash exchange (per-language window). "
            "Four operators, one shuffle.",
            E.q_pipeline_curate_v2(spark, SF),
        )
    )

    # round 4: broadcast IVF assignment — centroids as data, not plan
    from pyspark.sql import functions as F2

    from realdeal_spark.operators.similarity import (
        _attach_ranking,
        _dot,
        ivf_seed_centroids,
    )

    cents = ivf_seed_centroids(emb, 8)
    sections.append(
        (
            "Broadcast IVF assignment (large-n_lists strategy)",
            "The centroid set rides a ONE-ROW BroadcastExchange cross-"
            "joined into the corpus (BroadcastNestedLoopJoin over a "
            "single row duplicates nothing); the ranking is one "
            "transform/array_sort over the broadcast column, so the "
            "expression tree stays O(1) however many lists exist.  No "
            "ShuffleExchange anywhere — the corpus is never shuffled.",
            _attach_ranking(
                emb.select(
                    "vec_id",
                    F2.col("embedding").cast("array<double>").alias("_cv"),
                ).withColumn("_nv", F2.sqrt(_dot(F2.col("_cv"), F2.col("_cv")))),
                "_cv",
                "_nv",
                cents,
                "broadcast",
            ).withColumn("list_id", F2.element_at(F2.col("_rk"), 1)["cid"]),
        )
    )

    # round 4: range-bucket skew-safe stratified sampling
    from realdeal_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append(
        (
            "Stratified sample (range-bucket prefix skew guard)",
            "Distributed prefix sum over contiguous hash-order range "
            "buckets: a narrow groupBy plans each (stratum, bucket)'s "
            "carry-in on a tiny table (one Window over ≤skew_buckets "
            "rows per stratum, pre-filtered to `_carry < cap` so "
            "buckets past the cut are pruned before the join), then "
            "the heavy Window partitions by (stratum, _rb) — a giant "
            "stratum spreads over `skew_buckets` independent window "
            "groups and global rank = carry + within-bucket "
            "row_number.  Row-identical to the single-window plan, "
            "minus the straggler.",
            stratified_sample(docs, 10, ["lang"], skew_buckets=32),
        )
    )

    # round 4: bloom-indexed point lookup — six MoR epochs of disjoint
    # keys leave six generations in every bucket
    lk = LakeTable.create(
        spark, f"{root}/lookup", "url string, ts bigint, lsn bigint, body string",
        ["url"], ["ts", "lsn"], n_buckets=4, soft_delete=True, key_blooms=True,
    )
    for e in range(6):
        merge_apply(
            lk,
            spark.createDataFrame(
                [(f"e{e}-u{i}", e, e * 100 + i, "x", "insert") for i in range(40)],
                "url string, ts bigint, lsn bigint, body string, op string",
            ),
            mode="mor",
        )
    lsnap = lk.snapshot()
    lstats = lk._lookup_candidates(lsnap, lk._keys_frame(lsnap, ["e3-u7"]))[2]
    sections.append(
        (
            "Bloom-indexed point lookup (per-file key sidecars)",
            "`lookup(keys)` never scans a bucket: planning is "
            "metadata-sized (bucket-hash the keys → their buckets' "
            "manifest entries → probe only those files' Bloom sidecars), "
            "and the data read opens ONLY bloom-positive files "
            "(`read(file_allowlist=…)`).  On the 6-epoch disjoint-key "
            "MoR table below, one key's lookup reads 1 of 6 generations "
            "in its bucket:",
            lk.lookup(["e3-u7"]),
            f"```\nSTATS {lstats}\n```\n\n"
            "The probe joins the SMALL side into the big one: each key "
            "pairs with the covered files of its own bucket, explodes to "
            "its BLOOM_K probe positions, and broadcasts into ONE "
            "streamed scan of the words parquet (`m_bits` per file comes "
            "from the manifest row count driver-side — no `distinct()` "
            "over the words to recover it); a (key, file) pair is a "
            "candidate iff all K probes hit.  The words relation — "
            "O(table keys) rows — is never broadcast, shuffled, or "
            "scanned twice (the first version broadcast it once per bit: "
            "29 s of a dedup-index advance at a 64 M-entry index, "
            "rewritten to 1.5 s — BENCH_DEDUPIDX.md).  Bulk key sets "
            "past a driver-side size estimate drop the broadcast hint "
            "and shuffle instead.  The data read in the plan above is "
            "the normal MoR reconcile over the surviving file list, "
            "semi-joined back to the keys.\n\n"
            "No false negatives by construction (every written key sets "
            "all k bits); a pruned file is provably free of every "
            "requested key.  Files without sidecars (written before "
            "`set_key_blooms`) are always candidates — coverage is a "
            "performance property, never a correctness one.",
        )
    )

    # round 4: secondary value index — 23 languages over 2,000 rows
    from realdeal_spark.lake.valueindex import (
        advance_value_index,
        create_value_index,
        lookup_by_value,
    )

    row_schema = "url string, ts bigint, lsn bigint, lang string, v double"
    langs = [f"l{i:02d}" for i in range(22)] + ["de"]
    vt = LakeTable.create(
        spark, f"{root}/vbase", row_schema, ["url"], ["ts", "lsn"],
        n_buckets=8, soft_delete=True, key_blooms=True,
    )
    merge_apply(
        vt,
        spark.createDataFrame(
            [(f"u{i}", 0, i, langs[i % 23], float(i), "insert") for i in range(2000)],
            row_schema + ", op string",
        ),
    )
    vidx = create_value_index(vt, f"{root}/vidx", "lang", n_buckets=8)
    advance_value_index(vt, vidx, "lang")
    sections.append(
        (
            "Secondary value-index lookup (value buckets → key set → bloom-pruned base)",
            "`lookup_by_value(src, idx, col, values)` never scans the "
            "base table or the whole index: the probed values hash to "
            "their index buckets (≤ k buckets read for k values), the "
            "resulting key set drives the base's bloom-indexed `lookup`, "
            "and the final data read opens only bloom-positive files in "
            "the keys' buckets.  Every stage is metadata-planned — "
            "nothing O(table).  On an 8-bucket, 2 000-row table serving "
            "one `lang` value (≈1/23 of rows):",
            # the cost-based scan fallback would serve a 1/23 value by
            # scan; this section shows the index path
            lookup_by_value(vt, vidx, "lang", ["de"], scan_fallback_fraction=None),
            "The key set is the index's own bucket-pruned read (one "
            "bucket for one value), broadcast at (url)-width; the base "
            "read is the standard `lookup` plan above (bucket + Bloom "
            "pruned).  Maintenance is O(changes) per commit: "
            "`advance_value_index` reads the changes feed interval, "
            "retires pre-image entries and inserts post-image entries "
            "through the same MERGE path, so the index holds exactly the "
            "current (value, key) pairs at its watermark.  Correctness "
            "under staleness is one-sided by construction — the final "
            "leftsemi re-filter on the live base row's value means a "
            "lagging index can only miss rows whose value changed after "
            "the watermark, never return rows that no longer match.",
        )
    )

    # round 4: predicate DML — the statement's matching read, then the
    # buckets its MERGE touched
    from realdeal_spark.lake.dml import delete_where

    dt_ = LakeTable.create(
        spark, f"{root}/dml", row_schema, ["url"], ["ts", "lsn"],
        n_buckets=8, soft_delete=True,
    )
    merge_apply(
        dt_,
        spark.createDataFrame(
            [(f"u{i}", 0, i, ["de", "en", "fr"][i % 3], float(i), "insert")
             for i in range(2000)],
            row_schema + ", op string",
        ),
    )
    cond = "lang = 'de' and v >= 1990"
    matching = dt_.read().where(cond)
    touched = sorted(delete_where(dt_, cond).touched_buckets)
    sections.append(
        (
            "Predicate DML (DELETE WHERE / UPDATE WHERE as a self-sourced MERGE)",
            "the statement's matching read pushes the predicate into the "
            "parquet scan (never \"read table, filter in Spark\"), and the "
            "MERGE that applies it plans only the matched rows' buckets "
            "— a statement matching keys of 3 buckets rewrites 3 of 8, "
            "never the table.  On a 2 000-row seeded table, "
            "`delete_where(t, \"lang = 'de' and v >= 1990\")`:",
            matching,
            f"```\nTOUCHED {len(touched)} of 8 buckets: {touched}\n```\n\n"
            "The tombstone/update batch carries each matched row ONE "
            "order tick after the row it read (`lsn + 1`), so MoR's "
            "unique-order invariant holds and a replayed original event "
            "cannot resurrect the deletion; from here the plan IS the "
            "ordinary MERGE plan (bucket-pruned classification, CDF "
            "capture, exactly-once epoch guard) — predicate DML adds no "
            "new distributed machinery, just a different source.",
        )
    )

    # round 4: CHECK constraints — the MERGE's prepared batch with its
    # violation counters attached
    from realdeal_spark.lake.merge import _observe_checks, _prep_source

    ts_type = ev.schema["ts"].dataType.simpleString()
    ct = LakeTable.create(
        spark, f"{root}/check",
        f"user_id bigint, ts {ts_type}, event_id bigint, v double",
        ["user_id"], ["ts", "event_id"], n_buckets=8, soft_delete=True,
    )
    ct.add_check("v_nonneg", "v >= 0")
    csnap = ct.snapshot()
    cbatch = ev.where(F.col("event_type") != "signup").select(
        "user_id", "ts", "event_id", F.col("value").alias("v"),
        F.lit("update").alias("op"),
    )
    sections.append(
        (
            "CHECK constraint enforcement (CollectMetrics riding the batch plan)",
            "constraint validation adds NO extra pass over the batch: "
            "the per-constraint violation counters are Observations — a "
            "`CollectMetrics` node sitting on the already-required batch "
            "materialization (the MERGE's persist + touched-bucket "
            "probe, or the append's file write).  The counter aggregates "
            "are map-side CASE sums; `CheckViolation` raises BEFORE any "
            "file lands.  The observed batch plan for a table with "
            "`add_check(\"v_nonneg\", \"v >= 0\")`:",
            _observe_checks(_prep_source(ct, csnap, cbatch)[4], csnap.checks)[0],
            "SQL CHECK semantics in the expression itself: `NOT "
            "coalesce(expr, true)` — FALSE violates, NULL passes, "
            "tombstones exempt via the `op` guard.  A table with no "
            "checks skips the node entirely (identical pre-feature "
            "plan); an applier that dead-letter-routes violations "
            "upstream observes zeros at the same zero cost.",
        )
    )

    # round 4: as-of and range joins — the contract queries themselves
    sections.append(
        (
            "As-of join (two-phase time-bucketed timeline window)",
            "no cartesian, no nested loop — the temporal inequality\n"
            "is planned as a tagged UNION + ordered window, and with\n"
            "`bucket_width` set no reducer ever sorts a whole key's timeline.  The\n"
            "heavy window partitions by `(key, time_bucket)`; each bucket's\n"
            "carry-in (the last right row of any earlier bucket) is planned on a\n"
            "per-(key, bucket) aggregate — a table with one row per touched\n"
            "bucket, metadata-small — and joined back broadcast:",
            E.q_rel_asof_join(spark, SF),
            "`rel_asof_join` (clicks → most recent purchase per user, DuckDB\n"
            "`ASOF LEFT JOIN` oracle) runs this plan with 1-day buckets.  At 10^8\n"
            "revisions of one hot url the plain window serializes that key into\n"
            "one task; this plan splits it across `days × ` tasks while staying\n"
            "row-identical (`tests/test_asof_interval.py` asserts identity at\n"
            "three widths plus no-cartesian).",
        )
    )
    sections.append(
        (
            "Range join (uniform-grid cell equi-join)",
            "`point BETWEEN lo AND hi` never plans as\n"
            "BroadcastNestedLoopJoin — intervals explode to the grid cells they\n"
            "overlap (`sequence(floor(lo/w), floor(hi/w))`, guarded by a\n"
            "max-fanout `raise_error`), points map to their single cell, and the\n"
            "join is a plain hash equi-join on the cell with the exact BETWEEN as\n"
            "a residual:",
            E.q_rel_range_join(spark, SF),
            "Each (point, interval) pair meets in exactly one cell (the point's) —\n"
            "no post-dedup.  AQE picks broadcast here because the exploded\n"
            "interval side is small; at 100 TB both sides shuffle on the cell hash\n"
            "and every AQE freebie (skew split, partial pruning) applies, which a\n"
            "nested loop forfeits.",
        )
    )

    # round 5: ndv rollup advance over an insert-only MoR epoch
    from realdeal_spark.cdc.rollup import Measure, rollup_advance, rollup_full

    ndv_schema = "k string, ts bigint, lsn bigint, cat string, v double"
    rt = LakeTable.create(
        spark, f"{root}/ndv", ndv_schema, ["k"], ["ts", "lsn"],
        n_buckets=4, soft_delete=True,
    )

    def inserts(lo: int, hi: int):
        return spark.createDataFrame(
            [(f"k{i}", i, i, f"c{i % 3}", float(i % 5), "insert")
             for i in range(lo, hi)],
            ndv_schema + ", op string",
        )

    measures = [Measure("n_rows", "count"), Measure("ndv_v", "ndv", "v")]
    merge_apply(rt, inserts(0, 50), mode="mor")
    v1 = rt.current_version()
    state = rollup_full(rt, ["cat"], measures, version=v1).localCheckpoint(eager=True)
    merge_apply(rt, inserts(50, 80), mode="mor")
    sections.append(
        (
            "ndv rollup advance (HLL sketch union, no table read when insert-only)",
            "an insert-only epoch advances the distinct-count state\n"
            "by pure sketch union — zero table IO, proven by\n"
            "`tests/test_rollup.py::test_rollup_ndv_insert_only_skips_table_read`\n"
            "(table.read poisoned to raise).  Groups that LOSE a non-null value\n"
            "re-sketch through the same broadcast-semi-join-restricted rescan as\n"
            "the min/max dirty rule: O(changed groups' rows) input, never\n"
            "O(table).  The per-group state is one `binary` column\n"
            "(2^lg_k registers ≈ 4 KB at the default 12); estimates are exact to\n"
            "~384 distinct per group (coupon mode) and ±1.6% above, which is what\n"
            "lets `cdc_ndv_rollup` pin an exact `count(distinct)` DuckDB oracle by\n"
            "bucketing the measured columns below the threshold.",
            rollup_advance(rt, state, v1, rt.current_version(), ["cat"], measures),
        )
    )

    # round 5: chunking and packing — the contract queries themselves
    sections.append(
        (
            "Document chunking (sliding token window, zero shuffle)",
            "No Exchange anywhere: split -> filtered start sequence -> "
            "per-start slice are all map-side array expressions; the "
            "scan reads only (doc_id, text).",
            E.q_text_chunk(spark, SF),
        )
    )
    sections.append(
        (
            "Sequence packing (range-bucketed distributed prefix sum)",
            "The heavy running-sum window partitions by the hash-range "
            "bucket (_rb) after a narrow per-bucket carry join; only the "
            "carry window over the <=skew_buckets-row bucket table is "
            "global. No reducer ever sorts the whole corpus.",
            E.q_curate_pack_sequences(spark, SF),
        )
    )
    # round 5: a docs table with two maintained surfaces — the near-dup
    # LSH index (probed with one doc) and the SCD2 history
    from realdeal_spark.lake.dedupidx import (
        advance_dedup_index,
        create_dedup_index,
        neardup_probe,
    )
    from realdeal_spark.lake.scd import (
        advance_history,
        create_history_table,
        read_history_asof,
    )

    doc_schema = "doc_id bigint, lsn bigint, text string"
    docs_t = LakeTable.create(
        spark, f"{root}/docs", doc_schema, ["doc_id"], ["lsn"],
        n_buckets=4, soft_delete=True,
    )
    didx = create_dedup_index(docs_t, f"{root}/didx", n_buckets=16)
    hist = create_history_table(docs_t, f"{root}/hist")
    for lsn in (1, 2):
        merge_apply(
            docs_t,
            spark.createDataFrame(
                [(i, lsn, " ".join(f"w{(i + j) % 7}" for j in range(8 + lsn)), "update")
                 for i in range(20)],
                doc_schema + ", op string",
            ),
        )
        advance_dedup_index(docs_t, didx)
        advance_history(docs_t, hist)
    sections.append(
        (
            "Maintained dedup-index probe (band the batch, bucket-pruned candidate equi-join)",
            "The probe batch bands through one Arrow mapInPandas pass "
            "(batch only); the candidate join on (band, bh) is a hash "
            "equi-join over ONLY the probed band hashes' index buckets "
            "(file list pruned driver-side) - never cartesian, never "
            "O(corpus).",
            neardup_probe(didx, docs_t.read().where("doc_id = 3"), "text", "doc_id"),
        )
    )
    sections.append(
        (
            "SCD2 as-of serving (interval filter, no log replay)",
            "State-as-of-t is a pure filter over the maintained history "
            "table: _valid_from <= t < coalesce(_valid_to, inf) + _live "
            "- file-skippable on the _valid_from min/max footer stats; "
            "the snapshot log is never replayed at serve time.",
            # a fixed instant after every commit (2100-01-01), so a
            # rerun renders the same literal
            read_history_asof(hist, 4102444800.0),
        )
    )

    # round 5: maintained join view — the dim-side affected-row read
    # (view ⋉ the dim feed's changed keys) after a dim-only epoch
    from realdeal_spark.cdc.joinview import advance_join_view, create_join_view

    fact_schema = "k bigint, ts bigint, fk bigint, val double"
    dim_schema = "dk bigint, dts bigint, label string"
    fact = LakeTable.create(
        spark, f"{root}/jv_fact", fact_schema, ["k"], ["ts"],
        n_buckets=4, soft_delete=True,
    )
    dim = LakeTable.create(
        spark, f"{root}/jv_dim", dim_schema, ["dk"], ["dts"],
        n_buckets=8, soft_delete=True,
    )
    view = create_join_view(fact, dim, {"fk": "dk"}, f"{root}/jv_view")
    merge_apply(fact, spark.createDataFrame(
        [(i, 10, i % 3, float(i), "update") for i in range(30)],
        fact_schema + ", op string",
    ))
    merge_apply(dim, spark.createDataFrame(
        [(i, 10, f"L{i}", "update") for i in range(20)], dim_schema + ", op string",
    ))
    advance_join_view(fact, dim, view, {"fk": "dk"})
    vd1 = dim.current_version()
    merge_apply(dim, spark.createDataFrame(
        [(1, 20, "L1-v2", "update")], dim_schema + ", op string",
    ))
    changed = dim.read_changes(vd1).select(F.col("dk").alias("fk")).distinct()
    sections.append(
        (
            "Maintained join view — dim-side affected-row read (view semi-join, no fact scan)",
            "a dim-only epoch re-enriches affected rows from the\n"
            "VIEW itself — the plan's only payload scan is the view; the changed-\n"
            "key set (derived from the dim's O(changes) feed, the right-hand\n"
            "subtree) broadcasts into one LeftSemi probe of it, and the FACT\n"
            "table appears nowhere (behaviorally enforced:\n"
            "`test_plans.py::test_join_view_dim_only_advance_never_reads_fact`\n"
            "monkeypatches `fact.read`/`fact.read_changes` to raise).  With an\n"
            "fk value index passed as the join arrangement, the view read itself\n"
            "shrinks to the probed values' buckets (the \"Secondary value-index\n"
            "lookup\" plan above).  The fact-side enrichment's dim read is the\n"
            "\"Bloom-indexed point lookup\" plan — `dim.lookup` on the batch's fk\n"
            "values, bucket-pruned (also asserted in the same test).",
            view.read().join(changed, on="fk", how="leftsemi"),
        )
    )

    out = [
        "# EXPLAIN — physical plans of the core operators",
        "",
        "Generated by `python tools/dump_plans.py`; asserted in "
        "`tests/test_plans.py`.",
        "",
    ]
    for title, invariant, df, *note in sections:
        out.append(f"## {title}")
        out.append("")
        out.append(f"**Invariant:** {invariant}")
        out.append("")
        out.append("```")
        out.append(plan(df).strip())
        out.append("```")
        out.append("")
        out.extend(x for n in note for x in (n, ""))
    return "\n".join(out)


if __name__ == "__main__":
    main()
