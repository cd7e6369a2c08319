"""Dump formatted physical plans of the engine's key operators to
EXPLAIN.md, with the invariants each plan must exhibit.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from realdeal_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
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
            "The winner-find aggregate reads only (url, warc_ts, lsn); the "
            "payload column appears exclusively on the stream side of a "
            "BroadcastHashJoin LeftSemi — the html bytes are never "
            "shuffled.",
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
    import shutil

    from realdeal_spark.lake.table import _DELETED_COL, LakeTable

    shutil.rmtree("/tmp/rds_plan_mor", ignore_errors=True)
    t = LakeTable.create(
        spark, "/tmp/rds_plan_mor",
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
    cur = t._schema_version(to_snap, to_snap.current_schema)
    changed = spark.createDataFrame([("u7",)], "url string")
    sections.append(
        (
            "CDF pre-image read (bucket-pruned old snapshot)",
            "The scan's file list holds ONLY the changed keys' buckets "
            "(driver-side pruning from the snapshot manifest — compare "
            "the single pb= path against the table's 4 buckets); the "
            "winner-find reconcile and the changed-key semi join are "
            "narrow.",
            t._preimage_frame(from_snap, to_snap, cur, changed),
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
    import tempfile

    from realdeal_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn_indexed,
    )

    idxdir = tempfile.mkdtemp(prefix="rds_plan_ivf_")
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

    out = [
        "# EXPLAIN — physical plans of the core operators",
        "",
        "Generated by `python tools/dump_plans.py`; asserted in "
        "`tests/test_plans.py`.",
        "",
    ]
    for title, invariant, df in sections:
        out.append(f"## {title}")
        out.append("")
        out.append(f"**Invariant:** {invariant}")
        out.append("")
        out.append("```")
        out.append(plan(df).strip())
        out.append("```")
        out.append("")
    with open("/root/repo/EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
