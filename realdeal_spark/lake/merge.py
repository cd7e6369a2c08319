"""MERGE-apply: a change batch → a new table snapshot.

Semantics (the reference's upsert loop, made set-based and
batching-independent):

- source rows carry ``op`` ∈ {insert, update, delete} plus the key,
  the order columns, and any subset of data columns;
- the source must be conflated to ≤1 row per key (cdc.conflate does
  this; same load-bearing requirement as Iceberg MERGE's unique-source
  rule, and the reference's intra-batch key-set dedup at
  realdeal/luigi/find_new_properties.py:49);
- NOT MATCHED + op≠delete → insert (reference: find-new anti-join →
  INSERT, find_new_properties.py:20-52 + batch uploader insert queue);
- MATCHED + op≠delete + src not older → replace/patch row (reference:
  field-diff → UPDATE, real_deal_batch_uploader.py:48-59);
- op=delete + src not older → write a **tombstone** (row kept with a
  hidden ``_deleted`` flag; default reads filter it).  Tombstones make
  the final state independent of epoch boundaries: a stale update
  arriving in a later epoch than the delete cannot resurrect the row,
  because the tombstone still carries the delete's order tuple.
  (Reference analogue: DELETE-by-rowid, fusion_tables_client.py:
  170-174, which *lacks* this protection — SURVEY ST6.)
- src strictly older than the stored row (by the order-column tuple)
  → no-op: out-of-order events cannot regress state.

Scale shape: the target side is read bucket-pruned (only buckets the
source batch hashes into), the join is a shuffled hash join on the
key within those buckets, and only buckets with ≥1 *effective* change
are rewritten — a no-op update batch rewrites nothing (the
reference's "only update when a field actually differs" check,
zillow_client.py:119-129, lifted to file level).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from realdeal_spark.lake.table import (
    _BUCKET_COL,
    _DELETED_COL,
    CheckViolation,
    LakeTable,
    Snapshot,
    _write_partitions,
)

OP_COL = "op"
OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"


# winner-key sets at or below this row count are broadcast when routing
# payload rows (MoR winner semi join); above it the join falls back to
# a shuffle.  ~1M keys ≈ 60-100 MB hash relation — comfortably inside
# a normal executor, far past the point where a binlog epoch's
# admission budget should sit anyway (SURVEY ST4).
BROADCAST_KEYS_MAX = 1_000_000


def _prep_source(table: LakeTable, snap: Snapshot, source: DataFrame):
    """Shared validation + projection for both MERGE modes: the source
    is projected onto the current table schema (absent columns → typed
    nulls; present → cast), keeps ``op``, and gains ``_bucket``."""
    if not snap.soft_delete:
        raise ValueError(
            "merge_apply requires a soft_delete table (create with "
            "soft_delete=True); hard-delete merge would make state "
            "depend on epoch boundaries"
        )
    cur_fields = table._schema_version(snap, snap.current_schema).fields
    data_cols = [f["name"] for f in cur_fields]
    if OP_COL in data_cols:
        raise ValueError(
            f"table has a data column named '{OP_COL}', which collides "
            "with the change-event envelope; store it under another "
            "name (e.g. 'last_op')"
        )
    key_cols = snap.key_columns
    order_cols = snap.order_columns
    src_cols = set(source.columns)
    missing = [c for c in key_cols + order_cols if c not in src_cols]
    if missing:
        raise ValueError(f"source missing key/order columns: {missing}")
    if OP_COL not in src_cols:
        raise ValueError(f"source missing '{OP_COL}' column")
    src = source.select(
        *[
            (
                F.col(f["name"]).cast(f["type"])
                if f["name"] in src_cols
                else F.lit(None).cast(f["type"])
            ).alias(f["name"])
            for f in cur_fields
        ],
        F.col(OP_COL),
    ).withColumn(_BUCKET_COL, table.bucket_expr(snap))
    return cur_fields, data_cols, key_cols, order_cols, src


def check_violation_expr(expr_sql: str) -> F.Column:
    """TRUE iff a change row violates the CHECK expression: SQL
    semantics (violates iff FALSE; NULL passes), tombstones exempt."""
    return (F.col(OP_COL) != OP_DELETE) & ~F.coalesce(
        F.expr(expr_sql).cast("boolean"), F.lit(True)
    )


def _observe_checks(src: DataFrame, checks: dict[str, str]):
    """Attach per-constraint violation counters to the batch plan.

    The counters ride whatever job materializes the batch (the
    touched-bucket probe / persist) as an Observation — CHECK
    enforcement costs a few map-side CASE aggregates inside a scan
    that runs anyway, never an extra pass.  An applier that already
    dead-letter-routed violations upstream simply observes zeros."""
    if not checks:
        return src, None
    obs = Observation()
    return src.observe(
        obs,
        *[
            F.sum(
                F.when(check_violation_expr(sql), 1).otherwise(0).cast("long")
            ).alias(name)
            for name, sql in checks.items()
        ],
    ), obs


def _raise_check_violations(obs, checks: dict[str, str]) -> None:
    if obs is None:
        return
    # merge_apply invokes this only after a non-empty touched-bucket
    # collect has run the observed plan, so a failing ``obs.get`` means
    # the metrics genuinely went missing — swallowing it would silently
    # disable CHECK enforcement.  Surface it instead of returning.
    try:
        vals = obs.get
    except Exception as e:  # pragma: no cover - defensive
        raise RuntimeError(
            "CHECK-constraint metrics unavailable after a non-empty "
            "batch ran the observed plan — refusing to commit with "
            "enforcement silently disabled"
        ) from e
    counts = {k: int(vals[k] or 0) for k in checks if int(vals[k] or 0)}
    if counts:
        raise CheckViolation(counts, checks)


#: the MERGE's action counters, MergeResult field → action.  The first
#: four are the winners, the rows an epoch writes as changes; a
#: tombstone (the delete of an absent key) has no MergeResult field.
_COUNTS = {
    "inserted": "insert", "updated": "update", "deleted": "delete",
    "tombstoned": "tombstone", "unchanged": "unchanged", "stale": "stale",
}
_WINNERS = list(_COUNTS.values())[:4]


@dataclass
class MergeResult:
    snapshot: Snapshot | None  # None => empty batch / pure no-op
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    unchanged: int = 0
    stale: int = 0
    touched_buckets: list[int] = field(default_factory=list)
    rewritten_buckets: list[int] = field(default_factory=list)

    @property
    def effective_changes(self) -> int:
        return self.inserted + self.updated + self.deleted


def commit_marker(
    table: LakeTable, snap: Snapshot, epoch_id: str, summary: dict
) -> MergeResult:
    """Commit a metadata-only snapshot on ``snap`` that records
    ``epoch_id`` (exactly-once: a retry skips) with zero action counts
    plus ``summary`` (so the lineage table has no hole) — for an epoch
    that changed no row but must still land."""
    zeros = {k: 0 for k in _COUNTS if k != "tombstoned"}
    return MergeResult(
        table.commit(
            snap, "merge-mor", summary={**zeros, **summary}, epoch_id=epoch_id
        )
    )


def _sides(key_cols: list[str], order_cols: list[str]):
    """The classify join's view of its ``s`` (batch) and ``t`` (table)
    sides: ``(s_order, t_order, s_present, t_present, t_visible,
    is_delete)``."""
    t_present = F.col(f"t.{key_cols[0]}").isNotNull()
    return (
        F.struct(*[F.col(f"s.{c}") for c in order_cols]),
        F.struct(*[F.col(f"t.{c}") for c in order_cols]),
        F.col(f"s.{key_cols[0]}").isNotNull(),
        t_present,
        t_present & ~F.col(f"t.{_DELETED_COL}"),
        F.col(f"s.{OP_COL}") == OP_DELETE,
    )


def _action(t_visible: Column, is_delete: Column, *head) -> Column:
    """The action CASE: a mode's leading ``(condition, action)`` cases,
    then the rules both modes share for a winning event."""
    cases = [
        *head,
        (is_delete & t_visible, "delete"),
        (is_delete, "tombstone"),  # delete of absent/deleted key
        (~t_visible, "insert"),  # new key or resurrect
    ]
    action = F.when(cases[0][0], F.lit(cases[0][1]))
    for cond, a in cases[1:]:
        action = action.when(cond, F.lit(a))
    return action.otherwise(F.lit("update"))


def _observe_actions(df: DataFrame, is_data: Column, *extra: Column):
    """``df`` with the six action counters (plus ``extra`` aggregates)
    riding its next job as an Observation; ``is_data`` keeps capture
    rows out of the counts."""
    obs = Observation()
    cnt = lambda a: F.sum(
        F.when(is_data & (F.col("_action") == a), 1).otherwise(0).cast("long")
    )
    return df.observe(
        obs, *[cnt(a).alias(k) for k, a in _COUNTS.items()], *extra
    ), obs


def merge_apply(
    table: LakeTable,
    source: DataFrame,
    column_merge: str = "replace",
    epoch_id: str | None = None,
    extra_summary: dict | None = None,
    mode: str = "cow",
    capture_changes: bool = False,
) -> MergeResult:
    """Apply one conflated change batch to the table.

    ``epoch_id`` — the exactly-once token: the commit records it in
    ``applied_epochs``, and a call whose id is already there is a
    no-op that returns ``MergeResult(snapshot=None)`` before any Spark
    job runs.

    ``capture_changes`` (CoW only) — write-time CDF capture, the
    Delta-CDF ``_change_data`` analogue: the MERGE already holds both
    the old and the new row of every effective change in its single
    output pass, so it additionally persists them as ``_cdf=p``
    (pre-image) / ``_cdf=c`` (change row) partitions of the same
    delta write and records them in the snapshot summary.  Cost is
    O(changes) extra rows riding a rewrite that is O(touched buckets)
    anyway.  ``read_changes`` then serves any interval whose every
    version carries capture from the capture files alone — no added-
    file conflation, no carryover anti-join, no old-snapshot scan —
    which is what keeps maintained rollups / replicas / secondary
    indexes O(changes) when changed keys outnumber buckets (at
    10^10 rows they always do).  Measured at local[8] on a 40M-row
    table with 100k-key epochs: a rollup advance over captured epochs
    stayed flat at 2.25–3.93 s while the recompute grew to ~8.6 s (it
    was 1.5 s at 4M rows); without capture the feed reconstruction
    alone took 48–56 s.  Off by default: a bulk load would
    pay ~2× write volume for capture no consumer needs; turn it on
    for tables that feed CDF consumers (``CdcApplier(
    capture_changes=True)``).

    ``column_merge``:
      - ``"replace"``  — a winning source row replaces the whole row
        (full-row CDC events, the engine default);
      - ``"coalesce"`` — null source fields keep the target's value
        (partial updates; the reference's per-field patch semantics,
        zillow_client.py:119-129).

    ``mode``:
      - ``"cow"`` — copy-on-write: every touched bucket is fully
        rewritten.  Reads stay single-pass, but write amplification is
        ~table_size/epoch_size per epoch once the table dwarfs the
        batch — at 10^10 rows with uniform key hashing every epoch
        rewrites ~the whole table.  Right for tables comparable in
        size to their batches, or read-dominated workloads.
      - ``"mor"`` — merge-on-read: the epoch writes only the *changed*
        rows as per-bucket delta files (`LakeTable._write_delta(mor=
        True)`); readers reconcile latest-per-key across a bucket's
        files (payload-light, see LakeTable.read), and ``compact()``
        amortizes deltas back into base files.  Per-epoch write cost
        is O(changes); the classification join reads only a *narrow
        projection* (key, order, deleted flag) of the touched buckets
        — parquet column pruning means the html/binary payload is
        never read, let alone rewritten.  This is the 100-TB path:
        the reference's uploader likewise only ever writes changed
        rows (real_deal_batch_uploader.py:48-66).  Requires
        ``column_merge="replace"`` (coalesce needs the target's full
        values — use cow for partial updates).
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode: {mode}")
    if column_merge not in ("replace", "coalesce"):
        raise ValueError(f"unknown column_merge: {column_merge}")
    if mode == "mor" and column_merge != "replace":
        raise ValueError(
            "mode='mor' supports column_merge='replace' only: a "
            "coalesce patch needs the target's full values — use the "
            "cow path for partial updates"
        )
    if mode == "mor" and capture_changes:
        raise ValueError(
            "capture_changes requires mode='cow': the MoR write "
            "never reads the target payload, so pre-images are not "
            "available at write time (MoR intervals fall back to "
            "read-time reconstruction by design)"
        )
    snap = table.snapshot()
    if epoch_id is not None and epoch_id in snap.applied_epochs:
        return MergeResult(snapshot=None)
    _, data_cols, _, _, src = _prep_source(table, snap, source)

    # persist the conflated batch: the sizing action, the classify
    # join and the payload write all read it — one materialization
    # instead of re-running conflation (and whatever upstream
    # extraction feeds it) per phase.
    src, check_obs = _observe_checks(src, snap.checks)
    src = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one action sizes the batch: the touched buckets, plus the key
        # count the MoR bloom-probe gate needs.  CoW needs no count and
        # keeps the group-only distinct, which Spark plans as a bare
        # projection over a one-row batch: a job fewer than a count.
        per_bucket = (
            src.groupBy(_BUCKET_COL).count()
            if mode == "mor"
            else src.select(_BUCKET_COL).distinct()
        ).collect()
        touched = sorted(r[0] for r in per_bucket)
        if not touched:
            # Usually a pure no-op (a poll loop with no new events must
            # not grow the snapshot log) — EXCEPT when the epoch had
            # rows and the applier dead-lettered every one
            # (``extra_summary["quarantined"] > 0``): its marker enters
            # the epoch into ``applied_epochs`` (a retry must skip, not
            # re-quarantine) and its lsn range + quarantined count into
            # the lineage table (``lake.inspect.lineage_df``'s
            # every-offset-range-landed-exactly-once audit would
            # otherwise have a hole).
            if epoch_id is None or not (extra_summary or {}).get("quarantined"):
                return MergeResult(snapshot=None)
            return commit_marker(table, snap, epoch_id, extra_summary)
        _raise_check_violations(check_obs, snap.checks)
        if mode == "cow":
            step = _cow(table, snap, src, touched, data_cols, column_merge, capture_changes)
        else:
            n_src = sum(r[1] for r in per_bucket)
            step = _mor(table, snap, src, touched, n_src, data_cols)
        counts, files, extras = step
        tombstoned = counts.pop("tombstoned")
        result = MergeResult(snapshot=None, touched_buckets=touched, **counts)
        if result.effective_changes + tombstoned == 0 and epoch_id is None:
            # pure no-op batch: drop the just-written delta, commit nothing
            table._discard_delta(files)
            return result
        result.rewritten_buckets = sorted(int(b) for b in files)
        summary = {**counts, **extras, **(extra_summary or {})}
        if mode == "cow":
            result.snapshot = table.commit_bucket_replacement(
                snap, new_files=files, touched_buckets=touched,
                summary=summary, epoch_id=epoch_id,
            )
        else:
            # no winners → no files: a pure epoch-id marker
            result.snapshot = table.commit_file_additions(
                snap, new_files=files, summary=summary, epoch_id=epoch_id
            )
        return result
    finally:
        src.unpersist()


def _cow(table, snap, src, touched, data_cols, column_merge, capture_changes):
    """Copy-on-write classify-and-write: the batch full-outer-joins the
    touched buckets' rows, and every touched bucket is rewritten whole
    (carried rows included).  Returns ``(counts, files, summary
    extras)``."""
    key_cols, order_cols = snap.key_columns, snap.order_columns
    tgt = table.read(buckets=touched, with_bucket=True, include_deleted=True)

    s = src.alias("s")
    t = tgt.alias("t")
    joined = s.join(
        t, on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in key_cols], how="full_outer"
    )
    s_order, t_order, s_present, t_present, t_visible, is_delete = _sides(
        key_cols, order_cols
    )
    wins = s_present & (~t_present | (s_order >= t_order))

    if column_merge == "coalesce":
        src_val = {c: F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")) for c in data_cols}
    else:
        src_val = {c: F.col(f"s.{c}") for c in data_cols}
    # order columns always come from the winning event itself, even in
    # coalesce mode — recency must advance.
    for c in order_cols:
        src_val[c] = F.col(f"s.{c}")

    # change detection: does the winning source row actually differ
    # from the stored row (values or visibility)?
    differs = ~t_present | (is_delete != F.col(f"t.{_DELETED_COL}"))
    for c in data_cols:
        differs = differs | ~src_val[c].eqNullSafe(F.col(f"t.{c}"))

    action = _action(
        t_visible, is_delete,
        (~s_present, "carry"), (~wins, "stale"), (~differs, "unchanged"),
    )

    take_src = F.col("_action").isin("insert", "update", "unchanged", "delete", "tombstone")
    out_cols = [
        F.when(take_src, src_val[c]).otherwise(F.col(f"t.{c}")).alias(c)
        for c in data_cols
    ]
    deleted_out = (
        F.when(take_src, is_delete).otherwise(F.col(f"t.{_DELETED_COL}"))
    ).alias(_DELETED_COL)
    bucket_out = F.coalesce(
        F.col(f"s.{_BUCKET_COL}"), F.col(f"t.{_BUCKET_COL}")
    ).alias(_BUCKET_COL)

    base = joined.withColumn("_action", action)
    if capture_changes:
        # write-time CDF capture: every effective change additionally
        # emits its change row (_cdf='c') and its pre-state (_cdf='p';
        # an absent/tombstoned pre-state is encoded as _deleted=true
        # with null payload — no extra marker column, so data and
        # capture files share one schema).  Same single output pass:
        # the array/explode multiplies only changed rows.
        eff = F.col("_action").isin(*_WINNERS)
        post_struct = F.struct(F.lit("d").alias("_cdf"), deleted_out, *out_cols)
        chg_struct = F.struct(F.lit("c").alias("_cdf"), deleted_out, *out_cols)
        # the pre row must keep its KEY even when the pre-state is
        # absent (insert/resurrect markers) — the interval composer
        # groups by key to find each key's earliest touch
        pre_struct = F.struct(
            F.lit("p").alias("_cdf"),
            (~t_visible).alias(_DELETED_COL),
            *[
                (
                    F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
                    if c in key_cols
                    else F.when(t_visible, F.col(f"t.{c}"))
                ).alias(c)
                for c in data_cols
            ],
        )
        rows = F.when(
            eff, F.array(post_struct, chg_struct, pre_struct)
        ).otherwise(F.array(post_struct))
        resolved = base.select(
            "_action", bucket_out, F.explode(rows).alias("_r")
        ).select(
            "_action",
            _BUCKET_COL,
            F.col("_r._cdf").alias("_cdf"),
            F.col(f"_r.{_DELETED_COL}").alias(_DELETED_COL),
            *[F.col(f"_r.{c}").alias(c) for c in data_cols],
        )
        is_data = F.col("_cdf") == "d"
    else:
        resolved = base.select("_action", bucket_out, deleted_out, *out_cols)
        is_data = F.lit(True)

    # single output pass: the action statistics ride the delta write as
    # an Observation instead of a separate aggregation job (halves the
    # evaluations of the join).  All touched buckets are rewritten; the
    # earlier design pruned no-op buckets at the cost of one extra full
    # pass — the wrong trade for a CDC stream where touched buckets
    # almost always carry changes.  A fully no-op batch is detected
    # from the observation and its files discarded before commit.
    observed, obs = _observe_actions(resolved, is_data)
    new_rows = observed.drop("_action").repartition(
        _write_partitions(len(touched)), _BUCKET_COL
    )
    # CoW rewrites whole buckets anyway, so keep them in the table's
    # write sort order (order columns, i.e. event time / lsn): a
    # task-local sort, no extra shuffle, and every base file stays
    # row-group-prunable for time-range scans without waiting for a
    # maintenance compact() (Iceberg write-order analogue).  The MoR
    # path stays sort-free — its deltas are O(changes) and file
    # skipping is disabled in MoR buckets until compaction regardless.
    out = table._write_delta(
        new_rows,
        snap,
        sort_by=list(order_cols or []),
        cdf_col="_cdf" if capture_changes else None,
    )
    files, cdf = out if capture_changes else (out, None)
    counts = {k: int(v) for k, v in obs.get.items()}
    return counts, files, {} if cdf is None else {"cdf": cdf}


def _mor(table, snap, src, touched, n_src, data_cols):
    """Merge-on-read classify-and-write: write only the changed rows as
    per-bucket delta files; never rewrite untouched rows.  Returns
    ``(counts, files, summary extras)``.

    Classification joins the conflated batch against a **narrow
    projection** of the current state (key, order, deleted) — the
    payload columns of the target are pruned at the parquet scan, so
    an epoch's cost is O(changes) write + O(narrow scan of touched
    buckets) read, independent of payload width and of table payload
    size.  Action semantics match the CoW path with one deliberate
    difference: "unchanged" is detected by an *equal order tuple*
    (the same event replayed) rather than a full value diff — with a
    unique binlog lsn the two are equivalent, and it is what keeps
    (key, order) unique across file generations, which the read-time
    reconcile's semi join relies on.
    """
    key_cols, order_cols = snap.key_columns, snap.order_columns
    # On a key_blooms table, probe the touched buckets' per-file
    # sidecars with the batch keys first (lake/bloomidx.py): the
    # classification read then opens only files that MAY contain a
    # batch key.  Safe because blooms have no false negatives —
    # every existing generation of every batch key survives, so
    # the left join below sees the complete target state FOR THE
    # BATCH KEYS (non-batch keys never exit a left join on src).
    # The probe pays about six jobs whatever it prunes, so
    # bloomidx.probe_skip lets it run only where it can win, from
    # numbers already on the driver: past ~1k keys per touched
    # bucket every file is bloom-positive (a bulk epoch), and under
    # BLOOM_PROBE_MIN_ROWS manifest rows in the touched buckets
    # the plain narrow scan is cheaper than the probe.  Wide
    # fan-out batches over large buckets (the dedup index: 20 k
    # band hashes over 64 bh-buckets ≈ 312/bucket of a 64 M-entry
    # table) pass both and keep their measured pruning win
    # (BENCH_DEDUPIDX.md).  A skip records its reason.
    bloom_allow = bloom_stats = None
    if snap.key_blooms:
        from realdeal_spark.lake import bloomidx

        bloom_stats = bloomidx.probe_skip(
            n_src,
            snap.n_buckets,
            bloomidx.rows_in_buckets(snap.files, touched),
        )
        if bloom_stats is None:
            _, bloom_allow, bloom_stats, _ = table._lookup_candidates(
                snap, src.select(*key_cols)
            )
    # narrow current state of the touched buckets (reconciled
    # across any earlier MoR deltas; parquet reads only these
    # columns thanks to column pruning through read()'s projection)
    tgt = table.read(
        buckets=touched, include_deleted=True, file_allowlist=bloom_allow
    ).select(*key_cols, *order_cols, _DELETED_COL)
    # classification is fully NARROW: only (key, order, op) of the
    # source meets the target projection — the html/binary payload
    # never enters this join's shuffle.  The winner keys then route
    # the payload rows out of the persisted source with a broadcast
    # hash join when they fit (payload side map-only), falling back
    # to a shuffled join for huge batches (initial loads) — the
    # same payload-light discipline as cdc.conflate's light
    # strategy, applied to the MERGE itself.
    s = src.select(*key_cols, *order_cols, OP_COL).alias("s")
    t = tgt.alias("t")
    joined = s.join(
        t, on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in key_cols], how="left"
    )
    s_order, t_order, _, t_present, t_visible, is_delete = _sides(
        key_cols, order_cols
    )
    action = _action(
        t_visible, is_delete,
        (t_present & (s_order < t_order), "stale"),
        (t_present & (s_order == t_order), "unchanged"),
    )
    # precondition guard: MoR classifies equal-order events as
    # "unchanged" (exact replay of the stored event), which is
    # only equivalent to CoW's tie-wins under the documented
    # unique-order-tuple rule.  The dangerous violation — a
    # *conflicting* event carrying the stored row's exact order
    # tuple but implying different visibility (e.g. a tying
    # delete of a visible row, which MoR would silently drop and
    # CoW would apply) — is detectable payload-free, so it is
    # counted on the same job and raises instead of diverging.
    # (An equal-order update with different payload values is not
    # detectable without reading the payload; that residual case
    # remains the documented precondition.)
    order_conflict = (
        t_present
        & (s_order == t_order)
        & (is_delete != F.col(f"t.{_DELETED_COL}"))
    )
    classified = joined.select(
        action.alias("_action"),
        order_conflict.cast("long").alias("_order_conflict"),
        *[F.col(f"s.{c}").alias(c) for c in key_cols],
    )
    observed, obs = _observe_actions(
        classified, F.lit(True), F.sum("_order_conflict").alias("conflict")
    )
    # localCheckpoint materializes the classification ONCE: the
    # Observation and the winner-routing semi join both read the
    # checkpointed (narrow: keys only) result — without it the
    # observed plan re-executed the target scan + classify join a
    # second time inside the routing join.
    winner_keys = (
        observed.where(F.col("_action").isin(*_WINNERS))
        .select(*key_cols)
        .localCheckpoint(eager=True)
    )
    try:
        m = {k: int(v or 0) for k, v in obs.get.items()}
    except Exception:
        # AQE's empty-relation propagation can eliminate the
        # CollectMetrics node when nothing survives the winner
        # filter; recompute the (narrow) action counts directly —
        # only the all-noop epoch pays this.
        rows = (
            classified.groupBy("_action")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("_order_conflict").alias("c"),
            )
            .collect()
        )
        n = {r["_action"]: r["n"] for r in rows}
        m = {k: n.get(a, 0) for k, a in _COUNTS.items()}
        m["conflict"] = sum(int(r["c"] or 0) for r in rows)
    if m.pop("conflict", 0):
        raise ValueError(
            "MoR merge: source batch carries event(s) with an order "
            "tuple equal to the stored row's but conflicting "
            "visibility (e.g. a tying delete of a live row) — the "
            "order tuple must be unique per key (binlog lsn); use "
            "mode='cow' if ties must win"
        )

    extras = {} if bloom_stats is None else {"classify_bloom": bloom_stats}
    # winner_keys holds exactly the rows the winner counters counted
    n_winners = sum(m[k] for k in list(_COUNTS)[:4])
    if not n_winners:
        return m, {}, extras
    wk = winner_keys
    routed = src
    if n_winners <= BROADCAST_KEYS_MAX:
        wk = F.broadcast(wk)
    else:
        # over-cap winner set: the routing semi join must shuffle the
        # payload — Bloom-prefilter src so only winner rows (+ ~1.4%
        # fp) enter it.  winner_keys is already localCheckpointed, so
        # the bloom build and the semi join share one materialization.
        from realdeal_spark.operators.bloom import bloom_prefilter

        routed = bloom_prefilter(src, wk, key_cols, n_winners)
    winners = (
        routed.join(wk, on=key_cols, how="left_semi")
        .select(
            *data_cols,
            F.col(_BUCKET_COL),
            (F.col(OP_COL) == OP_DELETE).alias(_DELETED_COL),
        )
        .repartition(_write_partitions(len(touched)), _BUCKET_COL)
    )
    return m, table._write_delta(winners, snap, mor=True), extras
