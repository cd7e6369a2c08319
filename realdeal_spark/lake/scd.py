"""SCD2 history reconstruction + point-in-time (event-time) enrichment.

``history_rows`` rebuilds the slowly-changing-dimension-type-2 view of
a LakeTable from its own metadata: one row per (key, row-version)
with ``[_valid_from, _valid_to)`` wall-clock validity — ``_valid_from``
is the commit stamp of the snapshot that introduced the row
(``committed_at``, the same clock ``version_asof`` resolves against),
``_valid_to`` the stamp of the commit that replaced or deleted it
(null while current).  Deletes appear as ``_live = false`` interval
rows so a key's timeline is gap-free.

``enrich_asof`` composes that view with the as-of join
(operators/asof.py): each fact row gets the dimension row that was
CURRENT when the fact happened — the feature-store / training-data
point-in-time-correctness join that prevents label leakage.  The
contract (tested): ``enrich_asof(facts, t, ...)`` row-equals looking
every fact up in ``t.read_asof(fact.ts)``.

Scale + cost model: the reconstruction unions one ``read_changes``
interval per retained version — each interval is the O(changes)
pruned feed plan, so total cost is O(history's changes), which is the
information-theoretic floor for SCD2; the UNION width is O(retained
versions), so bound history with ``from_version`` (or
``expire_snapshots``) on long-lived tables rather than reconstructing
thousands of epochs in one plan.  A deployment that serves this
continuously should materialize ``history_rows`` once and advance it
per epoch (the rollup-maintainer pattern) instead of rebuilding.

Reference parity: the reference keeps no history at all — each scrape
overwrites the row (fusion_tables_client.py UPDATE-by-rowid);
"what did this listing look like when the report ran" is
unanswerable there, and is exactly what this module answers.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realdeal_spark.lake.merge import OP_COL, OP_UPDATE, MergeResult, merge_apply
from realdeal_spark.lake.table import LakeTable, interval_step, interval_watermark
from realdeal_spark.operators.asof import asof_join

_EPOCH_PREFIX = "scd2:"
_HIST_META = ["_live", "_valid_from", "_valid_to", "_commit_version", "_ord"]


def _stamp(table: LakeTable, v: int) -> float:
    at = table.snapshot(v).summary.get("committed_at")
    if at is None:
        import os

        at = os.path.getmtime(table._snap_path(v))
    return float(at)


def _version_changes(
    table: LakeTable, vs: list[int], base: DataFrame | None = None
) -> DataFrame:
    """``base`` unioned with each retained version's net per-key
    changes over ``vs``, stamped as SCD2 row versions."""
    parts = [] if base is None else [base]
    for prev, cur in zip(vs, vs[1:]):
        parts.append(
            table.read_changes(prev, cur)
            .withColumn("_live", F.col("change_type") != "delete")
            .drop("change_type")
            .withColumn("_valid_from", F.lit(_stamp(table, cur)))
            .withColumn("_commit_version", F.lit(cur))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def history_rows(
    table: LakeTable,
    from_version: int | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """The SCD2 view: current-schema columns + ``_valid_from`` /
    ``_valid_to`` (epoch seconds, half-open) + ``_live`` +
    ``_commit_version``.  The first retained version contributes its
    full state (validity starting at ITS commit stamp); every later
    version contributes its net per-key changes."""
    vs = [v for v in table.versions()]
    if to_version is not None:
        vs = [v for v in vs if v <= to_version]
    if from_version is not None:
        vs = [v for v in vs if v >= from_version]
    if not vs:
        raise ValueError("no retained versions in the requested range")

    key_cols = table.snapshot(vs[0]).key_columns
    base = (
        table.read(version=vs[0])
        .withColumn("_live", F.lit(True))
        .withColumn("_valid_from", F.lit(_stamp(table, vs[0])))
        .withColumn("_commit_version", F.lit(vs[0]))
    )
    hist = _version_changes(table, vs, base)
    # a maintenance-only commit nets zero change rows, so consecutive
    # intervals per key are always genuine row versions; close each
    # with the next one's start
    w = Window.partitionBy(*key_cols).orderBy(F.col("_commit_version"))
    return hist.withColumn("_valid_to", F.lead("_valid_from").over(w))


def enrich_asof(
    facts: DataFrame,
    table: LakeTable,
    on: list[str],
    fact_ts: str,
    cols: list[str] | None = None,
    from_version: int | None = None,
    bucket_width: float | None = None,
) -> DataFrame:
    """Point-in-time enrichment: each fact row gains the dimension
    columns (``cols``, default all non-key data columns) as they stood
    in the table snapshot current at ``fact_ts`` (epoch seconds or
    timestamp column — same clock as ``version_asof``).  Facts before
    the first retained version, or whose key did not exist / was
    deleted at their timestamp, enrich as NULL.

    Equivalence contract (tested): for every fact,
    ``enrich_asof(...)`` == the same lookup in
    ``table.read_asof(fact_ts)``.

    ``bucket_width`` passes through to the as-of join's two-phase
    skew-safe plan (seconds) — set it when one dimension key dominates
    the fact stream."""
    hist = history_rows(table, from_version=from_version)
    key_cols = table.snapshot().key_columns
    if cols is None:
        cols = [
            c
            for c in table.read().columns
            if c not in key_cols
        ]
    bad = [c for c in cols if c in facts.columns]
    if bad:
        raise ValueError(
            f"dimension columns collide with fact columns: {bad} — "
            "alias the facts first"
        )
    right = hist.select(*on, "_valid_from", "_live", *cols)
    out = asof_join(
        facts,
        right,
        on=on,
        left_ts=fact_ts,
        right_ts="_valid_from",
        right_cols=["_live", *cols],
        bucket_width=bucket_width,
    )
    # a matched interval that is a tombstone means "key absent at
    # fact time": enrich as null, exactly like read_asof would
    live = F.coalesce(F.col("_live"), F.lit(False))
    return out.select(
        *facts.columns,
        *[F.when(live, F.col(c)).alias(c) for c in cols],
    )


# ---------------------------------------------------------------------------
# Maintained SCD2 history: a second LakeTable kept current through the
# changes feed, so serving "as of" queries never replays the whole
# snapshot log (history_rows' UNION is O(retained versions) — fine for
# a one-off reconstruction, wrong as a standing serving plan).
# ---------------------------------------------------------------------------


def create_history_table(
    src: LakeTable,
    root: str,
    n_buckets: int | None = None,
) -> LakeTable:
    """Create the (empty) SCD2 history table for ``src``.

    Schema = src's current columns + the five history columns; key =
    (src keys, ``_commit_version``) — one row per row-version; order =
    ``_ord`` (the src head version at write time, strictly increasing
    across advances, so replayed/re-chopped intervals last-wins-
    reconverge exactly like every other maintained surface).  The
    bucket hash uses ONLY the src keys (``bucket_columns``), so a
    key's full timeline — and the advance's close-the-current-row
    lookup — prunes to one bucket.  History rows are never deleted,
    only closed (``_valid_to`` set), so no tombstone is ever minted."""
    snap = src.snapshot()
    fields = src.read().schema.fields
    clash = [f.name for f in fields if f.name in _HIST_META]
    if clash:
        raise ValueError(
            f"source columns collide with history columns: {clash}"
        )
    ddl = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + [
            "_live boolean",
            "_valid_from double",
            "_valid_to double",
            "_commit_version bigint",
            "_ord bigint",
        ]
    )
    return LakeTable.create(
        src.spark,
        root,
        ddl,
        key_columns=[*snap.key_columns, "_commit_version"],
        order_columns=["_ord"],
        n_buckets=n_buckets if n_buckets is not None else snap.n_buckets,
        # merge_apply requires soft_delete; the maintainer never issues
        # deletes (history rows are closed, not removed), so no
        # tombstone is ever minted
        soft_delete=True,
        bucket_columns=list(snap.key_columns),
    )


def history_watermark(hist: LakeTable) -> int | None:
    """Highest src version the history reflects, recovered from the
    history table's own epoch ids (``scd2:<from>-<to>``) — in-band
    replication state, no side checkpoint (the valueindex pattern)."""
    return interval_watermark(hist, _EPOCH_PREFIX)


def advance_history(
    src: LakeTable,
    hist: LakeTable,
    to_version: int | None = None,
    mode: str = "cow",
) -> MergeResult | None:
    """Catch the history table up to ``to_version`` (default: src's
    current version), exactly once per interval.

    First advance bootstraps from :func:`history_rows` (one plan over
    the retained feed).  Steady state is O(changes in the interval) +
    one pruned read of the affected keys' CURRENT history rows: the
    interval's net per-version changes become new open rows, and each
    affected key's previously-current row is closed at the first new
    row's ``_valid_from`` — both through one MERGE, so the advance
    inherits the lake's exactly-once epoch guard and its invariant is
    testable: ``hist.read()`` minus ``_ord`` row-equals
    ``history_rows(src)`` after any advance schedule.

    Granularity is src's RETAINED versions (identical to
    ``history_rows`` — both consume the same feed), so expiring src
    snapshots coarsens history for both representations equally; the
    watermark version itself must still be retained (the standard
    incremental-read constraint)."""

    def merge(epoch_id: str, rows: DataFrame) -> MergeResult:
        events = rows.withColumn(OP_COL, F.lit(OP_UPDATE))
        return merge_apply(hist, events, epoch_id=epoch_id, mode=mode)

    def bootstrap(epoch_id: str, tv: int) -> MergeResult:
        _mirror_columns(src, hist)
        rows = history_rows(src, to_version=tv)
        return merge(epoch_id, rows.withColumn("_ord", F.lit(int(tv))))

    def interval(epoch_id: str, fv: int, tv: int) -> MergeResult:
        _mirror_columns(src, hist)
        return merge(epoch_id, _interval_rows(src, hist, fv, tv))

    return interval_step(
        src, hist, _EPOCH_PREFIX, bootstrap, interval, to_version=to_version
    )


def _mirror_columns(src: LakeTable, hist: LakeTable) -> None:
    """src schema evolution since create/last advance: mirror added
    columns onto the history table (field-id evolution, no rewrite).
    Re-check the meta-name clash create_history_table enforces: a
    later-added src column named _live/_valid_from/… would otherwise
    be skipped here (hist already has the name) and then silently
    OVERWRITTEN by the maintainer's own stamp."""
    hist_cols = set(hist.read().columns)
    for f in src.read().schema.fields:
        if f.name in _HIST_META:
            raise ValueError(
                f"source column {f.name!r} collides with a history "
                "meta column; rename it at the source"
            )
        if f.name not in hist_cols:
            hist.add_column(f.name, f.dataType.simpleString())


def _interval_rows(src, hist, fv, tv) -> DataFrame:
    """History rows of src's interval ``(fv, tv]``: a new open row per
    retained version's net change, and each affected key's
    previously-current row closed."""
    vs = [v for v in src.versions() if fv <= v <= tv]
    if not vs or vs[0] != fv:
        raise ValueError(
            f"history watermark v{fv} is no longer a retained src "
            "version — the incremental feed over it is gone; rebuild "
            "the history table (or expire src snapshots no faster "
            "than the maintainer advances)"
        )
    keys = src.snapshot().key_columns
    new = _version_changes(src, vs)
    # each affected key's current row gets re-opened into the closure
    # window; the MERGE's own bucket pruning bounds the rewrite and
    # this read to the buckets the changed keys hash into
    changed = new.select(*keys).distinct()
    # prune the close-the-current-row read to the buckets the changed
    # keys hash into (the history bucket hash uses only the src keys,
    # create_history_table): without this the semi join scans the
    # WHOLE history every advance — O(history), the cost the module
    # exists to avoid.  The bucket-id collect is metadata-sized
    # (≤ n_buckets ints).
    hsnap = hist.snapshot()
    touched = sorted(
        r["_b"]
        for r in changed.select(hist.bucket_expr(hsnap).alias("_b"))
        .distinct()
        .collect()
    )
    prev_cur = (
        hist.read(buckets=touched)
        .join(changed, on=keys, how="left_semi")
        .where(F.col("_valid_to").isNull())
        .drop("_valid_to", "_ord")
    )
    w = Window.partitionBy(*keys).orderBy(F.col("_commit_version"))
    return (
        prev_cur.unionByName(new, allowMissingColumns=True)
        .withColumn("_valid_to", F.lead("_valid_from").over(w))
        .withColumn("_ord", F.lit(int(tv)))
    )


def history_surface(src: LakeTable, hist: LakeTable, **advance_kw):
    """The history table as a maintained surface (``streaming.Surface``);
    ``advance_kw`` pass through to :func:`advance_history`."""
    from realdeal_spark.streaming.cdf_source import Surface

    return Surface(
        src,
        partial(history_watermark, hist),
        partial(advance_history, src, hist, **advance_kw),
    )


def read_history_asof(
    hist: LakeTable, at: float, live_only: bool = True
) -> DataFrame:
    """Serve "state as of wall-clock ``at``" from the maintained
    history alone: the interval containing ``at`` per key — a filter,
    not a log replay (``_valid_from <= at < coalesce(_valid_to, inf)``
    is file-skippable on the min/max stats of ``_valid_from`` —
    engaged via ``range_filters``, the manifest-level skip; a bare
    ``.where()`` only gets parquet pushdown, which cannot skip whole
    files below the MoR reconcile)."""
    rows = hist.read(
        range_filters={"_valid_from": (None, float(at))}
    ).where(
        (F.col("_valid_from") <= F.lit(float(at)))
        & (
            F.col("_valid_to").isNull()
            | (F.col("_valid_to") > F.lit(float(at)))
        )
    )
    if live_only:
        rows = rows.where(F.col("_live"))
    return rows.drop("_ord")
