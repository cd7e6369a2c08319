"""Predicate DML: ``DELETE WHERE`` / ``UPDATE WHERE`` on a lake table.

CDC events arrive *per key*; operators and retention jobs instead
speak *predicates* ("purge every page of domain X", "re-language-tag
everything whose lang is null").  This module expresses predicate DML
as a **self-sourced MERGE batch**: read the matching live rows at the
current snapshot, stamp ``op``, and feed :func:`merge_apply` — so a
predicate write inherits, for free, everything the CDC path already
guarantees:

- **touched-bucket pruning** — the rewrite is O(matched buckets), not
  O(table), and in ``mode="mor"`` O(matched rows);
- **order-tuple protection** — by default the DML places itself ONE
  TICK after each matched row: it keeps the row's order tuple except
  the last (integral) order column, which it increments by 1.  So the
  statement strictly supersedes the row it read (MoR requires unique
  order tuples per key, and an exact replay of the event that created
  the row no longer revives it), while any genuinely later CDC event
  still wins normally.  Pass ``order_stamp`` to place the statement
  explicitly — e.g. after EVERY existing log position for GDPR-style
  erasure where a full log replay must reconverge to the erased
  state.  A non-integral final order column has no safe "+1", so the
  default raises and ``order_stamp`` becomes required;
- **exactly-once** — pass ``epoch_id``; a retried statement with the
  same id is a no-op (:func:`merge_apply`'s applied-epochs guard —
  the matching read is lazy, so the retry runs no job);
- **changes-feed visibility** — downstream rollups / replicas /
  value indexes see the DML as ordinary upsert/delete change rows
  (with write-time CDF capture on CoW tables if requested).

Scale shape at 10^10 rows: the matching read is a filter-pushed
parquet scan (Catalyst pushes ``condition`` into the file scan;
pass ``range_filters`` to also skip whole files on min/max bounds);
the MERGE then plans only the matched keys' buckets.  A predicate
matching 0.01% of a 100 TB table reads the pruned scan once and
rewrites (CoW) or appends deltas for (MoR) just those buckets.

Reference analogue: the reference deletes and patches rows through
per-row Fusion Tables DML after a client-side filter
(fusion_tables_client.py:155-173 — UPDATE/DELETE by rowid;
zillow_client.py's per-field patch loop); here the filter, the write,
and the exactly-once guard are one distributed plan.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realdeal_spark.lake.merge import (
    OP_COL,
    OP_DELETE,
    OP_UPDATE,
    MergeResult,
    merge_apply,
)
from realdeal_spark.lake.table import LakeTable


def _as_column(expr: Any) -> Column:
    return expr if isinstance(expr, Column) else F.expr(str(expr))


def _matched_rows(
    table: LakeTable,
    condition: Any,
    range_filters: Mapping[str, tuple] | None,
):
    """Live rows matching ``condition`` at the current snapshot, plus
    the snapshot's column metadata.  The read is the table's own
    pruned scan: tombstones already hidden, MoR generations already
    reconciled — so the batch holds at most one row per key by
    construction (what MERGE conflation expects)."""
    snap = table.snapshot()
    fields = table._schema_version(snap, snap.current_schema).fields
    rows = table.read(
        snapshot=snap,
        range_filters=dict(range_filters) if range_filters else None,
    ).where(_as_column(condition))
    return snap, [f["name"] for f in fields], rows


_INTEGRAL = {"tinyint", "smallint", "int", "integer", "bigint", "long"}


def _stamp_order(
    df: DataFrame,
    order_cols: list[str],
    order_stamp: Mapping[str, Any] | None,
) -> DataFrame:
    if order_stamp is None:
        # default: one tick after the matched row — bump the last
        # (integral) order column, keep the rest
        last = order_cols[-1]
        dtype = dict(df.dtypes)[last]
        if dtype not in _INTEGRAL:
            raise ValueError(
                f"final order column {last!r} is {dtype}, not integral "
                "— no safe default '+1' stamp; pass order_stamp "
                "explicitly"
            )
        return df.withColumn(last, F.col(last) + F.lit(1))
    unknown = set(order_stamp) - set(order_cols)
    if unknown:
        raise ValueError(
            f"order_stamp keys {sorted(unknown)} are not order "
            f"columns {order_cols}"
        )
    dtypes = dict(df.dtypes)
    for c, v in order_stamp.items():
        # bare strings are LITERALS, not SQL expressions — a stamp like
        # {"ts": "2030-01-01"} must not parse as integer arithmetic
        # (2030-1-1 = 2028) and silently corrupt the replay-protection
        # order stamp.  Callers who want an expression pass a Column
        # (F.expr(...)/F.col(...)).
        if isinstance(v, Column):
            col = v
        elif isinstance(v, str):
            col = F.lit(v).cast(dtypes[c])
        else:
            col = F.lit(v)
        df = df.withColumn(c, col)
    return df


def delete_where(
    table: LakeTable,
    condition: Any,
    epoch_id: str | None = None,
    mode: str = "cow",
    order_stamp: Mapping[str, Any] | None = None,
    range_filters: Mapping[str, tuple] | None = None,
    capture_changes: bool = False,
) -> MergeResult:
    """Tombstone every live row matching ``condition``.

    ``condition`` is a Column or SQL-expression string over the
    table's columns.  Matching rows become ``op='delete'`` events one
    order tick after the row they erase (module docstring; pass
    ``order_stamp`` to place them elsewhere, or ``order_stamp={}`` to
    ride the row's own tuple — CoW only, ties there win on apply).
    Returns the MERGE's result; a no-match or already-applied
    statement commits nothing (``snapshot is None``)."""
    snap, cols, rows = _matched_rows(table, condition, range_filters)
    batch = _stamp_order(rows, list(snap.order_columns), order_stamp)
    return merge_apply(
        table,
        batch.withColumn(OP_COL, F.lit(OP_DELETE)),
        epoch_id=epoch_id,
        mode=mode,
        capture_changes=capture_changes,
        extra_summary={"dml": "delete_where"},
    )


def update_where(
    table: LakeTable,
    condition: Any,
    set_exprs: Mapping[str, Any],
    epoch_id: str | None = None,
    mode: str = "cow",
    order_stamp: Mapping[str, Any] | None = None,
    range_filters: Mapping[str, tuple] | None = None,
    capture_changes: bool = False,
) -> MergeResult:
    """Rewrite columns of every live row matching ``condition``.

    ``set_exprs`` maps column name → Column / SQL expression,
    evaluated over the MATCHED row (``{"v": F.col("v") * 2}`` works;
    so does ``{"lang": "upper(lang)"}``).  Key columns cannot be set
    (that is a delete + insert, not an update); order columns only
    through ``order_stamp``, keeping the replay story explicit."""
    snap, cols, rows = _matched_rows(table, condition, range_filters)
    bad = set(set_exprs) & set(snap.key_columns)
    if bad:
        raise ValueError(
            f"cannot SET key columns {sorted(bad)}; delete and "
            "re-insert under the new key instead"
        )
    bad = set(set_exprs) & set(snap.order_columns)
    if bad:
        raise ValueError(
            f"cannot SET order columns {sorted(bad)}; use order_stamp"
        )
    unknown = set(set_exprs) - set(cols)
    if unknown:
        raise ValueError(f"unknown columns in SET: {sorted(unknown)}")
    updated = rows.select(
        *[
            (_as_column(set_exprs[c]).alias(c) if c in set_exprs else F.col(c))
            for c in cols
        ]
    )
    batch = _stamp_order(updated, list(snap.order_columns), order_stamp)
    return merge_apply(
        table,
        batch.withColumn(OP_COL, F.lit(OP_UPDATE)),
        epoch_id=epoch_id,
        mode=mode,
        capture_changes=capture_changes,
        extra_summary={"dml": "update_where"},
    )
