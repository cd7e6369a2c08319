"""Range (interval) join — points against [lo, hi] intervals without
a cartesian product.

``points.value BETWEEN intervals.lo AND intervals.hi`` is a pure
inequality join: Catalyst's only stock plans are broadcast nested
loop (O(|P|·|I|) comparisons — needs the interval side to fit in one
executor AND burns compute quadratically) or, with AQE, still a
nested loop.  At 100 TB neither survives.

This module plans it on a uniform grid, the 1-D version of
``operators/geo.py``'s cell join: pick a cell width, explode each
interval to the cells it overlaps (``sequence(floor(lo/w),
floor(hi/w))``), map each point to its single cell, equi-join on the
cell (+ any extra equi keys), and refine with the exact BETWEEN
predicate.  The join is a plain shuffled/broadcast HASH join on a
short integer — every Catalyst freebie (AQE, skew split, partial
pruning) applies.  Each (point, interval) pair meets in exactly one
cell (the point's), so no post-dedup is needed.

Cost model: the explode factor is ``avg_interval_len / cell + 1``
rows per interval; comparisons per point are the intervals
overlapping its cell.  Pick ``cell`` near the typical interval
length — ``suggest_cell`` measures it with one tiny aggregate.
Degenerate guard: an interval spanning ``max_cells_per_interval``
cells fans out that many rows; the default cap raises instead of
silently exploding a [0, +inf) row into 10^9 cells.

Reference parity: the reference brackets numeric attributes in
per-row Python predicates (find_new_properties.py filter chains);
re-expressed here as one declarative, grid-bucketed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CELL = "__rj_cell"


def suggest_cell(
    intervals: DataFrame, lo: str, hi: str, quantile: float = 0.75
) -> float:
    """A cell width near the ``quantile`` interval length — one tiny
    aggregate, driver-side scalar.  Wider cells fan intervals out
    less; narrower cells prune point comparisons harder."""
    row = intervals.select(
        F.percentile_approx(
            F.col(hi).cast("double") - F.col(lo).cast("double"),
            quantile,
        ).alias("w")
    ).first()
    w = float(row["w"] or 0.0)
    return w if w > 0 else 1.0


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    cell: float,
    on: list[str] | None = None,
    how: str = "inner",
    max_cells_per_interval: int = 10_000,
) -> DataFrame:
    """Join each point row to every interval row with
    ``lo <= point <= hi`` (closed on both ends), optionally also
    equi-matching ``on`` columns.  Output columns: all point columns,
    then the interval side's non-``on`` columns (names must not
    collide — alias beforehand).

    ``how='inner'`` drops unmatched points; ``'left'`` keeps them
    with NULL interval columns (matched multiplicity preserved).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if cell <= 0:
        raise ValueError("cell must be positive")
    on = list(on or [])
    icols = [c for c in intervals.columns if c not in on]
    clash = [c for c in icols if c in points.columns]
    if clash:
        raise ValueError(
            f"interval columns collide with point columns: {clash} — alias them"
        )
    lo = F.col(lo_col).cast("double")
    hi = F.col(hi_col).cast("double")
    n_cells = F.floor(hi / cell) - F.floor(lo / cell) + 1
    fanout = F.when(
        n_cells > max_cells_per_interval,
        F.raise_error(
            F.format_string(
                "range_join: an interval spans more than %s cells — "
                "raise `cell` or `max_cells_per_interval`, or clamp "
                "the interval",
                F.lit(str(max_cells_per_interval)),
            )
        ).cast("array<bigint>"),
    ).otherwise(F.sequence(F.floor(lo / cell), F.floor(hi / cell)))
    # explicit aliases: point and interval sides may share lineage
    # (intervals derived from the same table), which breaks bare
    # two-frame column attribution
    iv = (
        intervals.where(lo <= hi)
        .select(*intervals.columns, F.explode(fanout).alias(_CELL))
        .alias("__rj_i")
    )
    pt = points.withColumn(
        _CELL, F.floor(F.col(point_col).cast("double") / cell)
    ).alias("__rj_p")
    p_ = lambda c: F.col(f"__rj_p.{c}")  # noqa: E731
    i_ = lambda c: F.col(f"__rj_i.{c}")  # noqa: E731
    cond = [p_(_CELL) == i_(_CELL)] + [p_(c) == i_(c) for c in on]
    # refine numeric sides in their own type: the double cast rounds
    # bigint/decimal values past 2^53, which the cells tolerate (the
    # rounding is monotone, so a match never leaves its cell range) but
    # an exact bound must not.  A string-typed side refines on the
    # grid's double domain instead — raw strings order lexicographically.
    sides = [points.schema[point_col], *(intervals.schema[c] for c in (lo_col, hi_col))]
    stringy = any(isinstance(f.dataType, T.StringType) for f in sides)
    lo_, pt_, hi_ = (
        c.cast("double") if stringy else c
        for c in (i_(lo_col), p_(point_col), i_(hi_col))
    )
    refine = (lo_ <= pt_) & (pt_ <= hi_)
    joined = pt.join(iv, on=[*cond, refine], how=how)
    return joined.select(
        *[p_(c) for c in points.columns],
        *[i_(c) for c in icols],
    )
