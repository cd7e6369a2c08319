"""Dead-letter routing for malformed change events.

A production binlog tail always contains some garbage: an op code the
decoder doesn't know, a null key from an upstream bug, a null order
column that would silently vanish in the light conflation (``F.max``
skips nulls — the same hazard ``LakeTable.append`` validates against).
Failing the whole epoch on one bad row stalls ingest; silently
applying it corrupts state (an unknown op falls through to "upsert" in
the MERGE action chain).  The production answer is a dead-letter
queue: route invalid rows to a quarantine sink, apply the rest, count
both.

Shape at scale: validity is one deterministic CASE expression — the
split is two pushdown-filtered passes over the epoch scan (no shuffle,
no UDF), and the quarantine write observes its row count on the same
job (no extra count scan).  Quarantined files are parquet under
``<quarantine_dir>/<epoch_id>/`` with a ``_reason`` column, so they
are replayable after a fix via ``redrive_quarantine`` below: read,
repair, feed back through the normal apply path under a derived
``redrive:`` epoch id (exactly-once), with unfixed rows re-entering
the queue.

Reason precedence is fixed (unknown op → null key → null order),
first match wins — deterministic and oracle-expressible.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from realdeal_spark.cdc.apply import EpochReport

from realdeal_spark.lake.merge import OP_COL, OP_DELETE, OP_INSERT, OP_UPDATE

KNOWN_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)
REASON_COL = "_reason"


def invalidity_expr(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    known_ops: Sequence[str] = KNOWN_OPS,
    checks: dict[str, str] | None = None,
) -> Column:
    """String reason the row is invalid, or NULL for a valid row.
    Precedence: unknown/null op, then null key columns in order, then
    null order columns in order, then CHECK constraints in name
    order (reason ``check:<name>``; tombstones exempt, NULL passes —
    the same semantics the MERGE's fail-fast path enforces)."""
    expr = F.when(
        F.col(OP_COL).isNull() | ~F.col(OP_COL).isin(*known_ops),
        F.lit("unknown_op"),
    )
    for c in key_cols:
        expr = expr.when(F.col(c).isNull(), F.lit(f"null_key:{c}"))
    for c in order_cols:
        expr = expr.when(F.col(c).isNull(), F.lit(f"null_order:{c}"))
    if checks:
        from realdeal_spark.lake.merge import check_violation_expr

        for name in sorted(checks):
            expr = expr.when(
                check_violation_expr(checks[name]), F.lit(f"check:{name}")
            )
    return expr  # no otherwise → NULL = valid


def split_quarantine(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    known_ops: Sequence[str] = KNOWN_OPS,
    checks: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid): ``valid`` has the input schema; ``invalid``
    carries the extra ``_reason`` column.  Two filters over the same
    source — both inherit the scan's pushdown, neither shuffles."""
    reason = invalidity_expr(key_cols, order_cols, known_ops, checks)
    tagged = df.withColumn(REASON_COL, reason)
    good = tagged.where(F.col(REASON_COL).isNull()).drop(REASON_COL)
    bad = tagged.where(F.col(REASON_COL).isNotNull())
    return good, bad


def write_quarantine(
    bad: DataFrame, quarantine_dir: str, epoch_id: str
) -> int:
    """Write the invalid rows for one epoch; returns how many.

    ``mode=overwrite`` + the epoch-id path makes the write idempotent
    under crash-replay: a re-run of the same epoch overwrites its own
    quarantine output before the snapshot commit, never duplicates it.
    The count rides the write job as an Observation — no extra scan.
    A zero-count write removes its own directory: the queue then
    lists only epochs that actually dead-lettered rows, which is what
    lets a fully-repaired redrive's retry converge on the epoch-skip
    path (an empty requeue dir would change the queue digest).
    """
    from pyspark.sql import Observation

    safe = epoch_id.replace(":", "_").replace("/", "_")
    obs = Observation(f"quarantine-{safe}")
    observed = bad.observe(obs, F.count(F.lit(1)).alias("n"))
    observed.write.mode("overwrite").parquet(f"{quarantine_dir}/{safe}")
    try:
        n = int(obs.get["n"])
    except Exception:
        n = 0  # empty frame: observed node emitted nothing
    if n == 0:
        shutil.rmtree(f"{quarantine_dir}/{safe}", ignore_errors=True)
    return n


# --------------------------------------------------------------- redrive

DRAINED_MARKER = "_DRAINED"
Q_EPOCH_COL = "_q_epoch"


@dataclass
class RedriveReport:
    """What a redrive did: which dead-letter epochs it drained, how
    many rows it read, and the applied epoch's full report (whose
    ``quarantined`` count is the rows that remained invalid after the
    repair — they re-entered the queue under the redrive's own id)."""

    redrive_epoch_id: str
    source_epochs: list[str]
    rows_read: int
    epoch: "EpochReport | None"  # None when there was nothing to drain

    @property
    def requeued(self) -> int:
        return self.epoch.quarantined if self.epoch else 0


def _epoch_dirs(quarantine_dir: str, include_drained: bool) -> list[str]:
    if not os.path.isdir(quarantine_dir):
        return []
    out = []
    for name in sorted(os.listdir(quarantine_dir)):
        d = os.path.join(quarantine_dir, name)
        if not os.path.isdir(d):
            continue
        if not include_drained and os.path.exists(
            os.path.join(d, DRAINED_MARKER)
        ):
            continue
        out.append(d)  # zero-count epochs removed their dir at write
    return out


def read_quarantine(
    spark, quarantine_dir: str, include_drained: bool = False
) -> DataFrame:
    """The dead-letter queue as a DataFrame: event schema plus
    ``_reason`` and ``_q_epoch`` (the epoch whose apply rejected the
    row — recovered from the directory name, so old queues written
    before this column existed read fine).  Drained epochs (already
    redriven) are skipped unless asked for."""
    dirs = _epoch_dirs(quarantine_dir, include_drained)
    if not dirs:
        raise ValueError(f"no undrained quarantine epochs under {quarantine_dir}")
    parts = [
        spark.read.parquet(d).withColumn(
            Q_EPOCH_COL, F.lit(os.path.basename(d))
        )
        for d in dirs
    ]
    out = parts[0]
    for p in parts[1:]:
        # epochs quarantined before a schema evolution carry fewer
        # columns; fill the gap with nulls (the merge's evolution
        # reconcile treats a null new column exactly like a pre-
        # evolution row, so the redrive stays replay-equivalent)
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def redrive_quarantine(
    applier,
    quarantine_dir: str,
    repair: "Callable[[DataFrame], DataFrame] | None" = None,
    attempt: int = 1,
) -> RedriveReport:
    """Drain the dead-letter queue back through the MERGE.

    The production loop this closes: an upstream bug dead-letters a
    slice of the binlog; the bug is fixed; the operator replays the
    quarantined rows through a ``repair`` transform and the normal
    apply path.  What makes it safe at scale:

    - **Exactly-once.** The redrive applies as ONE epoch whose id is
      a pure function of the drained source epochs and the attempt
      number (``redrive:<sha1 of sorted source dirs>:<attempt>``) —
      a crashed-and-retried redrive of the same queue state skips,
      never double-applies.  A *different* repair needs a new
      ``attempt`` (the queue state alone can't distinguish repairs).
    - **Out-of-order safe.** Repaired rows carry their original order
      tuple, so a key that moved on since the quarantine simply wins
      against the late redrive (``stale`` in the report) — the same
      protection every epoch gets.
    - **Re-quarantine, not silent drop.** The redrive batch passes the
      SAME validity split as any epoch: rows the repair did not fix
      land under ``<quarantine_dir>/<redrive epoch id>/`` (undrained)
      and count as ``report.requeued``; nothing exits the queue
      without either applying or re-entering it.
    - **Crash-convergent markers.** Source dirs are marked
      ``_DRAINED`` only after the epoch commit; a crash between
      commit and marking converges on retry.  If the crashed attempt
      requeued nothing, the retry's digest is unchanged, the epoch
      skips, and only the markers land.  If it DID requeue, the
      retry sees the requeue dir as part of the queue (new digest,
      new epoch) and re-applies — harmlessly, because a re-applied
      row ties on its order tuple and lands as unchanged/stale, the
      same reason whole-epoch replays are safe.  Either way every
      invalid row ends in exactly one undrained dir.  One narrower
      crash window exists INSIDE the epoch: the requeue write lands
      before the commit (the applier's normal ordering), so a crash
      between the two leaves the same unfixable rows in both the
      unmarked source dirs and the requeue dir; the retry's batch
      then carries each such row twice and runs ``repair`` on the
      already-repaired copy — rows are never lost and the MERGE
      conflates the copies, but ``repair`` MUST therefore be
      idempotent (``repair(repair(x)) == repair(x)``), which every
      fix-the-encoding / fill-the-null style transform naturally is.

    The applier must have ``quarantine_dir`` set (the re-quarantine
    guarantee depends on it)."""
    if applier.quarantine_dir is None:
        raise ValueError(
            "redrive requires an applier with quarantine_dir set — "
            "rows the repair does not fix must re-enter the queue, "
            "not fail or silently drop"
        )
    dirs = _epoch_dirs(quarantine_dir, include_drained=False)
    digest = hashlib.sha1(
        "\n".join(os.path.basename(d) for d in dirs).encode()
    ).hexdigest()[:12]
    epoch_id = f"redrive:{digest}:{attempt}"
    if not dirs:
        return RedriveReport(epoch_id, [], 0, None)
    if epoch_id in applier.table.snapshot().applied_epochs:
        # crash-retry fast path: the epoch already committed (markers
        # may not have landed) — converge on the markers alone without
        # re-reading the queue or re-running the repair; apply_batch
        # would skip anyway, but only after two full DLQ scans
        report = applier.apply_batch(
            applier.table.spark.createDataFrame(
                [], applier.table.schema().add("op", "string")
            ),
            epoch_id,
        )
        for d in dirs:
            with open(os.path.join(d, DRAINED_MARKER), "w") as f:
                f.write(epoch_id + "\n")
        return RedriveReport(
            epoch_id, [os.path.basename(d) for d in dirs], 0, report
        )
    batch = read_quarantine(applier.table.spark, quarantine_dir)
    rows_read = batch.count()
    if repair is not None:
        batch = repair(batch)
        repaired = batch.count()
        if repaired != rows_read:
            # the "nothing exits the queue silently" guarantee: a
            # repair that filters rows out would let them vanish from
            # the DLQ with no applied/requeued record
            raise ValueError(
                f"repair changed the row count ({rows_read} -> "
                f"{repaired}); a repair must transform rows, not drop "
                "or add them — filter duplicates via the MERGE's own "
                "conflation, route unfixable rows by leaving them "
                "invalid (they re-queue)"
            )
    batch = batch.drop(REASON_COL, Q_EPOCH_COL)
    lsn_col = F.col(applier.lsn_col)
    bounds = batch.agg(
        F.min(lsn_col).alias("lo"), F.max(lsn_col).alias("hi")
    ).first()
    lo = int(bounds["lo"]) if bounds["lo"] is not None else 0
    hi = int(bounds["hi"]) if bounds["hi"] is not None else lo
    report = applier.apply_batch(batch, epoch_id, lo, hi)
    for d in dirs:
        with open(os.path.join(d, DRAINED_MARKER), "w") as f:
            f.write(epoch_id + "\n")
    return RedriveReport(epoch_id, [os.path.basename(d) for d in dirs], rows_read, report)


def purge_drained(quarantine_dir: str) -> list[str]:
    """Remove drained epoch dirs; returns the removed names.

    The DLQ analogue of ``LakeTable.expire_snapshots``: a drained dir
    is audit residue (its rows either applied or re-entered the queue
    under a redrive id), so once whatever audit window the deployment
    keeps has passed, it is safe to reclaim.  Undrained dirs — live
    queue state — are never touched."""
    removed = []
    for name in sorted(os.listdir(quarantine_dir)) if os.path.isdir(
        quarantine_dir
    ) else []:
        d = os.path.join(quarantine_dir, name)
        if os.path.isdir(d) and os.path.exists(os.path.join(d, DRAINED_MARKER)):
            shutil.rmtree(d)
            removed.append(name)
    return removed
