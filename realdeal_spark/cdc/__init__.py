"""CDC engine: change-event generation, conflation, epoch apply loop.

The reference's epoch loop (scrape → find-new → enrich → upsert,
realtor_pipeline.py:27-54 driven by Luigi) becomes: tail the change
log by LSN range → conflate to one winner per key → MERGE into the
lake table → commit epoch id into the snapshot (exactly-once).
"""

from realdeal_spark.cdc.conflate import conflate
from realdeal_spark.cdc.apply import CdcApplier, EpochReport
from realdeal_spark.cdc.backfill import backfill
from realdeal_spark.cdc.evolve import plan_evolution, reconcile
from realdeal_spark.cdc.replicate import (
    advance_replica,
    create_replica,
    replica_surface,
    replicate_interval,
)
from realdeal_spark.cdc.quarantine import (
    RedriveReport,
    purge_drained,
    read_quarantine,
    redrive_quarantine,
    split_quarantine,
)
from realdeal_spark.cdc.rollup import (
    Measure,
    advance_rollup,
    create_rollup_table,
    rollup_advance,
    rollup_full,
    rollup_surface,
)
from realdeal_spark.cdc.joinview import (
    advance_join_view,
    create_join_view,
    join_view_surface,
    join_view_watermark,
)

__all__ = [
    "conflate",
    "CdcApplier",
    "EpochReport",
    "RedriveReport",
    "read_quarantine",
    "redrive_quarantine",
    "split_quarantine",
    "purge_drained",
    "backfill",
    "plan_evolution",
    "reconcile",
    "Measure",
    "advance_rollup",
    "create_rollup_table",
    "advance_replica",
    "create_replica",
    "replica_surface",
    "replicate_interval",
    "rollup_advance",
    "rollup_full",
    "rollup_surface",
    "advance_join_view",
    "create_join_view",
    "join_view_surface",
    "join_view_watermark",
]
