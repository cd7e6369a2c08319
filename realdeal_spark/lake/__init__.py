"""ACID parquet+manifest lake table format.

This sandbox ships no Iceberg/Delta jars, so the engine implements the
subset of an Iceberg-style table format that the CDC loop needs:

- snapshot isolation (numbered snapshot JSONs, atomic create-only
  commit, readers pin a version);
- manifest-tracked data files grouped by a hash bucket of the table
  key (``bucket = pmod(xxhash64(key), N)``) so a MERGE rewrites only
  the buckets its source batch touches — the analogue of Iceberg's
  partition-level file pruning, and the property that keeps a MERGE
  of a small change batch O(batch) instead of O(table) at 10^10 rows;
- schema evolution by field id (add / rename / type-widen) without
  rewriting old files;
- arbitrary key/value summary properties per snapshot — the epoch
  exactly-once guard stores applied epoch ids there, mirroring
  Iceberg snapshot summaries.

Reference parity: this replaces the Fusion Tables row store the
reference mutates via generated SQL (realdeal/fusion_tables_client.py:
103-174 — SELECT/INSERT/UPDATE-by-rowid/DELETE-by-rowid); rowid
addressing is replaced by key-equality MERGE over bucketed files.
"""

from realdeal_spark.lake.table import CheckViolation, LakeTable
from realdeal_spark.lake.merge import merge_apply
from realdeal_spark.lake.dml import delete_where, update_where
from realdeal_spark.lake.dedupidx import (
    advance_dedup_index,
    create_dedup_index,
    dedup_index_surface,
    dedup_index_watermark,
    neardup_probe,
)
from realdeal_spark.lake.scd import (
    advance_history,
    create_history_table,
    enrich_asof,
    history_rows,
    history_surface,
    history_watermark,
    read_history_asof,
)
from realdeal_spark.lake.inspect import (
    files_df,
    lineage_df,
    maintenance_plan,
    partitions_df,
    remove_orphan_files,
    snapshots_df,
)

__all__ = [
    "CheckViolation",
    "LakeTable",
    "advance_dedup_index",
    "advance_history",
    "create_dedup_index",
    "dedup_index_surface",
    "dedup_index_watermark",
    "neardup_probe",
    "create_history_table",
    "enrich_asof",
    "history_rows",
    "history_surface",
    "history_watermark",
    "read_history_asof",
    "delete_where",
    "files_df",
    "lineage_df",
    "maintenance_plan",
    "merge_apply",
    "partitions_df",
    "remove_orphan_files",
    "snapshots_df",
    "update_where",
]
