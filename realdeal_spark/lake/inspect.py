"""Metadata inspection tables + maintenance planner (Iceberg's
``table.snapshots`` / ``table.files`` / ``table.partitions`` metadata
tables, recast for the LakeTable format).

An operator of a 100-TB table needs to ask "how many snapshots am I
holding?", "which buckets are fragmenting?", "where are MoR deltas
piling up?" WITHOUT scanning data.  Everything here reads only the
per-version JSON manifests (O(files-in-metadata) driver work — the
same cost class as commit/expire itself, because in this format the
manifest IS one JSON per version) plus ``os.path.getsize`` on data
files, never a row of table data.  The results come back as
DataFrames so they compose with the rest of the engine (join the plan
against a rollup, window over snapshot history, ...).

Reference analogue: none — the reference's storage is an opaque
remote service (realdeal/fusion_tables_client.py); self-describing
table metadata is part of what a lake format adds.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame

_FILES_SCHEMA = (
    "version int, bucket int, path string, generation int, "
    "schema_version int, mor boolean, bytes bigint, rows bigint, "
    "stats string"
)

_SNAPSHOTS_SCHEMA = (
    "version int, parent int, operation string, n_buckets int, "
    "n_files bigint, total_bytes bigint, mor_files bigint, "
    "n_applied_epochs int, current_schema int, n_schema_versions int, "
    "soft_delete boolean, committed_at double"
)

_PARTITIONS_SCHEMA = (
    "bucket int, n_files bigint, total_bytes bigint, rows bigint, "
    "mor_files bigint, n_generations int, small_files bigint"
)

_PLAN_SCHEMA = "scope string, target string, action string, reason string"


def _gen(path: str) -> int:
    m = re.search(r"delta-(\d+)", path)
    return int(m.group(1)) if m else 0


def _file_rows(table, snap) -> list[tuple]:
    rows = []
    for b, fl in sorted(snap.files.items(), key=lambda kv: int(kv[0])):
        for fe in fl:
            full = os.path.join(table.root, fe["path"])
            try:
                size = os.path.getsize(full)
            except OSError:
                size = -1  # referenced but missing — surfaced, not hidden
            rows.append(
                (
                    snap.version,
                    int(b),
                    fe["path"],
                    _gen(fe["path"]),
                    int(fe["schema_version"]),
                    bool(fe.get("mor")),
                    size,
                    int(fe["rows"]) if "rows" in fe else None,
                    json.dumps(fe["stats"]) if fe.get("stats") else None,
                )
            )
    return rows


def files_df(table, version: int | None = None) -> DataFrame:
    """One row per live data file of a snapshot (default: current):
    bucket, manifest path, commit generation, writer schema version,
    MoR flag, on-disk bytes, footer min/max stats (JSON)."""
    snap = table.snapshot(version)
    return table.spark.createDataFrame(_file_rows(table, snap), _FILES_SCHEMA)


def snapshots_df(table) -> DataFrame:
    """One row per snapshot still on disk — the table's history with
    per-version file counts and byte totals (expired versions are
    absent, exactly like ``history()``)."""
    rows = []
    # memoize per-file sizes across the history loop: carried-over
    # files appear in EVERY later snapshot, so without the cache this
    # stats O(snapshots x files) — data files are immutable once
    # committed, so one stat each is exact
    size_of: dict[str, int] = {}
    for snap in table.history():
        n_files = 0
        total = 0
        mor = 0
        for b, fl in snap.files.items():
            for fe in fl:
                n_files += 1
                mor += 1 if fe.get("mor") else 0
                p = fe["path"]
                if p not in size_of:
                    try:
                        size_of[p] = os.path.getsize(
                            os.path.join(table.root, p)
                        )
                    except OSError:
                        size_of[p] = 0
                total += size_of[p]
        rows.append(
            (
                snap.version,
                snap.parent,
                str(snap.summary.get("operation", "")),
                snap.n_buckets,
                n_files,
                total,
                mor,
                len(snap.applied_epochs),
                snap.current_schema,
                len(snap.schema_versions),
                bool(snap.soft_delete),
                # wall-clock commit stamp (TIMESTAMP-AS-OF resolution);
                # None on snapshots predating the stamp
                (lambda at: float(at) if at is not None else None)(
                    snap.summary.get("committed_at")
                ),
            )
        )
    return table.spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


_LINEAGE_SCHEMA = (
    "snapshot_version int, epoch_id string, lsn_start bigint, "
    "lsn_end bigint, events_in bigint, inserted bigint, updated bigint, "
    "deleted bigint, unchanged bigint, stale bigint, quarantined bigint, "
    "operation string"
)


def lineage_df(table) -> DataFrame:
    """Offset-range → snapshot-id lineage as a queryable DataFrame —
    one row per ingest commit still on disk, recovered entirely from
    snapshot summaries (the appliers write ``lsn_start``/``lsn_end``,
    the dead-letter count, and the MERGE's per-epoch statistics
    in-band at commit time, so lineage needs no side store and
    survives process restarts).

    This is the audit surface for the north-rule's "per-partition
    lineage + metrics emitted each epoch": join it against the log to
    prove every offset range landed exactly once, window it for
    throughput-over-time, or reconcile inserted+updated+deleted+
    unchanged+stale+quarantined against the source's per-range counts.
    ``events_in`` is null where the summary omits it (an epoch whose
    conflation learned its admission count only after the commit).
    Only commits with lsn bounds appear: a streaming micro-batch's
    batchId is not an offset, so stream commits are excluded.
    Expired snapshots drop out (same visibility rule as
    ``history()``); the applier's in-memory ``reports`` are the
    superset for the current run (wall times, events/sec)."""
    rows = []
    for snap in table.history():
        s = snap.summary
        if "lsn_start" not in s:
            continue
        epoch = f"lsn:{s['lsn_start']}-{s['lsn_end']}"
        rows.append(
            (
                snap.version,
                epoch if epoch in snap.applied_epochs else None,
                int(s["lsn_start"]),
                int(s["lsn_end"]),
                _opt_int(s.get("events_in")),
                _opt_int(s.get("inserted")),
                _opt_int(s.get("updated")),
                _opt_int(s.get("deleted")),
                _opt_int(s.get("unchanged")),
                _opt_int(s.get("stale")),
                _opt_int(s.get("quarantined")),
                str(s.get("operation", "")),
            )
        )
    return table.spark.createDataFrame(rows, _LINEAGE_SCHEMA)


def _opt_int(v: Any) -> int | None:
    return None if v is None else int(v)


def partitions_df(
    table, version: int | None = None, small_file_bytes: int = 32 * 1024 * 1024
) -> DataFrame:
    """Per-bucket physical layout of a snapshot: file count, bytes,
    MoR delta count, distinct commit generations, small-file count —
    the fragmentation picture compaction decisions read."""
    snap = table.snapshot(version)
    rows = []
    for b, fl in sorted(snap.files.items(), key=lambda kv: int(kv[0])):
        sizes = []
        mor = 0
        gens = set()
        nrows: int | None = 0
        for fe in fl:
            try:
                sizes.append(os.path.getsize(os.path.join(table.root, fe["path"])))
            except OSError:
                sizes.append(0)
            mor += 1 if fe.get("mor") else 0
            gens.add(_gen(fe["path"]))
            if nrows is not None and "rows" in fe:
                nrows += int(fe["rows"])
            else:
                nrows = None  # legacy file without a recorded count
        rows.append(
            (
                int(b),
                len(fl),
                sum(sizes),
                nrows,
                mor,
                len(gens),
                sum(1 for s in sizes if s < small_file_bytes),
            )
        )
    return table.spark.createDataFrame(rows, _PARTITIONS_SCHEMA)


def maintenance_plan(
    table,
    max_files_per_bucket: int = 8,
    max_mor_files: int = 0,
    small_file_bytes: int = 32 * 1024 * 1024,
    keep_snapshots: int = 10,
) -> DataFrame:
    """What maintenance does this table need right now?  Returns
    (scope, target, action, reason) rows the operator can act on —
    each ``action`` names the engine call that clears it:

    * ``compact`` — a bucket holds MoR deltas past ``max_mor_files``
      (read-time reconcile cost accruing) or more than
      ``max_files_per_bucket`` file fragments → ``table.compact()``.
    * ``expire_snapshots`` — more than ``keep_snapshots`` versions on
      disk → ``table.expire_snapshots(keep_last=keep_snapshots)``.
    * ``abort_or_publish_stage`` — a staged WAP snapshot is pinning
      files → ``publish_staged`` / ``abort_staged``.

    Pure metadata read; an empty result means the table is tight."""
    rows: list[tuple] = []
    snap = table.snapshot()
    for b, fl in sorted(snap.files.items(), key=lambda kv: int(kv[0])):
        mor = sum(1 for fe in fl if fe.get("mor"))
        if mor > max_mor_files:
            rows.append(
                (
                    "bucket",
                    str(b),
                    "compact",
                    f"{mor} merge-on-read delta file(s) pending reconcile",
                )
            )
        elif len(fl) > max_files_per_bucket:
            small = 0
            for fe in fl:
                try:
                    if (
                        os.path.getsize(os.path.join(table.root, fe["path"]))
                        < small_file_bytes
                    ):
                        small += 1
                except OSError:
                    pass
            rows.append(
                (
                    "bucket",
                    str(b),
                    "compact",
                    f"{len(fl)} file fragments ({small} under "
                    f"{small_file_bytes} bytes)",
                )
            )
    vs = table.versions()
    if len(vs) > keep_snapshots:
        rows.append(
            (
                "table",
                table.root,
                "expire_snapshots",
                f"{len(vs)} snapshots on disk (keep_last={keep_snapshots})",
            )
        )
    for name in table.staged_names():
        rows.append(
            (
                "stage",
                name,
                "abort_or_publish_stage",
                "staged snapshot pins its files against GC",
            )
        )
    return table.spark.createDataFrame(rows, _PLAN_SCHEMA)


def auto_maintain(
    table,
    max_files_per_bucket: int = 8,
    max_mor_files: int = 0,
    keep_snapshots: int = 10,
    zorder_by: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Execute :func:`maintenance_plan`: one ``compact`` covering
    every flagged bucket (the compactor itself selects fat/MoR
    buckets with the same thresholds), then ``expire_snapshots``.
    Staged WAP snapshots are reported but never auto-resolved —
    publishing or aborting an audit is a decision, not maintenance.

    Returns the actions taken (the background-maintenance loop a
    deployment schedules per table)."""
    plan = maintenance_plan(
        table,
        max_files_per_bucket=max_files_per_bucket,
        max_mor_files=max_mor_files,
        keep_snapshots=keep_snapshots,
    ).collect()
    done: list[dict[str, Any]] = []
    if any(r["action"] == "compact" for r in plan):
        snap = table.compact(
            max_files_per_bucket=max_files_per_bucket, zorder_by=zorder_by
        )
        done.append(
            {
                "action": "compact",
                "committed_version": snap.version if snap else None,
            }
        )
    if any(r["action"] == "expire_snapshots" for r in plan):
        stats = table.expire_snapshots(keep_last=keep_snapshots)
        done.append({"action": "expire_snapshots", **stats})
    for r in plan:
        if r["action"] == "abort_or_publish_stage":
            done.append(
                {"action": "needs_decision", "stage": r["target"]}
            )
    return done


def remove_orphan_files(
    table,
    older_than_s: float = 86_400.0,
    dry_run: bool = False,
) -> dict[str, Any]:
    """Delete data files no snapshot references — crash debris, not
    history (Iceberg's ``remove_orphan_files``, vs ``expire_snapshots``
    which trades history for space).

    A writer that dies between writing its delta files and winning the
    hard-link CAS leaves parquet under ``data/`` that no version ever
    points at; rebase-and-retry losers and aborted speculative writes
    leave the same debris.  This sweep removes exactly those files:
    the referenced set is the union over EVERY on-disk snapshot (all
    time-travel versions stay readable — nothing the format can reach
    is touched), every staged WAP snapshot, write-time CDF capture
    files, and Bloom-sidecar directories.

    ``older_than_s`` is the in-flight-writer guard: a racing writer's
    files exist before its snapshot does, so only files older than the
    window are eligible (default 1 day — far beyond any commit's
    write-to-CAS latency).  ``dry_run`` reports without deleting.

    Driver-side metadata walk + one filesystem listing — O(files in
    metadata + files on disk), no data scan.  Returns ``{"orphans":
    [...], "removed": n, "bytes": b}`` (paths relative to the table
    root; ``removed`` is 0 on dry runs).
    """
    import time

    referenced: set[str] = set()
    snaps = [table.snapshot(v) for v in table.versions()] + [
        table.staged_snapshot(n) for n in table.staged_names()
    ]
    bloom_dirs: set[str] = set()
    for s in snaps:
        for fl in s.files.values():
            for fe in fl:
                referenced.add(fe["path"])
                if fe.get("bloom"):
                    bloom_dirs.add(fe["bloom"])
        cdf = s.summary.get("cdf") or {}
        for kind in ("pre", "chg"):
            referenced.update(fe["path"] for fe in cdf.get(kind, []))
    for bd in sorted(bloom_dirs):
        full = os.path.join(table.root, bd)
        if os.path.isdir(full):
            referenced.update(
                os.path.join(bd, fn) for fn in os.listdir(full)
            )
    cutoff = time.time() - older_than_s
    orphans: list[str] = []
    total_bytes = 0
    data_root = os.path.join(table.root, "data")
    emptied: set[str] = set()
    for root_dir, dirs, fns in os.walk(data_root, topdown=False):
        for fn in fns:
            # parquet only, like expire_snapshots: _SUCCESS/.crc
            # markers are write bookkeeping, not recoverable space
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root_dir, fn)
            rel = os.path.relpath(full, table.root)
            if rel in referenced:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue
                size = os.path.getsize(full)
            except OSError:
                continue  # raced with another janitor
            orphans.append(rel)
            total_bytes += size
            if not dry_run:
                os.unlink(full)
                emptied.add(root_dir)
        if not dry_run and root_dir != data_root and not os.listdir(root_dir):
            # a dir THIS sweep emptied (directly, or by collapsing a
            # child) collapses with it; an empty dir the sweep never
            # touched must also pass the age gate — an in-flight
            # writer creates its delta dir empty moments before
            # populating it, and rmdir'ing that fresh dir races the
            # commit (the unlink/rmdir above bump parent mtimes, so
            # mtime alone cannot make this distinction)
            ok = root_dir in emptied
            if not ok:
                try:
                    ok = os.path.getmtime(root_dir) <= cutoff
                except OSError:
                    ok = False
            if ok:
                try:
                    os.rmdir(root_dir)
                    emptied.add(os.path.dirname(root_dir))
                except OSError:
                    pass  # raced with the writer or another janitor
    return {
        "orphans": sorted(orphans),
        "removed": 0 if dry_run else len(orphans),
        "bytes": total_bytes,
    }
