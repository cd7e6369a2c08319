"""Structured Streaming driver: a ``foreachBatch`` adapter over
``cdc.apply.CdcApplier.apply_batch``.

``readStream`` source → ``foreachBatch`` → the applier's one epoch
body, so a micro-batch gets everything a batch epoch gets (quarantine,
strategy resolution + admission gate, conflate, transform, evolve,
MERGE, MoR compaction, change capture, reports).  Only the epoch id
differs: ``stream:<name>:<batchId>`` instead of an lsn range, and no
lsn bounds land in the commit summary (a batchId is not an offset).

Exactly-once composition (SURVEY §2.9 ST2):

- Spark's streaming checkpoint guarantees each source offset range is
  presented as the same ``batchId`` on replay after a crash;
- the epoch id ``stream:<name>:<batchId>`` is committed inside the
  same snapshot as the data;
- so a replayed batch finds its id already in
  ``Snapshot.applied_epochs`` and becomes a no-op → end-to-end
  exactly-once without a transactional sink API.

Late/out-of-order data needs no watermark on this path: state lives
in the table itself and the MERGE's order-tuple guard (warc_ts, lsn)
makes stale events no-ops regardless of which micro-batch delivered
them (SURVEY ST6).

The reference analogue of this file is the Luigi cron loop
(realtor_pipeline.py:27-64) — one workflow run per epoch with
completion-token idempotence; here the scheduler is Spark's
micro-batch engine and the token is the snapshot property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from realdeal_spark.cdc.apply import CdcApplier


def stream_apply(
    applier: CdcApplier,
    stream: DataFrame,
    name: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Apply every micro-batch of ``stream`` through ``applier``;
    returns the StreamingQuery.

    ``name`` must be stable across restarts — it namespaces the epoch
    ids recorded in the table (one logical stream per name; two
    differently-named streams into one table commit independently).
    ``trigger`` kwargs pass through to ``.trigger``:
    ``{"availableNow": True}`` drains the source then stops (the
    batch-replay mode of tests and backfills),
    ``{"processingTime": "1 seconds"}`` tails it.
    """
    writer = stream.writeStream.foreachBatch(
        lambda df, batch_id: applier.apply_batch(df, f"stream:{name}:{batch_id}")
    ).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def file_source(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Tail a directory of event files (the sandbox's stand-in for
    a Kafka/binlog source; maxFilesPerTrigger is the per-trigger
    admission budget, SURVEY ST4/P6)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
