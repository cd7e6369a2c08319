"""Dead-letter routing: malformed change events (unknown op, null key,
null order) go to a quarantine sink instead of failing the epoch or
silently corrupting state; the valid remainder applies normally and
replay stays exactly-once."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from realdeal_spark.cdc.apply import CdcApplier
from realdeal_spark.cdc.quarantine import invalidity_expr, split_quarantine
from realdeal_spark.streaming import file_source, stream_apply

from tests.test_merge_cdc import _events_df, _mk_table, _ts

EVENT_SCHEMA_Q = (
    "lsn bigint, op string, url string, warc_ts timestamp_ntz, "
    "html binary, lang string"
)


def _mixed_rows(spark):
    rows = [
        (0, "insert", "u1", _ts(0), b"A", "en"),          # valid
        (1, "bogus", "u2", _ts(1), b"B", "en"),           # unknown_op
        (2, None, "u3", _ts(2), b"C", "en"),              # null op
        (3, "insert", None, _ts(3), b"D", "en"),          # null_key:url
        (4, "insert", "u4", None, b"E", "en"),            # null_order:warc_ts
        (5, "update", "u1", _ts(5), b"A2", "en"),         # valid
        (6, "bogus", None, _ts(6), b"F", "en"),           # op wins precedence
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA_Q)


def test_split_reasons_and_precedence(spark):
    df = _mixed_rows(spark)
    good, bad = split_quarantine(df, ["url"], ["warc_ts", "lsn"])
    assert sorted(r["lsn"] for r in good.collect()) == [0, 5]
    reasons = {r["lsn"]: r["_reason"] for r in bad.collect()}
    assert reasons == {
        1: "unknown_op",
        2: "unknown_op",
        3: "null_key:url",
        4: "null_order:warc_ts",
        6: "unknown_op",  # unknown op outranks the null key
    }
    # valid schema untouched, no reason column leaks
    assert good.columns == df.columns


def test_applier_routes_bad_rows_and_applies_good(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    applier = CdcApplier(table, quarantine_dir=qdir)
    rep = applier.apply_epoch(_mixed_rows(spark), 0, 9)
    assert rep.quarantined == 5
    # final state = replay of only the valid rows
    state = {r["url"]: bytes(r["html"]) for r in table.read().collect()}
    assert state == {"u1": b"A2"}
    # quarantine parquet holds exactly the bad rows with reasons
    q = spark.read.parquet(f"{qdir}/lsn_0-9")
    assert sorted(r["lsn"] for r in q.collect()) == [1, 2, 3, 4, 6]
    assert "_reason" in q.columns
    # replay of the committed epoch is a no-op and does not duplicate
    rep2 = applier.apply_epoch(_mixed_rows(spark), 0, 9)
    assert rep2.skipped and rep2.quarantined == 0
    assert spark.read.parquet(f"{qdir}/lsn_0-9").count() == 5


def test_applier_without_quarantine_dir_unchanged(spark, tmp_path):
    """Default behavior (no quarantine_dir) is untouched: valid-only
    logs replay exactly as before."""
    table = _mk_table(spark, tmp_path)
    applier = CdcApplier(table)
    rep = applier.apply_epoch(
        _events_df(spark, [(0, "insert", "u1", 0, "A"), (1, "update", "u1", 1, "B")]),
        0,
        9,
    )
    assert rep.quarantined == 0
    assert {r["url"]: bytes(r["html"]) for r in table.read().collect()} == {
        "u1": b"B"
    }


def test_streaming_applier_quarantines_per_microbatch(spark, tmp_path):
    src = tmp_path / "dlq_src"
    rows0 = [
        (0, "insert", "u1", _ts(0), b"A", "en"),
        (1, "bogus", "u2", _ts(1), b"B", "en"),
    ]
    rows1 = [
        (2, "insert", None, _ts(2), b"C", "en"),
        (3, "update", "u1", _ts(3), b"A2", "en"),
    ]
    for i, rows in enumerate([rows0, rows1]):
        # one file per micro-batch (order-insensitive here, but keeps
        # the two-batch shape deterministic)
        spark.createDataFrame(rows, EVENT_SCHEMA_Q).coalesce(1).write.parquet(
            str(src / f"p{i}")
        )
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq_stream")
    applier = CdcApplier(table, quarantine_dir=qdir)
    stream = file_source(spark, f"{src}/p*", EVENT_SCHEMA_Q)
    q = stream_apply(
        applier, stream, "dlq", str(tmp_path / "dlq_ckpt"), {"availableNow": True}
    )
    assert q.awaitTermination(300), "availableNow drain did not finish"
    assert sum(r.quarantined for r in applier.reports) == 2
    state = {r["url"]: bytes(r["html"]) for r in table.read().collect()}
    assert state == {"u1": b"A2"}
    dlq = spark.read.parquet(f"{qdir}/*")
    assert sorted(r["lsn"] for r in dlq.collect()) == [1, 2]


def test_invalidity_expr_all_valid_is_null(spark):
    df = _events_df(spark, [(0, "insert", "u1", 0, "A")])
    out = df.select(invalidity_expr(["url"], ["warc_ts", "lsn"]).alias("r"))
    assert out.first()["r"] is None


# ------------------------------------------------------------- redrive

from realdeal_spark.cdc.quarantine import (  # noqa: E402
    DRAINED_MARKER,
    read_quarantine,
    redrive_quarantine,
)


def _strip_x(df):
    """The 'upstream fix': corrupted ops carry an X_ prefix of the
    true op; null order timestamps are reconstructible from the lsn."""
    return df.withColumn(
        "op", F.regexp_replace("op", "^X_", "")
    ).withColumn(
        "warc_ts",
        F.coalesce(
            F.col("warc_ts"),
            (F.lit(_ts(0)).cast("timestamp_ntz") + F.make_interval(secs=F.col("lsn"))),
        ),
    )


def test_redrive_applies_repaired_rows_and_drains(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    rows = [
        (0, "insert", "u1", _ts(0), b"A", "en"),
        (1, "X_update", "u1", _ts(1), b"A2", "en"),   # corrupted op
        (2, "X_insert", "u9", _ts(2), b"Z", "en"),    # corrupted op
        (5, "insert", "u2", _ts(5), b"B", "en"),
    ]
    a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), 0, 9)
    assert {r["url"] for r in table.read().collect()} == {"u1", "u2"}

    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep.rows_read == 2 and rep.requeued == 0
    assert rep.source_epochs == ["lsn_0-9"]
    assert rep.epoch.epoch_id.startswith("redrive:") and not rep.epoch.skipped
    state = {r["url"]: bytes(r["html"]) for r in table.read().collect()}
    assert state == {"u1": b"A2", "u9": b"Z", "u2": b"B"}
    # drained: marker present, queue empty for the next redrive
    assert (tmp_path / "dlq" / "lsn_0-9" / DRAINED_MARKER).exists()
    rep2 = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep2.epoch is None and rep2.rows_read == 0


def test_redrive_retry_after_marker_crash_skips(spark, tmp_path):
    """Crash between commit and markers, nothing requeued: the retry's
    digest is unchanged, the epoch skips, the markers land."""
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    rows = [(0, "X_insert", "u1", _ts(0), b"A", "en")]
    a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), 0, 9)
    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert not rep.epoch.skipped
    marker = tmp_path / "dlq" / "lsn_0-9" / DRAINED_MARKER
    marker.unlink()  # simulate the crash window
    rep2 = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep2.epoch.skipped and rep2.epoch.epoch_id == rep.epoch.epoch_id
    assert marker.exists()
    assert {bytes(r["html"]) for r in table.read().collect()} == {b"A"}


def test_redrive_requeues_unfixed_rows(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    rows = [
        (1, "X_insert", "u1", _ts(1), b"A", "en"),
        (2, "garbage", "u2", _ts(2), b"B", "en"),  # repair can't fix this
    ]
    a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), 0, 9)
    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep.rows_read == 2 and rep.requeued == 1
    assert {r["url"] for r in table.read().collect()} == {"u1"}
    # the unfixed row sits in exactly one undrained dir, under the
    # redrive's own epoch id, still carrying its reason
    q = read_quarantine(spark, qdir)
    left = q.collect()
    assert len(left) == 1 and left[0]["url"] == "u2"
    assert left[0]["_reason"] == "unknown_op"
    assert left[0]["_q_epoch"].startswith("redrive_")
    # a better repair on a second attempt drains it
    fix2 = lambda df: df.withColumn(
        "op", F.when(F.col("op") == "garbage", "insert").otherwise(F.col("op"))
    )
    rep2 = redrive_quarantine(a, qdir, repair=fix2)
    assert rep2.requeued == 0
    assert {r["url"] for r in table.read().collect()} == {"u1", "u2"}


def test_redrive_is_out_of_order_safe(spark, tmp_path):
    """A repaired row whose key advanced past it lands stale — the
    redrive can never roll a key backwards."""
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    e1 = [(1, "X_update", "u1", _ts(1), b"OLD", "en")]
    a.apply_epoch(spark.createDataFrame(e1, EVENT_SCHEMA_Q), 0, 4)
    e2 = [(6, "insert", "u1", _ts(6), b"NEW", "en")]
    a.apply_epoch(spark.createDataFrame(e2, EVENT_SCHEMA_Q), 5, 9)
    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep.epoch.stale == 1 and rep.epoch.updated == 0
    assert {bytes(r["html"]) for r in table.read().collect()} == {b"NEW"}


def test_redrive_multi_epoch_queue_conflates(spark, tmp_path):
    """Dead letters for one key across several epochs conflate to the
    order-winner inside the single redrive epoch."""
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    for lo, rows in [
        (0, [(1, "X_insert", "u1", _ts(1), b"V1", "en")]),
        (10, [(11, "X_update", "u1", _ts(11), b"V2", "en")]),
    ]:
        a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), lo, lo + 9)
    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep.rows_read == 2 and len(rep.source_epochs) == 2
    assert {bytes(r["html"]) for r in table.read().collect()} == {b"V2"}


def test_redrive_requires_quarantine_dir_and_empty_queue_noop(spark, tmp_path):
    import pytest

    table = _mk_table(spark, tmp_path)
    bare = CdcApplier(table)
    with pytest.raises(ValueError, match="quarantine_dir"):
        redrive_quarantine(bare, str(tmp_path / "nope"))
    a = CdcApplier(table, quarantine_dir=str(tmp_path / "dlq"))
    rep = redrive_quarantine(a, str(tmp_path / "dlq"))
    assert rep.epoch is None and rep.rows_read == 0 and rep.source_epochs == []


def test_clean_epoch_leaves_no_queue_dir(spark, tmp_path):
    """Zero-count quarantine writes remove their own directory, so the
    queue lists only epochs that actually dead-lettered rows."""
    import os

    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    rows = [(0, "insert", "u1", _ts(0), b"A", "en")]
    a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), 0, 9)
    assert not os.path.isdir(os.path.join(qdir, "lsn_0-9"))


def test_redrive_drains_streaming_dlq(spark, tmp_path):
    """The streaming applier's per-micro-batch quarantine dirs drain
    through the same batch redrive — one recovery path for both
    ingest modes."""
    src = tmp_path / "dlq_src2"
    rows0 = [
        (0, "insert", "u1", _ts(0), b"A", "en"),
        (1, "X_update", "u1", _ts(1), b"A2", "en"),
    ]
    spark.createDataFrame(rows0, EVENT_SCHEMA_Q).coalesce(1).write.parquet(
        str(src / "p0")
    )
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq_stream2")
    applier = CdcApplier(table, quarantine_dir=qdir)
    stream = file_source(spark, f"{src}/p*", EVENT_SCHEMA_Q)
    q = stream_apply(
        applier, stream, "dlq2", str(tmp_path / "dlq_ckpt2"), {"availableNow": True}
    )
    assert q.awaitTermination(300)
    assert {bytes(r["html"]) for r in table.read().collect()} == {b"A"}
    # drain with a batch applier over the same table + queue
    batch_applier = CdcApplier(table, quarantine_dir=qdir)
    rep = redrive_quarantine(batch_applier, qdir, repair=_strip_x)
    assert rep.rows_read == 1 and rep.requeued == 0
    assert {bytes(r["html"]) for r in table.read().collect()} == {b"A2"}


def test_purge_drained_removes_only_drained(spark, tmp_path):
    from realdeal_spark.cdc.quarantine import purge_drained

    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir)
    rows = [
        (1, "X_insert", "u1", _ts(1), b"A", "en"),
        (2, "garbage", "u2", _ts(2), b"B", "en"),
    ]
    a.apply_epoch(spark.createDataFrame(rows, EVENT_SCHEMA_Q), 0, 9)
    redrive_quarantine(a, qdir, repair=_strip_x)  # u2 requeued, lsn_0-9 drained
    removed = purge_drained(qdir)
    assert removed == ["lsn_0-9"]
    # the requeued (undrained) dir survives and still reads
    q = read_quarantine(spark, qdir)
    assert [r["url"] for r in q.collect()] == ["u2"]
    assert purge_drained(qdir) == []  # idempotent
    assert purge_drained(str(tmp_path / "absent")) == []


def test_redrive_across_schema_evolution(spark, tmp_path):
    """Dead letters quarantined BEFORE a column was added redrive
    cleanly alongside post-evolution dead letters: the narrower
    epoch's rows fill the new column with null, like any
    pre-evolution row."""
    table = _mk_table(spark, tmp_path)
    qdir = str(tmp_path / "dlq")
    a = CdcApplier(table, quarantine_dir=qdir, auto_evolve=True)
    e1 = [(1, "X_insert", "u1", _ts(1), b"A", "en")]
    a.apply_epoch(spark.createDataFrame(e1, EVENT_SCHEMA_Q), 0, 9)
    # evolution: later events carry a new column
    wide_schema = EVENT_SCHEMA_Q + ", score double"
    e2 = [(11, "X_insert", "u2", _ts(11), b"B", "en", 0.5)]
    a.apply_epoch(spark.createDataFrame(e2, wide_schema), 10, 19)
    rep = redrive_quarantine(a, qdir, repair=_strip_x)
    assert rep.rows_read == 2 and rep.requeued == 0
    state = {r["url"]: r["score"] for r in table.read().collect()}
    assert state == {"u1": None, "u2": 0.5}
