"""Streaming CDC snapshot (foreachBatch merge) must equal the batch
apply_changelog over the full log — for an arrival order deliberately
DECORRELATED from versions, so tombstone retention is what keeps a
late-arriving lower-version upsert from resurrecting a deleted key."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.upsert import (
    apply_changelog,
)
from detecting_and_addressing_change_spark.sources.tables import load_table
from detecting_and_addressing_change_spark.streaming.replay import (
    read_replay_stream,
    stage_replay_files,
)
from detecting_and_addressing_change_spark.streaming.upsert_stream import (
    ChangelogSnapshot,
)

SF = "/root/testdata/sf0.001"
LOG_DDL = "seq long, k long, p double, version int, op string"


def _changelog(spark):
    orders = load_table(spark, SF, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") * 1.1).alias("p"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 17 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("p"),
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
    )
    log = base.unionByName(upd).unionByName(dels)
    # arrival order decorrelated from version: deletes and updates land in
    # arbitrary micro-batches relative to the base rows they supersede
    return log.withColumn(
        "seq", (F.col("k") * 31 + F.col("version") * 1009) % 100003
    ).select("seq", "k", "p", "version", "op")


def test_streaming_snapshot_matches_batch(spark):
    log = _changelog(spark)
    want = sorted(
        map(tuple, apply_changelog(log.drop("seq"), ["k"]).collect())
    )
    assert len(want) > 0
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(log, "seq", f"{tmp}/s", batch_size=700)
        stream = read_replay_stream(spark, f"{tmp}/s", LOG_DDL)
        snap = ChangelogSnapshot(spark, f"{tmp}/state", ["k"])
        q = (
            stream.drop("seq")
            .writeStream.foreachBatch(snap.process_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert snap.epoch > 1, "replay must span multiple micro-batches"
        got = sorted(map(tuple, snap.snapshot().collect()))
    assert got == want


def test_tombstone_blocks_late_lower_version(spark):
    rows = [
        # batch 1: delete k=1 at v3 arrives FIRST
        (1, 1, 0.0, 3, "D"),
        (2, 2, 20.0, 1, "U"),
        # batch 2: stale v1 upsert for k=1 arrives AFTER its delete
        (3, 1, 10.0, 1, "U"),
        (4, 2, 25.0, 2, "U"),
    ]
    log = spark.createDataFrame(
        rows, "seq long, k long, p double, version int, op string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(log, "seq", f"{tmp}/s", batch_size=2)
        stream = read_replay_stream(spark, f"{tmp}/s", LOG_DDL)
        snap = ChangelogSnapshot(spark, f"{tmp}/state", ["k"])
        q = (
            stream.drop("seq")
            .writeStream.foreachBatch(snap.process_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(map(tuple, snap.snapshot().collect()))
    assert got == [(2, 25.0)]


def test_restart_resumes_from_disk_state(spark):
    """Kill-and-restart: a NEW ChangelogSnapshot over the same state dir +
    the same checkpoint must recover its epoch from disk and process only
    the files staged after the first run — ending exactly at the batch
    result over the full log."""
    log = _changelog(spark)
    first = log.filter(F.col("version") <= 1)
    rest = log.filter(F.col("version") > 1)
    want = sorted(
        map(tuple, apply_changelog(log.drop("seq"), ["k"]).collect())
    )
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(first, "seq", f"{tmp}/s", batch_size=700)
        snap1 = ChangelogSnapshot(spark, f"{tmp}/state", ["k"])
        q = (
            read_replay_stream(spark, f"{tmp}/s", LOG_DDL)
            .drop("seq")
            .writeStream.foreachBatch(snap1.process_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        epochs_run1 = snap1.epoch
        assert epochs_run1 > 0

        # "restart": new instance, same state dir + checkpoint; stage the
        # remaining changes with non-clashing file names
        stage_replay_files(
            rest, "seq", f"{tmp}/s", batch_size=700, start_index=1000
        )
        snap2 = ChangelogSnapshot(spark, f"{tmp}/state", ["k"])
        assert snap2.epoch == epochs_run1  # recovered, not reset
        q2 = (
            read_replay_stream(spark, f"{tmp}/s", LOG_DDL)
            .drop("seq")
            .writeStream.foreachBatch(snap2.process_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        assert snap2.epoch > epochs_run1
        got = sorted(map(tuple, snap2.snapshot().collect()))
    assert got == want


@pytest.mark.parametrize(
    "batch_ddl, row",
    [
        ("k long, version int, op string", (1, 2, "U")),
        ("k long, p double, version long, op string", (1, 2.0, 2, "U")),
    ],
    ids=["dropped_column", "int_to_long"],
)
def test_restart_with_changed_schema_raises(spark, batch_ddl, row):
    """After a restart the stored epoch is the only record of the state's
    schema; a batch that does not match it must fail, not merge."""
    first = spark.createDataFrame(
        [(1, 1.0, 1, "U")], "k long, p double, version int, op string"
    )
    changed = spark.createDataFrame([row], batch_ddl)
    with tempfile.TemporaryDirectory() as tmp:
        ChangelogSnapshot(spark, f"{tmp}/state", ["k"]).process_batch(first, 0)
        restarted = ChangelogSnapshot(spark, f"{tmp}/state", ["k"])
        assert restarted.epoch == 1
        with pytest.raises(ValueError, match="stored epoch v1"):
            restarted.process_batch(changed, 1)
        assert restarted.epoch == 1
