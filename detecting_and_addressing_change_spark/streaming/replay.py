"""Ordered replay of a bounded table as a micro-batched stream (SURVEY §2.1
S7: the reference's pull-based ``WOSStream`` cursor with ``next_sample`` /
``restart``, ``streams/stream_data.py:79-203``).

A parquet table becomes a file-source stream by re-bucketing it into many
small files ordered by ``seq_id`` and reading with ``maxFilesPerTrigger=1``:
each micro-batch is one contiguous slice — the Spark equivalent of
``next_sample(batch_size)``. ``restart()`` is a fresh query with a fresh
checkpoint dir.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stage_replay_files(
    df: DataFrame,
    seq_col: str,
    out_dir: str,
    batch_size: int = 512,
    start_index: int = 0,
) -> int:
    """Write df as one parquet file per floor(seq/batch_size) bucket so a
    file-source stream replays it in order. Returns the count of buckets
    staged by this call.

    ONE shuffle + ONE write job: ``repartition`` on the bucket key makes each
    bucket a single task, and ``partitionBy`` lays every bucket directory
    down in the same job — the round-2 per-bucket filter/coalesce loop was n
    full passes over the frame. The bucket id is zero-padded into the
    partition value, and file mtimes are then bumped in bucket order on the
    driver: Spark's file stream source orders files by modification time, and
    a single write job would otherwise give every bucket the same mtime
    (ties resolve arbitrarily). ``start_index`` offsets the bucket names so a
    LATER staging into the same directory (new data arriving after a stream
    restart) never clashes with already-consumed files. The mtime base is
    ``max(every existing file mtime, now) + 1``: earlier stagings bump their
    files up to ``n_buckets`` seconds into the future, so deriving the base
    from the directory mtime alone would let a staging within that horizon
    sort before — or interleave with — the previous one's buckets (a
    semantic replay-order error on restart with a fresh checkpoint)."""
    import time
    buckets = df.withColumn(
        "__bucket",
        F.format_string(
            "%06d", F.floor(F.col(seq_col) / batch_size) + F.lit(start_index)
        ),
    ).repartition("__bucket")
    buckets.write.mode("append").partitionBy("__bucket").parquet(out_dir)

    # Enumerate + order the staged buckets from the directory listing —
    # driver-side metadata work, no extra Spark job over the data.
    staged = sorted(
        d
        for d in os.listdir(out_dir)
        if d.startswith("__bucket=")
        and int(d.split("=", 1)[1]) >= start_index
    )
    max_mtime = os.stat(out_dir).st_mtime
    for root, _, files in os.walk(out_dir):
        for fn in files:
            max_mtime = max(
                max_mtime, os.stat(os.path.join(root, fn)).st_mtime
            )
    base = max(max_mtime, time.time()) + 1.0
    for i, d in enumerate(staged):
        t = base + i
        for root, _, files in os.walk(os.path.join(out_dir, d)):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    return len(staged)


@contextmanager
def scoped_state_partitions(spark: SparkSession, n: int = 8):
    """Run a streaming query with ``spark.sql.shuffle.partitions`` scoped
    to ``n`` (restored on exit, even on failure).

    Stateful streaming commits one state-store instance per shuffle
    partition PER STATEFUL OPERATOR PER MICRO-BATCH (per side, for a
    stream-stream join); at verdict/replay scale — a handful of keys, a
    few dozen rows per batch — that commit overhead IS the query's cost
    (measured: the x114 join verdict dropped 25 s -> 10 s warm at n=8).
    The partition count is pinned into the query's checkpoint at first
    start and restored by Spark on resume, so a scoped query recovers
    consistently. At 100 TB the same knob is sized UP to stream volume —
    state partitioning is a capacity decision, not a semantic one.

    The conf is session-global: the scope assumes nothing else in the
    session is planned concurrently."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_replay_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over the staged buckets, one bucket per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )


def drain_all(queries: dict, label: str) -> None:
    """Wait for concurrently started availableNow queries (``name ->
    StreamingQuery``). A query that does not finish in 300 s stops every
    query and raises, naming ``label`` and the query; a query that
    failed re-raises its exception."""
    for name, q in queries.items():
        if not q.awaitTermination(300):
            for other in queries.values():
                other.stop()
            raise AssertionError(f"{label}: {name} did not drain in 300s")
        if q.exception() is not None:
            raise q.exception()
