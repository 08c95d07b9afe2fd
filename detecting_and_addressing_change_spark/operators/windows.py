"""Count-based windows (SURVEY §2.3 A3, §4.2 item 2).

The reference accumulates accuracy over ``print_every`` batches and emits the
mean (streams/run_stream_supervised.py:69-72). Spark's built-in windows are
time-based; count windows are a deterministic bucket column
``floor(seq_id / batch_size)`` — shuffle-light (one hash partitioning by
bucket) and identical in batch and streaming mode.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_bucket_col(seq: Column, batch_size: int) -> Column:
    return F.floor(seq / batch_size).cast("int")


def count_window_agg(
    df: DataFrame,
    seq_col: str,
    batch_size: int,
    aggs: Sequence[Column],
    bucket_name: str = "bucket",
) -> DataFrame:
    """Bucket by floor(seq/batch_size) and aggregate. The A3 shape:
    per-micro-batch mean accuracy feeding the drift detector."""
    return (
        df.withColumn(bucket_name, count_bucket_col(F.col(seq_col), batch_size))
        .groupBy(bucket_name)
        .agg(*aggs)
    )
