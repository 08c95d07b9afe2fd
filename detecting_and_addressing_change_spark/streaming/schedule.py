"""Generated dimension tables for the drift experiments.

σ-schedule (SURVEY §2.2 R5 / §2.4 J5): the reference builds
``torch.arange(0, max_std, step)`` and indexes it positionally
(``drift_detection/drift_experiments_supervised.py:200-204``,
``streams/run_stream_supervised.py:50-54``). Here it is a generated,
broadcast-joinable table: (batch_id, sigma), zero before ``warm_start``
(the T4 gate), then a linear ramp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sigma_schedule(
    spark: SparkSession,
    n_batches: int,
    warm_start: int = 30,
    max_std: float = 2.0,
    steps: int | None = None,
) -> DataFrame:
    """DataFrame[bucket, sigma]: sigma = 0 for bucket < warm_start, then
    (bucket - warm_start) * (max_std / steps), CAPPED at max_std — the
    reference's ``torch.arange(0, max_std, step)`` never emits a value
    >= max_std (its runs size the schedule to the stream), so with an
    explicit ``steps`` shorter than the stream the ramp saturates instead
    of overshooting (ADVICE r3: 'max_std' must mean a maximum)."""
    steps = steps if steps is not None else max(n_batches - warm_start, 1)
    step = max_std / steps
    return spark.range(n_batches).select(
        F.col("id").cast("int").alias("bucket"),
        F.when(F.col("id") < warm_start, F.lit(0.0))
        .otherwise(
            F.least(
                (F.col("id") - warm_start) * F.lit(step), F.lit(max_std)
            )
        )
        .alias("sigma"),
    )


def synthetic_detector_feed(
    spark: SparkSession, n: int, seed: int = 42, scale: float = 0.1
) -> DataFrame:
    """T6 (SURVEY §2.6 / §8 Q2): the reference's unsupervised labeling pass
    feeds DDM `1 - uniform(0.9, 1.0)` RANDOM errors rather than real
    accuracy (streams/run_stream_unsupervised.py:62,175). Reproduced behind
    this explicit generator: DataFrame[detector_id, seq_id, error] with
    seeded rand so the experiment shape is reproducible within a run."""
    return spark.range(n).select(
        F.lit("synthetic").alias("detector_id"),
        F.col("id").alias("seq_id"),
        (F.rand(seed) * scale).alias("error"),
    )


def sigma_schedule_for(
    buckets: DataFrame,
    bucket_col: str = "bucket",
    warm_start: int = 30,
    max_std: float = 2.0,
    steps: int | None = None,
) -> DataFrame:
    """In-plan sigma_schedule: sized from the data's own max bucket via an
    aggregate-then-explode instead of a driver-side collect job (VERDICT r2
    #10). Semantics identical to sigma_schedule(spark, max_bucket + 1, ...),
    including the saturation at max_std."""
    mx = buckets.agg(F.max(F.col(bucket_col)).alias("__mx"))
    step = (
        F.lit(max_std) / F.lit(float(steps))
        if steps is not None
        else F.lit(max_std)
        / F.greatest(F.col("__mx") + 1 - warm_start, F.lit(1)).cast("double")
    )
    return mx.select(
        F.explode(F.sequence(F.lit(0), F.col("__mx"))).alias("bucket"),
        step.alias("__step"),
    ).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.when(F.col("bucket") < warm_start, F.lit(0.0))
        .otherwise(
            F.least(
                (F.col("bucket") - warm_start) * F.col("__step"),
                F.lit(max_std),
            )
        )
        .alias("sigma"),
    )
