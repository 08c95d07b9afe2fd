"""The session keeps a warm workload's generated code resident.

Spark's generated-code cache is an LRU (``spark.sql.codegen.cache.maxEntries``,
100 by default). A workload whose classes outnumber it recompiles every one
of them on every pass; ``get_spark`` sizes it at 1000. A second round of
the same plans must hit the cache, so Janino's compilation counter
(``CodegenMetrics``, read over py4j) must not move."""

from __future__ import annotations

# Each query below compiles two classes (its whole-stage class and the
# projection of its collect); 60 queries are 120 entries, more than the
# stock cache holds and far fewer than the session's.
N_QUERIES = 60


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> None:
    for i in range(N_QUERIES):
        spark.range(8).selectExpr(f"id * {i + 2} + {i} AS v").filter(
            f"v > {i}"
        ).collect()


def test_second_round_of_plans_does_not_recompile(spark):
    before = _compilations(spark)
    _round(spark)
    first = _compilations(spark) - before
    assert first >= N_QUERIES  # the plans really were generated and compiled
    _round(spark)
    assert _compilations(spark) - before == first
