"""Data-quality profiling: one-pass per-column table statistics.

The pre-flight check every large-scale ingest runs before training on a
new data drop: row counts, null fractions, distinct cardinalities, value
ranges — per column, in ONE scan. The implementation builds a single
wide aggregate (every statistic for every column in the same
`agg(...)`), then unpivots to the long `(column, stat, value)` shape, so
a 100-column profile over 100 TB is still exactly one pass + one
O(columns) melt, not 100 scans.

Distinct counts use exact `countDistinct` because the profile sits on
the DuckDB oracle gate (x22); an approximate profile would need its own
oracle tolerance, so none is offered.

No reference counterpart (the reference never validates its inputs —
SURVEY §8); extension family per SURVEY §2.9.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    cols: list[str],
    decimal_pin: dict[str, int] | None = None,
) -> DataFrame:
    """Long-format profile `(column, n_rows, n_null, n_distinct, min_s,
    max_s)` for each named column. min/max are canonical strings so mixed
    column types fit one schema (numeric columns keep their natural
    ordering by aggregating BEFORE the cast).

    Float/double columns must appear in `decimal_pin` (column -> scale):
    their min/max are pinned to DECIMAL(38, scale) before the string
    cast, because raw float formatting is engine-specific (Java flips to
    scientific notation at 1e7; DuckDB does not)."""
    decimal_pin = decimal_pin or {}

    def _str(agg: Column, c: str) -> Column:
        if c in decimal_pin:
            agg = agg.cast(f"decimal(38,{decimal_pin[c]})")
        return agg.cast("string")

    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__null"),
            F.countDistinct(col).alias(f"{c}__dist"),
            _str(F.min(col), c).alias(f"{c}__min"),
            _str(F.max(col), c).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__dist").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
        )
        for c in cols
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("s")
    ).select("s.*")
