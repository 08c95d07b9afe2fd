"""As-of and range joins — operators Spark lacks natively (driver north
star: express as a composition of existing DataFrame ops when semantics
allow).

As-of join (latest right-side row at-or-before each left timestamp, per
key): the naive formulation is a per-row range scan (O(n*m) or an expensive
non-equi join). The scalable composition is UNION + ORDERED WINDOW:

    union left (tagged) and right (tagged) rows on the shared key;
    sort within key by (time, right-before-left at ties);
    running MAX/last_value over the right-side payload;
    keep left rows — each now carries the most recent right value.

One shuffle on the key, one sort — the same cost profile as a windowed
aggregation, regardless of how many right rows precede each left row.

Range join (value-to-bin): join a fact value into interval bins. For a
small bin table the right plan is a broadcast non-equi join; at huge bin
counts, bucketize first (bin id = floor((v - lo)/width)) to make it an
equi-join. Both are provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_value: str,
    out_col: str | None = None,
) -> DataFrame:
    """left rows + `out_col` = right's `right_value` from the latest right
    row with right_time <= left_time and matching `key` (NULL when none).

    Ties (right_time == left_time): the right row IS visible (at-or-before
    semantics), implemented by ordering right rows before left rows at equal
    timestamps."""
    out_col = out_col or f"asof_{right_value}"
    l_tag = left.select(
        F.col(key),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),  # left sorts after right at equal times
        F.lit(None).cast(
            right.schema[right_value].dataType
        ).alias("__rv"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(right_value).alias("__rv"),
        F.lit(None).cast(
            l_tag.schema["__row"].dataType
        ).alias("__row"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(key)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        out_col, F.last("__rv", ignorenulls=True).over(w)
    )
    kept = carried.filter(F.col("__side") == 1)
    return kept.select(
        *[F.col("__row")[c].alias(c) for c in left.columns], F.col(out_col)
    )


def range_join_bins(
    facts: DataFrame,
    bins: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """facts x bins on lo <= value < hi. Small bin tables broadcast (the
    non-equi predicate runs map-side, no shuffle of facts)."""
    b = F.broadcast(bins)
    return facts.join(
        b,
        (facts[value_col] >= b[lo_col]) & (facts[value_col] < b[hi_col]),
        "inner",
    )
