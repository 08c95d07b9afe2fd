"""Declarative data-quality expectations — the Deequ/Great-Expectations
pattern, Spark-first.

A constraint suite compiles to ONE aggregation pass over the table: every
row-local rule (non-null, value range, set membership, regex) is a
case-when folded into the same partial-combinable agg, so checking 20
constraints costs the same scan as checking one. Only two rule classes
need more: uniqueness (one groupBy on the key — count of over-represented
keys) and referential integrity (one anti-join against the parent,
broadcast when the parent is a dim). Results are (rule, violations, pass)
rows — the audit record a pipeline gates on.

At 100 TB: the row-local suite is a narrow map + one |rules|-row agg; the
uniqueness check shuffles the key column only; the FK check is the same
join the query layer would run anyway.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    violation: Column  # boolean column: True = this row violates


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Rule:
    return Rule(
        f"in_range({col},{lo},{hi})", ~F.col(col).between(lo, hi)
    )


def is_in(col: str, values: list) -> Rule:
    return Rule(f"is_in({col})", ~F.col(col).isin(values))


def matches(col: str, pattern: str) -> Rule:
    return Rule(
        f"matches({col})", ~F.col(col).rlike(pattern)
    )


def non_negative(col: str) -> Rule:
    return Rule(f"non_negative({col})", F.col(col) < 0)


def check(
    df: DataFrame,
    rules: list[Rule],
    unique_keys: list[list[str]] | None = None,
    foreign_keys: list[tuple[list[str], DataFrame, list[str]]] | None = None,
) -> DataFrame:
    """DataFrame[rule, violations, pass] for the whole suite.

    - ``rules``: row-local constraints — ONE fused aggregation pass.
    - ``unique_keys``: column sets that must be unique — one groupBy per
      key set, counting rows beyond the first per duplicate key.
    - ``foreign_keys``: (child_cols, parent_df, parent_cols) — orphan
      count via a broadcast anti-join, so the parent key set must be
      dim-sized.
    """
    if not rules and not unique_keys and not foreign_keys:
        raise ValueError("check(): empty expectation suite")
    results: list[DataFrame] = []
    if rules:
        aggs = [
            F.sum(r.violation.cast("long")).alias(r.name) for r in rules
        ]
        row = df.agg(*aggs)
        stacked = row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r.name).alias("rule"),
                            F.coalesce(F.col(r.name), F.lit(0)).alias(
                                "violations"
                            ),
                        )
                        for r in rules
                    ]
                )
            ).alias("s")
        ).select("s.rule", "s.violations")
        results.append(stacked)
    for keys in unique_keys or []:
        dup = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(
                    F.sum(F.col("n") - 1), F.lit(0)
                ).alias("violations")
            )
            .select(
                F.lit(f"unique({','.join(keys)})").alias("rule"),
                "violations",
            )
        )
        results.append(dup)
    for child_cols, parent, parent_cols in foreign_keys or []:
        pk = parent.select(
            *[
                F.col(pc).alias(cc)
                for cc, pc in zip(child_cols, parent_cols)
            ]
        ).distinct()
        orphans = (
            df.join(F.broadcast(pk), child_cols, "left_anti")
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(
                F.lit(
                    f"fk({','.join(child_cols)})"
                ).alias("rule"),
                "violations",
            )
        )
        results.append(orphans)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.select(
        "rule",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("pass"),
    )
