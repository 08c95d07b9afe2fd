"""Incremental Gaussian Naive Bayes as relational sufficient statistics
(SURVEY §2.3 A7).

Reference: sklearn ``GaussianNB.partial_fit`` called per micro-batch
(``models/wos_train_nb.py:49,55,78``). GaussianNB's per-class, per-dimension
state is (count, mean, variance) — exactly a distributed aggregation:

    groupBy(label) -> count, sum(x), sum(x^2)  element-wise over the array

The count/sum/sum-of-squares merge is associative and order-independent, so
the result is EXACT regardless of partitioning — a textbook
map-side-combinable agg (SURVEY §4.3).

Plan-compile budget (the round-3 lesson): the previous shape unrolled
``2*dim+1`` aggregate columns for fit and ``dim``-term arithmetic per class
for predict; at dim=64 x 10 classes Catalyst analysis+codegen of those
expression trees cost ~4 s on a 2,000-row table. Both paths are now
ARRAY-NATIVE with O(1) expression size in ``dim``:

- fit: ``pyspark.ml.stat.Summarizer`` (a single TypedImperativeAggregate —
  one shuffle, map-side combine, vectorized JVM buffers) yields per-class
  count / element-wise sum / element-wise L2 norm, from which
  mean = s1/n and var = s2/n - mean^2 exactly as before.
- predict: per class, the log-posterior is ONE ``aggregate`` fold over a
  ``zip_with`` of the features with the class's (mean, -1/2v) ARRAY
  LITERALS — constant node count per class regardless of dim.

Fit state lives in a small DataFrame (n_classes x dim); predict folds it
into the plan as literals, so scoring is a ZERO-shuffle narrow map. A
broadcast-join form remains for degenerate n_classes x dim where even
literal arrays outgrow Catalyst. Either way, all JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import local_table

STATS_SCHEMA = T.StructType(
    [
        T.StructField("label", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("means", T.ArrayType(T.DoubleType())),
        T.StructField("vars", T.ArrayType(T.DoubleType())),
    ]
)

# Above this n_classes*dim the narrow predict's literal arrays (~2*dim plain
# Literal nodes per class) start to cost real Catalyst time; the broadcast
# form plans in O(1) and only pays a rows x classes argmax re-aggregation.
_NARROW_PREDICT_MAX_CELLS = 16384


def nb_fit(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Fit: DataFrame[label, cnt, means: array<double>, vars: array<double>].

    features is array<numeric> of a consistent per-table width (a schema
    contract everywhere this engine runs). One ``groupBy(label)`` over
    ``Summarizer.metrics("count", "sum", "normL2")`` — a single shuffle
    whose map-side partial state is n_classes x dim doubles per partition,
    with O(1) expression-tree size in ``dim``. mean = s1/n,
    var = s2/n - mean^2 (population variance, matching sklearn's internal
    update; s2 = normL2^2). ``dim`` is accepted for API compatibility and
    ignored — the vector summarizer derives width from the data.
    Summation ORDER differs across partitionings (floating sums are
    partition-order-dependent in any distributed agg); every consumer
    compares at the prediction/rounded level, which this satisfies."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    fv = df.select(
        F.col(label_col).alias("label"),
        array_to_vector(
            F.col(features_col).cast("array<double>")
        ).alias("__fv"),
    )
    summ = fv.groupBy("label").agg(
        Summarizer.metrics("count", "sum", "normL2")
        .summary(F.col("__fv"))
        .alias("__s")
    )
    n = F.col("cnt").cast("double")
    return summ.select(
        "label",
        F.col("__s.count").alias("cnt"),
        vector_to_array(F.col("__s.sum")).alias("__s1"),
        vector_to_array(F.col("__s.normL2")).alias("__l2"),
    ).select(
        "label",
        "cnt",
        F.transform("__s1", lambda s1: s1 / n).alias("means"),
        F.zip_with(
            "__l2",
            "__s1",
            lambda l2, s1: (l2 * l2) / n - (s1 / n) * (s1 / n),
        ).alias("vars"),
    )


def nb_merge(stats_a: DataFrame, stats_b: DataFrame) -> DataFrame:
    """Merge two fitted stats tables (the partial_fit across micro-batches):
    exact count/mean/M2 combine, order-independent."""
    a = stats_a.select(
        "label",
        F.col("cnt").alias("cnt_a"),
        F.col("means").alias("m_a"),
        F.col("vars").alias("v_a"),
    )
    b = stats_b.select(
        "label",
        F.col("cnt").alias("cnt_b"),
        F.col("means").alias("m_b"),
        F.col("vars").alias("v_b"),
    )
    joined = a.join(b, "label", "full")
    # null-safe: a side may be missing a class
    cnt_a = F.coalesce(F.col("cnt_a"), F.lit(0))
    cnt_b = F.coalesce(F.col("cnt_b"), F.lit(0))
    n = cnt_a + cnt_b
    m_a = F.coalesce(F.col("m_a"), F.col("m_b"))
    m_b2 = F.coalesce(F.col("m_b"), F.col("m_a"))
    v_a = F.coalesce(F.col("v_a"), F.col("v_b"))
    v_b2 = F.coalesce(F.col("v_b"), F.col("v_a"))
    mean = F.zip_with(m_a, m_b2, lambda x, y: (cnt_a * x + cnt_b * y) / n)
    # combined M2: M2 = M2a + M2b + delta^2 * na*nb/n  (per dimension)
    var = F.zip_with(
        F.zip_with(v_a, v_b2, lambda va, vb: cnt_a * va + cnt_b * vb),
        F.zip_with(m_a, m_b2, lambda x, y: (x - y) * (x - y)),
        lambda m2s, d2: (m2s + d2 * cnt_a * cnt_b / n) / n,
    )
    return joined.select(
        "label", n.alias("cnt"), mean.alias("means"), var.alias("vars")
    )


def nb_collect_stats(stats: DataFrame) -> list:
    """Materialize a fit-stats plan driver-side (n_classes x dim — always
    tiny). Callers scoring several frames against ONE fit should collect
    once and pass the rows to each ``nb_predict``; otherwise every predict
    re-runs the whole fit aggregation (and whatever lineage feeds it)."""
    return stats.collect()


def nb_predict(
    df: DataFrame,
    stats,
    features_col: str = "features",
    var_smoothing: float = 1e-9,
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Predict: ZERO-shuffle narrow map. The stats table is driver-small by
    construction (n_classes x dim), so every class's log-posterior

        log P(y) + sum_d [ -0.5 log(2 pi var_yd) - (x_d - mu_yd)^2 / (2 var_yd) ]

    rides the plan as one ``aggregate``-fold HOF per class over a
    ``zip_with`` of the features with the class's means / -1/(2*var) ARRAY
    LITERALS — constant expression size in ``dim`` (the round-3 unrolled
    form paid ~4 s of Catalyst analysis at dim=64 x 10 classes). The
    dim-independent constant terms (log prior + sum of -0.5 log(2 pi v))
    fold into one scalar literal per class. Argmax is ``greatest`` over
    (log_post, -label) structs — lexicographic, so ties pick the LOWEST
    label (sklearn argmax-first). No crossJoin with the class table, no
    groupBy re-aggregation: at 100 TB the broadcast shape shuffles
    rows x classes; this one shuffles NOTHING.

    sklearn adds var_smoothing = eps * max(var) to every variance;
    replicated here so fit/predict matches sklearn exactly on the same data.

    ``stats`` is either the fit-stats DataFrame or a pre-collected row list
    from :func:`nb_collect_stats`. Consumers compare at the prediction /
    rounded level (summation-order ulps differ across forms, exactly as
    they do between any two partitionings)."""
    rows = stats.collect() if isinstance(stats, DataFrame) else list(stats)
    if not rows:
        raise ValueError("nb_predict: empty stats — fit saw no data")
    total = sum(r["cnt"] for r in rows)
    per_class_max = [max(r["vars"]) for r in rows if r["vars"]]
    max_var = max(per_class_max) if per_class_max else None
    eps = var_smoothing * float(max_var if max_var is not None else 1.0)

    dim = len(rows[0]["means"])
    if len(rows) * dim > _NARROW_PREDICT_MAX_CELLS:
        return _nb_predict_bcast(
            df, rows, total, eps, dim, features_col, id_cols
        )
    # The whole argmax rides the plan as ONE parsed SQL expression: building
    # it Column-by-Column costs a py4j roundtrip per array element (~1 s of
    # driver time at 10 classes x dim 64), while one F.expr parse of the
    # same tree is ~0.2 s and the resulting plan is identical.
    x_sql = f"CAST(`{features_col}` AS array<double>)"
    parts = []
    for r in sorted(rows, key=lambda r: r["label"]):
        smoothed = [float(v) + eps for v in r["vars"]]
        # lp = c0 + sum_d (x_d - mu_d)^2 * (-1/(2 v_d)); the (x - mu) form
        # keeps the same cancellation behavior as the golden/sklearn math
        c0 = math.log(r["cnt"] / float(total)) + sum(
            -0.5 * math.log(2.0 * math.pi * v) for v in smoothed
        )
        m_arr = "array(%s)" % ",".join(_dlit(m) for m in r["means"])
        w_arr = "array(%s)" % ",".join(_dlit(-0.5 / v) for v in smoothed)
        lp = (
            f"({_dlit(c0)} + aggregate("
            f"zip_with(zip_with({x_sql}, {m_arr}, (xi, mi) -> xi - mi), "
            f"{w_arr}, (di, wi) -> di*di*wi), "
            f"0.0D, (acc, t) -> acc + t))"
        )
        parts.append(
            "named_struct('lp', %s, 'neg', %d)" % (lp, -int(r["label"]))
        )
    best = F.expr(
        "greatest(%s)" % ",".join(parts) if len(parts) > 1 else parts[0]
    )
    return df.select(
        *id_cols,
        (-best["neg"]).cast("int").alias("pred"),
        best["lp"].alias("max_log_post"),
    )


def _dlit(v: float) -> str:
    """A Spark-SQL DOUBLE literal: scientific-notation reprs already parse
    as double; plain decimals need the D suffix to dodge DECIMAL typing.
    Non-finite values (degenerate stats: a feature column that is inf/NaN
    makes a fitted mean/var non-finite) must use the CAST form — 'infD'
    is not valid SQL and would fail at plan build."""
    f = float(v)
    if not math.isfinite(f):
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        return "CAST('%sInfinity' AS DOUBLE)" % ("-" if f < 0 else "")
    r = repr(f)
    return r if ("e" in r or "E" in r) else r + "D"


def _nb_predict_bcast(
    df: DataFrame,
    rows: list,
    total,
    eps: float,
    dim: int,
    features_col: str,
    id_cols: tuple[str, ...],
) -> DataFrame:
    """Broadcast-join predict for degenerate n_classes x dim: rows x classes
    scored via one ``aggregate``-fold HOF over the (tiny, broadcast) class
    table's array columns — O(1) expression size — argmax re-aggregated per
    row. One shuffle of rows x classes key/struct pairs — the price of a
    plannable expression when even literal arrays would exceed Catalyst's
    comfort."""
    stats_local = local_table(df.sparkSession, rows, STATS_SCHEMA)
    st = F.broadcast(
        stats_local.select(
            F.col("label").alias("nb_label"),
            (F.log(F.col("cnt") / F.lit(float(total)))).alias("log_prior"),
            "means",
            F.transform("vars", lambda v: v + F.lit(eps)).alias("vars_s"),
        )
    )
    x = F.col(features_col).cast("array<double>")
    log_lik = F.aggregate(
        F.zip_with(
            F.zip_with(x, F.col("means"), lambda xi, mi: xi - mi),
            F.col("vars_s"),
            lambda di, vi: -0.5 * F.log(2.0 * math.pi * vi)
            - di * di / (2.0 * vi),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = df.crossJoin(st).withColumn(
        "log_post", F.col("log_prior") + log_lik
    )
    keys = [F.col(c) for c in id_cols]
    best = F.max(
        F.struct(
            F.col("log_post").alias("lp"), (-F.col("nb_label")).alias("neg")
        )
    ).alias("best")
    return scored.groupBy(*keys).agg(best).select(
        *id_cols,
        (-F.col("best.neg")).cast("int").alias("pred"),
        F.col("best.lp").alias("max_log_post"),
    )
