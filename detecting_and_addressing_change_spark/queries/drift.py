"""Drift-pipeline queries: the reference's ML surface re-expressed
relationally (NB fit/predict A7, classification metrics A4, DDM T1, noise
gate T4 / σ-schedule J5).

The NB and metrics queries have FULL duckdb oracles — the entire Gaussian
Naive Bayes fit+predict and the sklearn-style macro metrics are expressible
in portable SQL, which is exactly the point of the sufficient-statistics
formulation (SURVEY §2.3 A7: exact, order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..sources.tables import load_table
from .fragments import (
    _NB_EMBEDDINGS_CTES,
    _NB_PIPELINE_CTES,
    _ddm_scan_cte,
)
from .registry import query


# --------------------------------------------------------------------------
# Q25 — DDM drift detection over the events error stream (T1).
# The recurrence is sequential-with-resets, but every step is plain IEEE
# double arithmetic (one divide, one sqrt), so a DuckDB recursive CTE that
# advances exactly one row per iteration reproduces the Python kernel
# BIT-EXACTLY (verified against operators/ddm.py::ddm_scan). Per-batch
# error = k/32 is an exact dyadic rational, so no rounding is needed at the
# output boundary. Flag transitions (N/W/D + reset) are exercised by golden
# tests (tests/test_ddm.py); the oracle pins the full running-state math on
# real data.
# --------------------------------------------------------------------------
def ddm_scan_oracle(seq_body: str) -> str:
    """DuckDB recursive-CTE DDM scan over any ``(bucket, error)`` series —
    the pluggable form of the q25 oracle, reused by the corpus-quality
    drift monitor (x51). ``seq_body`` must select ``bucket`` and
    ``error`` columns."""
    return f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY bucket) AS rn, bucket AS seq_id, error
  FROM (
{seq_body}
  )
),
{_ddm_scan_cte(True)}SELECT seq_id, error, flag FROM scan WHERE rn >= 1
"""


# The events table as a per-batch error series, 32 events a batch: the
# DDM (q25), Page-Hinkley (x57) and streamed-detector (x100) input.
_EVENTS_ERROR_SQL = """
    SELECT CAST(FLOOR(event_id / 32) AS BIGINT) AS bucket,
           AVG(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) AS error
    FROM events
    GROUP BY bucket
"""


def _events_error_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:data:`_EVENTS_ERROR_SQL` in Spark, as (detector_id, seq_id,
    error) detector input."""
    from ..operators.windows import count_window_agg

    ev = load_table(spark, sf_dir, "events")
    return count_window_agg(
        ev,
        seq_col="event_id",
        batch_size=32,
        aggs=[
            F.avg((F.col("event_type") == "error").cast("int")).alias("error")
        ],
    ).select(
        F.lit("events").alias("detector_id"),
        F.col("bucket").cast("long").alias("seq_id"),
        "error",
    )


_DDM_ORACLE = ddm_scan_oracle(_EVENTS_ERROR_SQL)


@query("q25_ddm_drift_flags", oracle=_DDM_ORACLE)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ddm import detect_drift

    return detect_drift(_events_error_series(spark, sf_dir)).select(
        "seq_id", "error", "flag"
    )


# --------------------------------------------------------------------------
# Q28 — Gaussian NB fit + predict on the embeddings table (A7), with a full
# SQL oracle: per-class/per-dim count-mean-var sufficient statistics, then
# argmax of Gaussian log-likelihood + log prior.
# --------------------------------------------------------------------------
@query(
    "q28_nb_fit_predict",
    oracle=_NB_EMBEDDINGS_CTES + """    best AS (
      SELECT vec_id, cls,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY lp DESC, cls) AS r
      FROM post
    )
    SELECT vec_id, CAST(cls AS INT) AS pred FROM best WHERE r = 1
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.nb import nb_fit, nb_predict

    emb = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the embeddings-table contract (same constant q52 pins);
    # known dim => single-shuffle unrolled fit, no posexplode
    stats = nb_fit(emb, features_col="embedding", label_col="label", dim=64)
    preds = nb_predict(
        emb, stats, features_col="embedding", id_cols=("vec_id",)
    )
    return preds.select("vec_id", "pred")


# --------------------------------------------------------------------------
# Q29 — classification metrics (A4): accuracy + macro precision/recall/F1
# with sklearn zero_division=0 semantics over the fixed class universe.
# Predictions are a deterministic corruption of the labels so the metric
# math (not a model) is what's exercised.
# --------------------------------------------------------------------------
@query(
    "q29_classification_metrics",
    oracle="""
    WITH ncls AS (SELECT MAX(label) + 1 AS n FROM embeddings),
    e AS (
      SELECT label,
             CASE WHEN vec_id % 5 = 0
                  THEN (label + 1) % (SELECT n FROM ncls)
                  ELSE label END AS pred
      FROM embeddings
    ),
    classes AS (
      SELECT UNNEST(GENERATE_SERIES(0, (SELECT n - 1 FROM ncls))) AS cls
    ),
    cm AS (SELECT label, pred, COUNT(*) AS cnt FROM e GROUP BY label, pred),
    sup AS (SELECT label AS cls, SUM(cnt) AS s FROM cm GROUP BY label),
    prd AS (SELECT pred AS cls, SUM(cnt) AS p FROM cm GROUP BY pred),
    tp AS (SELECT label AS cls, cnt AS tp FROM cm WHERE label = pred),
    pc AS (
      SELECT c.cls,
             CASE WHEN COALESCE(p.p, 0) > 0
                  THEN COALESCE(t.tp, 0) / p.p ELSE 0 END AS prec,
             CASE WHEN COALESCE(s.s, 0) > 0
                  THEN COALESCE(t.tp, 0) / s.s ELSE 0 END AS rec
      FROM classes c
      LEFT JOIN tp t ON c.cls = t.cls
      LEFT JOIN sup s ON c.cls = s.cls
      LEFT JOIN prd p ON c.cls = p.cls
    ),
    pc2 AS (
      SELECT prec, rec,
             CASE WHEN prec + rec > 0
                  THEN 2 * prec * rec / (prec + rec) ELSE 0 END AS f1
      FROM pc
    )
    SELECT
      FLOOR(((SELECT SUM(CASE WHEN label = pred THEN 1 ELSE 0 END)::DOUBLE
                    / COUNT(*) FROM e)) * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
      FLOOR((AVG(prec)) * 1000000.0 + 0.5) / 1000000.0 AS precision,
      FLOOR((AVG(rec)) * 1000000.0 + 0.5) / 1000000.0 AS recall,
      FLOOR((AVG(f1)) * 1000000.0 + 0.5) / 1000000.0 AS macro_f1
    FROM pc2
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.metrics import classification_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    # class count rides the plan as a broadcast singleton — no driver-side
    # collect job (VERDICT r2 #10); the metrics universe is derived in-plan
    nc = emb.agg((F.max("label") + 1).alias("__nc"))
    scored = emb.crossJoin(F.broadcast(nc)).select(
        "label",
        F.when(
            F.col("vec_id") % 5 == 0,
            (F.col("label") + 1) % F.col("__nc"),
        )
        .otherwise(F.col("label"))
        .alias("pred"),
    )
    m = classification_metrics(scored)
    return m.select(
        portable_round(F.col("accuracy"), 6).alias("accuracy"),
        portable_round(F.col("precision"), 6).alias("precision"),
        portable_round(F.col("recall"), 6).alias("recall"),
        portable_round(F.col("macro_f1"), 6).alias("macro_f1"),
    )


# --------------------------------------------------------------------------
# Q39 — full abrupt-drift experiment E2E (SURVEY §3.2): documents -> hash
# embedder (space A/B) -> mean pool -> NB train on A -> score A then B
# through ONE detector with continuous seq_id -> windowed accuracy + flags.
# FULL oracle: every stage is portable — the hash embedder is pure integer
# polyhash + libm sin (bit-identical both engines), mean pooling is an
# ordered fold reproduced with LIST(.. ORDER BY pos) + list_reduce, NB is
# the q28 sufficient-statistics SQL, and DDM is the q25 recursive CTE.
# seq is MATERIALIZED so the recursion doesn't re-run the pipeline per
# iteration. Semantics additionally pinned by tests/test_pipeline.py on
# separable synthetic classes.
# --------------------------------------------------------------------------
_Q39_ORACLE = _NB_PIPELINE_CTES + """correct AS (
  SELECT CASE WHEN p.model = 'BERT' THEN p.doc_id
              ELSE p.doc_id + (SELECT n FROM n_docs) END AS seq_id,
         CASE WHEN p.model = 'BERT' THEN 'trained' ELSE 'untrained' END AS stream,
         CASE WHEN p.pred = dc.label THEN 1 ELSE 0 END AS c
  FROM preds p JOIN docs dc ON p.doc_id = dc.doc_id
),
buckets AS (
  SELECT CAST(FLOOR(seq_id / 32) AS BIGINT) AS seq_id,
         AVG(c::DOUBLE) AS accuracy, MAX(stream) AS stream
  FROM correct GROUP BY 1
),
seq AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY seq_id) AS rn, seq_id,
         1.0 - accuracy AS error, accuracy, stream
  FROM buckets
),
""" + _ddm_scan_cte(False) + """SELECT sq.seq_id, sq.stream,
       FLOOR(sq.accuracy * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
       sc.flag
FROM seq sq JOIN scan sc ON sq.seq_id = sc.seq_id
"""


def _labeled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` as (doc_id, text, label), the label being the
    document's language dense-coded IN-PLAN: the tiny distinct-lang set
    is ranked and broadcast-joined back — the coding sorted(collect())
    would give, with no driver-side job."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lang_codes = (
        docs.select("lang")
        .distinct()
        .withColumn(
            "label",
            (F.dense_rank().over(Window.orderBy("lang")) - 1).cast("int"),
        )
    )
    return docs.join(F.broadcast(lang_codes), "lang").select(
        "doc_id", "text", "label"
    )


@query("q39_abrupt_drift_experiment", oracle=_Q39_ORACLE)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines import abrupt_drift_experiment

    return abrupt_drift_experiment(
        _labeled_documents(spark, sf_dir), batch_size=32
    )


# --------------------------------------------------------------------------
# Q30 — σ-schedule generation + warm-start gate (J5 + T4): the gradual-drift
# noise schedule (drift_experiments_supervised.py:200-204 in reference) as a
# generated dim table joined to count-window buckets.
# --------------------------------------------------------------------------
@query(
    "q30_sigma_schedule_gate",
    oracle="""
    WITH buckets AS (
      SELECT CAST(FLOOR(event_id / 32) AS INT) AS bucket, COUNT(*) AS cnt
      FROM events GROUP BY bucket
    ),
    sched AS (
      SELECT UNNEST(GENERATE_SERIES(0,
               (SELECT MAX(bucket) FROM buckets))) AS bucket
    ),
    sigma AS (
      SELECT bucket,
             CASE WHEN bucket < 30 THEN 0.0
                  ELSE LEAST((bucket - 30) * (2.0 / 150), 2.0) END AS sigma
      FROM sched
    )
    SELECT b.bucket, FLOOR((s.sigma) * 1000000.0 + 0.5) / 1000000.0 AS sigma, b.cnt
    FROM buckets b JOIN sigma s ON b.bucket = s.bucket
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import count_window_agg
    from ..streaming.schedule import sigma_schedule_for

    ev = load_table(spark, sf_dir, "events")
    buckets = count_window_agg(
        ev, seq_col="event_id", batch_size=32,
        aggs=[F.count("*").alias("cnt")],
    )
    # schedule sized in-plan from the buckets' own max — no driver collect
    sched = sigma_schedule_for(
        buckets, warm_start=30, max_std=2.0, steps=150
    )
    return (
        buckets.join(F.broadcast(sched), "bucket")
        .select("bucket", portable_round(F.col("sigma"), 6).alias("sigma"), "cnt")
    )


# --------------------------------------------------------------------------
# X57 — Page-Hinkley drift flags (second detector of the T1 family).
# Same bit-exact recursive-CTE strategy as the DDM oracle: every kernel
# step is IEEE double arithmetic in a fixed order, replayed one row per
# iteration.
# --------------------------------------------------------------------------
def ph_scan_oracle(
    seq_body: str,
    delta: float = 0.005,
    threshold: float = 1.0,
    min_instances: int = 30,
) -> str:
    """DuckDB recursive-CTE Page-Hinkley scan over any ``(bucket, error)``
    series — mirrors operators.ph.PageHinkleyState.add_element exactly."""
    return f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY bucket) AS rn, bucket AS seq_id, error
  FROM (
{seq_body}
  )
),
scan AS (
  SELECT 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS seq_id,
         CAST(NULL AS DOUBLE) AS error, CAST(NULL AS VARCHAR) AS flag,
         0::BIGINT AS t, 0.0::DOUBLE AS mean, 0.0::DOUBLE AS m,
         'infinity'::DOUBLE AS mmin
  UNION ALL
  SELECT rn, seq_id, error,
         CASE WHEN drift THEN 'D' ELSE 'N' END AS flag,
         CASE WHEN drift THEN 0 ELSE t1 END AS t,
         CASE WHEN drift THEN 0.0 ELSE mean1 END AS mean,
         CASE WHEN drift THEN 0.0 ELSE m1 END AS m,
         CASE WHEN drift THEN 'infinity'::DOUBLE ELSE mmin1 END AS mmin
  FROM (
    SELECT rn, seq_id, error, t1, mean1, m1, mmin1,
           (t1 >= {min_instances} AND m1 - mmin1 > {threshold}) AS drift
    FROM (
      SELECT rn, seq_id, error, t1, mean1, m1,
             LEAST(mmin0, m1) AS mmin1
      FROM (
        SELECT scan.rn + 1 AS rn, seq.seq_id, seq.error,
               scan.t + 1 AS t1,
               scan.mean + (seq.error - scan.mean) / (scan.t + 1) AS mean1,
               scan.m + (seq.error
                         - (scan.mean + (seq.error - scan.mean)
                            / (scan.t + 1))
                         - {delta}) AS m1,
               scan.mmin AS mmin0
        FROM scan JOIN seq ON seq.rn = scan.rn + 1
      )
    )
  )
)
SELECT seq_id, error, flag FROM scan WHERE rn >= 1
"""


@query(
    "x57_page_hinkley",
    oracle=ph_scan_oracle(_EVENTS_ERROR_SQL),
)
def x57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley flags over the same per-batch error series q25 feeds
    DDM — the two detectors are drop-in alternatives (identical
    input/output schema), so an experiment can swap detection strategies
    without touching the pipeline. Same scale posture as DDM: the
    sequential scan is confined to one detector key's (tiny) bucket
    series; fleets of detectors parallelize across keys."""
    from ..operators.ph import detect_drift_ph

    return detect_drift_ph(_events_error_series(spark, sf_dir)).select(
        "seq_id", "error", "flag"
    )


def ph_scan_oracle_keyed(
    seq_body: str,
    delta: float = 0.005,
    threshold: float = 1.0,
    min_instances: int = 30,
) -> str:
    """Keyed variant of :func:`ph_scan_oracle`: one independent
    Page-Hinkley scan per ``detector`` over a ``(detector, bucket,
    error)`` series — the recursion carries the detector key, so a whole
    detector FLEET replays in one recursive CTE (all series advance in
    lockstep by per-detector row number)."""
    return f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT detector,
         ROW_NUMBER() OVER (PARTITION BY detector ORDER BY bucket) AS rn,
         bucket AS seq_id, error
  FROM (
{seq_body}
  )
),
scan AS (
  SELECT detector, 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS seq_id,
         CAST(NULL AS DOUBLE) AS error, CAST(NULL AS VARCHAR) AS flag,
         0::BIGINT AS t, 0.0::DOUBLE AS mean, 0.0::DOUBLE AS m,
         'infinity'::DOUBLE AS mmin
  FROM (SELECT DISTINCT detector FROM seq)
  UNION ALL
  SELECT detector, rn, seq_id, error,
         CASE WHEN drift THEN 'D' ELSE 'N' END AS flag,
         CASE WHEN drift THEN 0 ELSE t1 END AS t,
         CASE WHEN drift THEN 0.0 ELSE mean1 END AS mean,
         CASE WHEN drift THEN 0.0 ELSE m1 END AS m,
         CASE WHEN drift THEN 'infinity'::DOUBLE ELSE mmin1 END AS mmin
  FROM (
    SELECT detector, rn, seq_id, error, t1, mean1, m1, mmin1,
           (t1 >= {min_instances} AND m1 - mmin1 > {threshold}) AS drift
    FROM (
      SELECT detector, rn, seq_id, error, t1, mean1, m1,
             LEAST(mmin0, m1) AS mmin1
      FROM (
        SELECT scan.detector, scan.rn + 1 AS rn, seq.seq_id, seq.error,
               scan.t + 1 AS t1,
               scan.mean + (seq.error - scan.mean) / (scan.t + 1) AS mean1,
               scan.m + (seq.error
                         - (scan.mean + (seq.error - scan.mean)
                            / (scan.t + 1))
                         - {delta}) AS m1,
               scan.mmin AS mmin0
        FROM scan
        JOIN seq ON seq.rn = scan.rn + 1
                AND seq.detector = scan.detector
      )
    )
  )
)
SELECT detector, seq_id, error, flag FROM scan WHERE rn >= 1
"""
