"""End-to-end drift-experiment pipelines (SURVEY §3.2 entry point B).

The reference's abrupt-drift experiment
(``drift_detection/drift_experiments_supervised.py:29-133``): train a
classifier on embedding space A, stream space-A data through it, then —
through the SAME detector instance — stream space-B data (the embedding
swap IS the drift); the detector should fire near the seam (J6 stream
concatenation with carried state, SURVEY §8 Q8).

Spark-first realization: both streams are DataFrames; the 'shared detector
across the seam' is a union with a CONTINUOUS seq_id feeding one DDM key;
the classifier is the exact-sufficient-statistics Gaussian NB (A7); windowed
accuracy is the count-bucket agg (A3). Everything except the tiny driver-side
detector state is distributed.

Every experiment is the same chain: :func:`_spaces` (embed and persist the
spaces), :func:`_fit` (NB on space A), :func:`_windowed` (per-batch share of
correct predictions) and :func:`_flagged` (DDM over ``1 - share``).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.rounding import portable_round
from .operators.ddm import ddm_scan
from .operators.nb import nb_collect_stats, nb_fit, nb_predict
from .operators.windows import count_window_agg
from .sources.tables import local_table


def _round6(x: float) -> float:
    """Driver-side twin of ``portable_round(col, 6)`` — same pure double
    arithmetic (floor(x * 1e6 + 0.5) / 1e6), bit-identical to the Spark
    expression and the DuckDB oracle."""
    return math.floor(float(x) * 1e6 + 0.5) / 1e6


def pooled_features_models(
    docs: DataFrame, models: tuple[str, ...], dim: int, id_col: str = "doc_id"
) -> DataFrame:
    """text -> token embeddings (U7) -> mean pooling (R9) for several
    embedding spaces in ONE pass: union of model-tagged copies through one
    fused embed+pool mapInPandas
    (operators.embedder.pooled_embed_documents_tagged) — bit-identical to
    mean_pool_col over embed_documents but transfers dim doubles per row
    instead of the ragged token matrix.
    DataFrame[model, doc_id, features] — callers persist this and filter per
    model, so the corpus is scanned and embedded once instead of once per
    model."""
    from .operators.embedder import pooled_embed_documents_tagged

    tagged = None
    # dedupe: a repeated model (the A==B control experiment) must not union
    # a second copy of every row — filter(model == m) would then return
    # duplicated frames and double every downstream count
    for m in dict.fromkeys(models):
        d = docs.select(
            F.lit(m).alias("model"), F.col(id_col), F.col("text")
        )
        tagged = d if tagged is None else tagged.unionByName(d)
    return pooled_embed_documents_tagged(tagged, dim=dim, id_col=id_col)


@contextmanager
def _spaces(docs: DataFrame, models: tuple[str, ...], dim: int, id_col: str):
    """Yields one DataFrame[doc_id, features] per model, unpersisted on exit.

    Embedding is the dominant cost (SURVEY §4.3) and each feature table is
    read by both fit and predict — every space materializes in ONE cached
    job. The experiments return driver-built results detached from this
    lineage, so the cache is released deterministically instead of leaking
    cached RDDs across calls in a long-lived session."""
    pooled = pooled_features_models(docs, models, dim, id_col).persist()
    try:
        yield [pooled.filter(F.col("model") == m).drop("model") for m in models]
    finally:
        pooled.unpersist()


def _fit(feats: DataFrame, labels: DataFrame, id_col: str, dim: int) -> list:
    """NB fit on ``feats`` joined to ``labels``, collected ONCE: the stats
    table is tiny (n_classes x dim) and every later predict broadcasts it."""
    return nb_collect_stats(
        nb_fit(
            feats.join(labels, id_col), features_col="features",
            label_col="label", dim=dim,
        )
    )


def _windowed(
    preds: DataFrame,
    truth: DataFrame,
    id_col: str,
    seq_col: str,
    batch_size: int,
    share: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """DataFrame[seq_id, *carry, share]: per count window of ``batch_size``
    on ``seq_col``, the share of ``preds.pred`` equal to ``truth.label``
    (joined on ``id_col``). ``carry`` columns are constant within a batch
    and ride along through ``max``."""
    scored = preds.join(truth, id_col).select(
        F.col(seq_col).alias("seq_id"),
        *carry,
        (F.col("pred") == F.col("label")).cast("int").alias("correct"),
    )
    return count_window_agg(
        scored,
        seq_col="seq_id",
        batch_size=batch_size,
        aggs=[F.avg("correct").alias(share)]
        + [F.max(c).alias(c) for c in carry],
    ).select(F.col("bucket").cast("long").alias("seq_id"), *carry, share)


def _flagged(per_batch: DataFrame, share: str) -> DataFrame:
    """``per_batch`` plus a DDM ``flag`` over ``1 - share`` in seq_id order,
    every double rounded like ``portable_round(col, 6)``.

    The per-batch series is driver-small (n_docs / batch_size rows) and DDM
    over ONE detector is inherently sequential — collect it once and finish
    driver-side: one job total, where a distributed detect_drift + flag join
    would cost three more 32-task stages on 150 rows."""
    rows = sorted(per_batch.collect(), key=lambda r: r["seq_id"])
    flags = ddm_scan([1.0 - float(r[share]) for r in rows])
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in per_batch.schema
    )
    return local_table(
        per_batch.sparkSession,
        [
            tuple(_round6(v) if isinstance(v, float) else v for v in r) + (f,)
            for r, f in zip(rows, flags)
        ],
        ddl + ", flag string",
    )


def abrupt_drift_experiment(
    docs: DataFrame,
    label_col: str = "label",
    model_a: str = "BERT",
    model_b: str = "SCIBERT",
    dim: int = 8,
    batch_size: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Returns DataFrame[seq_id, stream, accuracy, flag]: per-batch
    accuracy series of [space-A stream ++ space-B stream] through one DDM.

    Mirrors drift_experiments_supervised.py:29-133: model trained on A;
    prediction-correctness streams for A then B; per-print_every windowed
    accuracy; 1-accuracy into the shared detector."""
    labels = docs.select(id_col, F.col(label_col).alias("label"))
    with _spaces(docs, (model_a, model_b), dim, id_col) as (feats_a, feats_b):
        # both score() calls broadcast the collected stats, and sum(cnt)
        # doubles as n_docs (train covers every doc) — two fewer jobs than
        # collecting inside each predict plus a separate count()
        stats = _fit(feats_a, labels, id_col, dim)
        n_docs = sum(r["cnt"] for r in stats)

        # ONE predict pass over the tagged union (continuous seq_id across
        # the seam) instead of one per stream: per-row scoring is
        # independent, so the union changes nothing numerically but halves
        # the predict stages
        both = feats_a.select(
            id_col,
            "features",
            F.lit("trained").alias("stream"),
            F.col(id_col).alias("seq_id"),
        ).unionByName(
            feats_b.select(
                id_col,
                "features",
                F.lit("untrained").alias("stream"),
                (F.col(id_col) + F.lit(n_docs)).alias("seq_id"),
            )
        )
        preds = nb_predict(
            both, stats, features_col="features",
            id_cols=(id_col, "stream", "seq_id"),
        )
        return _flagged(
            _windowed(
                preds, labels, id_col, "seq_id", batch_size, "accuracy",
                carry=("stream",),
            ),
            "accuracy",
        )


def mapping_experiment(
    docs: DataFrame,
    label_col: str = "label",
    model_a: str = "BERT",
    model_b: str = "SCIBERT",
    dim: int = 8,
    batch_size: int = 32,
    top_k: int = 200,
    id_col: str = "doc_id",
):
    """SURVEY §3.3 entry point C: Procrustes adaptation.

    Build the word-level pair set (A1/A2/U7x2/J2), solve the orthogonal map
    space-B -> space-A (U6), then score the B stream twice: raw and mapped
    through the solved matrix (R6). Returns (result_df, mse_before,
    mse_after): result rows are per-batch accuracies for the raw and mapped
    B streams; the MSEs are on the pair set (the reference's own logged
    check, adaptation/mapping.py:107-121)."""
    from .operators.procrustes import (
        apply_mapping,
        mapping_mse,
        procrustes_solve,
    )
    from .sources.pair_cache import build_adaptation_pairs

    labels = docs.select(id_col, F.col(label_col).alias("label"))
    with _spaces(docs, (model_a, model_b), dim, id_col) as (feats_a, feats_b):
        stats = _fit(feats_a, labels, id_col, dim)

        # pair set: source = space B, target = space A (we adapt B into A)
        pairs = build_adaptation_pairs(
            docs, source_model=model_b, target_model=model_a, dim=dim,
            top_k=top_k,
        ).persist()
        try:
            m = procrustes_solve(pairs)
            mse_before = mapping_mse(pairs)
            mapped_pairs = apply_mapping(
                pairs, m, vec_col="source", out_col="mapped"
            )
            mse_after = mapping_mse(
                mapped_pairs.select("word", "mapped", "target"),
                "mapped", "target",
            )

            feats_b_mapped = apply_mapping(
                feats_b, m, vec_col="features", out_col="mapped"
            ).select(id_col, F.col("mapped").alias("features"))

            def accuracy_series(feats: DataFrame, tag: str) -> DataFrame:
                preds = nb_predict(
                    feats, stats, features_col="features", id_cols=(id_col,)
                )
                return _windowed(
                    preds, labels, id_col, id_col, batch_size, "accuracy"
                ).select(
                    "seq_id",
                    F.lit(tag).alias("stream"),
                    portable_round(F.col("accuracy"), 6).alias("accuracy"),
                )

            series = accuracy_series(feats_b, "untrained_raw").unionByName(
                accuracy_series(feats_b_mapped, "untrained_mapped")
            )
            # the series is n_docs / batch_size rows per stream: collected
            # into a driver-built table, detached from the cached lineage
            result = local_table(
                series.sparkSession, series.collect(), series.schema
            )
            return result, mse_before, mse_after
        finally:
            pairs.unpersist()


def unsupervised_drift_experiment(
    docs: DataFrame,
    model_a: str = "BERT",
    model_b: str = "SCIBERT",
    dim: int = 8,
    batch_size: int = 32,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """SURVEY §0 item 7 / §2.4 J3: unsupervised drift detection — the
    trained model's OWN predictions on the space-A stream become
    pseudo-labels; the space-B stream's predictions are scored against them
    (join on doc_id, the reference's positional batch alignment,
    run_stream_unsupervised.py:53-55,82-84). No true labels are consulted
    after training."""
    labels = docs.select(id_col, F.col(label_col).alias("label"))
    with _spaces(docs, (model_a, model_b), dim, id_col) as (feats_a, feats_b):
        stats = _fit(feats_a, labels, id_col, dim)
        pseudo = nb_predict(
            feats_a, stats, features_col="features", id_cols=(id_col,)
        ).select(id_col, F.col("pred").alias("label"))
        preds_b = nb_predict(
            feats_b, stats, features_col="features", id_cols=(id_col,)
        )
        return _flagged(
            _windowed(
                preds_b, pseudo, id_col, id_col, batch_size, "agreement"
            ),
            "agreement",
        )


def gradual_drift_experiment(
    docs: DataFrame,
    label_col: str = "label",
    model: str = "BERT",
    dim: int = 8,
    batch_size: int = 32,
    warm_start: int = 30,
    max_std: float = 2.0,
    steps: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The reference's SECOND drift simulation (SURVEY §0 item 6b,
    drift_detection_gradual_noise, drift_experiments_supervised.py:136-204):
    one stream, one trained model, Gaussian noise with a linearly RAMPING
    sigma schedule injected after ``warm_start`` batches — accuracy decays
    gradually and DDM fires somewhere on the ramp, not at a seam.

    Spark-first: sigma is a generated dim table broadcast-joined on the
    count-window bucket (J5 + T4), and the noise is the engine-portable
    hash Box-Muller (the q33 construction) unrolled per dimension — the
    whole experiment is deterministic, no torch.randn non-reproducibility.
    Returns DataFrame[seq_id, sigma, accuracy, flag]."""
    from .streaming.schedule import sigma_schedule

    labels = docs.select(id_col, F.col(label_col).alias("label"))
    with _spaces(docs, (model,), dim, id_col) as (feats,):
        stats = _fit(feats, labels, id_col, dim)

        bucketed = feats.withColumn(
            "bucket", F.floor(F.col(id_col) / batch_size).cast("int")
        )
        # size the schedule from the data's ACTUAL bucket span — one
        # two-scalar agg over the already-persisted feature table (cheap)
        # — not from sum(cnt) with a 0-contiguous-ids assumption: an
        # offset or gapped id space (a curated subset) would make a
        # count-derived schedule too short and the inner schedule join
        # would silently drop every uncovered bucket. The schedule is
        # generated over the RELATIVE bucket index and shifted to the
        # stream's first bucket, so warm-up counts from where the stream
        # actually starts (for 0-based ids this is bit-identical to the
        # absolute schedule).
        b0, b1 = bucketed.agg(
            F.min("bucket"), F.max("bucket")
        ).collect()[0]
        b0, b1 = int(b0 or 0), int(b1 or 0)
        sched = sigma_schedule(
            feats.sparkSession, b1 - b0 + 1, warm_start=warm_start,
            max_std=max_std, steps=steps,
        ).select(
            (F.col("bucket") + F.lit(b0)).cast("int").alias("bucket"),
            "sigma",
        )
        with_sigma = bucketed.join(F.broadcast(sched), "bucket")

        # portable Box-Muller per (doc, dim) — q33's exact construction
        def noise(d: int):
            key = F.col(id_col) * 1000 + F.lit(d)
            u1 = (
                (key * 1103515245 + 12345) % F.lit(2147483648) + 1.0
            ) / 2147483649.0
            u2 = ((key * 69069 + 1) % F.lit(2147483648)) / 2147483648.0
            return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * math.pi * u2)

        noisy = with_sigma.select(
            id_col,
            "bucket",
            "sigma",
            F.array(
                *[
                    F.element_at(F.col("features"), d + 1).cast("double")
                    + F.col("sigma") * noise(d)
                    for d in range(dim)
                ]
            ).alias("features"),
        )
        # sigma rides along through predict and the window agg (it is
        # constant within a bucket by construction — the schedule is joined
        # ON the bucket), so no re-join with the schedule is needed
        preds = nb_predict(
            noisy, stats, features_col="features", id_cols=(id_col, "sigma")
        )
        return _flagged(
            _windowed(
                preds, labels, id_col, id_col, batch_size, "accuracy",
                carry=("sigma",),
            ),
            "accuracy",
        )
