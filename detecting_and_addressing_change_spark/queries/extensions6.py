"""Round-3 extension queries: PCA projection (U9).

PCA's eigendecomposition is not expressible in portable SQL, so
x42_pca_project carries a GENERATED literal oracle: an independent numpy
implementation (tools/gen_golden_oracles.py — same centered-scatter + SVD +
sign-normalization semantics pinned by tests/test_pca.py) computes the
expected sf0.01 output and serializes it as a DuckDB VALUES table, turning
the driver's rows-only check into a full hash compare at its documented
sf=0.01 scale. q61_mapping_experiment gets the same treatment at the bottom
of this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..sources.tables import load_table
from ._golden_oracles import Q61_MAPPING_ORACLE, X42_PCA_ORACLE
from .fragments import (
    _NB_DOCS_CTES,
    _NB_TWO_MODEL_BARE,
    _NB_WORDS_CTES,
    _ddm_scan_cte,
)
from .registry import query


@query("x42_pca_project", oracle=X42_PCA_ORACLE)
def x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 (reference adaptation/mapping.py:67-76): project the embeddings
    table onto its top-2 principal axes — centered + sign-normalized, the
    sklearn semantics the reference's visualization uses."""
    from ..operators.pca import pca_fit_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_fit_project(emb, vec_col="embedding", k=2, out_col="pc")
    return out.select(
        "vec_id",
        portable_round(F.element_at("pc", 1), 4).alias("pc1"),
        portable_round(F.element_at("pc", 2), 4).alias("pc2"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# x43 — audio frame sampling over REAL WAV bytes: per-doc PCM-16 files
# (samples (doc_id*31 + i*17) % 1000 - 500, the x14 generator) -> decode ->
# hop-strided frames -> per-frame RMS/peak. The oracle recomputes each
# frame's RMS in closed form: frame length 16 is a power of two so AVG is
# exact, and IEEE sqrt is correctly rounded in both engines — the compare
# is bit-exact, pinning header parsing, sample endianness, AND the frame
# stride arithmetic.
# --------------------------------------------------------------------------
@query(
    "x43_audio_frames",
    oracle="""
    WITH aud AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
    frames AS (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS frame_id),
    samp AS (
      SELECT a.doc_id, f.frame_id, i,
             CAST((a.doc_id * 31 + i * 17) % 1000 - 500 AS DOUBLE) AS s
      FROM aud a, frames f,
           UNNEST(GENERATE_SERIES(0, 15)) AS t(j),
           LATERAL (SELECT f.frame_id * 8 + j AS i)
    )
    SELECT doc_id AS media_id, CAST(frame_id AS INT) AS frame_id,
           frame_id * 1000.0 AS start_us,
           16 AS n_samples,
           FLOOR(SQRT(AVG(s * s)) * 10000.0 + 0.5) / 10000.0 AS rms,
           MAX(ABS(s)) AS peak
    FROM samp GROUP BY doc_id, frame_id
    """,
)
def x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..multimodal.binary_ops import (
        MEDIA_SCHEMA,
        encode_wav_pcm16,
        sample_audio_frames,
    )
    from ..sources.tables import spread_small_input

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    )

    def encode(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                s = (
                    (np.arange(32, dtype=np.int64) * 17 + doc_id * 31) % 1000
                ) - 500
                rows.append(
                    (
                        doc_id,
                        "audio",
                        "wav",
                        encode_wav_pcm16(8000, s.astype(np.int16)),
                        None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "fmt", "data", "meta"]
            )

    media = spread_small_input(docs.select("doc_id")).mapInPandas(
        encode, MEDIA_SCHEMA
    )
    frames = sample_audio_frames(media, frame_len=16, hop=8)
    return frames.select(
        "media_id",
        "frame_id",
        # 8 samples hop at 8000 Hz = exactly 1 ms; expose microseconds so
        # the oracle column is integral-valued doubles on both engines
        (F.col("start_ms") * 1000.0).alias("start_us"),
        "n_samples",
        portable_round(F.col("rms"), 4).alias("rms"),
        "peak",
    )


# --------------------------------------------------------------------------
# x44 — image resize over REAL PPM bytes: encode 4x4 (pixels
# (doc_id*7 + p*13) % 256), nearest-neighbor resize to 2x2 through the real
# decode->remap->re-encode path, then feature-extract the RESIZED file. The
# oracle selects exactly the 12 bytes nearest-neighbor keeps
# (y,x in {0,2}, c in 0..2 => p = (y*4+x)*3 + c) and averages them — a
# wrong stride, header, or index map changes the mean and fails the hash.
# --------------------------------------------------------------------------
@query(
    "x44_image_resize",
    oracle="""
    WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    px AS (
      SELECT i.doc_id, ((y * 4 + x) * 3 + c) AS p
      FROM img i,
           UNNEST([0, 2]) AS ty(y),
           UNNEST([0, 2]) AS tx(x),
           UNNEST(GENERATE_SERIES(0, 2)) AS tc(c)
    )
    SELECT doc_id AS media_id, 2 AS width, 2 AS height,
           FLOOR(AVG((doc_id * 7 + p * 13) % 256) * 10000.0 + 0.5)
             / 10000.0 AS mean_px
    FROM px GROUP BY doc_id
    """,
)
def x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..multimodal.binary_ops import (
        MEDIA_SCHEMA,
        encode_ppm,
        extract_features,
        resize_images,
    )
    from ..sources.tables import spread_small_input

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )

    def encode(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                px = (np.arange(48, dtype=np.int64) * 13 + doc_id * 7) % 256
                rows.append(
                    (
                        doc_id,
                        "image",
                        "ppm",
                        encode_ppm(px.astype(np.uint8).reshape(4, 4, 3)),
                        None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "fmt", "data", "meta"]
            )

    media = spread_small_input(docs.select("doc_id")).mapInPandas(
        encode, MEDIA_SCHEMA
    )
    resized = resize_images(media, out_w=2, out_h=2)
    feats = extract_features(resized, dim=8, decoder="real")
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        portable_round(F.element_at("feature", 3), 4).alias("mean_px"),
    )


# --------------------------------------------------------------------------
# x45 — IVF multi-probe ANN: same deterministic coarse quantizer as x15,
# but each query probes its TOP-2 nearest cells (the standard recall knob;
# candidate volume grows linearly in nprobe, never quadratically). The
# oracle reuses x15's exact fixed-point assignment with the query-side
# rank widened to r <= 2.
# --------------------------------------------------------------------------
@query(
    "x45_similarity_ivf_multiprobe",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ex AS (
      SELECT vec_id, UNNEST(emb) AS v, GENERATE_SUBSCRIPTS(emb, 1) - 1 AS d
      FROM e
    ),
    exq AS (
      SELECT vec_id, d, v, CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT) AS qv
      FROM ex
    ),
    cent AS (SELECT vec_id AS cent_id, d, qv FROM exq WHERE vec_id < 8),
    cdot AS (
      SELECT x.vec_id, c.cent_id, SUM(c.qv * x.qv) AS dotq
      FROM exq x JOIN cent c ON x.d = c.d
      GROUP BY x.vec_id, c.cent_id
    ),
    cellrank AS (
      SELECT vec_id, cent_id AS cell,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY dotq DESC, cent_id) AS r
      FROM cdot
    ),
    assign AS (SELECT vec_id, cell FROM cellrank WHERE r = 1),
    q AS (
      SELECT vec_id AS query_id, cell FROM cellrank
      WHERE r <= 2 AND vec_id BETWEEN 100 AND 109
    ),
    cand AS (
      SELECT q.query_id, a.vec_id AS cand_id
      FROM q JOIN assign a ON q.cell = a.cell AND a.vec_id <> q.query_id
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots2 AS (
      SELECT cand.query_id, cand.cand_id, SUM(a.v * b.v) AS dot
      FROM cand
      JOIN ex a ON a.vec_id = cand.query_id
      JOIN ex b ON b.vec_id = cand.cand_id AND a.d = b.d
      GROUP BY cand.query_id, cand.cand_id
    ),
    scored AS (
      SELECT query_id, cand_id, dot / (nq.nrm * nc.nrm) AS cos_raw
      FROM dots2
      JOIN norms nq ON query_id = nq.vec_id
      JOIN norms nc ON cand_id = nc.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id,
           FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def x45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        (F.col("vec_id") >= 100) & (F.col("vec_id") <= 109),
        n_centroids=8,
        k=3,
        nprobe=2,
    )


# --------------------------------------------------------------------------
# q59 — the reference's SECOND drift simulation, E2E with a FULL oracle
# (gradual noise ramp, drift_experiments_supervised.py:136-204): embed ->
# pool -> NB fit on clean features -> noise with a linear sigma schedule
# (J5 broadcast + T4 gate) -> predict -> count-window accuracy -> DDM.
# The oracle reuses q39's machinery (hash embeddings, ordered-fold pooling,
# NB sufficient stats, recursive-CTE DDM) with the abrupt union swapped
# for q33's portable Box-Muller noise scaled by the schedule.
# --------------------------------------------------------------------------
_Q59_ORACLE = _NB_DOCS_CTES + _NB_WORDS_CTES + """word_pre AS (
  SELECT w.word,
         list_reduce(
             [7::BIGINT] || list_transform(
               string_split_regex('BERT:' || w.word || ':', ''),
               c -> ord(c)::BIGINT),
             (a, b) -> (a * 31 + b) % 2147483647) AS hpre
  FROM words w
),
word_emb AS (
  SELECT wp.word, dm.d,
         CAST(sin((wp.hpre * 31 + 48 + dm.d) % 2147483647) * 2 - 1
              AS REAL) AS v32
  FROM word_pre wp CROSS JOIN dims dm
),
pooled AS (
  SELECT dw.doc_id, we.d,
         list_reduce([0.0::DOUBLE] || LIST(we.v32::DOUBLE ORDER BY dw.pos),
                     (a, b) -> a + b) / COUNT(*) AS v
  FROM doc_words_t dw JOIN word_emb we ON dw.word = we.word
  GROUP BY dw.doc_id, we.d
),
stats AS (
  SELECT dc.label, p.d, COUNT(*) AS n, SUM(p.v)/COUNT(*) AS mean,
         SUM(p.v*p.v)/COUNT(*) - (SUM(p.v)/COUNT(*))*(SUM(p.v)/COUNT(*)) AS var
  FROM pooled p JOIN docs dc ON p.doc_id = dc.doc_id
  GROUP BY dc.label, p.d
),
mv AS (SELECT MAX(var) AS maxvar FROM stats),
priors AS (SELECT label, COUNT(*) AS cnt FROM docs GROUP BY label),
total AS (SELECT COUNT(*) AS n_total FROM docs),
sched AS (
  SELECT p.doc_id, p.d,
         CAST(FLOOR(p.doc_id / 8) AS BIGINT) AS bucket,
         CASE WHEN FLOOR(p.doc_id / 8) < 30 THEN 0.0
              ELSE LEAST((FLOOR(p.doc_id / 8) - 30) * (2.0 / 20.0), 2.0)
              END AS sigma,
         p.v
  FROM pooled p
),
noisy AS (
  SELECT doc_id, d, bucket, sigma,
         v + sigma *
           (SQRT(-2.0 * LN((((doc_id * 1000 + d) * 1103515245 + 12345)
                % 2147483648 + 1.0) / 2147483649.0))
            * COS(2.0 * PI() * ((((doc_id * 1000 + d) * 69069 + 1)
                % 2147483648) / 2147483648.0))) AS v
  FROM sched
),
scored AS (
  SELECT p.doc_id, s.label AS cls,
         SUM(-0.5*LN(2*PI()*(s.var + 1e-9*mv.maxvar))
             - (p.v - s.mean)*(p.v - s.mean)
               / (2*(s.var + 1e-9*mv.maxvar))) AS ll
  FROM noisy p JOIN stats s ON p.d = s.d
  CROSS JOIN mv
  GROUP BY p.doc_id, s.label
),
post AS (
  SELECT sc.doc_id, sc.cls,
         sc.ll + LN(pr.cnt::DOUBLE / t.n_total) AS lp
  FROM scored sc JOIN priors pr ON sc.cls = pr.label CROSS JOIN total t
),
best AS (
  SELECT doc_id, cls,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lp DESC, cls) AS r
  FROM post
),
preds AS (SELECT doc_id, cls AS pred FROM best WHERE r = 1),
correct AS (
  SELECT p.doc_id, CASE WHEN p.pred = dc.label THEN 1 ELSE 0 END AS c
  FROM preds p JOIN docs dc ON p.doc_id = dc.doc_id
),
buckets AS (
  SELECT CAST(FLOOR(doc_id / 8) AS BIGINT) AS seq_id,
         AVG(c::DOUBLE) AS accuracy
  FROM correct GROUP BY 1
),
seq AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY seq_id) AS rn, seq_id,
         1.0 - accuracy AS error, accuracy,
         CASE WHEN seq_id < 30 THEN 0.0
              ELSE LEAST((seq_id - 30) * (2.0 / 20.0), 2.0) END AS sigma
  FROM buckets
),
""" + _ddm_scan_cte(False) + """SELECT sq.seq_id,
       FLOOR(sq.sigma * 1000000.0 + 0.5) / 1000000.0 AS sigma,
       FLOOR(sq.accuracy * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
       sc.flag
FROM seq sq JOIN scan sc ON sq.seq_id = sc.seq_id
"""


@query("q59_gradual_drift_experiment", oracle=_Q59_ORACLE)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines import gradual_drift_experiment
    from .drift import _labeled_documents

    labeled = _labeled_documents(spark, sf_dir)
    return gradual_drift_experiment(
        labeled, batch_size=8, warm_start=30, max_std=2.0, steps=20
    )


# --------------------------------------------------------------------------
# q60 — the reference's THIRD experiment shape, E2E with a FULL oracle:
# UNSUPERVISED drift detection via pseudo-labels (SURVEY §0 item 7,
# run_stream_unsupervised.py:53-55,82-84). The trained model's OWN
# predictions on the space-A stream become pseudo-labels; the space-B
# stream's predictions are scored against them (J3 alignment on doc_id);
# DDM watches 1 - agreement. No true labels are consulted after training.
# The oracle is q39's two-model machinery with the union seam replaced by
# per-doc prediction agreement.
# --------------------------------------------------------------------------
_Q60_ORACLE = _NB_DOCS_CTES + _NB_WORDS_CTES + _NB_TWO_MODEL_BARE + """agree AS (
  SELECT a.doc_id,
         CASE WHEN b.pred = a.pred THEN 1 ELSE 0 END AS c
  FROM preds a JOIN preds b ON a.doc_id = b.doc_id
  WHERE a.model = 'BERT' AND b.model = 'SCIBERT'
),
buckets AS (
  SELECT CAST(FLOOR(doc_id / 8) AS BIGINT) AS seq_id,
         AVG(c::DOUBLE) AS agreement
  FROM agree GROUP BY 1
),
seq AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY seq_id) AS rn, seq_id,
         1.0 - agreement AS error, agreement
  FROM buckets
),
""" + _ddm_scan_cte(False) + """SELECT sq.seq_id,
       FLOOR(sq.agreement * 1000000.0 + 0.5) / 1000000.0 AS agreement,
       sc.flag
FROM seq sq JOIN scan sc ON sq.seq_id = sc.seq_id
"""


@query("q60_unsupervised_drift_experiment", oracle=_Q60_ORACLE)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines import unsupervised_drift_experiment
    from .drift import _labeled_documents

    return unsupervised_drift_experiment(
        _labeled_documents(spark, sf_dir), batch_size=8
    )


@query("q61_mapping_experiment", oracle=Q61_MAPPING_ORACLE)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 entry point C (adaptation/mapping_experiments.py:25): build the
    word-level adaptation pair set (A1/A2 top-k + dual embed + J2), solve
    the orthogonal Procrustes map B→A by SVD (U6), then score the B stream
    raw AND mapped through the solved matrix (R6). The SVD has no portable
    SQL form, so the oracle is a GENERATED literal (independent numpy
    pipeline, tools/gen_golden_oracles.py, valid at the driver's sf=0.01);
    further signals: tests/test_procrustes.py (golden + MSE-improves
    properties) and tests/test_adaptation_pipelines.py (pair-set MSE drops
    after mapping, mapped accuracy recovers). Output: per-batch accuracy
    series for the raw and mapped untrained streams."""
    from ..pipelines import mapping_experiment
    from .drift import _labeled_documents

    labeled = _labeled_documents(spark, sf_dir)
    result, _mse_before, _mse_after = mapping_experiment(
        labeled, batch_size=8, top_k=100
    )
    return result.orderBy("stream", "seq_id")
