"""Round-11 extension queries: driver attestation for the LSTM half of
the U8 fine-tune session (x108 — the last pytest-only half of a
reference experiment shape), the RAG retrieval path end-to-end
(x109 — chunk -> embed -> persisted IVF index -> text-query search,
until now pytest-only composition), and the event-time watermark
semantics (x110 — late-data drop/accept + append-mode withholding) and
the bounded-state streaming dedup with its at-least-once residue
(x111) — together closing the built-in stateful-streaming surface the
x98-x104 processing-order replays did not cover.

All follow the oracle-hygiene rule (VERDICT r10 #8): x109/x110/x111's
row values carry NO pinned numbers — every output column is recomputed
from scratch by the SQL oracle (x109: chunking, dedup keeper, hash
embedding, the k-means quantizer fit, probe-cell selection and cosine
ranking, all replayed in DuckDB; x110/x111: the full late-drop /
dedup-horizon emission arithmetic) — their booleans and x108's
verdicts are raise-guarded in-query beside SQL-recomputed
fingerprints, with NO new generated literal (x108's Adam train steps
are the genuinely non-SQL-expressible part; the x106 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from ..sources.tables import read_parquet_cached_schema


# --------------------------------------------------------------------------
# X108 — LSTM fine-tune session (U8's LSTM half; VERDICT r10 #2).
# Reference: adaptation/fine_tuning.py:10-97 fine-tunes the LSTM
# classifier (torch optimizer, one step per batch) on the first
# no_batches batches of the drifted stream, then continues evaluation —
# the gradient sibling of x103's exact-merge NB session (x103's measured
# finding: NB sufficient-stats merging DILUTES under representation
# drift, which is exactly why the reference's fine_tune is LSTM-only;
# x108 attests the half that genuinely recovers).
#
# The session runs the REAL loop classes (streaming/prequential.py
# PrequentialLSTM + fine_tune: per-batch Spark collect -> test with
# current weights -> one Adam step), on streams derived from driver
# data: the 32 lowest documents are replicated into deterministic
# marker-separable token sequences (the test_fine_tune_lstm_adapts
# recipe, made RNG-free so the oracle can fingerprint the construction):
# label y = seq_id % 2, the +3.0 marker sits on dimension y in the
# pre-drift stream and on dimension 1-y in the drifted stream (label-
# marker inversion — the hardest drift: the model must unlearn), and the
# noise term is sin() of a phase that folds in each base document's text
# length, so the inputs are data-bound, Spark-computed, and identical on
# every run. Pre-train 12 batches of 32, fine-tune on the drifted
# stream's first 24 batches (convergence for the inversion drift takes
# ~16 one-step batches; 24 gives verdict margin), hold out its last 8
# batches (256 docs).
#
# Verdicts (each raise-guarded in-query, then pinned TRUE — a training
# regression fails loudly at generation time, ADVICE r9 rule):
#  - pretrain_competent: mean accuracy of the last 3 pre-train batches
#    > 0.8 (the loop learned the original distribution);
#  - drift_degrades: the held-out drifted docs scored with the
#    PRE-session weights fall below 0.6 accuracy (the inversion bites);
#  - fine_tune_recovers: post-session held-out accuracy > 0.75 AND
#    strictly more correct than the stale weights;
#  - heldout_dual_path_equal: the distributed scoring (lstm_predict,
#    Arrow-batched mapInPandas) and a driver-side forward_one replay
#    agree on the per-batch correct counts AND on the rounded held-out
#    accuracy-series fingerprint (floor(acc * 1e6) summed) — the
#    plumbing the 100 TB path relies on is the thing being attested.
# The non-boolean outputs are SQL-exact fingerprints of the session
# construction (batch counts, held-out size and seq-id sum, and the
# SUM(LENGTH(text)) of the 32 base documents that seeds the phases).
#
# Scale shape: the session loop is bounded by construction (the
# reference fine-tunes on a constant number of batches, not a corpus
# fraction), per-batch jobs touch 32 rows of a localCheckpointed
# 1.4k-row frame, and held-out inference is the distributed mapInPandas
# path — at 100 TB only the held-out scoring grows, and it is a narrow
# single-pass scan.
# --------------------------------------------------------------------------
_X108_DIM = 4
_X108_BATCH = 32
_X108_BASE_DOCS = 32
_X108_PRETRAIN_BATCHES = 12
_X108_FT_BATCHES = 24
_X108_HELD_BATCHES = 8

_X108_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, COALESCE(text, '') AS text
      FROM documents ORDER BY doc_id LIMIT {_X108_BASE_DOCS}
    )
    SELECT CAST({_X108_PRETRAIN_BATCHES} AS BIGINT) AS n_pretrain_batches,
           CAST({_X108_FT_BATCHES} AS BIGINT) AS n_finetune_batches,
           CAST((SELECT COUNT(*) FROM base) * {_X108_HELD_BATCHES} AS BIGINT)
             AS n_held,
           CAST((SELECT SUM(i) FROM generate_series(
                   {_X108_FT_BATCHES * _X108_BATCH},
                   {(_X108_FT_BATCHES + _X108_HELD_BATCHES) * _X108_BATCH - 1}
                 ) AS t(i)) AS BIGINT) AS sum_held_seq_id,
           CAST((SELECT SUM(LENGTH(text)) FROM base) AS BIGINT)
             AS sum_base_len,
           TRUE AS pretrain_competent,
           TRUE AS drift_degrades,
           TRUE AS fine_tune_recovers,
           TRUE AS heldout_dual_path_equal
"""


def _x108_stream(base: DataFrame, n_rows: int, inverted: bool) -> DataFrame:
    """Deterministic labeled token sequences from the 32 base docs:
    seq_id = replica * 32 + base_rank, label = seq_id % 2, 2-4 timesteps
    of dim-4 vectors = 0.1 * sin(len-seeded phase) + 3.0 on the marker
    dimension (label y pre-drift, 1 - y after the inversion drift)."""
    replicas = n_rows // _X108_BASE_DOCS
    seq_id = (F.col("__r") * _X108_BASE_DOCS + F.col("__b")).cast("long")
    rows = base.select(
        "__b",
        "__len",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("__r"),
    ).select(seq_id.alias("seq_id"), "__len")
    y = (F.col("seq_id") % 2).cast("int")
    marker = (F.lit(1) - y) if inverted else y
    seq_len = (F.lit(2) + F.col("seq_id") % 3).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), seq_len - 1),
        lambda t: F.transform(
            F.sequence(F.lit(0), F.lit(_X108_DIM - 1)),
            lambda j: (
                F.lit(0.1)
                * F.sin(
                    F.col("__len").cast("double")
                    + F.col("seq_id").cast("double") * 12.9898
                    + t.cast("double") * 78.233
                    + j.cast("double") * 37.719
                )
                + F.when(j == marker, F.lit(3.0)).otherwise(F.lit(0.0))
            ),
        ),
    )
    return rows.select(
        "seq_id",
        tokens.cast("array<array<double>>").alias("tokens"),
        y.alias("label"),
    )


@query("x108_lstm_finetune_session", oracle=_X108_ORACLE)
def x108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The U8 LSTM fine-tune session end-to-end on driver-derived
    streams: pre-train to competence, hit label-marker-inversion drift,
    fine-tune through the real one-Adam-step-per-batch loop, verdict
    recovery on held-out drifted docs — dual-scored distributed vs
    driver-side."""
    import copy as _copy
    import math as _math

    import numpy as _np
    from pyspark.sql import Window

    from ..operators.lstm import lstm_predict
    from ..streaming.prequential import PrequentialLSTM, fine_tune

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    base = (
        docs.orderBy("doc_id")
        .limit(_X108_BASE_DOCS)
        .select(
            "doc_id",
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias("__len"),
        )
        .withColumn("__b", (F.row_number().over(w) - 1).cast("long"))
        .localCheckpoint(eager=True)
    )
    sum_base_len = int(
        base.agg(F.sum("__len").alias("s")).collect()[0]["s"]
    )

    df_a = _x108_stream(
        base, _X108_PRETRAIN_BATCHES * _X108_BATCH, inverted=False
    ).localCheckpoint(eager=True)
    df_b = _x108_stream(
        base,
        (_X108_FT_BATCHES + _X108_HELD_BATCHES) * _X108_BATCH,
        inverted=True,
    ).localCheckpoint(eager=True)

    loop = PrequentialLSTM(
        n_classes=2,
        hidden=8,
        lr=5e-2,
        seed=3,
        tokens_col="tokens",
        label_col="label",
        id_col="seq_id",
    )
    fine_tune(
        loop,
        df_a,
        n_batches=_X108_PRETRAIN_BATCHES,
        batch_size=_X108_BATCH,
        seq_col="seq_id",
    )
    pretrain_tail = [a for _, a, _ in loop.results()[-3:]]
    pre_weights = _copy.deepcopy(loop.weights)

    fine_tune(
        loop,
        df_b,
        n_batches=_X108_FT_BATCHES,
        batch_size=_X108_BATCH,
        seq_col="seq_id",
    )

    held = df_b.filter(
        F.col("seq_id") >= _X108_FT_BATCHES * _X108_BATCH
    ).localCheckpoint(eager=True)

    def dist_correct_by_batch(weights) -> dict[int, int]:
        preds = lstm_predict(
            held, weights, tokens_col="tokens", id_col="seq_id"
        ).select(F.col("doc_id").alias("seq_id"), "pred")
        rows = (
            preds.join(held.select("seq_id", "label"), "seq_id")
            .groupBy(
                F.floor(F.col("seq_id") / _X108_BATCH).cast("long").alias(
                    "bucket"
                )
            )
            .agg(
                F.sum(
                    (F.col("pred") == F.col("label")).cast("long")
                ).alias("c")
            )
            .collect()
        )
        return {int(r["bucket"]): int(r["c"]) for r in rows}

    stale_by_batch = dist_correct_by_batch(pre_weights)
    ft_by_batch = dist_correct_by_batch(loop.weights)

    # driver-side replay of the post-session scoring (the dual path)
    held_rows = (
        held.select("seq_id", "tokens", "label").orderBy("seq_id").collect()
    )
    drv_by_batch: dict[int, int] = {}
    for r in held_rows:
        toks = _np.array([list(t) for t in r["tokens"]], dtype=_np.float64)
        ok = int(loop.weights.forward_one(toks).argmax()) == int(r["label"])
        b = int(r["seq_id"]) // _X108_BATCH
        drv_by_batch[b] = drv_by_batch.get(b, 0) + int(ok)

    n_held = len(held_rows)
    sum_held_seq_id = sum(int(r["seq_id"]) for r in held_rows)
    stale_correct = sum(stale_by_batch.values())
    ft_correct = sum(ft_by_batch.values())

    def series_fp(by_batch: dict[int, int]) -> int:
        return sum(
            int(_math.floor(by_batch.get(b, 0) / _X108_BATCH * 1e6))
            for b in sorted(by_batch)
        )

    dual_equal = ft_by_batch == drv_by_batch and series_fp(
        ft_by_batch
    ) == series_fp(drv_by_batch)

    # preconditions, asserted loudly (ADVICE r9 rule): every verdict
    # below is oracle-pinned TRUE, so a training/scoring regression must
    # fail HERE at generation time instead of flipping a pinned verdict
    pretrain_acc = sum(pretrain_tail) / len(pretrain_tail)
    if not pretrain_acc > 0.8:
        raise AssertionError(
            f"x108 training regression: pre-train tail accuracy "
            f"{pretrain_acc:.3f} <= 0.8"
        )
    if not stale_correct < 0.6 * n_held:
        raise AssertionError(
            f"x108 drift construction regression: stale weights score "
            f"{stale_correct}/{n_held} on inverted markers (>= 0.6)"
        )
    if not (ft_correct > 0.75 * n_held and ft_correct > stale_correct):
        raise AssertionError(
            f"x108 recovery regression: fine-tuned {ft_correct}/{n_held} "
            f"vs stale {stale_correct}"
        )
    if not dual_equal:
        raise AssertionError(
            f"x108 dual-path mismatch: distributed {ft_by_batch} vs "
            f"driver {drv_by_batch}"
        )

    return spark.range(1).select(
        F.lit(_X108_PRETRAIN_BATCHES).cast("long").alias(
            "n_pretrain_batches"
        ),
        F.lit(_X108_FT_BATCHES).cast("long").alias("n_finetune_batches"),
        F.lit(n_held).cast("long").alias("n_held"),
        F.lit(sum_held_seq_id).cast("long").alias("sum_held_seq_id"),
        F.lit(sum_base_len).cast("long").alias("sum_base_len"),
        F.lit(True).alias("pretrain_competent"),
        F.lit(True).alias("drift_degrades"),
        F.lit(True).alias("fine_tune_recovers"),
        F.lit(True).alias("heldout_dual_path_equal"),
    )


# --------------------------------------------------------------------------
# X109 — RAG retrieval path E2E (VERDICT r10 #3): retrieval.py's
# chunk -> embed -> persisted IVF index -> text-query search composition
# (the flagship consumer of x63 chunking + the x92-family hash embedder
# + the x94 index lifecycle), until now pytest-only. The query builds
# the index over the documents table's doc_id % 4 == 0 shard (shared
# per-session fixture, x94 pattern; sharding the corpus is the natural
# multi-index posture — r12 shrank the shard from the even half to a
# quarter per VERDICT r11 #3: the oracle replays the whole k-means fit
# in SQL, so corpus size is the sweep-cost lever on both engines),
# runs 5 text queries (the texts of the 5 LOWEST-chunk_id
# deduped chunks — data-derived, so the oracle re-derives them and
# chunk dedup can never orphan a hardcoded doc), and returns the
# search-result
# fingerprints. NOTHING is pinned: the oracle replays the ENTIRE path
# from scratch in SQL — sliding-window chunking (the x63 text) with the
# min-chunk_id exact-dedup keeper (build_text_index's x66 hygiene rule:
# duplicate chunk texts would otherwise make the top-k cutoff among
# cosine-tied byte-identical vectors depend on last-ulp summation order
# — a real cross-engine flake caught at sf0.001), the polyhash-31 word
# embedding + ordered-fold mean pooling (the q39/x103 text), the
# quantized Lloyd's k-means fit seeded on the 8 smallest surviving
# chunk ids (_kmeans_ctes with seed_by_rank, mirroring kmeans_fit's
# dense-rank seeding for composite chunk ids), nprobe=2 probe-cell
# selection, candidate generation and exact-cosine top-3 ranking — and
# recomputes n_results / result_id_sum / cos_sum_q / n_chunks exactly.
#
# Scale shape: inherited from the operators — chunking is a narrow
# map + explode, embedding one Arrow-batched pass, the index build one
# partitioned write, and each search reads only the probed cell
# partitions (plan-pinned in tests/test_ivf_index.py); the only
# driver-side data is 5 query texts and the k-row centroid table.
# --------------------------------------------------------------------------
_X109_N_QUERIES = 5
_X109_K = 3
_X109_NPROBE = 2
_X109_CENTROIDS = 8
_X109_ITER = 3
_X109_CHUNK = 16
_X109_STRIDE = 12
_X109_ID_BASE = 1 << 20
_X109_SHARD_MOD = 4  # index the doc_id % 4 == 0 corpus shard

_RAG_INDEX_FIXTURE: dict = {}


def _rag_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the session's retrieval index over the documents
    table (the x94/x95 shared-fixture pattern: content is deterministic,
    whichever caller runs first builds)."""
    from ..retrieval import build_text_index
    from .extensions10 import _scratch_index_dir

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _RAG_INDEX_FIXTURE.get(key)
    if hit is not None:
        return hit
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _X109_SHARD_MOD == 0
    )
    path = _scratch_index_dir(spark, "rag_x109_")
    build_text_index(
        docs,
        path,
        dim=8,
        model="BERT",
        size=_X109_CHUNK,
        stride=_X109_STRIDE,
        n_centroids=_X109_CENTROIDS,
    )
    _RAG_INDEX_FIXTURE[key] = path
    return path


def _x109_oracle() -> str:
    from .extensions8 import _kmeans_ctes

    size, stride = _X109_CHUNK, _X109_STRIDE
    kmeans = _kmeans_ctes(
        _X109_CENTROIDS,
        _X109_ITER,
        exq_src="SELECT vec_id, d, v FROM pooled",
        seed_by_rank=True,
    )
    return f"""
    WITH chunks0 AS (
      SELECT doc_id, j,
             doc_id * {_X109_ID_BASE} + j AS vec_id,
             array_to_string(
               list_slice(ws, j * {stride} + 1,
                          LEAST(j * {stride} + {size}, n)), ' ')
               AS chunk_text
      FROM (
        SELECT doc_id, n,
               UNNEST(range(0,
                 1 + CASE WHEN n > {size}
                          THEN CAST(CEIL((n - {size}) / {stride}.0) AS BIGINT)
                          ELSE 0 END)) AS j,
               ws
        FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                     LEN(string_split(text, ' ')) AS n
              FROM documents WHERE doc_id % {_X109_SHARD_MOD} = 0)
      )
    ),
    chunks AS (
      SELECT doc_id, j, vec_id, chunk_text FROM (
        SELECT c.*, MIN(vec_id) OVER (PARTITION BY md5(chunk_text))
                 AS __keeper
        FROM chunks0 c
      ) WHERE vec_id = __keeper
    ),
    cwords AS (
      SELECT vec_id, UNNEST(string_split(chunk_text, ' ')) AS word,
             GENERATE_SUBSCRIPTS(string_split(chunk_text, ' '), 1) AS pos
      FROM chunks
    ),
    words AS (SELECT DISTINCT word FROM cwords),
    dims AS (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS d),
    word_pre AS (
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
      SELECT cw.vec_id, we.d,
             list_reduce([0.0::DOUBLE] || LIST(we.v32::DOUBLE ORDER BY cw.pos),
                         (a, b) -> a + b) / COUNT(*) AS v
      FROM cwords cw JOIN word_emb we ON cw.word = we.word
      GROUP BY cw.vec_id, we.d
    ),
    {kmeans},
    qids AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
               AS query_id,
             vec_id AS qvec_id
      FROM chunks ORDER BY vec_id LIMIT {_X109_N_QUERIES}
    ),
    q AS (
      SELECT qi.query_id, dd.cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS r
        FROM dF WHERE vec_id IN (SELECT qvec_id FROM qids)) dd
      JOIN qids qi ON dd.vec_id = qi.qvec_id
      WHERE dd.r <= {_X109_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, a.vec_id AS cand_id
      FROM q JOIN aF a ON q.cell = a.cell
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM pooled GROUP BY vec_id
    ),
    dots AS (
      SELECT cand.query_id, cand.cand_id, qi.qvec_id, SUM(a.v * b.v) AS dot
      FROM cand
      JOIN qids qi ON qi.query_id = cand.query_id
      JOIN pooled a ON a.vec_id = qi.qvec_id
      JOIN pooled b ON b.vec_id = cand.cand_id AND a.d = b.d
      GROUP BY cand.query_id, cand.cand_id, qi.qvec_id
    ),
    scored AS (
      SELECT query_id, cand_id, dot / (nq.nrm * nc.nrm) AS cos_raw
      FROM dots
      JOIN norms nq ON qvec_id = nq.vec_id
      JOIN norms nc ON cand_id = nc.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rnk
      FROM scored
    ),
    top AS (
      SELECT query_id, cand_id,
             FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      FROM ranked WHERE rnk <= {_X109_K}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_results,
           CAST(COALESCE(SUM(query_id + cand_id), 0) AS BIGINT)
             AS result_id_sum,
           CAST(COALESCE(SUM(CAST(FLOOR(cosine * 10000.0 + 0.5) AS BIGINT)),
                         0) AS BIGINT) AS cos_sum_q,
           CAST((SELECT COUNT(*) FROM chunks) AS BIGINT) AS n_chunks
    FROM top
"""


@query("x109_rag_retrieval", oracle=_x109_oracle())
def x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieval.py end-to-end: persisted deduped chunk index over the
    doc_id % 4 documents shard, 5 text queries (the 5 lowest-chunk_id
    surviving chunks' texts), top-3 cosine hits -> fingerprints the
    oracle recomputes from scratch."""
    from ..retrieval import search_text

    path = _rag_text_index(spark, sf_dir)
    chunks = read_parquet_cached_schema(spark, f"{path}/chunks")
    qrows = (
        chunks.orderBy("chunk_id")
        .limit(_X109_N_QUERIES)
        .select("chunk_text")
        .collect()
    )
    if len(qrows) != _X109_N_QUERIES:
        # precondition, asserted loudly: the oracle derives the same 5
        # query texts, so a fixture/testdata drift must fail here
        raise AssertionError(
            f"x109 fixture drift: only {len(qrows)} chunks survive "
            f"dedup, need {_X109_N_QUERIES}"
        )
    texts = [r["chunk_text"] for r in qrows]
    hits = search_text(
        spark,
        path,
        texts,
        k=_X109_K,
        nprobe=_X109_NPROBE,
        dim=8,
        model="BERT",
    )
    cand_id = (
        F.col("doc_id") * F.lit(_X109_ID_BASE) + F.col("chunk_idx")
    ).cast("long")
    return hits.agg(
        F.count("*").cast("long").alias("n_results"),
        F.coalesce(F.sum(F.col("query_id") + cand_id), F.lit(0))
        .cast("long")
        .alias("result_id_sum"),
        F.coalesce(
            F.sum(F.floor(F.col("cosine") * 10000.0 + F.lit(0.5))), F.lit(0)
        )
        .cast("long")
        .alias("cos_sum_q"),
    ).crossJoin(
        chunks.agg(F.count("*").cast("long").alias("n_chunks"))
    )



# --------------------------------------------------------------------------
# X110 — stateful-stream verdicts. Since round 17 this is ONE registry
# row draining all three uninterrupted built-in stateful shapes
# CONCURRENTLY (this window-agg construction, plus x111's dedup horizon
# and x112's stream-stream join — their block comments below document
# the other two syntheses; VERDICT r16 #2 consolidation mechanism, the
# x113-suite pattern). The original x110 semantics: the one Structured
# Streaming semantic the attested streaming surface (x98-x104:
# processing-order replays + keyed detector state) did not cover —
# EVENT-time windowed aggregation under `withWatermark`, with real late
# data: rows whose event time lags the stream get dropped past the
# watermark, accepted inside it, and append-mode emission withholds
# still-open windows. This is the telemetry shape a 100 TB ingest runs on (hourly
# event rollups that must tolerate stragglers), and every output value
# is deterministic arithmetic the oracle recomputes exactly — zero
# pinned row values; the three booleans are non-vacuousness verdicts
# raise-guarded in-query (ADVICE r9 rule).
#
# The construction is deliberately ROBUST to two engine details a naive
# version trips over (both observed while building this query):
#  - windows align to ABSOLUTE epoch, so BASE is a multiple of the
#    window length (otherwise window boundaries shift by BASE mod 60
#    and every closed-form start below is wrong);
#  - the watermark used to FILTER late rows in batch N can lag the
#    reported watermark by one batch (observed: the late batch was
#    filtered at max(batch 0) - delay even though the progress row
#    showed max(batches 0-1) - delay). Instead of encoding a
#    version-specific lag, SPACER batches repeat the previous
#    watermark-advancing maximum, so under a one-batch OR two-batch lag
#    the effective watermark at the late batch (940) and at the final
#    no-data emission (2140) is identical.
#
# Replay (event times synthesized from event_id; all rows from events):
#   b0 normal : m100 ∉ late/jump/spacer sets, t = (id%100)*10  (max 980)
#   b1 jump1  : id%20 == 9,  t = 1200 + (id%5)*10 — id ≡ 9 (mod 20)
#               forces id%5 == 4, so max t is EXACTLY 1240
#   b2 spacer1: id%100 == 11, t = 1240 (repeats b1's max)
#   b3 LATE   : id%10 == 7,  t = (id%100)*10 — watermark 940 by either
#               lag; dropped iff t < 900 ⇔ iff window end <= 940 (late
#               times are ≡ 70 (mod 100), none in [900, 940), so the
#               row-level and window-level drop rules give the SAME
#               sets); id%100 == 97 (t = 970) is accepted into the
#               still-open [960, 1020) window
#   b4 jump2  : id%20 == 19, t = 2400 + (id%5)*10 (max exactly 2440)
#   b5 spacer2: id%100 == 31, t = 2440 (repeats b4's max)
#   final no-data batch: watermark 2140 closes everything through
#   [2040, 2100) — including the accepted-late window, which is how
#   acceptance becomes VISIBLE in the append-mode sink — while the
#   jump2/spacer2 windows (start 2400) stay open and withheld. No
#   window end ever equals a watermark (ends are multiples of 60; the
#   watermarks are 940/2140), so inclusive-vs-strict boundaries cannot
#   flip the result.
#
# Scale shape: one narrow synthesis pass + the staged replay write; the
# streaming query is the standard windowed-aggregation state-store
# shape (state keyed by (window, type), eviction at the watermark) —
# the same floor cost as x100/x104. Driver-gated, not benched
# (streaming floor, budget policy).
# --------------------------------------------------------------------------
_X110_BASE = 1_749_999_960  # = 60 * 29_166_666: window-aligned epoch
_X110_WIN = 60
_X110_DELAY = 300

_X110_CASE_T = """
             CASE WHEN event_id % 20 = 9
                    THEN 1200 + (event_id % 5) * 10
                  WHEN event_id % 20 = 19
                    THEN 2400 + (event_id % 5) * 10
                  WHEN event_id % 100 = 11 THEN 1240
                  WHEN event_id % 100 = 31 THEN 2440
                  ELSE (event_id % 100) * 10 END
"""


def _x110_oracle() -> str:
    b, w = _X110_BASE, _X110_WIN
    return f"""
    WITH w_rows AS (
      SELECT event_id, event_type,
             {_X110_CASE_T} AS t,
             CASE WHEN event_id % 20 = 9 THEN 1
                  WHEN event_id % 20 = 19 THEN 4
                  WHEN event_id % 100 = 11 THEN 2
                  WHEN event_id % 100 = 31 THEN 5
                  WHEN event_id % 10 = 7 THEN 3
                  ELSE 0 END AS batch
      FROM events
    ),
    -- window_agg shape: the late batch lands at watermark
    -- 1240 - {_X110_DELAY} = 940: dropped iff t < 900 (⇔ window end <=
    -- 940). The final watermark is 2440 - {_X110_DELAY} = 2140: emitted
    -- windows end <= 2140 ⇔ start <= 2080.
    w_accepted AS (
      SELECT * FROM w_rows WHERE batch <> 3 OR t >= 900
    ),
    w_emitted AS (
      SELECT CAST({b} + FLOOR(t / {w}) * {w} AS BIGINT) AS win_start,
             event_type
      FROM w_accepted
      WHERE FLOOR(t / {w}) * {w} <= 2080
    ),
    w_grouped AS (
      SELECT win_start, event_type, COUNT(*) AS n
      FROM w_emitted GROUP BY win_start, event_type
    ),
    -- dedup shape (the x111 closed form): every key's first occurrence
    -- plus the beyond-horizon redeliveries bounded state cannot remember
    d_e AS (
      SELECT event_id AS k, event_id % 100 AS m100, event_id % 20 AS m20
      FROM events
    ),
    d_emitted AS (
      SELECT k, CASE WHEN m20 = 9 THEN 2000 + (k % 5) * 10
                     WHEN m100 = 11 THEN 2040
                     ELSE m100 * 10 END AS t
      FROM d_e
      UNION ALL
      SELECT k, 1900 FROM d_e WHERE m100 = 43
    ),
    -- join shape (the x112 closed form): in-batch pairs + the
    -- cross-batch pair served from buffered state
    j_e AS (
      SELECT event_id AS k, event_id % 100 AS m100,
             event_id % 20 AS m20, event_id % 10 AS m10
      FROM events
    ),
    j_pairs AS (
      SELECT k, m100 * 10 AS lt, m100 * 10 + 30 AS rt FROM j_e
      WHERE m20 NOT IN (9, 19) AND m10 <> 7
        AND m100 NOT IN (11, 31, 51, 83)
      UNION ALL
      SELECT k, 830, 860 FROM j_e WHERE m100 = 83
    ),
    fp AS (
      SELECT 'window_agg' AS state_shape,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(win_start) AS BIGINT) AS fp_key_sum,
             CAST(SUM(n) AS BIGINT) AS fp_val_sum
      FROM w_grouped
      UNION ALL
      SELECT 'dedup_horizon',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(k) AS BIGINT),
             CAST(SUM(t) AS BIGINT)
      FROM d_emitted
      UNION ALL
      SELECT 'stream_join',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(k) AS BIGINT),
             CAST(SUM(lt) + SUM(rt) AS BIGINT)
      FROM j_pairs
    )
    SELECT state_shape, n_rows, fp_key_sum, fp_val_sum,
           TRUE AS state_behavior_ok,
           TRUE AS late_discipline_ok
    FROM fp
"""


def _await_all_x110(started: dict) -> None:
    """Drain the concurrently-started availableNow queries; a timeout or
    error in any of them stops the rest and raises."""
    for shape, q in started.items():
        if not q.awaitTermination(300):
            for qq in started.values():
                qq.stop()
            raise AssertionError(
                f"x110 {shape} replay did not drain in 300s"
            )
        if q.exception() is not None:
            raise q.exception()


@query("x110_stateful_stream_verdicts", oracle=_x110_oracle())
def x110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three built-in stateful operators driven UNINTERRUPTED
    through real watermarked streaming queries drained concurrently off
    their staged replays (the r17 fold of x110/x111/x112 — every
    synthesis, precondition and raise-guard preserved; see the three
    block comments): event-time windowed aggregation with late
    drop/accept and open windows withheld; dropDuplicatesWithinWatermark
    with both horizon halves visible; the two-sided-watermark
    stream-stream join with a cross-batch pair served from buffered
    state and a late leg yielding nothing. One oracle-recomputed
    fingerprint row per shape."""
    import os

    from ..streaming.replay import (
        read_replay_stream,
        scoped_state_partitions,
        stage_replay_files,
    )
    from .extensions10 import _scratch_index_dir

    # ---------------- window_agg synthesis (the original x110)
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    e = F.col("event_id")
    t = (
        F.when(e % 20 == 9, F.lit(1200) + (e % 5) * 10)
        .when(e % 20 == 19, F.lit(2400) + (e % 5) * 10)
        .when(e % 100 == 11, F.lit(1240))
        .when(e % 100 == 31, F.lit(2440))
        .otherwise((e % 100) * 10)
    ).cast("long")
    batch = (
        F.when(e % 20 == 9, 1)
        .when(e % 20 == 19, 4)
        .when(e % 100 == 11, 2)
        .when(e % 100 == 31, 5)
        .when(e % 10 == 7, 3)
        .otherwise(0)
    ).cast("long")
    w_rows = ev.select(
        batch.alias("replay_batch"),
        F.timestamp_seconds(F.lit(_X110_BASE) + t).alias("ts"),
        "event_type",
        t.alias("__t"),
    ).localCheckpoint(eager=True)

    # non-vacuousness preconditions, asserted loudly BEFORE streaming:
    # the verdicts are oracle-pinned TRUE, so a testdata shape that
    # empties any leg must fail here at generation time. ONE grouped
    # agg serves the leg census AND the late split (r18, guide §1.2 —
    # was a groupBy collect plus a separate filter count over the same
    # checkpointed rows).
    w_pre = w_rows.groupBy("replay_batch").agg(
        F.count("*").alias("n"),
        F.sum((F.col("__t") < 900).cast("long")).alias("n_lt900"),
    ).collect()
    w_legs = {int(r["replay_batch"]): int(r["n"]) for r in w_pre}
    n_dropped_late = sum(
        int(r["n_lt900"]) for r in w_pre if int(r["replay_batch"]) == 3
    )
    n_accepted_late = w_legs.get(3, 0) - n_dropped_late
    if not all(w_legs.get(i, 0) for i in (0, 1, 2, 4, 5)):
        raise AssertionError(
            f"x110 fixture drift: empty window replay leg {w_legs}"
        )
    if not (n_dropped_late > 0 and n_accepted_late > 0):
        raise AssertionError(
            f"x110 fixture drift: late split dropped={n_dropped_late} "
            f"accepted={n_accepted_late} — a leg is vacuous"
        )

    # ---------------- dedup synthesis (the original x111)
    ev_k = load_table(spark, sf_dir, "events").select("event_id")
    m100, m20, m10 = e % 100, e % 20, e % 10
    originals = ev_k.filter((m20 != 9) & (m100 != 11)).select(
        F.lit(0).alias("replay_batch"), e.alias("k"), (m100 * 10).alias("t")
    )
    dup_a = ev_k.filter(m100 == 93).select(
        F.lit(1).alias("replay_batch"), e.alias("k"), F.lit(980).alias("t")
    )
    jump = ev_k.filter(m20 == 9).select(
        F.lit(2).alias("replay_batch"),
        e.alias("k"),
        (F.lit(2000) + (e % 5) * 10).alias("t"),
    )
    spacer = ev_k.filter(m100 == 11).select(
        F.lit(3).alias("replay_batch"), e.alias("k"), F.lit(2040).alias("t")
    )
    dup_b = ev_k.filter(m100 == 43).select(
        F.lit(4).alias("replay_batch"), e.alias("k"), F.lit(1900).alias("t")
    )
    d_rows = (
        originals.unionByName(dup_a)
        .unionByName(jump)
        .unionByName(spacer)
        .unionByName(dup_b)
        .select(
            F.col("replay_batch").cast("long").alias("replay_batch"),
            "k",
            F.timestamp_seconds(
                F.lit(_X111_BASE) + F.col("t")
            ).alias("ts"),
        )
        .localCheckpoint(eager=True)
    )
    d_legs = {
        int(r["replay_batch"]): int(r["n"])
        for r in d_rows.groupBy("replay_batch")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    if not all(d_legs.get(i, 0) for i in range(5)):
        raise AssertionError(
            f"x110 fixture drift: empty dedup replay leg {d_legs}"
        )

    # ---------------- join synthesis (the original x112)
    is_a = (
        ~m20.isin(9, 19) & (m10 != 7) & ~m100.isin(11, 31, 51, 83)
    )

    def leg(cond, b, t_expr):
        return ev_k.filter(cond).select(
            F.lit(b).cast("long").alias("replay_batch"),
            e.alias("k"),
            F.timestamp_seconds(
                F.lit(_X112_BASE) + t_expr.cast("long")
            ).alias("ts"),
        )

    j_left = (
        leg(is_a | (m100 == 83), 0, m100 * 10)
        .unionByName(leg(m20 == 9, 1, F.lit(2000) + (e % 5) * 10))
        .unionByName(leg(m100 == 11, 2, F.lit(2040)))
        .unionByName(leg(m10 == 7, 3, m100 * 10))  # the LATE leg
        .localCheckpoint(eager=True)
    )
    j_right = (
        leg(is_a | (m10 == 7), 0, m100 * 10 + 30)
        .unionByName(
            leg(m20 == 19, 1, F.lit(2000) + (e % 5) * 10).unionByName(
                leg(m100 == 83, 1, F.lit(860))
            )
        )
        .unionByName(leg(m100 == 31, 2, F.lit(2040)))
        .unionByName(leg(m100 == 51, 3, F.lit(2040)))
        .localCheckpoint(eager=True)
    )
    # ONE grouped agg per side serves the leg census and the cross/late
    # counts (r18, guide §1.2 — was four separate jobs: two filter
    # counts plus two distinct collects over the checkpointed legs)
    l_pre = j_left.groupBy("replay_batch").agg(
        F.count("*").alias("n"),
        F.sum((F.col("k") % 100 == 83).cast("long")).alias("n83"),
    ).collect()
    n_cross = sum(int(r["n83"]) for r in l_pre)
    n_late = sum(
        int(r["n"]) for r in l_pre if int(r["replay_batch"]) == 3
    )
    if not (n_cross > 0 and n_late > 0):
        raise AssertionError(
            f"x110 fixture drift: join cross-batch leg {n_cross}, late "
            f"leg {n_late} — a verdict would be vacuous"
        )
    r_pre = j_right.groupBy("replay_batch").count().collect()
    for rows, nm in ((l_pre, "left"), (r_pre, "right")):
        side_legs = sorted(int(r["replay_batch"]) for r in rows)
        if side_legs != [0, 1, 2, 3]:
            raise AssertionError(
                f"x110 fixture drift: join {nm} legs "
                f"{side_legs} != 4 files"
            )

    # ---------------- stage everything, then start the three queries
    # CONCURRENTLY (separate staged dirs, checkpoints and memory sinks
    # over read-only inputs — they share nothing but the wall clock)
    tmp = _scratch_index_dir(spark, "sfs110_")
    base = os.path.basename(tmp)
    w_staged, d_staged = f"{tmp}/w/staged", f"{tmp}/d/staged"
    l_staged, r_staged = f"{tmp}/j/left", f"{tmp}/j/right"
    stage_replay_files(
        w_rows.drop("__t"), "replay_batch", w_staged, batch_size=1
    )
    stage_replay_files(d_rows, "replay_batch", d_staged, batch_size=1)
    stage_replay_files(j_left, "replay_batch", l_staged, batch_size=1)
    stage_replay_files(j_right, "replay_batch", r_staged, batch_size=1)
    sinks = {
        "window_agg": f"x110w_{base}",
        "dedup_horizon": f"x110d_{base}",
        "stream_join": f"x110j_{base}",
    }

    def start_window():
        stream = read_replay_stream(
            spark,
            w_staged,
            "replay_batch long, ts timestamp, event_type string",
        )
        return (
            stream.withWatermark("ts", f"{_X110_DELAY} seconds")
            .groupBy(F.window("ts", f"{_X110_WIN} seconds"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").cast("long").alias("win_start"),
                "event_type",
                F.col("n").cast("long").alias("n"),
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(sinks["window_agg"])
            .option("checkpointLocation", f"{tmp}/w/ckpt")
            .trigger(availableNow=True)
            .start()
        )

    def start_dedup():
        stream = read_replay_stream(
            spark, d_staged, "replay_batch long, k long, ts timestamp"
        )
        return (
            stream.withWatermark("ts", f"{_X111_DELAY} seconds")
            .dropDuplicatesWithinWatermark(["k"])
            .select(
                "k", (F.col("ts").cast("long") - _X111_BASE).alias("t")
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(sinks["dedup_horizon"])
            .option("checkpointLocation", f"{tmp}/d/ckpt")
            .trigger(availableNow=True)
            .start()
        )

    def start_join():
        schema = "replay_batch long, k long, ts timestamp"
        ls = (
            read_replay_stream(spark, l_staged, schema)
            .withWatermark("ts", f"{_X112_DELAY} seconds")
            .select(F.col("k").alias("lk"), F.col("ts").alias("lts"))
        )
        rs = (
            read_replay_stream(spark, r_staged, schema)
            .withWatermark("ts", f"{_X112_DELAY} seconds")
            .select(F.col("k").alias("rk"), F.col("ts").alias("rts"))
        )
        return (
            ls.join(
                rs,
                (F.col("lk") == F.col("rk"))
                & (F.col("rts") >= F.col("lts"))
                & (
                    F.col("rts")
                    <= F.col("lts") + F.expr("INTERVAL 60 SECONDS")
                ),
                "inner",
            )
            .select(
                F.col("lk").alias("k"),
                (F.col("lts").cast("long") - _X112_BASE).alias("lt"),
                (F.col("rts").cast("long") - _X112_BASE).alias("rt"),
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(sinks["stream_join"])
            .option("checkpointLocation", f"{tmp}/j/ckpt")
            .trigger(availableNow=True)
            .start()
        )

    # scoped state partitions (streaming/replay.py): handfuls of state
    # keys through 32 state-store commits per batch was pure overhead;
    # the join commits PER SIDE per batch — the heaviest case
    with scoped_state_partitions(spark):
        _await_all_x110(
            {
                "window_agg": start_window(),
                "dedup_horizon": start_dedup(),
                "stream_join": start_join(),
            }
        )
        w_final = spark.table(sinks["window_agg"]).localCheckpoint(
            eager=True
        )
        d_final = spark.table(sinks["dedup_horizon"]).localCheckpoint(
            eager=True
        )
        j_final = spark.table(sinks["stream_join"]).localCheckpoint(
            eager=True
        )

    # ---------------- raise-guarded verdicts (the originals — same
    # predicates, same failure messages; since r18 ALL six guard
    # scalars ride ONE collect of cross-joined 1-row aggs over the
    # checkpointed sinks instead of six sequential driver jobs
    # (guide §1.2 action count; every operand is already materialized)
    g = (
        w_final.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.coalesce(F.max("win_start"), F.lit(0)).alias("max_start"),
        )
        .crossJoin(
            w_rows.filter(
                ((F.col("replay_batch") != 3) | (F.col("__t") >= 900))
                & (F.floor(F.col("__t") / _X110_WIN) * _X110_WIN <= 2080)
            ).agg(F.count("*").alias("expected_emitted"))
        )
        .crossJoin(
            d_final.agg(
                F.sum(
                    (
                        (F.col("k") % 100 == 93) & (F.col("t") == 980)
                    ).cast("long")
                ).alias("a_keys"),
                F.sum(
                    (
                        (F.col("k") % 100 == 43) & (F.col("t") == 1900)
                    ).cast("long")
                ).alias("b_got"),
            )
        )
        .crossJoin(
            j_final.agg(
                F.sum(
                    (
                        (F.col("k") % 100 == 83)
                        & (F.col("lt") == 830)
                        & (F.col("rt") == 860)
                    ).cast("long")
                ).alias("got_cross"),
                F.sum((F.col("k") % 10 == 7).cast("long")).alias(
                    "got_late"
                ),
            )
        )
        .collect()[0]
    )
    # window_agg: late-drop/accept arithmetic + no open window leaked
    if int(g["total"]) != int(g["expected_emitted"]):
        raise AssertionError(
            f"x110 watermark regression: sink holds {g['total']} rows, "
            f"expected {g['expected_emitted']} (late-drop/accept "
            f"arithmetic)"
        )
    if int(g["max_start"]) > _X110_BASE + 2080:
        raise AssertionError(
            f"x110 append regression: an open window leaked "
            f"(max win_start {int(g['max_start']) - _X110_BASE})"
        )
    # dedup_horizon: within-horizon deduped, beyond-horizon re-emitted
    a_keys = int(g["a_keys"] or 0)
    if a_keys != 0:
        raise AssertionError(
            f"x110 dedup regression: {a_keys} within-horizon "
            f"redeliveries were re-emitted"
        )
    b_got = int(g["b_got"] or 0)
    if b_got != d_legs[4]:
        raise AssertionError(
            f"x110 horizon regression: {b_got}/{d_legs[4]} beyond-horizon"
            f" redeliveries re-emitted"
        )
    # stream_join: cross-batch pair served from buffer, late leg empty
    got_cross = int(g["got_cross"] or 0)
    if got_cross != n_cross:
        raise AssertionError(
            f"x110 buffering regression: {got_cross}/{n_cross} "
            f"cross-batch pairs emitted"
        )
    got_late = int(g["got_late"] or 0)
    if got_late != 0:
        raise AssertionError(
            f"x110 watermark regression: {got_late} late-leg pairs "
            f"emitted"
        )

    # ---------------- fingerprint rows (the x113-suite shape: counts
    # and sums recomputed by the oracle from scratch, booleans
    # raise-guarded above then pinned TRUE)
    def _verdicts(row: DataFrame) -> DataFrame:
        return row.select(
            "*",
            F.lit(True).alias("state_behavior_ok"),
            F.lit(True).alias("late_discipline_ok"),
        )

    w_fp = w_final.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("win_start").cast("long").alias("fp_key_sum"),
        F.sum("n").cast("long").alias("fp_val_sum"),
    ).select(F.lit("window_agg").alias("state_shape"), "*")
    d_fp = d_final.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("fp_key_sum"),
        F.sum("t").cast("long").alias("fp_val_sum"),
    ).select(F.lit("dedup_horizon").alias("state_shape"), "*")
    j_fp = j_final.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("fp_key_sum"),
        (F.sum("lt") + F.sum("rt")).cast("long").alias("fp_val_sum"),
    ).select(F.lit("stream_join").alias("state_shape"), "*")
    return _verdicts(w_fp.unionByName(d_fp).unionByName(j_fp))


# --------------------------------------------------------------------------
# X111 — streaming-dedup horizon verdict: Spark's built-in bounded-state
# ingest dedup (`dropDuplicatesWithinWatermark`) driver-attested with
# BOTH halves of its contract visible: a duplicate redelivered while the
# key's state is live is dropped, and one redelivered after the
# watermark evicted the state is RE-EMITTED — the documented
# at-least-once residue every bounded-state dedup accepts (and exactly
# the operational difference from x98's persisted-index dedup, which
# never forgets; the two rows together are the engine's dedup-ingest
# story: bounded-state for telemetry streams, persisted-index for
# corpora with takedown obligations).
#
# Same robustness rules as x110 (engine facts documented there): BASE
# aligned, a spacer batch pins the watermark at the redelivery batch to
# 1740 under a one-batch OR two-batch filter lag, and every margin is
# wide against rule variants — the within-horizon duplicate (ts 980)
# sits above any possible watermark at its batch (<= 690) with state
# expiring no earlier than 1230 under any plausible eviction rule
# (first-seen ts 930 + 300), and the beyond-horizon redelivery (ts
# 1900) sits above the 1740 watermark while its key's state (first seen
# 430, expiry at most 730) is evicted under every variant. A probe run
# also established that BELOW-watermark rows are late-filtered by this
# operator (fresh or duplicate), which is why redeliveries carry their
# REDELIVERY time, as real at-least-once transports do.
#
# Replay (keys = event_id; all rows derived from events):
#   b0 originals: every id with id%20 != 9 and id%100 != 11,
#                 t = (id%100)*10 (max 990)
#   b1 dup-A    : id%100 == 93 redelivered at t = 980 -> state live
#                 (watermark <= 690) -> DEDUPED
#   b2 jump     : id%20 == 9, t = 2000 + (id%5)*10 (max exactly 2040;
#                 fresh keys, emitted once)
#   b3 spacer   : id%100 == 11, t = 2040 (fresh keys; pins the lag)
#   b4 dup-B    : id%100 == 43 redelivered at t = 1900 -> watermark
#                 1740 evicted the state -> RE-EMITTED at t = 1900
# Zero pinned row values — the oracle recomputes every emitted (key, t)
# row in closed form; the two booleans are raise-guarded in-query.
# Driver-gated, not benched (streaming floor, budget policy).
# --------------------------------------------------------------------------
_X111_BASE = 1_749_999_960
_X111_DELAY = 300

# X111 (folded into x110_stateful_stream_verdicts, round 17): the
# standalone dropDuplicatesWithinWatermark horizon verdict (green
# r13-r16) — synthesis, preconditions, raise-guards and closed-form
# emission arithmetic moved verbatim into the merged query above; its
# drain now overlaps the other two shapes' instead of paying its own
# streaming floor (the x113-suite consolidation pattern, VERDICT r16
# #2 mechanism).


# --------------------------------------------------------------------------
# X112 — stream⋈stream join verdict: the two-sided-watermark
# stream-stream inner join (until now pytest-only,
# tests/test_streaming_joins.py) driver-attested with the three
# behaviors that make it a STREAM join and not a batch join visible in
# one run: (a) same-batch matches, (b) a CROSS-BATCH match served from
# buffered join state (the left row arrives a batch before its partner),
# and (c) a late leg — left rows arriving after both sides' watermarks
# advanced — producing NO pairs even though their partners sit buffered
# on the right. Join outputs are closed-form (key equality + a 60 s
# event-time band over deterministic synthesized times), so the oracle
# recomputes every (k, lt, rt) row; the two booleans are raise-guarded
# non-vacuousness verdicts.
#
# Same robustness toolkit as x110/x111: BASE aligned, spacer batches pin
# the watermark under a one- OR two-batch lag, and every margin is wide
# (the cross-batch partner arrives at watermark <= 690 with event time
# 860 and its buffered left row's eviction bound at 890; the late leg's
# times <= 970 sit far below the 1740 watermark its batch sees), so
# row-admission vs state-eviction rule variants cannot change the
# emitted set — the probe for this query confirmed late-leg pairs are
# absent under the engine's actual mechanism, whichever it is.
#
# Replay (keys = event_id; both sources stage FOUR files so triggers
# pair deterministically, one file per source per batch):
#   L b0: A ∪ D originals, t = (id%100)*10      R r0: partners of A ∪ C
#   L b1: jump (id%20 == 9, max exactly 2040)    R r1: jump (id%20 == 19)
#                                                       ∪ D partners t=860
#   L b2: spacer (id%100 == 11, t 2040)          R r2: spacer (id%100 == 31)
#   L b3: LATE leg C (id%10 == 7, original ts)   R r3: filler (id%100 == 51)
# A = ids with id%20 ∉ {9,19}, id%10 != 7, id%100 ∉ {11,31,51,83}
# (pairs in-batch: rt = lt + 30); D = id%100 == 83 (cross-batch pair
# 830/860); C = id%10 == 7 (partners buffered in r0, left side dropped).
# Jump/spacer/filler keys are disjoint from A ∪ C ∪ D, so the inner
# join emits nothing for them. Driver-gated, not benched (streaming
# floor, budget policy).
# --------------------------------------------------------------------------
_X112_BASE = 1_749_999_960
_X112_DELAY = 300

# X112 (folded into x110_stateful_stream_verdicts, round 17): the
# standalone two-sided-watermark stream-stream join verdict (green
# r13-r16) — synthesis, preconditions, raise-guards and closed-form
# pair arithmetic moved verbatim into the merged query above (the
# construction is ALSO consumed inline by x113's kill/resume join
# shape, extensions16). Its drain — the heaviest of the three, join
# state committing per side per batch — now overlaps the other two
# shapes' instead of paying its own streaming floor.
