"""Round-9 extension queries: the transformer pooling-trap closure (x97)
and driver attestation for the streaming twins (x98 curation stream, x99
changelog-snapshot stream, x100 DDM drift stream).

VERDICT r8 asked for exactly these: the x92 mini-transformer's semantic
usability demonstrated on-data instead of in a test comment (#1), and
the streaming surface's batch-equality / idempotence / restart claims
hash-checked by the driver instead of only by pytest (#4). x98/x99
follow the x90 verdict-row pattern: the streaming path RUNS inside the
query (bounded ordered replay through the same foreachBatch bodies the
real readStream wiring attaches — tests/test_curation_stream.py::
test_real_readstream_wiring pins that equivalence), x100 runs an actual
Structured Streaming query (applyInPandasWithState under availableNow),
and the returned rows carry batch-recomputable fingerprints plus the
verdict booleans; the oracles recompute the fingerprints in SQL and pin
the verdicts TRUE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, scratch_index_dir, session_fixture


# --------------------------------------------------------------------------
# X97 — transformer semantic shift (VERDICT r8 #1): the driver-attested
# demonstration that the mini-transformer's embeddings carry semantic
# signal ONLY under first-token ([CLS]-style) pooling — the pooling
# caveat documented at operators/transformer.py, proven on data instead
# of buried in a test comment. The query applies a full-vocabulary
# rotation (every word w -> wq: the hash-space analogue of a complete
# topic change) to the x92 doc sample and measures, PER DOCUMENT, how
# far each pooled embedding moves: first-token pooling moves ~0.19 on
# average while mean pooling moves ~0.03 (measured at sf0.001 AND
# sf0.01; the final LayerNorm squeezes positions onto a shell whose mean
# nearly cancels). The attested verdicts pin margins far inside those
# measurements: avg first-token shift >= 0.1, and >= 4x the mean-pool
# shift (measured ratio ~6x at both scales). The oracle recomputes the
# SQL-computable side (sample size, exact tokenizer seq_len sum — the
# same LEAST(split, 64) truncation hash_embed_tokens applies) and pins
# the verdicts TRUE, the x93/x96 verdict pattern — no new generated
# literal (VERDICT r8 "what's wrong" #2 asks literal oracles not to
# multiply). Scale shape: two shuffle-free mapInPandas embedding passes
# over the same narrow sample, one broadcast-sized self-join on doc_id,
# one global single-row aggregate.
# --------------------------------------------------------------------------
_X97_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(len(string_split(text, ' ')), 64)) AS BIGINT)
             AS sum_seq,
           TRUE AS first_shift_material,
           TRUE AS mean_pool_suppresses
    FROM documents WHERE doc_id % 7 = 0
"""


@query("x97_transformer_semantic_shift", oracle=_X97_ORACLE)
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document embedding displacement under a full-vocabulary
    content shift, by pooling strategy. first_shift_material: the
    average first-token-pool displacement is >= 0.1 (material on the
    LayerNorm shell, ||state|| ~ sqrt(d)); mean_pool_suppresses: it is
    >= 4x the mean-pool displacement — i.e. a drift monitor fed
    mean-pooled 'mini' embeddings would see ~1/6 of the signal a
    first-token consumer sees, which is exactly the trap the operator
    docs warn about."""
    from ..functions.arrays import first_token_pool_col, mean_pool_col
    from ..operators.embedder import embed_documents

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "text")
    )
    shifted = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit("q"))
            ),
            " ",
        ).alias("text"),
    )

    def pools(frame: DataFrame, tag: str) -> DataFrame:
        emb = embed_documents(
            frame, model="MINI", dim=8, max_seq_len=64, backend="mini"
        )
        return emb.select(
            "doc_id",
            F.col("seq_len").cast("long").alias(f"seq_{tag}"),
            first_token_pool_col(F.col("tokens")).alias(f"ft_{tag}"),
            mean_pool_col(F.col("tokens")).alias(f"mp_{tag}"),
        )

    def l2(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    j = pools(docs, "a").join(pools(shifted, "b"), "doc_id")
    agg = j.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("seq_a").cast("long").alias("sum_seq"),
        F.avg(l2("ft_a", "ft_b")).alias("__af"),
        F.avg(l2("mp_a", "mp_b")).alias("__am"),
    )
    return agg.select(
        "n_docs",
        "sum_seq",
        (F.col("__af") >= F.lit(0.1)).alias("first_shift_material"),
        (F.col("__af") >= F.lit(4.0) * F.col("__am")).alias(
            "mean_pool_suppresses"
        ),
    )


# --------------------------------------------------------------------------
# X98 — curation-stream verdict (VERDICT r8 #4): the continuous-curation
# path (streaming/curation_stream.curate_batch — the exact foreachBatch
# body the readStream wiring attaches) run in-query as a bounded ordered
# replay over the documents table PLUS injected cross-epoch exact
# duplicates (every 10th doc cloned into the upper id range, so the
# dedup verdict exercises the index probe across epochs, not just the
# within-batch keeper), INCLUDING an at-least-once re-delivery of a
# mid-stream epoch. The returned row fingerprints the streamed
# kept-corpus (count, id-sum, 4dp-quality sum — all batch-recomputable)
# and carries two verdicts: streamed_equals_batch (kept-set == the batch
# pipeline's min-id-dedup + quality>=0.5 semantics, checked by symmetric
# anti-join in-query) and redelivery_idempotent (the corpus fingerprint
# is unchanged by re-running a committed epoch). The oracle recomputes
# the batch kept-set in SQL (md5 keeper window + the x11 quality formula)
# and pins the verdicts TRUE — so a driver hash match certifies the
# STREAMED output, not just the batch twin. Scale shape: each epoch is
# one digest window + one index probe (broadcast-sized band join) + one
# epoch-partition write; nothing in the replay is corpus-global except
# the final audit aggregate.
# --------------------------------------------------------------------------
_X98_MIN_Q = 0.5
# 2 epochs, not 3 (VERDICT r10 #7; r9 trimmed 4 -> 3): the attested
# semantics are cross-epoch dedup + a MID-STREAM re-delivery. The r9
# 3-epoch floor came from the range-thirds split (originals spanned
# epochs 0-1, clones 1-2, epoch 1 redelivered before 2); splitting at
# base_max instead makes epoch 0 exactly the originals and epoch 1
# exactly the clones, so EVERY clone probes cross-epoch (strictly
# stronger than the thirds split, where some clones shared epoch 1 with
# originals) and the re-delivery of epoch 0 lands before epoch 1
# commits (still mid-stream: a later epoch ingests against the
# twice-delivered state). Each epoch is ~7 fixed-latency foreachBatch
# actions of production machinery, which dominates this query's
# driver-sweep cost (timed in BENCH_NOTES "Driver-sweep budget") — the
# 2-epoch form is the minimum that attests both properties at full
# strength.

_X98_ORACLE = """
    WITH base AS (SELECT doc_id, text FROM documents),
    mx AS (SELECT MAX(doc_id) AS m FROM base),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT b.doc_id + mx.m + 1, b.text
      FROM base b CROSS JOIN mx WHERE b.doc_id % 10 = 0
    ),
    f AS (
      SELECT doc_id, md5(text) AS dg,
             len(string_split(text, ' ')) AS nw,
             len(list_distinct(string_split(text, ' '))) AS uq,
             length(text) AS nc,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
      FROM corpus
    ),
    k AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY dg) AS keeper FROM f
    ),
    q AS (
      SELECT doc_id,
             FLOOR((
               0.25 * (CASE WHEN nw >= 10 AND nw <= 1000 THEN 1 ELSE 0 END)
             + 0.25 * (CASE WHEN nc / nw >= 2.0 AND nc / nw <= 12.0
                            THEN 1 ELSE 0 END)
             + 0.25 * (uq / nw)
             + 0.25 * (1.0 - least(punct / nc * 10.0, 1.0))
             ) * 10000.0 + 0.5) / 10000.0 AS quality
      FROM k WHERE doc_id = keeper
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(FLOOR(quality * 10000.0 + 0.5)) AS BIGINT) AS q_sum_q,
           TRUE AS streamed_equals_batch,
           TRUE AS redelivery_idempotent
    FROM q WHERE quality >= 0.5
"""


@query("x98_curation_stream_verdict", oracle=_X98_ORACLE)
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ordered replay of the documents table through the
    streaming curation pipeline (2 ascending-doc_id epochs — originals,
    then every cross-epoch clone; epoch 0 delivered twice MID-stream to
    exercise the at-least-once retry path before a later epoch commits),
    then the streamed kept-corpus fingerprint + the batch-equality and
    redelivery-idempotence verdicts, as one driver-hashable row."""
    from ..functions.text import quality_score_col
    from ..operators.minhash_index import init_minhash_index
    from ..streaming.curation_stream import curate_batch, curated_corpus

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_max = int(base.agg(F.max("doc_id")).collect()[0][0])
    # inject CROSS-EPOCH exact duplicates (every 10th doc cloned into the
    # upper half of the id range): the duplicates land in later epochs
    # than their originals, so keeping the kept-set right REQUIRES the
    # index probe across epochs, not just the within-batch keeper window
    clones = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(base_max + 1)).alias("doc_id"), "text"
    )
    docs = base.unionByName(clones)
    tmp = scratch_index_dir(spark, "cur98_")
    index, out = f"{tmp}/idx", f"{tmp}/out"
    init_minhash_index(spark, index)

    # epoch 0 = exactly the originals, epoch 1 = exactly the clones (see
    # the _X98_MIN_Q comment block: every clone probes cross-epoch)
    e0 = docs.filter(F.col("doc_id") <= base_max)
    e1 = docs.filter(F.col("doc_id") > base_max)

    def _fp():
        # fingerprint before and after an at-least-once re-delivery of
        # the SAME epoch: two driver-tiny aggregates
        r = curated_corpus(spark, out).agg(
            F.count("*"), F.sum("doc_id")
        ).collect()[0]
        return (int(r[0]), int(r[1] or 0))

    curate_batch(e0, 0, index, out, min_quality=_X98_MIN_Q)
    fp_mid = _fp()
    # MID-stream at-least-once re-delivery: epoch 0 arrives again before
    # epoch 1 commits, so a later epoch ingests against the
    # twice-delivered state
    curate_batch(e0, 0, index, out, min_quality=_X98_MIN_Q)
    redelivery_ok = _fp() == fp_mid
    curate_batch(e1, 1, index, out, min_quality=_X98_MIN_Q)

    kept = curated_corpus(spark, out).select("doc_id", "quality")

    # the batch pipeline's declared semantics, computed independently
    keeper = F.min("doc_id").over(Window.partitionBy("__dg"))
    batch_kept = (
        docs.withColumn("__dg", F.md5("text"))
        .withColumn("__k", keeper)
        .filter(F.col("doc_id") == F.col("__k"))
        .withColumn("quality", quality_score_col(F.col("text")))
        .filter(F.col("quality") >= F.lit(_X98_MIN_Q))
        .select("doc_id", "quality")
    )
    # mismatch cardinality in-plan (the x100 r17 pattern): one final
    # action instead of an eager .count() job plus the agg job. The
    # extra `kept` reference is a lazy re-read of the committed parquet.
    mis = (
        kept.exceptAll(batch_kept)
        .unionByName(batch_kept.exceptAll(kept))
        .agg(F.count("*").alias("__mis"))
    )
    return (
        kept.agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum(F.floor(F.col("quality") * 10000.0 + F.lit(0.5)))
            .cast("long")
            .alias("q_sum_q"),
        )
        .crossJoin(mis)
        .select(
            "n_kept",
            "sum_doc_id",
            "q_sum_q",
            (F.col("__mis") == 0).alias("streamed_equals_batch"),
            F.lit(bool(redelivery_ok)).alias("redelivery_idempotent"),
        )
    )


# --------------------------------------------------------------------------
# X99 — changelog-snapshot stream verdict (VERDICT r8 #4): the streaming
# CDC sink (streaming/upsert_stream.ChangelogSnapshot — parquet-versioned
# state, tombstones retained) folds the x25 changelog in three
# version-ordered epochs WITH a kill-and-restart between epochs 2 and 3
# (a brand-new ChangelogSnapshot must recover its epoch from the state
# directory, exactly what a restarted query with the same
# checkpointLocation does). The row fingerprints the final snapshot and
# carries restart_resumed + snapshot_equals_batch verdicts; the oracle
# recomputes the latest-wins fold in SQL (x25's CTE, aggregated) and pins
# both TRUE. Scale shape per epoch: one key-shuffle over snapshot ∪
# batch — the merge-on-read pattern minus the manifest (module docs).
# --------------------------------------------------------------------------
_X99_ORACLE = """
    WITH chg AS (
      SELECT o_orderkey AS k, o_totalprice AS p, 1 AS v, 'U' AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice * 1.1, 2, 'U' FROM orders
      WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 0.0, 3, 'D' FROM orders WHERE o_orderkey % 17 = 0
    ),
    latest AS (
      SELECT k, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn
      FROM chg
    ),
    live AS (
      SELECT k, FLOOR(p * 100.0 + 0.5) AS pc
      FROM latest WHERE rn = 1 AND op <> 'D'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(pc) AS BIGINT) AS price_sum_c,
           TRUE AS restart_resumed,
           TRUE AS snapshot_equals_batch
    FROM live
"""


@query("x99_upsert_stream_verdict", oracle=_X99_ORACLE)
def x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x25 changelog folded through the STREAMING snapshot sink in
    three version-ordered micro-batches, with a simulated driver restart
    before the final batch (fresh ChangelogSnapshot recovering epoch
    state from disk). Returns the snapshot fingerprint + verdicts."""
    from ..operators.upsert import apply_changelog
    from ..streaming.upsert_stream import ChangelogSnapshot

    orders = load_table(spark, sf_dir, "orders")

    def slice_v(version: int, price_col, pred=None) -> DataFrame:
        src = orders if pred is None else orders.filter(pred)
        return src.select(
            F.col("o_orderkey").alias("k"),
            price_col.alias("p"),
            F.lit(version).alias("version"),
            F.lit("D" if version == 3 else "U").alias("op"),
        )

    v1 = slice_v(1, F.col("o_totalprice"))
    v2 = slice_v(
        2, F.col("o_totalprice") * 1.1, F.col("o_orderkey") % 10 == 0
    )
    v3 = slice_v(3, F.lit(0.0), F.col("o_orderkey") % 17 == 0)

    state = f"{scratch_index_dir(spark, 'cdc99_')}/state"
    snap = ChangelogSnapshot(spark, state, ["k"])
    snap.process_batch(v1, 0)
    snap.process_batch(v2, 1)
    # kill-and-restart: a NEW instance must recover epoch 2 from disk
    snap2 = ChangelogSnapshot(spark, state, ["k"])
    restart_resumed = snap2.epoch == 2
    snap2.process_batch(v3, 2)

    # both comparison operands are materialized ONCE (r17): the
    # two-direction exceptAll references each side twice, and `streamed`
    # is consumed a third time by the returned fingerprint agg — without
    # the checkpoint each reference re-ran the snapshot read / the
    # 3-version changelog fold from scratch (guide §7.2 duplicated
    # subtrees). Both tables are bounded by the LIVE KEY COUNT (2 cols),
    # the same driver-safe size the snapshot sink already maintains.
    streamed = snap2.snapshot().select(
        "k", F.floor(F.col("p") * 100.0 + F.lit(0.5)).alias("pc")
    ).localCheckpoint(eager=True)
    batch = apply_changelog(
        v1.unionByName(v2).unionByName(v3), ["k"]
    ).select(
        "k", F.floor(F.col("p") * 100.0 + F.lit(0.5)).alias("pc")
    ).localCheckpoint(eager=True)
    # the mismatch cardinality stays IN-PLAN (1-row agg cross-joined
    # into the fingerprint row, the x100 r17 pattern) instead of an
    # eager .count() job before the final agg — both operands are
    # already checkpointed, so the fold costs nothing extra and one
    # blocking job disappears. Values unchanged.
    mis = (
        streamed.exceptAll(batch)
        .unionByName(batch.exceptAll(streamed))
        .agg(F.count("*").alias("__mis"))
    )
    return (
        streamed.agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum("pc").cast("long").alias("price_sum_c"),
        )
        .crossJoin(mis)
        .select(
            "n_keys",
            "sum_k",
            "price_sum_c",
            F.lit(bool(restart_resumed)).alias("restart_resumed"),
            (F.col("__mis") == 0).alias("snapshot_equals_batch"),
        )
    )


# --------------------------------------------------------------------------
# X100 — detector-stream verdicts (VERDICT r8 #4 third row; merged form
# VERDICT r16 #2): unlike x98/x99 (which drive the foreachBatch bodies
# directly), this runs ACTUAL Structured Streaming queries — ordered
# file replay of the q25 per-batch error series ->
# applyInPandasWithState -> availableNow memory sinks — and verdicts
# the streamed flag series against the batch operators in-query, for
# BOTH T1 detectors (DDM and Page-Hinkley) off ONE staged replay.
# Through r16 these were two registry rows (x100_ddm_stream_verdict
# green r09-r16, x104_ph_stream_verdict green r09-r16) paying two
# sequential streaming drains over the same staged bytes; the merged
# query starts both keyed stateful operators CONCURRENTLY (separate
# checkpoints + sinks over the read-only layout, so neither can affect
# the other) and pays one drain window. The oracle is the bit-exact
# recursive-CTE DDM scan x the Page-Hinkley scan, aggregated to one
# fingerprint row with both equality verdicts pinned TRUE: a driver
# hash match certifies BOTH streaming paths' flags (count, warn/drift
# totals, drift-position sums), not just the batch twins'. Scale shape:
# state is one tuple per detector key, each micro-batch processes its
# rows in seq order within the key — the standard
# keyed-stateful-operator shape at any scale; a detector FLEET
# parallelizes across keys.
# --------------------------------------------------------------------------
# the real events series never trips DDM at the driver's scales (flags
# all 'N'), which would make the flag fingerprint vacuous — so the query
# appends a deterministic elevated-error tail (40 buckets at error=0.9,
# seq ids offset to 10M so they replay strictly last) and the attested
# row pins actual Warning/Drift TRANSITIONS through the streaming path,
# reset semantics included. 0.9 is the same IEEE double literal in both
# engines; the recursive-CTE scan reproduces the kernel bit-exactly.
_X100_TAIL_SEQ0 = 10_000_000
_X100_TAIL_N = 40
_X100_TAIL_ERR = 0.9

# The two streaming detector kernels replay the IDENTICAL input: the
# q25 per-batch error series plus the same elevated tail, staged into
# the same ~4-file ordered layout. Until round 11 each of the (then
# separate) twin queries re-built and re-staged it (~2 s of duplicated
# fixed cost per sweep/bench run — VERDICT r10 #6); the build-or-reuse
# staging per (session, sf_dir) — the x94/x95 fixture pattern — is kept
# even now that both detectors live in one registry row, because the
# merged query may run more than once per session (sweep cold+warm,
# bench min-of-n). Each detector keeps its OWN streaming run,
# checkpoint dir, sink and batch twin — the staged input is static and
# read-only, so two concurrent streaming queries consuming it cannot
# interact, and drain order cannot change either result.
def _stage_error_series(spark: SparkSession, sf_dir: str):
    """Stage the error-series replay layout the streaming detector twins
    read. Returns (staged_path, per_batch_df)."""
    from ..streaming.replay import stage_replay_files
    from .drift import _events_error_series

    per_batch = _events_error_series(spark, sf_dir)
    tail = spark.range(_X100_TAIL_N).select(
        F.lit("events").alias("detector_id"),
        (F.lit(_X100_TAIL_SEQ0) + F.col("id")).cast("long").alias("seq_id"),
        F.lit(float(_X100_TAIL_ERR)).alias("error"),
    )
    # materialize once: staged replay AND both queries' batch twins read
    # this series. persist, not eager localCheckpoint (r18, guide §1.2):
    # the count below populates the cache in the same job that computes
    # the series — the eager checkpoint was a separate blocking job for
    # the same bytes. The cache lives for the session like the fixture
    # entry itself (a ~n_buckets-row two-column table).
    per_batch = per_batch.unionByName(tail).persist()

    tmp = scratch_index_dir(spark, "ddmseries_")
    staged = f"{tmp}/staged"
    # 3 micro-batches at EVERY scale — 2 data buckets plus the elevated
    # tail (seq 10M), which always lands in its own final bucket: what
    # the attestation needs is detector state CROSSING batch boundaries
    # (incl. the drift tail in the last batch), not many batches — at
    # sf0.1 a fixed 1k batch size meant 19 micro-batches whose per-batch
    # machinery overhead (~0.4 s each) dominated the query (BENCH_NOTES
    # round 9). Round 18 trims the data series from 4 buckets to 2 under
    # the VERDICT r17 #2 grant: each drain keeps >= 2 micro-batch
    # boundaries (b0->b1 and b1->tail) at every sf, the warn/drift
    # transitions still cross both, and the flag series is
    # batching-independent (each micro-batch folds its rows in seq order
    # into the carried detector state). The floor is 32, not 1024
    # (ADVICE r9): a 1024 floor once produced ONE data file at the
    # driver scales (~111 rows at sf0.001, ~392 at sf0.01), making the
    # cross-boundary property vacuous exactly where the correctness gate
    # compares — ceil(n/2) with n >= 65 keeps two non-empty data buckets
    # at every driver scale.
    n_rows = per_batch.count()
    batch_size = max(32, -(-n_rows // 2))
    stage_replay_files(per_batch, "seq_id", staged, batch_size=batch_size)
    return staged, per_batch


def _x100_oracle() -> str:
    from .drift import _EVENTS_ERROR_SQL, ddm_scan_oracle, ph_scan_oracle

    body = _EVENTS_ERROR_SQL + f"""    UNION ALL
    SELECT {_X100_TAIL_SEQ0} + i AS bucket, {_X100_TAIL_ERR} AS error
    FROM generate_series(0, {_X100_TAIL_N - 1}) AS t(i)
"""
    return f"""
    SELECT d.n_batches, d.n_warn, d.n_drift, d.drift_seq_sum,
           p.ph_n_drift, p.ph_drift_seq_sum,
           TRUE AS ddm_streamed_equals_batch,
           TRUE AS ph_streamed_equals_batch
    FROM (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
             CAST(SUM(CASE WHEN flag = 'W' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_warn,
             CAST(SUM(CASE WHEN flag = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drift,
             CAST(COALESCE(SUM(CASE WHEN flag = 'D' THEN seq_id END), 0)
                  AS BIGINT) AS drift_seq_sum
      FROM ({ddm_scan_oracle(body)}) t
    ) d CROSS JOIN (
      SELECT CAST(SUM(CASE WHEN flag = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS ph_n_drift,
             CAST(COALESCE(SUM(CASE WHEN flag = 'D' THEN seq_id END), 0)
                  AS BIGINT) AS ph_drift_seq_sum
      FROM ({ph_scan_oracle(body)}) t
    ) p
"""


@query("x100_detector_stream_verdicts", oracle=_x100_oracle())
def x100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q25's error series replayed through the real streaming stack for
    BOTH T1 detectors off ONE staged replay (VERDICT r16 #2 — formerly
    the separate x100_ddm_stream_verdict / x104_ph_stream_verdict rows,
    green r09-r16 / r09-r16): the two keyed stateful operators
    (streaming/ddm_stream.py, streaming/ph_stream.py) run as CONCURRENT
    availableNow queries over the same read-only staged layout — each
    keeps its own checkpoint and memory sink, so neither result can
    depend on the other, and the wall-clock is one drain window instead
    of two streaming startups. Returns one fingerprint row carrying both
    flag series plus both streamed==batch verdicts."""
    import os

    from ..operators.ddm import detect_drift
    from ..operators.ph import detect_drift_ph
    from ..streaming.ddm_stream import detect_drift_stream
    from ..streaming.ph_stream import detect_drift_ph_stream
    from ..streaming.replay import (
        drain_all,
        read_replay_stream,
        scoped_state_partitions,
    )

    staged, per_batch = session_fixture(
        spark,
        sf_dir,
        "error_series",
        lambda: _stage_error_series(spark, sf_dir),
    )
    tmp = scratch_index_dir(spark, "det100_")
    schema = "detector_id string, seq_id long, error double"
    base = os.path.basename(tmp)  # unique per invocation
    sinks = {"ddm": f"x100d_{base}", "ph": f"x100p_{base}"}
    ops = {"ddm": detect_drift_stream, "ph": detect_drift_ph_stream}
    # scoped state partitions (streaming/replay.py): ONE detector key
    # through 32 state-store commits per batch was pure overhead.
    # n=1, not the helper's 8: this query has exactly one state key
    # (detector_id='events') at ANY corpus scale, so every partition
    # beyond 1 commits an empty state store per micro-batch per query —
    # with two concurrent drains that was 2x4x7 wasted commits
    # (measured r17: 4.98 -> 3.82 s min-of-3 at n=1; a detector FLEET
    # sizes n to its key count, per the helper's documented contract)
    with scoped_state_partitions(spark, n=1):
        queries = {}
        for kind, op in ops.items():
            # each streaming query needs its own source DataFrame; the
            # staged files are static so the two reads are identical
            stream = read_replay_stream(spark, staged, schema)
            queries[kind] = (
                op(stream)
                .writeStream.format("memory")
                .queryName(sinks[kind])
                .option("checkpointLocation", f"{tmp}/ckpt_{kind}")
                .trigger(availableNow=True)
                .start()
            )
        drain_all(queries, "x100 replay")

    # the streamed==batch mismatch counts stay IN-PLAN (1-row aggs
    # cross-joined into the verdict row) instead of two eager .count()
    # jobs before the final agg — the drains are the floor here, so the
    # remaining lever is action count (r17, guide §1.2): four blocking
    # jobs after the drain become one. Values are unchanged — the same
    # two-direction exceptAll cardinality, compared to 0 in-plan.
    fps = {}
    for kind, batch_fn in (("ddm", detect_drift), ("ph", detect_drift_ph)):
        streamed = spark.table(sinks[kind]).select("seq_id", "error", "flag")
        batch = batch_fn(per_batch).select("seq_id", "error", "flag")
        mis_row = (
            streamed.exceptAll(batch)
            .unionByName(batch.exceptAll(streamed))
            .agg(F.count("*").alias(f"__mis_{kind}"))
        )
        fps[kind] = (streamed, mis_row)

    ddm_s, ddm_mis = fps["ddm"]
    ph_s, ph_mis = fps["ph"]
    ddm_row = ddm_s.agg(
        F.count("*").cast("long").alias("n_batches"),
        F.sum((F.col("flag") == "W").cast("long")).alias("n_warn"),
        F.sum((F.col("flag") == "D").cast("long")).alias("n_drift"),
        F.coalesce(
            F.sum(F.when(F.col("flag") == "D", F.col("seq_id"))),
            F.lit(0),
        ).cast("long").alias("drift_seq_sum"),
    )
    ph_row = ph_s.agg(
        F.sum((F.col("flag") == "D").cast("long")).alias("ph_n_drift"),
        F.coalesce(
            F.sum(F.when(F.col("flag") == "D", F.col("seq_id"))),
            F.lit(0),
        ).cast("long").alias("ph_drift_seq_sum"),
    )
    return (
        ddm_row.crossJoin(ph_row)
        .crossJoin(ddm_mis)
        .crossJoin(ph_mis)
        .select(
            "n_batches",
            "n_warn",
            "n_drift",
            "drift_seq_sum",
            (F.col("__mis_ddm") == 0).alias("ddm_streamed_equals_batch"),
            "ph_n_drift",
            "ph_drift_seq_sum",
            (F.col("__mis_ph") == 0).alias("ph_streamed_equals_batch"),
        )
    )


# --------------------------------------------------------------------------
# X101 — takedown verdict (right-to-be-forgotten E2E, the last
# pytest-only streaming-surface claim put on the driver gate): curate a
# deterministic document sample through two streaming epochs, TAKE DOWN
# a deterministic id subset through the whole pipeline
# (takedown_from_curation: dedup-index digests+signatures GC'd AND the
# committed corpus's touched epoch partitions surgically rewritten),
# then verdict (a) no taken-down id survives in the corpus, (b) the
# surviving corpus equals the batch kept-set minus the takedown set, and
# (c) re-ingesting a taken-down document RE-COMMITS it — the documented
# legal posture: the index forgot the digest, so still-legitimate
# content returns on re-ingest. The oracle recomputes the kept-set
# arithmetic in SQL and pins the verdicts TRUE. Not benched (budget
# policy: per-epoch machinery, no scale signal); the takedown itself is
# surgical at any scale — only touched epoch partitions are rewritten.
# --------------------------------------------------------------------------
_X101_ORACLE = """
    WITH f AS (
      SELECT doc_id, md5(text) AS dg,
             len(string_split(text, ' ')) AS nw,
             len(list_distinct(string_split(text, ' '))) AS uq,
             length(text) AS nc,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
      FROM documents WHERE doc_id % 3 = 0
    ),
    k AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY dg) AS keeper FROM f
    ),
    q AS (
      SELECT doc_id,
             FLOOR((
               0.25 * (CASE WHEN nw >= 10 AND nw <= 1000 THEN 1 ELSE 0 END)
             + 0.25 * (CASE WHEN nc / nw >= 2.0 AND nc / nw <= 12.0
                            THEN 1 ELSE 0 END)
             + 0.25 * (uq / nw)
             + 0.25 * (1.0 - least(punct / nc * 10.0, 1.0))
             ) * 10000.0 + 0.5) / 10000.0 AS quality
      FROM k WHERE doc_id = keeper
    ),
    kept AS (SELECT doc_id FROM q WHERE quality >= 0.5)
    SELECT
      CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_kept_before,
      CAST((SELECT COUNT(*) FROM kept WHERE doc_id % 9 <> 3) AS BIGINT)
        AS n_kept_after,
      CAST((SELECT COALESCE(SUM(doc_id), 0) FROM kept
            WHERE doc_id % 9 <> 3) AS BIGINT) AS sum_id_after,
      TRUE AS takedown_ids_absent,
      TRUE AS corpus_equals_batch_minus_takedown,
      TRUE AS reingest_recommits
"""


@query("x101_takedown_verdict", oracle=_X101_ORACLE)
def x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two curation epochs over the doc_id % 3 == 0 sample, takedown of
    the % 9 == 3 ids through index AND corpus, re-ingest of the smallest
    taken-down kept doc — with the forget/re-commit verdicts the module
    docstring promises, as one driver-hashable row."""
    from ..functions.text import quality_score_col
    from ..operators.minhash_index import init_minhash_index
    from ..streaming.curation_stream import (
        curate_batch,
        curated_corpus,
        takedown_from_curation,
    )

    sample = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    tmp = scratch_index_dir(spark, "td101_")
    index, out = f"{tmp}/idx", f"{tmp}/out"
    init_minhash_index(spark, index)
    mid = int(sample.agg(F.max("doc_id")).collect()[0][0]) // 2
    curate_batch(sample.filter(F.col("doc_id") <= mid), 0, index, out)
    curate_batch(sample.filter(F.col("doc_id") > mid), 1, index, out)

    before = curated_corpus(spark, out).select("doc_id")
    r = before.agg(
        F.count("*"),
        F.min(F.when(F.col("doc_id") % 9 == 3, F.col("doc_id"))),
    ).collect()[0]
    n_before, reingest_id = int(r[0]), r[1]

    td_ids = sample.filter(F.col("doc_id") % 9 == 3).select("doc_id")
    takedown_from_curation(spark, index, out, td_ids)

    after = curated_corpus(spark, out).select("doc_id")
    r = after.agg(
        F.count("*"),
        F.coalesce(F.sum("doc_id"), F.lit(0)),
        F.sum((F.col("doc_id") % 9 == 3).cast("long")),
    ).collect()[0]
    n_after, sum_after, n_td_left = int(r[0]), int(r[1]), int(r[2] or 0)

    # batch semantics minus the takedown set, independently recomputed
    keeper = F.min("doc_id").over(Window.partitionBy("__dg"))
    batch_kept = (
        sample.withColumn("__dg", F.md5("text"))
        .withColumn("__k", keeper)
        .filter(F.col("doc_id") == F.col("__k"))
        .withColumn("q", quality_score_col(F.col("text")))
        .filter(F.col("q") >= F.lit(0.5))
        .filter(F.col("doc_id") % 9 != 3)
        .select("doc_id")
    )
    n_mismatch = int(
        after.exceptAll(batch_kept)
        .unionByName(batch_kept.exceptAll(after))
        .count()
    )

    # precondition, asserted loudly (ADVICE r9): the re-commit verdict is
    # oracle-pinned TRUE, so a fixture drift that empties the takedown
    # overlap (no kept doc with doc_id % 9 == 3) must fail HERE at
    # generation time, not surface as a silent oracle mismatch
    if reingest_id is None:
        raise AssertionError(
            "x101 fixture drift: no kept doc has doc_id % 9 == 3, the "
            "takedown/re-ingest verdicts would be vacuous"
        )
    curate_batch(
        sample.filter(F.col("doc_id") == int(reingest_id)), 99, index, out
    )
    # the post-re-ingest count folds into the returned plan (the x100
    # r17 pattern; no further mutation follows, so lazy evaluation sees
    # the same committed corpus). The earlier collects CANNOT fold: they
    # snapshot the corpus between mutations, and a lazy re-read after
    # the re-ingest would see the re-added doc.
    n2_agg = (
        curated_corpus(spark, out)
        .filter(F.col("doc_id") == int(reingest_id))
        .agg(F.count("*").alias("__n2"))
    )
    return (
        spark.range(1)
        .crossJoin(n2_agg)
        .select(
            F.lit(n_before).cast("long").alias("n_kept_before"),
            F.lit(n_after).cast("long").alias("n_kept_after"),
            F.lit(sum_after).cast("long").alias("sum_id_after"),
            F.lit(n_td_left == 0).alias("takedown_ids_absent"),
            F.lit(n_mismatch == 0).alias(
                "corpus_equals_batch_minus_takedown"
            ),
            (F.col("__n2") == 1).alias("reingest_recommits"),
        )
    )


# --------------------------------------------------------------------------
# X102 — minhash-index compaction verdict: the one index-lifecycle
# operation still without a driver row (build/append/probe/edges = x76/
# x79, delete = inside x101's takedown). Clone the shared base fixture,
# append the ingest wave (leaving the multi-partition, multi-file layout
# appends create), run compact_minhash_index — the fsync-fenced
# marker-swap of BOTH tables (operators/index_commit.py) — and verdict
# that the guarded edge set is byte-identical across the rewrite while
# the file count strictly shrank. The oracle recomputes the edge-set
# fingerprint from scratch over the full corpus and pins the verdicts
# TRUE: a hash match certifies compaction changed LAYOUT and nothing
# else. Driver-gated, not benched (budget policy: lifecycle machinery).
# --------------------------------------------------------------------------
def _x102_oracle() -> str:
    from .extensions import _minhash_guarded_edges_oracle

    return _minhash_guarded_edges_oracle() + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COALESCE(SUM(a_id + b_id), 0) AS BIGINT) AS edge_id_sum,
           TRUE AS edges_unchanged_by_compaction,
           TRUE AS files_compacted
    FROM edges
"""


@query("x102_index_compaction_verdict", oracle=_x102_oracle())
def x102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build(base) -> append(ingest wave) -> snapshot edges -> compact ->
    verdict row: edge set unchanged (symmetric exceptAll), parquet file
    count strictly smaller."""
    import os

    import shutil as _sh

    from ..operators.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
        minhash_index_edges,
    )
    from .extensions10 import _minhash_base_index

    docs = load_table(spark, sf_dir, "documents")
    base = _minhash_base_index(spark, sf_dir)
    path = scratch_index_dir(spark, "mhidx_x102_")
    _sh.rmtree(path)
    _sh.copytree(base, path)
    append_to_minhash_index(docs.filter(F.col("doc_id") % 5 == 4), path)

    def n_files() -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    before = minhash_index_edges(spark, path).localCheckpoint(eager=True)
    files_before = n_files()
    # precondition, asserted loudly (ADVICE r9): files_compacted is
    # oracle-pinned TRUE, so a fixture/partitioning change that leaves
    # the post-append layout already single-file must fail HERE, not
    # flip the pinned verdict into a silent oracle mismatch
    if files_before <= 2:
        raise AssertionError(
            f"x102 fixture drift: post-append layout has only "
            f"{files_before} parquet files across docs+sigs — compaction "
            f"to 1 file per table could not strictly shrink it"
        )
    compact_minhash_index(spark, path, target_partitions=1)
    files_after = n_files()
    after = minhash_index_edges(spark, path)
    # mismatch cardinality in-plan (the x100 r17 pattern): compaction is
    # the last mutation, so lazy evaluation compares the same committed
    # index — one final action instead of two
    mis = (
        before.exceptAll(after)
        .unionByName(after.exceptAll(before))
        .agg(F.count("*").alias("__mis"))
    )
    return (
        after.agg(
            F.count("*").cast("long").alias("n_edges"),
            F.coalesce(F.sum(F.col("a_id") + F.col("b_id")), F.lit(0))
            .cast("long")
            .alias("edge_id_sum"),
        )
        .crossJoin(mis)
        .select(
            "n_edges",
            "edge_id_sum",
            (F.col("__mis") == 0).alias("edges_unchanged_by_compaction"),
            F.lit(files_after < files_before).alias("files_compacted"),
        )
    )
