"""Round-6 extension queries: incremental dedup index lifecycle (x76+).

Reference parity note: the reference never persists dedup state (it has no
dedup at all); this family is the LLM-data-pipeline north star — the
production lifecycle of the x04 near-dup machinery on a growing corpus.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..sources.tables import load_table
from .extensions import _minhash_guarded_edges_oracle, _minhash_oracle
from .registry import query, scratch_index_dir, session_fixture


# --------------------------------------------------------------------------
# X76 — incremental near-dup dedup: build index on the base corpus, append
# an ingest batch, query edges from stored signatures. The oracle is the
# BATCH re-run from scratch over the full corpus (x04's guarded edge
# semantics) — hash-equality proves append-then-query == rebuild.
# --------------------------------------------------------------------------
# x76 and x79 exercise two contracts of the SAME base index (built on
# the doc_id % 5 != 4 corpus): append-then-edges vs ingest probe. Since
# round 9 they share one build-or-reuse fixture per (session, sf_dir)
# under the bench budget policy (BENCH_NOTES round 9): x79 probes the
# fixture read-only; x76 clones it (driver-side copytree of the tiny
# docs/sigs tables) before appending, so the fixture itself stays the
# pristine base state whatever the run order.
def _minhash_base_index(spark: SparkSession, sf_dir: str) -> str:
    from ..operators.minhash_index import build_minhash_index

    def build() -> str:
        docs = load_table(spark, sf_dir, "documents")
        path = scratch_index_dir(spark, "mhbase_")
        build_minhash_index(docs.filter(F.col("doc_id") % 5 != 4), path)
        return path

    return session_fixture(spark, sf_dir, "minhash_base", build)


@query(
    "x76_incremental_dedup",
    oracle=_minhash_guarded_edges_oracle() + "SELECT a_id, b_id FROM edges",
)
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (VERDICT r5 task #4): the corpus arrives
    in two waves (doc_id % 5 == 4 is the 'new ingest' batch). The first
    wave builds a persisted MinHash index (operators/minhash_index.py:
    docs/ digests + one signature row per DISTINCT text); the second wave
    APPENDS — signing only digests the index has never seen — and the
    guarded edge set (exact-dup chains + tier/capped representative band
    pairs) is then computed from stored state alone, with no text re-read
    and no re-signing of the base corpus. The DuckDB oracle recomputes
    the same edges from scratch over the full table, so the hash match IS
    the append==rebuild proof. Plan: append = one digest anti-join + the
    minhash pipeline over the novel slice only; edges = one digest window
    + the x04 capped self-join over signature-derived bands."""
    from ..operators.minhash_index import (
        append_to_minhash_index,
        minhash_index_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = _minhash_base_index(spark, sf_dir)
    # clone the shared base fixture before mutating it: the append below
    # must not turn x79's pristine-base probe into a post-append probe
    path = scratch_index_dir(spark, "mhidx_x76_")
    shutil.rmtree(path)
    shutil.copytree(base, path)
    append_to_minhash_index(docs.filter(F.col("doc_id") % 5 == 4), path)
    return minhash_index_edges(spark, path)


# --------------------------------------------------------------------------
# X77 — per-source document cap (crawl anti-domination sampling)
# --------------------------------------------------------------------------
_X77_CAP = 20


@query(
    "x77_source_cap",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             (doc_id % 2147483648) * 1103515245 % 2147483648 % 1000000
               AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY hv, doc_id) AS rk
      FROM h
    )
    SELECT source, doc_id, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {_X77_CAP}
    """,
)
def x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the crawl pipeline's anti-domination rule
    (C4/RefinedWeb-style: no single domain may flood the mixture): each
    source keeps its cap=20 documents with the smallest deterministic LCG
    hash — a uniform, reproducible-without-RNG sample, tie-broken by
    doc_id — so re-runs, engines, and partitionings all pick the same
    survivors. Plan: the selection is the SALTED two-phase top-k
    (operators/topk.py, q57's machinery) on the negated hash, so a heavy
    source never funnels through one window task at 100 TB; the salt only
    routes work, the result is exact top-k and thus salt-independent —
    which is why the oracle can ignore it."""
    from ..functions.hashing import lcg_bucket
    from ..operators.topk import topk_per_group

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        (-lcg_bucket(F.col("doc_id"), 1_000_000)).alias("neg_hv"),
    )
    kept = topk_per_group(
        h,
        group_cols=["source"],
        order_col="neg_hv",
        k=_X77_CAP,
        tiebreak_cols=("doc_id",),
        rank_col="rk",
    )
    return kept.select("source", "doc_id", F.col("rk").cast("int").alias("rk"))


# --------------------------------------------------------------------------
# X80 — near-dup decontamination: train docs whose MinHash bands collide
# with the held-out benchmark split, verified by exact shingle-set Jaccard.
# x48 catches exact n-gram overlap; this catches PARAPHRASE-level leakage
# (the published concern behind fuzzy decontamination in Llama/GPT data
# notes) — candidates only from band collisions, never all-pairs.
# --------------------------------------------------------------------------
@query(
    "x80_neardup_decontam",
    oracle=_minhash_oracle()
    + """,
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(w2) - 2),
               i -> w2[i] || ' ' || w2[i+1] || ' ' || w2[i+2])) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS w2 FROM documents)
    ),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, b.doc_id AS bench_id
      FROM bands t JOIN bands b
        ON t.band = b.band AND t.bucket = b.bucket
      WHERE t.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
    ),
    scored AS (
      SELECT c.train_id, c.bench_id,
             FLOOR(CAST(len(list_intersect(st.s, sb.s)) AS DOUBLE)
                   / (len(st.s) + len(sb.s)
                      - len(list_intersect(st.s, sb.s)))
                   * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM cand c
      JOIN sets st ON st.doc_id = c.train_id
      JOIN sets sb ON sb.doc_id = c.bench_id
    )
    SELECT train_id, bench_id, jaccard, jaccard >= 0.5 AS flagged
    FROM scored
    """,
)
def x80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination: MinHash band collisions between the
    training corpus and the held-out benchmark split (doc_id % 10 = 7,
    x48's split) become candidate pairs; each is verified by EXACT
    word-3-gram shingle-set Jaccard, flagged at >= 0.5. See
    :func:`neardup_decontam` for the plan and the broadcast guard."""
    return neardup_decontam(load_table(spark, sf_dir, "documents"))


def neardup_decontam(
    docs: DataFrame, broadcast_small: bool = True
) -> DataFrame:
    """Plan: ONE signing pass over the corpus, bands split by the hash
    rule, the bench band table joined into the collision scan — the train
    side never shuffles for candidate generation; verification joins
    shingle sets by doc_id for CANDIDATE docs only (semi-join, never two
    full-corpus 3-gram passes). Worst-case candidate volume is the true
    contamination size (every colliding train doc IS a report row), never
    an all-pairs blow-up.

    ``broadcast_small`` gates the two data-derived broadcast hints (the
    x60/x62 guard pattern): the bench band table is eval-suite-sized and
    the candidate id set is contamination-sized — both tiny on healthy
    data, but a massively contaminated 100 TB corpus should pass False so
    they degrade to shuffle joins on the same keys."""
    from ..operators.dedup import minhash_bands, minhash_signatures

    hint = F.broadcast if broadcast_small else (lambda d: d)
    bands = minhash_bands(minhash_signatures(docs))
    train_b = bands.filter(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("train_id"), "band", "bucket"
    )
    bench_b = bands.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("bench_id"), "band", "bucket"
    )
    # materialize the candidate list once (it feeds the id set AND the
    # final join) — bounded by the true contamination size
    cand = (
        train_b.join(hint(bench_b), ["band", "bucket"])
        .select("train_id", "bench_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = F.split(F.col("text"), " ")
    from .extensions7 import _word_grams

    cand_ids = (
        cand.select(F.col("train_id").alias("doc_id"))
        .unionByName(cand.select(F.col("bench_id").alias("doc_id")))
        .distinct()
    )
    sets = docs.join(hint(cand_ids), "doc_id", "semi").select(
        "doc_id", F.array_distinct(_word_grams(w, 3)).alias("s")
    )
    st = sets.select(F.col("doc_id").alias("train_id"), F.col("s").alias("st"))
    sb = sets.select(F.col("doc_id").alias("bench_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("st", "sb")).cast("double")
    jac = inter / (F.size("st") + F.size("sb") - inter)
    return (
        cand.join(st, "train_id")
        .join(sb, "bench_id")
        .select(
            "train_id",
            "bench_id",
            portable_round(jac, 4).alias("jaccard"),
        )
        .withColumn("flagged", F.col("jaccard") >= 0.5)
    )


# --------------------------------------------------------------------------
# X79 — index probe report: an ingest batch checked against the persisted
# index BEFORE appending (the dedup decision a pipeline makes at ingest
# time). Matches are digest-granular: keeper id + member count, so a batch
# doc matching a million identical indexed docs is ONE row.
# --------------------------------------------------------------------------
@query(
    "x79_index_probe",
    oracle=_minhash_oracle()
    + """,
    dg AS (SELECT doc_id, md5(text) AS dgst FROM documents),
    base_dg AS (
      SELECT dgst, MIN(doc_id) AS index_id, CAST(COUNT(*) AS INT) AS n
      FROM dg WHERE doc_id % 5 <> 4 GROUP BY dgst
    ),
    delta AS (SELECT doc_id, dgst FROM dg WHERE doc_id % 5 = 4),
    ex AS (
      SELECT d.doc_id AS batch_id, b.index_id, 'exact' AS via, b.n
      FROM delta d JOIN base_dg b USING (dgst)
    ),
    bband AS (
      SELECT bd.dgst, bn.band, bn.bucket
      FROM base_dg bd JOIN bands bn ON bn.doc_id = bd.index_id
    ),
    dband AS (
      SELECT d.doc_id, bn.band, bn.bucket
      FROM delta d JOIN bands bn ON bn.doc_id = d.doc_id
    ),
    bm AS (
      SELECT DISTINCT d.doc_id AS batch_id, bb.dgst
      FROM dband d JOIN bband bb
        ON d.band = bb.band AND d.bucket = bb.bucket
    ),
    nr AS (
      SELECT bm.batch_id, b.index_id, 'band' AS via, b.n
      FROM bm JOIN base_dg b USING (dgst)
    )
    SELECT DISTINCT batch_id, index_id, via, n AS n_members
    FROM (SELECT * FROM ex UNION ALL SELECT * FROM nr)
    """,
)
def x79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup probe: the doc_id % 5 == 4 wave is checked
    against an index built on the rest — exact digest hits and band
    collisions, reported per matched digest GROUP (keeper + member count)
    so mass duplication in the index cannot explode the report. The batch
    side is broadcast; indexed texts are never read or re-signed. The
    oracle recomputes both match kinds from scratch over the full table,
    proving the stored-state probe equals the from-scratch semantics."""
    from ..operators.minhash_index import minhash_index_probe

    docs = load_table(spark, sf_dir, "documents")
    path = _minhash_base_index(spark, sf_dir)  # read-only probe
    return minhash_index_probe(
        spark, path, docs.filter(F.col("doc_id") % 5 == 4)
    )


# --------------------------------------------------------------------------
# X81 — boilerplate strip: REMOVE cross-document duplicated passages and
# reassemble the cleaned text (the RefinedWeb/CCNet line-dedup step as a
# WRITE-side operator — x62/x66 only measure the redundancy, this one
# produces the cleaned corpus).
# --------------------------------------------------------------------------
_STRIP_CHUNK = 8


@query(
    "x81_boilerplate_strip",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             LEN(string_split(text, ' ')) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             UNNEST(range(0, CAST(CEIL(n / {_STRIP_CHUNK}.0) AS BIGINT)))
               AS cid,
             ws, n
      FROM w
    ),
    chunks AS (
      SELECT doc_id, cid,
             array_to_string(list_slice(
               ws, cid * {_STRIP_CHUNK} + 1,
               LEAST((cid + 1) * {_STRIP_CHUNK}, n)), ' ') AS chunk
      FROM ch
    ),
    freq AS (
      SELECT md5(chunk) AS fp, COUNT(DISTINCT doc_id) AS nd
      FROM chunks GROUP BY md5(chunk)
    ),
    verdicts AS (
      SELECT c.doc_id, c.cid, c.chunk, f.nd >= 2 AS boiler
      FROM chunks c JOIN freq f ON md5(c.chunk) = f.fp
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT boiler THEN chunk END, ' '
                               ORDER BY cid), '') AS cleaned,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS INT)
             AS n_removed,
           CAST(COUNT(*) AS INT) AS n_chunks
    FROM verdicts GROUP BY doc_id
    """,
)
def x81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate strip: non-overlapping 8-word passages that occur
    in >= 2 DISTINCT documents (byte-identical after the word split) are
    REMOVED and each document's cleaned text is reassembled from its kept
    passages in order — the cleaned-corpus producer on top of the x63/x66
    measurement family. Plan: narrow chunk construction (sequence +
    slice, no shuffle), ONE chunk-key aggregation for distinct-doc
    counts, the verdict joins back on the SAME chunk key (co-partitioned,
    reusing the agg's exchange — deliberately NOT a broadcast: the chunk
    table is corpus-derived), then one doc_id agg rebuilds the text via
    an ordered collect. Every step is exact and engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    k = _STRIP_CHUNK
    w = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    ch = w.select(
        "doc_id",
        "ws",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.col("n") / float(k)).cast("int") - 1)
        ).alias("cid"),
    )
    chunk = F.concat_ws(
        " ",
        F.slice(
            F.col("ws"),
            F.col("cid") * k + 1,
            F.least(F.lit(k), F.col("n") - F.col("cid") * k),
        ),
    )
    chunks = ch.select("doc_id", "cid", chunk.alias("chunk"))
    freq = (
        chunks.groupBy(F.md5("chunk").alias("fp"))
        .agg(F.countDistinct("doc_id").alias("nd"))
    )
    verdicts = chunks.withColumn("fp", F.md5("chunk")).join(
        freq, "fp"
    ).select("doc_id", "cid", "chunk", (F.col("nd") >= 2).alias("boiler"))
    kept_struct = F.when(
        ~F.col("boiler"), F.struct("cid", "chunk")
    )
    return (
        verdicts.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(kept_struct)
                        ),
                        lambda s: s["chunk"],
                    ),
                ),
                F.lit(""),
            ).alias("cleaned"),
            F.sum(F.col("boiler").cast("int")).cast("int").alias("n_removed"),
            F.count("*").cast("int").alias("n_chunks"),
        )
    )


# --------------------------------------------------------------------------
# X82 — content-defined chunking (CDC): chunk boundaries from a rolling
# hash of the last W words, so an insertion early in a document shifts
# only ONE chunk's fingerprint instead of every downstream chunk (the
# property fixed-stride x63 lacks, and the reason CDC is the canonical
# chunking for dedup-friendly storage — Rabin/FastCDC family).
# --------------------------------------------------------------------------
_CDC_W, _CDC_D = 4, 8  # window words, boundary divisor (expected ~8-word chunks)
_CDC_B, _CDC_M = 1_000_003, 2_147_483_647


@query(
    "x82_cdc_chunks",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             LEN(string_split(text, ' ')) AS n
      FROM documents
    ),
    wh AS (
      SELECT doc_id, ws, n,
             list_transform(
               ws, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS whs
      FROM w
    ),
    b AS (
      SELECT doc_id, ws, n,
             list_concat(
               list_filter(
                 list_filter(
                   range({_CDC_W}, n + 1),
                   i -> ((((whs[i-3] % {_CDC_M}) * {_CDC_B} + whs[i-2])
                          % {_CDC_M} * {_CDC_B} + whs[i-1])
                         % {_CDC_M} * {_CDC_B} + whs[i])
                        % {_CDC_M} % {_CDC_D} = 0),
                 e -> e < n),
               [n]) AS ends
      FROM wh
    ),
    c AS (
      SELECT doc_id, ws, ends,
             UNNEST(ends) AS e,
             GENERATE_SUBSCRIPTS(ends, 1) AS c
      FROM b
    )
    SELECT doc_id,
           CAST(c - 1 AS INT) AS chunk_idx,
           CAST(CASE WHEN c = 1 THEN 1 ELSE ends[c - 1] + 1 END AS INT)
             AS start,
           CAST(e - (CASE WHEN c = 1 THEN 1 ELSE ends[c - 1] + 1 END) + 1
             AS INT) AS n_words,
           substr(md5(array_to_string(list_slice(
             ws, CASE WHEN c = 1 THEN 1 ELSE ends[c - 1] + 1 END, e), ' ')),
             1, 8) AS fingerprint
    FROM c
    """,
)
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: a boundary closes after word i whenever
    the rolling polyhash of words (i-3..i) hits 0 mod 8 (plus a forced
    final boundary), giving ~8-word chunks whose fingerprints are
    SHIFT-RESISTANT — editing one passage re-fingerprints only the chunks
    it touches, so incremental chunk-level dedup (x66) and RAG index
    updates stay local. The hash is exact int64 arithmetic on md5 word
    halves (identical in DuckDB, so boundaries — and therefore every
    fingerprint — are oracle-pinned bit-for-bit).

    Plan: ONE Arrow-batched mapInPandas kernel (the x13 rolling-hash
    precedent) — zero shuffles, no exchange (plan-asserted). A pure
    expression-tree formulation was tried first and abandoned: Catalyst
    inlines the per-word-hash array transform into every element_at of
    the rolling window, re-hashing the whole document per position —
    O(n²) md5s, measured 36.8 s at sf0.1 vs ~0.5 s for this kernel. The
    kernel memoizes word hashes per partition (Zipfian corpus: far fewer
    distinct words than tokens)."""
    import hashlib

    import pandas as pd

    from ..sources.tables import spread_small_input

    docs = load_table(spark, sf_dir, "documents")
    W, D, B, M = _CDC_W, _CDC_D, _CDC_B, _CDC_M

    def fn(batches):
        memo: dict[str, int] = {}

        def wh(word: str) -> int:
            v = memo.get(word)
            if v is None:
                v = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
                memo[word] = v
            return v

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws = (text or "").split(" ")
                n = len(ws)
                hs = [wh(w) for w in ws]
                ends = []
                for i in range(W, n + 1):  # 1-based window end
                    acc = hs[i - 4] % M
                    acc = (acc * B + hs[i - 3]) % M
                    acc = (acc * B + hs[i - 2]) % M
                    acc = (acc * B + hs[i - 1]) % M
                    if acc % D == 0 and i < n:
                        ends.append(i)
                ends.append(n)
                start = 1
                for c, e in enumerate(ends):
                    chunk = " ".join(ws[start - 1 : e])
                    rows.append(
                        (
                            int(doc_id),
                            c,
                            start,
                            e - start + 1,
                            hashlib.md5(chunk.encode()).hexdigest()[:8],
                        )
                    )
                    start = e + 1
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "chunk_idx", "start", "n_words", "fingerprint"
                ],
            )

    return spread_small_input(docs.select("doc_id", "text")).mapInPandas(
        fn,
        "doc_id long, chunk_idx int, start int, n_words int, "
        "fingerprint string",
    )


# --------------------------------------------------------------------------
# X78 — PNG decode under the oracle gate (x14's closed-form pattern):
# deterministic pixels -> encode_png (color type AND scanline filter vary
# per doc, so gray/RGB/RGBA and all five unfilter paths are exercised) ->
# decode_png -> pixel statistics; the oracle recomputes the statistics in
# closed form from the generating expression, so any chunk/zlib/filter
# bug in the codec breaks the hash compare.
# --------------------------------------------------------------------------
@query(
    "x78_png_features",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 48 ELSE 64 END AS n
      FROM documents
    ),
    stats AS (
      SELECT px.doc_id,
             AVG((px.doc_id * 11 + p * 7) % 256) AS mean_v,
             CAST(MAX((px.doc_id * 11 + p * 7) % 256) AS INT) AS max_v,
             CAST(MIN((px.doc_id * 11 + p * 7) % 256) AS INT) AS min_v
      FROM px, UNNEST(GENERATE_SERIES(0, px.n - 1)) AS t(p)
      GROUP BY px.doc_id
    )
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'gray' WHEN 1 THEN 'rgb'
                ELSE 'rgba' END AS ctype,
           CAST(doc_id % 5 AS INT) AS filter_type,
           4 AS width, 4 AS height,
           FLOOR(mean_v * 10000.0 + 0.5) / 10000.0 AS stat_mean,
           max_v AS stat_max, min_v AS stat_min
    FROM stats JOIN px USING (doc_id)
    """,
)
def x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG codec end-to-end (un-gating VERDICT r5 'missing' #3 for
    png): 4x4 images with pixels (doc_id*11 + p*7) % 256 — grayscale /
    RGB / RGBA by doc_id % 3, scanline filter doc_id % 5 — are encoded
    with the dependency-free PNG writer inside an Arrow stage, decoded
    back by the stdlib-zlib + numpy reader (`multimodal/binary_ops.py:
    decode_png`), and reduced to pixel statistics. Media bytes never
    cross a shuffle (scan -> mapInPandas -> narrow select)."""
    import numpy as np
    import pandas as pd

    from ..functions.rounding import portable_round
    from ..multimodal.binary_ops import (
        MEDIA_SCHEMA,
        decode_png,
        encode_png,
    )
    from ..sources.tables import spread_small_input

    docs = load_table(spark, sf_dir, "documents")

    def encode(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                ctype = ["gray", "rgb", "rgba"][doc_id % 3]
                n = {"gray": 16, "rgb": 48, "rgba": 64}[ctype]
                px = (
                    (np.arange(n, dtype=np.int64) * 7 + doc_id * 11) % 256
                ).astype(np.uint8)
                shape = {
                    "gray": (4, 4),
                    "rgb": (4, 4, 3),
                    "rgba": (4, 4, 4),
                }[ctype]
                data = encode_png(px.reshape(shape), filter_type=doc_id % 5)
                rows.append((doc_id, "image", "png", data, None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "fmt", "data", "meta"]
            )

    media = spread_small_input(docs.select("doc_id")).mapInPandas(
        encode, MEDIA_SCHEMA
    )

    def decode(batches):
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = decode_png(bytes(data))
                flat = arr.astype(np.float64).ravel()
                h, w = arr.shape[:2]
                out.append(
                    (
                        int(mid),
                        int(w),
                        int(h),
                        float(flat.mean()),
                        int(flat.max()),
                        int(flat.min()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "mean_v", "max_v", "min_v"
                ],
            )

    feats = media.mapInPandas(
        decode,
        "media_id long, width int, height int, mean_v double, "
        "max_v int, min_v int",
    )
    ctype = F.element_at(
        F.array(F.lit("gray"), F.lit("rgb"), F.lit("rgba")),
        (F.col("media_id") % 3 + 1).cast("int"),
    )
    return feats.select(
        "media_id",
        ctype.alias("ctype"),
        (F.col("media_id") % 5).cast("int").alias("filter_type"),
        "width",
        "height",
        portable_round(F.col("mean_v"), 4).alias("stat_mean"),
        F.col("max_v").alias("stat_max"),
        F.col("min_v").alias("stat_min"),
    )
