"""LLM-data-pipeline extension queries (driver north star): dedup,
similarity search, text analysis — each implemented with the package's
operators and, wherever the computation is portable, oracle-checked against
DuckDB. Hashing is md5/integer-arithmetic only (functions.hashing), so the
oracle replicates the EXACT computation, not an approximation of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


# --------------------------------------------------------------------------
# X1 — exact dedup: hash-groupBy on the text digest
# --------------------------------------------------------------------------
@query(
    "x01_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, MIN(doc_id) AS keeper, COUNT(*) AS dups
    FROM documents GROUP BY md5(text)
    """,
)
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# X2 — fingerprint dedup: case/word-order-insensitive key
# --------------------------------------------------------------------------
@query(
    "x02_dedup_fingerprint",
    oracle="""
    SELECT md5(array_to_string(
             list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
           AS fingerprint,
           MIN(doc_id) AS keeper, COUNT(*) AS dups
    FROM documents GROUP BY fingerprint
    """,
)
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fingerprint_dedup

    return fingerprint_dedup(load_table(spark, sf_dir, "documents"))


def _minhash_oracle(
    num_hashes: int = 8, rows_per_band: int = 2, source: str = "documents"
) -> str:
    """Shared oracle CTE text: word-3-gram shingles -> one md5 split into a
    Kirsch-Mitzenmacher 32-bit pair -> k xorshift-multiply-mixed min-hashes
    (73244475 = 0x45D9F3B) -> band buckets. Mirrors
    operators.dedup.minhash_signatures/minhash_bands computation exactly
    (integer arithmetic on md5 halves is engine-portable). ``source`` is the
    (doc_id, text) relation to sign — the guarded pipeline signs collapsed
    representatives, not the raw corpus. ``bands`` carries ``sig`` (the
    '|'-joined full signature) for the tier guard."""
    def mix32(h: str) -> str:
        return f"(xor({h} >> 16, {h}) * 73244475 % 4294967296)"

    hash_cols = ",\n             ".join(
        "MIN(xor({h} >> 16, {h})) AS h{j}".format(
            h=mix32(mix32(f"((hx + {j} * hy) % 4294967296)")), j=j
        )
        for j in range(num_hashes)
    )
    sig_concat = " || '|' || ".join(
        f"h{j}::VARCHAR" for j in range(num_hashes)
    )
    n_bands = num_hashes // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cols}) AS bucket,"
        " {sig} AS sig FROM sig".format(
            b=b,
            cols=" || '|' || ".join(
                f"h{j}::VARCHAR"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
            sig=sig_concat,
        )
        for b in range(n_bands)
    )
    return f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM {source}
    ),
    sh AS (
      SELECT doc_id,
             UNNEST(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM ws
    ),
    hp AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 8))::BIGINT AS hx,
             ('0x' || substr(md5(sh), 9, 8))::BIGINT AS hy
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {hash_cols}
      FROM hp GROUP BY doc_id
    ),
    bands AS ({band_selects})
    """


def _minhash_guarded_edges_oracle(
    num_hashes: int = 8,
    rows_per_band: int = 2,
    bucket_cap: int = 64,
    source: str = "documents",
) -> str:
    """Oracle CTE chain mirroring ``operators.dedup.minhash_dedup_edges``
    EXACTLY, guard included (the bounded semantics ARE the declared
    semantics, as with x33's fuzzy guard): exact-dup collapse to min-id
    keepers -> chains -> minhash banding over representatives -> md5(sig)
    tier-bucket + ROW_NUMBER cap on oversized buckets -> capped pairs ->
    ``edges`` = chains UNION ALL pairs (disjoint by construction). Ends
    with the ``edges`` CTE defined; callers append their SELECT."""
    base = _minhash_oracle(num_hashes, rows_per_band, source="reps")
    collapse = f"""
    WITH dg AS (
      SELECT doc_id, text, md5(text) AS dgst FROM {source}
    ),
    lab AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY dgst) AS keeper
      FROM dg
    ),
    chains AS (
      SELECT keeper AS a_id, doc_id AS b_id FROM lab WHERE doc_id <> keeper
    ),
    reps AS (
      SELECT doc_id, text FROM lab WHERE doc_id = keeper
    ),
    """
    # splice: drop the bare "WITH" of the base oracle, keep its CTE list
    base_ctes = base.strip()
    assert base_ctes.startswith("WITH")
    base_ctes = base_ctes[len("WITH"):]
    return (
        collapse
        + base_ctes
        + f""",
    bw AS (
      SELECT band, bucket, COUNT(*) AS w FROM bands GROUP BY band, bucket
    ),
    tiered AS (
      SELECT b.doc_id, b.band, b.bucket,
             CASE WHEN bw.w <= {bucket_cap} THEN 0
                  ELSE (('0x' || substr(md5(b.sig), 1, 8))::BIGINT)
                       % CAST(CEIL(bw.w / {bucket_cap}.0) AS BIGINT)
             END AS tier
      FROM bands b JOIN bw ON b.band = bw.band AND b.bucket = bw.bucket
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY band, bucket, tier ORDER BY doc_id) AS rk
      FROM tiered
    ),
    rep_pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM ranked a JOIN ranked b
        ON a.band = b.band AND a.bucket = b.bucket AND a.tier = b.tier
       AND a.doc_id < b.doc_id
      WHERE a.rk <= {bucket_cap} AND b.rk <= {bucket_cap}
    ),
    edges AS (
      SELECT a_id, b_id FROM chains
      UNION ALL
      SELECT a_id, b_id FROM rep_pairs
    )
    """
    )


# --------------------------------------------------------------------------
# X3 — MinHash LSH band buckets (signature computation, per doc x band)
# --------------------------------------------------------------------------
@query(
    "x03_minhash_bands",
    oracle=_minhash_oracle() + "SELECT doc_id, band, bucket FROM bands",
)
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_bands, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return minhash_bands(minhash_signatures(docs)).select(
        "doc_id", "band", "bucket"
    )


# --------------------------------------------------------------------------
# X4 — MinHash LSH near-dup edges (guarded: exact-dup collapse + hot-bucket
# tier/cap). Output = keeper->member chain edges for byte-identical groups
# UNION representative-level band-collision pairs; same connected
# components as the raw quadratic pair set, linear edge count under mass
# duplication (VERDICT r5 task #1).
# --------------------------------------------------------------------------
@query(
    "x04_minhash_pairs",
    oracle=_minhash_guarded_edges_oracle()
    + "SELECT a_id, b_id FROM edges",
)
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_dedup_edges

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_edges(docs)


# --------------------------------------------------------------------------
# X5 — SimHash fingerprints (16-bit oracle variant)
# --------------------------------------------------------------------------
@query(
    "x05_simhash",
    oracle="""
    WITH ws AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    hv AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1) AS v
      FROM ws
    ),
    bits AS (
      SELECT doc_id,
             {sums}
      FROM hv GROUP BY doc_id
    )
    SELECT doc_id, CAST({assemble} AS INT) AS sh FROM bits
    """.format(
        sums=",\n             ".join(
            f"SUM(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
            for b in range(16)
        ),
        assemble=" + ".join(
            f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(16)
        ),
    ),
)
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_df

    docs = load_table(spark, sf_dir, "documents")
    return simhash_df(docs, n_bits=16)


# --------------------------------------------------------------------------
# X6 — n-gram (word-set) Jaccard: top-20 most similar pairs
# --------------------------------------------------------------------------
@query(
    "x06_ngram_jaccard",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           FLOOR((inter / (sa.n + sb.n - inter)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON a_id = sa.doc_id
    JOIN sizes sb ON b_id = sb.doc_id
    ORDER BY jaccard DESC, a_id, b_id
    LIMIT 20
    """,
)
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, top_n=20)


# --------------------------------------------------------------------------
# X7 (de-registered round 16): the brute-force cosine top-k exact
# baseline (operators/similarity.brute_force_topk over queries 0-9) was
# a standalone oracle row through r15 (green rows r01-r15). x83's ANN
# recall harness RUNS the same operator as its ground truth — exact
# top-5 over queries 100-109 against the full corpus — so the operator
# stays on the oracle gate through x83 and the sweep no longer pays a
# second brute-force pass (VERDICT r15 #2 consolidation plan).
# tests/test_similarity.py keeps the operator's direct pytest coverage.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# X8 — LSH-bucketed approximate NN (the 100 TB scale path). The hyperplanes
# are deterministic ±1 sign planes from an integer hash, computed over
# round(v*1000) fixed-point vectors — exact int64 arithmetic, so the same
# signatures (and hence the same candidate set) are reproducible in DuckDB
# SQL and the query is fully oracle-checkable. Recall vs the exact baseline
# is additionally pinned by tests/test_similarity.py.
# --------------------------------------------------------------------------
# 4 tables x 8 planes over dim-64 vectors (operators.similarity defaults).
_LSH_SIG_CTE = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ex AS (
      SELECT vec_id, UNNEST(emb) AS v, GENERATE_SUBSCRIPTS(emb, 1) - 1 AS d
      FROM e
    ),
    exq AS (
      SELECT vec_id, d, v, CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT) AS qv
      FROM ex
    ),
    planes AS (
      SELECT g, d,
             CASE WHEN ((((g * 40503 + d + 1) * 2654435761) % 2147483648)
                        // 32768) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM generate_series(0, 31) t1(g), generate_series(0, 63) t2(d)
    ),
    dots AS (
      SELECT exq.vec_id, pl.g, SUM(pl.s * exq.qv) AS dotv
      FROM exq JOIN planes pl ON exq.d = pl.d
      GROUP BY exq.vec_id, pl.g
    ),
    sigs AS (
      SELECT vec_id, g // 8 AS tbl,
             SUM(CASE WHEN dotv > 0 THEN CAST(POW(2, g % 8) AS BIGINT)
                 ELSE 0 END) AS sig
      FROM dots GROUP BY vec_id, g // 8
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id)
"""

# Guarded near-dup CANDIDATE set mirroring
# operators.similarity.embedding_near_dup_pairs exactly (VERDICT r5 task
# #1): collapse vectors identical at the fixed-point quantization to min-id
# keepers (-> chain candidates), sign representatives only, md5(vq) tier +
# ROW_NUMBER cap on oversized (tbl, sig) buckets, capped rep pairs UNION
# chains. Ends with ``cand_pairs`` + ``norms`` defined.
_LSH_GUARDED_CAND_CTE = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ex AS (
      SELECT vec_id, UNNEST(emb) AS v, GENERATE_SUBSCRIPTS(emb, 1) - 1 AS d
      FROM e
    ),
    exq AS (
      SELECT vec_id, d, v, CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT) AS qv
      FROM ex
    ),
    vqs AS (
      SELECT vec_id, md5(string_agg(qv::VARCHAR, '|' ORDER BY d)) AS vq
      FROM exq GROUP BY vec_id
    ),
    labv AS (
      SELECT vec_id, vq, MIN(vec_id) OVER (PARTITION BY vq) AS keeper
      FROM vqs
    ),
    vchains AS (
      SELECT keeper AS a_id, vec_id AS b_id FROM labv WHERE vec_id <> keeper
    ),
    planes AS (
      SELECT g, d,
             CASE WHEN ((((g * 40503 + d + 1) * 2654435761) % 2147483648)
                        // 32768) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM generate_series(0, 31) t1(g), generate_series(0, 63) t2(d)
    ),
    dots AS (
      SELECT exq.vec_id, pl.g, SUM(pl.s * exq.qv) AS dotv
      FROM exq
      JOIN labv lv ON exq.vec_id = lv.vec_id AND lv.vec_id = lv.keeper
      JOIN planes pl ON exq.d = pl.d
      GROUP BY exq.vec_id, pl.g
    ),
    sigs AS (
      SELECT vec_id, g // 8 AS tbl,
             SUM(CASE WHEN dotv > 0 THEN CAST(POW(2, g % 8) AS BIGINT)
                 ELSE 0 END) AS sig
      FROM dots GROUP BY vec_id, g // 8
    ),
    sw AS (SELECT tbl, sig, COUNT(*) AS w FROM sigs GROUP BY tbl, sig),
    st AS (
      SELECT s.vec_id, s.tbl, s.sig,
             CASE WHEN sw.w <= 64 THEN 0
                  ELSE (('0x' || substr(v.vq, 1, 8))::BIGINT)
                       % CAST(CEIL(sw.w / 64.0) AS BIGINT)
             END AS tier
      FROM sigs s
      JOIN sw ON s.tbl = sw.tbl AND s.sig = sw.sig
      JOIN vqs v ON s.vec_id = v.vec_id
    ),
    sr AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY tbl, sig, tier ORDER BY vec_id) AS rk
      FROM st
    ),
    rep_cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM sr a JOIN sr b
        ON a.tbl = b.tbl AND a.sig = b.sig AND a.tier = b.tier
       AND a.vec_id < b.vec_id
      WHERE a.rk <= 64 AND b.rk <= 64
    ),
    cand_pairs AS (
      SELECT a_id, b_id FROM rep_cand
      UNION ALL
      SELECT a_id, b_id FROM vchains
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id)
"""


@query(
    "x08_similarity_ann_lsh",
    oracle=f"""
    WITH {_LSH_SIG_CTE},
    qsig AS (SELECT * FROM sigs WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      FROM qsig q
      JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
                 AND c.vec_id <> q.vec_id
    ),
    cdots AS (
      SELECT cand.query_id, cand.cand_id, SUM(a.v * b.v) AS dot
      FROM cand
      JOIN ex a ON a.vec_id = cand.query_id
      JOIN ex b ON b.vec_id = cand.cand_id AND a.d = b.d
      GROUP BY cand.query_id, cand.cand_id
    ),
    scored AS (
      SELECT query_id, cand_id, dot / (nq.nrm * nc.nrm) AS cos_raw
      FROM cdots
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
    FROM ranked WHERE rnk <= 5
    """,
)
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_ann_topk(emb, queries, k=5, dim=64)


# --------------------------------------------------------------------------
# X9 — embedding-cosine near-duplicate pairs over the same portable LSH
# buckets; the >= threshold filter applies to the ROUNDED cosine so the
# boundary is engine-portable.
# --------------------------------------------------------------------------
@query(
    "x09_embedding_near_dup",
    oracle=f"""
    WITH {_LSH_GUARDED_CAND_CTE},
    pdots AS (
      SELECT cand_pairs.a_id, cand_pairs.b_id, SUM(x.v * y.v) AS dot
      FROM cand_pairs
      JOIN ex x ON x.vec_id = cand_pairs.a_id
      JOIN ex y ON y.vec_id = cand_pairs.b_id AND x.d = y.d
      GROUP BY cand_pairs.a_id, cand_pairs.b_id
    ),
    scored AS (
      SELECT a_id, b_id,
             FLOOR((dot / (na.nrm * nb.nrm)) * 10000.0 + 0.5) / 10000.0
               AS cosine
      FROM pdots
      JOIN norms na ON a_id = na.vec_id
      JOIN norms nb ON b_id = nb.vec_id
    )
    SELECT a_id, b_id, cosine FROM scored WHERE cosine >= 0.4
    """,
)
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs from guarded LSH candidates.

    Threshold note (ADVICE r6): the synthetic embeddings fixture is
    near-isotropic — the maximum candidate cosine at sf0.001/sf0.01 is
    ~0.49 — so the production-realistic 0.9 cut made the attested result
    VACUOUS (0 rows == 0 oracle rows proves nothing about the candidate
    path). The query pins threshold=0.4 so the guarded
    collapse→band→tier/cap→verify pipeline is oracle-compared on
    NON-EMPTY output at every sf the driver uses; the threshold is a
    parameter of `embedding_near_dup_pairs`, not of the machinery."""
    from ..operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4, dim=64)


# --------------------------------------------------------------------------
# X10 — token counting / text stats
# --------------------------------------------------------------------------
@query(
    "x10_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS token_cnt,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS uniq_cnt,
           CAST(length(text) AS INT) AS char_cnt
    FROM documents
    """,
)
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count_col, words_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("token_cnt"),
        F.size(F.array_distinct(words_col(F.col("text")))).alias("uniq_cnt"),
        F.length("text").alias("char_cnt"),
    )


# --------------------------------------------------------------------------
# X11 — quality scoring (length/word-length/uniqueness/punctuation bands)
# --------------------------------------------------------------------------
@query(
    "x11_text_quality",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS nw,
             len(list_distinct(string_split(text, ' '))) AS uq,
             length(text) AS nc,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
      FROM documents
    )
    SELECT doc_id,
           FLOOR((
             0.25 * (CASE WHEN nw >= 10 AND nw <= 1000 THEN 1 ELSE 0 END)
           + 0.25 * (CASE WHEN nc / nw >= 2.0 AND nc / nw <= 12.0
                          THEN 1 ELSE 0 END)
           + 0.25 * (uq / nw)
           + 0.25 * (1.0 - least(punct / nc * 10.0, 1.0))) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM f
    """,
)
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )


# --------------------------------------------------------------------------
# X12 — language-ID heuristic (stopword-hit argmax, ties -> earliest code)
# --------------------------------------------------------------------------
def _langid_oracle() -> str:
    from ..functions.text import STOPWORDS

    hit_cols = ",\n             ".join(
        "len(list_filter(list_distinct(string_split(lower(text), ' ')), "
        f"w -> list_contains({STOPWORDS[lang]!r}, w))) AS h_{lang}"
        for lang in sorted(STOPWORDS)
    )
    return f"""
    WITH h AS (
      SELECT doc_id,
             {hit_cols}
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'unk'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                WHEN h_es >= h_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM h
    """


@query("x12_lang_id", oracle=_langid_oracle())
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id_col(F.col("text")).alias("lang_pred")
    )


# --------------------------------------------------------------------------
# X13 — rolling-hash document fingerprint (winnowing-style min window hash)
# --------------------------------------------------------------------------
@query(
    "x13_rolling_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(
             generate_series(1, length(text) - 7),
             i -> list_reduce(
                    list_transform(generate_series(0, 7),
                                   j -> CAST(ascii(substr(text, i + j, 1)) AS BIGINT)),
                    (acc, x) -> (acc * 257 + x) % 1000000007)
           )) AS fingerprint
    FROM documents
    """,
)
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import rolling_fingerprint_udf

    # no repartition: the vectorized kernel does ~0.3s of work per million
    # chars, so the scan's natural split count is always enough parallelism
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        rolling_fingerprint_udf(window=8)(F.col("text")).alias("fingerprint"),
    )
