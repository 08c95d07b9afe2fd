"""Round-4 extension queries: training-data curation signals a large-scale
LLM pipeline runs between dedup and tokenization — document-quality filter
stats, n-gram repetition signals (the Gopher/MassiveText rule family),
benchmark decontamination, containment near-dup scoring, and embedding
centroid-shift monitoring (the drift theme of the reference,
``drift_detection/drift_experiments_supervised.py``, lifted from model
space to corpus space).

Scale notes (100 TB):
- x46/x47 are ZERO-shuffle narrow maps: every signal is computed per row
  with O(1)-size expression trees (sorted-run-length folds instead of a
  gram x gram quadratic scan), so they pipeline inside one
  WholeStageCodegen over the corpus scan.
- x48 joins the corpus's n-grams against a BROADCAST of the benchmark
  gram set — eval suites are tiny next to a training corpus, so the plan
  is scan -> broadcast-hash-join -> partial-agg with no shuffle of the
  big side (the same shape published GPT-3/PaLM decontamination uses,
  with 4-word grams standing in for their 8-13-gram rule at this corpus's
  ~30-word vocabulary).
- x49 scores only LSH-candidate pairs (reuses the x03/x04 band machinery;
  never all-pairs).
- x50 is one map-side-combinable vector aggregation (Summarizer) per
  group — n_labels x dim state, independent of row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import portable_round, portable_round_sql
from ..sources.tables import load_table
from .extensions import _minhash_guarded_edges_oracle
from .fragments import _NB_EMBEDDINGS_CTES
from .registry import query

_STOPLIST = ("a", "the")


def _max_multiplicity(sorted_arr: Column) -> Column:
    """Largest multiplicity of any element of a SORTED array, via a single
    linear run-length fold — O(n) work and O(1) expression-tree size per
    row (vs the O(n^2) distinct x filter scan), all inside codegen."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, x: Column) -> Column:
        nrun = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            nrun.alias("run"),
            F.greatest(acc["best"], nrun).alias("best"),
        )

    return F.aggregate(sorted_arr, init, merge, lambda acc: acc["best"])


def _singleton_count(sorted_arr: Column) -> Column:
    """Number of elements of a SORTED array that occur exactly once —
    same linear fold shape as :func:`_max_multiplicity`."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("singles"),
    )

    def merge(acc: Column, x: Column) -> Column:
        is_new = x != acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(is_new, F.lit(1)).otherwise(acc["run"] + 1).alias("run"),
            (
                acc["singles"]
                + F.when(is_new & (acc["run"] == 1), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("singles"),
        )

    return F.aggregate(
        sorted_arr,
        init,
        merge,
        lambda acc: acc["singles"]
        + F.when(acc["run"] == 1, F.lit(1)).otherwise(F.lit(0)),
    )


def _word_grams(w: Column, k: int) -> Column:
    """Overlapping k-word grams of a word array (space-joined), empty when
    the doc has fewer than k words. Built from k shifted ``slice`` views
    zipped element-wise — each slice is one O(n) array copy and the zip
    lambda is a plain concat, ~10x faster than indexing ``element_at(w, i)``
    inside a ``transform`` lambda (which re-walks the source array per
    gram). Expression size is O(k), not O(len)."""
    n = F.size(w)
    m = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(w, j + 1, m) for j in range(k)]
    if k == 2:
        return F.zip_with(
            parts[0], parts[1], lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]),
    )


# --------------------------------------------------------------------------
# X46 — document-quality filter stats (Gopher-style word-level rules)
# --------------------------------------------------------------------------
@query(
    "x46_quality_filter",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             length(replace(text, ' ', '')) AS nchars
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             len(w) AS n_words,
             CAST(nchars AS DOUBLE) / len(w) AS mwl,
             CAST(coalesce(list_max(list_transform(
               list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0) AS DOUBLE)
               / len(w) AS topf,
             CAST(len(list_filter(w, y -> y IN ('a', 'the'))) AS DOUBLE)
               / len(w) AS stopf
      FROM f
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           {portable_round_sql('mwl', 4)} AS mean_word_len,
           {portable_round_sql('topf', 4)} AS top_word_frac,
           {portable_round_sql('stopf', 4)} AS stop_frac,
           CAST(CASE WHEN n_words BETWEEN 10 AND 100000
                      AND mwl BETWEEN 2.0 AND 12.0
                      AND topf <= 0.2
                 THEN 1 ELSE 0 END AS INT) AS keep
    FROM s
    """,
)
def x46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style document filters (Rae et al. 2021 §A1.1):
    word count bounds, mean word length band, max single-word dominance,
    stopword fraction, and the resulting keep decision. One narrow
    projection — no shuffle, no UDF; the dominance signal uses the sorted
    run-length fold so per-row cost is O(n log n) sort + O(n) scan."""
    return quality_signals(load_table(spark, sf_dir, "documents"))


def quality_signals(docs: DataFrame) -> DataFrame:
    """The x46 signal projection over any DataFrame[doc_id, text] — a pure
    narrow map, so it applies UNCHANGED to a Structured Streaming source
    (parity-tested in tests/test_streaming.py: a replayed document stream
    produces row-identical signals to the batch scan)."""
    w0 = F.split(F.col("text"), " ")
    # stage the split ONCE as a projected column (HOFs don't codegen, so a
    # repeated subtree would re-split per consuming signal)
    staged = docs.select(
        "doc_id",
        w0.alias("w"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("nchars"),
    )
    w = F.col("w")
    n = F.size(w)
    mwl = F.col("nchars").cast("double") / n
    topf = _max_multiplicity(F.array_sort(w)).cast("double") / n
    stopf = (
        F.size(F.filter(w, lambda y: y.isin(*_STOPLIST))).cast("double") / n
    )
    keep = (
        n.between(10, 100000)
        & mwl.between(2.0, 12.0)
        & (topf <= 0.2)
    ).cast("int")
    return staged.select(
        "doc_id",
        n.alias("n_words"),
        portable_round(mwl, 4).alias("mean_word_len"),
        portable_round(topf, 4).alias("top_word_frac"),
        portable_round(stopf, 4).alias("stop_frac"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# X47 — n-gram repetition signals (Gopher §A1.1 "repetitious text")
# --------------------------------------------------------------------------
@query(
    "x47_repetition_signals",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id, len(w) AS n_words,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1]) AS g2,
             list_transform(generate_series(1, len(w) - 4),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 || ' ' || w[i+3] || ' ' || w[i+4]) AS g5
      FROM f
    ),
    s AS (
      SELECT doc_id, n_words,
             coalesce(list_max(list_transform(
               list_distinct(g2),
               x -> len(list_filter(g2, y -> y = x)))), 0) AS top2,
             len(g5) AS n5,
             len(list_filter(list_distinct(g5),
                 x -> len(list_filter(g5, y -> y = x)) = 1)) AS singles5
      FROM g
    )
    SELECT doc_id,
           {portable_round_sql('2.0 * top2 / n_words', 4)}
             AS top_2gram_frac,
           {portable_round_sql('5.0 * (n5 - singles5) / n_words', 4)}
             AS dup_5gram_frac
    FROM s
    """,
)
def x47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals from the Gopher rule family: fraction of words
    covered by the most frequent word-2-gram, and fraction of words inside
    duplicated (multiplicity > 1) word-5-grams. Zero shuffle: grams are
    built with an O(k)-size ``transform`` over index sequences and both
    statistics come from linear folds over the sorted gram arrays.
    Overlapping occurrences can push a fraction above 1.0 — kept as-is on
    both sides (it is a ranking signal, not a probability)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    # materialize the sorted gram arrays ONCE as projected columns so the
    # (uncodegen'd) HOF chains aren't re-evaluated per consuming expression
    staged = docs.select(
        "doc_id",
        n.alias("n_words"),
        F.array_sort(_word_grams(w, 2)).alias("g2"),
        F.array_sort(_word_grams(w, 5)).alias("g5"),
    )
    top2 = _max_multiplicity(F.col("g2"))
    # every gram is one occurrence, so occurrences inside duplicated grams
    # = total grams - singleton grams (no second pass over counts)
    dup5 = F.size("g5") - _singleton_count(F.col("g5"))
    return staged.select(
        "doc_id",
        portable_round(F.lit(2.0) * top2 / F.col("n_words"), 4).alias(
            "top_2gram_frac"
        ),
        portable_round(F.lit(5.0) * dup5 / F.col("n_words"), 4).alias(
            "dup_5gram_frac"
        ),
    )


# --------------------------------------------------------------------------
# X48 — benchmark decontamination (n-gram overlap vs a held-out eval set)
# --------------------------------------------------------------------------
@query(
    "x48_decontaminate",
    oracle="""
    WITH f AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             ))) AS g
      FROM f
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 7)
    SELECT t.doc_id, CAST(COUNT(*) AS INT) AS n_shared_grams
    FROM train t JOIN bench b USING (g)
    GROUP BY t.doc_id
    """,
)
def x48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: flag training documents sharing any word-4-gram
    with a held-out benchmark split (doc_id % 10 = 7) — the published
    GPT-3/PaLM n-gram collision rule, with 4-grams standing in for 8-13
    at this corpus's ~30-word vocabulary. Plan: the benchmark's distinct
    gram set is BROADCAST (eval suites are tiny vs a 100 TB corpus), so
    the big side streams scan -> broadcast-hash-join -> partial-count with
    no wide shuffle; only the final per-doc count exchanges, and its
    cardinality is bounded by contaminated docs, not grams."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_word_grams(w, 4))).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 10 == 7).select("g").distinct()
    )
    train = grams.filter(F.col("doc_id") % 10 != 7)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_shared_grams"))
    )


# --------------------------------------------------------------------------
# X49 — containment scoring of LSH candidate pairs (asymmetric near-dup)
# --------------------------------------------------------------------------
@query(
    "x49_containment_pairs",
    oracle=_minhash_guarded_edges_oracle()
    + f""",
    sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(w2) - 2),
               i -> w2[i] || ' ' || w2[i+1] || ' ' || w2[i+2])) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS w2 FROM documents)
    )
    SELECT p.a_id, p.b_id,
           {portable_round_sql(
               'CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)'
               ' / least(len(sa.s), len(sb.s))', 4)} AS containment
    FROM edges p
    JOIN sets sa ON sa.doc_id = p.a_id
    JOIN sets sb ON sb.doc_id = p.b_id
    """,
)
def x49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment |A∩B| / min(|A|,|B|) over word-3-gram shingle sets,
    computed ONLY for the GUARDED MinHash-LSH edge set (x04's
    ``minhash_dedup_edges`` — never all-pairs, linear under mass
    duplication; chain edges score a trivial 1.0 since the texts are
    byte-identical). Containment catches asymmetric near-dups Jaccard
    misses: a short doc fully embedded in a long one scores ~1.0 here but
    low on Jaccard. Two keyed joins attach the shingle sets to the
    bounded candidate list; at 100 TB both are plain hash joins on doc_id
    with the pair side orders of magnitude smaller than the corpus."""
    from ..operators.dedup import minhash_dedup_edges

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_edges(docs)
    w = F.split(F.col("text"), " ")
    sets = docs.select(
        "doc_id", F.array_distinct(_word_grams(w, 3)).alias("s")
    )
    sa = sets.select(
        F.col("doc_id").alias("a_id"), F.col("s").alias("sa")
    )
    sb = sets.select(
        F.col("doc_id").alias("b_id"), F.col("s").alias("sb")
    )
    joined = pairs.join(sa, "a_id").join(sb, "b_id")
    containment = F.size(
        F.array_intersect("sa", "sb")
    ).cast("double") / F.least(F.size("sa"), F.size("sb"))
    return joined.select(
        "a_id", "b_id", portable_round(containment, 4).alias("containment")
    )


# --------------------------------------------------------------------------
# X51 — corpus-quality drift monitor: curation signal -> rate series -> DDM
# --------------------------------------------------------------------------
def _x51_oracle() -> str:
    from .drift import ddm_scan_oracle

    return ddm_scan_oracle(
        """
    SELECT CAST(FLOOR(doc_id / 16) AS BIGINT) AS bucket,
           AVG(CASE WHEN topf > 0.10 THEN 1.0 ELSE 0.0 END) AS error
    FROM (
      SELECT doc_id,
             CAST(coalesce(list_max(list_transform(
               list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0) AS DOUBLE)
               / len(w) AS topf
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    GROUP BY bucket
"""
    )


@query("x51_quality_drift_monitor", oracle=_x51_oracle())
def x51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's drift question asked of the CORPUS: per 16-doc
    ingest bucket, the fraction of repetition-degraded documents
    (max-word dominance > 0.10, the x46 signal) is a Bernoulli rate fed
    to the same DDM detector that watches model error
    (``drift_detection/drift_experiments_supervised.py:100``) — a data
    curation monitor that flags when an ingest slice's quality drifts.
    Plan: zero-shuffle signal map -> one bounded-key count-window agg ->
    the sequential DDM scan confined to the tiny per-detector series
    (bucket count, not row count). Rates k/16 are exact dyadic rationals,
    so the recursive-CTE oracle compares bit-exactly with no rounding."""
    from ..operators.ddm import detect_drift
    from ..operators.windows import count_window_agg

    docs = load_table(spark, sf_dir, "documents")
    w0 = F.split(F.col("text"), " ")
    staged = docs.select("doc_id", w0.alias("w"))
    w = F.col("w")
    topf = _max_multiplicity(F.array_sort(w)).cast("double") / F.size(w)
    signals = staged.select(
        "doc_id", (topf > 0.10).cast("int").alias("bad")
    )
    per_batch = count_window_agg(
        signals,
        seq_col="doc_id",
        batch_size=16,
        aggs=[F.avg("bad").alias("error")],
    ).select(
        F.lit("corpus").alias("detector_id"),
        F.col("bucket").cast("long").alias("seq_id"),
        "error",
    )
    return detect_drift(per_batch).select("seq_id", "error", "flag")


# --------------------------------------------------------------------------
# X52 — semantic dedup clusters: embedding near-dup pairs -> components
# --------------------------------------------------------------------------
def _x52_oracle() -> str:
    from .extensions import _LSH_GUARDED_CAND_CTE

    return (
        "WITH RECURSIVE "
        + _LSH_GUARDED_CAND_CTE
        + """,
    pdots AS (
      SELECT cand_pairs.a_id, cand_pairs.b_id, SUM(x.v * y.v) AS dot
      FROM cand_pairs
      JOIN ex x ON x.vec_id = cand_pairs.a_id
      JOIN ex y ON y.vec_id = cand_pairs.b_id AND x.d = y.d
      GROUP BY cand_pairs.a_id, cand_pairs.b_id
    ),
    edges AS (
      SELECT a_id, b_id
      FROM pdots
      JOIN norms na ON a_id = na.vec_id
      JOIN norms nb ON b_id = nb.vec_id
      WHERE FLOOR((dot / (na.nrm * nb.nrm)) * 10000.0 + 0.5) / 10000.0
            >= 0.3
    ),
    sym AS (
      SELECT a_id AS a, b_id AS b FROM edges
      UNION
      SELECT b_id, a_id FROM edges
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster_id,
           node = MIN(lbl) AS is_canonical
    FROM reach GROUP BY node
    """
    )


@query("x52_semantic_dedup_clusters", oracle=_x52_oracle())
def x52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup clusters: LSH-candidate cosine
    pairs at >= 0.3 (x09's machinery; the threshold is set where this
    corpus's random-ish embeddings actually form a non-trivial graph —
    163 edges / 500 nodes at sf0.01 — so the component structure, not
    just singletons, is what the oracle checks) become edges, and connected
    components label every vector with its cluster's min-id canonical
    survivor. At this scale the edge list fits on the driver, so
    ``dedup_clusters`` labels it with a union-find; above its threshold it
    runs large-star/small-star (Kiveris et al.), the O(log n)-round
    algorithm a 100 TB near-dup graph with chains needs. Both converge to
    per-component min ids."""
    from ..operators.graph import dedup_clusters
    from ..operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3, dim=64).select(
        "a_id", "b_id"
    )
    return dedup_clusters(emb.select("vec_id"), pairs, id_col="vec_id")


# --------------------------------------------------------------------------
# X53 — sequence packing: contiguous token-budget packing of the corpus
# --------------------------------------------------------------------------
@query(
    "x53_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS strt
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR(strt / 256) AS INT) AS pack_id,
           CAST(strt % 256 AS INT) AS pack_offset
    FROM c
    """,
)
def x53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: lay the corpus's token stream
    end-to-end in doc_id order and cut it into fixed 256-token packs —
    each document gets the pack holding its START offset plus its offset
    inside that pack (boundary-straddling docs belong to their start
    pack; the trainer pads/splits at read time). The global running sum
    is NOT a single-partition window: :func:`operators.order.global_cumsum`
    range-partitions on doc_id, takes one tiny per-partition SUM job,
    broadcasts the n_partitions cumulative offsets, and cumsums locally —
    the same anti-straggler decomposition as q58's global rank, so the
    plan survives a 100 TB token stream."""
    from ..operators.order import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    cum = global_cumsum(toks, [F.asc("doc_id")], "n_tokens", out_col="cum")
    strt = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor(strt / 256).cast("int").alias("pack_id"),
        (strt % 256).cast("int").alias("pack_offset"),
    )


# --------------------------------------------------------------------------
# X54 — model-based quality filter: bottom decile by NB log-likelihood
# --------------------------------------------------------------------------
@query(
    "x54_model_quality_filter",
    oracle=_NB_EMBEDDINGS_CTES + """    lp6 AS (
      SELECT vec_id, FLOOR(MAX(lp) * 1000000.0 + 0.5) / 1000000.0 AS lp
      FROM post GROUP BY vec_id
    ),
    ranked AS (
      SELECT vec_id, lp,
             ROW_NUMBER() OVER (ORDER BY lp, vec_id) AS r
      FROM lp6
    )
    SELECT vec_id, lp,
           CAST(CASE WHEN r <= FLOOR(t.n_total / 10) THEN 1 ELSE 0 END
                AS INT) AS low_quality
    FROM ranked CROSS JOIN total t
    """,
)
def x54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the CCNet / classifier-filter
    pattern): fit the corpus's own NB density model, score every
    embedding's best-class log-posterior, and flag the bottom DECILE as
    low-quality — documents the model finds implausible under every
    class. The cutoff is RANK-based on 6-decimal-rounded scores (not a
    percentile interpolation), so the flag set is engine-portable. Scale:
    the fit is one Summarizer shuffle, scoring is the zero-shuffle
    literal-fold predict, and the global rank uses the range-partition +
    broadcast-offsets decomposition — no single-partition window; the
    decile size joins in as a broadcast one-row count, no driver
    collect."""
    from ..operators.nb import nb_fit, nb_predict
    from ..operators.order import global_rank

    emb = load_table(spark, sf_dir, "embeddings")
    stats = nb_fit(emb, features_col="embedding", label_col="label", dim=64)
    preds = nb_predict(
        emb, stats, features_col="embedding", id_cols=("vec_id",)
    )
    scored = preds.select(
        "vec_id", portable_round(F.col("max_log_post"), 6).alias("lp")
    )
    ranked = global_rank(
        scored, [F.asc("lp"), F.asc("vec_id")], rank_col="r"
    )
    # count over the RANKED table, not `scored` (r17): global_rank
    # materializes its range-partitioned input, so this count reads the
    # checkpoint; counting `scored` re-ran the scan + NB predict pass a
    # second time (guide §7.2 duplicated subtrees). Same rows either way.
    n = ranked.agg(F.count("*").alias("n_total"))
    return (
        ranked.join(F.broadcast(n))
        .select(
            "vec_id",
            "lp",
            (F.col("r") <= F.floor(F.col("n_total") / 10))
            .cast("int")
            .alias("low_quality"),
        )
    )


# --------------------------------------------------------------------------
# X55 — the curation pipeline composed end-to-end: dedup ∧ quality ∧ clean
# --------------------------------------------------------------------------
@query(
    "x55_curation_pipeline",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             length(replace(text, ' ', '')) AS nchars, md5(text) AS dg
      FROM documents
    ),
    keepdup AS (SELECT dg, MIN(doc_id) AS keeper FROM f GROUP BY dg),
    q AS (
      SELECT doc_id, len(w) AS nw,
             CAST(nchars AS DOUBLE) / len(w) AS mwl,
             CAST(coalesce(list_max(list_transform(
               list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0) AS DOUBLE)
               / len(w) AS topf
      FROM f
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             ))) AS g
      FROM f
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM grams t JOIN bench b USING (g)
      WHERE t.doc_id % 10 <> 7
    ),
    verdicts AS (
      SELECT f.source, q.nw,
             CASE WHEN kd.keeper = f.doc_id
                   AND f.doc_id % 10 <> 7
                   AND q.nw BETWEEN 10 AND 100000
                   AND q.mwl BETWEEN 2.0 AND 12.0
                   AND q.topf <= 0.2
                   AND c.doc_id IS NULL
                  THEN 1 ELSE 0 END AS keep
      FROM f
      JOIN keepdup kd ON f.dg = kd.dg
      JOIN q ON q.doc_id = f.doc_id
      LEFT JOIN contaminated c ON c.doc_id = f.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS INT) AS n_docs,
           CAST(SUM(keep) AS INT) AS n_kept,
           FLOOR(SUM(keep) * 1.0 / COUNT(*) * 10000.0 + 0.5) / 10000.0
             AS kept_frac,
           CAST(SUM(keep * nw) AS INT) AS kept_tokens
    FROM verdicts GROUP BY source ORDER BY source
    """,
)
def x55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages composed as ONE relational pipeline — a doc
    survives iff it is (a) its exact-dup group's min-id canonical, (b) not
    in the held-out benchmark split, (c) inside the x46 quality bands, and
    (d) not x48-contaminated — reported as per-source keep stats (the
    dashboard a data team watches). Plan: the quality signals stay a
    narrow map; dedup is one shuffle keyed on the 16-byte digest; the
    contamination check is the broadcast gram join; the verdict joins are
    all keyed on doc_id; the final agg collapses to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        curation_verdicts(docs)
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum("keep").cast("int").alias("n_kept"),
            portable_round(
                F.sum("keep") * F.lit(1.0) / F.count("*") * 1.0, 4
            ).alias("kept_frac"),
            F.sum(F.col("keep") * F.col("nw")).cast("int").alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )


def curation_verdicts(docs: DataFrame) -> DataFrame:
    """Per-document curation verdict (the x55 rules):
    DataFrame[doc_id, source, nw, keep] — keep=1 iff exact-dup canonical ∧
    not benchmark split ∧ x46 quality bands ∧ not contaminated. Factored
    out so ``curation.curate_corpus`` can MATERIALIZE the kept corpus from
    the same single-plan verdict x55 reports stats over."""
    w0 = F.split(F.col("text"), " ")
    staged = docs.select(
        "doc_id",
        "source",
        w0.alias("w"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("nchars"),
        F.md5(F.col("text")).alias("dg"),
    )
    keepdup = staged.groupBy("dg").agg(F.min("doc_id").alias("keeper"))
    w = F.col("w")
    n = F.size(w)
    mwl = F.col("nchars").cast("double") / n
    topf = _max_multiplicity(F.array_sort(w)).cast("double") / n
    quality_ok = (
        n.between(10, 100000) & mwl.between(2.0, 12.0) & (topf <= 0.2)
    )
    grams = staged.select(
        "doc_id", F.explode(F.array_distinct(_word_grams(w, 4))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 10 == 7).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 10 != 7)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    verdicts = (
        staged.select(
            "doc_id", "source", "dg", n.alias("nw"), quality_ok.alias("qok")
        )
        .join(keepdup, "dg")
        .join(
            contaminated.withColumn("contam", F.lit(True)),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "source",
            "nw",
            (
                (F.col("keeper") == F.col("doc_id"))
                & (F.col("doc_id") % 10 != 7)
                & F.col("qok")
                & F.col("contam").isNull()
            )
            .cast("int")
            .alias("keep"),
        )
    )
    return verdicts


# --------------------------------------------------------------------------
# X56 — winsorization: clamp numeric outliers to per-group [p1, p99]
# --------------------------------------------------------------------------
@query(
    "x56_winsorize",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS p1,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY l_returnflag
    ),
    w AS (
      SELECT l.l_returnflag,
             CASE WHEN l.l_extendedprice < b.p1 THEN 1 ELSE 0 END AS lo,
             CASE WHEN l.l_extendedprice > b.p99 THEN 1 ELSE 0 END AS hi,
             LEAST(GREATEST(l.l_extendedprice::DOUBLE, b.p1), b.p99) AS v
      FROM lineitem l JOIN b USING (l_returnflag)
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS INT) AS n,
           CAST(SUM(lo) AS INT) AS n_lo,
           CAST(SUM(hi) AS INT) AS n_hi,
           {portable_round_sql('SUM(v) / COUNT(*)', 4)} AS w_mean
    FROM w GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def x56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the numeric-outlier cleaning step of a feature
    pipeline: per group, values clamp to the exact [p1, p99] band
    (Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the R-7
    linear interpolation BIT-EXACTLY, verified on this data). Two passes:
    one shuffle for the per-group bounds (|groups| rows, broadcast back),
    one partial-agg shuffle for the clamped stats. Exact per-group
    percentile buffers a group's values; at 100 TB pass ``approx=True``
    to swap in ``approx_percentile`` (KLL-style mergeable constant-size
    sketch) — the plan shape is identical (plan-asserted in
    tests/test_plans.py), the bounds become approximate (tolerance-tested
    against the exact path)."""
    return winsorized_stats(load_table(spark, sf_dir, "lineitem"))


def winsorized_stats(
    li: DataFrame,
    approx: bool = False,
    accuracy: int = 10000,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Per-group winsorized stats over lineitem.l_extendedprice.

    ``approx=False`` uses exact ``percentile`` (buffers each group's
    values — fine up to memory-per-group); ``approx=True`` uses
    ``approx_percentile`` with the given accuracy — a mergeable
    constant-size sketch, the 100 TB path. Both produce the SAME two-pass
    plan: bounds agg (|groups| rows) broadcast back onto the fact scan,
    then one partial-agg shuffle for the clamped stats.

    ``bounds`` lets a caller that has ALREADY computed the percentile
    bounds table (DataFrame[l_returnflag, p1, p99]) pass it in instead of
    paying the percentile aggregate a second time — Spark does not dedupe
    common subplans, so an audit that reports the bounds AND the clamped
    mean would otherwise run the sort-heavy percentile scan twice
    (guide §7.2 "duplicated subtrees"; x93 r17)."""
    if bounds is not None:
        pass
    elif approx:
        pctl = (
            f"approx_percentile(l_extendedprice, array(0.01, 0.99), "
            f"{accuracy})"
        )
        bounds = li.groupBy("l_returnflag").agg(
            F.expr(pctl).alias("ps")
        ).select(
            "l_returnflag",
            F.col("ps")[0].cast("double").alias("p1"),
            F.col("ps")[1].cast("double").alias("p99"),
        )
    else:
        # ONE array-form percentile, not two scalar aggs: each scalar
        # percentile buffers the whole group's values in its own
        # ObjectHashAggregate buffer, so asking for both quantiles
        # separately paid the buffering/sort twice (r17, guide §1.2;
        # measured 2.09 -> 0.96 s at sf0.1, bit-identical, same
        # one-agg plan shape)
        bounds = li.groupBy("l_returnflag").agg(
            F.expr(
                "percentile(l_extendedprice, array(0.01, 0.99))"
            ).alias("ps")
        ).select(
            "l_returnflag",
            F.col("ps")[0].alias("p1"),
            F.col("ps")[1].alias("p99"),
        )
    j = li.join(F.broadcast(bounds.select("l_returnflag", "p1", "p99")),
                "l_returnflag")
    x = F.col("l_extendedprice").cast("double")
    v = F.least(F.greatest(x, F.col("p1")), F.col("p99"))
    return (
        j.select(
            "l_returnflag",
            (x < F.col("p1")).cast("int").alias("lo"),
            (x > F.col("p99")).cast("int").alias("hi"),
            v.alias("v"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("int").alias("n"),
            F.sum("lo").cast("int").alias("n_lo"),
            F.sum("hi").cast("int").alias("n_hi"),
            portable_round(F.sum("v") / F.count("*"), 4).alias("w_mean"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# X50 — embedding centroid shift per label vs the corpus centroid
# --------------------------------------------------------------------------
@query(
    "x50_centroid_shift",
    oracle=f"""
    WITH e AS (
      SELECT label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    ex AS (
      SELECT label, UNNEST(emb) AS v, GENERATE_SUBSCRIPTS(emb, 1) AS d
      FROM e
    ),
    per AS (SELECT label, d, AVG(v) AS c FROM ex GROUP BY label, d),
    gcent AS (SELECT d, AVG(v) AS g FROM ex GROUP BY d),
    dots AS (
      SELECT label, SUM(c * g) AS dot, SQRT(SUM(c * c)) AS nc
      FROM per JOIN gcent USING (d) GROUP BY label
    ),
    gn AS (SELECT SQRT(SUM(g * g)) AS ng FROM gcent),
    cnt AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY label)
    SELECT d.label,
           CAST(cnt.n_vecs AS INT) AS n_vecs,
           {portable_round_sql('d.dot / (d.nc * gn.ng)', 4)}
             AS centroid_cos
    FROM dots d JOIN cnt USING (label) CROSS JOIN gn
    """,
)
def x50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level drift monitoring: cosine of each label's embedding
    centroid against the global centroid — the reference's drift question
    (``drift_detection/drift_experiments_supervised.py``) asked of the
    training corpus itself; a label whose centroid turns away from the
    corpus signals a shifted ingest slice. One ``Summarizer.mean``
    aggregation per grouping (array-native, map-side-combinable,
    n_labels x dim state — independent of row count), then an O(1)-size
    ``zip_with`` fold for the cosine against the broadcast global
    centroid."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "v"
        ),
    )
    per = e.groupBy("label").agg(
        vector_to_array(Summarizer.mean(F.col("v"))).alias("c"),
        F.count("*").cast("int").alias("n_vecs"),
    )
    glob = e.agg(
        vector_to_array(Summarizer.mean(F.col("v"))).alias("g")
    )
    joined = per.join(F.broadcast(glob))
    dot = F.aggregate(
        F.zip_with("c", "g", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(col, lambda a: a * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (norm(F.col("c")) * norm(F.col("g")))
    return joined.select(
        "label",
        "n_vecs",
        portable_round(cos, 4).alias("centroid_cos"),
    )
