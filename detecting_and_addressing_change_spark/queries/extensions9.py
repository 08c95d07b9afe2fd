"""Round-5 extension queries: the second half of the LLM training-data
curation toolkit — language-model perplexity scoring (the CCNet signal the
x54 NB filter approximates), mixture sampling to target source weights
(the Pile/LLaMA-style domain reweighting step), cross-document repeated
n-gram detection (the distributed approximation of suffix-array ExactSubstr
dedup), sliding-window document chunking (embedding/RAG prep) plus its
chunk-level dedup rate, two-sample drift tests (linear-time MMD and a
distributed Kolmogorov-Smirnov), and the Z-order layout key.

Scale notes (100 TB):
- x60 fits the bigram LM with ONE map-side-combinable shuffle on the gram
  key; scoring then joins the corpus's exploded bigrams against the
  BROADCAST model (CCNet ships a small pre-trained LM to every worker —
  the published design this mirrors; an unpruned corpus-wide LM would swap
  the broadcast for a shuffle join on gram, same plan otherwise).
- x61 is a two-pass broadcast plan: per-group counts (|groups| rows)
  broadcast back as keep-rates, then a ZERO-shuffle deterministic LCG
  filter over the corpus scan — no row ever shuffles to be sampled.
- x62's only wide op is the gram-key aggregation that counts distinct
  documents per shingle; the verdict joins back on the shingle key (at
  this SF the count table broadcasts; at 100 TB it is a co-partitioned
  shuffle join on the same key the aggregation just produced, so AQE
  reuses the exchange).
- x63 is a pure narrow map + explode: chunk boundaries are computed from
  the word array per row; nothing shuffles. x66 adds one 16-byte
  fingerprint-key aggregation on top.
- x64/x65 route every global order statistic (rank pairing, ECDF
  cumulatives) through the range-partition + broadcast-offsets
  decomposition — no single-partition window (plan-asserted); x64 is the
  O(n) linear MMD estimator, never the O(n^2) Gram.
- x67's layout key is a narrow map after one 4-scalar bounds broadcast;
  the write path (operators/layout.py) is one range shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import lcg_bucket
from ..functions.rounding import portable_round, portable_round_sql
from ..sources.tables import load_table, local_table
from .extensions7 import _max_multiplicity, _word_grams
from .registry import query

# x61 target mixture weights per language (literal in both engines)
_MIX_TARGETS = [("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]
_MIX_VALUES_SQL = ", ".join(f"('{lang}', {w})" for lang, w in _MIX_TARGETS)

_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12


# --------------------------------------------------------------------------
# X60 — bigram-LM cross-entropy scoring (CCNet perplexity filter)
# --------------------------------------------------------------------------
@query(
    "x60_lm_perplexity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, LEN(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM w WHERE LEN(ws) >= 2
    ),
    c12 AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
    cpre AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS cp
      FROM c12 GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT word) AS v
      FROM (SELECT UNNEST(ws) AS word FROM w)
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS INT) AS n_bigrams,
           {portable_round_sql(
               "AVG(-LN((c12.c + 1.0) / (cpre.cp + vocab.v)))", 4
           )} AS cross_entropy
    FROM bg
    JOIN c12 USING (bigram)
    JOIN cpre ON cpre.w1 = split_part(bg.bigram, ' ', 1)
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
)
def x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM cross-entropy — the CCNet quality signal: fit
    an add-one-smoothed bigram model on the corpus, score every document by
    the mean negative log-likelihood of its bigrams (low = head-like fluent
    text, high = tail/garbage). See :func:`lm_cross_entropy` for the plan
    and the broadcast guard (ADVICE r5)."""
    return lm_cross_entropy(load_table(spark, sf_dir, "documents"))


def lm_cross_entropy(
    docs: DataFrame, broadcast_model: bool = True
) -> DataFrame:
    """Plan: one gram-key shuffle fits the model (map-side combine,
    |model| = observed-bigram count), prefix totals are derived from the
    model itself (tiny second agg), and scoring joins the exploded corpus
    against the model. ``broadcast_model`` gates the join strategy
    (ADVICE r5): the model
    tables c12/cpre are CORPUS-DERIVED and grow with vocabulary, so the
    True default (right for a CCNet-style fixed pruned LM, and for these
    test scales) must degrade on an unpruned 100 TB-corpus model — pass
    False and both joins become co-partitioned shuffle hash joins on the
    gram key, reusing the fit's own exchange. The 1-row vocab count is
    broadcast unconditionally (tiny by construction). Results are
    identical either way (tests/test_review_regressions.py asserts so)."""
    hint = F.broadcast if broadcast_model else (lambda d: d)
    w = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    bg = w.select(
        "doc_id", F.explode(_word_grams(F.col("ws"), 2)).alias("bigram")
    )
    c12 = bg.groupBy("bigram").agg(F.count("*").alias("c"))
    cpre = (
        c12.groupBy(
            F.substring_index("bigram", " ", 1).alias("w1")
        ).agg(F.sum("c").alias("cp"))
    )
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .agg(F.countDistinct("word").alias("v"))
    )
    scored = (
        bg.join(hint(c12), "bigram")
        .join(
            hint(cpre),
            F.substring_index(F.col("bigram"), " ", 1) == F.col("w1"),
        )
        .join(F.broadcast(vocab))
    )
    nll = -F.log((F.col("c") + F.lit(1.0)) / (F.col("cp") + F.col("v")))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            portable_round(F.avg(nll), 4).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# X61 — mixture sampling to target source weights (domain reweighting)
# --------------------------------------------------------------------------
@query(
    "x61_source_mixing",
    oracle=f"""
    WITH t(lang, tw) AS (VALUES {_MIX_VALUES_SQL}),
    cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    cap AS (SELECT MIN(n / tw) AS total FROM cnt JOIN t USING (lang)),
    rates AS (
      SELECT cnt.lang, cnt.n,
             LEAST(1.0, cap.total * t.tw / cnt.n) AS rate
      FROM cnt JOIN t USING (lang) CROSS JOIN cap
    ),
    kept AS (
      SELECT d.lang,
             CASE WHEN ((d.doc_id % 2147483648) * 1103515245
                        % 2147483648 % 1000000)
                  < FLOOR(r.rate * 1000000.0)
                  THEN 1 ELSE 0 END AS keep
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT r.lang,
           CAST(r.n AS INT) AS n_docs,
           CAST(SUM(k.keep) AS INT) AS n_kept,
           {portable_round_sql("r.rate", 4)} AS keep_rate
    FROM kept k JOIN rates r USING (lang)
    GROUP BY r.lang, r.n, r.rate
    ORDER BY r.lang
    """,
)
def x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture reweighting — the Pile/LLaMA-style step that samples
    each source down so the kept corpus hits target proportions: the
    feasible total is capped by the binding source (min over n/target),
    per-source keep-rates follow, and the sample itself is the engine's
    deterministic LCG hash on doc_id — reproducible across runs, engines,
    and partitionings, never a Bernoulli RNG. Plan: per-group counts
    (|groups| rows) broadcast back as rates; the corpus scan then filters
    in place — ZERO shuffle of the fact side before the final stats agg."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.broadcast(
        local_table(docs.sparkSession, _MIX_TARGETS, "lang string, tw double")
    )
    cnt = docs.groupBy("lang").agg(F.count("*").alias("n"))
    cap = (
        cnt.join(t, "lang")
        .agg(F.min(F.col("n") / F.col("tw")).alias("total"))
    )
    rates = (
        cnt.join(t, "lang")
        .join(F.broadcast(cap))
        .select(
            "lang",
            "n",
            F.least(
                F.lit(1.0), F.col("total") * F.col("tw") / F.col("n")
            ).alias("rate"),
        )
    )
    keep = (
        lcg_bucket(F.col("doc_id"), 1000000)
        < F.floor(F.col("rate") * 1000000.0)
    ).cast("int")
    return (
        docs.join(F.broadcast(rates), "lang")
        .select("lang", "n", "rate", keep.alias("keep"))
        .groupBy("lang", "n", "rate")
        .agg(F.sum("keep").cast("int").alias("n_kept"))
        .select(
            "lang",
            F.col("n").cast("int").alias("n_docs"),
            "n_kept",
            portable_round(F.col("rate"), 4).alias("keep_rate"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# X62 — cross-document repeated n-grams (distributed ExactSubstr signal)
# --------------------------------------------------------------------------
@query(
    "x62_crossdoc_ngrams",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(1, LEN(ws) - 3),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                    || ws[i+3] || ' ' || ws[i+4])) AS shingle
      FROM w WHERE LEN(ws) >= 5
    ),
    docs_per AS (
      SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS INT) AS n_shingles,
           {portable_round_sql(
               "SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 4
           )} AS dup_frac,
           SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.5
             AS flag
    FROM sh JOIN docs_per USING (shingle)
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
)
def x62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring signal — the distributed stand-in
    for suffix-array ExactSubstr dedup (Lee et al.'s "Deduplicating
    Training Data" rule): a 5-word shingle that appears in >= 2 distinct
    documents marks boilerplate; a document whose shingle positions are
    mostly such grams is flagged. See :func:`crossdoc_ngram_flags` for the
    plan and the broadcast guard (ADVICE r5)."""
    return crossdoc_ngram_flags(load_table(spark, sf_dir, "documents"))


def crossdoc_ngram_flags(
    docs: DataFrame, broadcast_counts: bool = True
) -> DataFrame:
    """Plan: explode shingles, ONE gram-key aggregation for distinct-doc
    counts (map-side combinable after the in-partition distinct), then the
    verdict joins back on the same gram key. ``broadcast_counts`` gates
    the join strategy (ADVICE r5): docs_per is CORPUS-DERIVED (one row per
    distinct shingle) and grows with the corpus, so the True default must
    degrade at 100 TB — pass False and the join becomes a co-partitioned
    shuffle hash join on the shingle key, reusing the count's own
    exchange. Never all-pairs, never a suffix array's global sort.
    Results are identical either way."""
    hint = F.broadcast if broadcast_counts else (lambda d: d)
    w = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 5)
    sh = w.select(
        "doc_id", F.explode(_word_grams(F.col("ws"), 5)).alias("shingle")
    )
    # ONE scan+explode serves both sides (r17): `sh` used to feed the
    # count agg AND the verdict join as separate evaluations of the whole
    # scan -> split -> explode subtree (guide §7.2 — Spark does not dedupe
    # common subplans). Aggregating to per-(doc, shingle) occurrence
    # counts first shrinks the exploded stream to its distinct pairs —
    # map-side combinable, strictly smaller than `sh` — and that bounded
    # table is materialized once; the per-shingle doc count is then a
    # plain count over it (rows are distinct per doc, so count(*) ==
    # countDistinct(doc_id)), and the per-doc verdict re-weights by the
    # occurrence count (sum(c*dup)/sum(c) == the occurrence-level
    # sum(dup)/count(*) — identical integers, identical division).
    g = (
        sh.groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=True)
    )
    docs_per = g.groupBy("shingle").agg(F.count("*").alias("nd"))
    dup = F.when(F.col("nd") >= 2, F.lit(1)).otherwise(F.lit(0))
    n_occ = F.sum("__c")
    frac = F.sum(F.col("__c") * dup) * F.lit(1.0) / n_occ
    return (
        g.join(hint(docs_per), "shingle")
        .groupBy("doc_id")
        .agg(
            n_occ.cast("int").alias("n_shingles"),
            portable_round(frac, 4).alias("dup_frac"),
            (frac >= 0.5).alias("flag"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# X63 — sliding-window document chunking (embedding / RAG prep)
# --------------------------------------------------------------------------
@query(
    "x63_doc_chunking",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws, LEN(string_split(text, ' ')) AS n
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n,
             UNNEST(range(0,
               1 + CASE WHEN n > {_CHUNK_SIZE}
                        THEN CAST(CEIL((n - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0) AS BIGINT)
                        ELSE 0 END)) AS j,
             ws
      FROM w
    )
    SELECT doc_id,
           CAST(j AS INT) AS chunk_idx,
           CAST(LEAST({_CHUNK_SIZE}, n - j * {_CHUNK_STRIDE}) AS INT)
             AS n_words,
           SUBSTRING(md5(array_to_string(
             list_slice(ws, j * {_CHUNK_STRIDE} + 1,
                        LEAST(j * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)), ' ')), 1, 8)
             AS fingerprint
    FROM spans
    ORDER BY doc_id, chunk_idx
    """,
)
def x63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking — the embedding/RAG prep step that cuts each
    document into overlapping {size}-word windows every {stride} words
    (trailing partial window kept), with a stable md5 fingerprint per chunk
    for downstream chunk-level dedup. Pure narrow map + explode: chunk
    boundaries are integer arithmetic on the per-row word array, nothing
    shuffles, the whole query pipelines inside one codegen stage over the
    scan (ordering excepted)."""
    from ..functions.text import chunk_spans

    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    spans = chunk_spans(docs, size=size, stride=stride)
    j, n = F.col("j"), F.col("n")
    return spans.select(
        "doc_id",
        j.cast("int").alias("chunk_idx"),
        F.least(F.lit(size), n - j * stride).cast("int").alias("n_words"),
        F.substring(
            F.md5(F.array_join(F.col("chunk"), " ")), 1, 8
        ).alias("fingerprint"),
    ).orderBy("doc_id", "chunk_idx")


x63.__doc__ = x63.__doc__.format(size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


# --------------------------------------------------------------------------
# X64 — linear-time MMD two-sample drift test on embeddings
# --------------------------------------------------------------------------
@query(
    "x64_mmd_drift",
    oracle=f"""
    WITH r AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
      FROM embeddings WHERE label = 0
    ),
    c AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
      FROM embeddings WHERE label = 1
    ),
    p AS (
      SELECT (r.rk - 1) // 2 AS qid,
             (r.rk - 1) % 2 AS idx, r.emb AS x, c.emb AS y
      FROM r JOIN c USING (rk)
    ),
    q AS (
      SELECT p0.qid, p0.x AS x1, p0.y AS y1, p1.x AS x2, p1.y AS y2
      FROM (SELECT * FROM p WHERE idx = 0) p0
      JOIN (SELECT * FROM p WHERE idx = 1) p1 USING (qid)
    ),
    ex AS (
      SELECT qid, UNNEST(x1) AS vx1, UNNEST(x2) AS vx2,
             UNNEST(y1) AS vy1, UNNEST(y2) AS vy2
      FROM q
    ),
    sq AS (
      SELECT qid,
             SUM((vx1 - vx2) * (vx1 - vx2)) AS dxx,
             SUM((vy1 - vy2) * (vy1 - vy2)) AS dyy,
             SUM((vx1 - vy2) * (vx1 - vy2)) AS dxy,
             SUM((vx2 - vy1) * (vx2 - vy1)) AS dyx
      FROM ex GROUP BY qid
    ),
    h AS (
      SELECT EXP(-dxx / 16.0) + EXP(-dyy / 16.0)
             - EXP(-dxy / 16.0) - EXP(-dyx / 16.0) AS h
      FROM sq
    )
    SELECT CAST(COUNT(*) AS INT) AS n_quads,
           {portable_round_sql("AVG(h)", 4)} AS mmd2,
           {portable_round_sql("AVG(h)", 4)} > 0.05 AS flag
    FROM h
    """,
)
def x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised representation-drift detection — the reference's
    unsupervised experiment theme (``drift_detection/drift_experiments_
    unsupervised.py``) as a proper two-sample test: the LINEAR-TIME MMD^2
    estimator (Gretton et al. 2012, lemma 14 — h-statistic over disjoint
    sample quadruples, RBF kernel 2*sigma^2=16) between two embedding
    windows. O(n) kernel evaluations instead of the O(n^2) Gram matrix,
    which is the published scale path for MMD at corpus size. Plan: each
    window gets a range-partitioned global rank (no single-partition
    window), quadruples pair by integer rank arithmetic through two keyed
    joins, and the statistic is one scalar agg — shuffle volume is the
    rank repartition only. Pairing by rank is deterministic, so the
    statistic is engine-reproducible (oracle replays it with
    ROW_NUMBER)."""
    from ..operators.order import grouped_global_rank

    emb = load_table(spark, sf_dir, "embeddings")

    # BOTH windows ranked off ONE range staging (r18, guide §1.2 /
    # §2.4): two separate global_rank calls paid the range shuffle, the
    # materialization and the offsets collect once per label for the
    # same embeddings scan; grouped_global_rank ranks within label from
    # one staging. The rk equi-join then folds into the SAME groupBy
    # that pivots quadruples: key by (qid, idx) = ((rk-1)/2, (rk-1)%2)
    # and pick each of the four slots with a label-conditional first —
    # one shuffle replaces the two-sided rk join plus the qid shuffle.
    both = emb.filter(F.col("label").isin(0, 1)).select(
        "label",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    pairs = grouped_global_rank(
        both, "label", [F.asc("vec_id")], rank_col="rk"
    ).select(
        F.floor((F.col("rk") - 1) / 2).alias("qid"),
        ((F.col("rk") - 1) % 2).alias("idx"),
        "label",
        "e",
    )

    # first() with ignorenulls is deterministic here: each (qid, idx,
    # label) slot holds at most one row by construction (rk -> (qid,
    # idx) is a bijection within each label).
    def slot(idx: int, label: int, out: str) -> Column:
        return F.first(
            F.when(
                (F.col("idx") == idx) & (F.col("label") == label),
                F.col("e"),
            ),
            ignorenulls=True,
        ).alias(out)

    quads = (
        pairs.groupBy("qid")
        .agg(
            slot(0, 0, "x1"),
            slot(0, 1, "y1"),
            slot(1, 0, "x2"),
            slot(1, 1, "y2"),
        )
        # the former rk inner join kept ranks <= min(|ref|, |cur|) and
        # the quad filter kept complete quadruples; requiring all four
        # slots non-null is exactly that set (a slot is null iff its
        # label's ranks end before 2*qid+idx+1)
        .filter(
            F.col("x1").isNotNull()
            & F.col("y1").isNotNull()
            & F.col("x2").isNotNull()
            & F.col("y2").isNotNull()
        )
    )

    def sqd(a: str, b: str) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def k(a: str, b: str) -> Column:
        return F.exp(-sqd(a, b) / F.lit(16.0))

    h = quads.select(
        (k("x1", "x2") + k("y1", "y2") - k("x1", "y2") - k("x2", "y1"))
        .alias("h")
    )
    mmd2 = portable_round(F.avg("h"), 4)
    return h.agg(
        F.count("*").cast("int").alias("n_quads"),
        mmd2.alias("mmd2"),
        (mmd2 > 0.05).alias("flag"),
    )


# --------------------------------------------------------------------------
# X65 — distributed Kolmogorov-Smirnov two-sample drift test
# --------------------------------------------------------------------------
@query(
    "x65_ks_drift",
    oracle=f"""
    WITH e AS (
      SELECT embedding[1]::DOUBLE AS v, label FROM embeddings
      WHERE label IN (0, 1)
    ),
    cnt AS (
      SELECT v,
             SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n_r,
             SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n_c
      FROM e GROUP BY v
    ),
    tot AS (
      SELECT SUM(n_r) AS nr, SUM(n_c) AS nc FROM cnt
    ),
    cum AS (
      SELECT SUM(n_r) OVER (ORDER BY v) AS cum_r,
             SUM(n_c) OVER (ORDER BY v) AS cum_c
      FROM cnt
    ),
    d AS (
      SELECT MAX(ABS(cum_r / tot.nr - cum_c / tot.nc)) AS d_stat
      FROM cum CROSS JOIN tot
    )
    SELECT CAST(tot.nr AS INT) AS n_ref,
           CAST(tot.nc AS INT) AS n_cur,
           {portable_round_sql("d.d_stat", 4)} AS d_stat,
           {portable_round_sql("d.d_stat", 4)}
             > 1.358 * SQRT((tot.nr + tot.nc) / (tot.nr * tot.nc)) AS flag
    FROM d CROSS JOIN tot
    """,
)
def x65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test between two embedding windows
    (first coordinate): sup-norm distance of the empirical CDFs with the
    alpha=0.05 large-sample rejection bound — the classic distribution
    drift detector the reference's unsupervised experiments approximate
    with model error. Plan: per-value counts are ONE key shuffle; both
    cumulative counts come from the range-partition + broadcast-offsets
    global cumsum (`operators/order.py` — no single-partition Window);
    the statistic is a scalar agg. Cumulative counts are exact integers
    and each ECDF value k/N is one IEEE division, so D is bit-identical
    across engines — the oracle needs no tolerance."""
    from ..operators.order import global_cumsum

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(0, 1)
    )
    cnt = (
        e.select(
            F.element_at(F.col("embedding"), 1).cast("double").alias("v"),
            "label",
        )
        .groupBy("v")
        .agg(
            F.sum((F.col("label") == 0).cast("long")).alias("n_r"),
            F.sum((F.col("label") == 1).cast("long")).alias("n_c"),
        )
    )
    # BOTH running counts ride one global_cumsum staging (r17): the
    # former chained single-column calls paid the range repartition +
    # materialization + offsets collect twice for the same ordering, and
    # `tot` as an agg over the UNmaterialized `cnt` re-ran the scan +
    # groupBy a third time (guide §7.2). The totals are the final
    # cumulative counts, so max(cum) over the materialized table — counts
    # are non-negative, the inclusive cumsum is monotone — is the same
    # exact integer with no extra base-table pass.
    cum = global_cumsum(
        cnt, [F.asc("v")], ["n_r", "n_c"], out_col=["cum_r", "cum_c"]
    )
    tot = cum.agg(
        F.max("cum_r").alias("nr"), F.max("cum_c").alias("nc")
    )
    d = (
        cum.join(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("cum_r") / F.col("nr")
                    - F.col("cum_c") / F.col("nc")
                )
            ).alias("d_stat")
        )
    )
    dd = portable_round(F.col("d_stat"), 4)
    bound = F.lit(1.358) * F.sqrt(
        (F.col("nr") + F.col("nc")) / (F.col("nr") * F.col("nc"))
    )
    return (
        d.join(F.broadcast(tot))
        .select(
            F.col("nr").cast("int").alias("n_ref"),
            F.col("nc").cast("int").alias("n_cur"),
            dd.alias("d_stat"),
            (dd > bound).alias("flag"),
        )
    )


# --------------------------------------------------------------------------
# X66 — chunk-level dedup rate (RAG-corpus hygiene over x63 fingerprints)
# --------------------------------------------------------------------------
@query(
    "x66_chunk_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             LEN(string_split(text, ' ')) AS n
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n,
             UNNEST(range(0,
               1 + CASE WHEN n > {_CHUNK_SIZE}
                        THEN CAST(CEIL((n - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0) AS BIGINT)
                        ELSE 0 END)) AS j,
             ws
      FROM w
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(ws, j * {_CHUNK_STRIDE} + 1,
                          LEAST(j * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)), ' '))
               AS fp
      FROM spans
    ),
    per_fp AS (
      SELECT fp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
      FROM ch GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS INT) AS n_distinct_chunks,
           CAST(SUM(n_occ) AS INT) AS n_chunks,
           CAST(SUM(n_occ - 1) AS INT) AS n_redundant,
           {portable_round_sql(
               "1.0 - COUNT(*) * 1.0 / SUM(n_occ)", 4
           )} AS dup_rate,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS INT)
             AS n_crossdoc_fps
    FROM per_fp
    """,
)
def x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup — RAG-corpus hygiene: embedding-index entries
    are CHUNKS, so redundancy is measured (and removed) at chunk
    granularity, not document granularity. One fingerprint-key
    aggregation over the x63 chunk stream: distinct chunks, total
    chunks, redundant copies (kept = min-doc canonical per fingerprint),
    the overall duplication rate, and how many fingerprints repeat
    ACROSS documents (boilerplate) vs within. Plan: narrow chunk
    explode -> one map-side-combinable groupBy(md5) -> one-row stats
    agg; at 100 TB the fingerprint agg is the only shuffle and carries
    16-byte keys."""
    from ..functions.text import chunk_spans

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_spans(
        docs, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).select("doc_id", F.md5(F.array_join(F.col("chunk"), " ")).alias("fp"))
    per_fp = ch.groupBy("fp").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return per_fp.agg(
        F.count("*").cast("int").alias("n_distinct_chunks"),
        F.sum("n_occ").cast("int").alias("n_chunks"),
        F.sum(F.col("n_occ") - 1).cast("int").alias("n_redundant"),
        portable_round(
            F.lit(1.0) - F.count("*") * F.lit(1.0) / F.sum("n_occ"), 4
        ).alias("dup_rate"),
        F.sum((F.col("n_docs") >= 2).cast("int")).cast("int").alias(
            "n_crossdoc_fps"
        ),
    )


# --------------------------------------------------------------------------
# X67 — Z-order layout key (multi-column clustering for scan pruning)
# --------------------------------------------------------------------------
def _x67_oracle() -> str:
    from ..operators.layout import morton_sql, norm16_sql

    na = norm16_sql("l_orderkey", "bd.amin", "bd.amax")
    nb = norm16_sql("l_partkey", "bd.bmin", "bd.bmax")
    z = morton_sql(na, nb)
    return f"""
    WITH bd AS (
      SELECT MIN(l_orderkey) AS amin, MAX(l_orderkey) AS amax,
             MIN(l_partkey) AS bmin, MAX(l_partkey) AS bmax
      FROM lineitem
    ),
    z AS (
      SELECT l_orderkey, l_partkey, {z} AS zkey
      FROM lineitem CROSS JOIN bd
    ),
    b AS (
      SELECT zkey // 134217728 AS zbucket, l_orderkey, l_partkey FROM z
    )
    SELECT CAST(zbucket AS INT) AS zbucket,
           CAST(COUNT(*) AS INT) AS n,
           CAST(MAX(l_orderkey) - MIN(l_orderkey) AS INT) AS okey_spread,
           CAST(MAX(l_partkey) - MIN(l_partkey) AS INT) AS pkey_spread
    FROM b GROUP BY zbucket ORDER BY zbucket
    """


@query("x67_zorder_key", oracle=_x67_oracle())
def x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key — the Delta/Iceberg OPTIMIZE ZORDER design: the
    Morton interleave of (l_orderkey, l_partkey) low bits gives ONE
    clustering key whose ranges are small in BOTH dimensions, so files
    written in z order carry tight min/max stats for either predicate
    (locality is asserted on real written files in
    tests/test_layout.py). Both columns are range-normalized to 16 bits
    BEFORE interleaving — the mandatory step a naive Morton misses: a
    small-domain column's raw bits are all low bits, so un-normalized
    splits cluster on the wide column only (caught by the layout test).
    This query reports per-z-bucket key spreads — exact int64 arithmetic,
    identical in both engines. Plan: one 4-scalar bounds agg broadcast
    onto the scan, narrow key computation, one bounded-key (<=32
    buckets) partial-combined aggregation."""
    from ..operators.layout import morton_col, norm16_col

    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_orderkey").alias("amin"),
        F.max("l_orderkey").alias("amax"),
        F.min("l_partkey").alias("bmin"),
        F.max("l_partkey").alias("bmax"),
    )
    z = morton_col(
        norm16_col(F.col("l_orderkey"), F.col("amin"), F.col("amax")),
        norm16_col(F.col("l_partkey"), F.col("bmin"), F.col("bmax")),
    )
    return (
        li.join(F.broadcast(bounds))
        .select(
            "l_orderkey",
            "l_partkey",
            F.floor(z / 134217728).cast("int").alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count("*").cast("int").alias("n"),
            (F.max("l_orderkey") - F.min("l_orderkey"))
            .cast("int")
            .alias("okey_spread"),
            (F.max("l_partkey") - F.min("l_partkey"))
            .cast("int")
            .alias("pkey_spread"),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# X68 — BPE tokenizer fit (golden literal oracle, sf0.01-pinned)
# --------------------------------------------------------------------------
# Generated by tools/gen_bpe_oracle.py: the INDEPENDENT pure-Python BPE
# reference run over the sf0.01 corpus (the same twin tests/test_bpe.py
# pins the distributed fit against). sf0.01-pinned like x42/q61.
_X68_ROWS = (
    "(0, 'e', 'r'), (1, 'i', 'n'), (2, 'o', 'w'), (3, 'o', 'r'), "
    "(4, 's', 't'), (5, 'm', 'er'), (6, 'a', 't'), (7, 'l', 'u'), "
    "(8, 'a', 'r'), (9, 'p', 'ar'), (10, 'j', 'o'), (11, 'jo', 'in')"
)


@query(
    "x68_bpe_merges",
    oracle=f"""
    SELECT * FROM (VALUES {_X68_ROWS}) AS t(rank, left_sym, right_sym)
    ORDER BY rank
    """,
)
def x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) via the ADAPTIVE fit
    in operators/bpe.py: one corpus-sized word-count aggregation, then —
    because this synthetic corpus's vocabulary is tiny — the driver-local
    merge loop (the distributed loop with per-round map-side-combinable
    pair groupBys runs above the 100k-distinct-word threshold and is
    pinned bit-identical to the local path in tests/test_bpe.py).
    Deterministic ties (count desc, pair asc) make the merge list
    reproducible, so the oracle is a generated literal from the
    independent pure-Python reference (tools/gen_bpe_oracle.py) —
    sf0.01-pinned like the PCA/Procrustes goldens."""
    from ..operators.bpe import bpe_fit

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_fit(docs, n_merges=12)
    return local_table(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left_sym string, right_sym string",
    ).orderBy("rank")


# --------------------------------------------------------------------------
# X69 — out-of-vocabulary rate per language (tokenizer drift monitor)
# --------------------------------------------------------------------------
@query(
    "x69_oov_rate",
    oracle=f"""
    WITH tr AS (
      SELECT UNNEST(string_split(text, ' ')) AS item
      FROM documents WHERE doc_id % 10 <> 7
    ),
    trc AS (
      SELECT item, COUNT(*) AS cnt FROM tr WHERE item <> ''
      GROUP BY item
    ),
    vocab AS (
      SELECT item FROM trc ORDER BY cnt DESC, item LIMIT 24
    ),
    ev AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS item
      FROM documents WHERE doc_id % 10 = 7
    ),
    scored AS (
      SELECT ev.lang,
             CASE WHEN v.item IS NULL THEN 1 ELSE 0 END AS oov
      FROM ev LEFT JOIN vocab v USING (item)
      WHERE ev.item <> ''
    )
    SELECT lang,
           CAST(COUNT(*) AS INT) AS n_tokens,
           CAST(SUM(oov) AS INT) AS n_oov,
           {portable_round_sql("SUM(oov) * 1.0 / COUNT(*)", 4)}
             AS oov_rate,
           {portable_round_sql("SUM(oov) * 1.0 / COUNT(*)", 4)} > 0.3
             AS flag
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate — the production tokenizer-drift signal: a
    vocabulary fit on the TRAIN split (the engine's deterministic q22
    split rule) scores the HELD-OUT split per language; a language whose
    OOV rate jumps is drifting away from the tokenizer (the reference's
    drift question asked of the token distribution). Plan: vocab fit is
    one word-count agg + top-k (driver-small by construction, the x24
    contract); scoring is a BROADCAST membership join over the exploded
    eval split — the corpus side never shuffles before the |langs|-row
    agg."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    train = docs.filter(F.col("doc_id") % 10 != 7)
    vocab = (
        train.select(F.explode(words).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(24)
        .select("item")
    )
    ev = docs.filter(F.col("doc_id") % 10 == 7).select(
        "lang", F.explode(words).alias("item")
    )
    scored = ev.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "item", "left"
    ).select("lang", F.col("in_v").isNull().cast("int").alias("oov"))
    rate = portable_round(F.sum("oov") * F.lit(1.0) / F.count("*"), 4)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("oov").cast("int").alias("n_oov"),
            rate.alias("oov_rate"),
            (rate > 0.3).alias("flag"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# X70 — data-quality expectation suite (Deequ pattern) over lineitem
# --------------------------------------------------------------------------
@query(
    "x70_data_expectations",
    oracle="""
    WITH rowrules AS (
      SELECT * FROM (VALUES
        ('not_null(l_orderkey)',
         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)),
        ('in_range(l_quantity,1,50)',
         (SELECT COUNT(*) FROM lineitem
          WHERE l_quantity NOT BETWEEN 1 AND 50)),
        ('is_in(l_returnflag)',
         (SELECT COUNT(*) FROM lineitem
          WHERE l_returnflag NOT IN ('A', 'N', 'R'))),
        ('non_negative(l_extendedprice)',
         (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)),
        ('unique(l_orderkey,l_linenumber)',
         (SELECT COALESCE(SUM(n - 1), 0) FROM (
            SELECT COUNT(*) AS n FROM lineitem
            GROUP BY l_orderkey, l_linenumber))),
        ('fk(l_orderkey)',
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)))
      ) AS t(rule, violations)
    )
    SELECT rule, CAST(violations AS BIGINT) AS violations,
           violations = 0 AS pass
    FROM rowrules ORDER BY rule
    """,
)
def x70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite — the Deequ/Great-Expectations
    pattern (operators/expectations.py): four row-local constraints fused
    into ONE aggregation pass over the scan, the composite-key
    uniqueness check as one groupBy, and referential integrity as one
    broadcast anti-join against orders. The (rule, violations, pass)
    audit record is what a production pipeline gates a write on."""
    from ..operators.expectations import (
        check,
        in_range,
        is_in,
        non_negative,
        not_null,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return check(
        li,
        rules=[
            not_null("l_orderkey"),
            in_range("l_quantity", 1, 50),
            is_in("l_returnflag", ["A", "N", "R"]),
            non_negative("l_extendedprice"),
        ],
        unique_keys=[["l_orderkey", "l_linenumber"]],
        foreign_keys=[(["l_orderkey"], orders, ["o_orderkey"])],
    ).orderBy("rule")


# --------------------------------------------------------------------------
# X71 — TextRank keywords: PageRank over the word co-occurrence graph
# --------------------------------------------------------------------------
_TR_ITER = 3


def _x71_oracle() -> str:
    # unrolled PageRank iterations (the kmeans/x58 oracle pattern) in
    # EXACT int64 fixed-point (scale 1e12, damping 17/20): per-edge
    # contribution (w * r) // wd and the damped update (17 * s) // 20 are
    # integer operations, and integer sums are order-independent — so the
    # oracle is bit-exact by CONSTRUCTION, not by hoping both engines sum
    # doubles in the same order (the x58 lesson applied to PageRank)
    parts = [
        """e0 AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, LEN(ws)),
                                   i -> ws[i])) AS a,
             UNNEST(list_transform(range(1, LEN(ws)),
                                   i -> ws[i + 1])) AS b
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )""",
        """edges AS (
      SELECT a, b, COUNT(*) AS w FROM (
        SELECT a, b FROM e0 WHERE a <> b
        UNION ALL
        SELECT b, a FROM e0 WHERE a <> b
      ) GROUP BY a, b
    )""",
        "nodes AS (SELECT DISTINCT a AS v FROM edges)",
        "n AS (SELECT COUNT(*) AS n FROM nodes)",
        """wdeg AS (SELECT a AS v, SUM(w) AS wd FROM edges GROUP BY a)""",
        """r0 AS (
      SELECT v, 1000000000000 // n.n AS r FROM nodes CROSS JOIN n
    )""",
    ]
    for t in range(_TR_ITER):
        parts.append(
            f"""r{t + 1} AS (
      SELECT nodes.v,
             (3 * 1000000000000) // (20 * n.n)
               + (17 * COALESCE(m.s, 0)) // 20 AS r
      FROM nodes CROSS JOIN n
      LEFT JOIN (
        SELECT e.b AS v, SUM((e.w * r{t}.r) // wdeg.wd) AS s
        FROM edges e
        JOIN r{t} ON r{t}.v = e.a
        JOIN wdeg ON wdeg.v = e.a
        GROUP BY e.b
      ) m ON m.v = nodes.v
    )"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT v AS word, CAST(r AS BIGINT) AS rank_fp
    FROM r{_TR_ITER}
    ORDER BY r DESC, v ASC LIMIT 10
    """
    )


@query("x71_textrank", oracle=_x71_oracle())
def x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the symmetric word co-occurrence (bigram) graph, 3 fixed iterations,
    damping 17/20, top-10 by rank — computed in EXACT int64 fixed-point
    (scale 1e12): per-edge contributions and the damped update use
    integer division, so sums are order-independent and the iterative
    result is bit-identical across engines and partitionings (the x58
    determinism discipline; a double-arithmetic PageRank would depend on
    float summation order, which neither engine guarantees). Scale shape
    matches the k-means/CC family: edge list and contribution table
    materialized once, each iteration one join + one groupBy over the
    |vocab|-row rank table — the 3-round recurrence itself stays lazy
    in one action (per-round truncation returns only for deep
    iteration counts)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.size(ws) - 1),
                F.slice(ws, 2, F.size(ws) - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    edges = (
        pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    # materialize the loop INVARIANTS once — nodes and the edge+degree
    # contribution table — and keep the 3-iteration rank recurrence LAZY
    # (r17, guide §1.2/§5): at _TR_ITER=3 the per-iteration eager
    # localCheckpoint bought nothing (lineage is 3 joins deep, not 50)
    # and cost one blocking driver job per round; one final action now
    # runs the whole recurrence, with the repeated nodes/contrib scans
    # deduped by ReuseExchange against the checkpointed tables. Measured
    # at sf0.1: 3.68 -> 1.78 s, output bit-identical (exact int64
    # fixed-point — no float order to disturb). A many-iteration variant
    # would reinstate periodic truncation; 3 is the declared contract.
    # invariants LAZY over the one checkpointed edge table (r18; was one
    # eager localCheckpoint each): their subtrees are identical at every
    # reference, so ReuseExchange serves the repeats, and a failed reuse
    # would only re-aggregate the checkpointed edges — bounded work, no
    # upstream re-execution. Drops two blocking construction jobs
    # (measured 18 -> 15 jobs, bit-identical output).
    nodes = edges.select(F.col("a").alias("v")).distinct()
    # |vocab| normalizer carried IN-PLAN as a broadcast 1-row agg (r18,
    # guide §1.2 action count — was an eager nodes.count() job): every
    # use of n is integer arithmetic on the long column, so the values
    # are bit-identical to the former driver-side literals.
    n_row = nodes.agg(F.count(F.lit(1)).alias("__n"))
    wdeg = edges.groupBy("a").agg(F.sum("w").alias("wd"))
    contrib_base = edges.join(wdeg, "a")
    # exact int64 fixed-point (scale 1e12, damping 17/20): DIV and
    # order-free integer sums make the iterative result bit-identical
    # across engines and partitionings — no float summation order to trust
    scale = 1_000_000_000_000
    ranks = nodes.join(F.broadcast(n_row)).select(
        "v", F.expr(f"{scale}L DIV __n").cast("long").alias("r")
    )
    for _ in range(_TR_ITER):
        msgs = (
            contrib_base.join(
                ranks.withColumnRenamed("v", "a"), "a"
            )
            .groupBy("b")
            .agg(F.sum(F.expr("(w * r) DIV wd")).alias("s"))
        )
        ranks = (
            nodes.join(
                msgs.withColumnRenamed("b", "v"), "v", "left"
            )
            .join(F.broadcast(n_row))
            .select(
                "v",
                (
                    F.expr(f"({3 * scale}L) DIV (20L * __n)")
                    + F.expr("(17 * coalesce(s, 0L)) DIV 20")
                ).cast("long").alias("r"),
            )
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("v"))
        .limit(10)
        .select(
            F.col("v").alias("word"),
            F.col("r").cast("long").alias("rank_fp"),
        )
    )


# --------------------------------------------------------------------------
# X72 — multi-signal corpus drift dashboard (PH detector fleet)
# --------------------------------------------------------------------------
def _x72_oracle() -> str:
    from .drift import ph_scan_oracle_keyed

    return ph_scan_oracle_keyed(
        """
    SELECT detector, bucket, error FROM (
      SELECT 'repetition' AS detector, bucket,
             AVG(CASE WHEN topf > 0.10 THEN 1.0 ELSE 0.0 END) AS error
      FROM (
        SELECT doc_id // 16 AS bucket,
               CAST(coalesce(list_max(list_transform(
                 list_distinct(w), x -> len(list_filter(w, y -> y = x)))), 0)
                 AS DOUBLE) / len(w) AS topf
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      ) GROUP BY bucket
      UNION ALL
      SELECT 'shortdoc' AS detector, doc_id // 16 AS bucket,
             AVG(CASE WHEN len(string_split(text, ' ')) < 30
                      THEN 1.0 ELSE 0.0 END) AS error
      FROM documents GROUP BY bucket
      UNION ALL
      SELECT 'quality' AS detector, bucket,
             AVG(CASE WHEN keep = 0 THEN 1.0 ELSE 0.0 END) AS error
      FROM (
        SELECT doc_id // 16 AS bucket,
               CASE WHEN len(w) BETWEEN 10 AND 100000
                     AND CAST(nchars AS DOUBLE) / len(w) BETWEEN 2.0 AND 12.0
                     AND CAST(coalesce(list_max(list_transform(
                           list_distinct(w),
                           x -> len(list_filter(w, y -> y = x)))), 0)
                         AS DOUBLE) / len(w) <= 0.2
                THEN 1 ELSE 0 END AS keep
        FROM (
          SELECT doc_id, string_split(text, ' ') AS w,
                 length(replace(text, ' ', '')) AS nchars
          FROM documents
        )
      ) GROUP BY bucket
    )
"""
    )


@query("x72_drift_dashboard", oracle=_x72_oracle())
def x72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal corpus drift dashboard — the detector-FLEET shape:
    three curation signals (repetition rate, short-doc rate, x46
    quality-fail rate) per 16-doc ingest bucket, each watched by its own
    Page-Hinkley detector through ONE keyed applyInPandas (detector_id =
    signal name; the fleet parallelizes across keys, SCALE.md T1 row).
    Rates k/16 are exact dyadic rationals, so the keyed recursive-CTE
    oracle replays every detector bit-exactly. The same series feeds the
    LIVE fleet (streaming detect_drift_ph_stream) with batch/stream +
    kill-and-restart parity pinned in tests/test_streaming.py (VERDICT
    r5 task #5)."""
    from ..operators.ph import detect_drift_ph

    fleet = drift_dashboard_series(load_table(spark, sf_dir, "documents"))
    return detect_drift_ph(fleet).select(
        F.col("detector_id").alias("detector"), "seq_id", "error", "flag"
    )


def drift_dashboard_series(docs: DataFrame) -> DataFrame:
    """The x72 fleet's input series: DataFrame[detector_id, seq_id, error]
    — one row per (signal, 16-doc ingest bucket), three signals. Shared by
    the batch dashboard and the streaming fleet so parity is over the
    exact same series."""
    from ..operators.windows import count_window_agg
    w0 = F.split(F.col("text"), " ")
    staged = docs.select(
        "doc_id",
        w0.alias("w"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("nchars"),
    )
    w = F.col("w")
    n = F.size(w)
    topf = _max_multiplicity(F.array_sort(w)).cast("double") / n
    mwl = F.col("nchars").cast("double") / n
    quality_fail = (
        ~(
            n.between(10, 100000)
            & mwl.between(2.0, 12.0)
            & (topf <= 0.2)
        )
    ).cast("double")
    signals = staged.select(
        "doc_id",
        (topf > 0.10).cast("double").alias("repetition"),
        (n < 30).cast("double").alias("shortdoc"),
        quality_fail.alias("quality"),
    )

    def series(col: str) -> DataFrame:
        return count_window_agg(
            signals,
            seq_col="doc_id",
            batch_size=16,
            aggs=[F.avg(col).alias("error")],
        ).select(
            F.lit(col).alias("detector_id"),
            F.col("bucket").cast("long").alias("seq_id"),
            "error",
        )

    return (
        series("repetition")
        .unionByName(series("shortdoc"))
        .unionByName(series("quality"))
    )



# --------------------------------------------------------------------------
# X73 — per-bucket quantile-shift drift tracking (feature monitoring)
# --------------------------------------------------------------------------
@query(
    "x73_quantile_drift",
    oracle="""
    WITH b AS (
      SELECT event_id // 256 AS bucket, value FROM events
    ),
    q AS (
      SELECT bucket,
             quantile_cont(value,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM b GROUP BY bucket
    ),
    lagged AS (
      SELECT bucket, qs,
             LAG(qs) OVER (ORDER BY bucket) AS prev
      FROM q
    ),
    shifts AS (
      SELECT bucket,
             (SELECT MAX(ABS(a.v - b.v))
              FROM (SELECT UNNEST(qs) AS v,
                           GENERATE_SUBSCRIPTS(qs, 1) AS i) a
              JOIN (SELECT UNNEST(prev) AS v,
                           GENERATE_SUBSCRIPTS(prev, 1) AS i) b
              USING (i)) AS shift
      FROM lagged WHERE prev IS NOT NULL
    )
    SELECT CAST(bucket AS INT) AS bucket,
           FLOOR(shift * 10000.0 + 0.5) / 10000.0 AS max_decile_shift,
           FLOOR(shift * 10000.0 + 0.5) / 10000.0 > 5.0 AS flag
    FROM shifts ORDER BY bucket
    """,
)
def x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-shift drift tracking — the feature-store monitoring
    pattern: per ingest bucket, the exact decile signature of the value
    distribution; drift per bucket = max absolute decile shift against
    the previous bucket. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share R-7 interpolation bit-exactly (the x56
    precedent), so the series needs only output rounding. Plan: one
    partial-combined groupBy(bucket) percentile agg (the per-bucket
    buffers are bounded by bucket size); the LAG runs over the
    |buckets|-row signature table — bounded by construction (corpus /
    bucket_size rows), not by corpus size, so the single-partition
    window is driver-trivial at any scale."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    qs = "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
    q = (
        ev.select(
            F.floor(F.col("event_id") / 256).cast("long").alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(F.expr(qs).alias("qs"))
    )
    lagged = q.select(
        "bucket",
        "qs",
        F.lag("qs").over(Window.orderBy("bucket")).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    shift = F.array_max(
        F.zip_with("qs", "prev", lambda a, b: F.abs(a - b))
    )
    rounded = F.floor(shift * 10000.0 + 0.5) / 10000.0
    return lagged.select(
        F.col("bucket").cast("int").alias("bucket"),
        rounded.alias("max_decile_shift"),
        (rounded > 5.0).alias("flag"),
    ).orderBy("bucket")


# --------------------------------------------------------------------------
# X74 — token-budget mixture sampling (domain reweighting by TOKENS)
# --------------------------------------------------------------------------
@query(
    "x74_token_mixing",
    oracle=f"""
    WITH t(lang, tw) AS (VALUES {_MIX_VALUES_SQL}),
    d AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS nw
      FROM documents
    ),
    cnt AS (SELECT lang, SUM(nw) AS tok FROM d GROUP BY lang),
    cap AS (SELECT MIN(tok / tw) AS total FROM cnt JOIN t USING (lang)),
    rates AS (
      SELECT cnt.lang, cnt.tok,
             LEAST(1.0, cap.total * t.tw / cnt.tok) AS rate
      FROM cnt JOIN t USING (lang) CROSS JOIN cap
    ),
    kept AS (
      SELECT d.lang, d.nw,
             CASE WHEN ((d.doc_id % 2147483648) * 1103515245
                        % 2147483648 % 1000000)
                  < FLOOR(r.rate * 1000000.0)
                  THEN d.nw ELSE 0 END AS kept_nw
      FROM d JOIN rates r USING (lang)
    ),
    per AS (
      SELECT k.lang, r.tok, r.rate,
             SUM(k.kept_nw) AS kept_tok
      FROM kept k JOIN rates r USING (lang)
      GROUP BY k.lang, r.tok, r.rate
    ),
    tot AS (SELECT SUM(kept_tok) AS all_kept FROM per)
    SELECT lang,
           CAST(tok AS INT) AS n_tokens,
           CAST(kept_tok AS INT) AS kept_tokens,
           {portable_round_sql("rate", 4)} AS keep_rate,
           {portable_round_sql("kept_tok * 1.0 / tot.all_kept", 4)}
             AS achieved_share
    FROM per CROSS JOIN tot ORDER BY lang
    """,
)
def x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture reweighting by TOKEN budget — what published
    mixtures actually target (the Pile/LLaMA tables are token shares,
    not document counts): per-language token totals cap the feasible
    budget at the binding language, keep-rates follow, the sample is the
    deterministic LCG on doc_id (x61's rule — a document is kept or
    dropped whole), and the report includes the ACHIEVED token share so
    the residual mismatch from document granularity is visible. Plan:
    token totals = one |langs|-key agg broadcast back; the corpus scan
    filters in place (zero shuffle of the fact side); one |langs|-row
    final agg + a one-row total broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.broadcast(
        local_table(docs.sparkSession, _MIX_TARGETS, "lang string, tw double")
    )
    d = docs.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("nw")
    )
    cnt = d.groupBy("lang").agg(F.sum("nw").alias("tok"))
    cap = (
        cnt.join(t, "lang")
        .agg(F.min(F.col("tok") / F.col("tw")).alias("total"))
    )
    rates = (
        cnt.join(t, "lang")
        .join(F.broadcast(cap))
        .select(
            "lang",
            "tok",
            F.least(
                F.lit(1.0), F.col("total") * F.col("tw") / F.col("tok")
            ).alias("rate"),
        )
    )
    kept_nw = F.when(
        lcg_bucket(F.col("doc_id"), 1000000)
        < F.floor(F.col("rate") * 1000000.0),
        F.col("nw"),
    ).otherwise(F.lit(0))
    per = (
        d.join(F.broadcast(rates), "lang")
        .select("lang", "tok", "rate", kept_nw.alias("kept_nw"))
        .groupBy("lang", "tok", "rate")
        .agg(F.sum("kept_nw").alias("kept_tok"))
    )
    tot = per.agg(F.sum("kept_tok").alias("all_kept"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "lang",
            F.col("tok").cast("int").alias("n_tokens"),
            F.col("kept_tok").cast("int").alias("kept_tokens"),
            portable_round(F.col("rate"), 4).alias("keep_rate"),
            portable_round(
                F.col("kept_tok") * F.lit(1.0) / F.col("all_kept"), 4
            ).alias("achieved_share"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# X75 — dedup savings report: cluster-size histogram + bytes reclaimed
# --------------------------------------------------------------------------
def _x75_oracle() -> str:
    from .extensions3 import _x23_oracle

    base = _x23_oracle()
    # reuse the x23 transitive-closure CTEs; replace its final SELECT with
    # the savings rollup
    head, _, _tail = base.rpartition("SELECT node AS doc_id")
    return (
        head
        + """, labels AS (
      SELECT node AS doc_id, MIN(lbl) AS cluster_id,
             node = MIN(lbl) AS is_canonical
      FROM reach GROUP BY node
    ),
    sized AS (
      SELECT l.cluster_id,
             COUNT(*) AS cluster_size,
             SUM(CASE WHEN l.is_canonical THEN 0 ELSE d.n_chars END)
               AS chars_removed
      FROM labels l JOIN documents d USING (doc_id)
      GROUP BY l.cluster_id
    )
    SELECT CAST(cluster_size AS INT) AS cluster_size,
           CAST(COUNT(*) AS INT) AS n_clusters,
           CAST(SUM(cluster_size) AS INT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS INT) AS n_removed,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM sized GROUP BY cluster_size ORDER BY cluster_size
    """
    )


@query("x75_dedup_savings", oracle=_x75_oracle())
def x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report — the dashboard a data team reads after a
    dedup run: per near-dup cluster size, how many clusters, how many
    documents, how many would be REMOVED under keep-one-per-cluster, and
    how many characters that reclaims (canonical = min-id member, the
    x23 contract). Plan: the x23 GUARDED MinHash edge set
    (``minhash_dedup_edges``: exact-dup collapse + hot-bucket cap) +
    adaptive connected components, one doc_id-keyed join to attach sizes,
    a bounded-key (cluster_id) agg, then a |distinct sizes|-row rollup."""
    from ..operators.dedup import minhash_dedup_edges
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_edges(docs)
    labels = dedup_clusters(docs.select("doc_id"), pairs)
    sized = (
        labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum(
                F.when(F.col("is_canonical"), F.lit(0)).otherwise(
                    F.col("n_chars")
                )
            ).alias("chars_removed"),
        )
    )
    return (
        sized.groupBy("cluster_size")
        .agg(
            F.count("*").cast("int").alias("n_clusters"),
            F.sum("cluster_size").cast("int").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).cast("int").alias("n_removed"),
            F.sum("chars_removed").cast("bigint").alias("chars_removed"),
        )
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removed",
            "chars_removed",
        )
        .orderBy("cluster_size")
    )
