"""Exact set-similarity join with prefix filtering (SSJoin/PPJoin family),
plus the adaptive routing layer that keeps it safe at 100 TB.

The MinHash path (operators/dedup.py) is probabilistic: band collisions
can MISS a true near-dup pair. This operator is the exact-threshold
complement — every pair with shingle-set Jaccard >= t is returned, no
recall loss — using the prefix-filtering principle (Chaudhuri et al.
ICDE'06, Bayardo et al. WWW'07): order each set's tokens by ascending
global document frequency; a qualifying pair must share a token inside
both members' short df-ordered prefixes (asymmetric lengths — see the
role comment in the implementation).
Joining on PREFIX tokens only — each document's globally rarest tokens —
prunes the candidate space the way the full inverted-index self-join
(ngram_jaccard_pairs) cannot: stop-shingles shared by everything never
enter the join.

Scale shape at 100 TB:
- exact-duplicate collapse first (dedup.collapse_exact — the shared
  hot-bucket defense): byte-identical boilerplate collapses to one
  representative before any token work, so mass duplicates cost one
  digest window, not a quadratic token join;
- document frequency = one token groupBy; prefix selection = one
  row_number window per document;
- the candidate join runs on prefix tokens whose fan-out is their global
  df — and df-ORDERING concentrates the prefix on the rare tail, so the
  per-token join groups stay narrow (a token that is globally common is
  in a document's prefix only when nearly all its tokens are common);
- the size filter t*max(|x|,|y|) <= min(|x|,|y|) (a Jaccard necessary
  condition) prunes candidates before verification;
- verification touches candidate pairs only.

The result keeps the guarded dedup-family semantics: exact-dup groups
contribute their keeper->member star edges (jaccard 1.0), never all
quadratic within-group pairs; near-dup pairs are reported between
representatives. The DuckDB oracle for x84 verifies WITHOUT the prefix
filter (full inverted-index join), so the hash match is an empirical
proof of the filter's losslessness on top of the unit tests.

Honest cost model (measured at 10x, BENCH_NOTES round 7): candidate
generation is Theta(sum over prefix tokens of df(w)^2) — the same term
that governs every published parallel SSJoin (Vernica SIGMOD'10). On
corpora whose token space grows with the corpus (real crawls) prefix dfs
stay flat and the join is ~linear; on LOW-ENTROPY corpora the shingle
space saturates, dfs grow with the corpus, and the exact join goes
super-linear — by nature, not by plan.

Adaptive routing (VERDICT r7 #1 — closing the loop the cost model
leaves open): the exact candidate-join row count is KNOWN before the
join runs — it is exactly sum_w ca(w)*cb(w) over the probe/index prefix
postings the operator already builds, one extra aggregate
(``ssjoin_candidate_volume``). ``adaptive_jaccard_join`` computes that
number first and routes:

- volume <= budget  -> the exact prefix path (identical output to
  ``prefix_jaccard_join``);
- volume >  budget  -> guarded MinHash banding generates the candidates
  (linear in corpus size by the hot-bucket guard) feeding the SAME exact
  verification — so returned pairs are still exactly-verified true
  positives; only RECALL becomes probabilistic, with the band shape
  recall-tuned to the threshold: p_miss(j) = (1 - j^r)^b, and the
  default (num_hashes=64, rows_per_band=2 -> 32 bands) gives
  p_miss(0.5) ~ 1e-4, vanishing for higher similarity.

A user pointing the join at a low-entropy 100 TB corpus now gets the
linear fallback (or, with ``route='exact'`` forced, at least the
pre-flight number that predicts the cliff) instead of a silent 34x
blow-up. The routing decision itself is one driver-side scalar.

Sizing ``budget_rows`` for a real cluster (VERDICT r8 #7): the budget
bounds the CANDIDATE JOIN's shuffle, so derive it from shuffle capacity,
not from corpus size. A candidate row is (a_id, b_id, na, nb) — ~32
bytes of payload, ~2-3x that through the shuffle write+fetch path, so
budget ~100 B/row of shuffle traffic plus one verify-join probe per row.
Rule of thumb: budget_rows = (aggregate shuffle headroom in bytes x a
0.25 safety fraction) / 100 B — e.g. 1000 executors with 8 GB shuffle
headroom each -> ~2e10 rows; a single 32-core box with ~50 GB of fast
scratch -> ~1e8 rows (the operator default). Then sanity-check wall
time: verification streams ~volume rows through one hash join, so at a
measured ~5M candidate-rows/s/32-cores (BENCH_NOTES round-9 slope
table), 1e8 candidates is ~20 s of verify on one box — scale linearly
with cores. The DEFAULT budget applies exactly this formula from the
session's own shape (VERDICT r9 #6): ``spark.sql.shuffle.partitions`` x
~3M candidate rows per task (~300 MB of shuffle traffic per task at
~100 B/row) — 32 partitions on the dev box -> 9.6e7 (the old 1e8
constant, now derived); a 1000-executor cluster running 8k shuffle
partitions -> 2.4e10, the same number the headroom rule of thumb gives.
An explicit ``budget_rows`` always wins. The demo queries pin
budget_rows=100k so the route flips between sf0.01 and sf0.1 on the
driver's own data; production budgets are orders of magnitude higher
and flip only on genuinely low-entropy corpora (measured slope: 10x
documents -> 100.7x exact candidate volume on a saturated shingle
space, while the fallback's wall time grew 1.55x).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..functions.text import word_ngrams_col
from ..sources.tables import local_table, spread_small_input
from .dedup import (
    collapse_exact,
    minhash_bands,
    minhash_candidate_pairs,
)


def _tokenize(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int
) -> tuple[DataFrame, DataFrame]:
    """(chains, toks): exact-dup star edges + the materialized distinct
    shingle-set table of the representatives."""
    chains, reps = collapse_exact(df, text_col, id_col)
    toks = spread_small_input(reps).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams_col(F.col(text_col), shingle_size))
        ).alias("w"),
    )
    # materialize the tokenized corpus ONCE: six downstream branches
    # (df-counts, sizes, both prefix sides, both verify sides) consume it,
    # and Spark does not dedupe common subplans — without this the
    # collapse window + shingle explode re-runs per branch (observed: 30
    # Exchanges at sf0.01 vs 13 after). localCheckpoint (the repo's
    # materialize-once idiom, operators/graph.py:16) also truncates the
    # digest-window lineage out of every downstream stage.
    return chains, toks.localCheckpoint(eager=True)


def _prefix_table(
    toks: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """DataFrame[id, w, n, rk, __pr]: each document's df-ordered prefix
    postings. Rows are the INDEX-side prefix (rk <= li); ``__pr`` marks
    the shorter PROBE-side prefix (rk <= lp).

    Asymmetric prefixes (Bayardo et al. WWW'07 all-pairs): order pair
    roles by (n, id) — the lexicographically smaller doc PROBES, the
    larger INDEXES — and each role needs only its own overlap lower
    bound:
      probe side x (nx <= ny):  i >= t/(1+t)*(nx+ny) >= 2t/(1+t)*nx
        -> probe prefix  nx - ceil(2t/(1+t)*nx) + 1   (~n/3 at t=0.5)
      index side y:             i >= t*ny  (given the size filter)
        -> index prefix  ny - ceil(t*ny) + 1          (~n/2 at t=0.5)
    Join rows drop from sum(df_sym^2) to sum(df_probe * df_index). The
    1e-9 guard keeps float ceil from overshooting the exact rational
    bound when 2t/(1+t)*n lands on an integer (which would shorten a
    prefix below the theorem's length and lose pairs).

    ``n`` is a window COUNT over the same per-document partitioning the
    rank window already establishes — not a separate groupBy + join,
    which would shuffle ``toks`` a second time on the id (guide §2.4:
    operations keyed the same way share one exchange; measured r17:
    one Exchange + one SortMergeJoin removed from every prefix-table
    consumer, x84 sf0.1 3.44 -> 3.0 s)."""
    dfreq = toks.groupBy("w").agg(F.count("*").alias("df"))
    probe_frac = 2.0 * threshold / (1.0 + threshold)
    li = F.col("n") - F.ceil(
        F.lit(threshold) * F.col("n") - F.lit(1e-9)
    ) + 1
    lp = F.col("n") - F.ceil(
        F.lit(probe_frac) * F.col("n") - F.lit(1e-9)
    ) + 1
    wid = Window.partitionBy(id_col)
    return (
        toks.join(dfreq, "w")
        .withColumn("rk", F.row_number().over(wid.orderBy("df", "w")))
        .withColumn("n", F.count("*").over(wid))
        .filter(F.col("rk") <= li)
        .select(
            F.col(id_col), "w", "n", "rk", (F.col("rk") <= lp).alias("__pr")
        )
    )


def ssjoin_candidate_volume(prefix: DataFrame, id_col: str) -> DataFrame:
    """DataFrame[candidate_volume long] (one row): the EXACT row count of
    the prefix candidate join before any filter — sum over tokens w of
    (probe-prefix postings of w) * (index-prefix postings of w). This is
    the Theta(sum df_probe*df_index) term of the cost model, computable
    from one aggregate over the postings the join already builds, BEFORE
    paying for the join itself: the pre-flight number a planner checks
    against its shuffle budget (the sketch-algebra analogue is x86's CMS
    inner product; here the exact per-token counts are already on hand,
    so the estimate is exact int64 and itself oracle-hashable)."""
    ca = (
        prefix.filter(F.col("__pr"))
        .groupBy("w")
        .agg(F.count("*").alias("__ca"))
    )
    cb = prefix.groupBy("w").agg(F.count("*").alias("__cb"))
    return ca.join(cb, "w").agg(
        F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
        .cast("long")
        .alias("candidate_volume")
    )


def _exact_candidates(prefix: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Candidate pairs from the prefix join, PPJoin-filtered:
    DataFrame[a_id, b_id, na, nb] with the probe role (n, id)-smaller."""
    a = prefix.filter(F.col("__pr")).select(
        F.col(id_col).alias("a_id"),
        "w",
        F.col("n").alias("na"),
        F.col("rk").alias("pa"),
    )
    b = prefix.select(
        F.col(id_col).alias("b_id"),
        "w",
        F.col("n").alias("nb"),
        F.col("rk").alias("pb"),
    )
    # PPJoin positional filters (Xiao et al. VLDB'08), exact: both bounds
    # come free from the groupBy that dedups the candidate pairs, and both
    # rest on ORDER CONSISTENCY — shared tokens appear in the same relative
    # order in every document under the one global (df, w) sort, so
    #   (1) no shared token precedes the FIRST shared prefix token in
    #       either document: i <= 1 + min(na - pa1, nb - pb1);
    #   (2) every shared token not counted in the prefix intersection
    #       follows the LAST shared prefix token in BOTH documents:
    #       i <= cnt + min(na - paL, nb - pbL).
    # Jaccard >= t needs i >= t*(na+nb)/(1+t); pairs whose upper bounds
    # cannot reach it are dropped BEFORE the verification join — on
    # low-entropy corpora (tiny shingle spaces) most spurious one-token
    # collisions die here. Pruning is internal and lossless, so the
    # DuckDB oracle needs no mirror.
    required = F.lit(threshold) * (F.col("na") + F.col("nb")) / F.lit(
        1.0 + threshold
    )
    return (
        a.join(b, "w")
        .filter(
            # role order: probe side strictly (n, id)-smaller
            (
                (F.col("na") < F.col("nb"))
                | (
                    (F.col("na") == F.col("nb"))
                    & (F.col("a_id") < F.col("b_id"))
                )
            )
            # Jaccard >= t  =>  t * max <= min; na <= nb by role order
            & (F.lit(threshold) * F.col("nb") <= F.col("na"))
        )
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(
            F.count("*").alias("cnt"),
            F.min("pa").alias("pa1"),
            F.min("pb").alias("pb1"),
            F.max("pa").alias("paL"),
            F.max("pb").alias("pbL"),
        )
        .filter(
            (
                1
                + F.least(
                    F.col("na") - F.col("pa1"), F.col("nb") - F.col("pb1")
                )
                >= required
            )
            & (
                F.col("cnt")
                + F.least(
                    F.col("na") - F.col("paL"), F.col("nb") - F.col("pbL")
                )
                >= required
            )
        )
        .select("a_id", "b_id", "na", "nb")
    )


def _verify(
    toks: DataFrame, cand: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact verification of candidate pairs over the FULL token sets:
    DataFrame[a_id, b_id, jaccard] normalized to a_id < b_id. ``cand``
    must carry (a_id, b_id, na, nb); role orientation is irrelevant
    (intersection is symmetric). ``id_col`` names ``toks``'s id column
    explicitly, like every other helper here — the previous positional
    ``toks.columns[0]`` inference would have silently mislabeled pair
    ids had ``_tokenize``'s select order ever changed (ADVICE r8)."""
    ta = toks.select(F.col(id_col).alias("a_id"), "w")
    tb = toks.select(F.col(id_col).alias("b_id"), "w")
    inter = (
        cand.join(ta, "a_id")
        .join(tb, ["b_id", "w"])
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count("*").alias("i"))
    )
    # role ids may be ordered by (n, id), not by id — normalize the output
    # pair to (smaller id, larger id), the declared orientation
    return inter.filter(
        F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        >= F.lit(threshold)
    ).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        portable_round(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6
        ).alias("jaccard"),
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int = 3,
) -> DataFrame:
    """DataFrame[a_id, b_id, jaccard]: all pairs with word-``shingle_size``-
    gram set Jaccard >= ``threshold`` (a_id < b_id), exact-dup star edges
    included at jaccard 1.0.

    ``threshold`` should be exactly representable in binary (0.5, 0.25,
    0.75) so the >= comparison is engine-portable without rounding.

    This is the always-exact, fully-lazy form. For production corpora of
    unknown entropy use ``adaptive_jaccard_join`` (or check
    ``ssjoin_candidate_volume`` first): it measures this join's candidate
    volume BEFORE running it and routes around the low-entropy
    super-linear regime documented in the module docstring."""
    chains, toks = _tokenize(df, text_col, id_col, shingle_size)
    prefix = _prefix_table(toks, id_col, threshold)
    cand = _exact_candidates(prefix, id_col, threshold)
    verified = _verify(toks, cand, threshold, id_col)
    return chains.select(
        "a_id", "b_id", F.lit(1.0).alias("jaccard")
    ).unionByName(verified)


def _minhash_candidates(
    toks: DataFrame,
    id_col: str,
    num_hashes: int,
    rows_per_band: int,
    bucket_cap: int,
) -> DataFrame:
    """Guarded MinHash candidate pairs over the representatives, shaped
    for ``_verify``: DataFrame[a_id, b_id, na, nb] (a_id < b_id by id).

    Signatures come straight from the already-materialized ``toks``
    table (the checkpointed distinct-shingle rows) instead of
    ``dedup.minhash_signatures`` over the raw text: MIN over distinct
    shingles equals MIN over all shingle occurrences, and the hash
    formula below is ``minhash_signatures``'s exactly (one md5 per
    shingle, Kirsch-Mitzenmacher h_j = mix32((hx + j*hy) mod 2^32)), so the
    signatures are bit-identical — but the fallback route skips a second
    corpus scan, the collapse window re-run, and the re-explode
    (measured ~2 s of x90's sf0.1 cost)."""
    from .dedup import minhash_signatures_from_tokens

    sigs = minhash_signatures_from_tokens(toks, id_col, num_hashes)
    bands = minhash_bands(
        sigs,
        id_col=id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        carry_sig=True,
    )
    pairs = minhash_candidate_pairs(bands, id_col=id_col, bucket_cap=bucket_cap)
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n"))
    return (
        pairs.join(
            sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("na")),
            "a_id",
        )
        .join(
            sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb")),
            "b_id",
        )
        .select("a_id", "b_id", "na", "nb")
    )


# ~3M candidate rows per shuffle task ~ 300 MB of in-flight shuffle
# traffic per task at the ~100 B/row measured in the module docstring's
# sizing paragraph — the per-task term of the default budget formula
_BUDGET_ROWS_PER_TASK = 3_000_000


def default_budget_rows(spark) -> int:
    """The candidate-volume budget derived from cluster shape (VERDICT
    r9 #6): the candidate join shuffles across
    ``spark.sql.shuffle.partitions`` tasks, so the budget is
    partitions x ``_BUDGET_ROWS_PER_TASK`` (sizing formula and worked
    examples in the module docstring). 32 partitions -> 9.6e7; a
    1000-executor cluster at 8k partitions -> 2.4e10. Callers needing a
    different risk posture pass ``budget_rows`` explicitly."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return parts * _BUDGET_ROWS_PER_TASK


def adaptive_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int = 3,
    budget_rows: int | None = None,
    route: str = "auto",
    num_hashes: int = 64,
    rows_per_band: int = 2,
    bucket_cap: int = 64,
) -> tuple[DataFrame, dict]:
    """Regime-guarded set-similarity join: ``prefix_jaccard_join``'s
    output, but the candidate-generation strategy is chosen by the
    pre-flight exact candidate-volume estimate (module docstring).

    Returns ``(pairs, info)``: ``pairs`` = DataFrame[a_id, b_id, jaccard]
    (a_id < b_id; exact-dup star edges at 1.0), ``info`` = the audit dict
    ``{"route": "exact"|"minhash", "candidate_volume": int,
    "budget_rows": int}``. ``route='exact'`` / ``'minhash'`` force a
    path (the volume is still computed and reported — forcing 'exact'
    over budget is how an operator consciously accepts the cliff);
    ``'auto'`` compares volume to ``budget_rows``, which defaults to
    :func:`default_budget_rows` — shuffle-partition count x a per-task
    candidate-row budget — so the same query auto-scales its routing
    threshold with the cluster it runs on.

    The volume collect is one driver-side scalar (an aggregate over the
    prefix postings — itself bounded by the corpus token count, never by
    the candidate volume it predicts). Both routes share tokenization,
    exact verification, and the exact-dup star edges; the MinHash route's
    only deviation is candidate RECALL: p_miss(j) = (1 - j^rows_per_band)
    ^ (num_hashes/rows_per_band), ~1e-4 at j=0.5 with the defaults and
    vanishing for more-similar pairs. False candidates cost only
    verification work — never a wrong pair."""
    if route not in ("auto", "exact", "minhash"):
        raise ValueError(f"route must be auto|exact|minhash, got {route!r}")
    if budget_rows is None:
        budget_rows = default_budget_rows(df.sparkSession)
    chains, toks = _tokenize(df, text_col, id_col, shingle_size)
    prefix = _prefix_table(toks, id_col, threshold)
    volume = int(
        ssjoin_candidate_volume(prefix, id_col).collect()[0][
            "candidate_volume"
        ]
    )
    chosen = route
    if route == "auto":
        chosen = "exact" if volume <= budget_rows else "minhash"
    if chosen == "exact":
        cand = _exact_candidates(prefix, id_col, threshold)
    else:
        cand = _minhash_candidates(
            toks, id_col, num_hashes, rows_per_band, bucket_cap
        )
    verified = _verify(toks, cand, threshold, id_col)
    pairs = chains.select(
        "a_id", "b_id", F.lit(1.0).alias("jaccard")
    ).unionByName(verified)
    return pairs, {
        "route": chosen,
        "candidate_volume": volume,
        "budget_rows": int(budget_rows),
    }


def _fingerprint_agg(pairs: DataFrame, route: str, volume: int, budget: int) -> DataFrame:
    """One-row exact fingerprint of a pair set: DataFrame[route,
    candidate_volume, budget_rows, n_pairs, sum_jac_q]. ``sum_jac_q`` is
    the int64 sum of jaccard*1e6 over returned pairs (jaccard is already
    quantized to 1e-6 by portable_round), so the row is hash-comparable
    across engines."""
    return pairs.agg(
        F.lit(route).alias("route"),
        F.lit(volume).cast("long").alias("candidate_volume"),
        F.lit(budget).cast("long").alias("budget_rows"),
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long")),
            F.lit(0).cast("long"),
        ).alias("sum_jac_q"),
    )


def ssjoin_routing_audit_modes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int = 3,
    budget_rows: int | None = None,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    bucket_cap: int = 64,
) -> DataFrame:
    """Two-row audit — mode 'auto' plus mode 'forced_minhash' — sharing
    ONE tokenize/prefix/volume pass (r17, guide §1.2/§7.2), so the
    collapse window, shingle checkpoint, prefix windows and volume
    aggregate run once for rows that describe the SAME corpus. Each row
    is :func:`_fingerprint_agg` over :func:`adaptive_jaccard_join`'s
    pairs for that mode (route 'auto' and route 'minhash'), checked so
    in tests/test_setjoin.py; when auto routes 'minhash' the forced row
    is a literal copy of the auto row (the two modes are the same
    deterministic computation then — the pipeline runs ONCE).

    EAGER EXECUTION (ADVICE r17): constructing the returned DataFrame
    already runs the full forced-minhash pipeline driver-side (the
    ``collect`` below feeds the route decision AND the forced row), in
    BOTH budget regimes — callers that only want the plan (e.g.
    tools/capture_plans.py) still pay the whole minhash run at build
    time; only the auto='exact' fingerprint stays lazy."""
    if budget_rows is None:
        budget_rows = default_budget_rows(df.sparkSession)
    budget_rows = int(budget_rows)
    chains, toks = _tokenize(df, text_col, id_col, shingle_size)
    prefix = _prefix_table(toks, id_col, threshold)
    star = chains.select("a_id", "b_id", F.lit(1.0).alias("jaccard"))

    def pairs_for(chosen: str) -> DataFrame:
        if chosen == "exact":
            cand = _exact_candidates(prefix, id_col, threshold)
        else:
            cand = _minhash_candidates(
                toks, id_col, num_hashes, rows_per_band, bucket_cap
            )
        return star.unionByName(_verify(toks, cand, threshold, id_col))

    # the forced_minhash row runs the MinHash pipeline whatever the
    # volume says, so the volume aggregate need not be its own blocking
    # job before the route decision: its 1-row result cross-joins into
    # the MinHash fingerprint plan and BOTH independent stage chains run
    # concurrently inside one job off the shared toks checkpoint (r17,
    # guide §1.2/§2.6 — the volume phase alone measured ~2.0 s at sf0.1
    # as a standalone job). The auto-route DECISION still happens on the
    # driver from the collected volume, exactly as before.
    mh_combined = (
        pairs_for("minhash")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum(
                    F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast(
                        "long"
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("sum_jac_q"),
        )
        .crossJoin(ssjoin_candidate_volume(prefix, id_col))
        .collect()[0]
    )
    volume = int(mh_combined["candidate_volume"])
    forced_row = (
        "forced_minhash",
        "minhash",
        volume,
        budget_rows,
        int(mh_combined["n_pairs"]),
        int(mh_combined["sum_jac_q"]),
    )
    spark = df.sparkSession
    schema = (
        "mode string, route string, candidate_volume long, "
        "budget_rows long, n_pairs long, sum_jac_q long"
    )
    if volume > budget_rows:
        # auto routes minhash == the forced computation; one pipeline
        # run serves both rows (unchanged semantics from the start)
        return local_table(
            spark, [("auto",) + forced_row[1:], forced_row], schema
        )
    # auto routes exact: the exact fingerprint stays lazy (the caller's
    # one action computes it), unioned with the already-computed forced
    # row
    auto = _fingerprint_agg(
        pairs_for("exact"), "exact", volume, budget_rows
    ).select(F.lit("auto").alias("mode"), "*")
    return auto.unionByName(local_table(spark, [forced_row], schema))
