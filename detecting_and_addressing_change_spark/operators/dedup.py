"""Deduplication operators — the LLM-data-pipeline extension family
(driver north star; no counterpart in the reference, which never dedups its
corpus).

Five strategies, all engine-portable (md5/integer hashing only, see
functions.hashing) and all shaped for 100 TB:

- exact:        hash-groupBy on the raw text digest. One shuffle on a
                16-byte key; keep-first by min(doc_id).
- fingerprint:  same, on the case/word-order-insensitive fingerprint.
- MinHash+LSH:  shingle -> k min-hashes -> band buckets -> join within
                buckets. Candidate generation never compares all pairs; the
                band join's shuffle key is the band hash, so skew = identical
                docs only.
- SimHash:      64-bit (test: 16-bit) signed-sum fingerprint; near-dups have
                small Hamming distance; blocking on bit-prefix.
- embedding:    cosine near-dup over embedding vectors (see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..functions.text import sorted_word_fingerprint_col, word_ngrams_col
from ..sources.tables import local_table


def duplication_rate_estimate(
    df: DataFrame, text_col: str = "text", rsd: float = 0.02
) -> float:
    """Cheap pre-flight: estimated fraction of duplicate rows via
    approx_count_distinct (HyperLogLog++, one pass, no shuffle of texts —
    only the sketch merges). Gate expensive dedup stages on this: a corpus
    with ~0 duplication skips the MinHash/banding pipeline entirely
    (SURVEY §7 phase 5: 'approx_count_distinct-gated exact dedup')."""
    row = df.agg(
        F.count(text_col).alias("n"),
        F.approx_count_distinct(text_col, rsd).alias("d"),
    ).collect()[0]
    n = row["n"] or 0
    if n == 0:
        return 0.0
    return max(0.0, 1.0 - row["d"] / n)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """DataFrame[digest, keeper, dups]: groups of byte-identical texts.
    keeper = min(id) (deterministic); dups = group size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("dups"))
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact dedup on the sorted-distinct-word fingerprint."""
    return (
        df.select(
            sorted_word_fingerprint_col(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("dups"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: DataFrame[id, h0..h{k-1}] (int64).

    Shingles are word n-grams built with a higher-order function (no
    explode for the n-gram construction itself); ONE md5 per shingle is
    split into two 32-bit ints and expanded to k hashes with the
    Kirsch-Mitzenmacher scheme h_j = mix32((hx + j*hy) mod 2^32)
    (``functions.hashing.km_minhash_col``) — 1/k the digest cost of k
    independent md5s, still engine-portable. The groupBy(id) agg
    is map-side combinable so the shuffle carries k ints per doc."""
    from ..functions.hashing import km_hash_pair_cols, km_minhash_col
    from ..sources.tables import spread_small_input

    hx, hy = km_hash_pair_cols(F.col("sh"))
    hashed = spread_small_input(df).select(
        F.col(id_col),
        F.explode(word_ngrams_col(F.col(text_col), shingle_size)).alias("sh"),
    ).select(F.col(id_col), hx.alias("hx"), hy.alias("hy"))
    aggs = [
        F.min(km_minhash_col(F.col("hx"), F.col("hy"), j)).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_tokens(
    toks: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures computed from an ALREADY-TOKENIZED shingle
    table DataFrame[id, w] instead of raw text — bit-identical to
    :func:`minhash_signatures` over the same documents (MIN over a doc's
    distinct shingle set equals MIN over all occurrences, and the hash
    formula — one md5 per shingle, Kirsch-Mitzenmacher
    h_j = mix32((hx + j*hy) mod 2^32) — is the same), but callers that have
    already materialized the shingle table (the SSJoin family, the
    recall audits) skip a second corpus scan, the exact-dup collapse
    window re-run, and the re-explode (guide §1.2 step 1 — don't
    recompute what a sibling branch already produced; the x90-fallback
    precedent, extended to x88/x91 in r17)."""
    from ..functions.hashing import km_hash_pair_cols, km_minhash_col

    hx, hy = km_hash_pair_cols(F.col("w"))
    hashed = toks.select(F.col(id_col), hx.alias("hx"), hy.alias("hy"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(km_minhash_col(F.col("hx"), F.col("hy"), j)).alias(f"h{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    carry_sig: bool = False,
) -> DataFrame:
    """LSH banding: DataFrame[id, band, bucket]. bucket = md5 of the
    concatenated in-band min-hashes; docs sharing any (band, bucket) are
    candidate pairs. ``carry_sig=True`` additionally carries ``sig_h`` —
    the tier hash of the '|'-joined FULL signature string (first 8 md5
    hex chars as int64) — so downstream skew guards can tier-bucket
    oversized buckets by full-signature equality (near-identical docs
    share the full signature, hence the hash, and stay co-bucketed).
    The hash is computed ONCE per document BEFORE the band explode: the
    banded table is n_bands rows per doc and feeds an Exchange on
    (band, bucket), so carrying the ~(9*num_hashes)-char string itself
    multiplied the dominant shuffle's bytes ~10x for a value only ever
    consumed as this exact hash (guide §2.3 shuffle fewer bytes;
    measured r17: x90's tier Exchange 1.4 GB -> ~0.1 GB at sf0.1). The
    value is unchanged — same md5 over the same string — so every
    tier-semantics oracle mirror holds verbatim."""
    assert num_hashes % rows_per_band == 0
    n_bands = num_hashes // rows_per_band
    # bucket is computed AFTER the band explode from a slice of the
    # signature array — ONE md5/concat per output row — instead of a
    # single projection holding n_bands md5-of-concat struct expressions.
    # The wide expression tree evaluated ~2.7x slower (measured r17 at
    # sf0.1: bands noop 2.5 s -> 0.9 s; guide §1.2 find the dominant
    # cost). Values are bit-identical: slice(hs, b*r+1, r) is exactly
    # h_{b*r}..h_{b*r+r-1}, and concat_ws stringifies array elements the
    # same way it does column arguments (parity-asserted in
    # tests/test_dedup.py::test_minhash_bands_slice_form_parity).
    pre = [
        F.col(id_col),
        F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias(
            "__hs"
        ),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ]
    keep = [
        F.col(id_col),
        F.col("band"),
        F.md5(
            F.concat_ws(
                "|",
                F.expr(
                    f"slice(__hs, band * {rows_per_band} + 1,"
                    f" {rows_per_band})"
                ),
            )
        ).alias("bucket"),
    ]
    if carry_sig:
        sig_str = F.concat_ws(
            "|", *[F.col(f"h{j}") for j in range(num_hashes)]
        )
        pre.insert(
            1,
            F.conv(F.substring(F.md5(sig_str), 1, 8), 16, 10)
            .cast("long")
            .alias("sig_h"),
        )
        keep.append(F.col("sig_h"))
    return signatures.select(*pre).select(*keep)


def collapse_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Shared exact-dup collapse (the first hot-bucket defense): label every
    row with its byte-identical group's min-id keeper via ONE digest window.
    Returns (chains, reps): chains = DataFrame[a_id, b_id] keeper->member
    star edges (a_id < b_id by construction), reps = DataFrame[id, text]
    one representative per distinct text. Used by the minhash, simhash and
    (at quantization granularity) embedding guard paths — keep them on this
    ONE implementation; the semantics are oracle-mirrored in four DuckDB
    CTE chains."""
    from pyspark.sql import Window

    wd = df.select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("__dg")
    )
    keeper = F.min(id_col).over(Window.partitionBy("__dg"))
    lab = wd.withColumn("__keeper", keeper)
    chains = lab.filter(F.col(id_col) != F.col("__keeper")).select(
        F.col("__keeper").alias("a_id"), F.col(id_col).alias("b_id")
    )
    reps = lab.filter(F.col(id_col) == F.col("__keeper")).select(
        id_col, text_col
    )
    return chains, reps


def tier_cap(
    d: DataFrame,
    keys: list[str],
    tier_hash: Column,
    cap: int,
    id_col: str,
) -> DataFrame:
    """Shared hot-bucket tier/cap (the second defense, ``operators/fuzzy``
    pattern): groups of ``keys`` wider than ``cap`` are refined into
    ceil(w/cap) tier-buckets keyed by ``tier_hash`` (a non-negative int64
    column — callers pass the first 8 md5 hex chars of their content key),
    then rank-capped by ``id_col``. Width comes from a window count so the
    whole guard costs ONE exchange on ``keys`` (the follow-up
    (keys, __tier) rank reuses that partitioning, sort only). Returns
    ``d``'s rows filtered to the kept ones, plus a ``__tier`` column the
    caller must include in its self-join keys."""
    from pyspark.sql import Window

    d = d.withColumn("__w", F.count("*").over(Window.partitionBy(*keys)))
    nbuck = F.ceil(F.col("__w") / float(cap)).cast("long")
    d = d.withColumn(
        "__tier",
        F.when(F.col("__w") <= cap, F.lit(0)).otherwise(tier_hash % nbuck),
    )
    rk = F.row_number().over(
        Window.partitionBy(*keys, "__tier").orderBy(id_col)
    )
    return (
        d.withColumn("__rk", rk)
        .filter(F.col("__rk") <= cap)
        .drop("__w", "__rk")
    )


def minhash_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    *,
    bucket_cap: int,
) -> DataFrame:
    """Distinct (a < b) pairs that share a (band, bucket); the key is the
    bucket hash, so only genuinely colliding docs meet.

    ``bucket_cap`` (the HOT-BUCKET GUARD) bounds the quadratic blow-up of a
    degenerate bucket — on real crawl data millions of near-identical
    boilerplate documents land in ONE (band, bucket) and the self-join task
    becomes O(m²). Same two-stage guard as ``operators.fuzzy``
    (tier-bucket + hard cap, both engine-portable so a DuckDB oracle can
    mirror the exact semantics):

    1. buckets wider than ``bucket_cap`` are refined into
       ``ceil(width / cap)`` tier-buckets keyed by md5 of the FULL
       signature string — carried pre-hashed as ``sig_h`` (requires
       ``minhash_bands(..., carry_sig=True)``) — docs with identical
       signatures (the mass-duplicate case) stay together,
       distinct-signature docs scatter;
    2. within each (band, bucket, tier) the first ``bucket_cap`` rows by id
       are kept (ROW_NUMBER, deterministic).

    Candidate count per bucket is therefore <= ceil(w/cap) * cap*(cap-1)/2 —
    linear in bucket width. The documented cost: candidates beyond the cap
    inside one tier are dropped, so byte-identical mass duplicates MUST be
    collapsed before banding (``minhash_dedup_edges`` does both).
    Building the returned DataFrame runs no Spark job.
    """
    hx = F.col("sig_h")
    bands = tier_cap(
        bands, ["band", "bucket"], hx, bucket_cap, id_col
    ).select(id_col, "band", "bucket", "__tier")
    # capped buckets hold <= bucket_cap ids, so the within-bucket
    # pairs come from ONE grouped collect + local array expansion
    # instead of a bucket-keyed self-join (r17, guide §2.4 remove
    # shuffles / §7.2 duplicated subtrees): the a/b self-join
    # aliased the id column differently per side, so ReuseExchange
    # could not unify them and the WHOLE upstream pipeline — corpus
    # scan, collapse window, shingle explode, signature agg, band
    # generate, tier windows — executed twice (verified in
    # plans/r17/x04_minhash_pairs_before.txt: operators 8-32 and
    # 33-57 are the same subtree, zero ReusedExchange), then paid
    # TWO join exchanges. The grouped form evaluates the pipeline
    # once and shuffles the (keys, id) rows once; collect_list is
    # bounded by the cap, so no task holds more than
    # bucket_cap longs per bucket. sort_array gives a_id < b_id.
    ids = bands.groupBy("band", "bucket", "__tier").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    return (
        ids.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> transform("
                    "slice(ids, i + 2, size(ids)),"
                    " b -> named_struct('a_id', a, 'b_id', b))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def minhash_dedup_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
    rows_per_band: int = 2,
    bucket_cap: int = 64,
) -> DataFrame:
    """Guarded end-to-end near-dup EDGE set — the production-shaped
    replacement for ``minhash_candidate_pairs(minhash_bands(
    minhash_signatures(df)))`` on raw corpus (VERDICT r5 task #1).

    Two skew defenses compose:

    1. **Exact-dup collapse**: byte-identical texts (md5 digest) are
       collapsed to their min-id representative BEFORE signing/banding.
       Identical docs all share every band bucket, so feeding them raw
       makes the bucket self-join O(m²) in the duplicate count — the
       single worst skew on real crawl data ("403 Forbidden" bodies,
       empty pages). Each group instead contributes ``group_size - 1``
       keeper->member CHAIN edges (a star, not a clique) — same connected
       components, linear edge count.
    2. **Hot-bucket tier/cap** on the representative-level banding
       (``bucket_cap``, see :func:`minhash_candidate_pairs`) for buckets
       that are wide even after the collapse (near-identical but not
       byte-identical boilerplate).

    Output: DataFrame[a_id, b_id] with a_id < b_id — chain edges union
    representative pairs (disjoint by construction: a chain's b_id is a
    non-keeper, a rep pair's ids are both keepers — so no distinct needed
    across the union). Connected components over these edges equal
    components over the unguarded pair set whenever no tier/cap drop
    fires; the guard's drops ARE the declared semantics (oracle-mirrored),
    exactly like ``operators.fuzzy``.

    Plan: one digest window (single shuffle) labels keepers; chains are a
    narrow filter; the rep-side pipeline is the standard minhash path on
    the deduplicated (usually far smaller) corpus.
    """
    chains, reps = collapse_exact(df, text_col, id_col)
    sigs = minhash_signatures(
        reps, text_col, id_col, num_hashes, shingle_size
    )
    bands = minhash_bands(
        sigs, id_col, num_hashes, rows_per_band, carry_sig=True
    )
    rep_pairs = minhash_candidate_pairs(bands, id_col, bucket_cap=bucket_cap)
    return chains.unionByName(rep_pairs)


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """SimHash as a relational pipeline: explode words -> hash each word
    ONCE -> one groupBy(id) with n_bits conditional sums -> assemble bits.

    The explode is linear, the aggregation is map-side combinable, and
    the word hash is computed exactly once per token. x05's DuckDB
    oracle is the reference; tests/test_kernel_conformance.py checks the
    two on edge inputs."""
    from ..sources.tables import spread_small_input

    words = spread_small_input(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    hv = words.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int").alias("v"),
    )
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("v"), b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    bits = hv.groupBy(id_col).agg(*aggs)
    sh = F.lit(0)
    for b in range(n_bits):
        sh = sh + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bits.select(F.col(id_col), sh.cast("int").alias("sh"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    max_hamming: int = 3,
    block_bits: int = 4,
) -> DataFrame:
    """ALL near-dup pairs by SimHash: block on the top `block_bits` bits,
    then exact Hamming filter inside blocks via bit_count(xor). This is
    the exhaustive-pair baseline — quadratic in block width, so it keeps
    its original full-pair contract (every (a, b, hamming) row) and is for
    bounded inputs only; the production path on raw corpus is
    :func:`simhash_dedup_edges`, which bounds hot blocks."""
    sh = simhash_df(df, text_col, id_col, n_bits)
    block = (F.col("sh") / (1 << (n_bits - block_bits))).cast("int")
    a = sh.select(
        block.alias("blk"), F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh")
    )
    b = sh.select(
        block.alias("blk"), F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_dedup_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    max_hamming: int = 3,
    block_bits: int = 4,
    block_cap: int = 64,
    n_rotations: int = 1,
) -> DataFrame:
    """Guarded SimHash near-dup EDGES — ``minhash_dedup_edges``'s twin for
    the SimHash family (a NEW name, because the contract differs from
    :func:`simhash_dedup_pairs`: identical-text groups contribute keeper
    chains, not member cliques, and hot blocks are tier/capped):

    byte-identical texts collapse to their min-id keeper first (each group
    = (keeper, member, 0) chain rows, linear), representatives block on
    ``block_bits``-bit windows of the simhash, and blocks wider than
    ``block_cap`` are refined by an md5(simhash) tier-bucket + rank cap
    (the shared :func:`tier_cap` guard).

    ``n_rotations`` is the multi-index Hamming recall knob: rotation r
    blocks on the r-th disjoint ``block_bits`` window (r=0 = the top
    bits). By pigeonhole, a pair at Hamming distance d MUST agree on at
    least one window whenever ``n_rotations > d`` — so
    ``n_rotations = max_hamming + 1`` (with
    ``(max_hamming+1) * block_bits <= n_bits``) GUARANTEES recall of
    every pair within ``max_hamming``, at n_rotations x the candidate
    volume (property-tested). The default 1 is the cheap
    single-blocking heuristic."""
    if n_rotations * block_bits > n_bits:
        raise ValueError(
            f"{n_rotations} rotations x {block_bits} bits exceed the "
            f"{n_bits}-bit fingerprint"
        )
    chains, reps = collapse_exact(df, text_col, id_col)
    chains = chains.withColumn("hamming", F.lit(0).cast("int"))
    sh = simhash_df(reps, text_col, id_col, n_bits)
    mask = (1 << block_bits) - 1
    windows = [
        F.struct(
            F.lit(r).alias("rot"),
            F.shiftright(
                F.col("sh"), n_bits - (r + 1) * block_bits
            ).bitwiseAND(F.lit(mask)).alias("blk"),
        )
        for r in range(n_rotations)
    ]
    d = sh.select(
        id_col, "sh", F.explode(F.array(*windows)).alias("w")
    ).select(id_col, "sh", F.col("w.rot").alias("rot"), F.col("w.blk").alias("blk"))
    hx = F.conv(
        F.substring(F.md5(F.col("sh").cast("string")), 1, 8), 16, 10
    ).cast("long")
    d = tier_cap(d, ["rot", "blk"], hx, block_cap, id_col).select(
        id_col, "sh", "rot", "blk", "__tier"
    )
    # capped blocks hold <= block_cap members, so within-block pairs
    # come from ONE grouped collect + local array expansion instead of a
    # block-keyed self-join (r17, guide §2.4/§7.2 — same rewrite as
    # minhash_candidate_pairs: the a/b aliasing defeated ReuseExchange,
    # so the collapse window + simhash signature stage + tier windows
    # executed once per side and the join paid two more exchanges; the
    # grouped form evaluates the pipeline once and shuffles the block
    # index once). sort_array on (id, sh) structs orders by the unique
    # id, giving a_id < b_id; the Hamming cut applies per local pair.
    cells = d.groupBy("rot", "blk", "__tier").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col("sh").alias("s"))
            )
        ).alias("ms")
    )
    rep_pairs = (
        cells.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (a, i) -> transform("
                    "slice(ms, i + 2, size(ms)), b -> named_struct("
                    "'a_id', a.i, 'b_id', b.i,"
                    " 'hamming', cast(bit_count(a.s ^ b.s) as int)))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return chains.unionByName(rep_pairs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 20,
) -> DataFrame:
    """Exact word-set Jaccard: the top_n most similar pairs, ordered by
    (rounded jaccard desc, a_id, b_id).

    jaccard = |A & B| / (|A| + |B| - |A & B|) over distinct words. Two
    physical strategies behind identical semantics:

    - SPARSE vocabulary (the normal corpus): inverted-index self-join on
      the word — only pairs genuinely sharing a word meet; at 100 TB this
      is the verification stage AFTER MinHash candidate generation.
    - DENSE vocabulary (<= 62 distinct words corpus-wide): the inverted
      index is pathological — every word is a heavy hitter and the join
      materializes ~all n² pairs per word. Instead each word set becomes
      one 64-bit MASK; docs collapse to distinct masks; pairwise Jaccard
      is AND+popcount over the (tiny) distinct-mask table with a cutoff
      that prunes mask pairs which cannot reach the top_n doc pairs.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("w"),
    )
    # ONE scan+split+explode serves every consumer (r17, guide §7.2
    # duplicated subtrees): the strategy gate's vocab count, the
    # singleton filter, the per-doc sizes, and BOTH inverted-index
    # self-join sides each re-evaluated this subtree — five executions
    # of the most expensive stage. The materialized table is the
    # operator's own input, the distinct (doc_id, word) posting list.
    words = words.localCheckpoint(eager=True)
    # one word-frequency aggregate serves both the strategy gate
    # (n_vocab = |dfreq| rows) and the singleton pruning — the former
    # separate distinct().count() paid an extra vocab-wide shuffle with
    # identical grouping (guide §1.2 step 1)
    dfreq = words.groupBy("w").agg(F.count("*").alias("__df"))
    n_vocab = dfreq.count()
    if n_vocab <= 62:
        return _jaccard_dense_vocab(words, id_col, top_n)
    sizes = words.groupBy(id_col).agg(F.count("*").alias("n"))
    # EXACT pruning: a word occurring in exactly one document cannot appear
    # in any intersection — and in a Zipfian corpus singletons are most of
    # the vocabulary, so this shrinks the self-join input (and its skew)
    # substantially while leaving every (inter, na, nb) unchanged (sizes
    # are computed from the UNfiltered word sets above).
    shared = dfreq.filter(F.col("__df") >= 2).select("w")
    wj = words.join(shared, "w")
    a = wj.select(F.col(id_col).alias("a_id"), "w")
    b = wj.select(F.col(id_col).alias("b_id"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb"))
    scored = (
        inter.join(F.broadcast(na), "a_id")
        .join(F.broadcast(nb), "b_id")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )
    return (
        scored.select("a_id", "b_id", portable_round(F.col("jaccard"), 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "a_id", "b_id")
        .limit(top_n)
    )


def _jaccard_dense_vocab(
    words: DataFrame, id_col: str, top_n: int
) -> DataFrame:
    """Dense-vocabulary Jaccard top-n via 64-bit set masks.

    Docs with identical word sets share a mask, so the pairwise stage runs
    on DISTINCT masks only (integer AND + bit_count, broadcast join — no
    shuffle of pairs). Exactness of the doc-level top_n is kept by:
    - multiplicity-aware cutoff: a mask pair is kept only if fewer than
      top_n doc pairs carry a strictly better (rounded) jaccard — computed
      from the per-jaccard histogram, not a giant window;
    - bounded expansion: per group only the top_n+1 smallest doc ids can
      appear in the first top_n pairs of any (jaccard, a_id, b_id)
      ordering, so each kept mask pair expands to at most (top_n+1)² rows.

    Measured scale limit (r18 slope refresh, BENCH_NOTES): the pairwise
    stage is Θ(|distinct masks|²) — the exact-top-n semantics require
    scoring every qualifying set pair — so a corpus whose distinct word
    SETS grow with it goes quadratic (10x perturbed corpus measured
    48.5x). The distinct-mask collapse IS the guard (mass duplicates
    cost one mask); corpora past it belong on the guarded MinHash
    candidate family (x04/x90) feeding the same verifier.
    """
    from pyspark.sql import Window

    vocab = (
        words.select("w")
        .distinct()
        .withColumn("wid", F.row_number().over(Window.orderBy("w")) - 1)
    )
    masks = (
        words.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(F.sum(F.expr("shiftleft(1L, CAST(wid AS INT))")).alias("mask"))
    )
    # materialize the distinct-mask table ONCE (r18, guide §7.2
    # duplicated subtrees): `groups` feeds FIVE references — ga, gb and
    # `same` below (differently aliased, so ReuseExchange cannot unify
    # them), each consumed twice more via `pairs` (the cutoff histogram
    # collect AND the final kept/expand plan). Without this checkpoint
    # the vocab-window + mask-agg + group-agg chain executed up to six
    # times per run (verified in plans/r18/x06_ngram_jaccard_before.txt:
    # three copies of the same subtree, zero ReusedExchange). The table
    # is distinct masks only — cnt + a top_n+1 member slice per mask,
    # driver-trivial by the dense-vocab bound.
    groups = (
        masks.groupBy("mask")
        .agg(
            F.count("*").alias("cnt"),
            F.slice(
                F.array_sort(F.collect_list(F.col(id_col))), 1, top_n + 1
            ).alias("members"),
        )
        .localCheckpoint(eager=True)
    )
    ga = groups.select(
        F.col("mask").alias("ma"),
        F.col("cnt").alias("ca"),
        F.col("members").alias("mem_a"),
    )
    gb = groups.select(
        F.col("mask").alias("mb"),
        F.col("cnt").alias("cb"),
        F.col("members").alias("mem_b"),
    )
    inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
    union = (
        F.bit_count(F.col("ma")) + F.bit_count(F.col("mb")) - inter
    )
    cross = (
        ga.join(F.broadcast(gb), F.col("ma") < F.col("mb"))
        .filter(inter > 0)
        .select(
            portable_round(inter / union, 6).alias("jr"),
            (F.col("ca") * F.col("cb")).cast("long").alias("mult"),
            "mem_a",
            "mem_b",
            F.lit(False).alias("same"),
        )
    )
    same = groups.filter(F.col("cnt") >= 2).select(
        F.lit(1.0).alias("jr"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("mult"),
        F.col("members").alias("mem_a"),
        F.col("members").alias("mem_b"),
        F.lit(True).alias("same"),
    )
    pairs = cross.unionByName(same)
    # per-jaccard histogram -> smallest jr still able to contribute
    hist = pairs.groupBy("jr").agg(F.sum("mult").alias("m"))
    cum_strict = (
        F.sum("m")
        .over(Window.orderBy(F.desc("jr")).rowsBetween(
            Window.unboundedPreceding, -1
        ))
    )
    cutoff_rows = (
        hist.withColumn("before", F.coalesce(cum_strict, F.lit(0)))
        .filter(F.col("before") < top_n)
        .agg(F.min("jr").alias("jr_min"))
        .collect()
    )
    if not cutoff_rows or cutoff_rows[0]["jr_min"] is None:
        return local_table(
            words.sparkSession, [], "a_id long, b_id long, jaccard double"
        )
    jr_min = cutoff_rows[0]["jr_min"]
    kept = pairs.filter(F.col("jr") >= jr_min)
    expanded = (
        kept.select(
            "jr", "same", F.explode("mem_a").alias("da"), "mem_b"
        )
        .select("jr", "same", "da", F.explode("mem_b").alias("db"))
        .filter(
            (~F.col("same") & (F.col("da") != F.col("db")))
            | (F.col("same") & (F.col("da") < F.col("db")))
        )
        .select(
            F.least("da", "db").alias("a_id"),
            F.greatest("da", "db").alias("b_id"),
            F.col("jr").alias("jaccard"),
        )
    )
    return expanded.orderBy(F.desc("jaccard"), "a_id", "b_id").limit(top_n)
