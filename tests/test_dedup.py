"""Dedup operators: planted duplicates must be found; determinism across
partitionings (SURVEY §5.2.4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_bands,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill with great interest today"
    )
    near = base.replace("great", "mild")  # one word differs
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "The Quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill with great interest today"),
        (4, "completely different text about spark query engines and "
            "distributed shuffle partitioning strategies at scale"),
        (5, "another unrelated document mentioning gaussian naive bayes "
            "classifiers and concept drift detection methods"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["keeper"]: r["dups"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 6


def test_fingerprint_dedup_case_insensitive(docs):
    out = {r["keeper"]: r["dups"] for r in fingerprint_dedup(docs).collect()}
    # 0, 1 and 3 (case-differing) collapse on the fingerprint
    assert out[0] == 3


def test_minhash_finds_near_dups(docs):
    sigs = minhash_signatures(docs)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(
            minhash_bands(sigs, carry_sig=True), bucket_cap=64
        ).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs  # one-word-out near dup should band-collide
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_simhash_near_dups(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_dedup_pairs(docs, max_hamming=3).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (0, 4) not in pairs


def test_ngram_jaccard_ranking(docs):
    top = ngram_jaccard_pairs(docs, top_n=3).collect()
    assert (top[0]["a_id"], top[0]["b_id"]) == (0, 1)
    assert top[0]["jaccard"] == 1.0


def test_duplication_rate_estimate(spark, docs):
    from detecting_and_addressing_change_spark.operators.dedup import (
        duplication_rate_estimate,
    )

    rate = duplication_rate_estimate(docs)
    # docs fixture: 6 rows, one exact duplicate pair -> ~1/6 duplication
    assert 0.05 < rate < 0.35
    uniq = docs.select("doc_id", F.concat_ws("-", "doc_id").alias("text"))
    assert duplication_rate_estimate(uniq) < 0.05


@pytest.mark.parametrize("partitions", [1, 4])
def test_minhash_deterministic_across_partitions(spark, docs, partitions):
    sigs = (
        minhash_signatures(docs.repartition(partitions))
        .orderBy("doc_id")
        .collect()
    )
    sigs2 = minhash_signatures(docs.repartition(2)).orderBy("doc_id").collect()
    assert [tuple(r) for r in sigs] == [tuple(r) for r in sigs2]


def _brute_jaccard_topn(rows, top_n=20):
    """Python reference: exact top-n word-set Jaccard pairs with the
    operator's ordering (rounded jaccard desc, a_id, b_id)."""
    import math

    sets = {i: set(t.split(" ")) for i, t in rows}
    out = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / len(sets[a] | sets[b])
            out.append((a, b, math.floor(j * 1e6 + 0.5) / 1e6))
    out.sort(key=lambda r: (-r[2], r[0], r[1]))
    return out[:top_n]


def test_jaccard_dense_and_sparse_paths_agree_with_brute_force(spark):
    from detecting_and_addressing_change_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # dense path: 8-word vocab, heavy duplicate sets and ties
    vocab = [f"w{i}" for i in range(8)]
    rows = []
    for i in range(40):
        ws = [vocab[(i + k) % 8] for k in range(1 + i % 5)]
        rows.append((i, " ".join(sorted(set(ws)))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.a_id, r.b_id, r.jaccard)
        for r in ngram_jaccard_pairs(df, top_n=10)
        .orderBy("a_id", "b_id")
        .collect()
    ]
    want = sorted(_brute_jaccard_topn(rows, 10))
    assert sorted(got) == want

    # sparse path: 70-word vocab forces the inverted-index join
    vocab70 = [f"v{i}" for i in range(70)]
    rows70 = [
        (i, " ".join(vocab70[(i * 3) % 70 : (i * 3) % 70 + 6]))
        for i in range(30)
    ]
    df70 = spark.createDataFrame(rows70, "doc_id long, text string")
    got70 = [
        (r.a_id, r.b_id, r.jaccard)
        for r in ngram_jaccard_pairs(df70, top_n=10)
        .orderBy("a_id", "b_id")
        .collect()
    ]
    want70 = sorted(_brute_jaccard_topn(rows70, 10))
    assert sorted(got70) == want70


# ---------------------------------------------------------------------------
# Hot-bucket guard (VERDICT r5 task #1): mass duplicates must produce a
# LINEAR edge count, and oversized buckets of distinct docs must be
# tier/capped — never a quadratic self-join task.
# ---------------------------------------------------------------------------
def test_mass_duplicates_collapse_to_linear_chains(spark):
    from detecting_and_addressing_change_spark.operators.dedup import (
        minhash_dedup_edges,
    )

    # 10k byte-identical docs ("403 Forbidden" boilerplate shape): the
    # unguarded band self-join would emit ~50M pairs in ONE task; the
    # guarded edge set is exactly n-1 keeper->member chains.
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "forbidden access denied this page is not available please "
            "contact the site administrator for further assistance"
        ).alias("text"),
    )
    edges = minhash_dedup_edges(df).collect()
    assert len(edges) == n - 1
    assert all(r["a_id"] == 0 for r in edges)
    assert {r["b_id"] for r in edges} == set(range(1, n))


def test_hot_bucket_tier_cap_bounds_pairs_linearly(spark):
    import math

    # hand-built bands frame: 10k DISTINCT docs all colliding in one
    # (band, bucket) — near-identical boilerplate the exact collapse can't
    # merge. Guarded pair count is <= ceil(w/cap) * C(cap, 2) — linear in
    # width — instead of C(10k, 2) ~ 50M.
    n, cap = 10_000, 64
    # sig_h mirrors minhash_bands' carry_sig construction: the tier hash
    # of the full signature string, pre-computed per doc (r17 — the
    # banded table shuffles n_bands rows/doc, so it carries the 8-byte
    # hash, never the string)
    sig_str = F.concat(F.lit("sig"), F.col("id"))
    bands = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("deadbeef").alias("bucket"),
        F.conv(F.substring(F.md5(sig_str), 1, 8), 16, 10)
        .cast("long")
        .alias("sig_h"),
    )
    cnt = minhash_candidate_pairs(bands, bucket_cap=cap).count()
    bound = math.ceil(n / cap) * cap * (cap - 1) // 2
    assert 0 < cnt <= bound  # 316,512 max vs 49,995,000 unguarded


def test_minhash_bands_slice_form_parity(spark, docs):
    # r17: minhash_bands computes the bucket md5 AFTER the band explode
    # from slice(__hs, b*r+1, r). This must stay bit-identical to the
    # defining per-band formula md5(concat_ws('|', h_{b*r}..h_{b*r+r-1}))
    # evaluated directly on the signature columns — the form every
    # banding oracle mirrors — including sig_h (the tier hash of the
    # full '|'-joined signature string).
    num_hashes, rpb = 8, 2
    sigs = minhash_signatures(docs, num_hashes=num_hashes)
    got = {
        tuple(r)
        for r in minhash_bands(
            sigs, "doc_id", num_hashes, rpb, carry_sig=True
        ).collect()
    }
    sig_str = F.concat_ws(
        "|", *[F.col(f"h{j}") for j in range(num_hashes)]
    )
    rows = []
    for b in range(num_hashes // rpb):
        rows.append(
            sigs.select(
                F.col("doc_id"),
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{j}")
                            for j in range(b * rpb, (b + 1) * rpb)
                        ],
                    )
                ).alias("bucket"),
                F.conv(F.substring(F.md5(sig_str), 1, 8), 16, 10)
                .cast("long")
                .alias("sig_h"),
            )
        )
    want = set()
    for d in rows:
        want |= {tuple(r) for r in d.collect()}
    assert got == want and len(got) == docs.count() * num_hashes // rpb


def test_guarded_edges_preserve_components(spark, docs):
    from detecting_and_addressing_change_spark.operators.dedup import (
        minhash_dedup_edges,
    )
    from detecting_and_addressing_change_spark.operators.graph import (
        dedup_clusters,
    )

    # on a corpus where no cap fires, the guarded edge set must yield the
    # SAME connected components as the raw quadratic pair set: every pair
    # of docs that share a (band, bucket), grouped here in Python
    buckets: dict[tuple, list[int]] = {}
    for r in minhash_bands(minhash_signatures(docs)).collect():
        buckets.setdefault((r["band"], r["bucket"]), []).append(r["doc_id"])
    raw = spark.createDataFrame(
        sorted(
            {
                (a, b)
                for ids in buckets.values()
                for a in ids
                for b in ids
                if a < b
            }
        ),
        "a_id long, b_id long",
    )
    guarded = minhash_dedup_edges(docs)
    ids = docs.select("doc_id")
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(ids, raw).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(ids, guarded).collect()
    }
    assert got == want


def test_embedding_near_dup_guard_collapses_identical_vectors(spark):
    from detecting_and_addressing_change_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    # 200 identical vectors + 2 distinct: identical ones collapse to chain
    # candidates (199 edges from keeper 0), all scoring cosine 1.0
    vec = [float((i % 7) - 3) / 3.0 for i in range(8)]
    other = [float((i % 5) - 2) / 2.0 for i in range(8)]
    rows = [(i, vec) for i in range(200)] + [(200, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, threshold=0.99, dim=8).collect()
    chain = [(r["a_id"], r["b_id"]) for r in out if r["cosine"] == 1.0]
    assert len(chain) == 199
    assert all(a == 0 for a, _ in chain)


def test_simhash_edges_mass_duplicates_linear(spark):
    from detecting_and_addressing_change_spark.operators.dedup import (
        simhash_dedup_edges,
    )

    n = 5_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate body for the simhash guard test").alias(
            "text"
        ),
    )
    out = simhash_dedup_edges(df).collect()
    assert len(out) == n - 1  # keeper chains only, not C(n,2)
    assert all(r["a_id"] == 0 and r["hamming"] == 0 for r in out)


def test_simhash_pairs_keeps_full_pair_contract(spark):
    # the baseline simhash_dedup_pairs must still return EVERY pair,
    # including member-member pairs of identical texts (no collapse)
    from detecting_and_addressing_change_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    pairs = {
        (r["a_id"], r["b_id"]) for r in simhash_dedup_pairs(df).collect()
    }
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_simhash_rotated_blocking_guarantees_recall(spark):
    """Pigeonhole guarantee: with n_rotations = max_hamming + 1 disjoint
    windows, EVERY distinct-simhash pair within max_hamming must be found
    — compare against the exhaustive all-pairs ground truth."""
    from detecting_and_addressing_change_spark.operators.dedup import (
        simhash_df,
        simhash_dedup_edges,
    )

    # texts must be pairwise DISTINCT (a "u{i}" token): identical texts
    # collapse to keeper chains, which would make raw-pair ground truth
    # meaningless for the rotation guarantee
    rows = [
        (i, f"u{i} " + " ".join(f"t{(i * 5 + k) % 23}" for k in range(8)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"]: r["sh"] for r in simhash_df(df).collect()}
    truth = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3 and sh[a] != sh[b]
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in simhash_dedup_edges(
            df, n_rotations=4, block_cap=100_000
        ).collect()
        if r["hamming"] > 0
    }
    # identical-simhash (but distinct-text) pairs can also appear; the
    # guarantee under test is that NO within-distance pair is missed.
    # block_cap is set above the corpus size: the pigeonhole guarantee is
    # a property of the ROTATIONS; the cap (when it fires) deliberately
    # trades recall for boundedness and is tested separately.
    assert truth <= got
    # the single-blocking heuristic misses some of them on this corpus
    got1 = {
        (r["a_id"], r["b_id"])
        for r in simhash_dedup_edges(
            df, n_rotations=1, block_cap=100_000
        ).collect()
        if r["hamming"] > 0
    }
    assert got1 <= got
