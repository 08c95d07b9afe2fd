"""Similarity search: brute-force is exact vs numpy; LSH-ANN recall against
the exact baseline is bounded below."""

from __future__ import annotations

import math

import numpy as np
import pytest

from detecting_and_addressing_change_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(5)
    # 3 well-separated clusters so neighbors are meaningful
    centers = rng.randn(3, 16) * 5
    rows = []
    for i in range(120):
        c = i % 3
        v = centers[c] + rng.randn(16) * 0.5
        rows.append((i, v.tolist()))
    # planted near-duplicate pair: 200 ~ 0
    rows.append((200, (np.array(rows[0][1]) + 1e-3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, {i: np.array(v) for i, v in rows}


def exact_topk_numpy(vecs, qid, k):
    q = vecs[qid]
    scores = []
    for cid, v in vecs.items():
        if cid == qid:
            continue
        cos = (q @ v) / (np.linalg.norm(q) * np.linalg.norm(v))
        scores.append((cid, cos))
    scores.sort(key=lambda t: (-t[1], t[0]))
    return [c for c, _ in scores[:k]]


def test_brute_force_exact(spark, embeddings):
    df, vecs = embeddings
    queries = df.filter("vec_id < 5")
    out = brute_force_topk(df, queries, k=5)
    got: dict[int, list[int]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rnk"])):
        got.setdefault(r["query_id"], []).append(r["cand_id"])
    for qid in range(5):
        assert got[qid] == exact_topk_numpy(vecs, qid, 5), qid


def test_lsh_ann_recall(spark, embeddings):
    df, vecs = embeddings
    queries = df.filter("vec_id < 10")
    ann = lsh_ann_topk(df, queries, k=5, dim=16, n_planes=6, n_tables=6)
    got: dict[int, set[int]] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
    hits = total = 0
    for qid in range(10):
        exact = set(exact_topk_numpy(vecs, qid, 5))
        total += len(exact)
        hits += len(exact & got.get(qid, set()))
    assert hits / total >= 0.6, f"ANN recall too low: {hits}/{total}"


def test_embedding_near_dup_finds_planted_pair(spark, embeddings):
    df, _ = embeddings
    pairs = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_dup_pairs(df, threshold=0.999).collect()
    }
    assert (0, 200) in pairs


def test_sig_paths_bit_identical(spark, embeddings):
    """The Arrow-batched numpy signature path (production) must produce
    exactly the defining signatures, computed here in pure Python: bit p
    of table t is set iff the exact integer dot of the quantized vector
    (floor(v*scale + 0.5)) with the ±1 global plane t*n_planes + p is
    positive."""
    from detecting_and_addressing_change_spark.operators.similarity import (
        QUANT_SCALE,
        _with_sigs,
        plane_sign,
    )

    df, vecs = embeddings
    n_planes, n_tables, dim = 8, 4, 16
    got = sorted(
        (r["a_id"], r["tbl"], r["sig"])
        for r in _with_sigs(
            df, "a", "vec_id", "embedding", n_planes, n_tables, dim
        ).collect()
    )
    want = []
    for i, v in vecs.items():
        q = [math.floor(float(x) * QUANT_SCALE + 0.5) for x in v]
        for t in range(n_tables):
            sig = 0
            for p in range(n_planes):
                g = t * n_planes + p
                if sum(plane_sign(g, d) * q[d] for d in range(dim)) > 0:
                    sig |= 1 << p
            want.append((i, t, sig))
    assert got == sorted(want)


