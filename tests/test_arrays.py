"""Pooling / vector ops vs numpy-torch semantics (SURVEY §5.2.3 R7-R9, A5)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.functions.arrays import (
    abs_max_pool_col,
    argmax_col,
    cosine_col,
    dot_col,
    first_token_pool_col,
    max_pool_col,
    mean_pool_col,
    mse_col,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    rng = np.random.RandomState(0)
    rows = []
    for i in range(20):
        seq = rng.randint(3, 9)
        toks = (rng.randn(seq, 6) * 2).round(3)
        rows.append((i, [t.tolist() for t in toks]))
    return spark.createDataFrame(
        rows, "doc_id long, tokens array<array<double>>"
    ), rows


def np_tokens(rows):
    return {i: np.array(t) for i, t in rows}


def test_mean_max_first_pool(spark, tokens_df):
    df, rows = tokens_df
    ref = np_tokens(rows)
    out = df.select(
        "doc_id",
        mean_pool_col(F.col("tokens")).alias("mean"),
        max_pool_col(F.col("tokens")).alias("mx"),
        first_token_pool_col(F.col("tokens")).alias("first"),
    ).collect()
    for r in out:
        t = ref[r["doc_id"]]
        np.testing.assert_allclose(r["mean"], t.mean(axis=0), atol=1e-9)
        np.testing.assert_allclose(r["mx"], t.max(axis=0), atol=1e-9)
        np.testing.assert_allclose(r["first"], t[0], atol=1e-9)


def test_abs_max_pool_matches_reference_semantics(spark, tokens_df):
    """Signed abs-max: element with the largest |value| per dim, keeping
    sign; ties keep the earlier token (torch argmax-first,
    models/wos_classifier.py:181-198)."""
    df, rows = tokens_df
    ref = np_tokens(rows)
    out = df.select(
        "doc_id", abs_max_pool_col(F.col("tokens")).alias("am")
    ).collect()
    for r in out:
        t = ref[r["doc_id"]]
        idx = np.abs(t).argmax(axis=0)
        expected = t[idx, np.arange(t.shape[1])]
        np.testing.assert_allclose(r["am"], expected, atol=1e-9)


def test_dot_cosine_mse(spark):
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    )
    r = df.select(
        dot_col(F.col("a"), F.col("b")).alias("dot"),
        cosine_col(F.col("a"), F.col("b")).alias("cos"),
        mse_col(F.col("a"), F.col("b")).alias("mse"),
    ).collect()[0]
    na, nb = np.array(a), np.array(b)
    assert r["dot"] == pytest.approx(na @ nb)
    assert r["cos"] == pytest.approx(
        (na @ nb) / (np.linalg.norm(na) * np.linalg.norm(nb))
    )
    assert r["mse"] == pytest.approx(((na - nb) ** 2).mean())


def test_argmax_first_max_ties(spark):
    df = spark.createDataFrame(
        [([0.1, 0.9, 0.9],), ([0.5, 0.2, 0.5],)], "probs array<double>"
    )
    out = [r[0] for r in df.select(argmax_col(F.col("probs"))).collect()]
    assert out == [1, 0]  # first maximum wins, like torch.argmax


def test_linear_map_udf_bit_identical(spark):
    """Arrow-batched ordered-fold matmul must equal the Catalyst
    expression fold bit-for-bit (no rounding in the comparison)."""
    from detecting_and_addressing_change_spark.functions.arrays import (
        linear_map_col,
        linear_map_udf,
    )
    from detecting_and_addressing_change_spark.sources.tables import load_table

    matrix = [
        [((i * 31 + d * 17) % 7 - 3) / 10.0 for d in range(16)]
        for i in range(16)
    ]
    emb = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", F.slice("embedding", 1, 16).alias("v"))
        .limit(200)
    )
    a = emb.select(
        "vec_id", linear_map_udf(matrix)(F.col("v")).alias("m")
    ).collect()
    b = emb.select(
        "vec_id", linear_map_col(F.col("v"), matrix).alias("m")
    ).collect()
    am = {r.vec_id: list(r.m) for r in a}
    bm = {r.vec_id: list(r.m) for r in b}
    assert am == bm  # exact float equality, not approx


def _assert_fused_matches_two_step(docs, n, max_seq_len=512):
    """Rows of ``pooled_embed_documents_tagged`` equal the two-step plan,
    mean_pool_col over embed_documents once per model, bit for bit."""
    from detecting_and_addressing_change_spark.operators.embedder import (
        embed_documents,
        pooled_embed_documents_tagged,
    )

    two_step = sorted(
        (
            r
            for m in ("BERT", "SCIBERT")
            for r in embed_documents(
                docs.filter(F.col("model") == m),
                model=m,
                dim=8,
                max_seq_len=max_seq_len,
            )
            .select(
                "model",
                "doc_id",
                mean_pool_col(F.col("tokens")).alias("features"),
            )
            .collect()
        ),
        key=lambda r: (r["model"], r["doc_id"]),
    )
    fused = (
        pooled_embed_documents_tagged(docs, dim=8, max_seq_len=max_seq_len)
        .orderBy("model", "doc_id")
        .collect()
    )
    assert len(two_step) == len(fused) == n
    for a, b in zip(two_step, fused):
        assert (a["model"], a["doc_id"]) == (b["model"], b["doc_id"])
        # bit-exact, not approx: the oracle gate hashes these doubles
        assert a["features"] == b["features"], a["doc_id"]


def test_fused_pooling_bit_identical(spark):
    """The fused embed+pool mapInPandas must be bit-identical to the
    two-step plan, mean_pool_col over embed_documents once per model — the
    q39/q59/q60/q61 oracle hashes pin the two-step fold's exact doubles."""
    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(40)] + ["", "café", "a-b", "0"]
    rows = []
    for i in range(200):
        n = int(rng.randint(1, 30))
        model = ["BERT", "SCIBERT"][i % 2]
        rows.append((model, i, " ".join(rng.choice(vocab, size=n))))
    rows.append(("BERT", 200, ""))  # empty text -> single ''-token doc
    docs = spark.createDataFrame(rows, "model string, doc_id long, text string")
    _assert_fused_matches_two_step(docs, 201)


def test_fused_pooling_bit_identical_across_arrow_batches(spark):
    """Seven rows per Arrow batch: each task's per-model word table grows
    over several batches, and words first met in a later batch must embed
    and fold exactly as in the two-step plan. Null text embeds as the empty
    string; a document longer than ``max_seq_len`` is truncated first."""
    rng = np.random.RandomState(5)
    rows = []
    for i in range(120):
        n = int(rng.randint(1, 12))
        # the vocabulary widens with i, so later batches bring new words
        words = [f"w{int(rng.randint(0, 5 + i))}" for _ in range(n)]
        rows.append((["BERT", "SCIBERT"][i % 2], i, " ".join(words)))
    rows.append(("SCIBERT", 120, None))
    rows.append(("BERT", 121, " ".join(f"long{j}" for j in range(40))))
    rows.append(("BERT", 122, "𝔘 café 0123 " + "x" * 30))
    docs = spark.createDataFrame(rows, "model string, doc_id long, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        _assert_fused_matches_two_step(docs, 123, max_seq_len=16)
    finally:
        spark.conf.set(key, prev)
