"""LSTM inference surface (U1/U3): deterministic, distributed == local,
valid log-probs, argmax-first decode."""

from __future__ import annotations

import numpy as np
import pytest

from detecting_and_addressing_change_spark.operators.lstm import (
    LSTMWeights,
    lstm_predict,
)


@pytest.fixture(scope="module")
def model_and_docs(spark):
    rng = np.random.RandomState(4)
    w = LSTMWeights.init(input_dim=6, hidden=12, n_layers=2, n_classes=5, seed=2)
    rows = []
    for i in range(24):
        seq = rng.randint(2, 9)
        rows.append((i, (rng.randn(seq, 6) * 0.8).tolist()))
    df = spark.createDataFrame(rows, "doc_id long, tokens array<array<double>>")
    return w, df, dict(rows)


def test_distributed_matches_local(spark, model_and_docs):
    w, df, raw = model_and_docs
    out = {r["doc_id"]: r for r in lstm_predict(df.repartition(4), w).collect()}
    for i, toks in raw.items():
        local = w.forward_one(np.array(toks))
        np.testing.assert_allclose(out[i]["log_probs"], local, atol=1e-9)
        assert out[i]["pred"] == int(local.argmax())


def test_log_probs_normalized(spark, model_and_docs):
    w, df, _ = model_and_docs
    for r in lstm_predict(df, w).collect():
        total = np.exp(np.array(r["log_probs"])).sum()
        assert total == pytest.approx(1.0, abs=1e-9)


def test_deterministic_across_runs(spark, model_and_docs):
    w, df, _ = model_and_docs
    a = sorted(tuple(r) for r in lstm_predict(df, w).collect())
    b = sorted(tuple(r) for r in lstm_predict(df.repartition(2), w).collect())
    for (ia, lpa, pa), (ib, lpb, pb) in zip(a, b):
        assert ia == ib and pa == pb
        np.testing.assert_allclose(lpa, lpb, atol=0)


def test_portable_kernel_matches_numpy_semantics():
    """The portable (ordered-fold / formula-tanh) kernel is the SAME
    network as the numpy fast path — only FP association differs, so
    outputs agree to ~1e-9 while bits may differ."""
    import numpy as np

    from detecting_and_addressing_change_spark.operators.lstm import (
        init_hash_weights,
    )
    from tools.pure_kernels import forward_one_portable

    ws = init_hash_weights(6, 4, 2, 3)
    tokens = [
        [0.1 * i - 0.25 * d for d in range(6)] for i in range(5)
    ]
    lp_np = ws.forward_one(np.array(tokens, dtype=np.float64))
    lp_po = forward_one_portable(ws, tokens)
    assert np.allclose(lp_np, np.array(lp_po), atol=1e-9)
    assert int(np.argmax(lp_np)) == max(
        range(len(lp_po)), key=lambda c: (lp_po[c], -c)
    )


def test_batch_kernel_bitwise_equals_scalar():
    """forward_batch_portable must be BIT-identical to the scalar portable
    kernel — elementwise numpy keeps per-row fold order; only exp/log go
    through libm scalars."""
    import random

    import numpy as np

    from detecting_and_addressing_change_spark.operators.embedder import (
        hash_embed_tokens,
    )
    from detecting_and_addressing_change_spark.operators.lstm import (
        forward_batch_portable,
        init_hash_weights,
    )
    from tools.pure_kernels import forward_one_portable

    ws = init_hash_weights(8, 4, 2, 5)
    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    texts = [
        " ".join(rng.choices(words, k=rng.randint(1, 20))) for _ in range(60)
    ]
    toks = [
        [
            [float(np.float32(v)) for v in t]
            for t in hash_embed_tokens(s, "BERT", 8, 16)
        ]
        for s in texts
    ]
    one = [forward_one_portable(ws, t) for t in toks]
    bat = forward_batch_portable(ws, toks)
    assert one == bat
