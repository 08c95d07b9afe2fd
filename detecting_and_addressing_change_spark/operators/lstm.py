"""LSTM stream classifier — inference surface (SURVEY §2.7 U1/U3).

Reference: a 2-layer LSTM(hidden 256) over per-token embeddings, abs-max
pooling over the hidden sequence, a Linear head, log_softmax
(``models/wos_classifier.py:116-198``). torch is not available in this
container, so the forward pass is implemented in numpy with the standard
LSTM recurrences — same architecture, same pooling (R7 signed abs-max,
``:181-198``), same log_softmax decode (A5 argmax-first ties).

Distribution model (the part that matters at 100 TB): weights live in the
closure of an Arrow-batched ``mapInPandas`` — broadcast once per task,
model math vectorized per batch. Training (U2: one Adam step per
micro-batch of 32) remains driver-side inside foreachBatch per the
reference's scale; distributed training is explicitly out of scope
(SURVEY §7 Phase 4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


@dataclass
class LSTMWeights:
    """Per-layer gate weights: W[layer] (in_dim x 4H), U[layer] (H x 4H),
    b[layer] (4H). Gate order: input, forget, cell, output. Head:
    (H x n_classes)."""

    w: list = field(default_factory=list)
    u: list = field(default_factory=list)
    b: list = field(default_factory=list)
    head_w: np.ndarray | None = None
    head_b: np.ndarray | None = None

    @staticmethod
    def init(
        input_dim: int, hidden: int, n_layers: int, n_classes: int, seed: int = 0
    ) -> "LSTMWeights":
        rng = np.random.RandomState(seed)
        ws = LSTMWeights()
        for layer in range(n_layers):
            in_dim = input_dim if layer == 0 else hidden
            scale = 1.0 / np.sqrt(hidden)
            ws.w.append(rng.uniform(-scale, scale, (in_dim, 4 * hidden)))
            ws.u.append(rng.uniform(-scale, scale, (hidden, 4 * hidden)))
            ws.b.append(np.zeros(4 * hidden))
        ws.head_w = rng.uniform(
            -1.0 / np.sqrt(hidden), 1.0 / np.sqrt(hidden), (hidden, n_classes)
        )
        ws.head_b = np.zeros(n_classes)
        return ws

    @property
    def hidden(self) -> int:
        return self.u[0].shape[0]

    def forward_one(self, tokens: np.ndarray) -> np.ndarray:
        """(seq, in_dim) -> log-probs (n_classes,): LSTM stack -> signed
        abs-max pool over the hidden sequence -> linear -> log_softmax."""
        h_seq = tokens
        hid = self.hidden
        for layer in range(len(self.w)):
            h = np.zeros(hid)
            c = np.zeros(hid)
            outs = np.empty((len(h_seq), hid))
            for t_i, x in enumerate(h_seq):
                gates = x @ self.w[layer] + h @ self.u[layer] + self.b[layer]
                i = _sigmoid(gates[:hid])
                f = _sigmoid(gates[hid : 2 * hid])
                g = np.tanh(gates[2 * hid : 3 * hid])
                o = _sigmoid(gates[3 * hid :])
                c = f * c + i * g
                h = o * np.tanh(c)
                outs[t_i] = h
            h_seq = outs
        # R7 signed abs-max pooling, first-max tie semantics
        idx = np.abs(h_seq).argmax(axis=0)
        pooled = h_seq[idx, np.arange(h_seq.shape[1])]
        logits = pooled @ self.head_w + self.head_b
        logits = logits - logits.max()
        return logits - np.log(np.exp(logits).sum())


LSTM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("log_probs", T.ArrayType(T.DoubleType())),
        T.StructField("pred", T.IntegerType()),
    ]
)


def lstm_predict(
    df: DataFrame,
    weights: LSTMWeights,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """U1/U3 inference: DataFrame[doc_id, tokens: array<array<float>>] ->
    DataFrame[doc_id, log_probs, pred]. pred uses torch argmax-first tie
    semantics (A5)."""

    def fn(batches):
        for pdf in batches:
            lps, preds = [], []
            for toks in pdf[tokens_col]:
                arr = np.array(
                    [np.asarray(t, dtype=np.float64) for t in toks]
                )
                lp = weights.forward_one(arr)
                lps.append(lp.tolist())
                preds.append(int(lp.argmax()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "log_probs": lps,
                    "pred": preds,
                }
            )

    return df.select(id_col, tokens_col).mapInPandas(fn, LSTM_OUTPUT_SCHEMA)


# ---------------------------------------------------------------------------
# Portable kernel: the same architecture with every FP operation chosen to be
# reproducible in ANSI SQL (q52's DuckDB oracle mirrors it op-for-op):
#   - weights from the embedder's polyhash31 + libm sin (bit-identical in
#     DuckDB) instead of MT19937,
#   - explicit left-to-right folds instead of BLAS matmul (BLAS unrolls and
#     reorders FP sums),
#   - libm exp; tanh as 1 - 2/(exp(2x)+1) (DuckDB has no tanh built-in, so
#     BOTH sides use the exp formula),
#   - weight scale must be an exact power of two (e.g. 1/sqrt(16) = 0.25) so
#     the scaling multiply is exact.
# The numpy path above stays the fast path for real inference; this kernel
# exists so LSTM inference is oracle-checkable end-to-end.
# ---------------------------------------------------------------------------


def hash_uniform(tag: str, i: int, j: int) -> float:
    """Deterministic uniform-ish weight in (-3, 1): frac-sin of the
    embedder's polyhash (operators/embedder.py::_hash31) — the exact
    engine-portable construction FIXTURES.md §2 uses for embeddings."""
    from .embedder import _hash31

    return math.modf(math.sin(_hash31(f"{tag}:{i}", "lstmw", j)))[0] * 2 - 1


def init_hash_weights(
    input_dim: int, hidden: int, n_layers: int, n_classes: int
) -> LSTMWeights:
    """Hash-derived LSTMWeights. ``hidden`` must be a power of 4 so the
    1/sqrt(hidden) scale is an exact binary fraction."""
    scale = 1.0 / math.sqrt(hidden)
    ws = LSTMWeights()
    for layer in range(n_layers):
        in_dim = input_dim if layer == 0 else hidden
        ws.w.append(
            np.array(
                [
                    [
                        hash_uniform(f"w{layer}", i, j) * scale
                        for j in range(4 * hidden)
                    ]
                    for i in range(in_dim)
                ]
            )
        )
        ws.u.append(
            np.array(
                [
                    [
                        hash_uniform(f"u{layer}", k, j) * scale
                        for j in range(4 * hidden)
                    ]
                    for k in range(hidden)
                ]
            )
        )
        ws.b.append(
            np.array(
                [hash_uniform(f"b{layer}", 0, j) * scale for j in range(4 * hidden)]
            )
        )
    ws.head_w = np.array(
        [
            [hash_uniform("hw", d, c) * scale for c in range(n_classes)]
            for d in range(hidden)
        ]
    )
    ws.head_b = np.array(
        [hash_uniform("hb", 0, c) * scale for c in range(n_classes)]
    )
    return ws


def lstm_predict_portable(
    df: DataFrame,
    weights: LSTMWeights,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """lstm_predict with the portable kernel — same mapInPandas
    distribution model (weights broadcast in the closure, Arrow batches),
    different arithmetic core."""

    def fn(batches):
        for pdf in batches:
            lps = forward_batch_portable(
                weights, [list(t) for t in pdf[tokens_col]]
            )
            preds = []
            for lp in lps:
                best = 0
                for cls in range(1, len(lp)):
                    if lp[cls] > lp[best]:
                        best = cls
                preds.append(best)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "log_probs": lps,
                    "pred": preds,
                }
            )

    return df.select(id_col, tokens_col).mapInPandas(fn, LSTM_OUTPUT_SCHEMA)


def _exp_scalar(arr: np.ndarray) -> np.ndarray:
    """Elementwise libm exp. np.exp is SIMD and differs from libm (and
    from SQL engines' exp) in the last ulp for ~1 in 4 inputs, so portable
    code must route every exp through math.exp. Everything AROUND the exp
    (+,-,*,/) is IEEE-identical between numpy and scalar code and safe to
    vectorize."""
    flat = arr.ravel()
    out = np.fromiter(
        (math.exp(v) for v in flat), dtype=np.float64, count=flat.size
    )
    return out.reshape(arr.shape)


def forward_batch_portable(
    ws: LSTMWeights, token_batch: list[list[list[float]]]
) -> list[list[float]]:
    """Vectorized-portable forward: bit-identical to running
    ``tools/pure_kernels.py::forward_one_portable`` per row (pinned in
    tests/test_lstm.py), ~10x faster.

    Rows are grouped by sequence length; within a group the fold loops
    run as numpy ELEMENTWISE ops across rows (per-row operation order is
    unchanged — only the exp calls are scalar, see _exp_scalar)."""
    hid = ws.hidden
    results: list[list[float] | None] = [None] * len(token_batch)
    by_len: dict[int, list[int]] = {}
    for idx, toks in enumerate(token_batch):
        by_len.setdefault(len(toks), []).append(idx)
    for seq_len, idxs in by_len.items():
        x_all = np.array(
            [[list(map(float, t)) for t in token_batch[i]] for i in idxs],
            dtype=np.float64,
        )  # (n, seq_len, in_dim)
        n = len(idxs)
        h_seq = x_all
        for layer in range(len(ws.w)):
            w = ws.w[layer]
            u = ws.u[layer]
            b = ws.b[layer]
            h = np.zeros((n, hid))
            c = np.zeros((n, hid))
            outs = np.empty((n, seq_len, hid))
            for t_i in range(seq_len):
                x = h_seq[:, t_i, :]
                # explicit fold over input dims: g accumulates in the
                # same left-to-right order as the scalar kernel
                g = np.zeros((n, 4 * hid))
                for i in range(x.shape[1]):
                    g = g + x[:, i : i + 1] * w[i][None, :]
                sh = np.zeros((n, 4 * hid))
                for k in range(hid):
                    sh = sh + h[:, k : k + 1] * u[k][None, :]
                g = g + sh + b[None, :]
                i_g = 1.0 / (1.0 + _exp_scalar(-g[:, :hid]))
                f_g = 1.0 / (1.0 + _exp_scalar(-g[:, hid : 2 * hid]))
                g_g = 1.0 - 2.0 / (
                    _exp_scalar(2.0 * g[:, 2 * hid : 3 * hid]) + 1.0
                )
                o_g = 1.0 / (1.0 + _exp_scalar(-g[:, 3 * hid :]))
                c = f_g * c + i_g * g_g
                h = o_g * (1.0 - 2.0 / (_exp_scalar(2.0 * c) + 1.0))
                outs[:, t_i, :] = h
            h_seq = outs
        # signed abs-max pool, first-max ties (argmax is first-occurrence)
        pool_idx = np.abs(h_seq).argmax(axis=1)
        pooled = np.take_along_axis(
            h_seq, pool_idx[:, None, :], axis=1
        )[:, 0, :]
        logits = np.zeros((n, len(ws.head_b)))
        for d in range(hid):
            logits = logits + pooled[:, d : d + 1] * ws.head_w[d][None, :]
        logits = logits + ws.head_b[None, :]
        m = logits.max(axis=1, keepdims=True)
        shifted = logits - m
        se = np.zeros((n, 1))
        for cls in range(shifted.shape[1]):
            se = se + _exp_scalar(shifted[:, cls : cls + 1])
        # np.log is SIMD like np.exp — scalar libm log for parity
        lse = np.fromiter(
            (math.log(v) for v in se[:, 0]), dtype=np.float64, count=n
        )[:, None]
        lp = shifted - lse
        for row, i in enumerate(idxs):
            results[i] = [float(v) for v in lp[row]]
    return results  # type: ignore[return-value]
