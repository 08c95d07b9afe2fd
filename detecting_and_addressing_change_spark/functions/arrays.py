"""Array/vector expression builders (SURVEY §2.2 R6–R9, §2.3 A5/A6).

The reference's pooling and vector math run on padded torch tensors
(``models/wos_classifier.py:181-198``, ``models/wos_train_nb.py:73-75``,
``adaptation/dataset.py:214-230``); Spark's ragged ``array<float>`` columns
make padding unnecessary (SURVEY §1.3), and the poolings become higher-order
functions that stay JVM-side — no Python worker in the hot path.

Accumulations fold left-to-right in DOUBLE so results are deterministic
across partitionings (each row's array math is row-local).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    """L2 norm in double precision."""
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe only insofar as inputs are non-empty."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def mse_col(a: Column, b: Column) -> Column:
    """Per-row mean squared error between two equal-length arrays (A6,
    adaptation/mapping.py:39-41 in reference)."""
    sq = F.zip_with(
        a, b, lambda x, y: F.pow(x.cast("double") - y.cast("double"), 2)
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size(a)


def mean_pool_col(tokens: Column) -> Column:
    """R9 mean pooling over array<array<float>> -> array<double>.
    (adaptation/dataset.py:222-224 in reference)."""
    n = F.size(tokens)
    summed = F.aggregate(
        tokens,
        F.transform(F.element_at(tokens, 1), lambda x: F.lit(0.0)),
        lambda acc, t: F.zip_with(acc, t, lambda a, x: a + x.cast("double")),
    )
    return F.transform(summed, lambda s: s / n)


def max_pool_col(tokens: Column) -> Column:
    """R8 max pooling per dimension over ragged token arrays — the 'fixed'
    semantics of the reference's padded np.amax (models/wos_train_nb.py:73-75;
    SURVEY §8 Q5: zero-padding does NOT participate here)."""
    return F.aggregate(
        tokens,
        F.transform(F.element_at(tokens, 1), lambda x: x.cast("double")),
        lambda acc, t: F.zip_with(
            acc, t, lambda a, x: F.greatest(a, x.cast("double"))
        ),
    )


def abs_max_pool_col(tokens: Column) -> Column:
    """R7 signed abs-max pooling: per dimension keep the element whose
    absolute value is largest, preserving its sign
    (LSTM.abs_max_pooling, models/wos_classifier.py:181-198 in reference).
    Ties keep the earlier token, matching torch argmax-first semantics."""
    return F.aggregate(
        tokens,
        F.transform(F.element_at(tokens, 1), lambda x: x.cast("double")),
        lambda acc, t: F.zip_with(
            acc,
            t,
            lambda a, x: F.when(
                F.abs(x.cast("double")) > F.abs(a), x.cast("double")
            ).otherwise(a),
        ),
    )


def first_token_pool_col(tokens: Column) -> Column:
    """R9 'first' pooling — the [CLS]-token convention
    (adaptation/dataset.py:225-227 in reference). This is the REQUIRED
    pooling for ``embed_documents(backend='mini')`` states: their final
    LayerNorm makes mean pooling nearly cancel across documents (see
    operators/transformer.py's pooling caveat)."""
    return F.transform(F.element_at(tokens, 1), lambda x: x.cast("double"))


def argmax_col(probs: Column) -> Column:
    """A5 argmax decode with torch first-max tie semantics
    (models/wos_classifier.py:73-85 in reference): 0-based index of the
    first maximum element."""
    return (F.array_position(probs, F.array_max(probs)) - 1).cast("int")


def linear_map_col(vec: Column, matrix: list[list[float]]) -> Column:
    """R6 apply a (small, broadcast-as-literal) matrix M to a vector:
    out[i] = dot(M[i], vec) (adaptation/stream.py:49-54 in reference, the
    repaired matrix path — SURVEY §8 Q3). For 768x768 production use the
    pandas_udf path in operators.mapping instead."""
    rows = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in row])
            for row in matrix
        ]
    )
    return F.transform(rows, lambda r: dot_col(r, vec))


def linear_map_udf(matrix: list[list[float]]):
    """Arrow-batched production path for `linear_map_col`, bit-identical
    to the expression fold: accumulates over input dims IN ORDER
    (`acc += M[:, d] * v[d]` elementwise), so every float64 add/mul
    happens in exactly the left-to-right sequence the Catalyst
    `aggregate` — and the DuckDB oracle's list fold — performs. numpy's
    own `dot`/`matmul` would be faster still but pairwise-sums, which
    diverges in the last ulp and off the oracle gate."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    M = np.array(matrix, dtype=np.float64)  # (out_dim, in_dim)

    def fn(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vecs]
        )  # (n, in_dim)
        acc = np.zeros((len(vecs), M.shape[0]), dtype=np.float64)
        for d in range(M.shape[1]):
            acc += V[:, d, None] * M[None, :, d]
        return pd.Series(list(acc))

    fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(fn, "array<double>")
