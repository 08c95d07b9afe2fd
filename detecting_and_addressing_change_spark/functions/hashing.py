"""Deterministic, engine-portable hashing primitives.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` differ, so every hash
that participates in the oracle contract is built from primitives both
engines implement identically: integer arithmetic and ``md5`` hex digests
(SURVEY §2.8 Q22 note).

Used by: the LCG keep-rule and hash-sample buckets, Kirsch-Mitzenmacher
MinHash signatures, and rolling document fingerprints — the dedup family of
the LLM-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M31 = 2_147_483_648  # 2^31
LCG_A = 1_103_515_245


def lcg_bucket(key: Column, n_buckets: int) -> Column:
    """Portable integer hash-bucket: ((key % 2^31) * A) % 2^31 % n.
    Stays within int64 (max intermediate ~2.4e18 < 2^63), so it is exact —
    and identical — in Spark (ANSI) and DuckDB."""
    return (key % M31) * LCG_A % M31 % F.lit(n_buckets)


M32 = 4_294_967_296  # 2^32


def km_hash_pair_cols(shingle: Column) -> tuple[Column, Column]:
    """Kirsch-Mitzenmacher base pair: ONE md5 per shingle split into two
    32-bit ints; h_j = (hx + j*hy) mod 2^32 then provides k hashes at 1/k
    the digest cost (MinHash mixes them further, see
    :func:`km_minhash_col`). Engine-portable: DuckDB computes the same
    ints via ('0x' || substr(md5(sh), ...))::BIGINT."""
    digest = F.md5(shingle)
    hx = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    hy = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    return hx, hy


MIX32_C = 0x45D9F3B  # odd, < 2^27: h * MIX32_C stays below 2^59

# The MinHash family km_hash_pair_cols + km_minhash_col compute. Stored
# signatures only compare with signatures of the same family, so the
# persisted MinHash index records this name and refuses any other; give
# any change to either function a new name.
HASH_FAMILY = "km-mix32-v1"


def km_minhash_col(hx: Column, hy: Column, j: int) -> Column:
    """The j-th MinHash value of a shingle: mix32((hx + j*hy) mod 2^32).

    The bare Kirsch-Mitzenmacher line is NOT min-wise enough for MinHash:
    a shingle with a small hy (or one just below 2^32) stays small for
    every j once it wraps, so it wins nearly all k minima at once and two
    near-duplicates that differ in it agree on almost no hash (observed: a
    j=0.71 pair agreeing on 4 of 64, missed by all 32 bands). The
    xorshift-multiply mixer is a bijection on 32-bit values that breaks
    that correlation across j. Every product stays below 2^59, so the
    integer arithmetic is exact in Spark (ANSI) and DuckDB alike."""
    h = (hx + F.lit(j) * hy) % M32
    for _ in range(2):
        h = F.shiftright(h, 16).bitwiseXOR(h) * MIX32_C % M32
    return F.shiftright(h, 16).bitwiseXOR(h)


def md5_pct_col(key: Column) -> Column:
    """Deterministic percent bucket 0-99 from md5 of the key's string form
    — the engine-portable hash-sample primitive (``md5_pct_col(k) < pct``
    keeps ~pct% of rows, reproducibly across engines, partitionings and
    runs). DuckDB mirror:
    ``('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % 100``.
    Used by the sample-bounded audit harnesses (x91): at 100 TB the exact
    truth side of a recall audit runs on a hash-sample whose membership
    any engine can recompute."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


def rolling_fingerprint_udf(window: int = 8, base: int = 257, mod: int = 1_000_000_007):
    """Vectorized (Arrow-batched) rolling-hash fingerprint: MIN over all
    window hashes of the character stream — numerically identical to
    ``rolling_hash_col`` for ASCII text, but computed with `window` numpy
    ops per document instead of an O(len*window) Catalyst expression tree
    (~10x faster at sf0.1). The expression variant remains the
    cross-engine-audited definition; this is the production path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: `from __future__ import annotations` stringifies hints, which
    # pandas_udf cannot resolve — set real annotations explicitly.
    def fp(texts):
        out = np.empty(len(texts), dtype=np.int64)
        for i, s in enumerate(texts):
            # match ascii(char-of-split): per-codepoint, not per-byte
            b = np.array([ord(c) for c in (s or "")], dtype=np.int64)
            w = min(window, len(b)) if len(b) else 0
            if w == 0:
                out[i] = 0
                continue
            if len(b) == w:
                h = 0
                for c in b:
                    h = (h * base + int(c)) % mod
                out[i] = h
                continue
            sw = np.lib.stride_tricks.sliding_window_view(b, w)
            h = np.zeros(len(sw), dtype=np.int64)
            for j in range(w):
                h = (h * base + sw[:, j]) % mod
            out[i] = int(h.min())
        return pd.Series(out)

    fp.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(fp, "long")


def rolling_hash_col(text: Column, window: int = 8, base: int = 257, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the character stream (document
    fingerprinting, winnowing-style). Returns the MIN of all window hashes —
    a single stable fingerprint per document. ascii() of each char; folds
    left-to-right, exact int64 arithmetic (mod keeps products < 2^60)."""
    chars = F.split(text, "")
    n = F.size(chars)
    cnt = F.greatest(n - (window - 1), F.lit(1))
    window_hash = lambda i: F.aggregate(  # noqa: E731
        F.slice(chars, i, window),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )
    hashes = F.transform(F.sequence(F.lit(1), cnt), window_hash)
    return F.array_min(hashes)
