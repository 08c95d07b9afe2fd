"""Hypothesis property tests over the pure-Python kernels (no Spark session
needed — these run in milliseconds and pin the math the Spark operators
delegate to)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from detecting_and_addressing_change_spark.operators.ddm import (
    DDMState,
    ddm_scan,
)


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), max_size=200
    )
)
@settings(max_examples=200, deadline=None)
def test_ddm_total_and_flags_valid(errors):
    flags = ddm_scan(errors)
    assert len(flags) == len(errors)
    assert set(flags) <= {"N", "W", "D"}


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=100,
    )
)
@settings(max_examples=100, deadline=None)
def test_ddm_incremental_equals_scan(errors):
    """Feeding one-by-one through a live state equals the batch scan —
    the property the streaming operator depends on (state carries across
    micro-batches)."""
    st1 = DDMState()
    one_by_one = [st1.add_element(e) for e in errors]
    assert one_by_one == ddm_scan(errors)


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=500, deadline=None)
def test_lcg_bucket_range_and_determinism(key):
    a = ((key % 2_147_483_648) * 1_103_515_245) % 2_147_483_648 % 5
    assert 0 <= a < 5
    # never overflows int64 (the Spark/DuckDB portability invariant)
    assert (key % 2_147_483_648) * 1_103_515_245 < 2**63


@given(
    st.floats(
        min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
    ),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=500, deadline=None)
def test_portable_round_is_stable(x, n):
    """floor(x*10^n + 0.5)/10^n is idempotent and within half an ulp-step
    of x — the contract both engines compute identically."""
    f = 10.0**n
    r = math.floor(x * f + 0.5) / f
    r2 = math.floor(r * f + 0.5) / f
    assert r2 == r
    assert abs(r - x) <= 0.5 / f + abs(x) * 1e-12


@given(st.text(alphabet="abcdefgh ", min_size=0, max_size=60))
@settings(max_examples=200, deadline=None)
def test_hash_embedder_deterministic_and_truncating(text):
    from detecting_and_addressing_change_spark.operators.embedder import (
        hash_embed_tokens,
    )

    a = hash_embed_tokens(text, "BERT", 4, max_seq_len=8)
    b = hash_embed_tokens(text, "BERT", 4, max_seq_len=8)
    assert a == b
    assert len(a) <= 8
    n_words = len(text.split(" "))
    assert len(a) == min(n_words, 8)


def test_memoized_embedding_bit_exact_vs_original_formula():
    """The prefix-hash + memo optimization in hash_embed_tokens must stay
    bit-identical to the naive per-(word, d) polyhash (the q39/x36 oracles
    pin these exact values)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from detecting_and_addressing_change_spark.operators.embedder import (
        _hash31,
        hash_embed_tokens,
    )

    @given(
        words=st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                min_size=1,
                max_size=8,
            ),
            min_size=1,
            max_size=10,
        ),
        dim=st.integers(1, 13),
    )
    @settings(max_examples=40, deadline=None)
    def check(words, dim):
        text = " ".join(words)
        memo: dict = {}
        got = hash_embed_tokens(text, "BERT", dim, 16, memo)
        want = [
            [
                math.modf(math.sin(_hash31(w, "BERT", d)))[0] * 2 - 1
                for d in range(dim)
            ]
            for w in text.split(" ")[:16]
        ]
        assert got == want
        # memo reuse across calls stays exact
        again = hash_embed_tokens(text, "BERT", dim, 16, memo)
        assert again == want

    check()


def test_batch_word_vectors_bit_exact_vs_original_formula():
    """The fused embedder's batch kernel ``_word_vecs`` (int64 polyhash over
    UCS-4 code points, libm ``sin``) must give the per-(word, d) formula's
    doubles bit for bit. ``dim=12`` makes ``d`` run to two digits; the
    words cover the empty word, digits only, 30 characters, a non-ASCII
    and an astral-plane character, and mixed lengths in one batch."""
    import numpy as np

    from detecting_and_addressing_change_spark.operators.embedder import (
        _hash31,
        _word_vecs,
    )

    words = ["", "0123", "x" * 30, "café", "𝔘", "w1", "naïve 𝔘x"]
    for model in ("BERT", "SCIBERT"):
        got = _word_vecs(words, model, 12)
        want = np.array(
            [
                [
                    math.modf(math.sin(_hash31(w, model, d)))[0] * 2 - 1
                    for d in range(12)
                ]
                for w in words
            ]
        )
        assert got.dtype == np.float64 and got.shape == (len(words), 12)
        assert got.tobytes() == want.tobytes(), model
    assert _word_vecs([], "BERT", 12).shape == (0, 12)
