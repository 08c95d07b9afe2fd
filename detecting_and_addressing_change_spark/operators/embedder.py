"""Pluggable embedder interface (SURVEY §2.2 R3 / §2.7 U7).

Reference: HuggingFace tokenizer + transformer forward, truncation at 512,
selecting one hidden state (``constants/transformers.py:32-52``); three
model families BERT / SciBERT / DistilBERT (``:12-19``). The Spark surface
is ``mapInPandas``: text column in, ``array<array<float>>`` token embeddings
out, with per-partition model initialization (cold-start amortized over the
partition, SURVEY §7 'what's hard' #4).

Backends:
- ``hash``  — deterministic hash embedder (FIXTURES.md §2's formula:
  emb(word, model)[d] = frac(sin(hash31(word, model, d))) * 2 - 1). Fully
  reproducible across runs/partitions; distinct "models" are distinct
  functions of the text, which is what the drift experiments need (swapping
  the embedding space mid-stream IS the abrupt-drift simulation, SURVEY §0
  item 6a).
- ``mini``  — deterministic numpy attention encoder
  (``operators/transformer.py``): contextual token states under hash
  weights.
- ``hf``    — real transformers, gated behind an import check (it raises
  unless torch and transformers are installed).

:func:`pooled_embed_documents_tagged` fuses the hash backend with mean
pooling for the drift experiments and retrieval.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("model", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.ArrayType(T.FloatType()))),
        T.StructField("seq_len", T.IntegerType()),
    ]
)


_M31 = 2_147_483_647


def _hash31(word: str, model: str, d: int) -> int:
    h = 7
    for ch in f"{model}:{word}:{d}":
        h = (h * 31 + ord(ch)) % _M31
    return h


def _word_vec(
    word: str, model: str, dim: int, memo: dict[str, list[float]]
) -> list[float]:
    """One word's embedding, memoized. The polyhash is sequential over the
    string, so the shared ``f"{model}:{word}:"`` prefix is hashed once and
    only the digits of ``d`` are folded in per dimension — bit-identical to
    ``_hash31`` (the q39/x36 SQL oracles pin the exact values). Memoization
    matters because corpora are Zipfian: at sf0.1 the documents table has
    ~60x more word occurrences than distinct words."""
    v = memo.get(word)
    if v is None:
        h0 = 7
        for ch in f"{model}:{word}:":
            h0 = (h0 * 31 + ord(ch)) % _M31
        v = []
        for d in range(dim):
            h = h0
            for ch in str(d):
                h = (h * 31 + ord(ch)) % _M31
            v.append(math.modf(math.sin(h))[0] * 2 - 1)
        memo[word] = v
    return v


def _word_vecs(words: list[str], model: str, dim: int) -> np.ndarray:
    """``_word_vec`` for a batch of words: a ``(len(words), dim)`` float64
    array, bit-identical to ``_hash31`` per entry.

    The polyhash runs in int64 numpy over the UCS-4 code points of every
    ``f"{word}:"`` at once, one step per character position (every value
    stays below 31 * 2**31 + 0x110000), from the hash of the shared
    ``f"{model}:"`` prefix, then one step per digit of ``d``. Each value
    goes through ``math.sin``, not ``np.sin``: numpy may route float64
    ``sin`` through SVML on AVX-512 hosts, and the q39/x36 SQL oracles pin
    libm's values. ``modf`` and ``* 2 - 1`` are exact or correctly rounded
    in both libraries."""
    h0 = 7
    for ch in f"{model}:":
        h0 = (h0 * 31 + ord(ch)) % _M31
    keys = [f"{w}:" for w in words]
    if not keys:
        return np.empty((0, dim))
    lens = np.fromiter(map(len, keys), np.int64, len(keys))
    width = int(lens.max())
    # the trailing ':' keeps a word's NUL characters inside the buffer
    cps = np.array(keys, dtype=f"U{width}").view(np.uint32)
    cps = cps.reshape(len(keys), width).astype(np.int64)
    h = np.full(len(keys), h0, dtype=np.int64)
    for j in range(width):
        h = np.where(lens > j, (h * 31 + cps[:, j]) % _M31, h)
    hd = np.empty((len(keys), dim), dtype=np.int64)
    for d in range(dim):
        col = h
        for ch in str(d):
            col = (col * 31 + ord(ch)) % _M31
        hd[:, d] = col
    sins = np.fromiter(map(math.sin, hd.ravel().tolist()), np.float64, hd.size)
    return np.modf(sins.reshape(hd.shape))[0] * 2 - 1


def hash_embed_tokens(
    text: str,
    model: str,
    dim: int,
    max_seq_len: int = 512,
    _memo: dict[str, list[float]] | None = None,
) -> list[list[float]]:
    """Per-token deterministic embedding; truncates at max_seq_len exactly
    like the reference tokenizer (constants/transformers.py:45)."""
    memo = _memo if _memo is not None else {}
    words = text.split(" ")[:max_seq_len]
    return [_word_vec(w, model, dim, memo) for w in words]


def embed_documents(
    docs: DataFrame,
    model: str = "BERT",
    dim: int = 8,
    max_seq_len: int = 512,
    backend: str = "hash",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """S3/R3: text -> ragged token-embedding arrays via mapInPandas.
    Returns DataFrame[doc_id, model, tokens, seq_len]."""
    if backend == "hash":

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # per-partition init would go here for a real model; for the
            # hash backend it's the word-vector memo (vocabulary is shared
            # across every doc in the partition)
            memo: dict[str, list[float]] = {}
            for pdf in batches:
                toks = [
                    hash_embed_tokens(t or "", model, dim, max_seq_len, memo)
                    for t in pdf[text_col]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col].values,
                        "model": [model] * len(pdf),
                        "tokens": toks,
                        "seq_len": [len(t) for t in toks],
                    }
                )

        from ..sources.tables import spread_small_input

        # model inference is the dominant cost (SURVEY §4.3) and is
        # embarrassingly parallel: never let a single-file scan serialize it
        return spread_small_input(docs.select(id_col, text_col)).mapInPandas(
            fn, EMBED_SCHEMA
        )

    if backend == "mini":
        # deterministic numpy attention encoder (operators/transformer.py)
        # — the transformer COMPUTE graph under hash weights; contextual
        # token states where the hash backend is bag-of-words.
        # POOLING CAVEAT: pool 'mini' states with first_token_pool_col,
        # not mean_pool_col — final-LayerNorm states nearly cancel under
        # mean pooling (cross-class distance 0.009 mean vs 0.35 first-
        # token; see operators/transformer.py module docstring).
        from .transformer import transformer_embed_documents

        return transformer_embed_documents(
            docs,
            model=model,
            dim=dim,
            max_seq_len=max_seq_len,
            text_col=text_col,
            id_col=id_col,
        )

    if backend == "hf":
        _require_hf()  # raises unless torch+transformers are installed
        from ..sources.tables import spread_small_input

        return spread_small_input(docs.select(id_col, text_col)).mapInPandas(
            _hf_embed_fn(model, dim, max_seq_len, text_col, id_col),
            EMBED_SCHEMA,
        )
    raise ValueError(f"unknown backend {backend!r}")


POOLED_SCHEMA = T.StructType(
    [
        T.StructField("model", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _fold_mean(table: np.ndarray, ids: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Mean of each document's token rows of the float32 ``table``.
    ``ids`` holds the documents' row ids back to back, ``lens`` each
    document's token count.

    A left-to-right float64 fold over float32 token vectors: numpy upcasts
    each float32 addend exactly like ``x.cast("double")``, and one step per
    token position keeps, within every document, the non-associative FP
    order that the HOF fold (and the DuckDB oracle's list fold) uses. The
    documents are visited longest first, so the documents still folding at
    position ``p`` are a prefix."""
    order = np.argsort(-lens, kind="stable")
    sorted_lens = lens[order]
    starts = (np.cumsum(lens) - lens)[order]
    acc = np.zeros((len(lens), table.shape[1]))
    for p in range(int(sorted_lens[0])):
        k = np.count_nonzero(sorted_lens > p)
        acc[:k] += table[ids[starts[:k] + p]]
    out = np.empty_like(acc)
    out[order] = acc
    return out / lens[:, None]


def pooled_embed_documents_tagged(
    docs: DataFrame,
    dim: int = 8,
    max_seq_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_col: str = "model",
) -> DataFrame:
    """Fused R3+R9 for the hash backend: embed AND mean-pool inside one
    mapInPandas, for rows tagged with their model in ``model_col`` (a union
    of model-tagged copies embeds N spaces in ONE job).

    ``mean_pool_col`` over ``embed_documents`` ships every ragged
    ``array<array<float>>`` token matrix through Arrow only for the JVM to
    immediately fold it away — for mean-pooled consumers (the q39/q59/q60
    drift pipelines, q61 mapping) that transfer dominates the embed stage.
    This fused path transfers ``dim`` doubles per row instead of
    ``seq_len x dim`` floats, cutting the Arrow volume ~seq_len-fold.

    Bit-identical to the two-step plan by construction: token vectors are
    rounded through float32 exactly like the EMBED_SCHEMA Arrow cast, then
    accumulated left-to-right in float64 per dimension — the same fold
    ``mean_pool_col``'s ``F.aggregate`` performs — and divided by the token
    count. Pinned by tests/test_arrays.py::test_fused_pooling_bit_identical.

    Each model's word vectors sit in one float32 table that grows across
    the task's Arrow batches; new words are embedded in one
    :func:`_word_vecs` call per batch and model.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab: dict[str, dict[str, int]] = {}
        tables: dict[str, np.ndarray] = {}
        for pdf in batches:
            texts = pdf[text_col].tolist()
            by_model: dict[str, list[int]] = {}
            for i, m in enumerate(pdf[model_col].tolist()):
                by_model.setdefault(m, []).append(i)
            feats = np.empty((len(texts), dim))
            for m, rows in by_model.items():
                index = vocab.setdefault(m, {})
                known = len(index)
                docs = [(texts[i] or "").split(" ")[:max_seq_len] for i in rows]
                ids = np.array(
                    [index.setdefault(w, len(index)) for ws in docs for w in ws],
                    dtype=np.int64,
                )
                table = tables.get(m, np.empty((0, dim), dtype=np.float32))
                if len(index) > known:
                    new = list(itertools.islice(index, known, None))
                    table = np.concatenate(
                        [table, _word_vecs(new, m, dim).astype(np.float32)]
                    )
                    tables[m] = table
                lens = np.fromiter(map(len, docs), np.int64, len(docs))
                feats[rows] = _fold_mean(table, ids, lens)
            yield pd.DataFrame(
                {
                    "model": pdf[model_col].values,
                    "doc_id": pdf[id_col].values,
                    "features": list(feats),
                }
            )

    from ..sources.tables import spread_small_input

    return spread_small_input(
        docs.select(id_col, text_col, model_col)
    ).mapInPandas(fn, POOLED_SCHEMA)


# reference constants/transformers.py:12-19: BERT/DistilBERT load from the
# hub; SciBERT loads the same checkpoint the repo vendors locally, whose
# public hub id is allenai/scibert_scivocab_uncased.
HF_CHECKPOINTS = {
    "BERT": "bert-base-uncased",
    "SCIBERT": "allenai/scibert_scivocab_uncased",
    "DISTILBERT": "distilbert-base-uncased",
}


def hf_available() -> bool:
    """True when the real HF backend can run: ``pip install torch
    transformers`` is the exact activation step (no code change needed —
    the wiring below is live, tests/test_hf_seam.py exercises it against
    a stub today and runs it for real the day torch appears)."""
    try:
        import transformers  # noqa: F401
        import torch  # noqa: F401
        return True
    except ImportError:
        return False


def _hf_embed_fn(
    model: str,
    dim: int,
    max_seq_len: int,
    text_col: str,
    id_col: str,
):
    """The mapInPandas worker for backend='hf': loads tokenizer + model
    ONCE per partition (cold-start amortized over the partition's rows,
    the same contract as the reference's per-process Transformer init,
    ``constants/transformers.py:29-30``), tokenizes with truncation at
    ``max_seq_len`` (``:46``), one no-grad forward per row, and emits the
    last hidden state's token vectors TRUNCATED to the first ``dim``
    channels so the output schema matches the hash backend's (pass
    dim=hidden_size for the full vectors). Returned separately from
    ``embed_documents`` so the seam is unit-testable against a stubbed
    torch/transformers without a worker process."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import torch
        from transformers import AutoModel, AutoTokenizer

        ckpt = HF_CHECKPOINTS.get(model, model)
        tokenizer = AutoTokenizer.from_pretrained(ckpt)
        mdl = AutoModel.from_pretrained(ckpt)
        mdl.eval()
        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                enc = tokenizer(
                    t or "",
                    truncation=True,
                    max_length=max_seq_len,
                    return_tensors="pt",
                )
                with torch.no_grad():
                    hidden = mdl(**enc).last_hidden_state
                arr = np.asarray(hidden)[0]  # (seq, hidden)
                if arr.shape[1] < dim:
                    raise ValueError(
                        f"hf backend: requested dim={dim} exceeds the "
                        f"model's hidden size {arr.shape[1]} — vectors "
                        "would silently come out short; pass dim <= "
                        "hidden_size"
                    )
                toks.append(
                    [row[:dim].astype(np.float32).tolist() for row in arr]
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "model": [model] * len(pdf),
                    "tokens": toks,
                    "seq_len": [len(t) for t in toks],
                }
            )

    return fn


def _require_hf() -> None:
    if not hf_available():
        raise NotImplementedError(
            "HF backend requires transformers+torch: pip install torch "
            "transformers. The wiring is live (operators/embedder.py:"
            "_hf_embed_fn) — install is the only activation step."
        )


def materialize_embeddings(
    docs: DataFrame, out_path: str, models: tuple[str, ...] = ("BERT",),
    dim: int = 8,
) -> None:
    """S3 sink: embed once, persist as parquet partitioned by model — the
    reference's transform_data.py materialization (its profiler shows the
    55% wall-time win, SURVEY §6) as a partition-pruned table."""
    frames = None
    for m in models:
        df = embed_documents(docs, model=m, dim=dim)
        frames = df if frames is None else frames.unionByName(df)
    frames.write.mode("overwrite").partitionBy("model").parquet(out_path)
