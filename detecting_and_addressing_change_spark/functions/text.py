"""Text expression builders (SURVEY §2.2 R1/R2 + text-analysis extensions).

The reference's ``clean_text`` is a 9-rule regex pipeline applied one Python
string at a time (``utils/formatting.py:7-36``); here each rule is a
``regexp_replace`` column expression so the whole pipeline stays inside
whole-stage codegen — no UDF, no Python worker.

The text-analysis extensions (language-ID heuristic, quality scoring, token
counting, fingerprinting) are the LLM-data-pipeline operators the driver's
north star asks for; all are pure column expressions, so they scale linearly
with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text_col(text: Column, remove_punctuation: bool = False) -> Column:
    """Reference ``clean_text`` (utils/formatting.py:7-36) as an expression
    chain: strip HTML breaks/tags, collapse hrefs to their text, collapse
    whitespace, optional punctuation strip, then rtrim + lower."""
    c = F.regexp_replace(text, r"<br\s*/?>", " ")
    c = F.regexp_replace(c, r'<a\s+href="[^"]*">([^<]*)</a>', r"$1")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    if remove_punctuation:
        c = F.regexp_replace(c, r"[^\w\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.lower(F.trim(c))


def words_col(text: Column) -> Column:
    """Whitespace tokenization — array<string>."""
    return F.split(text, " ")


def token_count_col(text: Column) -> Column:
    """Whitespace token count (text-analysis extension)."""
    return F.size(words_col(text))


def word_ngrams_col(text: Column, n: int) -> Column:
    """Word n-grams via slice over the split array — no explode/join, stays
    codegen'd. Returns array<string> of space-joined n-grams; empty array
    when the text has fewer than n words (Spark's sequence() counts DOWN
    when start > stop, so that case is guarded explicitly)."""
    ws = words_col(text)
    cnt = F.size(ws) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return F.when(cnt < 1, F.array().cast("array<string>")).otherwise(grams)


def char_ngrams_col(text: Column, n: int) -> Column:
    """Character n-grams (shingles) via substring over a generated index —
    no explode needed; the array stays inside one row."""
    cnt = F.greatest(F.length(text) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.substring(text, i, F.lit(n)),
    )
    # when the text is shorter than n the single generated gram is short —
    # drop it so the result is empty, matching "no complete shingle".
    return F.filter(grams, lambda s: F.length(s) == n)


def sorted_word_fingerprint_col(text: Column) -> Column:
    """Key-collision fingerprint: lower → split → distinct → sort → join →
    md5. The canonical near-exact-dup key (case/word-order insensitive)."""
    return F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.lower(text), " "))), " "
        )
    )


STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "von"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "un", "una", "por"],
}


def stopword_hits_col(text: Column, lang: str) -> Column:
    """Count of stopword tokens for one language (language-ID feature)."""
    ws = words_col(F.lower(text))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(ws, sw))


def lang_id_col(text: Column) -> Column:
    """N-gram/stopword language-ID heuristic: pick the language with the
    most distinct stopword hits; 'unk' when none hit. Deterministic
    tie-break by language code ascending."""
    pairs = [(lang, stopword_hits_col(text, lang)) for lang in sorted(STOPWORDS)]
    best = F.lit("unk")
    best_hits = F.lit(0)
    # fold left over languages in sorted order: strictly-greater wins, so
    # ties keep the earliest language code.
    for lang, hits in pairs:
        take = hits > best_hits
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best


def quality_score_col(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: combines length band, mean word
    length band, punctuation ratio and uniqueness ratio — the usual cheap
    pre-training filters. Exact rational arithmetic (int/int division) so it
    hashes identically across engines."""
    ws = words_col(text)
    n_words = F.size(ws)
    n_chars = F.length(text)
    uniq_ratio = F.size(F.array_distinct(ws)) / n_words
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    punct_ratio = punct / n_chars
    len_ok = (n_words >= 10) & (n_words <= 1000)
    word_len_ok = (n_chars / n_words >= 2.0) & (n_chars / n_words <= 12.0)
    from .rounding import portable_round

    return portable_round(
        0.25 * len_ok.cast("int")
        + 0.25 * word_len_ok.cast("int")
        + 0.25 * uniq_ratio
        + 0.25 * (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))),
        4,
    )


def chunk_spans(
    df,
    size: int,
    stride: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Sliding-window chunk spans — the ONE implementation of the x63
    boundary contract (n_chunks = 1 + ceil((n - size)/stride), trailing
    partial window kept), shared by the x63 query, the x66 chunk-dedup
    rate, and retrieval.chunk_documents so the three can never
    desynchronize. Pure narrow map + explode.

    Returns DataFrame[<id_col>, n, j, chunk] where ``chunk`` is the
    word-array slice for window ``j``."""
    w = df.select(
        F.col(id_col),
        F.split(text_col, " ").alias("__ws"),
        F.size(F.split(text_col, " ")).alias("n"),
    )
    n = F.col("n")
    n_chunks = F.lit(1) + F.when(
        n > size,
        F.ceil((n - F.lit(size)) / F.lit(float(stride))).cast("long"),
    ).otherwise(F.lit(0))
    spans = w.select(
        id_col,
        "n",
        "__ws",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("j"),
    )
    j = F.col("j")
    start = j * stride + 1
    chunk = F.slice(
        F.col("__ws"), start, F.least(start + F.lit(size - 1), n) - start + 1
    )
    return spans.select(id_col, "n", "j", chunk.alias("chunk"))
