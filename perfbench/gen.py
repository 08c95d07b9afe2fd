"""Seeded inputs for the benchmark, and the references the outputs are
checked against.

Everything here is plain numpy/pandas: the program under test receives only
the generated files. The same seed always gives the same inputs.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

N_CLASSES = 3
MARKERS = 3  # marker words per class
MARKER_REPEAT = 4  # occurrences of each marker word in a document
FILLER = MARKERS * MARKER_REPEAT  # filler words per document
VOCAB = 20_000
SOURCES = ("arxiv", "news", "wiki", "forum")
WINDOW = 32  # count-window size of the drift experiments (their default)
DUP_SHARE = 0.05  # planted exact duplicates
NEAR_SHARE = 0.05  # planted near duplicates
KEYS = 16  # keys of the error series
DRIFT_AT = 0.6  # where in the error series the error rate steps up
P_BEFORE, P_AFTER = 0.1, 0.5  # error rate before and after that step


def make_corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """Labelled corpus: DataFrame[doc_id, text, label, source] plus the
    measured shares of what was planted.

    Labels carry a naive-Bayes signal: half of a document's words are its
    class's marker words, each repeated ``MARKER_REPEAT`` times, so they
    dominate the mean-pooled embedding. Markers sit at even positions and
    random filler words at odd ones, so word n-grams of two documents only
    collide by planted copying, and no word exceeds the curation quality
    bands' 20% share. About ``DUP_SHARE`` of the documents are
    byte-identical copies of an earlier document and about ``NEAR_SHARE``
    are copies with one filler word replaced."""
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, N_CLASSES, n_docs)
    slots = np.repeat(np.arange(MARKERS), MARKER_REPEAT)
    markers = np.take_along_axis(
        np.broadcast_to(slots, (n_docs, FILLER)),
        np.argsort(rng.random((n_docs, FILLER)), axis=1),
        axis=1,
    )
    filler = rng.integers(0, VOCAB, (n_docs, FILLER))
    texts = []
    for i in range(n_docs):
        words = []
        for m, f in zip(markers[i], filler[i]):
            words += (f"c{labels[i]}m{m}", f"w{f:05d}")
        texts.append(" ".join(words))

    # plant copies of earlier documents (the copy keeps its label)
    kind = rng.random(n_docs)
    origin = np.full(n_docs, -1)
    for i in range(1, n_docs):
        if kind[i] < DUP_SHARE + NEAR_SHARE:
            j = int(rng.integers(0, i))
            while origin[j] >= 0:  # copy an original, never a copy
                j = int(origin[j])
            origin[i] = j
            labels[i] = labels[j]
            if kind[i] < DUP_SHARE:
                texts[i] = texts[j]
            else:
                ws = texts[j].split(" ")
                ws[2 * int(rng.integers(0, FILLER)) + 1] = (
                    f"x{int(rng.integers(0, VOCAB)):05d}"
                )
                texts[i] = " ".join(ws)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "label": labels.astype(np.int64),
            "source": [SOURCES[s] for s in rng.integers(0, len(SOURCES), n_docs)],
        }
    )
    shares = {
        "docs": n_docs,
        "dup_share": round(len(exact_duplicate_ids(docs)) / n_docs, 4),
        "near_dup_share": round(
            float(((origin >= 0) & (kind >= DUP_SHARE)).sum()) / n_docs, 4
        ),
        "seam_batch": n_docs // WINDOW,
    }
    return docs, shares


def exact_duplicate_ids(docs: pd.DataFrame) -> set[int]:
    """Ids of every document whose text also occurs under a smaller id."""
    keeper = docs.groupby("text")["doc_id"].transform("min")
    return set(docs["doc_id"][keeper != docs["doc_id"]].tolist())


def curation_survivors(docs: pd.DataFrame) -> set[int]:
    """The documents ``curation.curate_corpus`` keeps, computed in pandas
    from the documented rules: min-id canonical among identical texts, not
    in the benchmark split (``doc_id % 10 == 7``), inside the quality bands
    (10..100000 words, mean word length 2..12, most frequent word <= 20%),
    and sharing no word 4-gram with a benchmark-split document."""
    ids = docs["doc_id"].tolist()
    split = [t.split(" ") for t in docs["text"]]
    bench_grams: set[str] = set()
    for i, ws in zip(ids, split):
        if i % 10 == 7:
            bench_grams.update(_grams(ws, 4))
    canonical = docs.groupby("text")["doc_id"].transform("min") == docs["doc_id"]
    keep = set()
    for i, ws, text, canon in zip(ids, split, docs["text"], canonical):
        n = len(ws)
        nchars = len(text.replace(" ", ""))
        top = max(Counter(ws).values())
        quality = 10 <= n <= 100_000 and 2.0 <= nchars / n <= 12.0
        quality = quality and top / n <= 0.2
        if canon and i % 10 != 7 and quality:
            if not bench_grams.intersection(_grams(ws, 4)):
                keep.add(i)
    return keep


def _grams(ws: list[str], k: int) -> set[str]:
    return {" ".join(ws[j : j + k]) for j in range(len(ws) - k + 1)}


def min_id_canonicals(nodes: list[int], edges: list[tuple[int, int]]) -> set[int]:
    """Min-id member of every connected component of ``edges`` over
    ``nodes`` (isolated nodes are their own component)."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n for n in nodes if find(n) == n}


def make_error_series(
    seed: int, n_batches: int, rows_per_batch: int
) -> tuple[pd.DataFrame, dict]:
    """Keyed 0/1 error series: DataFrame[detector_id, seq_id, error]. Row
    ``seq_id`` belongs to key ``seq_id % KEYS``; the error rate steps from
    ``P_BEFORE`` to ``P_AFTER`` at row ``DRIFT_AT * n`` of the series."""
    rng = np.random.default_rng(seed)
    n = n_batches * rows_per_batch
    seq = np.arange(n, dtype=np.int64)
    drift_row = int(DRIFT_AT * n)
    p = np.where(seq < drift_row, P_BEFORE, P_AFTER)
    series = pd.DataFrame(
        {
            "detector_id": np.array([f"k{k:02d}" for k in range(KEYS)])[
                seq % KEYS
            ],
            "seq_id": seq,
            "error": (rng.random(n) < p).astype(np.float64),
        }
    )
    shares = {
        "keys": KEYS,
        "rows_per_batch": rows_per_batch,
        "batches": n_batches,
        "drift_row": drift_row,
        "error_before": round(float(series["error"][:drift_row].mean()), 4),
        "error_after": round(float(series["error"][drift_row:].mean()), 4),
    }
    return series, shares
