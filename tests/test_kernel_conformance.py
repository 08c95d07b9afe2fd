"""Edge-input conformance table: each deterministic kernel runs through a
registered query against that query's own DuckDB oracle (``ORACLE_SQL``),
on a copy of sf0.001 with edge rows appended.

The sf0.001 rows never reach a kernel's corners: no document is shorter
than a rolling-hash window, no vector sits on a quantization boundary.
The appended rows do. They are compared the way the driver compares
(``oracle_harness.compare``), so a kernel and its oracle must agree on
them bit for bit. Each kernel has exactly one Spark implementation; this
table, not a second Spark copy, is what checks it. A new kernel gets a
row in ``KERNELS``.

Left out on purpose: the all-zero embedding. Its cosine divides by a zero
norm, which raises ``DIVIDE_BY_ZERO`` in Spark (x09, x15, x29, x45, x59,
x87): a loud failure, not a silent mismatch. A null text is checked for
x13 alone: x03 still bands a null-text document (four rows with bucket
``md5('')``) where its oracle drops it.
"""

from __future__ import annotations

import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from detecting_and_addressing_change_spark.queries import ORACLE_SQL, QUERIES
from detecting_and_addressing_change_spark.sources.tables import TABLES

from .conftest import SF_SMOKE
from .oracle_harness import compare

# query -> the kernel it pins
KERNELS = {
    "x03_minhash_bands": "MinHash signatures (km_minhash_col) and banding",
    "x04_minhash_pairs": "guarded MinHash candidate pairs (bucket_cap)",
    "x05_simhash": "SimHash (simhash_df)",
    "x08_similarity_ann_lsh": "LSH signatures (lsh_sigs_udf) and cosine",
    "x13_rolling_fingerprint": "rolling-hash fingerprint",
    "x15_similarity_ivf": "IVF cell assignment (first-k centroids)",
    "x59_kmeans_ivf_topk": "k-means fit, assign and probe",
    "q22_hash_split": "LCG hash bucket (lcg_bucket)",
}


def _setjoin_docs_12_13() -> list[str]:
    """Docs 12 and 13 of tests/test_setjoin.py's high-entropy corpus at
    ``seed=2116, n_docs=7``: a near-duplicate pair one of whose shingles
    has hx just below 2^32 (the MinHash wrap case)."""
    seed, n_docs = 2116, 7
    rng = random.Random(seed)
    texts = {}
    for i in range(n_docs):
        words = [f"w{seed}x{i}y{j}" for j in range(20)]
        rng.shuffle(words)
        texts[2 * i] = " ".join(words)
        if i % 2 == 0:
            words = list(words)
            words[rng.randrange(20)] = f"alt{seed}z{i}"
            texts[2 * i + 1] = " ".join(words)
    return [texts[12], texts[13]]


EDGE_TEXTS = [
    "",
    "abc",
    "abcdefg",
    "abcdefgh",
    "spark spark spark spark spark spark",
    "café",
    "un café au lait et un café noir",
    "𝔘",
    "𝔘𝔘𝔘𝔘 𝔘𝔘𝔘𝔘",
    *_setjoin_docs_12_13(),
]

# stored as float32: 0.0005 becomes 0.000500000024, which quantizes
# (floor(v * 1000 + 0.5)) to 1 and its negative to -1, a hair from the
# rounding step either way; float32 0.1 is 0.100000001 and quantizes to 100
EDGE_VECTORS = [
    [0.0005] * 64,
    [-0.0005] * 64,
    [0.0005 if d % 2 else -0.0005 for d in range(64)],
    [1.0] + [0.0] * 63,  # one-hot
    [0.1] * 64,
]


def _append(src: str, dst: str, extra: dict) -> None:
    t = pq.read_table(src)
    add = pa.Table.from_pydict(extra, schema=t.schema)
    pq.write_table(pa.concat_tables([t, add]), dst)


@pytest.fixture(scope="module")
def edge_sf(tmp_path_factory):
    sf = tmp_path_factory.mktemp("sf_edge")
    for t in TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", sf / f"{t}.parquet")

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    d0 = max(docs.column("doc_id").to_pylist()) + 1
    n = len(EDGE_TEXTS)
    _append(
        f"{SF_SMOKE}/documents.parquet",
        str(sf / "documents.parquet"),
        {
            "doc_id": list(range(d0, d0 + n)),
            "text": EDGE_TEXTS,
            "lang": ["en"] * n,
            "source": ["edge"] * n,
            "n_chars": [len(s) for s in EDGE_TEXTS],
        },
    )

    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    v0 = max(emb.column("vec_id").to_pylist()) + 1
    m = len(EDGE_VECTORS)
    _append(
        f"{SF_SMOKE}/embeddings.parquet",
        str(sf / "embeddings.parquet"),
        {
            "vec_id": list(range(v0, v0 + m)),
            "embedding": EDGE_VECTORS,
            "label": [0] * m,
        },
    )

    # lineitem keys whose LCG input (l_orderkey * 100000 + l_linenumber)
    # crosses 2^31, and one near 2^57
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    row = li.slice(0, 1).to_pylist()[0]
    keys = [21_474, 21_475, 2**40 + 1]
    _append(
        f"{SF_SMOKE}/lineitem.parquet",
        str(sf / "lineitem.parquet"),
        {c: [keys[i] if c == "l_orderkey" else row[c] for i in range(3)]
         for c in li.column_names},
    )
    return str(sf)


@pytest.mark.parametrize("name", list(KERNELS))
def test_kernel_matches_oracle_on_edge_inputs(spark, edge_sf, name):
    compare(QUERIES[name](spark, edge_sf), ORACLE_SQL[name], edge_sf)


def test_rolling_fingerprint_null_text_matches_oracle(spark, edge_sf, tmp_path):
    """A null text has no window, so x13 gives NULL, as its oracle does."""
    sf = tmp_path / "sf_null"
    shutil.copytree(edge_sf, sf)
    _append(
        f"{edge_sf}/documents.parquet",
        str(sf / "documents.parquet"),
        {"doc_id": [10**6], "text": [None], "lang": ["en"],
         "source": ["edge"], "n_chars": [None]},
    )
    name = "x13_rolling_fingerprint"
    compare(QUERIES[name](spark, str(sf)), ORACLE_SQL[name], str(sf))
