"""Similarity search over embedding columns — LLM-pipeline extension.

Two paths, per the driver's north star:

- brute-force cosine top-k: the exactness baseline. Query set is broadcast
  (it is small by construction); each executor scans its partition of the
  corpus and keeps top-k per query via window rank. Zero shuffle of the
  corpus; the only shuffle is the (queries x k) result.
- LSH-bucketed ANN (sign-random-projection signatures): the scale path. A
  candidate meets a query only when their `plane_bits` signatures collide in
  at least one rotation, cutting the scanned fraction ~2^-bits per table.

The hyperplanes are DETERMINISTIC ±1 sign planes derived from a
multiplicative integer hash (Knuth 2654435761), and the projection runs on
vectors quantized to integers (round(v*1000)) — so the signature arithmetic
is exact int64, order-independent, and reproducible bit-for-bit in any
engine (this is what makes x08/x09 DuckDB-oracle-checkable, unlike float
Gaussian planes whose near-zero dots are summation-order sensitive).

Dot products fold left-to-right in double precision via higher-order
functions (functions.arrays.dot_col) — JVM-side, no Python worker.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_col, dot_col
from ..functions.rounding import portable_round


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors: DataFrame[query_id, cand_id, cosine, rnk].

    broadcast(queries) x corpus scan; rank window partitioned by query.
    Self-matches (same id) are excluded. Deterministic tie-break on cand_id."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_emb")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            cosine_col(F.col("q_emb"), F.col("c_emb")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "cand_id",
            portable_round(F.col("cos_raw"), 4).alias("cosine"),
            "rnk",
        )
    )


QUANT_SCALE = 1000


def plane_sign(g: int, d: int) -> int:
    """±1 entry of global plane g at dimension d — pure integer hash, so the
    identical plane is reconstructable in SQL on any engine."""
    h = ((g * 40503 + d + 1) * 2654435761) % 2**31
    return 1 if (h // 32768) % 2 == 0 else -1


def sign_planes(g0: int, n_planes: int, dim: int) -> list[list[int]]:
    """n_planes consecutive ±1 planes starting at global index g0."""
    return [
        [plane_sign(g0 + p, d) for d in range(dim)] for p in range(n_planes)
    ]


def quantize_col(vec_col: Column, scale: int = QUANT_SCALE) -> Column:
    """array<float> -> array<bigint> via round-half-up at `scale` — the
    portable fixed-point representation the signatures are computed on."""
    return F.transform(
        vec_col, lambda v: F.floor(v.cast("double") * scale + F.lit(0.5))
    )


def lsh_sigs_udf(n_planes: int, n_tables: int, dim: int):
    """Arrow-batched production path for the per-table signatures: ONE
    numpy int64 matmul `(batch, dim) @ (dim, n_tables*n_planes)` instead
    of a ~n_tables*n_planes*dim-node Catalyst expression tree per row
    (~6x faster at sf0.01, and the codegen stays compilable as
    n_planes grows). Bit p of table t is set iff the exact int64 dot of
    the quantized vector (`floor(v*scale + 0.5)`) with ±1 global plane
    t*n_planes + p is positive; tests/test_similarity.py checks that
    against a pure-Python `plane_sign` dot product, and
    tests/test_kernel_conformance.py runs x08 against its DuckDB oracle
    on edge inputs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(
        sign_planes(0, n_tables * n_planes, dim), dtype=np.int64
    ).T  # (dim, n_tables*n_planes), column g = global plane g
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def sigs(embs):
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(
            [
                np.floor(
                    np.asarray(e, dtype=np.float64) * QUANT_SCALE + 0.5
                ).astype(np.int64)
                for e in embs
            ]
        )
        bits = (M @ P) > 0  # (batch, n_tables*n_planes)
        sig = (
            bits.reshape(len(embs), n_tables, n_planes).astype(np.int64)
            @ weights
        ).astype(np.int32)
        return pd.Series(list(sig))

    sigs.__annotations__ = {"embs": pd.Series, "return": pd.Series}
    return pandas_udf(sigs, "array<int>")


def _with_sigs(
    df: DataFrame,
    role: str,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each row into one (tbl, sig) bucket row per LSH table.
    Table t uses global planes [t*n_planes, (t+1)*n_planes), signed by
    the Arrow-batched :func:`lsh_sigs_udf`. ``carry_cols`` passes extra
    columns of ``df`` through unchanged — callers that need them
    downstream would otherwise pay a join against ``df`` just to
    re-attach them (guide §2.4; the embedding_near_dup_pairs __vq
    re-attach join, removed r17)."""
    return df.select(
        F.col(id_col).alias(f"{role}_id"),
        F.col(vec_col).alias(f"{role}_emb"),
        *[F.col(c) for c in carry_cols],
        F.posexplode(
            lsh_sigs_udf(n_planes, n_tables, dim)(F.col(vec_col))
        ).alias("tbl", "sig"),
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: join query and corpus on any colliding
    (table, signature) bucket, then exact cosine + rank inside candidates.

    At 100 TB the bucket join replaces the full scan: shuffle keys are
    (table, signature) — 2^n_planes buckets per table spread load; skew only
    for near-duplicate clusters, which AQE skew-join splits."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    q = F.broadcast(
        _with_sigs(queries, "query", id_col, vec_col, n_planes, n_tables, dim)
    )
    c = _with_sigs(corpus, "cand", id_col, vec_col, n_planes, n_tables, dim)
    # dedup candidate PAIRS of ids only — the embedding arrays would bloat
    # the distinct's shuffle by ~dim*8 bytes/row; re-attach them afterwards
    candidates = (
        c.drop("cand_emb")
        .join(q.drop("query_emb"), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qe = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_emb")
        )
    )
    ce = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_emb")
    )
    scored = (
        candidates.join(qe, "query_id")
        .join(ce, "cand_id")
        .select(
            "query_id",
            "cand_id",
            cosine_col(F.col("query_emb"), F.col("cand_emb")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "cand_id", portable_round(F.col("cos_raw"), 4).alias("cosine"), "rnk"
        )
    )


def ivf_topk(
    corpus: DataFrame,
    query_filter: Column,
    n_centroids: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns every vector to the cell of
    its nearest centroid; a query probes its ``nprobe`` nearest cells and
    ranks their members by exact cosine. ``nprobe=1`` is the classic
    probe-own-cell tradeoff; raising it is the standard recall knob (the
    candidate volume grows linearly with nprobe, never quadratically).

    The coarse centroids are the first ``n_centroids`` vectors by id — a
    deterministic stand-in for sampled/k-means centroids (at 100 TB the
    centroid set comes from a KMeans fit on a sample and is broadcast the
    same way). Cell assignment uses EXACT integer dot products over
    round(v*1000) fixed-point vectors (argmax, ties to the lowest centroid
    id), so the partitioning — and therefore the candidate set — is
    bit-reproducible in any engine: this is what makes the query
    oracle-checkable. The cell join shuffles on `cell` (n_centroids
    buckets); candidate lists stay small because each cell holds ~1/n of
    the corpus."""
    cent_rows = sorted(
        (r[0], r[1])
        for r in corpus.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    qv = quantize_col(F.col(vec_col))
    cells = []
    for cid, cvec in cent_rows:
        qc = [int(math.floor(float(v) * QUANT_SCALE + 0.5)) for v in cvec]
        qc_arr = F.array(*[F.lit(c) for c in qc])
        dot = F.aggregate(
            F.zip_with(qc_arr, qv, lambda c, x: c.cast("long") * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        # struct max: highest dot wins, then highest -cent_id = lowest id
        cells.append(F.struct(dot.alias("d"), F.lit(-cid).alias("nc")))
    cell_structs = F.array(*cells)
    cell_expr = (-F.array_max(cell_structs)["nc"]).cast("int")

    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), cell_expr.alias("cell")
    )
    if nprobe <= 1:
        q_cells = assigned.filter(query_filter).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_emb"),
            "cell",
        )
    else:
        # top-nprobe cells per query: ascending struct sort is (d asc,
        # -cid asc); reversed, ties resolve to the LOWEST centroid id —
        # the same tie rule as the argmax assignment
        probe = F.transform(
            F.slice(F.reverse(F.array_sort(cell_structs)), 1, nprobe),
            lambda s: (-s["nc"]).cast("int"),
        )
        q_cells = (
            corpus.filter(query_filter)
            .select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_emb"),
                F.explode(probe).alias("cell"),
            )
        )
    q = F.broadcast(q_cells)
    cand = assigned.join(q, "cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        cosine_col(F.col("q_emb"), F.col(vec_col)).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "cand_id",
            portable_round(F.col("cos_raw"), 4).alias("cosine"),
            "rnk",
        )
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    bucket_cap: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the same LSH bucketing:
    pairs colliding in any table with ROUNDED cosine >= threshold (the
    threshold is applied post-rounding so the boundary is engine-portable).

    Skew-guarded like ``dedup.minhash_dedup_edges`` (VERDICT r5 task #1 —
    a degenerate (tbl, sig) bucket makes the self-join O(m²)):

    1. **Exact collapse**: vectors identical at the signature's own
       fixed-point quantization (round(v*1000), the granularity below
       which the LSH cannot distinguish them anyway) collapse to their
       min-id representative; each group contributes keeper->member CHAIN
       candidates (a star, not a clique).
    2. **Hot-bucket tier/cap** (``bucket_cap``): (tbl, sig) buckets wider
       than the cap are refined into ceil(w/cap) md5(qv-digest) tier
       buckets and rank-capped — candidate count linear in bucket width.

    All candidates (chains + capped rep pairs) then go through the SAME
    cosine scoring + threshold, so identical vectors keep cosine 1.0 and
    the zero-vector NULL-cosine drop is unchanged.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    vq = F.md5(
        F.concat_ws(
            "|", F.transform(quantize_col(F.col(vec_col)), lambda q: q.cast("string"))
        )
    )
    lab = corpus.withColumn("__vq", vq).withColumn(
        "__keeper", F.min(id_col).over(Window.partitionBy("__vq"))
    )
    chains = lab.filter(F.col(id_col) != F.col("__keeper")).select(
        F.col("__keeper").alias("a_id"), F.col(id_col).alias("b_id")
    )
    reps = lab.filter(F.col(id_col) == F.col("__keeper")).select(
        id_col, vec_col, "__vq"
    )

    # the signature table is needed on BOTH sides of the self-join —
    # materialize it once (id + tbl + sig + tier digest: n_tables rows per
    # vector, no embedding payload) instead of running the Arrow sig stage
    # twice; at 100 TB this is the index table a production build would
    # persist to storage anyway (SCALE.md: LSH index tables materialized)
    sigs = (
        _with_sigs(
            reps,
            "a",
            id_col,
            vec_col,
            n_planes,
            n_tables,
            dim,
            carry_cols=("__vq",),
        )
        .drop("a_emb")
        .localCheckpoint(eager=True)
    )
    from .dedup import tier_cap

    hx = F.conv(F.substring(F.col("__vq"), 1, 8), 16, 10).cast("long")
    capped = tier_cap(sigs, ["tbl", "sig"], hx, bucket_cap, "a_id").select(
        "a_id", "tbl", "sig", "__tier"
    )
    # capped buckets hold <= bucket_cap ids, so the within-bucket pairs
    # come from ONE grouped sorted collect + local array expansion
    # instead of a bucket-keyed self-join (r18 — the same rewrite the
    # minhash/simhash paths got in r17, guide §2.4/§7.2): the self-join
    # paid two exchanges of the signature table and a join where one
    # grouping exchange does; sort_array gives a_id < b_id, and the
    # nested transform enumerates exactly the i < j pairs the join
    # produced. collect_list is bounded by bucket_cap (the hot-bucket
    # guard), so no task holds more than bucket_cap ids per bucket.
    ids = capped.groupBy("tbl", "sig", "__tier").agg(
        F.sort_array(F.collect_list("a_id")).alias("ids")
    )
    pairs = (
        ids.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> transform("
                    "slice(ids, i + 2, size(ids)),"
                    " b -> named_struct('a_id', a, 'b_id', b))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id")
        .distinct()
        .unionByName(chains)
    )
    ea = corpus.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_emb"))
    eb = corpus.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_emb"))
    return (
        pairs.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            portable_round(
                cosine_col(F.col("a_emb"), F.col("b_emb")), 4
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
