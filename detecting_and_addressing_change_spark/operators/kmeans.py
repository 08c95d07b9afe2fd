"""Distributed Lloyd's k-means for the IVF coarse quantizer.

The reference has no clustering operator; this is the LLM-pipeline
extension the IVF family (operators/similarity.py ivf_topk, x15/x45) was
designed to plug into: its deterministic "first-k vectors" centroids are a
stand-in whose recall degrades on real data, while a Lloyd's fit places
cells where the density is (VERDICT r4 task #6).

Spark-first shape — every step is a DataFrame op with a driver-small state:

- **assign**: centroids are a k x dim literal broadcast into an argmin
  expression (struct-min over exact int64 squared distances); a narrow map,
  no shuffle.
- **update**: ``groupBy(cell)`` with per-dimension SUM + COUNT — map-side
  combinable, so the shuffle moves k*(dim+1) longs per partition regardless
  of corpus size. One shuffle per iteration, k rows collected per iteration.

At 100 TB this is the textbook scalable k-means loop: the corpus is
scanned n_iter(+1) times, centroid state is O(k*dim) on the driver, and no
stage's shuffle volume depends on row count.

Determinism (what makes it oracle-checkable): vectors are quantized to
int64 fixed-point (round(v*1000), the similarity-family convention), so
squared distances are EXACT integers and the per-cell sums are
order-independent — the fit is bit-reproducible under any partitioning,
and the DuckDB oracle replays the identical iterations in SQL. Centroid
update rounds back to the int grid: qc[d] = floor(sum[d]/n + 0.5) in
IEEE double (exact: the int sums are < 2^53). Ties in argmin go to the
lowest centroid id. Empty cells keep their previous centroid.

Seeding: the first k vectors by id — deterministic and cheap; at scale the
same fit runs on a sample first (centroids are scale-free) and the full
corpus only pays assignment passes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_col
from ..functions.rounding import portable_round
from .similarity import QUANT_SCALE, quantize_col


def _sqdist_sql(qc: list[int], qv_sql: str) -> str:
    """Exact int64 squared distance between a literal quantized centroid
    and a quantized vector expression, as SQL text.

    The whole argmin expression is built as ONE string and parsed by the
    JVM in one call: constructing it as a py4j Column graph
    (F.array(*[F.lit(c) ...]) + per-centroid lambdas) costs hundreds of
    driver round-trips, which at k=8 x dim=64 made assign-expression
    CONSTRUCTION (~0.9 s of driver-side Python) the dominant cost of
    every Lloyd's iteration. (x-c)*(x-c), NOT power(): POW lowers to
    double and would forfeit the exact-int64 determinism the oracle
    relies on."""
    arr = "array(" + ",".join(f"{int(c)}L" for c in qc) + ")"
    return (
        f"aggregate(zip_with({arr}, {qv_sql}, (c, x) -> (x - c) * (x - c)),"
        f" 0L, (acc, x) -> acc + x)"
    )


def _cells_sql(
    centroids: list[tuple[int, list[int]]], qv_sql: str
) -> str:
    structs = ",".join(
        f"named_struct('d', {_sqdist_sql(qc, qv_sql)}, 'cid', {int(cid)})"
        for cid, qc in centroids
    )
    return f"array({structs})"


# Route threshold between the two physically-different assign forms
# (BENCH_NOTES "Round-13: k-means assign route crossover"):
#
# - UNROLLED (k < threshold): k separate `named_struct('d', <sqdist>,
#   'cid', i)` expression TERMS. Analysis/codegen cost grows with k —
#   at k≈256 Catalyst analysis alone takes seconds per query, and
#   Lloyd's pays it once per iteration.
# - TABLE (k >= threshold): the centroid table rides as ONE constant
#   `array<struct<cid,qc>>` literal — broadcast DATA, not unrolled code
#   — and the argmin is a single transform/array_min over it, so the
#   expression tree is O(1) regardless of k.
#
# Both compute the identical exact int64 squared distance and the
# identical (distance, cid) struct-min tie-break; parity is pinned in
# tests/test_kmeans.py. A broadcast-JOIN assign (crossJoin against a
# centroid DataFrame + min_by groupBy) was considered and rejected: it
# re-shuffles the whole corpus by row id for an argmin the row can
# compute locally — the table literal keeps assign a ZERO-shuffle
# narrow map at any k, which is the property that matters at 100 TB.
ASSIGN_TABLE_ROUTE_K = 64


def _cents_table_sql(centroids: list[tuple[int, list[int]]]) -> str:
    """The centroid table as ONE array<struct<cid,qc>> constant."""
    entries = ",".join(
        "named_struct('cid', {}, 'qc', array({}))".format(
            int(cid), ",".join(f"{int(c)}L" for c in qc)
        )
        for cid, qc in centroids
    )
    return f"array({entries})"


def _cells_table_sql(
    centroids: list[tuple[int, list[int]]], qv_sql: str
) -> str:
    """Same (d, cid) struct array as :func:`_cells_sql`, built by ONE
    transform over the constant centroid table instead of k unrolled
    terms — exact int64 math, identical tie-break ordering."""
    return (
        f"transform({_cents_table_sql(centroids)}, c -> named_struct("
        f"'d', aggregate(zip_with(c.qc, {qv_sql},"
        f" (cc, x) -> (x - cc) * (x - cc)), 0L, (acc, x) -> acc + x),"
        f" 'cid', c.cid))"
    )


def kmeans_assign_col(
    centroids: list[tuple[int, list[int]]], qv: str
) -> Column:
    """Argmin cell id over the broadcast quantized centroids: struct-min
    on (distance, centroid_id) — lowest distance wins, ties to lowest id.

    ``qv``: the quantized-vector column NAME; the whole expression is one
    parsed SQL string. Auto-routes between the unrolled and table forms
    on k (VERDICT r12 #3; see ASSIGN_TABLE_ROUTE_K above). x58's DuckDB
    oracle replays the same argmin; tests/test_kmeans.py pins both routes
    against a Python (distance, cid) argmin."""
    if len(centroids) >= ASSIGN_TABLE_ROUTE_K:
        return F.expr(
            f"array_min({_cells_table_sql(centroids, qv)})['cid']"
        ).cast("int")
    return F.expr(
        f"array_min({_cells_sql(centroids, qv)})['cid']"
    ).cast("int")


def kmeans_probe_cells_col(
    centroids: list[tuple[int, list[int]]], qv: str, nprobe: int
) -> Column:
    """The nprobe nearest cell ids (distance asc, ties to lowest id) —
    the multi-probe recall knob, same tie rule as assignment. Auto-routes
    on k like :func:`kmeans_assign_col`."""
    cells = (
        _cells_table_sql(centroids, qv)
        if len(centroids) >= ASSIGN_TABLE_ROUTE_K
        else _cells_sql(centroids, qv)
    )
    return F.expr(
        f"transform(slice(array_sort({cells}),"
        f" 1, {int(nprobe)}), s -> cast(s.cid as int))"
    )


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """Lloyd's iterations; returns [(centroid_id, quantized_vector)].

    n_iter assign+update rounds, each ONE map-side-combinable shuffle of
    k*(dim+1) partial sums; the seed is the first n_centroids vectors by
    id. Bit-deterministic (see module docstring); the numpy twin in
    tests/test_kmeans.py pins every iteration."""
    # seed = the n_centroids SMALLEST ids (not `id < n_centroids`, which
    # silently under-seeds any corpus whose ids are not contiguous from 0
    # — e.g. a curated subset or retrieval's composite chunk ids); cell
    # ids are the DENSE ranks 0..k-1 of those seeds, never the raw vector
    # ids (raw composite ids can exceed int32 — the cell column's type —
    # and must not leak into cell space). For 0-based contiguous ids the
    # dense ranks equal the raw ids, so the x58 oracle's `vec_id < k`
    # replay still matches.
    seed_rows = sorted(
        (int(r[0]), r[1])
        for r in corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        raise ValueError("kmeans_fit: empty corpus")
    dim = len(seed_rows[0][1])
    seed_rows = [(i, vec) for i, (_, vec) in enumerate(seed_rows)]
    centroids = [
        (
            cid,
            [
                int(math.floor(float(v) * QUANT_SCALE + 0.5))
                for v in vec
            ],
        )
        for cid, vec in seed_rows
    ]

    qv = quantize_col(F.col(vec_col))
    quant = corpus.select(qv.alias("qv"))

    for _ in range(n_iter):
        assigned = quant.select(
            kmeans_assign_col(centroids, "qv").alias("cell"), "qv"
        )
        # per-(cell, dim) sums via posexplode: ONE map-side-combinable
        # shuffle of k*dim groups, and — unlike k*dim unrolled sum
        # columns — an O(1)-size expression tree, so Catalyst analysis
        # does not grow with the embedding dimension (the unrolled form
        # cost ~1.5 s of compile PER ITERATION at dim=64)
        sums = (
            assigned.select("cell", F.posexplode("qv").alias("d", "v"))
            .groupBy("cell", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        n_by_cell: dict[int, int] = {}
        for r in sums:
            by_cell.setdefault(int(r["cell"]), {})[int(r["d"])] = int(r["s"])
            n_by_cell[int(r["cell"])] = int(r["n"])
        new_centroids = []
        for cid, old_qc in centroids:
            s = by_cell.get(cid)
            if s is None:  # empty cell: keep the previous centroid
                new_centroids.append((cid, old_qc))
                continue
            n = n_by_cell[cid]
            new_centroids.append(
                (
                    cid,
                    [
                        int(math.floor(s[d] / n + 0.5))
                        for d in range(dim)
                    ],
                )
            )
        centroids = new_centroids
    return centroids


def kmeans_cells(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit + final assignment: DataFrame[vec_id, cell] for every vector —
    the IVF index-build output (x58)."""
    centroids = kmeans_fit(corpus, n_centroids, n_iter, id_col, vec_col)
    return corpus.select(
        F.col(id_col), quantize_col(F.col(vec_col)).alias("__qv")
    ).select(
        F.col(id_col),
        kmeans_assign_col(centroids, "__qv").alias("cell"),
    )


def kmeans_ivf_topk(
    corpus: DataFrame,
    query_filter: Column,
    n_centroids: int = 8,
    n_iter: int = 3,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over FITTED centroids (vs ivf_topk's fixed first-k seed):
    assign every vector to its nearest cell, probe each query's nprobe
    nearest cells, exact-cosine rank inside the candidates.

    Same scale shape as similarity.ivf_topk: the cell join shuffles on
    ``cell``; candidate volume is linear in nprobe; queries broadcast."""
    centroids = kmeans_fit(corpus, n_centroids, n_iter, id_col, vec_col)
    qv = quantize_col(F.col(vec_col))
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), qv.alias("__qv")
    ).select(
        F.col(id_col),
        F.col(vec_col),
        kmeans_assign_col(centroids, "__qv").alias("cell"),
    )
    q_cells = (
        corpus.filter(query_filter)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_emb"),
            qv.alias("__qv"),
        )
        .select(
            "query_id",
            "q_emb",
            F.explode(
                kmeans_probe_cells_col(centroids, "__qv", nprobe)
            ).alias("cell"),
        )
    )
    cand = assigned.join(F.broadcast(q_cells), "cell").filter(
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
