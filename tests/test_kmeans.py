"""Lloyd's k-means quantizer (operators/kmeans.py, x58/x59).

- numpy twin pins every iteration of the distributed fit bit-for-bit
- recall: fitted centroids must not lose to the fixed first-k seed
  against the exact brute-force baseline (VERDICT r4 task #6)
- empty cells keep their previous centroid
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.kmeans import (
    kmeans_cells,
    kmeans_fit,
    kmeans_ivf_topk,
)

SF = "/root/testdata/sf0.001"


def numpy_kmeans(vecs: dict[int, list[float]], k: int, n_iter: int):
    """Driver-free twin of kmeans_fit: same quantization, exact int
    distances, same floor(s/n + 0.5) update, same tie rules."""
    q = {
        i: np.array(
            [math.floor(float(v) * 1000 + 0.5) for v in vec], dtype=np.int64
        )
        for i, vec in vecs.items()
    }
    cents = {cid: q[cid].copy() for cid in sorted(q) if cid < k}

    def assign(qv):
        dists = sorted(
            (int(((qv - c) ** 2).sum()), cid) for cid, c in cents.items()
        )
        return dists[0][1]

    for _ in range(n_iter):
        members: dict[int, list[np.ndarray]] = {}
        for i, qv in q.items():
            members.setdefault(assign(qv), []).append(qv)
        for cid in cents:
            if cid in members:
                s = np.sum(members[cid], axis=0, dtype=np.int64)
                n = len(members[cid])
                cents[cid] = np.array(
                    [math.floor(int(x) / n + 0.5) for x in s], dtype=np.int64
                )
    return cents, assign


@pytest.fixture(scope="module")
def emb_rows(spark):
    from detecting_and_addressing_change_spark.sources.tables import load_table

    return {
        int(r["vec_id"]): list(r["embedding"])
        for r in load_table(spark, SF, "embeddings").collect()
    }


def test_fit_matches_numpy_twin(spark, emb_rows):
    from detecting_and_addressing_change_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    got = dict(kmeans_fit(emb, n_centroids=8, n_iter=3))
    want, _ = numpy_kmeans(emb_rows, k=8, n_iter=3)
    assert set(got) == set(want)
    for cid in want:
        assert got[cid] == [int(x) for x in want[cid]], f"centroid {cid}"


def test_cells_match_numpy_assignment(spark, emb_rows):
    from detecting_and_addressing_change_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    got = {
        int(r["vec_id"]): int(r["cell"])
        for r in kmeans_cells(emb, n_centroids=8, n_iter=3).collect()
    }
    _, assign = numpy_kmeans(emb_rows, k=8, n_iter=3)
    q = {
        i: np.array(
            [math.floor(float(v) * 1000 + 0.5) for v in vec], dtype=np.int64
        )
        for i, vec in emb_rows.items()
    }
    for i, qv in q.items():
        assert got[i] == assign(qv), f"vec {i}"


def test_kmeans_recall_beats_fixed_seed(spark):
    """Fitted cells >= fixed first-k cells on recall@3 vs the exact
    baseline (both deterministic, so the comparison is stable)."""
    from detecting_and_addressing_change_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from detecting_and_addressing_change_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    qf = (F.col("vec_id") >= 100) & (F.col("vec_id") <= 109)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in brute_force_topk(emb, emb.filter(qf), k=3).collect()
    }
    fixed = {
        (r["query_id"], r["cand_id"])
        for r in ivf_topk(emb, qf, n_centroids=8, k=3, nprobe=2).collect()
    }
    km = {
        (r["query_id"], r["cand_id"])
        for r in kmeans_ivf_topk(
            emb, qf, n_centroids=8, n_iter=3, k=3, nprobe=2
        ).collect()
    }
    recall_fixed = len(fixed & exact) / len(exact)
    recall_km = len(km & exact) / len(exact)
    assert recall_km >= recall_fixed  # measured: 0.50 vs 0.40 at sf0.001
    assert recall_km >= 0.3


def test_empty_cell_keeps_previous_centroid(spark):
    """Seeds 0 and 1 are identical vectors: every point prefers cell 0
    (tie to lowest id), so cell 1 goes empty and must carry its seed
    centroid through every iteration."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [1.0, 0.1]),
        (3, [0.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = dict(kmeans_fit(df, n_centroids=2, n_iter=2))
    assert cents[1] == [1000, 0]  # the untouched quantized seed
    # ...and the kept centroid is reusable: once centroid 0 drifts to the
    # cluster mean, the exact-match points fall back into cell 1
    cells = {
        int(r["vec_id"]): int(r["cell"])
        for r in kmeans_cells(df, n_centroids=2, n_iter=2).collect()
    }
    assert cells == {0: 1, 1: 1, 2: 0, 3: 0}


def test_assign_table_route_parity(spark, emb_rows, monkeypatch):
    """VERDICT r12 #3: the O(1)-expression table route (constant
    centroid-table array + one transform) must equal the unrolled
    literal route — same exact int64 distances, same (d, cid) tie-break
    — for both assignment and probe-cell selection."""
    import detecting_and_addressing_change_spark.operators.kmeans as km
    from detecting_and_addressing_change_spark.operators.similarity import (
        quantize_col,
    )
    from detecting_and_addressing_change_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    quant = emb.select(
        "vec_id", quantize_col(F.col("embedding")).alias("qv")
    ).localCheckpoint(eager=True)

    for k in (3, 8):
        centroids = km.kmeans_fit(emb, n_centroids=k, n_iter=2)

        def collect_routes(threshold):
            monkeypatch.setattr(km, "ASSIGN_TABLE_ROUTE_K", threshold)
            rows = quant.select(
                "vec_id",
                km.kmeans_assign_col(centroids, "qv").alias("cell"),
                km.kmeans_probe_cells_col(centroids, "qv", 2).alias("probe"),
            ).collect()
            return {
                int(r["vec_id"]): (int(r["cell"]), list(r["probe"]))
                for r in rows
            }

        unrolled = collect_routes(10**9)  # force the unrolled route
        table = collect_routes(0)  # force the table route
        assert unrolled == table, f"route divergence at k={k}"
        # and both agree with a pure-Python (distance, cid) argmin over
        # the collected quantized vectors
        cents = [(cid, np.array(qc, dtype=np.int64)) for cid, qc in centroids]
        want = {
            int(r["vec_id"]): min(
                (int(((np.array(r["qv"]) - c) ** 2).sum()), cid)
                for cid, c in cents
            )[1]
            for r in quant.collect()
        }
        assert {i: c for i, (c, _) in unrolled.items()} == want


def test_assign_table_route_tie_break(spark, monkeypatch):
    """Duplicate centroids: equal distances must resolve to the LOWEST
    cid on both routes (assignment and probe order)."""
    import detecting_and_addressing_change_spark.operators.kmeans as km

    dup = [500, -250]
    centroids = [(0, list(dup)), (1, list(dup)), (2, [900, 900])]
    df = spark.createDataFrame(
        [(0, [500, -250]), (1, [900, 900])], "vec_id long, qv array<long>"
    )
    for threshold in (10**9, 0):
        monkeypatch.setattr(km, "ASSIGN_TABLE_ROUTE_K", threshold)
        rows = df.select(
            "vec_id",
            km.kmeans_assign_col(centroids, "qv").alias("cell"),
            km.kmeans_probe_cells_col(centroids, "qv", 2).alias("probe"),
        ).collect()
        got = {
            int(r["vec_id"]): (int(r["cell"]), list(r["probe"]))
            for r in rows
        }
        assert got[0] == (0, [0, 1])  # exact tie -> lowest cid first
        assert got[1] == (2, [2, 0])
