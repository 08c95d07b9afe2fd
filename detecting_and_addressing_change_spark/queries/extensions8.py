"""Round-5 extension queries: k-means IVF (x58/x59).

The DuckDB oracles REPLAY the exact quantized Lloyd's iterations in SQL —
the loop is unrolled by ``_kmeans_ctes`` at module import, so the oracle is
a plain static string by the time the driver sees it. Determinism of the
fit (exact int64 distances/sums, IEEE-double centroid rounding, lowest-id
tie-breaks) is what makes an iterative clustering algorithm
hash-checkable across engines; see operators/kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

N_CENTROIDS = 8
N_ITER = 3


def _kmeans_ctes(
    n_centroids: int,
    n_iter: int,
    fit_where: str = "",
    exq_src: str | None = None,
    seed_by_rank: bool = False,
) -> str:
    """WITH-clause body replaying kmeans_fit: exq (quantized long format),
    c0 (seed = first k vectors), then per iteration distance/assign/update
    CTEs. Leaves ``c{n_iter}`` as the final centroids and defines
    ``dF``/``aF`` as the final-assignment pass.

    ``fit_where`` (e.g. ``"WHERE vec_id % 10 <> 9"``) restricts the FIT
    corpus only — the x94 persisted-index lifecycle shape, where centroids
    freeze on the base corpus and the final assignment (dF/aF) covers the
    full table including appended vectors.

    ``exq_src`` replaces the vector source: any SELECT yielding
    (vec_id, d, v) rows (1-based d, double v) — the x109 retrieval shape,
    where the corpus is chunk embeddings computed in-SQL rather than the
    embeddings table. ``seed_by_rank`` seeds c0 with the n_centroids
    SMALLEST vec_ids (dense cell ids 0..k-1), mirroring kmeans_fit's
    actual seeding for non-contiguous id spaces (composite chunk ids);
    the default ``vec_id < k`` text is equivalent for 0-based contiguous
    ids and keeps the historical single-corpus text byte-identical."""
    fit_src = "exq"
    inner_src = (
        exq_src
        if exq_src is not None
        else """SELECT vec_id, GENERATE_SUBSCRIPTS(emb, 1) AS d, UNNEST(emb) AS v
        FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"""
    )
    parts = [
        f"""exq AS (
      SELECT vec_id, d, CAST(FLOOR(v * 1000.0 + 0.5) AS BIGINT) AS qv
      FROM (
        {inner_src}
      )
    )""",
    ]
    if fit_where:
        fit_src = "exfit"
        parts.append(
            f"""exfit AS (
      SELECT * FROM exq {fit_where}
    )"""
        )
    if seed_by_rank:
        parts += [
            f"""seedids AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cent_id
        FROM (SELECT DISTINCT vec_id FROM {fit_src})
      ) WHERE cent_id < {n_centroids}
    )""",
            f"""c0 AS (
      SELECT s.cent_id, x.d, x.qv AS qc
      FROM seedids s JOIN {fit_src} x ON s.vec_id = x.vec_id
    )""",
        ]
    else:
        parts += [
            f"""c0 AS (
      SELECT vec_id AS cent_id, d, qv AS qc FROM {fit_src}
      WHERE vec_id < {n_centroids}
    )""",
        ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""d{i} AS (
      SELECT x.vec_id, c.cent_id,
             SUM((x.qv - c.qc) * (x.qv - c.qc)) AS dist
      FROM {fit_src} x JOIN c{i - 1} c ON x.d = c.d
      GROUP BY x.vec_id, c.cent_id
    )"""
        )
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS r
        FROM d{i}) t
      WHERE r = 1
    )"""
        )
        parts.append(
            f"""s{i} AS (
      SELECT a.cell, x.d, SUM(x.qv) AS s, COUNT(*) AS n
      FROM a{i} a JOIN {fit_src} x ON a.vec_id = x.vec_id
      GROUP BY a.cell, x.d
    )"""
        )
        parts.append(
            f"""c{i} AS (
      SELECT p.cent_id, p.d,
             COALESCE(
               CAST(FLOOR(CAST(s.s AS DOUBLE) / s.n + 0.5) AS BIGINT),
               p.qc) AS qc
      FROM c{i - 1} p
      LEFT JOIN s{i} s ON s.cell = p.cent_id AND s.d = p.d
    )"""
        )
    parts.append(
        f"""dF AS (
      SELECT x.vec_id, c.cent_id,
             SUM((x.qv - c.qc) * (x.qv - c.qc)) AS dist
      FROM exq x JOIN c{n_iter} c ON x.d = c.d
      GROUP BY x.vec_id, c.cent_id
    )"""
    )
    parts.append(
        """aF AS (
      SELECT vec_id, cell, dist FROM (
        SELECT vec_id, cent_id AS cell, dist,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS r
        FROM dF) t
      WHERE r = 1
    )"""
    )
    return ",\n    ".join(parts)


_X58_ORACLE = f"""
    WITH {_kmeans_ctes(N_CENTROIDS, N_ITER)}
    SELECT vec_id, CAST(cell AS INT) AS cell FROM aF
"""


@query("x58_kmeans_cells", oracle=_X58_ORACLE)
def x58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means index build over the embeddings corpus: the
    IVF coarse-quantizer fit (3 iterations, 8 cells, seeded on the first
    8 vectors) plus the final cell assignment for every vector."""
    from ..operators.kmeans import kmeans_cells

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_cells(emb, n_centroids=N_CENTROIDS, n_iter=N_ITER)


def _ivf_ranked_ctes(first_query: int, fit_where: str = "") -> str:
    """The k-means fit replay, then queries ``first_query`` to
    ``first_query + 9`` probe their 2 nearest cells and exact cosine
    ranks the members, ending at ``ranked(query_id, cand_id, cos_raw,
    rnk)``. ``fit_where`` is passed to :func:`_kmeans_ctes`."""
    last_query = first_query + 9
    return f"""
    WITH {_kmeans_ctes(N_CENTROIDS, N_ITER, fit_where=fit_where)},
    q AS (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS r
        FROM dF WHERE vec_id BETWEEN {first_query} AND {last_query}) t
      WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT q.query_id, a.vec_id AS cand_id
      FROM q JOIN aF a ON q.cell = a.cell AND a.vec_id <> q.query_id
    ),
    ex AS (
      SELECT vec_id, GENERATE_SUBSCRIPTS(emb, 1) AS d, UNNEST(emb) AS v
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (
      SELECT cand.query_id, cand.cand_id, SUM(a.v * b.v) AS dot
      FROM cand
      JOIN ex a ON a.vec_id = cand.query_id
      JOIN ex b ON b.vec_id = cand.cand_id AND a.d = b.d
      GROUP BY cand.query_id, cand.cand_id
    ),
    scored AS (
      SELECT query_id, cand_id, dot / (nq.nrm * nc.nrm) AS cos_raw
      FROM dots
      JOIN norms nq ON query_id = nq.vec_id
      JOIN norms nc ON cand_id = nc.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rnk
      FROM scored
    )"""


# the top-3 neighbours per query, as x59 and x94 return them
_IVF_TOP3 = """
    SELECT query_id, cand_id,
           FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
"""

_X59_ORACLE = _ivf_ranked_ctes(100) + _IVF_TOP3


@query("x59_kmeans_ivf_topk", oracle=_X59_ORACLE)
def x59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN over the FITTED k-means cells: queries
    100-109 probe their 2 nearest cells, exact cosine ranks the members
    (k=3) — the scale path whose recall the fitted centroids improve over
    x15's fixed first-k seed (measured in tests/test_kmeans.py)."""
    from ..operators.kmeans import kmeans_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_ivf_topk(
        emb,
        (F.col("vec_id") >= 100) & (F.col("vec_id") <= 109),
        n_centroids=N_CENTROIDS,
        n_iter=N_ITER,
        k=3,
        nprobe=2,
    )
