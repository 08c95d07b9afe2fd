"""Persisted IVF index: fit once, write, probe many times.

The in-memory IVF family (``similarity.ivf_topk``, ``kmeans_ivf_topk``)
re-derives centroids and assignments inside every query — right for a
one-shot experiment, wrong for a serving/index workload where the same
100 TB corpus answers many query batches. This operator materializes the
index the way a Spark-native vector store would:

- ``centroids/``: k rows of (cell, quantized centroid) — the coarse
  quantizer, driver-small by construction, collected at load time.
- ``postings/``: the corpus PARTITIONED BY cell on disk, so a probe of
  nprobe cells is a partition-PRUNED scan that reads nprobe/k of the
  corpus (the plan test pins the PartitionFilters), not a full pass.

Search collects the probe-cell set first (bounded by n_centroids — a
handful of ints, not data) and pushes it into the postings scan as a
static ``IN`` partition filter; candidates then join the broadcast query
batch per cell, exactly the ``kmeans_ivf_topk`` scoring shape. Search
results are bit-identical to the in-memory operator on the same fitted
centroids (parity-tested in tests/test_ivf_index.py).

At 100 TB: the index build is the k-means fit (O(n_iter) scans, see
operators/kmeans.py) plus ONE partitioned write; each cell's postings
file set is append-compactable (sinks/parquet.compact) and the searcher
never touches cells it does not probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_col
from ..functions.rounding import portable_round
from ..sources.tables import local_table, read_parquet_cached_schema
from .index_commit import recover_all_partition_swaps, swap_partition
from .kmeans import kmeans_assign_col, kmeans_fit, kmeans_probe_cells_col
from .similarity import quantize_col


def _recover_postings(path: str) -> None:
    """Heal any partition stranded by a crashed mutation — WHICHEVER
    operation's staging dir holds it (ADVICE r8: per-operation recovery
    let a crash mid-compact truncate the index for every other caller
    until the next compact). Runs at the start of every postings
    mutation AND before the read paths (search/stats), so the first
    touch after a crash serves the complete index."""
    recover_all_partition_swaps(f"{path}/postings", staging_parent=path)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """Fit the coarse quantizer and materialize the index at ``path``.

    Returns the fitted centroids (also persisted) so a caller that builds
    and immediately searches skips the centroid read."""
    centroids = kmeans_fit(corpus, n_centroids, n_iter, id_col, vec_col)
    spark = corpus.sparkSession
    local_table(
        spark, centroids, "cell int, qc array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            quantize_col(F.col(vec_col)).alias("__qv"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            kmeans_assign_col(centroids, "__qv").alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/postings")
    )
    return centroids


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> None:
    """Incremental index update: assign NEW vectors against the FROZEN
    coarse quantizer and append their postings — the standard IVF
    lifecycle (centroids refit rarely, postings grow continuously).
    Appending writes only the touched cell partitions; a search after
    append sees old + new candidates identically to a from-scratch build
    with the same centroids (parity-tested). Re-fit + rebuild when the
    corpus distribution has drifted enough that cell occupancy skews —
    which is exactly what the x50/x64 drift monitors watch for."""
    _recover_postings(path)
    if centroids is None:
        centroids = load_ivf_centroids(new_vectors.sparkSession, path)
    (
        new_vectors.select(
            F.col(id_col),
            F.col(vec_col),
            quantize_col(F.col(vec_col)).alias("__qv"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            kmeans_assign_col(centroids, "__qv").alias("cell"),
        )
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/postings")
    )


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    max_files_per_cell: int = 1,
    id_col: str = "vec_id",
) -> int:
    """Small-file maintenance after incremental appends: each cell whose
    posting-file count exceeds ``max_files_per_cell`` is rewritten
    consolidated (coalesce — no shuffle; sorted by id for zone-map
    locality) and swapped in via the shared surgical-partition protocol
    (``index_commit.swap_partition`` — same crash-safety as deletion:
    every cell is old or new, both complete, at every instant; an
    interrupted run resumes via the recovery pass). Cells already compact
    are never read or written. Returns the number of cells rewritten.

    This is the ``sinks/parquet.compact`` idea applied per-partition with
    commit fencing — the maintenance pass a continuously-appended 100 TB
    index needs so probe-side task counts stay ~max_files_per_cell per
    probed cell instead of growing with append history."""
    import os
    import shutil

    live_root = f"{path}/postings"
    staging = f"{path}/.staging_compact"
    _recover_postings(path)
    rewritten = 0
    for entry in sorted(os.listdir(live_root)):
        if not entry.startswith("cell="):
            continue
        cell_dir = os.path.join(live_root, entry)
        n_files = sum(
            1 for f in os.listdir(cell_dir) if f.endswith(".parquet")
        )
        if n_files <= max_files_per_cell:
            continue
        (
            spark.read.parquet(cell_dir)
            .coalesce(max_files_per_cell)
            .sortWithinPartitions(id_col)
            .write.mode("overwrite")
            .parquet(os.path.join(staging, entry))
        )
        swap_partition(live_root, staging, entry)
        rewritten += 1
    shutil.rmtree(staging, ignore_errors=True)
    return rewritten


def ivf_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame[cell, n_vectors]: per-cell occupancy of a persisted
    index — the monitoring input for the refit decision (see
    ``ivf_refit_needed``). One column-pruned aggregate over the postings;
    never touches vectors. Opens with the shared recovery sweep so stats
    after a crashed mutation count the complete index (ADVICE r8)."""
    _recover_postings(path)
    return (
        read_parquet_cached_schema(spark, f"{path}/postings")
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def ivf_refit_needed(
    spark: SparkSession, path: str, skew_threshold: float = 4.0
) -> tuple[bool, dict]:
    """The refit decision the append docstring defers to monitoring, made
    concrete: occupancy skew = max cell size / mean cell size (mean over
    ALL k centroids, so emptied cells raise it). Above
    ``skew_threshold``, the frozen quantizer no longer matches the data
    distribution — probes of hot cells scan far more than nprobe/k of
    the corpus — and a refit+rebuild pays for itself. Driver-side cost:
    one k-row aggregate. Returns (verdict, stats)."""
    rows = ivf_cell_stats(spark, path).collect()
    k = len(load_ivf_centroids(spark, path))
    total = sum(int(r["n_vectors"]) for r in rows)
    mx = max((int(r["n_vectors"]) for r in rows), default=0)
    # exact integer comparison: mx/(total/k) > thr  <=>  mx*k > thr*total
    verdict = total > 0 and mx * k > skew_threshold * total
    return verdict, {
        "k": k,
        "total": total,
        "max_cell": mx,
        "skew": (mx * k / total) if total else 0.0,
    }


def load_ivf_centroids(
    spark: SparkSession, path: str
) -> list[tuple[int, list[int]]]:
    """The coarse quantizer back from disk — k rows, driver-small."""
    return sorted(
        (int(r["cell"]), [int(v) for v in r["qc"]])
        for r in read_parquet_cached_schema(spark, f"{path}/centroids").collect()
    )


def ivf_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[int]]] | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine search against a persisted index.

    ``queries``: DataFrame[query_id_col, vec_col]. The probe-cell set is
    collected first (<= n_centroids ints) and pushed into the postings
    read as a static partition filter, so the scan is pruned to the
    probed cells; candidates join the BROADCAST query batch per cell and
    rank by exact cosine (ties to lowest candidate id), the same scoring
    contract as ``kmeans_ivf_topk``. Opens with the shared recovery sweep
    so a search after a crashed mutation scans the complete index, not
    one missing a stranded cell (ADVICE r8)."""
    _recover_postings(path)
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    q_cells = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("q_emb"),
            quantize_col(F.col(vec_col)).alias("__qv"),
        )
        .select(
            query_id_col,
            "q_emb",
            F.explode(
                kmeans_probe_cells_col(centroids, "__qv", nprobe)
            ).alias("cell"),
        )
        # materialize once: the probe-cell collect below AND the broadcast
        # join both consume this frame, and the query side may carry an
        # expensive embed pipeline (search_text) that must not run twice
        .localCheckpoint(eager=True)
    )
    probed = sorted(
        {int(r["cell"]) for r in q_cells.select("cell").distinct().collect()}
    )
    postings = read_parquet_cached_schema(spark, f"{path}/postings").filter(
        F.col("cell").isin(probed)
    )
    cand = postings.join(F.broadcast(q_cells), "cell")
    if exclude_self:
        # corpus-internal queries: a vector is not its own neighbour.
        # Pass exclude_self=False when query ids live in a different id
        # space than the postings (e.g. text queries against a chunk
        # index), where an id collision would silently drop a candidate.
        cand = cand.filter(F.col(id_col) != F.col(query_id_col))
    scored = cand.select(
        query_id_col,
        F.col(id_col).alias("cand_id"),
        cosine_col(F.col("q_emb"), F.col(vec_col)).alias("cos_raw"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_raw"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col,
            "cand_id",
            portable_round(F.col("cos_raw"), 4).alias("cosine"),
            "rnk",
        )
    )


def delete_from_ivf_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from a persisted index — the takedown/opt-out step,
    mirroring ``minhash_index.delete_from_minhash_index``. The postings
    layout is partitioned by cell, so deletion is SURGICAL: only cells
    that actually contain a deleted id are rewritten (the touched-cell
    set is <= n_centroids, collected as a handful of ints); untouched
    cells' files are never read or written. The frozen coarse quantizer
    is untouched — deletion never refits (refit on drift is a separate,
    monitored decision, see ``append_to_ivf_index``).

    Each touched cell is replaced independently: its surviving rows are
    FULLY written to a hidden ``.staging_del`` dir (invisible to Spark's
    partition discovery), then swapped in by rename; a fully-emptied
    cell's directory is removed. A crash mid-sequence leaves every cell
    either old or new — both complete, never corrupt — and re-running
    the same delete finishes the job: the shared recovery pass
    (``_recover_postings`` → ``index_commit.recover_all_partition_swaps``,
    ADVICE r7/r8 — the previous start-of-run ``rmtree(staging)``
    destroyed both copies of a cell caught between its two renames, and
    per-operation recovery scope left a crashed compact's cell invisible
    to delete) promotes or restores any stranded cell — from ANY
    operation's staging dir — before the touched-cell set is computed,
    and the anti-join is idempotent."""
    import shutil

    _recover_postings(path)
    del_ids = ids.select(F.col(id_col).alias("__del_id")).distinct()
    posts = read_parquet_cached_schema(spark, f"{path}/postings")
    touched = sorted(
        int(r["cell"])
        for r in posts.join(
            F.broadcast(del_ids), posts[id_col] == F.col("__del_id"), "semi"
        )
        .select("cell")
        .distinct()
        .collect()
    )
    staging = f"{path}/.staging_del"
    live_root = f"{path}/postings"
    for cell in touched:
        kept = (
            spark.read.parquet(f"{live_root}/cell={cell}")
            .join(
                F.broadcast(del_ids),
                F.col(id_col) == F.col("__del_id"),
                "left_anti",
            )
        )
        kept_path = f"{staging}/cell={cell}"
        kept.write.mode("overwrite").parquet(kept_path)
        n_kept = spark.read.parquet(kept_path).limit(1).count()
        swap_partition(live_root, staging, f"cell={cell}", keep=bool(n_kept))
    shutil.rmtree(staging, ignore_errors=True)
