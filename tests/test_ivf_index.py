"""Persisted IVF index (operators/ivf_index.py): build/load round-trip,
search parity with the in-memory operator, and the partition-pruned
postings scan that is the point of materializing the index."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.ivf_index import (
    build_ivf_index,
    ivf_index_search,
    load_ivf_centroids,
)
from detecting_and_addressing_change_spark.operators.kmeans import (
    kmeans_ivf_topk,
)
from detecting_and_addressing_change_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_centroid_roundtrip(spark):
    emb = load_table(spark, SF, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        built = build_ivf_index(emb, f"{tmp}/idx")
        assert load_ivf_centroids(spark, f"{tmp}/idx") == sorted(built)


def test_search_matches_in_memory_operator(spark):
    """Index search == kmeans_ivf_topk row-for-row on the same corpus,
    same fit parameters, same query batch."""
    emb = load_table(spark, SF, "embeddings")
    qf = F.col("vec_id") < 5
    expected = sorted(
        map(
            tuple,
            kmeans_ivf_topk(emb, qf, k=3, nprobe=2).collect(),
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        build_ivf_index(emb, f"{tmp}/idx")
        queries = emb.filter(qf).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = sorted(
            map(
                tuple,
                ivf_index_search(
                    spark, f"{tmp}/idx", queries, k=3, nprobe=2
                ).collect(),
            )
        )
    assert got == expected


def test_postings_scan_partition_pruned(spark):
    """The probe must reach the postings read as a PartitionFilter on
    cell — reading nprobe/k of the corpus is the reason the index
    exists; a full scan here would make materialization pointless."""
    from detecting_and_addressing_change_spark.plans import explain_str

    emb = load_table(spark, SF, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        build_ivf_index(emb, f"{tmp}/idx")
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        s = explain_str(
            ivf_index_search(spark, f"{tmp}/idx", queries, k=3, nprobe=2)
        )
        pf = s.split("PartitionFilters")[1][:200]
        assert "cell" in pf


def test_append_matches_full_build(spark):
    """Build on half the corpus, append the other half against the frozen
    centroids: search results equal a from-scratch postings build with
    the SAME centroids — the incremental path loses nothing."""
    from detecting_and_addressing_change_spark.operators.ivf_index import (
        append_to_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with tempfile.TemporaryDirectory() as tmp:
        cents = build_ivf_index(first, f"{tmp}/inc")
        append_to_ivf_index(rest, f"{tmp}/inc")
        got = sorted(
            map(
                tuple,
                ivf_index_search(
                    spark, f"{tmp}/inc", queries, k=3, nprobe=2
                ).collect(),
            )
        )
        # from-scratch postings over the FULL corpus with the same
        # (half-fit) centroids: overwrite the postings dir only
        build_full = emb.select(
            "vec_id",
            "embedding",
        )
        from detecting_and_addressing_change_spark.operators.kmeans import (
            kmeans_assign_col,
        )
        from detecting_and_addressing_change_spark.operators.similarity import (
            quantize_col,
        )

        (
            build_full.select(
                "vec_id",
                "embedding",
                quantize_col(F.col("embedding")).alias("__qv"),
            )
            .select(
                "vec_id",
                "embedding",
                kmeans_assign_col(cents, "__qv").alias("cell"),
            )
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{tmp}/inc/postings")
        )
        expected = sorted(
            map(
                tuple,
                ivf_index_search(
                    spark, f"{tmp}/inc", queries, k=3, nprobe=2,
                    centroids=cents,
                ).collect(),
            )
        )
    assert got == expected


def test_delete_is_surgical_and_equals_rebuild(spark, tmp_path):
    """Takedown: delete ids (including one whole cell) -> search equals an
    index rebuilt from the survivors under the SAME frozen centroids;
    untouched cell files keep their inodes (surgical rewrite proof)."""
    import os
    import shutil

    import numpy as np

    from detecting_and_addressing_change_spark.operators.ivf_index import (
        append_to_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        ivf_index_search,
        load_ivf_centroids,
    )

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "vidx")
    cents = build_ivf_index(corpus, path, n_centroids=4, n_iter=2)

    # choose one whole cell to wipe + a few ids elsewhere
    posts = spark.read.parquet(f"{path}/postings")
    by_cell = {
        int(r["cell"]): int(r["n"])
        for r in posts.groupBy("cell").count().withColumnRenamed("count", "n").collect()
    }
    wipe_cell = min(by_cell, key=by_cell.get)
    wiped_ids = [
        int(r["vec_id"])
        for r in posts.filter(F.col("cell") == wipe_cell).collect()
    ]
    gone = set(wiped_ids) | {0, 1, 2}
    untouched_cells = [
        c for c in by_cell
        if c != wipe_cell
        and not posts.filter(
            (F.col("cell") == c) & F.col("vec_id").isin([0, 1, 2])
        ).count()
    ]
    inode_before = {
        c: sorted(os.listdir(f"{path}/postings/cell={c}"))
        for c in untouched_cells
    }
    mtime_before = {
        c: os.stat(f"{path}/postings/cell={c}").st_mtime_ns
        for c in untouched_cells
    }

    del_df = spark.createDataFrame([(i,) for i in sorted(gone)], "vec_id long")
    delete_from_ivf_index(spark, path, del_df)

    assert not os.path.exists(f"{path}/postings/cell={wipe_cell}")
    for c in untouched_cells:
        assert sorted(os.listdir(f"{path}/postings/cell={c}")) == inode_before[c]
        assert os.stat(f"{path}/postings/cell={c}").st_mtime_ns == mtime_before[c]

    # rebuild reference index from survivors under the SAME centroids
    ref = str(tmp_path / "vidx_ref")
    os.makedirs(ref)
    shutil.copytree(f"{path}/centroids", f"{ref}/centroids")
    survivors = corpus.filter(~F.col("vec_id").isin(sorted(gone)))
    append_to_ivf_index(survivors, ref, centroids=cents)

    queries = corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_index_search(spark, path, queries, k=3, nprobe=2)
    want = ivf_index_search(spark, ref, queries, k=3, nprobe=2)
    as_set = lambda df: {
        (r["query_id"], r["cand_id"], r["rnk"]) for r in df.collect()
    }
    assert as_set(got) == as_set(want) and as_set(got)
    # no deleted id ever surfaces
    assert all(r["cand_id"] not in gone for r in got.collect())

    # idempotent: re-running the same delete is a no-op
    delete_from_ivf_index(spark, path, del_df)
    assert as_set(
        ivf_index_search(spark, path, queries, k=3, nprobe=2)
    ) == as_set(want)


def test_compaction_shrinks_files_and_preserves_results(spark, tmp_path):
    """After several appends a cell holds one file set per append;
    compact_ivf_index consolidates every over-limit cell via the shared
    crash-safe swap and search results are byte-identical."""
    import os

    from detecting_and_addressing_change_spark.operators.ivf_index import (
        append_to_ivf_index,
        compact_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    cents = build_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), path)
    for m in (1, 2):
        append_to_ivf_index(
            emb.filter(F.col("vec_id") % 3 == m), path, centroids=cents
        )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = sorted(
        map(tuple, ivf_index_search(spark, path, qs, k=3, nprobe=2).collect())
    )

    def max_files():
        root = f"{path}/postings"
        return max(
            sum(1 for f in os.listdir(f"{root}/{d}") if f.endswith(".parquet"))
            for d in os.listdir(root)
            if d.startswith("cell=")
        )

    assert max_files() > 1  # appends fragmented at least one cell
    n = compact_ivf_index(spark, path)
    assert n > 0
    assert max_files() == 1
    after = sorted(
        map(tuple, ivf_index_search(spark, path, qs, k=3, nprobe=2).collect())
    )
    assert after == before
    # idempotent: nothing left over the limit
    assert compact_ivf_index(spark, path) == 0


def test_compaction_recovers_stranded_cell(spark, tmp_path):
    """A crash between compaction's two renames leaves the cell only in
    staging; the next compact must recover it via the shared protocol
    before doing anything else."""
    import os
    import shutil

    from detecting_and_addressing_change_spark.operators.ivf_index import (
        compact_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path)
    root = f"{path}/postings"
    cell = sorted(d for d in os.listdir(root) if d.startswith("cell="))[0]
    n_before = spark.read.parquet(f"{root}/{cell}").count()
    staging = f"{path}/.staging_compact"
    shutil.copytree(f"{root}/{cell}", f"{staging}/{cell}")
    with open(f"{staging}/{cell}/_SUCCESS", "w"):
        pass
    os.rename(f"{root}/{cell}", f"{staging}/trash_{cell}")  # crash point
    compact_ivf_index(spark, path)
    assert spark.read.parquet(f"{root}/{cell}").count() == n_before
    assert not os.path.exists(staging)


def test_refit_verdict_fires_on_skew(spark, tmp_path):
    """ivf_refit_needed: False on the roughly-uniform fixture, True once
    appends concentrate mass into one cell."""
    from detecting_and_addressing_change_spark.operators.ivf_index import (
        append_to_ivf_index,
        ivf_refit_needed,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    cents = build_ivf_index(emb, path)
    ok, stats = ivf_refit_needed(spark, path, skew_threshold=4.0)
    assert not ok and stats["skew"] < 4.0
    # pile duplicates of one existing vector into its cell until that
    # cell holds over half the corpus (skew = max*k/total > 4 needs
    # max > total/2 at k=8)
    seed = emb.filter(F.col("vec_id") == 0)
    for m in range(4):
        clones = seed.crossJoin(spark.range(150)).select(
            (F.lit(10_000 + m * 1000) + F.col("id")).alias("vec_id"),
            "embedding",
        )
        append_to_ivf_index(clones, path, centroids=cents)
    ok2, stats2 = ivf_refit_needed(spark, path, skew_threshold=4.0)
    assert ok2 and stats2["skew"] > 4.0 > stats["skew"]


def test_x94_x95_share_one_lifecycle_fixture(spark):
    """The bench-budget contract (VERDICT r8 #3): within a session the
    x94/x95 pair builds its canonical lifecycle index ONCE — the second
    call returns the same path without a rebuild — and the fixture is
    keyed per sf_dir so different scales never alias."""
    from detecting_and_addressing_change_spark.queries.extensions12 import (
        _ivf_lifecycle_index,
    )
    from detecting_and_addressing_change_spark.queries.registry import (
        _SESSION_FIXTURES,
    )

    sf = "/root/testdata/sf0.001"
    for key in [k for k in _SESSION_FIXTURES if k[2] == "ivf_lifecycle"]:
        del _SESSION_FIXTURES[key]
    p1, c1 = _ivf_lifecycle_index(spark, sf)
    mtimes = {
        f: os.path.getmtime(os.path.join(f"{p1}/postings", f))
        for f in os.listdir(f"{p1}/postings")
    }
    p2, c2 = _ivf_lifecycle_index(spark, sf)
    assert p2 == p1 and c2 == c1
    # no partition was rewritten by the cache hit
    assert mtimes == {
        f: os.path.getmtime(os.path.join(f"{p1}/postings", f))
        for f in os.listdir(f"{p1}/postings")
    }
    p3, _ = _ivf_lifecycle_index(spark, "/root/testdata/sf0.01")
    assert p3 != p1
