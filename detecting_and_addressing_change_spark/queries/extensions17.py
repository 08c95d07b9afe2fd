"""Round-13 extension queries: driver attestation for the MLP mapping
train/apply session (x116 — U4/U5, the last §2.7 model-compute family
that was verified only by pytest parity; VERDICT r12 #2).

Follows the oracle-hygiene rule: the session's verdicts are raise-guarded
in-query and pinned TRUE by the oracle, beside SQL-exact structural
fingerprints of the session construction (pair/TRAIN/HELD counts, the
held-out seq-id sum, and the SUM(LENGTH(text)) of the base documents that
seeds the input phases) — NO new generated literal (the Adam train steps
are the genuinely non-SQL-expressible part; the x106/x108 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, scratch_index_dir, session_fixture


# --------------------------------------------------------------------------
# X116 — MLP mapping session (U4 apply + U5 train; VERDICT r12 #2).
# Reference: adaptation/mapping.py:148-184 trains a shape-preserving
# 2-layer MLP (Linear->ReLU->Linear, models/adaptation_models.py:9-39)
# with Adam on MSE over (source, target) embedding pairs, and its own
# success check is "MSE after mapping < MSE before mapping"
# (adaptation/mapping.py:157-161 prints the before-loss it must beat).
#
# The session runs the REAL operators (operators/mapping.py):
# train_mlp_mapping (U5 — collect the driver-small pair table, numpy
# Adam, the reference's architecture/loss/update rule) and
# apply_mlp_mapping (U4 — the distributed Arrow-batched mapInPandas
# forward, the path 100 TB of embeddings would take). The pair fixture
# is deterministic and data-bound, the x108 recipe: the 32 lowest
# documents seed per-pair phases through their text lengths,
# source[j] = sin(len + seq_id*12.9898 + j*37.719) (computed IN SPARK
# with built-in functions — a narrow map, no UDF), and the target is a
# fixed orthogonal map of the source (dimension reversal + negation:
# target[j] = -source[dim-1-j]) — a planted linear mapping the MLP must
# recover, the same construction tests/test_mapping.py proves the
# operator learns. TRAIN = pairs with seq_id % 4 != 0; HELD-OUT = the
# seq_id % 4 == 0 quarter the optimizer never sees.
#
# Verdicts (each raise-guarded in-query, then pinned TRUE by the
# oracle — a training regression fails loudly at generation time):
#  - mapping_mse_improves: distributed MSE(mapped source, target) on the
#    TRAIN pairs < distributed MSE(source, target) — the reference's own
#    success check;
#  - heldout_margin_improves: on the HELD-OUT quarter, mapped MSE <
#    0.5 * raw MSE — generalization, not memorization;
#  - shape_preserved: every mapped vector keeps the input dimension and
#    every component is finite (the reference MLP's own
#    assert out.shape == inputs.shape, checked DISTRIBUTED);
#  - dual_path_equal: the distributed mapInPandas forward and a
#    driver-side weights.forward replay agree per-element (atol 1e-9)
#    on every held-out row AND on the floor(mse * 1e9) fingerprint —
#    the plumbing the 100 TB apply path relies on is the thing attested.
#
# MSEs are computed DISTRIBUTED with built-in array lambdas
# (zip_with/aggregate — exact, JVM-side); only the k-free pair table
# (384 x 8 doubles) is ever collected, by train_mlp_mapping itself.
#
# Scale shape: train is driver-side BY DESIGN at any scale — the pair
# table is top-k words x dim, bounded by construction (the reference's
# is <= 10k x 768); apply is one Arrow-batched narrow pass with the
# weights riding the closure, embarrassingly parallel over 100 TB.
# --------------------------------------------------------------------------
_X116_DIM = 8
_X116_BASE_DOCS = 32
_X116_REPLICAS = 12
_X116_N_PAIRS = _X116_BASE_DOCS * _X116_REPLICAS

_X116_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, COALESCE(text, '') AS text
      FROM documents ORDER BY doc_id LIMIT {_X116_BASE_DOCS}
    ),
    ids AS (
      SELECT i FROM generate_series(0, {_X116_N_PAIRS - 1}) AS t(i)
    )
    SELECT CAST((SELECT COUNT(*) FROM base) * {_X116_REPLICAS} AS BIGINT)
             AS n_pairs,
           CAST((SELECT COUNT(*) FROM ids WHERE i % 4 <> 0) AS BIGINT)
             AS n_train,
           CAST((SELECT COUNT(*) FROM ids WHERE i % 4 = 0) AS BIGINT)
             AS n_held,
           CAST((SELECT SUM(i) FROM ids WHERE i % 4 = 0) AS BIGINT)
             AS sum_held_seq_id,
           CAST((SELECT SUM(LENGTH(text)) FROM base) AS BIGINT)
             AS sum_base_len,
           TRUE AS mapping_mse_improves,
           TRUE AS heldout_margin_improves,
           TRUE AS shape_preserved,
           TRUE AS dual_path_equal
"""


def _x116_pairs(base: DataFrame) -> DataFrame:
    """Deterministic (source, target) pairs from the 32 base docs:
    seq_id = replica * 32 + base_rank, source = sin() of a text-length-
    seeded phase, target = the planted orthogonal map -reverse(source)."""
    seq_id = (F.col("__r") * _X116_BASE_DOCS + F.col("__b")).cast("long")
    rows = base.select(
        "__b",
        "__len",
        F.explode(
            F.sequence(F.lit(0), F.lit(_X116_REPLICAS - 1))
        ).alias("__r"),
    ).select(seq_id.alias("seq_id"), "__len")
    source = F.transform(
        F.sequence(F.lit(0), F.lit(_X116_DIM - 1)),
        lambda j: F.sin(
            F.col("__len").cast("double")
            + F.col("seq_id").cast("double") * 12.9898
            + j.cast("double") * 37.719
        ),
    )
    return rows.select(
        "seq_id",
        source.cast("array<double>").alias("source"),
    ).select(
        "seq_id",
        "source",
        F.transform(
            F.sequence(F.lit(0), F.lit(_X116_DIM - 1)),
            lambda j: -F.element_at(
                F.col("source"), F.lit(_X116_DIM).cast("int") - j.cast("int")
            ),
        ).cast("array<double>").alias("target"),
    )


def _mse_col(a: str, b: str):
    """Exact JVM-side per-row MSE between two equal-length array columns."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(F.col(a))


@query("x116_mlp_mapping_session", oracle=_X116_ORACLE)
def x116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The U4/U5 MLP mapping session end-to-end on driver-derived pairs:
    numpy-Adam train (the real train_mlp_mapping loop) on the TRAIN
    split, distributed Arrow-batched apply on all pairs, verdict the
    reference's MSE-improves check plus a held-out margin, shape
    preservation, and distributed==driver dual-path equality."""
    import math as _math

    import numpy as _np
    from pyspark.sql import Window

    from ..operators.mapping import apply_mlp_mapping, train_mlp_mapping

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    base = (
        docs.orderBy("doc_id")
        .limit(_X116_BASE_DOCS)
        .select(
            "doc_id",
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias("__len"),
        )
        .withColumn("__b", (F.row_number().over(w) - 1).cast("long"))
        .localCheckpoint(eager=True)
    )
    sum_base_len = int(base.agg(F.sum("__len").alias("s")).collect()[0]["s"])

    pairs = _x116_pairs(base).localCheckpoint(eager=True)
    train = pairs.filter(F.col("seq_id") % 4 != 0)
    held = pairs.filter(F.col("seq_id") % 4 == 0)

    # U5: the real driver-side numpy-Adam loop (reference architecture,
    # loss and update rule — adaptation/mapping.py:148-184)
    weights = train_mlp_mapping(
        train,
        source_col="source",
        target_col="target",
        hidden=64,
        epochs=60,
        lr=3e-3,
        seed=1,
    )

    # U4: ONE distributed Arrow-batched forward over all pairs, then the
    # MSEs as exact JVM-side array lambdas on the joined frame
    mapped = apply_mlp_mapping(
        pairs, weights, vec_col="source", out_col="mapped",
        id_cols=("seq_id",),
    ).join(pairs, "seq_id")
    mapped = mapped.localCheckpoint(eager=True)

    stats = mapped.agg(
        F.avg(F.when(F.col("seq_id") % 4 != 0, _mse_col("source", "target")))
          .alias("raw_train"),
        F.avg(F.when(F.col("seq_id") % 4 != 0, _mse_col("mapped", "target")))
          .alias("map_train"),
        F.avg(F.when(F.col("seq_id") % 4 == 0, _mse_col("source", "target")))
          .alias("raw_held"),
        F.avg(F.when(F.col("seq_id") % 4 == 0, _mse_col("mapped", "target")))
          .alias("map_held"),
        F.min(F.size("mapped")).alias("min_dim"),
        F.max(F.size("mapped")).alias("max_dim"),
        F.max(
            F.exists(
                "mapped",
                lambda x: F.isnan(x) | (F.abs(x) > F.lit(1e18)),
            ).cast("int")
        ).alias("any_nonfinite"),
        F.count("*").alias("n_pairs"),
        F.sum((F.col("seq_id") % 4 != 0).cast("long")).alias("n_train"),
        F.sum((F.col("seq_id") % 4 == 0).cast("long")).alias("n_held"),
        F.sum(F.when(F.col("seq_id") % 4 == 0, F.col("seq_id")))
          .cast("long").alias("sum_held_seq_id"),
    ).collect()[0]

    # dual path: driver-side forward replay of the held-out rows vs the
    # distributed mapInPandas output (the 100 TB plumbing under test)
    held_rows = (
        mapped.filter(F.col("seq_id") % 4 == 0)
        .select("seq_id", "source", "target", "mapped")
        .orderBy("seq_id")
        .collect()
    )
    src = _np.array([r["source"] for r in held_rows], dtype=_np.float64)
    tgt = _np.array([r["target"] for r in held_rows], dtype=_np.float64)
    got = _np.array([r["mapped"] for r in held_rows], dtype=_np.float64)
    drv = weights.forward(src)
    max_abs_diff = float(_np.max(_np.abs(got - drv))) if len(held_rows) else 0.0
    fp_dist = int(_math.floor(float(((got - tgt) ** 2).mean()) * 1e9))
    fp_drv = int(_math.floor(float(((drv - tgt) ** 2).mean()) * 1e9))
    dual_equal = max_abs_diff < 1e-9 and fp_dist == fp_drv

    # preconditions, asserted loudly (ADVICE r9 rule): every verdict
    # below is oracle-pinned TRUE, so a regression must fail HERE
    if not float(stats["map_train"]) < float(stats["raw_train"]):
        raise AssertionError(
            f"x116 training regression: mapped train MSE "
            f"{stats['map_train']:.6f} >= raw {stats['raw_train']:.6f}"
        )
    if not float(stats["map_held"]) < 0.5 * float(stats["raw_held"]):
        raise AssertionError(
            f"x116 generalization regression: mapped held MSE "
            f"{stats['map_held']:.6f} vs raw {stats['raw_held']:.6f} "
            f"(margin 0.5 missed)"
        )
    if not (
        int(stats["min_dim"]) == _X116_DIM
        and int(stats["max_dim"]) == _X116_DIM
        and int(stats["any_nonfinite"]) == 0
    ):
        raise AssertionError(
            f"x116 shape regression: dims [{stats['min_dim']},"
            f"{stats['max_dim']}] nonfinite={stats['any_nonfinite']}"
        )
    if not dual_equal:
        raise AssertionError(
            f"x116 dual-path mismatch: max|dist-driver|={max_abs_diff} "
            f"fp {fp_dist} vs {fp_drv}"
        )

    return spark.range(1).select(
        F.lit(int(stats["n_pairs"])).cast("long").alias("n_pairs"),
        F.lit(int(stats["n_train"])).cast("long").alias("n_train"),
        F.lit(int(stats["n_held"])).cast("long").alias("n_held"),
        F.lit(int(stats["sum_held_seq_id"])).cast("long").alias(
            "sum_held_seq_id"
        ),
        F.lit(sum_base_len).cast("long").alias("sum_base_len"),
        F.lit(True).alias("mapping_mse_improves"),
        F.lit(True).alias("heldout_margin_improves"),
        F.lit(True).alias("shape_preserved"),
        F.lit(True).alias("dual_path_equal"),
    )


# --------------------------------------------------------------------------
# X117 — training-shard export: seeded epoch shuffle + token-budgeted
# shard layout + manifest (operators/sharding.py).
#
# The trainer-facing OUTPUT of the whole curation pipeline: the corpus
# in a deterministic seed-13 epoch order, cut into 4096-token shards
# (start-offset straddle rule, the x53 packing convention), summarized
# as the manifest a streaming loader verifies before trusting a shard
# directory. Everything is exact int64 arithmetic — the seeded
# permutation key (three seed-mixed multiplicative rounds, one per
# 20-bit doc_id slice, summed mod 2^32 — seed-dependent order for ids
# differing anywhere below 2^60, the VERDICT r13 #1 fix), the running
# token offset, the integer-div shard cut (exact past 2^53 cumulative
# tokens, ADVICE r13), the per-shard checksum SUM(doc_id * n_tokens) —
# so DuckDB replays the layout bit-exactly. The Spark side computes the
# running offset with operators/order.global_cumsum (range partition +
# per-partition sums + broadcast offsets), NEVER a single-partition
# window; the oracle uses the window form, which is the semantic
# definition both must match. The actual partitioned write + read-back
# verification is pinned in tests/test_sharding.py AND driver-attested
# by x120 below (file layout is not SQL-expressible; the layout
# ARITHMETIC — this query — is).
# Reference contrast: streams/loaders.py holds the corpus in memory and
# shuffles with a torch Generator; the shard/manifest contract is the
# 100 TB replacement for that iterator.
# --------------------------------------------------------------------------
_X117_SEED = 13
_X117_BUDGET = 4096

from ..operators.sharding import epoch_order_sql as _epoch_order_sql
from ..sources.tables import read_parquet_cached_schema

_X117_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {_epoch_order_sql('doc_id', 13)} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, h,
             SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS strt
      FROM t
    ),
    s AS (
      SELECT CAST(strt // {_X117_BUDGET} AS BIGINT) AS shard_id,
             doc_id, n_tokens
      FROM c
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(SUM(doc_id * n_tokens) AS BIGINT) AS checksum
    FROM s GROUP BY shard_id
"""


@query("x117_shard_export", oracle=_X117_ORACLE)
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-layout manifest of the documents table under the seed-13
    epoch shuffle and a 4096-token budget."""
    from ..operators.sharding import assign_shards, shard_manifest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    assigned = assign_shards(
        docs, "doc_id", "n_tokens", budget=_X117_BUDGET, seed=_X117_SEED
    )
    return shard_manifest(assigned, "doc_id", "n_tokens")


# --------------------------------------------------------------------------
# X118 — leakage-safe train/eval split: assign SPLITS BY NEAR-DUP
# CLUSTER, not by document.
#
# The naive hash split (q22's shape — the reference's own
# train_test_split usage, streams/loaders.py) puts near-duplicate
# documents on BOTH sides of the split: the eval set then contains
# near-copies of training documents and the measured accuracy is
# contaminated. The fix is standard in LLM data work: compute near-dup
# clusters (x23's guarded MinHash edges + connected components), hash
# the CLUSTER id to a side, and let every member inherit its cluster's
# side — by construction, zero near-dup edges cross the split.
#
# One row, FULLY COMPUTED oracle (no pinned verdicts): per-side doc and
# cluster counts, plus the crossing-edge counts under BOTH policies —
# n_cross_cluster_split (0 by construction; the oracle RECOMPUTES it
# through the same recursive-CTE components rather than pinning TRUE)
# and n_cross_naive_split (the q22-shape doc-hash split's measured
# leakage on this corpus — the number the cluster split eliminates).
# A fixture-drift guard raises if the corpus has no near-dup edges at
# all (both counts would be vacuously zero).
#
# Scale shape: edges/clusters are x23's machinery (bucketed banding,
# O(log n) components); side assignment is a narrow map over the
# cluster labels (the seeded epoch mix on cluster_id — exact int64,
# engine-portable); the audit is ONE join of the bounded edge set
# against the label table. Nothing new shuffles the corpus.
# --------------------------------------------------------------------------
_X118_SEED = 7
_X118_TRAIN_PCT = 80


def _x118_oracle() -> str:
    from ..operators.sharding import epoch_order_sql
    from .extensions import _minhash_guarded_edges_oracle

    base = _minhash_guarded_edges_oracle().replace(
        "WITH dg", "WITH RECURSIVE dg", 1
    )
    side = (
        "CASE WHEN (" + epoch_order_sql("{id}", _X118_SEED)
        + f") % 100 < {_X118_TRAIN_PCT} THEN 'train' ELSE 'eval' END"
    )
    cl_side = side.format(id="cluster_id")
    doc_side = side.format(id="l.doc_id")
    return (
        base
        + f"""
    , sym AS (
      SELECT a_id AS a, b_id AS b FROM edges
      UNION
      SELECT b_id, a_id FROM edges
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    ),
    labels AS MATERIALIZED (
      SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach
      GROUP BY node
    ),
    sided AS MATERIALIZED (
      -- MATERIALIZED: without it DuckDB re-inlines the whole recursive
      -- reach chain into every consumer (measured 15.6 s vs 0.9 s)
      SELECT l.doc_id, l.cluster_id,
             {cl_side} AS side,
             {doc_side} AS naive_side
      FROM labels l
    ),
    cross_counts AS (
      SELECT
        COALESCE(SUM(CASE WHEN sa.side <> sb.side THEN 1 ELSE 0 END), 0)
          AS n_cross_cluster_split,
        COALESCE(SUM(CASE WHEN sa.naive_side <> sb.naive_side
                          THEN 1 ELSE 0 END), 0)
          AS n_cross_naive_split,
        COUNT(*) AS n_edges
      FROM edges e
      JOIN sided sa ON sa.doc_id = e.a_id
      JOIN sided sb ON sb.doc_id = e.b_id
    ),
    side_stats AS (
      SELECT
        SUM(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS n_train_docs,
        SUM(CASE WHEN side = 'eval' THEN 1 ELSE 0 END) AS n_eval_docs,
        COUNT(DISTINCT CASE WHEN side = 'train' THEN cluster_id END)
          AS n_train_clusters,
        COUNT(DISTINCT CASE WHEN side = 'eval' THEN cluster_id END)
          AS n_eval_clusters
      FROM sided
    )
    SELECT
      CAST(t.n_train_docs AS BIGINT) AS n_train_docs,
      CAST(t.n_eval_docs AS BIGINT) AS n_eval_docs,
      CAST(t.n_train_clusters AS BIGINT) AS n_train_clusters,
      CAST(t.n_eval_clusters AS BIGINT) AS n_eval_clusters,
      CAST(c.n_edges AS BIGINT) AS n_edges,
      CAST(c.n_cross_cluster_split AS BIGINT) AS n_cross_cluster_split,
      CAST(c.n_cross_naive_split AS BIGINT) AS n_cross_naive_split
    FROM side_stats t CROSS JOIN cross_counts c
"""
    )


@query("x118_leakage_safe_split", oracle=_x118_oracle())
def x118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-inherited train/eval split + the crossing-edge audit for
    both split policies, as one driver-hashable row."""
    from ..operators.dedup import minhash_dedup_edges
    from ..operators.graph import dedup_clusters
    from ..operators.sharding import epoch_order_col

    docs = load_table(spark, sf_dir, "documents")
    # the edge set and label table are bounded (edges: capped banding;
    # labels: one row per doc of 2 longs) and each feeds TWO downstream
    # jobs (the crossing audit + the per-side stats) — materialize once
    # so the MinHash signing + CC rounds don't run twice
    edges = (
        minhash_dedup_edges(docs)
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    labels = dedup_clusters(docs.select("doc_id"), edges).select(
        "doc_id", "cluster_id"
    )

    def side_of(c):
        return F.when(
            epoch_order_col(c, _X118_SEED) % 100 < _X118_TRAIN_PCT,
            F.lit("train"),
        ).otherwise(F.lit("eval"))

    sided = labels.select(
        "doc_id",
        "cluster_id",
        side_of(F.col("cluster_id")).alias("side"),
        side_of(F.col("doc_id")).alias("naive_side"),
    ).localCheckpoint(eager=True)

    sa = sided.select(
        F.col("doc_id").alias("a_id"),
        F.col("side").alias("side_a"),
        F.col("naive_side").alias("naive_a"),
    )
    sb = sided.select(
        F.col("doc_id").alias("b_id"),
        F.col("side").alias("side_b"),
        F.col("naive_side").alias("naive_b"),
    )
    audit = (
        edges.join(sa, "a_id")
        .join(sb, "b_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(
                (F.col("side_a") != F.col("side_b")).cast("long")
            ).alias("n_cross_cluster_split"),
            F.sum(
                (F.col("naive_a") != F.col("naive_b")).cast("long")
            ).alias("n_cross_naive_split"),
        )
        .collect()[0]
    )
    n_edges = int(audit["n_edges"] or 0)
    if n_edges == 0:
        raise AssertionError(
            "x118 fixture drift: corpus has no near-dup edges — both "
            "crossing counts would be vacuously zero"
        )
    n_cross_cluster = int(audit["n_cross_cluster_split"] or 0)
    if n_cross_cluster != 0:
        raise AssertionError(
            f"x118 split regression: {n_cross_cluster} near-dup edges "
            "cross the cluster-inherited split (must be 0 by "
            "construction)"
        )

    sides = {
        r["side"]: r
        for r in sided.groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .collect()
    }

    def stat(side, colname):
        return int(sides[side][colname]) if side in sides else 0

    return spark.range(1).select(
        F.lit(stat("train", "n_docs")).cast("long").alias("n_train_docs"),
        F.lit(stat("eval", "n_docs")).cast("long").alias("n_eval_docs"),
        F.lit(stat("train", "n_clusters")).cast("long").alias(
            "n_train_clusters"
        ),
        F.lit(stat("eval", "n_clusters")).cast("long").alias(
            "n_eval_clusters"
        ),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_cross_cluster).cast("long").alias("n_cross_cluster_split"),
        F.lit(int(audit["n_cross_naive_split"] or 0))
        .cast("long")
        .alias("n_cross_naive_split"),
    )


# --------------------------------------------------------------------------
# X119 (folded into x122, round 16): the FLAT-regime HRW movement audit
# (rendezvous vs modulo under 8 -> 9 shard growth, with the
# moves-land-only-on-the-new-shard and strictly-less-than-mod raise
# guards) was a standalone query through r15 (green rows r13-r15); its
# columns and guards now ride x122's single documents scan, so the
# consolidated row attests BOTH rendezvous regimes — flat and two-level
# — off one query (VERDICT r15 #2 consolidation plan).
_X119_N = 8


# --------------------------------------------------------------------------
# X120 — shard-layout write/load verdict: the x117 arithmetic is on the
# oracle gate; this puts the MATERIALIZED layout there too (the x94
# index-lifecycle pattern for file layouts SQL cannot express).
#
# Over the doc_id % 2 == 0 sample: write_shards to a scratch dir, then
# verdict in-query (each raise-guarded at generation time, pinned TRUE
# by the oracle):
#  - one_file_per_shard: every shard_id= directory holds exactly ONE
#    data file (the hash-repartition write contract — a loader can
#    stream a shard as one object);
#  - manifest_verified: read_shards' checksum verification PASSES on
#    the intact layout and returns every row;
#  - pruned_plan_partition_filtered: the shard_ids-pruned read's
#    physical plan carries a shard_id partition filter (the scan reads
#    selected directories, not the corpus);
#  - jsonl_round_trip: the SAME assignment written as JSONL (the
#    trainer interchange format, write_shards data_format="json") and
#    read back through the manifest-verified loader reproduces the
#    parquet layout's exact fingerprints (n_docs / token sum /
#    checksum) — VERDICT r13 #7 promoted this from pytest-only to a
#    driver verdict;
#  - corruption_detected: deleting one shard's data file makes
#    read_shards RAISE — the truncated-transfer failure mode fails
#    loudly, attested driver-side, not just in pytest.
# Beside the pins, SQL-exact fingerprints: n_docs, total_tokens,
# checksum_total (shard-invariant sums) and n_shards (the same
# window-cumsum layout arithmetic as x117's oracle).
# --------------------------------------------------------------------------
_X120_SEED = 13
_X120_BUDGET = 2048


def _x120_oracle() -> str:
    from ..operators.sharding import epoch_order_sql

    return f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {epoch_order_sql('doc_id', _X120_SEED)} AS h
      FROM documents WHERE doc_id % 2 = 0
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS strt
      FROM t
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(doc_id * n_tokens) AS BIGINT) AS checksum_total,
      CAST(MAX(strt // {_X120_BUDGET}) + 1 AS BIGINT) AS n_shards,
      TRUE AS one_file_per_shard,
      TRUE AS manifest_verified,
      TRUE AS pruned_plan_partition_filtered,
      TRUE AS jsonl_round_trip,
      TRUE AS corruption_detected
    FROM c
"""


@query("x120_shard_layout_verdict", oracle=_x120_oracle())
def x120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized shard layout E2E: write, per-dir file-count audit,
    manifest-verified load, partition-pruned read, the JSONL
    interchange round-trip, and the corruption-raises posture, as one
    driver-hashable row."""
    import glob as _glob
    import os as _os

    from ..operators.sharding import (
        assign_shards,
        read_shards,
        write_shards,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
    )
    path = scratch_index_dir(spark, "shard120_")
    assigned = assign_shards(
        docs, "doc_id", "n_tokens", budget=_X120_BUDGET, seed=_X120_SEED
    )
    manifest = write_shards(assigned, path, "doc_id", "n_tokens")
    mrows = manifest.collect()
    n_shards = len(mrows)
    n_docs = sum(int(r["n_docs"]) for r in mrows)
    total_tokens = sum(int(r["n_tokens"]) for r in mrows)
    checksum_total = sum(int(r["checksum"]) for r in mrows)

    dirs = sorted(_glob.glob(f"{path}/data/shard_id=*"))
    if len(dirs) != n_shards:
        raise AssertionError(
            f"x120: {len(dirs)} shard dirs != {n_shards} manifest rows"
        )
    per_dir = [
        len(_glob.glob(f"{d}/*.parquet")) for d in dirs
    ]
    if any(n != 1 for n in per_dir):
        raise AssertionError(
            f"x120: shard dirs with != 1 data file: "
            f"{[d for d, n in zip(dirs, per_dir) if n != 1]}"
        )

    # manifest-verified full load (raises internally on any mismatch)
    back = read_shards(spark, path, "doc_id", "n_tokens")
    if back.count() != n_docs:
        raise AssertionError("x120: verified load row-count mismatch")

    # pruned read: the scan must carry a shard_id partition filter
    two_ids = [int(r["shard_id"]) for r in mrows[:2]]
    pruned = read_shards(
        spark, path, "doc_id", "n_tokens", shard_ids=two_ids
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # ADVICE r13: require the PartitionFilters section to EXIST before
    # looking inside it — without this, a regression to a full scan
    # (no section at all) would still find 'shard_id' in Filter/scan
    # nodes and pass vacuously
    if "PartitionFilters" not in plan:
        raise AssertionError(
            f"x120: pruned read plan has no PartitionFilters section: "
            f"{plan[:500]}"
        )
    if "shard_id" not in plan.split("PartitionFilters", 1)[1][:200]:
        raise AssertionError(
            f"x120: pruned read plan lacks a shard_id partition filter: "
            f"{plan[:500]}"
        )

    # JSONL interchange: same assignment, json layout, manifest-verified
    # read-back must reproduce the parquet layout's exact fingerprints
    jpath = scratch_index_dir(spark, "shard120j_")
    write_shards(assigned, jpath, "doc_id", "n_tokens",
                 data_format="json")
    jback = read_shards(spark, jpath, "doc_id", "n_tokens",
                        data_format="json")
    jrow = jback.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("tok"),
        F.sum(
            F.col("doc_id").cast("long") * F.col("n_tokens").cast("long")
        ).alias("ck"),
    ).collect()[0]
    if (
        int(jrow["n_docs"]) != n_docs
        or int(jrow["tok"]) != total_tokens
        or int(jrow["ck"]) != checksum_total
    ):
        raise AssertionError(
            f"x120: JSONL layout fingerprints "
            f"({int(jrow['n_docs'])}, {int(jrow['tok'])}, "
            f"{int(jrow['ck'])}) != parquet layout "
            f"({n_docs}, {total_tokens}, {checksum_total})"
        )

    # corruption posture: drop one data file -> the loader must raise
    victim = _glob.glob(f"{dirs[0]}/*.parquet")[0]
    _os.remove(victim)
    try:
        read_shards(spark, path, "doc_id", "n_tokens")
    except AssertionError:
        corruption_detected = True
    else:
        raise AssertionError(
            "x120: read_shards accepted a layout with a deleted shard "
            "file — the manifest verification is vacuous"
        )

    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(total_tokens).cast("long").alias("total_tokens"),
        F.lit(checksum_total).cast("long").alias("checksum_total"),
        F.lit(n_shards).cast("long").alias("n_shards"),
        F.lit(True).alias("one_file_per_shard"),
        F.lit(True).alias("manifest_verified"),
        F.lit(True).alias("pruned_plan_partition_filtered"),
        F.lit(True).alias("jsonl_round_trip"),
        F.lit(bool(corruption_detected)).alias("corruption_detected"),
    )


# --------------------------------------------------------------------------
# X121 — two-epoch composition audit (VERDICT r13 #4): the between-epoch
# layer is the stated point of operators/sharding.py, but x117/x120
# exercise ONE epoch. This query assigns the same corpus under seeds 0
# and 1 and reports the cross-epoch shard-pair composition — the
# statistic in which BOTH r13 key defects were visible:
#  - the additive-seed rotation artifact (measured max pair overlap 56
#    of ~81-doc shards, 14/49 pairs populated — epoch 1 was a cut-and-
#    splice of epoch 0);
#  - the stride-2^20 seed-invariance (adjacent blocks that never
#    separate would concentrate pair mass the same way past 2^20 docs).
# With the xor-injected key the composition matches independent
# permutations: pair counts near the hypergeometric expectation
# n_docs/(n_shards_e0*n_shards_e1) (~10 here), max overlap a few sigma
# above it. Two raise guards pin the decorrelation POSTURE at scale-
# robust thresholds (they hold at any SF because the token budget fixes
# docs-per-shard): no shard survives even half-intact across epochs,
# and the populated-pair count is well past the block-diagonal/rotation
# regime (a rotation populates ~2 cells per row). Every reported column
# is recomputed exactly by the oracle — no pins.
# Scale shape: two assign_shards passes (each ONE range-shuffle +
# broadcast offsets), a doc_id equi-join, and a bounded
# (n_shards x n_shards) pair aggregate.
# --------------------------------------------------------------------------
_X121_BUDGET = 4096


def _x121_oracle() -> str:
    from ..operators.sharding import epoch_order_sql

    def layout(seed: int, alias: str) -> str:
        return f"""
    {alias} AS (
      SELECT doc_id, CAST(strt // {_X121_BUDGET} AS BIGINT) AS shard_id
      FROM (
        SELECT doc_id,
               SUM(n_tokens) OVER (
                 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS strt
        FROM (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 {epoch_order_sql('doc_id', seed)} AS h
          FROM documents
        )
      )
    )"""

    return f"""
    WITH {layout(0, 'e0')}, {layout(1, 'e1')},
    j AS (
      SELECT e0.shard_id AS s0, e1.shard_id AS s1
      FROM e0 JOIN e1 USING (doc_id)
    ),
    p AS (
      SELECT s0, s1, COUNT(*) AS c FROM j GROUP BY s0, s1
    )
    SELECT
      CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_docs,
      CAST((SELECT MAX(s0) + 1 FROM j) AS BIGINT) AS n_shards_e0,
      CAST((SELECT MAX(s1) + 1 FROM j) AS BIGINT) AS n_shards_e1,
      CAST((SELECT MAX(c) FROM p) AS BIGINT) AS max_pair_overlap,
      CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_pairs_nonzero,
      CAST((SELECT COALESCE(SUM(CASE WHEN s0 = s1 THEN 1 ELSE 0 END), 0)
            FROM j) AS BIGINT) AS n_same_shard_id
"""


@query("x121_epoch_composition", oracle=_x121_oracle())
def x121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-epoch shard-pair composition of the seed-0 and seed-1
    layouts (4096-token budget), as one driver-hashable row."""
    from ..operators.sharding import assign_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )

    def layout(seed: int, alias: str) -> DataFrame:
        return assign_shards(
            docs, "doc_id", "n_tokens", budget=_X121_BUDGET, seed=seed
        ).select("doc_id", F.col("shard_id").alias(alias))

    j = layout(0, "s0").join(layout(1, "s1"), "doc_id")
    pairs = j.groupBy("s0", "s1").agg(F.count(F.lit(1)).alias("c"))
    row = pairs.agg(
        F.sum("c").alias("n_docs"),
        (F.max("s0") + 1).alias("n_shards_e0"),
        (F.max("s1") + 1).alias("n_shards_e1"),
        F.max("c").alias("max_pair_overlap"),
        F.count(F.lit(1)).alias("n_pairs_nonzero"),
        F.sum(F.when(F.col("s0") == F.col("s1"), F.col("c"))
              .otherwise(F.lit(0))).alias("n_same_shard_id"),
    ).collect()[0]
    n_docs = int(row["n_docs"])
    n_e0, n_e1 = int(row["n_shards_e0"]), int(row["n_shards_e1"])
    max_ov = int(row["max_pair_overlap"])
    n_nz = int(row["n_pairs_nonzero"])
    # largest per-epoch shard (docs): the half-intact guard denominator
    biggest = (
        j.groupBy("s0").count().agg(F.max("count")).collect()[0][0]
    )
    if max_ov * 2 >= int(biggest):
        raise AssertionError(
            f"x121: a shard survived half-intact across epochs "
            f"(max pair overlap {max_ov} vs largest shard {biggest}) — "
            "epoch re-shuffle is not decorrelating (the r13 rotation "
            "artifact regime)"
        )
    if n_nz <= 3 * max(n_e0, n_e1):
        raise AssertionError(
            f"x121: only {n_nz} populated shard pairs for "
            f"{n_e0}x{n_e1} shards — block-diagonal/rotation-like "
            "composition"
        )
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(n_e0).cast("long").alias("n_shards_e0"),
        F.lit(n_e1).cast("long").alias("n_shards_e1"),
        F.lit(max_ov).cast("long").alias("max_pair_overlap"),
        F.lit(n_nz).cast("long").alias("n_pairs_nonzero"),
        F.lit(int(row["n_same_shard_id"] or 0)).cast("long").alias(
            "n_same_shard_id"
        ),
    )


# --------------------------------------------------------------------------
# X122 — hierarchical (two-level) rendezvous audit: the LARGE-shard-count
# consistent layout (operators/sharding.py rendezvous_shard_col_two_level).
#
# Single-level HRW evaluates O(n_shards) weights per row — measured ~5 s
# per 200k rows at n=2048 (BENCH_NOTES r14); at the 10^4-10^5 shard
# counts of a full 100 TB layout that per-row cost dominates. The
# two-level form draws a group then a slot (O(G + S) weights, both
# ~sqrt(n)) and keeps the consistency contract HIERARCHICALLY; this
# query attests both growth directions on the real corpus:
#  - GROUP growth (8x4 -> 9x4): every moved doc lands inside the new
#    group's slot range (old groups never exchange docs);
#  - SLOT growth (8x4 -> 8x5): no doc changes GROUP, and every moved
#    doc lands on its own group's new slot;
#  - FLAT-regime growth (the folded x119 columns, round 16): the flat
#    rendezvous_shard_col at n=8 -> 9 vs the modulo layout — rendezvous
#    must move strictly fewer docs than mod, and every rendezvous move
#    must land ON the new shard (HRW's defining property; a mod layout
#    moves ~n/(n+1) of ALL rows — a full-corpus rewrite at 100 TB).
# Load-balance extremes of the 8x4 layout ride along (the r13 additive
# weight family measured a 33x load spread at n=64; the r14
# multiply-xor-multiply weight is binomial-consistent — the min/max
# columns pin that on the gate). Every column recomputed exactly by the
# oracle (same int64 mix, scalar-subquery argmax); raise guards pin the
# contracts at generation time.
# Scale shape: one zero-shuffle narrow map per layout + one bounded
# (n_shards-row) aggregate; nothing shuffles the corpus.
# --------------------------------------------------------------------------
_X122_G = 8
_X122_S = 4


def _x122_oracle() -> str:
    from ..operators.sharding import (
        rendezvous_shard_sql,
        rendezvous_shard_two_level_sql,
    )

    g, s = _X122_G, _X122_S
    a = rendezvous_shard_two_level_sql("doc_id", g, s)
    b = rendezvous_shard_two_level_sql("doc_id", g + 1, s)
    c = rendezvous_shard_two_level_sql("doc_id", g, s + 1)
    r8 = rendezvous_shard_sql("doc_id", _X119_N)
    r9 = rendezvous_shard_sql("doc_id", _X119_N + 1)
    return f"""
    WITH l AS (
      SELECT doc_id, ({a}) AS s_base, ({b}) AS s_grp, ({c}) AS s_slot,
             ({r8}) AS rv8, ({r9}) AS rv9,
             doc_id % {_X119_N} AS md8,
             doc_id % {_X119_N + 1} AS md9
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             s_base // {s} AS g_base, s_base % {s} AS slot_base,
             s_grp // {s} AS g_grp,
             s_slot // {s + 1} AS g_slot, s_slot % {s + 1} AS slot_slot,
             rv8, rv9, md8, md9
      FROM l
    ),
    loads AS (
      SELECT COUNT(*) AS c FROM l GROUP BY s_base
    )
    SELECT
      CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_docs,
      CAST((SELECT SUM(CASE WHEN g_grp <> g_base THEN 1 ELSE 0 END)
            FROM m) AS BIGINT) AS n_moved_group_growth,
      CAST((SELECT SUM(CASE WHEN g_grp <> g_base AND g_grp = {g}
                       THEN 1 ELSE 0 END) FROM m) AS BIGINT)
        AS n_into_new_group,
      CAST((SELECT SUM(CASE WHEN g_slot <> g_base THEN 1 ELSE 0 END)
            FROM m) AS BIGINT) AS n_group_changed_on_slot_growth,
      CAST((SELECT SUM(CASE WHEN slot_slot <> slot_base
                       THEN 1 ELSE 0 END) FROM m) AS BIGINT)
        AS n_moved_slot_growth,
      CAST((SELECT SUM(CASE WHEN slot_slot <> slot_base
                       AND slot_slot = {s} THEN 1 ELSE 0 END) FROM m)
           AS BIGINT) AS n_onto_new_slot,
      CAST((SELECT COUNT(*) FROM loads) AS BIGINT) AS n_shards_used,
      CAST((SELECT MIN(c) FROM loads) AS BIGINT) AS min_shard_load,
      CAST((SELECT MAX(c) FROM loads) AS BIGINT) AS max_shard_load,
      CAST((SELECT SUM(CASE WHEN rv8 <> rv9 THEN 1 ELSE 0 END) FROM m)
           AS BIGINT) AS n_moved_rendezvous,
      CAST((SELECT SUM(CASE WHEN md8 <> md9 THEN 1 ELSE 0 END) FROM m)
           AS BIGINT) AS n_moved_mod,
      CAST((SELECT SUM(CASE WHEN rv8 <> rv9 AND rv9 = {_X119_N}
                       THEN 1 ELSE 0 END) FROM m) AS BIGINT)
        AS n_moved_to_new_shard
"""


@query("x122_two_level_reshard", oracle=_x122_oracle())
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical-HRW movement contracts (group growth 8x4 -> 9x4,
    slot growth 8x4 -> 8x5) + base-layout load extremes + the folded
    x119 flat-regime contracts (rendezvous vs modulo under 8 -> 9
    growth — x119's green history r13-r15; folded round 16 under the
    sweep-budget consolidation plan), as one driver-hashable row."""
    from ..operators.sharding import (
        rendezvous_shard_col,
        rendezvous_shard_col_two_level,
    )

    g, s = _X122_G, _X122_S
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    l = docs.select(
        "doc_id",
        rendezvous_shard_col_two_level("doc_id", g, s).alias("s_base"),
        rendezvous_shard_col_two_level("doc_id", g + 1, s).alias(
            "s_grp"
        ),
        rendezvous_shard_col_two_level("doc_id", g, s + 1).alias(
            "s_slot"
        ),
        rendezvous_shard_col("doc_id", _X119_N).alias("rv8"),
        rendezvous_shard_col("doc_id", _X119_N + 1).alias("rv9"),
        (F.col("doc_id") % _X119_N).alias("md8"),
        (F.col("doc_id") % (_X119_N + 1)).alias("md9"),
    ).select(
        "doc_id",
        "s_base",
        F.expr(f"s_base div {s}").alias("g_base"),
        (F.col("s_base") % s).alias("slot_base"),
        F.expr(f"s_grp div {s}").alias("g_grp"),
        F.expr(f"s_slot div {s + 1}").alias("g_slot"),
        (F.col("s_slot") % (s + 1)).alias("slot_slot"),
        "rv8", "rv9", "md8", "md9",
    )
    row = l.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("g_grp") != F.col("g_base")).cast("long")).alias(
            "n_moved_group_growth"
        ),
        F.sum(
            (
                (F.col("g_grp") != F.col("g_base"))
                & (F.col("g_grp") == g)
            ).cast("long")
        ).alias("n_into_new_group"),
        F.sum((F.col("g_slot") != F.col("g_base")).cast("long")).alias(
            "n_group_changed_on_slot_growth"
        ),
        F.sum(
            (F.col("slot_slot") != F.col("slot_base")).cast("long")
        ).alias("n_moved_slot_growth"),
        F.sum(
            (
                (F.col("slot_slot") != F.col("slot_base"))
                & (F.col("slot_slot") == s)
            ).cast("long")
        ).alias("n_onto_new_slot"),
        F.sum((F.col("rv8") != F.col("rv9")).cast("long")).alias(
            "n_moved_rendezvous"
        ),
        F.sum((F.col("md8") != F.col("md9")).cast("long")).alias(
            "n_moved_mod"
        ),
        F.sum(
            (
                (F.col("rv8") != F.col("rv9"))
                & (F.col("rv9") == F.lit(_X119_N))
            ).cast("long")
        ).alias("n_moved_to_new_shard"),
    ).collect()[0]
    loads = l.groupBy("s_base").agg(
        F.count(F.lit(1)).alias("c")
    ).agg(
        F.count(F.lit(1)).alias("n_shards_used"),
        F.min("c").alias("min_shard_load"),
        F.max("c").alias("max_shard_load"),
    ).collect()[0]

    n_docs = int(row["n_docs"])
    mg, ing = int(row["n_moved_group_growth"] or 0), int(
        row["n_into_new_group"] or 0
    )
    gs = int(row["n_group_changed_on_slot_growth"] or 0)
    ms, ons = int(row["n_moved_slot_growth"] or 0), int(
        row["n_onto_new_slot"] or 0
    )
    if mg == 0 or mg != ing:
        raise AssertionError(
            f"x122: group growth moved {mg}, into-new-group {ing} — "
            "hierarchical HRW must move SOME docs and ONLY into the "
            "new group"
        )
    if gs != 0:
        raise AssertionError(
            f"x122: {gs} docs changed GROUP under slot growth — the "
            "group draw must be untouched by slots_per_group"
        )
    if ms == 0 or ms != ons:
        raise AssertionError(
            f"x122: slot growth moved {ms}, onto-new-slot {ons} — "
            "moves must land on the own group's new slot only"
        )
    if int(loads["min_shard_load"]) == 0:
        raise AssertionError("x122: a base shard got zero docs")
    # the folded x119 flat-regime guards (HRW's defining properties)
    n_rv = int(row["n_moved_rendezvous"] or 0)
    n_md = int(row["n_moved_mod"] or 0)
    n_new = int(row["n_moved_to_new_shard"] or 0)
    if n_new != n_rv:
        raise AssertionError(
            f"x122: {n_rv - n_new} flat rendezvous moves did NOT land "
            "on the new shard — old shards exchanged rows, violating HRW"
        )
    if not (0 < n_rv < n_md):
        raise AssertionError(
            f"x122: flat rendezvous moved {n_rv} vs mod {n_md} of "
            f"{n_docs} — consistent layout must move strictly less "
            "(and some rows)"
        )
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(mg).cast("long").alias("n_moved_group_growth"),
        F.lit(ing).cast("long").alias("n_into_new_group"),
        F.lit(gs).cast("long").alias("n_group_changed_on_slot_growth"),
        F.lit(ms).cast("long").alias("n_moved_slot_growth"),
        F.lit(ons).cast("long").alias("n_onto_new_slot"),
        F.lit(int(loads["n_shards_used"])).cast("long").alias(
            "n_shards_used"
        ),
        F.lit(int(loads["min_shard_load"])).cast("long").alias(
            "min_shard_load"
        ),
        F.lit(int(loads["max_shard_load"])).cast("long").alias(
            "max_shard_load"
        ),
        F.lit(n_rv).cast("long").alias("n_moved_rendezvous"),
        F.lit(n_md).cast("long").alias("n_moved_mod"),
        F.lit(n_new).cast("long").alias("n_moved_to_new_shard"),
    )


# --------------------------------------------------------------------------
# X123 — the MATERIALIZED pretraining build end-to-end on the gate:
# curation.build_training_shards (curate -> fit word vocab -> encode ->
# epoch-ordered pack -> shard -> PARQUET WRITE), read back from disk and
# verified per-document against one SQL chain. Until this round the
# one-shot materialization path had only pytest coverage; x123 puts the
# whole composition (the x55 verdict ∧ the x24 vocab/encode contract ∧
# the x53 pack cut ∧ the r14 epoch layer ∧ the partitioned write) on
# the driver's oracle gate.
#
# The oracle recomputes EVERYTHING: the kept set through the same
# dedup-canonical/benchmark-split/quality-band/decontamination CTEs as
# x55's oracle; the 64-word vocabulary (count desc, word asc, ids 1..64,
# OOV=0 — the x24 contract) over the KEPT corpus's nonempty words; each
# document's token count, order-weighted token-id checksum
# (SUM (pos+1)*tid — pins the ENCODING ORDER, not just the multiset);
# and the seed-5 epoch-ordered window cumsum cut into 32-token packs and
# 4-pack shards. No pins anywhere; the Spark side reads the rows back
# from the written parquet layout, so a write/read defect fails the
# compare too.
# Scale shape: curation is x55's plan (one digest shuffle + broadcast
# gram join), vocab is one agg -> 64-row broadcast literal, encode is a
# zero-shuffle narrow map, the pack cut is global_cumsum (range
# partition + broadcast offsets), the write is one partitioned parquet.
# --------------------------------------------------------------------------
_X123_SEED = 5
_X123_VOCAB = 64
_X123_PACK = 32
_X123_PPS = 4


def _x123_ctes() -> str:
    """The x123 layout recomputation as a reusable WITH-chain: kept set
    (x55's curation semantics) -> word positions -> 64-word vocab ->
    per-doc encoding stats -> the seed-5 epoch-ordered window cumsum
    (``c2``: doc_id, n_tokens, tid_sum, tid_weighted, strt). x125/x126
    (extensions18) extend this same chain with NB stats / replay
    fingerprints, so the three oracles can never drift apart."""
    from ..operators.sharding import epoch_order_sql

    # kept-set CTEs: same semantics as x55's oracle / extensions7
    # curation_verdicts (dedup canonical ∧ not benchmark split ∧ quality
    # bands ∧ not 4-gram-contaminated)
    return f"""
    WITH f AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             length(replace(text, ' ', '')) AS nchars, md5(text) AS dg
      FROM documents
    ),
    keepdup AS (SELECT dg, MIN(doc_id) AS keeper FROM f GROUP BY dg),
    q AS (
      SELECT doc_id, len(w) AS nw,
             CAST(nchars AS DOUBLE) / len(w) AS mwl,
             CAST(coalesce(list_max(list_transform(
               list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0) AS DOUBLE)
               / len(w) AS topf
      FROM f
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, len(w) - 3),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             ))) AS g
      FROM f
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM grams t JOIN bench b USING (g)
      WHERE t.doc_id % 10 <> 7
    ),
    kept AS (
      SELECT f.doc_id, f.w
      FROM f
      JOIN keepdup kd ON f.dg = kd.dg
      JOIN q ON q.doc_id = f.doc_id
      LEFT JOIN contaminated c ON c.doc_id = f.doc_id
      WHERE kd.keeper = f.doc_id AND f.doc_id % 10 <> 7
        AND q.nw BETWEEN 10 AND 100000
        AND q.mwl BETWEEN 2.0 AND 12.0
        AND q.topf <= 0.2 AND c.doc_id IS NULL
    ),
    tok AS (
      SELECT doc_id, UNNEST(generate_series(1, len(w))) AS gidx, w
      FROM kept
    ),
    tok2 AS (
      SELECT doc_id, gidx, w[gidx] AS item FROM tok WHERE w[gidx] <> ''
    ),
    pos AS (
      SELECT doc_id, item,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY gidx) - 1
               AS p
      FROM tok2
    ),
    counts AS (SELECT item, COUNT(*) AS cnt FROM pos GROUP BY item),
    vocab AS (
      SELECT item,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS BIGINT)
               AS tid
      FROM counts ORDER BY cnt DESC, item LIMIT {_X123_VOCAB}
    ),
    enc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(v.tid, 0)) AS BIGINT) AS tid_sum,
             CAST(SUM((t.p + 1) * COALESCE(v.tid, 0)) AS BIGINT)
               AS tid_weighted
      FROM pos t LEFT JOIN vocab v USING (item)
      GROUP BY t.doc_id
    ),
    c2 AS (
      SELECT doc_id, n_tokens, tid_sum, tid_weighted,
             SUM(n_tokens) OVER (
               ORDER BY {epoch_order_sql('doc_id', _X123_SEED)}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS strt
      FROM enc
    )
"""


def _x123_oracle() -> str:
    return _x123_ctes() + f"""
    SELECT doc_id,
           n_tokens,
           CAST(strt // {_X123_PACK} AS BIGINT) AS pack_id,
           CAST(strt % {_X123_PACK} AS BIGINT) AS pack_offset,
           CAST((strt // {_X123_PACK}) // {_X123_PPS} AS BIGINT)
             AS shard_id,
           tid_sum,
           tid_weighted
    FROM c2
"""


# Build-or-reuse fixture for the x123 layout, per (session, sf_dir):
# x123 attests the BUILD, x125/x126 (extensions18) attest TRAINING from
# the same materialized layout — one build feeds all three (the x76/x79
# shared-fixture precedent under the bench/sweep budget policy). All
# consumers are read-only; the scratch dir lives until process exit.
def _x123_layout(spark: SparkSession, sf_dir: str) -> str:
    """Path of the materialized x123 training-shard layout (building it
    on first use in this session): curation.build_training_shards with
    the x123 parameters (word vocab 64, pack 32, 4 packs/shard, epoch
    seed 5) over the documents table."""
    from ..curation import build_training_shards

    def build() -> str:
        path = scratch_index_dir(spark, "shards123_")
        build_training_shards(
            load_table(spark, sf_dir, "documents"),
            path,
            vocab_size=_X123_VOCAB,
            pack_size=_X123_PACK,
            packs_per_shard=_X123_PPS,
            epoch_seed=_X123_SEED,
        )
        return path

    return session_fixture(spark, sf_dir, "x123_layout", build)


@query("x123_training_build_materialized", oracle=_x123_oracle())
def x123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the real curation.build_training_shards (word tokenizer,
    seed-5 epoch order) into a scratch dir and report every written
    document's layout row + order-weighted token checksum, read back
    from the materialized parquet."""
    shards = read_parquet_cached_schema(spark, f"{_x123_layout(spark, sf_dir)}/shards")
    return shards.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
        F.col("shard_id").cast("long").alias("shard_id"),
        F.expr(
            "aggregate(token_ids, 0L, (a, t) -> a + CAST(t AS BIGINT))"
        ).alias("tid_sum"),
        F.expr(
            "aggregate(zip_with(token_ids, sequence(1, size(token_ids)),"
            " (t, i) -> CAST(i AS BIGINT) * t), 0L, (a, x) -> a + x)"
        ).alias("tid_weighted"),
    )


# --------------------------------------------------------------------------
# X124 — streaming shard LOADER verdict: the consumption side of the
# trainer contract. x117/x120 attest the export and x123 the
# materialized build; this query attests how a trainer's streaming
# loader actually ingests a shard directory: a Structured Streaming
# file source over {path}/data with maxFilesPerTrigger=1, so — the
# layout's one-file-per-shard contract — EVERY micro-batch delivers
# exactly one whole shard, and each arriving shard is verified against
# the manifest BEFORE the next is consumed (foreachBatch recomputes the
# shard's n_docs/n_tokens/checksum; a truncated or swapped file fails
# at arrival time, not after training started).
#
# Verdicts (raise-guarded at generation time, pinned TRUE by the
# oracle): one_shard_per_batch (each micro-batch touched exactly one
# shard_id and n_batches == n_shards), every_shard_manifest_verified
# (per-shard accumulated stats equal the stored manifest, every shard
# seen exactly once), drained (awaitTermination within timeout — the
# ADVICE r12 convention). Beside them, SQL-exact layout fingerprints
# (n_docs/total_tokens/checksum_total/n_shards from the same
# window-cumsum arithmetic as x117/x120, on the odd-doc sample).
# Scale shape: the stream reads one shard file per trigger (bounded
# memory at any corpus size); per-batch verification is one bounded
# agg over that shard; the manifest rides driver-side (n_shards rows).
# --------------------------------------------------------------------------
_X124_SEED = 17
_X124_BUDGET = 2048


def _x124_oracle() -> str:
    from ..operators.sharding import epoch_order_sql

    return f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {epoch_order_sql('doc_id', _X124_SEED)} AS h
      FROM documents WHERE doc_id % 2 = 1
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS strt
      FROM t
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(doc_id * n_tokens) AS BIGINT) AS checksum_total,
      CAST(MAX(strt // {_X124_BUDGET}) + 1 AS BIGINT) AS n_shards,
      TRUE AS one_shard_per_batch,
      TRUE AS every_shard_manifest_verified,
      TRUE AS drained
    FROM c
"""


@query("x124_shard_stream_loader", oracle=_x124_oracle())
def x124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-consume a written shard layout one shard per micro-batch
    with arrival-time manifest verification, as one driver-hashable
    row."""
    from ..operators.sharding import (
        assign_shards,
        read_shards_stream,
        write_shards,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
    )
    path = scratch_index_dir(spark, "shard124_")
    assigned = assign_shards(
        docs, "doc_id", "n_tokens", budget=_X124_BUDGET, seed=_X124_SEED
    )
    manifest = {
        int(r["shard_id"]): (
            int(r["n_docs"]),
            int(r["n_tokens"]),
            int(r["checksum"]),
        )
        for r in write_shards(assigned, path, "doc_id", "n_tokens")
        .collect()
    }
    n_shards = len(manifest)

    seen: dict[int, tuple[int, int, int]] = {}
    batch_shard_counts: list[int] = []
    dupes: list[int] = []

    def _verify_batch(bdf, _bid):
        rows = (
            bdf.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("n_tokens").cast("long")).alias("tok"),
                F.sum(
                    F.col("doc_id").cast("long")
                    * F.col("n_tokens").cast("long")
                ).alias("ck"),
            )
            .collect()
        )
        batch_shard_counts.append(len(rows))
        for r in rows:
            sid = int(r["shard_id"])
            if sid in seen:
                dupes.append(sid)
            got = (int(r["n_docs"]), int(r["tok"]), int(r["ck"]))
            seen[sid] = got
            # TRUE arrival-time verification (ADVICE r14): the shard's
            # stats are compared against the manifest INSIDE the batch
            # — a content-corrupted shard aborts the stream HERE, before
            # the next shard is consumed, not after the drain. The whole
            # shard is in this batch by the one-file-per-shard contract,
            # so the per-batch stats are the shard's full stats.
            exp = manifest.get(sid)
            if exp is None or got != exp:
                raise AssertionError(
                    f"x124: shard {sid} failed manifest verification at "
                    f"arrival: got {got}, manifest {exp}"
                )

    ckpt = f"{path}/loader_ckpt"
    stream = read_shards_stream(
        spark,
        path,
        schema="doc_id long, n_tokens int, epoch_key long, shard_id long",
    )
    q = (
        stream.writeStream.foreachBatch(_verify_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise AssertionError(
            "x124: shard loader stream did not drain within 300 s"
        )

    if dupes:
        raise AssertionError(f"x124: shards delivered twice: {dupes}")
    nonsingle = [n for n in batch_shard_counts if n != 1]
    if nonsingle or len(batch_shard_counts) != n_shards:
        raise AssertionError(
            f"x124: {len(batch_shard_counts)} batches with per-batch "
            f"shard counts {batch_shard_counts} for {n_shards} shards — "
            "the one-file-per-shard / maxFilesPerTrigger=1 contract "
            "must deliver exactly one whole shard per micro-batch"
        )
    if seen != manifest:
        missing = sorted(set(manifest) - set(seen))
        wrong = {
            s: (seen[s], manifest[s])
            for s in seen
            if s in manifest and seen[s] != manifest[s]
        }
        raise AssertionError(
            f"x124: arrival-time verification failed — missing shards "
            f"{missing}, mismatched {wrong}"
        )

    n_docs = sum(v[0] for v in manifest.values())
    total_tokens = sum(v[1] for v in manifest.values())
    checksum_total = sum(v[2] for v in manifest.values())
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(total_tokens).cast("long").alias("total_tokens"),
        F.lit(checksum_total).cast("long").alias("checksum_total"),
        F.lit(n_shards).cast("long").alias("n_shards"),
        F.lit(True).alias("one_shard_per_batch"),
        F.lit(True).alias("every_shard_manifest_verified"),
        F.lit(True).alias("drained"),
    )
