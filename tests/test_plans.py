"""Physical-plan contracts (SURVEY §4): pushdown reaches the scan, small
dims broadcast, relational surface stays in WholeStageCodegen. These are the
100 TB design assertions — run on the real queries."""

from __future__ import annotations

from detecting_and_addressing_change_spark.plans import (
    explain_str,
    has_broadcast_hash_join,
    has_partial_aggregate_before_shuffle,
    wholestage_codegen_spans,
)
from detecting_and_addressing_change_spark.queries import QUERIES

from .conftest import SF_SMOKE


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q02_filter_predicate"](spark, SF_SMOKE)
    s = explain_str(df)
    assert "PushedFilters: [" in s
    # the discount range and shipdate bounds must be pushed
    assert "l_discount" in s.split("PushedFilters")[1][:400]


def test_column_pruning_reads_only_needed(spark):
    df = QUERIES["q01_scan_project_cast"](spark, SF_SMOKE)
    s = explain_str(df)
    read = s.split("ReadSchema")[1][:300]
    assert "l_quantity" in read
    assert "l_extendedprice" not in read  # untouched column pruned


def test_dim_joins_broadcast(spark):
    for name in ["q07_multi_join_agg", "q11_broadcast_dim_join", "q23_mse"]:
        df = QUERIES[name](spark, SF_SMOKE)
        assert has_broadcast_hash_join(df), name


def test_agg_uses_wholestage_codegen(spark):
    df = QUERIES["q12_grouped_agg"](spark, SF_SMOKE)
    assert wholestage_codegen_spans(df) >= 1


def test_agg_has_mapside_combine(spark):
    # partial aggregation below the exchange: the shuffle carries
    # group-count rows, not input rows — the property that makes the agg
    # survive a 100x scale-up
    df = QUERIES["q12_grouped_agg"](spark, SF_SMOKE)
    assert has_partial_aggregate_before_shuffle(df)
    df = QUERIES["q04_word_count_topk"](spark, SF_SMOKE)
    assert has_partial_aggregate_before_shuffle(df)


def test_no_cartesian_in_joins(spark):
    for name in [
        "q06_inner_join",
        "q07_multi_join_agg",
        "q08_left_outer_join",
        "q11_broadcast_dim_join",
    ]:
        s = explain_str(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s, name


def test_funnel_single_exchange(spark):
    """x31: window stages + final groupBy all share the user_id key — the
    whole funnel must cost exactly ONE shuffle."""
    import re

    df = QUERIES["x31_event_funnel"](spark, SF_SMOKE)
    s = explain_str(df)
    # node-detail headers like "(4) Exchange", not tree-rendering mentions
    assert len(re.findall(r"\(\d+\) Exchange", s)) == 1, s


def test_topk_per_group_two_phase(spark):
    """q57: the salted top-k runs TWO Window nodes (local per-salt, then
    global) — the anti-straggler shape, not one giant per-group window."""
    df = QUERIES["q57_topk_per_group"](spark, SF_SMOKE)
    s = explain_str(df)
    assert s.count("Window") >= 2, s


def test_fuzzy_join_no_cartesian_and_keyed(spark):
    """x33's skew-guarded blocking must stay an equi-join on
    (block, tier-bucket) — never a cartesian/nested-loop pair expansion."""
    s = explain_str(QUERIES["x33_fuzzy_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_media_pipeline_stays_narrow(spark):
    """x43/x44: media bytes move scan -> mapInPandas -> project with no
    Exchange carrying the binary column (frames/features may shuffle,
    the payloads must not)."""
    s = explain_str(QUERIES["x43_audio_frames"](spark, SF_SMOKE))
    # the only exchanges allowed are for the final small aggregations;
    # the encode->decode chain itself is back-to-back python evals
    assert s.count("ArrowEvalPython") + s.count("MapInPandas") >= 2


def test_nb_wide_fit_no_explode(spark):
    """q28 with known dim: the fit must be ONE groupBy over unrolled
    per-dim aggregates — no Generate (posexplode) row blowup in the plan."""
    s = explain_str(QUERIES["q28_nb_fit_predict"](spark, SF_SMOKE))
    assert "Generate" not in s


def test_nb_plan_compile_budget(spark):
    """Plan-compile regression fence (VERDICT r3 #6): the round-3 NB
    unrolled 2*dim+1 aggregate columns and dim-term-per-class score
    expressions, costing ~4 s of Catalyst analysis+codegen on a 2,000-row
    table. The array-native forms must keep query construction + physical
    planning + execution at sf0.001 under a budget that the unrolled shape
    cannot meet (compile cost is data-independent, so the tiny SF isolates
    it). Generous enough for box noise, red on any O(dim) expression-tree
    reintroduction."""
    import time

    for name, budget in [
        ("q28_nb_fit_predict", 3.5),
        ("q39_abrupt_drift_experiment", 6.0),
    ]:
        # min of two fresh plan builds: the first in a cold session pays
        # JVM/JIT warm-up (measured 8.9 s for q28 as a session's first
        # real query, r16), which is session state, not compile cost. A
        # genuine O(dim) expression-tree reintroduction is
        # data-independent and blows the budget on BOTH attempts.
        elapsed = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_SMOKE)
            df._jdf.queryExecution().executedPlan()
            elapsed = min(elapsed, time.perf_counter() - t0)
            if elapsed < budget:
                break
        assert elapsed < budget, f"{name}: {elapsed:.2f}s >= {budget}s"


def test_nb_predict_small_classes_zero_shuffle(spark):
    """The narrow nb_predict form must contain NO Exchange: the class
    statistics ride the plan as literals, so scoring is a pure map."""
    from detecting_and_addressing_change_spark.operators.nb import (
        nb_collect_stats,
        nb_fit,
        nb_predict,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], i % 2) for i in range(60)],
        "doc_id long, features array<double>, label int",
    )
    stats = nb_collect_stats(nb_fit(df, dim=2))
    preds = nb_predict(df, stats, id_cols=("doc_id",))
    s = explain_str(preds)
    assert "Exchange" not in s
    assert "Join" not in s


def test_quality_signals_zero_shuffle(spark):
    """x46/x47: every curation signal is a per-row fold — the whole query
    must be a narrow map over the scan (no Exchange, no Generate, no
    Python eval), the shape that pipelines over a 100 TB corpus scan."""
    for name in ["x46_quality_filter", "x47_repetition_signals"]:
        s = explain_str(QUERIES[name](spark, SF_SMOKE))
        assert "Exchange" not in s, name
        assert "Generate" not in s, name
        assert "Python" not in s, name


def test_decontaminate_broadcasts_benchmark(spark):
    """x48: the benchmark gram set must broadcast — the corpus side streams
    through a BroadcastHashJoin with partial counting below the only
    per-doc exchange; a sort-merge join here would shuffle the corpus."""
    df = QUERIES["x48_decontaminate"](spark, SF_SMOKE)
    s = explain_str(df)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert has_partial_aggregate_before_shuffle(df)


def test_centroid_shift_broadcasts_global(spark):
    """x50: the single-row global centroid joins the per-label centroids
    via broadcast (no shuffle pairing), and both aggregations are
    map-side-combinable vector summaries."""
    s = explain_str(QUERIES["x50_centroid_shift"](spark, SF_SMOKE))
    assert "Broadcast" in s
    assert "CartesianProduct" not in s


def test_sequence_packing_no_global_window(spark):
    """x53: the corpus-wide running token sum must use the range-partition
    + broadcast-offsets decomposition, never a single-partition
    ROW frame window (the canonical 100 TB anti-pattern)."""
    s = explain_str(QUERIES["x53_sequence_packing"](spark, SF_SMOKE))
    assert "Window" not in s


def test_winsorize_pruned_scan_and_broadcast_bounds(spark):
    """x56: the lineitem scan must read ONLY (l_returnflag,
    l_extendedprice), and the per-group bounds must broadcast back —
    a sort-merge pairing here would shuffle the fact table twice."""
    s = explain_str(QUERIES["x56_winsorize"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    read = s.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read
    assert "l_orderkey" not in read


def test_winsorize_approx_same_plan_shape(spark):
    """The 100 TB approx_percentile swap keeps the identical two-pass
    broadcast-bounds shape: sketch agg on the bounds side, broadcast join
    back, no extra Exchange of the fact table."""
    from detecting_and_addressing_change_spark.queries.extensions7 import (
        winsorized_stats,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, SF_SMOKE, "lineitem")
    s = explain_str(winsorized_stats(li, approx=True))
    assert "BroadcastHashJoin" in s
    assert "approx_percentile" in s
    read = s.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read
    assert "l_orderkey" not in read
    # the fact table shuffles at most once (the final partial agg) —
    # same count as the exact path
    exact = explain_str(winsorized_stats(li, approx=False))
    assert s.count("Exchange") == exact.count("Exchange")


def test_model_quality_filter_no_global_window(spark):
    """x54: the decile flagging must use the distributed global rank and a
    broadcast count — no single-partition Window, no sort-merge join."""
    s = explain_str(QUERIES["x54_model_quality_filter"](spark, SF_SMOKE))
    assert "Window" not in s
    assert "Broadcast" in s


def test_kmeans_assignment_is_narrow(spark):
    """x58's final assignment is a pure map over the scan: the centroid
    argmin is a broadcast-literal expression, so the 100 TB cost is one
    read pass — no Exchange anywhere in the plan."""
    from detecting_and_addressing_change_spark.operators.kmeans import (
        kmeans_assign_col,
    )
    from detecting_and_addressing_change_spark.operators.similarity import (
        quantize_col,
    )
    from detecting_and_addressing_change_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = [(0, [0] * 64), (1, [5] * 64)]
    df = emb.select(
        "vec_id", quantize_col(F.col("embedding")).alias("__qv")
    ).select("vec_id", kmeans_assign_col(cents, "__qv").alias("cell"))
    assert "Exchange" not in explain_str(df)


def test_kmeans_ivf_probe_broadcasts_queries(spark):
    """x59's cell join must broadcast the (small) probed-query side, never
    shuffle the corpus by cell AND the queries."""
    df = QUERIES["x59_kmeans_ivf_topk"](spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in explain_str(df)


def test_lm_perplexity_model_broadcast(spark):
    """x60: the scoring path joins the exploded corpus against the
    BROADCAST LM — the corpus side must never sort-merge on the gram key
    (CCNet ships the model to workers, not the corpus to the model)."""
    s = explain_str(QUERIES["x60_lm_perplexity"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_source_mixing_zero_shuffle_sample(spark):
    """x61: the sample is a broadcast-rate filter over the scan — the
    fact side must not hash-exchange before the keep decision; the only
    hash exchanges are the tiny per-group aggs."""
    s = explain_str(QUERIES["x61_source_mixing"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_crossdoc_ngrams_single_gram_agg(spark):
    """x62: one gram-key aggregation + a broadcast verdict join — never
    an all-pairs shape, never a suffix-array global sort of the grams."""
    s = explain_str(QUERIES["x62_crossdoc_ngrams"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_doc_chunking_narrow(spark):
    """x63: chunking is a pure narrow map + explode — no join, no hash
    exchange anywhere (the single range exchange is the result sort)."""
    s = explain_str(QUERIES["x63_doc_chunking"](spark, SF_SMOKE))
    assert "Join" not in s
    assert "hashpartitioning" not in s


def test_two_sample_drift_no_global_window(spark):
    """x64/x65: rank pairing and ECDF cumulation must use the
    range-partition + broadcast-offsets decomposition — a bare
    ROW_NUMBER()/SUM() OVER (ORDER BY ...) would serialize the corpus
    through one task."""
    for name in ["x64_mmd_drift", "x65_ks_drift"]:
        s = explain_str(QUERIES[name](spark, SF_SMOKE))
        assert "Window" not in s, name
        assert "CartesianProduct" not in s, name


def test_chunk_dedup_partial_agg(spark):
    """x66: the fingerprint aggregation must partial-combine below its
    exchange — the shuffle carries per-fingerprint partials, not the
    exploded chunk stream."""
    df = QUERIES["x66_chunk_dedup"](spark, SF_SMOKE)
    assert has_partial_aggregate_before_shuffle(df)
    s = explain_str(df)
    assert "Join" not in s


def test_round5_tail_queries_plan_shapes(spark):
    """x69/x70/x71: broadcast where a dim/vocab joins the corpus, no
    sort-merge of the big side, no cartesian anywhere."""
    for name in ["x69_oov_rate", "x70_data_expectations", "x71_textrank"]:
        s = explain_str(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in s, name
    s = explain_str(QUERIES["x69_oov_rate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    # x70's row-local suite is ONE fused agg pass over the scan
    df = QUERIES["x70_data_expectations"](spark, SF_SMOKE)
    assert has_partial_aggregate_before_shuffle(df)


def test_x04_guard_in_plan(spark):
    """VERDICT r5 task #1: the guarded dedup edge plan must contain BOTH
    skew defenses — the exact-collapse keeper window (min over the digest
    partition) and the hot-bucket tier/cap rank window — and no cartesian
    product anywhere."""
    s = explain_str(QUERIES["x04_minhash_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in s
    assert s.count("Window") >= 2  # digest-collapse min + tier rank
    assert "row_number" in s  # the cap rank


def test_x81_verdict_join_not_force_broadcast(spark):
    """x81's chunk-frequency table is corpus-derived, so the verdict join
    must carry NO forced broadcast hint — Catalyst may still choose a
    broadcast when its size ESTIMATE is small (correct), but with
    auto-broadcast disabled the plan must degrade to a shuffle join,
    proving nothing pins an unbounded table to the driver."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = explain_str(QUERIES["x81_boilerplate_strip"](spark, SF_SMOKE))
        assert "BroadcastHashJoin" not in s
        assert "CartesianProduct" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_x82_plan_is_narrow_until_output(spark):
    """CDC chunking claims a narrow plan: no KEY-based exchange anywhere —
    boundaries and fingerprints are per-row; the only allowed Exchange is
    spread_small_input's deliberate round-robin input spread."""
    s = explain_str(QUERIES["x82_cdc_chunks"](spark, SF_SMOKE))
    assert "hashpartitioning" not in s
    assert "rangepartitioning" not in s


def test_prefix_join_plan_shape(spark):
    """x84: no cartesian/nested-loop anywhere (candidates only ever meet
    through the prefix-token equi-join), and the tokenized corpus is
    materialized once (localCheckpoint) so the digest window + shingle
    explode do not re-run per consuming branch."""
    s = explain_str(QUERIES["x84_prefix_jaccard_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "Scan ExistingRDD" in s  # the checkpointed toks table


def test_hll_plan_no_distinct_shuffle(spark):
    """x85: the sketch side must shuffle REGISTERS (two-phase hash agg),
    never raw distinct values; only the exact-count comparison column is
    allowed its expand/distinct machinery."""
    from detecting_and_addressing_change_spark.operators.hll import (
        hll_distinct,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, SF_SMOKE, "lineitem")
    s = explain_str(hll_distinct(li, "l_orderkey", ["l_returnflag"]))
    assert "CartesianProduct" not in s
    assert "Expand" not in s  # no count-distinct expansion in the sketch


def test_cms_inner_product_broadcasts(spark):
    """x86: the d*w-row sketch product must be a broadcast join (cells are
    constant-size regardless of input), and the sketch build must partial-
    aggregate — never shuffle raw key rows unaggregated."""
    s = explain_str(QUERIES["x86_join_size_estimate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_hll_rollup_reuses_register_machinery(spark):
    """x89: both estimates come from register aggs (two-phase hash agg);
    the only Expand (count-distinct expansion) allowed is the exact
    scoring column's."""
    s = explain_str(QUERIES["x89_hll_rollup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in s
    assert s.count("Expand") <= 1  # exact_distinct only


def test_adaptive_join_minhash_route_plan(spark):
    """x90's fallback route: candidates must only ever meet through the
    (band, bucket) equi-join — no cartesian/nested-loop — and the
    tokenized corpus is still checkpoint-materialized for the verifier."""
    from detecting_and_addressing_change_spark.operators.setjoin import (
        adaptive_jaccard_join,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs, info = adaptive_jaccard_join(docs, route="minhash")
    s = explain_str(pairs)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "Scan ExistingRDD" in s  # checkpointed toks feeds the verifier
    assert info["route"] == "minhash" and info["candidate_volume"] > 0


def test_candidate_volume_is_one_aggregate(spark):
    """The pre-flight estimate must not itself build the candidate join:
    its plan is aggregates over the prefix postings (shuffle keys = token
    / id), never a pair-producing join beyond the per-token counts."""
    from detecting_and_addressing_change_spark.operators.setjoin import (
        _prefix_table,
        _tokenize,
        ssjoin_candidate_volume,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    _, toks = _tokenize(docs, "text", "doc_id", 3)
    vol = ssjoin_candidate_volume(
        _prefix_table(toks, "doc_id", 0.5), "doc_id"
    )
    s = explain_str(vol)
    assert "CartesianProduct" not in s
    # the estimate's plan ends in aggregates over the prefix postings
    # (the ca/cb per-token counts then their product-sum) — its join
    # inputs are the PER-TOKEN aggregated sides, bounded by vocabulary,
    # never the pair-producing prefix self-join it predicts: the a-side
    # probe-filter/b-side full-prefix SELF-join pattern ("__pr") must be
    # absent, while the prefix window machinery is present
    assert "HashAggregate" in s and "Window" in s
    # volume never instantiates probe-vs-index PAIR rows: the candidate
    # join's output columns must not exist anywhere in this plan
    assert "a_id" not in s and "b_id" not in s


def test_transformer_embed_plan_is_narrow(spark):
    """x92: one mapInPandas over the (spread) scan; no shuffle beyond the
    spread repartition, no joins — the embedding pass must scale like a
    map."""
    s = explain_str(QUERIES["x92_transformer_embed"](spark, SF_SMOKE))
    assert "MapInPandas" in s
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in s
    # ONE Exchange (the spread_small_input repartition) — formatted
    # explain lists every node twice (tree + numbered detail)
    assert s.count("Exchange") <= 2


def test_winsorize_audit_broadcasts_bounds(spark):
    """x93: every bounds/verdict table joined back onto the fact scan is
    group-cardinality-small and must broadcast; the lineitem scan must
    never be cartesian-joined or shuffled for the rank counts."""
    s = explain_str(QUERIES["x93_winsorize_approx_audit"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_multi_epoch_group_read_partition_pruned(spark):
    """x129's per-group scans filter on grp = shard_id div gsize — an
    expression of the layout's PARTITION column, so the predicate must
    reach PartitionFilters (the scan lists only the group's shard
    directories, not the corpus). A regression to a post-scan filter
    would silently turn the epoch walk into n_groups full scans."""
    from pyspark.sql import functions as F

    from detecting_and_addressing_change_spark.queries.extensions17 import (
        _x123_layout,
    )

    layout = spark.read.parquet(f"{_x123_layout(spark, SF_SMOKE)}/shards")
    df = layout.withColumn(
        "grp", F.expr("CAST(shard_id AS BIGINT) div 3")
    ).filter(F.col("grp") == 1)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s
    tail = s.split("PartitionFilters", 1)[1][:200]
    assert "shard_id" in tail and "div 3" in tail, tail
