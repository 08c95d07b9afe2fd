"""Driver-built tables (sources.tables.local_table) plan as a
``LocalRelation``: no ``PythonRDD``, so no Python worker starts for them.

``createDataFrame(list)`` parallelizes its rows through
``SparkContext.parallelize``, and the first action on the frame forks the
Python daemon. The ``no_parallelize`` fixture makes that call raise, so a
site that slips back to a list frame fails here even when the frame it
builds is only written, never returned."""

from __future__ import annotations

import math
import random
import tempfile

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.queries import QUERIES
from detecting_and_addressing_change_spark.sources.tables import local_table

from .conftest import SF_SMOKE


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture
def no_parallelize(monkeypatch):
    def refuse(self, *a, **kw):
        raise AssertionError("a driver list was parallelized into a PythonRDD")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)


def test_local_table_keeps_null_nan_and_schema(spark, no_parallelize):
    ddl = "a long, x double, v array<double>, s string"
    rows = [
        (1, float("nan"), [1.0, float("nan")], "q"),
        (None, None, None, None),
        (2, 2.0, [None], ""),
    ]
    df = local_table(spark, rows, ddl)
    assert _analyzed(df) == "LocalRelation"
    got = df.collect()
    assert got[0]["a"] == 1 and math.isnan(got[0]["x"])
    assert got[0]["v"][0] == 1.0 and math.isnan(got[0]["v"][1])
    assert tuple(got[1]) == (None, None, None, None)
    assert tuple(got[2]) == (2, 2.0, [None], "")

    empty = local_table(spark, [], ddl)
    assert _analyzed(empty) == "LocalRelation"
    assert empty.collect() == []
    assert empty.schema == df.schema


def test_dedup_clusters_small_route_label_table_is_local(
    spark, no_parallelize
):
    from detecting_and_addressing_change_spark.operators.graph import (
        dedup_clusters,
    )

    nodes = spark.range(6).withColumnRenamed("id", "doc_id")
    pairs = local_table(
        spark, [(0, 2), (2, 3), (4, 5)], "a_id long, b_id long"
    )
    out = dedup_clusters(nodes, pairs)
    assert "LocalRelation" in _plan(out)
    assert "LogicalRDD" not in _plan(out)
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, 0, True), (1, 1, True), (2, 0, False),
        (3, 0, False), (4, 4, True), (5, 4, False),
    ]


def test_nb_broadcast_stats_table_is_local(spark, no_parallelize):
    from detecting_and_addressing_change_spark.operators import nb as nb_mod

    df = local_table(
        spark,
        [(i, [float(i % 3), float(i)], i % 3) for i in range(12)],
        "doc_id long, features array<double>, label int",
    )
    stats = nb_mod.nb_collect_stats(nb_mod.nb_fit(df, dim=2))
    out = nb_mod._nb_predict_bcast(
        df, stats, sum(r["cnt"] for r in stats), 1e-9, 2, "features",
        ("doc_id",),
    )
    assert "LogicalRDD" not in _plan(out)
    assert out.count() == 12


def test_setjoin_audit_forced_rows_are_local(spark, no_parallelize):
    from detecting_and_addressing_change_spark.operators.setjoin import (
        ssjoin_routing_audit_modes,
    )

    df = local_table(
        spark,
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    # over budget: both rows come from the one forced run
    forced = ssjoin_routing_audit_modes(df, threshold=0.5, budget_rows=0)
    assert _analyzed(forced) == "LocalRelation"
    assert sorted(r["mode"] for r in forced.collect()) == [
        "auto", "forced_minhash",
    ]
    # under budget: the forced row is the union's local side
    mixed = ssjoin_routing_audit_modes(df, threshold=0.5, budget_rows=10**12)
    assert "LocalRelation" in _plan(mixed)
    assert mixed.count() == 2


def test_dense_jaccard_empty_result_is_local(spark, no_parallelize):
    from detecting_and_addressing_change_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    one_doc = local_table(spark, [(1, "a b c")], "doc_id long, text string")
    out = ngram_jaccard_pairs(one_doc, top_n=5)
    assert _analyzed(out) == "LocalRelation"
    assert out.collect() == []
    assert out.columns == ["a_id", "b_id", "jaccard"]


@pytest.mark.parametrize("tokenizer", ["word", "bpe"])
def test_training_shard_tables_are_written_without_parallelize(
    spark, no_parallelize, tokenizer
):
    from detecting_and_addressing_change_spark.curation import (
        build_training_shards,
    )

    greek = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    ).split()
    rng = random.Random(5)
    # no doc_id % 10 == 7: those are the benchmark split the curation
    # rules drop, together with every doc sharing a 4-gram with them
    texts = [
        (i, " ".join(rng.sample(greek, 12))) for i in range(16) if i % 10 != 7
    ]
    docs = local_table(
        spark,
        [(i, t, "en", "web", len(t)) for i, t in texts],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        build_training_shards(
            docs, f"{tmp}/run", tokenizer=tokenizer, vocab_size=8,
            n_merges=4, pack_size=16, packs_per_shard=2,
        ).collect()
        vocab = spark.read.parquet(f"{tmp}/run/vocab")
        assert vocab.count() > 0
        assert vocab.agg(F.min("token_id")).first()[0] == 1
        if tokenizer == "bpe":
            assert spark.read.parquet(f"{tmp}/run/merges").count() == 4


def test_minhash_index_empty_tables_are_written_without_parallelize(
    spark, no_parallelize, tmp_path
):
    from detecting_and_addressing_change_spark.operators.minhash_index import (
        build_minhash_index,
        init_minhash_index,
    )

    init_minhash_index(spark, str(tmp_path / "stream"), num_hashes=2)
    sigs = spark.read.parquet(str(tmp_path / "stream/sigs"))
    assert sigs.columns == ["dgst", "h0", "h1"] and sigs.count() == 0
    docs = spark.read.parquet(str(tmp_path / "stream/docs"))
    assert docs.count() == 0
    # the base build signs against an empty local digest table
    text = "the quick brown fox jumps over the lazy dog"
    docs = local_table(
        spark, [(1, text), (2, text), (3, "a b c d e f g")],
        "doc_id long, text string",
    )
    build_minhash_index(docs, str(tmp_path / "batch"), num_hashes=2)
    assert spark.read.parquet(str(tmp_path / "batch/sigs")).count() == 2


def test_ivf_centroid_table_is_written_without_parallelize(
    spark, no_parallelize, tmp_path
):
    from detecting_and_addressing_change_spark.operators.ivf_index import (
        build_ivf_index,
        load_ivf_centroids,
    )

    emb = local_table(
        spark,
        [(i, [float(i % 4), float(i // 4), 1.0]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivf")
    built = build_ivf_index(emb, path, n_centroids=2, n_iter=1)
    assert load_ivf_centroids(spark, path) == sorted(built)


def test_search_text_query_table_is_local(spark, no_parallelize, tmp_path):
    from detecting_and_addressing_change_spark.retrieval import (
        build_text_index,
        search_text,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = local_table(
        spark,
        [(i, " ".join(words[i:] + words[:i])) for i in range(6)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "rag")
    build_text_index(docs, path, n_centroids=2)
    # the search checkpoints its probe side (a LogicalRDD too), so the
    # fixture, not the plan, is the check here
    hits = search_text(spark, path, [" ".join(words)], k=1)
    top = min(hits.collect(), key=lambda h: h["rnk"])
    assert top["cosine"] == 1.0


def test_synth_media_is_local_and_keeps_null_meta(spark, no_parallelize):
    import hashlib

    from detecting_and_addressing_change_spark.multimodal.binary_ops import (
        MEDIA_SCHEMA,
        synth_media,
    )

    media = synth_media(spark, n=6)
    assert _analyzed(media) == "LocalRelation"
    assert media.schema == MEDIA_SCHEMA
    rows = {r["media_id"]: r for r in media.collect()}
    assert tuple(rows[0]["meta"]) == (4, 3, None, None)  # image
    assert tuple(rows[1]["meta"]) == (None, None, 8000, 4)  # audio
    assert tuple(rows[2]["meta"]) == (None, None, None, 1074)  # video
    assert bytes(rows[5]["data"]) == hashlib.md5(b"media-5").digest() * 9


@pytest.mark.parametrize(
    "name",
    [
        "x61_source_mixing",
        "x68_bpe_merges",
        "x74_token_mixing",
        "x130_shard_growth_plan",
    ],
)
def test_query_driver_tables_are_local(spark, no_parallelize, name):
    """The mixture targets (x61, x74), the BPE merge list (x68) and the
    shard-growth steps (x130) are driver-built tables."""
    out = QUERIES[name](spark, SF_SMOKE)
    assert "LocalRelation" in _plan(out)
    assert "LogicalRDD" not in _plan(out)
    assert out.count() > 0
