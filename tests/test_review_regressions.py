"""Regression tests for the round-4 review fixes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_dlit_nonfinite_literals_parse(spark):
    """_dlit must emit plan-buildable SQL for inf/-inf/NaN (degenerate
    fitted stats), not 'infD' parse errors."""
    from detecting_and_addressing_change_spark.operators.nb import _dlit

    row = spark.sql(
        "SELECT %s AS pinf, %s AS ninf, %s AS nan"
        % (_dlit(float("inf")), _dlit(float("-inf")), _dlit(float("nan")))
    ).collect()[0]
    assert row["pinf"] == float("inf")
    assert row["ninf"] == float("-inf")
    assert math.isnan(row["nan"])


def test_pooled_features_models_dedupes_repeated_model(spark):
    """The A==B control experiment must not union two copies of every
    row: a repeated model yields exactly one tagged frame."""
    from detecting_and_addressing_change_spark.pipelines import (
        pooled_features_models,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(8)],
        "doc_id long, text string",
    )
    pooled = pooled_features_models(docs, ("BERT", "BERT"), dim=4)
    assert pooled.count() == 8
    assert pooled.filter(F.col("model") == "BERT").count() == 8


def test_lm_and_ngram_broadcast_guards_degrade_to_shuffle_join(spark):
    """ADVICE r5: the corpus-derived model tables in x60/x62 must be able
    to degrade from the forced broadcast to a co-partitioned shuffle join
    — same results, no BroadcastExchange of the model in the plan."""
    from detecting_and_addressing_change_spark.plans import explain_str
    from detecting_and_addressing_change_spark.queries.extensions9 import (
        crossdoc_ngram_flags,
        lm_cross_entropy,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + k) % 13}" for k in range(12)))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    for fn in (lm_cross_entropy, crossdoc_ngram_flags):
        bc = {tuple(r) for r in fn(docs, True).collect()}
        sh = {tuple(r) for r in fn(docs, False).collect()}
        assert bc == sh, fn.__name__
    # the guarded plan joins the exploded corpus to the model WITHOUT a
    # broadcast of the gram-keyed model table (the 1-row vocab count's
    # broadcast nested-loop join is expected and fine)
    s = explain_str(crossdoc_ngram_flags(docs, False))
    assert "BroadcastHashJoin" not in s


def test_neardup_decontam_broadcast_guard_parity(spark):
    from detecting_and_addressing_change_spark.queries.extensions10 import (
        neardup_decontam,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 3 + k) % 11}" for k in range(10)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    bc = {tuple(r) for r in neardup_decontam(docs, True).collect()}
    sh = {tuple(r) for r in neardup_decontam(docs, False).collect()}
    assert bc == sh
