"""Round-15 extension queries: TRAINING from the materialized shard
layout — the consumer-side closure of the trainer seam (VERDICT r14
task #2). x123 attests the build (curate -> vocab/encode -> seeded
epoch order -> pack -> partitioned write) and x124 the streaming
loader's arrival-time verification; until this round nothing TRAINED
off the layout, while the reference's whole point is the training loop
(``models/wos_train_nb.py:65-114``, ``models/wos_train_lstm.py:83-153``
consume their corpus loaders batch-by-batch, test-then-train).

Two queries, both consuming the SAME x123 layout (one build per
session — the ``_x123_layout`` fixture):

- **x125** — the prequential NB session consuming
  ``read_shards_stream`` over the layout, one shard GROUP per
  micro-batch. Gaussian-NB sufficient statistics are order-free, so
  train-from-shards == train-from-corpus is an EXACT, SQL-checkable
  claim: the integer sufficient statistics accumulated across arriving
  micro-batches must equal both a batch recompute and the oracle's
  direct GROUP BY over the recomputed corpus — zero numeric pins.
- **x126** — the prequential LSTM session replaying the layout in
  EPOCH ORDER (the layout's pack offsets ARE the seeded epoch order:
  ``epos = pack_id * pack_size + pack_offset`` equals the doc's start
  offset in the epoch-ordered token stream). The Adam train steps are
  the genuinely non-SQL-expressible part (the x108 shape), so the
  verdicts are raise-guarded in-query and pinned TRUE beside SQL-exact
  replay fingerprints (doc counts, the epoch-offset sum, truncated
  token totals, batch count).

Both follow the oracle-hygiene rule: no generated literals, every
non-boolean column recomputed exactly by the oracle via the SHARED
``_x123_ctes`` chain (the three oracles cannot drift apart).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .extensions17 import (
    _X123_PACK,
    _X123_PPS,
    _x123_ctes,
    _x123_layout,
)
from .registry import query, scratch_index_dir, session_fixture
from ..sources.tables import read_parquet_cached_schema

_LAYOUT_SCHEMA = (
    "doc_id long, token_ids array<int>, n_tokens int, "
    "pack_id int, pack_offset int, shard_id int"
)
_SHARD_TOKENS = _X123_PACK * _X123_PPS  # tokens per shard (128)


# --------------------------------------------------------------------------
# X125 — prequential NB trained FROM the streamed shard layout.
#
# The session runs the REAL loop (streaming/prequential.PrequentialNB —
# the exact-sufficient-statistics partial_fit cadence of
# models/wos_train_nb.py:65-114) inside foreachBatch over
# read_shards_stream(subdir="shards", maxFilesPerTrigger=k): each
# micro-batch delivers k whole shards (the one-file-per-shard write
# contract), is scored against the CURRENT model, then merged in. The
# features are an 8-bin token-id histogram and the label tid_sum % 3 —
# both INTEGER-exact and derived from token_ids alone, so every model
# input is recomputable from the oracle's vocab/encode chain.
#
# Verdicts (raise-guarded at generation time, pinned TRUE by the
# oracle):
#  - stream_stats_equal_batch: the integer (n, sum, sum-of-squares)
#    sufficient statistics accumulated ACROSS micro-batches equal a
#    one-pass batch recompute over the read-back layout, per (label,
#    dim) cell, exactly — train-from-shards == train-from-corpus at
#    the model-defining level (Gaussian NB IS its sufficient stats);
#  - shards_grouped_once_each: every shard id arrives exactly once,
#    in groups of <= k, in ceil(n_shards / k) micro-batches;
#  - prequential_history_ok: the test-then-train series has exactly
#    n_batches - 1 rows (the first batch has no model to test) with
#    every accuracy in [0, 1];
#  - stream_model_equals_batch_model: nb_predict with the
#    stream-trained stats and with a from-scratch nb_fit agree on
#    EVERY document's predicted class (the float merge path vs the
#    one-pass path — compared at the prediction level, the NB module's
#    stated contract).
# Beside them, SQL-exact fingerprints: n_docs / n_shards / n_batches,
# the weighted integer checksum of the sufficient statistics, and the
# per-class prediction counts of the final model (the oracle replays
# sklearn's exact smoothed-Gaussian scoring in SQL — the x103
# machinery).
#
# Scale shape: the stream reads k shard files per trigger (bounded
# memory at any corpus size); per-batch work is one tiny grouped agg
# (classes x dims rows) + the NB fit/merge (n_classes x dim state);
# the final dual-path predict is two zero-shuffle narrow maps. The
# driver loop is O(n_shards / k) micro-batches — k scales with the
# layout so the batch count stays fixed.
# --------------------------------------------------------------------------
_X125_DIM = 8
_X125_CLASSES = 3
# 5 shard groups: a genuinely multi-batch session (4 test-then-train
# rows) at ~60% of the 8-group sweep cost — the sweep-budget trim
# policy; the batch count is a cadence parameter, not coverage (every
# shard is consumed either way)
_X125_TARGET_BATCHES = 5
_X125_CK_N = 1_000_003
_X125_CK_S1 = 1_009


def _x125_features() -> Column:
    """8-bin histogram of token_id % 8 — integer-valued doubles, exact
    on both engines."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_X125_DIM - 1)),
        lambda j: F.size(
            F.filter(
                F.col("token_ids"), lambda t: t % _X125_DIM == j
            )
        ).cast("double"),
    )


def _x125_label() -> Column:
    return (
        F.aggregate(
            F.col("token_ids"),
            F.lit(0).cast("long"),
            lambda a, t: a + t.cast("long"),
        )
        % _X125_CLASSES
    ).cast("int")


def _collect_int_stats(df: DataFrame) -> dict[tuple[int, int], list[int]]:
    """Exact integer (n, sum, sum-of-squares) per (label, dim) over a
    frame carrying the x125 features/label columns — classes x dims
    rows, always driver-small."""
    return {
        (int(r["label"]), int(r["d"])): [
            int(r["n"]),
            int(r["s1"]),
            int(r["s2"]),
        ]
        for r in df.select(
            "label", F.posexplode("features").alias("d", "x")
        )
        .groupBy("label", "d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        )
        .collect()
    }


def _accumulate_stats(
    acc: dict[tuple[int, int], list[int]],
    batch: dict[tuple[int, int], list[int]],
) -> None:
    for cell, (n, s1, s2) in batch.items():
        slot = acc.setdefault(cell, [0, 0, 0])
        slot[0] += n
        slot[1] += s1
        slot[2] += s2


def _stats_checksum(stats: dict[tuple[int, int], list[int]]) -> int:
    return sum(
        (label * _X125_DIM + d + 1)
        * (n * _X125_CK_N + s1 * _X125_CK_S1 + s2)
        for (label, d), (n, s1, s2) in stats.items()
    )


def _nb_stats_ctes() -> str:
    """The x125-feature NB sufficient-statistics recomputation as a
    reusable CTE fragment over the ``_x123_ctes`` chain (``pos``/``enc``
    must be in scope): 8-bin token histograms with explicit zero dims,
    the tid_sum % 3 label, and the per-(label, dim) integer (n, s1, s2)
    table ``nbstats``. Shared by the x125/x127/x128/x129 oracles so the
    stats definition cannot drift between the trainer-seam queries."""
    return f"""
    hist AS (
      SELECT t.doc_id, COALESCE(v.tid, 0) % {_X125_DIM} AS d,
             COUNT(*) AS c
      FROM pos t LEFT JOIN vocab v USING (item)
      GROUP BY t.doc_id, COALESCE(v.tid, 0) % {_X125_DIM}
    ),
    dims AS (SELECT UNNEST(generate_series(0, {_X125_DIM - 1})) AS d),
    hist0 AS (
      -- zero-count dims must still enter the stats (the Spark feature
      -- vector carries explicit zeros)
      SELECT e.doc_id, dm.d, CAST(COALESCE(h.c, 0) AS DOUBLE) AS c
      FROM enc e CROSS JOIN dims dm
      LEFT JOIN hist h ON h.doc_id = e.doc_id AND h.d = dm.d
    ),
    lab AS (SELECT doc_id, tid_sum % {_X125_CLASSES} AS label FROM enc),
    nbstats AS (
      SELECT l.label, h.d, COUNT(*) AS n,
             CAST(SUM(h.c) AS BIGINT) AS s1,
             CAST(SUM(h.c * h.c) AS BIGINT) AS s2
      FROM hist0 h JOIN lab l USING (doc_id)
      GROUP BY l.label, h.d
    )"""


def _x125_oracle() -> str:
    return _x123_ctes() + f"""
    , ns AS (
      -- POPULATED shard count (ADVICE r15): the streaming batch math is
      -- driven by the FILE count (= populated shards), which the Spark
      -- side reads as countDistinct(shard_id). MAX(strt//span)+1 is the
      -- id SPAN — the two diverge when a document longer than the shard
      -- span skips an id (the write_shards populated-vs-span
      -- distinction), and the span form would spuriously redden
      -- n_shards/k/n_batches on such a corpus.
      SELECT CAST(COUNT(DISTINCT strt // {_SHARD_TOKENS}) AS BIGINT)
               AS n_shards
      FROM c2
    ),
    grp AS (
      SELECT n_shards,
             (n_shards + {_X125_TARGET_BATCHES - 1})
               // {_X125_TARGET_BATCHES} AS k
      FROM ns
    ),{_nb_stats_ctes()},
    ck AS (
      SELECT CAST(SUM((label * {_X125_DIM} + d + 1) *
                      (n * {_X125_CK_N} + s1 * {_X125_CK_S1} + s2))
                  AS BIGINT) AS stats_checksum
      FROM nbstats
    ),
    mv AS (
      SELECT MAX(s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n))
               AS maxvar
      FROM nbstats
    ),
    vv AS (
      -- sklearn's smoothing: var + 1e-9 * max(var), the nb_predict
      -- contract (operators/nb.py)
      SELECT s.label, s.d, s.s1::DOUBLE / s.n AS mean,
             (s.s2::DOUBLE / s.n
              - (s.s1::DOUBLE / s.n) * (s.s1::DOUBLE / s.n))
             + 1e-9 * mv.maxvar AS v
      FROM nbstats s CROSS JOIN mv
    ),
    priors AS (SELECT label, MAX(n) AS cnt FROM nbstats GROUP BY label),
    tot AS (SELECT SUM(cnt) AS n_total FROM priors),
    scored AS (
      SELECT h.doc_id, s.label AS cls,
             SUM(-0.5 * LN(2 * PI() * s.v)
                 - (h.c - s.mean) * (h.c - s.mean) / (2 * s.v)) AS ll
      FROM hist0 h JOIN vv s ON h.d = s.d
      GROUP BY h.doc_id, s.label
    ),
    post AS (
      SELECT sc.doc_id, sc.cls,
             sc.ll + LN(pr.cnt::DOUBLE / t.n_total) AS lp
      FROM scored sc JOIN priors pr ON pr.label = sc.cls CROSS JOIN tot t
    ),
    best AS (
      SELECT doc_id, cls,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY lp DESC, cls
             ) AS r
      FROM post
    ),
    predc AS (
      SELECT
        SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS p0,
        SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS p1,
        SUM(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS p2
      FROM best WHERE r = 1
    )
    SELECT
      CAST((SELECT COUNT(*) FROM enc) AS BIGINT) AS n_docs,
      g.n_shards,
      CAST((g.n_shards + g.k - 1) // g.k AS BIGINT) AS n_batches,
      ck.stats_checksum,
      CAST(predc.p0 AS BIGINT) AS n_pred_c0,
      CAST(predc.p1 AS BIGINT) AS n_pred_c1,
      CAST(predc.p2 AS BIGINT) AS n_pred_c2,
      TRUE AS stream_stats_equal_batch,
      TRUE AS shards_grouped_once_each,
      TRUE AS prequential_history_ok,
      TRUE AS stream_model_equals_batch_model
    FROM grp g CROSS JOIN ck CROSS JOIN predc
"""


@query("x125_train_from_shards_nb", oracle=_x125_oracle())
def x125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-consume the x123 shard layout in shard groups and run the
    prequential NB session over it; report the exact sufficient-stats
    checksum and the final model's prediction counts as one
    driver-hashable row."""
    from ..operators.nb import nb_collect_stats, nb_fit, nb_predict
    from ..operators.sharding import read_shards_stream
    from ..streaming.prequential import PrequentialNB

    path = _x123_layout(spark, sf_dir)
    layout = read_parquet_cached_schema(spark, f"{path}/shards")
    n_shards = int(
        layout.agg(F.countDistinct("shard_id").alias("n")).collect()[0][
            "n"
        ]
    )
    if n_shards < _X125_TARGET_BATCHES:
        raise AssertionError(
            f"x125 fixture drift: layout has only {n_shards} shards "
            f"(need >= {_X125_TARGET_BATCHES} for the grouped stream)"
        )
    k = (n_shards + _X125_TARGET_BATCHES - 1) // _X125_TARGET_BATCHES
    expected_batches = (n_shards + k - 1) // k

    loop = PrequentialNB(
        features_col="features", label_col="label", id_col="doc_id"
    )
    stream_stats: dict[tuple[int, int], list[int]] = {}
    batch_shards: list[set[int]] = []

    def _consume(bdf, bid: int) -> None:
        b = bdf.select(
            "doc_id",
            _x125_features().alias("features"),
            _x125_label().alias("label"),
            "shard_id",
        ).persist()
        try:
            # ONE agg serves both the shard inventory and the exact
            # integer sufficient stats (shards x classes x dims rows,
            # always driver-small; stats accumulate order-free)
            rows = (
                b.select(
                    "shard_id",
                    "label",
                    F.posexplode("features").alias("d", "x"),
                )
                .groupBy("shard_id", "label", "d")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("x").cast("long").alias("s1"),
                    F.sum(F.col("x") * F.col("x")).cast("long").alias(
                        "s2"
                    ),
                )
                .collect()
            )
            batch_shards.append({int(r["shard_id"]) for r in rows})
            per_cell: dict[tuple[int, int], list[int]] = {}
            for r in rows:
                slot = per_cell.setdefault(
                    (int(r["label"]), int(r["d"])), [0, 0, 0]
                )
                slot[0] += int(r["n"])
                slot[1] += int(r["s1"])
                slot[2] += int(r["s2"])
            _accumulate_stats(stream_stats, per_cell)
            # the REAL test-then-train loop (partial_fit cadence)
            loop.process_batch(b.drop("shard_id"), int(bid))
        finally:
            b.unpersist()

    # fresh checkpoint per invocation: a reused file-source checkpoint
    # would mark every shard already-consumed and deliver ZERO batches
    ckpt = scratch_index_dir(spark, "x125ckpt_")
    q = (
        read_shards_stream(
            spark,
            path,
            schema=_LAYOUT_SCHEMA,
            max_files_per_trigger=k,
            subdir="shards",
        )
        .writeStream.foreachBatch(_consume)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise AssertionError("x125: shard stream did not drain in 300 s")

    # ---- shards_grouped_once_each
    seen: set[int] = set()
    for group in batch_shards:
        if not group or len(group) > k or (group & seen):
            raise AssertionError(
                f"x125: bad shard grouping {sorted(group)[:5]}... "
                f"(k={k}, overlap={sorted(group & seen)[:5]})"
            )
        seen |= group
    if len(seen) != n_shards or len(batch_shards) != expected_batches:
        raise AssertionError(
            f"x125: saw {len(seen)}/{n_shards} shards in "
            f"{len(batch_shards)} batches (expected {expected_batches})"
        )

    # ---- stream_stats_equal_batch (exact integers, per cell)
    full = layout.select(
        "doc_id",
        _x125_features().alias("features"),
        _x125_label().alias("label"),
    ).persist()
    try:
        batch_stats = _collect_int_stats(full)
        if stream_stats != batch_stats:
            diff = {
                cell: (stream_stats.get(cell), batch_stats.get(cell))
                for cell in set(stream_stats) | set(batch_stats)
                if stream_stats.get(cell) != batch_stats.get(cell)
            }
            raise AssertionError(
                "x125: stream-accumulated sufficient stats != batch "
                f"recompute: {dict(list(diff.items())[:3])}"
            )

        # ---- prequential_history_ok
        hist = loop.results()
        if len(hist) != expected_batches - 1 or any(
            not (0.0 <= acc <= 1.0) for _, acc, _ in hist
        ):
            raise AssertionError(
                f"x125: bad prequential series (len {len(hist)}, "
                f"expected {expected_batches - 1})"
            )

        # ---- stream_model_equals_batch_model (prediction level)
        stream_rows = nb_collect_stats(loop.stats)
        batch_rows = nb_collect_stats(nb_fit(full))
        ps = nb_predict(full, stream_rows, id_cols=("doc_id",)).select(
            "doc_id", F.col("pred").alias("ps")
        )
        pb = nb_predict(full, batch_rows, id_cols=("doc_id",)).select(
            "doc_id", F.col("pred").alias("pb")
        )
        joined = ps.join(pb, "doc_id").persist()
        try:
            n_disagree = joined.filter(
                F.col("ps") != F.col("pb")
            ).count()
            if n_disagree:
                raise AssertionError(
                    f"x125: stream-trained and batch-fit models disagree "
                    f"on {n_disagree} documents"
                )
            pred_counts = {
                int(r["ps"]): int(r["n"])
                for r in joined.groupBy("ps")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        finally:
            joined.unpersist()
        n_docs = int(full.count())
    finally:
        full.unpersist()
        loop.close()

    checksum = _stats_checksum(stream_stats)
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(n_shards).cast("long").alias("n_shards"),
        F.lit(expected_batches).cast("long").alias("n_batches"),
        F.lit(checksum).cast("long").alias("stats_checksum"),
        F.lit(pred_counts.get(0, 0)).cast("long").alias("n_pred_c0"),
        F.lit(pred_counts.get(1, 0)).cast("long").alias("n_pred_c1"),
        F.lit(pred_counts.get(2, 0)).cast("long").alias("n_pred_c2"),
        F.lit(True).alias("stream_stats_equal_batch"),
        F.lit(True).alias("shards_grouped_once_each"),
        F.lit(True).alias("prequential_history_ok"),
        F.lit(True).alias("stream_model_equals_batch_model"),
    )


# --------------------------------------------------------------------------
# X126 — prequential LSTM replaying the shard layout in EPOCH ORDER.
#
# The layout's pack coordinates ARE the seeded epoch order:
# epos = pack_id * pack_size + pack_offset is the doc's start offset in
# the epoch-ordered token stream (exactly c2.strt in the oracle chain),
# so consuming shards by ascending shard_id with rows ordered by epos
# replays the corpus in the epoch-seed order the layout was built for —
# the reference's ordered training pass (models/wos_train_lstm.py:
# 83-153), where batch order IS the stream order.
#
# The session runs the REAL loop (streaming/prequential.PrequentialLSTM:
# per-batch collect -> test with current weights -> ONE Adam step) over
# consecutive shard-range groups read PARTITION-PRUNED from the layout.
# Inputs are bounded by construction: the doc_id % 7 == 3 subsample,
# sequences truncated to the first 10 tokens, dim-4 integer-derived
# token vectors ((tid * (2j+1)) % 7 * 0.5) — all recomputable from
# token_ids, no RNG.
#
# Verdicts (raise-guarded, pinned TRUE): replay_order_is_epoch_order
# (the per-group [min, max] epos intervals are strictly ascending and
# disjoint, and groups are consumed ascending — the layout arithmetic
# checked from DATA, not assumed), one_adam_step_per_batch (adam.t ==
# number of non-empty groups), history_ok (n_batches - 1 test rows,
# accuracies in [0, 1]), weights_finite (every weight array finite
# after the session). Beside them, SQL-exact replay fingerprints from
# the shared x123 chain: replayed doc count, SUM(strt) (the epoch-
# offset sum — pins that epos == the oracle's cumsum), truncated-token
# total, non-empty batch count.
#
# Scale shape: each group is one partition-pruned scan of ~n_shards/6
# shard directories; the driver-side train step touches only the
# bounded subsample (the reference's own cadence — constant batch
# size, not a corpus fraction). At 100 TB the same loop walks shard
# groups with bounded memory; the subsample is the attestation's cost
# control, not a semantic cap (log-noted in BENCH_NOTES).
# --------------------------------------------------------------------------
_X126_MOD = 7
_X126_RES = 3
_X126_TRUNC = 10
_X126_DIM = 4
_X126_TARGET_BATCHES = 6


def _x126_tokens() -> Column:
    return F.transform(
        F.slice(F.col("token_ids"), 1, _X126_TRUNC),
        lambda t: F.transform(
            F.sequence(F.lit(0), F.lit(_X126_DIM - 1)),
            lambda j: ((t * (j * 2 + 1)) % 7).cast("double") * 0.5,
        ),
    ).cast("array<array<double>>")


def _x126_oracle() -> str:
    return _x123_ctes() + f"""
    , ns AS (
      -- populated count, not id span (ADVICE r15 — see _x125_oracle)
      SELECT COUNT(DISTINCT strt // {_SHARD_TOKENS}) AS n_shards FROM c2
    ),
    gs AS (
      SELECT (n_shards + {_X126_TARGET_BATCHES - 1})
               // {_X126_TARGET_BATCHES} AS gsize
      FROM ns
    ),
    sub AS (
      SELECT c2.doc_id, c2.n_tokens, c2.strt,
             (c2.strt // {_SHARD_TOKENS}) // gs.gsize AS grp
      FROM c2 CROSS JOIN gs
      WHERE c2.doc_id % {_X126_MOD} = {_X126_RES}
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs_replayed,
      CAST(SUM(strt) AS BIGINT) AS sum_epos,
      CAST(SUM(LEAST(n_tokens, {_X126_TRUNC})) AS BIGINT)
        AS sum_trunc_tokens,
      CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_batches,
      TRUE AS replay_order_is_epoch_order,
      TRUE AS one_adam_step_per_batch,
      TRUE AS history_ok,
      TRUE AS weights_finite
    FROM sub
"""


@query("x126_train_from_shards_lstm", oracle=_x126_oracle())
def x126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the x123 shard layout in epoch order through the
    prequential LSTM session (one Adam step per shard group); report
    the SQL-exact replay fingerprints and session verdicts as one
    driver-hashable row."""
    import numpy as np

    from ..streaming.prequential import PrequentialLSTM

    path = _x123_layout(spark, sf_dir)
    layout = read_parquet_cached_schema(spark, f"{path}/shards")
    n_shards = int(
        layout.agg(F.countDistinct("shard_id").alias("n")).collect()[0][
            "n"
        ]
    )
    gsize = (
        n_shards + _X126_TARGET_BATCHES - 1
    ) // _X126_TARGET_BATCHES

    epos = (
        F.col("pack_id").cast("long") * _X123_PACK
        + F.col("pack_offset").cast("long")
    ).alias("epos")
    sub = layout.filter(
        F.col("doc_id") % _X126_MOD == _X126_RES
    ).select(
        epos,
        _x126_tokens().alias("tokens"),
        (F.col("n_tokens") % 2).cast("int").alias("label"),
        F.expr(f"CAST(shard_id AS BIGINT) div {gsize}").alias("grp"),
        F.least(F.col("n_tokens"), F.lit(_X126_TRUNC))
        .cast("long")
        .alias("trunc_tokens"),
    )

    # one pass for the group inventory + the replay fingerprints; the
    # per-group epos intervals are the replay-order verdict's evidence
    groups = sorted(
        (
            int(r["grp"]),
            int(r["n"]),
            int(r["lo"]),
            int(r["hi"]),
            int(r["tt"]),
        )
        for r in sub.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("epos").alias("lo"),
            F.max("epos").alias("hi"),
            F.sum("trunc_tokens").alias("tt"),
        )
        .collect()
    )
    if len(groups) < 3:
        raise AssertionError(
            f"x126 fixture drift: only {len(groups)} non-empty shard "
            "groups — the ordered replay needs a real session"
        )
    for (g0, _, _, hi0, _), (g1, _, lo1, _, _) in zip(
        groups, groups[1:]
    ):
        if not (g0 < g1 and hi0 < lo1):
            raise AssertionError(
                f"x126: shard groups {g0}->{g1} are not disjoint "
                f"ascending in epoch offset (hi {hi0} vs lo {lo1}) — "
                "the layout's pack coordinates must BE the epoch order"
            )

    loop = PrequentialLSTM(
        n_classes=2,
        hidden=6,
        lr=0.01,
        seed=0,
        tokens_col="tokens",
        label_col="label",
        id_col="epos",
    )
    for g, _, _, _, _ in groups:
        # partition-pruned read: shard_id range -> one shard-group scan
        loop.process_batch(
            sub.filter(F.col("grp") == g).select(
                "epos", "tokens", "label"
            ),
            g,
        )

    if loop.adam is None or int(loop.adam.t) != len(groups):
        raise AssertionError(
            f"x126: expected one Adam step per non-empty group "
            f"({len(groups)}), got "
            f"{None if loop.adam is None else loop.adam.t}"
        )
    hist = loop.results()
    if len(hist) != len(groups) - 1 or any(
        not (0.0 <= acc <= 1.0) for _, acc, _ in hist
    ):
        raise AssertionError(
            f"x126: bad prequential series (len {len(hist)}, expected "
            f"{len(groups) - 1})"
        )
    w = loop.weights
    all_arrays = list(w.w) + list(w.u) + list(w.b) + [w.head_w, w.head_b]
    if not all(np.isfinite(a).all() for a in all_arrays):
        raise AssertionError(
            "x126: non-finite weights after the session"
        )

    n_docs = sum(n for _, n, _, _, _ in groups)
    sum_epos = int(
        sub.agg(F.sum("epos").alias("s")).collect()[0]["s"]
    )
    sum_trunc = sum(tt for _, _, _, _, tt in groups)
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs_replayed"),
        F.lit(sum_epos).cast("long").alias("sum_epos"),
        F.lit(sum_trunc).cast("long").alias("sum_trunc_tokens"),
        F.lit(len(groups)).cast("long").alias("n_batches"),
        F.lit(True).alias("replay_order_is_epoch_order"),
        F.lit(True).alias("one_adam_step_per_batch"),
        F.lit(True).alias("history_ok"),
        F.lit(True).alias("weights_finite"),
    )


# --------------------------------------------------------------------------
# X127 — MID-EPOCH CRASH/RESUME of the shard-stream trainer: the loader
# side of the reference's restart/replay contract (T5 — the x113-x115
# checkpoint-recovery family applied to the TRAINING loader). A real
# trainer dies mid-epoch; the resume contract is "committed shard
# groups are never re-read, the in-flight group is redelivered exactly,
# and nothing is lost or duplicated" — Structured Streaming's file
# source gives exactly this through the checkpoint's offset/commit
# logs, and the exact integer sufficient statistics make no-loss/no-dup
# SQL-checkable, not just asserted.
#
# The session: phase 1 streams the x123 layout in shard groups (the
# x125 cadence, same checkpoint discipline) and CRASHES — a raise
# inside foreachBatch — when the 4th group arrives, BEFORE accumulating
# it (batches 0-2 committed, batch 3 planned-but-uncommitted). Phase 2
# restarts from the SAME checkpoint: the file source must redeliver
# batch 3 from the offset log with its exact file set, then plan the
# rest.
#
# Verdicts (raise-guarded, pinned TRUE by the oracle):
#  - failed_batch_redelivered: phase 2's first batch carries exactly
#    the shard set of the crashed batch;
#  - resume_no_loss_no_dup: the union of committed phase-1 groups and
#    phase-2 groups covers every shard EXACTLY once;
#  - stats_exact_after_resume: the sufficient statistics accumulated
#    across the crash boundary equal the one-pass batch recompute —
#    the resumed training run is byte-identical (at the model-defining
#    level) to a never-crashed run.
# Beside them, SQL-exact fingerprints from the shared x123 chain:
# n_docs / n_shards / stats_checksum, and the batch split
# (n_batches_committed_before_crash is the construction constant 3,
# n_batches_after_resume = total - 3 — both recomputed from n_shards
# by the oracle).
#
# Scale shape: identical to x125 (k shard files per trigger, one tiny
# agg per batch); the crash/resume adds one stream restart — offset/
# commit-log reads, O(n_batches) tiny files — never a corpus rescan.
# --------------------------------------------------------------------------
_X127_FAIL_AT = 3


def _x127_oracle() -> str:
    return _x123_ctes() + f"""
    , ns AS (
      -- populated count, not id span (ADVICE r15 — see _x125_oracle)
      SELECT CAST(COUNT(DISTINCT strt // {_SHARD_TOKENS}) AS BIGINT)
               AS n_shards
      FROM c2
    ),
    grp AS (
      SELECT n_shards,
             (n_shards + {_X125_TARGET_BATCHES - 1})
               // {_X125_TARGET_BATCHES} AS k
      FROM ns
    ),{_nb_stats_ctes()},
    ck AS (
      SELECT CAST(SUM((label * {_X125_DIM} + d + 1) *
                      (n * {_X125_CK_N} + s1 * {_X125_CK_S1} + s2))
                  AS BIGINT) AS stats_checksum
      FROM nbstats
    )
    SELECT
      CAST((SELECT COUNT(*) FROM enc) AS BIGINT) AS n_docs,
      g.n_shards,
      CAST({_X127_FAIL_AT} AS BIGINT) AS n_batches_committed_before_crash,
      CAST((g.n_shards + g.k - 1) // g.k - {_X127_FAIL_AT} AS BIGINT)
        AS n_batches_after_resume,
      ck.stats_checksum,
      TRUE AS failed_batch_redelivered,
      TRUE AS resume_no_loss_no_dup,
      TRUE AS stats_exact_after_resume
    FROM grp g CROSS JOIN ck
"""


@query("x127_shard_stream_resume", oracle=_x127_oracle())
def x127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash the shard-stream trainer mid-epoch (after 3 committed
    shard groups) and resume from the same checkpoint; report the
    no-loss/no-dup resume verdicts and the crash-spanning exact
    sufficient-stats checksum as one driver-hashable row."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ..operators.sharding import read_shards_stream

    path = _x123_layout(spark, sf_dir)
    layout = read_parquet_cached_schema(spark, f"{path}/shards")
    n_shards = int(
        layout.agg(F.countDistinct("shard_id").alias("n")).collect()[0][
            "n"
        ]
    )
    k = (n_shards + _X125_TARGET_BATCHES - 1) // _X125_TARGET_BATCHES
    expected_batches = (n_shards + k - 1) // k
    if expected_batches <= _X127_FAIL_AT + 1:
        raise AssertionError(
            f"x127 fixture drift: only {expected_batches} batches — the "
            f"crash at batch {_X127_FAIL_AT} needs committed groups on "
            "BOTH sides"
        )

    stats: dict[tuple[int, int], list[int]] = {}
    phase1_shards: list[set[int]] = []
    phase2_shards: list[set[int]] = []
    crashed_shards: list[set[int]] = []
    ckpt = scratch_index_dir(spark, "x127ckpt_")

    def _batch_shards(bdf) -> set[int]:
        return {
            int(r["shard_id"])
            for r in bdf.select("shard_id").distinct().collect()
        }

    def _features_frame(bdf) -> DataFrame:
        return bdf.select(
            _x125_features().alias("features"),
            _x125_label().alias("label"),
            "shard_id",
        )

    def _phase1(bdf, bid: int) -> None:
        if int(bid) >= _X127_FAIL_AT:
            # the crash: batch planned (offset logged) but NOT committed
            # and NOT accumulated — the resume must redeliver it. Record
            # its shard set FIRST (ADVICE r15): reading the batch for
            # verification does not commit it, and the captured set is
            # what makes failed_batch_redelivered an EXACT-set check
            # rather than a batch-id-only one.
            crashed_shards.append(_batch_shards(bdf))
            raise RuntimeError("x127-simulated-trainer-crash")
        b = _features_frame(bdf)
        phase1_shards.append(_batch_shards(bdf))
        _accumulate_stats(stats, _collect_int_stats(b))

    def _phase2(bdf, bid: int) -> None:
        b = _features_frame(bdf)
        phase2_shards.append((int(bid), _batch_shards(bdf)))
        _accumulate_stats(stats, _collect_int_stats(b))

    def _start(handler):
        return (
            read_shards_stream(
                spark,
                path,
                schema=_LAYOUT_SCHEMA,
                max_files_per_trigger=k,
                subdir="shards",
            )
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = _start(_phase1)
    crashed = False
    try:
        q1.awaitTermination(300)
    except StreamingQueryException as e:
        crashed = "x127-simulated-trainer-crash" in str(e)
    if not crashed:
        raise AssertionError(
            "x127: phase-1 stream did not fail with the simulated crash"
        )
    if len(phase1_shards) != _X127_FAIL_AT:
        raise AssertionError(
            f"x127: {len(phase1_shards)} committed groups before the "
            f"crash, expected {_X127_FAIL_AT}"
        )

    q2 = _start(_phase2)
    if not q2.awaitTermination(300):
        q2.stop()
        raise AssertionError("x127: resume stream did not drain in 300 s")

    # ---- failed_batch_redelivered: the resume's first batch must be
    # the crashed batch id carrying EXACTLY the crashed batch's shard
    # set (captured in _phase1 before the raise — ADVICE r15; the
    # offset log's redelivery contract is file-set-exact, not just
    # batch-id-exact)
    if not phase2_shards or phase2_shards[0][0] != _X127_FAIL_AT:
        raise AssertionError(
            f"x127: resume started at batch "
            f"{phase2_shards[0][0] if phase2_shards else None}, expected "
            f"the crashed batch {_X127_FAIL_AT}"
        )
    if not crashed_shards or any(
        g != crashed_shards[0] for g in crashed_shards
    ):
        raise AssertionError(
            f"x127: inconsistent crashed-batch capture {crashed_shards} "
            "— the failing batch must plan the same shard set on every "
            "delivery attempt"
        )
    if phase2_shards[0][1] != crashed_shards[0]:
        raise AssertionError(
            f"x127: resume's first batch carried shards "
            f"{sorted(phase2_shards[0][1])}, expected the crashed "
            f"batch's exact set {sorted(crashed_shards[0])}"
        )
    if len(phase2_shards) != expected_batches - _X127_FAIL_AT:
        raise AssertionError(
            f"x127: resume delivered {len(phase2_shards)} groups, "
            f"expected {expected_batches - _X127_FAIL_AT}"
        )

    # ---- resume_no_loss_no_dup (exactly-once coverage of shard ids)
    seen: set[int] = set()
    for group in phase1_shards + [g for _, g in phase2_shards]:
        if not group or (group & seen):
            raise AssertionError(
                f"x127: duplicated shard delivery {sorted(group & seen)}"
            )
        seen |= group
    if len(seen) != n_shards:
        raise AssertionError(
            f"x127: resume lost shards — saw {len(seen)}/{n_shards}"
        )

    # ---- stats_exact_after_resume (crash-spanning == one-pass)
    full = layout.select(
        _x125_features().alias("features"),
        _x125_label().alias("label"),
        "shard_id",
    )
    if stats != _collect_int_stats(full):
        raise AssertionError(
            "x127: crash-spanning sufficient stats != one-pass recompute"
        )

    n_docs = int(layout.count())
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(n_shards).cast("long").alias("n_shards"),
        F.lit(_X127_FAIL_AT)
        .cast("long")
        .alias("n_batches_committed_before_crash"),
        F.lit(expected_batches - _X127_FAIL_AT)
        .cast("long")
        .alias("n_batches_after_resume"),
        F.lit(_stats_checksum(stats)).cast("long").alias(
            "stats_checksum"
        ),
        F.lit(True).alias("failed_batch_redelivered"),
        F.lit(True).alias("resume_no_loss_no_dup"),
        F.lit(True).alias("stats_exact_after_resume"),
    )


# --------------------------------------------------------------------------
# X128 — BETWEEN-EPOCH RE-SHARD without re-running curation: the
# sharding module's core promise ("a new seeded permutation per epoch
# on top of any materialized corpus" — operators/sharding.py module
# docstring), driver-attested end-to-end for the first time. Epoch 1 is
# the x123 build (seed 5); epoch 2 is assign_shards(seed 7) applied to
# the READ-BACK epoch-1 layout — token_ids and all — then write_shards
# (manifest route) and the manifest-VERIFIED read_shards load. No
# curation, vocab fit, or encode is re-run: one range shuffle is the
# whole epoch cost, the floor for a true global re-shuffle.
#
# Verdicts (raise-guarded, pinned TRUE by the oracle):
#  - epoch2_manifest_verified: read_shards' checksum verification
#    passes on the epoch-2 layout (write -> transfer -> load contract);
#  - epoch_content_invariant: the per-(label, dim) integer sufficient
#    statistics of the epoch-2 read-back equal epoch 1's EXACTLY —
#    re-sharding permutes placement, never content, so a trainer
#    accumulating across both epochs holds exactly 2x the stats (the
#    reported checksum is over the two-epoch accumulation).
# Beside them, FULLY COMPUTED fingerprints (no pins): n_docs, both
# epochs' shard counts, the count of docs whose shard CHANGED between
# the seeds (both layouts' window-cumsum arithmetic replayed in SQL —
# the x121 independence finding, here at the assignment level), and
# the doubled-stats checksum.
#
# Scale shape: epoch 2 costs ONE epoch-key range shuffle
# (global_cumsum's decomposition) + one partitioned write; the content
# check is two classes x dims aggs; the movement count is one doc_id
# join of two narrow columns. Nothing rescans text or refits anything.
# --------------------------------------------------------------------------
_X128_SEED2 = 7

# Build-or-reuse fixture for the seed-7 EPOCH-2 re-shard of the x123
# layout, per (session, sf_dir): x128 attests the re-shard contract
# (manifest-verified round trip + content invariance), x129
# (extensions19) REPLAYS the same epoch-2 layout through the real
# multi-epoch trainer — one re-shard build feeds both (the _x123_layout
# fixture discipline applied one layer up; sweep-budget policy).
def _x128_epoch2_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int]:
    """Path of the materialized seed-7 epoch-2 layout (building it on
    first use in this session: assign_shards(seed 7) over the READ-BACK
    x123 layout -> write_shards manifest route — no curation, vocab fit
    or encode re-runs; one epoch-key range shuffle is the whole epoch
    cost) plus its shard-id span (max + 1, the write-parallelism
    notion). The written data keeps assign_shards' epoch_key column —
    x129's replay-order evidence."""
    from ..operators.sharding import assign_shards, write_shards

    def build() -> tuple[str, int]:
        path = _x123_layout(spark, sf_dir)
        layout = read_parquet_cached_schema(spark, f"{path}/shards")
        e2path = scratch_index_dir(spark, "x128epoch2_")
        assigned = assign_shards(
            layout.select("doc_id", "token_ids", "n_tokens"),
            "doc_id",
            "n_tokens",
            budget=_SHARD_TOKENS,
            seed=_X128_SEED2,
        )
        manifest = write_shards(assigned, e2path, "doc_id", "n_tokens")
        span = int(
            manifest.agg(F.max("shard_id").alias("m")).collect()[0]["m"]
        ) + 1
        return e2path, span

    return session_fixture(spark, sf_dir, "x128_epoch2", build)


def _x128_oracle() -> str:
    from ..operators.sharding import epoch_order_sql

    return _x123_ctes() + f"""
    , e2 AS (
      SELECT doc_id, n_tokens, tid_sum,
             strt // {_SHARD_TOKENS} AS shard1,
             (SUM(n_tokens) OVER (
                ORDER BY {epoch_order_sql('doc_id', _X128_SEED2)}, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - n_tokens) // {_SHARD_TOKENS} AS shard2
      FROM c2
    ),{_nb_stats_ctes()},
    ck2 AS (
      -- the TWO-EPOCH accumulation: every cell exactly doubled
      SELECT CAST(SUM((label * {_X125_DIM} + d + 1) *
                      (2 * n * {_X125_CK_N} + 2 * s1 * {_X125_CK_S1}
                       + 2 * s2)) AS BIGINT) AS stats_checksum_two_epochs
      FROM nbstats
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MAX(shard1) + 1 AS BIGINT) AS n_shards_epoch1,
      CAST(MAX(shard2) + 1 AS BIGINT) AS n_shards_epoch2,
      CAST(SUM(CASE WHEN shard1 <> shard2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_docs_moved_between_epochs,
      (SELECT stats_checksum_two_epochs FROM ck2)
        AS stats_checksum_two_epochs,
      TRUE AS epoch2_manifest_verified,
      TRUE AS epoch_content_invariant
    FROM e2
"""


@query("x128_epoch_reshard_training", oracle=_x128_oracle())
def x128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-shard the materialized x123 layout into a seed-7 epoch-2
    layout WITHOUT re-running curation (assign_shards -> write_shards ->
    manifest-verified read_shards), prove content invariance across
    epochs at the exact sufficient-stats level, and report the
    cross-epoch movement fingerprints as one driver-hashable row."""
    from ..operators.sharding import read_shards

    path = _x123_layout(spark, sf_dir)
    layout = read_parquet_cached_schema(spark, f"{path}/shards")

    # the shared epoch-2 fixture runs assign_shards -> write_shards on
    # first use (x129 replays the same layout)
    e2path, n_shards_e2 = _x128_epoch2_layout(spark, sf_dir)
    # manifest-VERIFIED load — raises on any checksum mismatch
    back = read_shards(spark, e2path, "doc_id", "n_tokens")

    stats_e1 = _collect_int_stats(
        layout.select(
            _x125_features().alias("features"),
            _x125_label().alias("label"),
        )
    )
    stats_e2 = _collect_int_stats(
        back.select(
            _x125_features().alias("features"),
            _x125_label().alias("label"),
        )
    )
    if stats_e1 != stats_e2:
        diff = {
            cell: (stats_e1.get(cell), stats_e2.get(cell))
            for cell in set(stats_e1) | set(stats_e2)
            if stats_e1.get(cell) != stats_e2.get(cell)
        }
        raise AssertionError(
            "x128: epoch-2 content differs from epoch 1 — re-sharding "
            f"must permute placement, never content: "
            f"{dict(list(diff.items())[:3])}"
        )
    two_epoch = {
        cell: [2 * n, 2 * s1, 2 * s2]
        for cell, (n, s1, s2) in stats_e1.items()
    }

    e1 = layout.select("doc_id", F.col("shard_id").alias("s1"))
    e2 = back.select("doc_id", F.col("shard_id").alias("s2"))
    row = (
        e1.join(e2, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("s1").alias("max1"),
            F.sum((F.col("s1") != F.col("s2")).cast("long")).alias(
                "moved"
            ),
        )
        .collect()[0]
    )
    n_docs, n_moved = int(row["n_docs"]), int(row["moved"] or 0)
    if n_moved == 0:
        raise AssertionError(
            "x128: no document changed shard between seeds 5 and 7 — "
            "epoch re-shuffles must actually permute"
        )
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(int(row["max1"]) + 1).cast("long").alias(
            "n_shards_epoch1"
        ),
        F.lit(n_shards_e2).cast("long").alias("n_shards_epoch2"),
        F.lit(n_moved).cast("long").alias("n_docs_moved_between_epochs"),
        F.lit(_stats_checksum(two_epoch)).cast("long").alias(
            "stats_checksum_two_epochs"
        ),
        F.lit(True).alias("epoch2_manifest_verified"),
        F.lit(True).alias("epoch_content_invariant"),
    )
