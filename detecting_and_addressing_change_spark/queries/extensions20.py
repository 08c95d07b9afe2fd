"""Round-17 extension queries: driver attestation for the two r16
operator surfaces that were pytest-only (VERDICT r16 #3/#4), plus the
LSTM half of the multi-epoch training session (VERDICT r16 #5).

- **x130** — the shard-growth planner (`operators/sharding.py`:
  `plan_shard_growth` / `measure_shard_growth` / `shard_route_family`)
  executed against real ids with the oracle recomputing every per-step
  moved count EXACTLY from the same hash arithmetic — zero pins. The
  planner is the 100 TB re-layout contract: before moving a corpus
  between shard counts, the operator puts a measured moved-fraction in
  front of the decision, with family flips (the 1024 -> 1025 near-prime
  cliff) flagged as full_reshuffle, never silent.
- **x131** — the SIZED shard cut's arithmetic
  (`curation._derive_packs_per_shard`, the sqrt default that decides
  the physical layout of every training build) executed by the real
  production function over the materialized x123 layout and recomputed
  by the oracle as isqrt(ceil(total_tokens / pack)) from the same
  corpus agg, beside the layout's per-shard-size histogram
  fingerprints. Rides the shared `_x123_layout` fixture — no second
  build.
- **x132** — ONE PrequentialLSTM session through two full epochs (the
  x123 seed-5 layout then the x128 seed-7 re-shard) with weights AND
  Adam moments carried across the epoch boundary — the reference's
  `stream.restart()` + re-iterate for its OTHER model family
  (``models/wos_train_lstm.py:168-169``; x129 closed the NB half in
  r16). Rides `_x123_layout` + `_x128_epoch2_layout` (budget policy:
  reuse, don't rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, local_table
from .extensions17 import _X123_PACK, _x123_ctes, _x123_layout
from .extensions18 import (
    _SHARD_TOKENS,
    _X126_MOD,
    _X126_RES,
    _X126_TRUNC,
    _X128_SEED2,
    _x126_tokens,
    _x128_epoch2_layout,
)
from .registry import query
from ..sources.tables import read_parquet_cached_schema

# --------------------------------------------------------------------------
# X130 — shard-growth plan verdict. Two plans over the documents ids:
#
#  - grow 1024 -> 1089: the (32,32) -> (33,33) two-level path the
#    planner decomposes one level at a time — a group_grow through the
#    EXPLICIT intermediate (33,32) then a slot_grow to (33,33); each
#    step's movement is measured in PLACEMENT coordinates (the (group,
#    slot) physical home — the flat label relabeling with
#    slots_per_group is metadata, measured ~97% for a step that moves
#    1/33 — the r16 finding documented at _placement_struct);
#  - flip 1024 -> 1025: the near-prime cliff. 1025 = 5^2 * 41 factors
#    too skinny for the two-level route (best divisor 25 <
#    _TWO_LEVEL_ROUTE_MIN_GROUPS), so the adaptive route falls back to
#    flat — a FAMILY flip the planner must flag as one full_reshuffle
#    step, never silent.
#
# The oracle replays both plans' endpoint draws with the exact SQL hash
# mirrors (rendezvous_shard_two_level_sql / rendezvous_shard_sql — the
# x117-x122 parity machinery) and recomputes each step's n_moved by the
# same placement-coordinate comparison: every count in the row is
# cross-engine-exact, zero pins. The plan/kind/n_from/n_to columns are
# closed-form spec constants of the two FIXED plans (the routing rule
# is deterministic), not generated literals; in-query raise-guards fail
# loudly if the routing tables ever drift from them.
#
# Scale shape: each step is one zero-shuffle narrow map pair + one
# aggregate over the id column — nothing shuffles the corpus; this is
# exactly the pre-flight measurement a 100 TB re-layout runs before
# committing to movement.
# --------------------------------------------------------------------------
_X130_GROW = (1024, 1089)
_X130_FLIP = (1024, 1025)


def _x130_oracle() -> str:
    from ..operators.sharding import (
        rendezvous_shard_sql,
        rendezvous_shard_two_level_sql,
    )

    p1024 = rendezvous_shard_two_level_sql("doc_id", 32, 32)
    p1056 = rendezvous_shard_two_level_sql("doc_id", 33, 32)
    p1089 = rendezvous_shard_two_level_sql("doc_id", 33, 33)
    # 1025 is near-prime: the adaptive route (mirrored by
    # rendezvous_shard_sql) declines the two-level form and emits the
    # flat draw — asserted in the query body, so a routing-rule drift
    # raises there instead of silently diverging from this SQL
    pflat = rendezvous_shard_sql("doc_id", 1025)
    return f"""
    WITH draws AS (
      SELECT doc_id,
             {p1024} AS s1024,
             {p1056} AS s1056,
             {p1089} AS s1089,
             {pflat} AS sflat
      FROM documents
    ),
    steps AS (
      -- placement home: two-level (shard // spg, shard % spg) with the
      -- config's OWN spg; flat (shard, 0). A row moved iff its home
      -- changed (operators/sharding.py _placement_struct).
      SELECT 'grow' AS plan, 0 AS step_idx, 'group_grow' AS kind,
             1024 AS n_from, 1056 AS n_to,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN s1024 // 32 <> s1056 // 32
                        OR s1024 % 32 <> s1056 % 32
                      THEN 1 ELSE 0 END) AS n_moved
      FROM draws
      UNION ALL
      SELECT 'grow', 1, 'slot_grow', 1056, 1089, COUNT(*),
             SUM(CASE WHEN s1056 // 32 <> s1089 // 33
                        OR s1056 % 32 <> s1089 % 33
                      THEN 1 ELSE 0 END)
      FROM draws
      UNION ALL
      SELECT 'flip', 0, 'full_reshuffle', 1024, 1025, COUNT(*),
             SUM(CASE WHEN s1024 // 32 <> sflat OR s1024 % 32 <> 0
                      THEN 1 ELSE 0 END)
      FROM draws
    )
    SELECT plan, CAST(step_idx AS BIGINT) AS step_idx, kind,
           CAST(n_from AS BIGINT) AS n_from,
           CAST(n_to AS BIGINT) AS n_to,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_moved AS BIGINT) AS n_moved
    FROM steps
"""


@query("x130_shard_growth_plan", oracle=_x130_oracle())
def x130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan and MEASURE two shard-growth paths over the real documents
    ids — the (32,32) -> (33,33) level-at-a-time growth and the
    1024 -> 1025 near-prime family flip — and report one row per plan
    step with the measured placement-coordinate movement; the oracle
    recomputes every moved count exactly from the same hash draws."""
    from ..operators.sharding import (
        measure_shard_growth,
        shard_route_family,
    )

    # routing-table preconditions: the oracle's SQL mirrors these exact
    # configs, so a route drift must raise here, not hash-mismatch there
    expect_routes = {
        1024: ("two_level", (32, 32)),
        1089: ("two_level", (33, 33)),
        1025: ("flat", None),
    }
    for n, want in expect_routes.items():
        got = shard_route_family(n)
        if got != want:
            raise AssertionError(
                f"x130 routing drift: shard_route_family({n}) = {got}, "
                f"oracle mirrors {want} — update both together"
            )

    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    grow = measure_shard_growth(ids, "doc_id", *_X130_GROW)
    flip = measure_shard_growth(ids, "doc_id", *_X130_FLIP)

    if [s["kind"] for s in grow] != ["group_grow", "slot_grow"] or [
        s["kind"] for s in flip
    ] != ["full_reshuffle"]:
        raise AssertionError(
            f"x130 plan drift: grow kinds {[s['kind'] for s in grow]}, "
            f"flip kinds {[s['kind'] for s in flip]}"
        )
    # movement sanity (the property-test bands, enforced on the driver
    # path too): each grow step moves a nonzero small multiple of its
    # expectation; the family flip moves essentially everything
    for s in grow:
        frac = s["moved_fraction"]
        if not 0.0 < frac < 4.0 * s["expected_moved_fraction"]:
            raise AssertionError(
                f"x130 movement out of band: {s['kind']} moved "
                f"{frac:.4f} vs expected {s['expected_moved_fraction']:.4f}"
            )
    if not flip[0]["moved_fraction"] > 0.9:
        raise AssertionError(
            f"x130: full_reshuffle moved only "
            f"{flip[0]['moved_fraction']:.4f} — the flip should move "
            "essentially every row"
        )

    rows = [
        (plan, i, s["kind"], s["n_from"], s["n_to"], s["n_rows"],
         s["n_moved"])
        for plan, steps in (("grow", grow), ("flip", flip))
        for i, s in enumerate(steps)
    ]
    return local_table(
        spark,
        rows,
        "plan string, step_idx long, kind string, n_from long, "
        "n_to long, n_rows long, n_moved long",
    )


# --------------------------------------------------------------------------
# X131 — sized-shard-cut arithmetic verdict. The sqrt default
# (curation._derive_packs_per_shard: packs_per_shard = isqrt(n_packs)
# when no sizing parameter is given) decides the physical layout of
# every 100 TB training build — file count O(sqrt(corpus)), the
# small-files defense measured in the r16 slope table (read-back 1.38x
# per 10x rows vs 8.46x at the old fixed cut) — but through r16 it was
# pytest-only: x123 pins the explicit-parameter path. This query
# executes the REAL production function (including its one corpus agg)
# over the materialized x123 layout and reports the derived
# packs_per_shard and resulting shard count beside the layout's
# per-shard-size histogram fingerprints; the oracle recomputes
# isqrt(ceil(total_tokens / pack)) from the same corpus arithmetic
# (FLOOR(SQRT(n)) is exact for n < 2^52) and the histogram from the
# x123 CTE chain. Zero pins. Rides the shared `_x123_layout` fixture —
# the sizing agg is the only new work.
# --------------------------------------------------------------------------
def _x131_oracle() -> str:
    return _x123_ctes() + f"""
    , tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST((SUM(n_tokens) + {_X123_PACK - 1}) // {_X123_PACK}
                  AS BIGINT) AS n_packs
      FROM c2
    ),
    sized AS (
      SELECT total_tokens, n_packs,
             CAST(FLOOR(SQRT(n_packs)) AS BIGINT) AS derived_pps
      FROM tot
    ),
    hist AS (
      -- per-shard token sums of the MATERIALIZED (pps=4) layout: a doc
      -- belongs to the shard of its starting pack
      SELECT strt // {_SHARD_TOKENS} AS sid,
             SUM(n_tokens) AS shard_tokens
      FROM c2 GROUP BY sid
    )
    SELECT s.total_tokens, s.n_packs,
           s.derived_pps AS derived_packs_per_shard,
           CAST((s.n_packs + s.derived_pps - 1) // s.derived_pps
                AS BIGINT) AS derived_n_shards,
           CAST((SELECT COUNT(*) FROM hist) AS BIGINT) AS n_shards_actual,
           CAST((SELECT MIN(shard_tokens) FROM hist) AS BIGINT)
             AS shard_tokens_min,
           CAST((SELECT MAX(shard_tokens) FROM hist) AS BIGINT)
             AS shard_tokens_max,
           CAST((SELECT SUM(sid * shard_tokens) FROM hist) AS BIGINT)
             AS shard_tokens_checksum
    FROM sized s
"""


@query("x131_sized_shard_cut", oracle=_x131_oracle())
def x131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the real sized-shard-cut derivation
    (curation._derive_packs_per_shard, sqrt default) over the
    materialized x123 layout and report the derived layout parameters
    beside the layout's per-shard-size histogram fingerprints — every
    column recomputed exactly by the oracle."""
    import math

    from ..curation import _derive_packs_per_shard

    shards = read_parquet_cached_schema(spark, f"{_x123_layout(spark, sf_dir)}/shards")

    # the REAL production call (one corpus agg, the sqrt default path)
    derived_pps = _derive_packs_per_shard(
        shards, _X123_PACK, target_shard_bytes=None, max_shards=None
    )

    row = shards.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.max("pack_id").cast("long").alias("max_pack_id"),
    ).collect()[0]
    total = int(row["total"])
    # the SIZING pack count is ceil of the token stream — docs straddle
    # pack boundaries, so the max STARTING pack id sits at or below it
    # (591 starting packs vs 593 stream packs at sf0.01; the x125
    # populated-vs-span distinction, ADVICE r15)
    n_packs = -(-total // _X123_PACK)
    if not 0 < int(row["max_pack_id"]) < n_packs:
        raise AssertionError(
            f"x131: max starting pack id {row['max_pack_id']} outside "
            f"the sizing range ceil({total}/{_X123_PACK}) = {n_packs}"
        )
    if derived_pps != math.isqrt(n_packs):
        raise AssertionError(
            f"x131: derived packs_per_shard {derived_pps} != "
            f"isqrt({n_packs}) = {math.isqrt(n_packs)}"
        )
    if not 1 < derived_pps < n_packs:
        raise AssertionError(
            f"x131 vacuous at this scale: derived_pps {derived_pps} of "
            f"{n_packs} packs — the sqrt sizing needs a real corpus"
        )

    hist = shards.groupBy("shard_id").agg(
        F.sum("n_tokens").cast("long").alias("st")
    )
    h = hist.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.min("st").alias("mn"),
        F.max("st").alias("mx"),
        F.sum(F.col("shard_id").cast("long") * F.col("st")).alias("ck"),
    ).collect()[0]

    return spark.range(1).select(
        F.lit(total).cast("long").alias("total_tokens"),
        F.lit(n_packs).cast("long").alias("n_packs"),
        F.lit(derived_pps).cast("long").alias("derived_packs_per_shard"),
        F.lit(-(-n_packs // derived_pps)).cast("long").alias(
            "derived_n_shards"
        ),
        F.lit(int(h["n_shards"])).cast("long").alias("n_shards_actual"),
        F.lit(int(h["mn"])).cast("long").alias("shard_tokens_min"),
        F.lit(int(h["mx"])).cast("long").alias("shard_tokens_max"),
        F.lit(int(h["ck"])).cast("long").alias("shard_tokens_checksum"),
    )


# --------------------------------------------------------------------------
# X132 — multi-epoch LSTM training across the epoch re-shard: the LSTM
# half of x129 (VERDICT r16 #5). ONE PrequentialLSTM walks the x126
# subsample through epoch 1 (the x123 seed-5 layout, replay order = the
# materialized pack offsets) then epoch 2 (the x128 seed-7 re-shard,
# replay order = the (epoch_key, doc_id) coordinates the cut was made
# on), with weights AND Adam moments carried across the boundary — the
# reference's restart-and-re-iterate for its LSTM family
# (models/wos_train_lstm.py:168-169: the Adam state lives in the model
# object across stream.restart()).
#
# Verdicts (raise-guarded, pinned TRUE):
#  - epoch_replay_orders_disjoint_ascending: within EACH epoch the
#    subsample's per-group replay intervals are strictly ascending and
#    disjoint in that epoch's own order coordinates (the x126/x129
#    evidence);
#  - adam_state_carried_across_epochs: adam.t == n_batches_epoch1 at
#    the epoch boundary and == total batches at the end — one step per
#    group with the moments NEVER reset (a fresh optimizer would
#    restart t at the boundary);
#  - history_ok: exactly total_batches - 1 test rows (only the
#    session's FIRST group has no model; the epoch-2 first group tests
#    the epoch-1-trained model), accuracies in [0, 1];
#  - weights_finite: every weight array finite after both epochs.
# Beside them, SQL-exact fingerprints: subsample doc count, the epoch-1
# order-coordinate sum (epos == the oracle's cumsum), the epoch-2
# shard-order checksum (the seed-7 window arithmetic), truncated-token
# total, per-epoch batch counts.
#
# Scale shape: 2 x ~3 partition-pruned group scans over the subsample +
# driver-side train steps bounded by the reference's own batch cadence;
# the epoch-2 layout is the shared fixture's ONE range shuffle. The
# group count is a cadence parameter (the x129 precedent).
# --------------------------------------------------------------------------
_X132_GROUPS = 3


def _x132_oracle() -> str:
    from ..operators.sharding import epoch_order_sql

    return _x123_ctes() + f"""
    , e2 AS (
      SELECT doc_id, n_tokens,
             strt // {_SHARD_TOKENS} AS shard1,
             (SUM(n_tokens) OVER (
                ORDER BY {epoch_order_sql('doc_id', _X128_SEED2)}, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - n_tokens) // {_SHARD_TOKENS} AS shard2,
             strt
      FROM c2
    ),
    gsz AS (
      -- populated-count group sizing in each epoch's OWN layout
      SELECT
        (COUNT(DISTINCT shard1) + {_X132_GROUPS - 1}) // {_X132_GROUPS}
          AS g1,
        (COUNT(DISTINCT shard2) + {_X132_GROUPS - 1}) // {_X132_GROUPS}
          AS g2
      FROM e2
    ),
    sub AS (
      SELECT e2.doc_id, e2.n_tokens, e2.strt, e2.shard2,
             e2.shard1 // gsz.g1 AS grp1,
             e2.shard2 // gsz.g2 AS grp2
      FROM e2 CROSS JOIN gsz
      WHERE e2.doc_id % {_X126_MOD} = {_X126_RES}
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs_replayed,
      CAST(SUM(strt) AS BIGINT) AS sum_epos_epoch1,
      CAST(SUM(shard2 * doc_id) AS BIGINT) AS order_checksum_epoch2,
      CAST(SUM(LEAST(n_tokens, {_X126_TRUNC})) AS BIGINT)
        AS sum_trunc_tokens,
      CAST(COUNT(DISTINCT grp1) AS BIGINT) AS n_batches_epoch1,
      CAST(COUNT(DISTINCT grp2) AS BIGINT) AS n_batches_epoch2,
      TRUE AS epoch_replay_orders_disjoint_ascending,
      TRUE AS adam_state_carried_across_epochs,
      TRUE AS history_ok,
      TRUE AS weights_finite
    FROM sub
"""


@query("x132_multi_epoch_lstm", oracle=_x132_oracle())
def x132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run ONE prequential LSTM (weights + Adam moments carried) through
    two full epochs — the x123 seed-5 layout then the x128 seed-7
    re-shard — on the x126 subsample cadence; report the per-epoch
    replay fingerprints and session verdicts as one driver-hashable
    row."""
    import numpy as np

    from ..streaming.prequential import PrequentialLSTM

    path1 = _x123_layout(spark, sf_dir)
    layout1 = read_parquet_cached_schema(spark, f"{path1}/shards")
    path2, _span2 = _x128_epoch2_layout(spark, sf_dir)
    layout2 = read_parquet_cached_schema(spark, f"{path2}/data")

    epos = (
        F.col("pack_id").cast("long") * _X123_PACK
        + F.col("pack_offset").cast("long")
    )

    def epoch_frame(layout: DataFrame, order_col, label: str):
        """Subsample one epoch's layout, group it by populated-count
        sizing over the FULL layout's shard inventory, and raise-guard
        the subsample's replay intervals (strictly ascending, disjoint
        in the epoch's own order coordinates)."""
        n_shards = int(
            layout.agg(F.countDistinct("shard_id").alias("n")).collect()[
                0
            ]["n"]
        )
        gsize = (n_shards + _X132_GROUPS - 1) // _X132_GROUPS
        sub = (
            layout.filter(F.col("doc_id") % _X126_MOD == _X126_RES)
            .withColumn(
                "grp", F.expr(f"CAST(shard_id AS BIGINT) div {gsize}")
            )
            .withColumn("__ord", order_col)
        )
        groups = sorted(
            (int(r["grp"]), r["lo"], r["hi"], int(r["n"]), int(r["tt"]))
            for r in sub.groupBy("grp")
            .agg(
                F.min("__ord").alias("lo"),
                F.max("__ord").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.least(F.col("n_tokens"), F.lit(_X126_TRUNC)).cast(
                        "long"
                    )
                ).alias("tt"),
            )
            .collect()
        )
        if len(groups) < 2:
            raise AssertionError(
                f"x132 fixture drift: epoch {label} has {len(groups)} "
                "non-empty subsample groups — the walk needs a real "
                "per-epoch session"
            )
        for (g0, _, hi0, _, _), (g1, lo1, _, _, _) in zip(
            groups, groups[1:]
        ):
            if not (g0 < g1 and tuple(hi0) < tuple(lo1)):
                raise AssertionError(
                    f"x132: epoch {label} groups {g0}->{g1} not "
                    f"disjoint ascending in the epoch order ({hi0} vs "
                    f"{lo1}) — the shard cut must BE the epoch order"
                )
        return sub, groups

    ord1 = F.struct(epos.alias("a"), F.col("doc_id").cast("long").alias("b"))
    ord2 = F.struct(
        F.col("epoch_key").cast("long").alias("a"),
        F.col("doc_id").cast("long").alias("b"),
    )
    sub1, groups1 = epoch_frame(layout1, ord1, "1")
    sub2, groups2 = epoch_frame(layout2, ord2, "2")

    loop = PrequentialLSTM(
        n_classes=2,
        hidden=6,
        lr=0.01,
        seed=0,
        tokens_col="tokens",
        label_col="label",
        id_col="epos",
    )
    for sub, groups in ((sub1, groups1), (sub2, groups2)):
        for g, *_ in groups:
            # partition-pruned group scan (shard_id range)
            loop.process_batch(
                sub.filter(F.col("grp") == g).select(
                    F.col("__ord")["a"].alias("epos"),
                    _x126_tokens().alias("tokens"),
                    (F.col("n_tokens") % 2).cast("int").alias("label"),
                ),
                g,
            )
        if sub is sub1:
            # the epoch boundary: one Adam step per epoch-1 group, the
            # moments object about to be REUSED by epoch 2
            if loop.adam is None or int(loop.adam.t) != len(groups1):
                raise AssertionError(
                    f"x132: expected adam.t == {len(groups1)} at the "
                    f"epoch boundary, got "
                    f"{None if loop.adam is None else loop.adam.t}"
                )
            boundary_adam = loop.adam

    total_batches = len(groups1) + len(groups2)
    if loop.adam is not boundary_adam or int(loop.adam.t) != total_batches:
        raise AssertionError(
            f"x132: Adam state not carried across the epoch boundary "
            f"(t = {loop.adam.t}, expected {total_batches}; same object: "
            f"{loop.adam is boundary_adam})"
        )
    hist = loop.results()
    if len(hist) != total_batches - 1 or any(
        not (0.0 <= acc <= 1.0) for _, acc, _ in hist
    ):
        raise AssertionError(
            f"x132: bad prequential series (len {len(hist)}, expected "
            f"{total_batches - 1}) — the epoch-2 first group must test "
            "the epoch-1-trained model"
        )
    w = loop.weights
    all_arrays = list(w.w) + list(w.u) + list(w.b) + [w.head_w, w.head_b]
    if not all(np.isfinite(a).all() for a in all_arrays):
        raise AssertionError("x132: non-finite weights after the session")

    # SQL-exact fingerprints (epoch-1 coordinates are the materialized
    # pack offsets == the oracle's cumsum; epoch-2 checksum is the
    # seed-7 window arithmetic, x128-parity)
    n_docs = sum(n for _, _, _, n, _ in groups1)
    sum_epos = int(
        sub1.agg(F.sum(F.col("__ord")["a"]).alias("s")).collect()[0]["s"]
    )
    ck2 = int(
        sub2.agg(
            F.sum(
                F.col("shard_id").cast("long")
                * F.col("doc_id").cast("long")
            ).alias("s")
        ).collect()[0]["s"]
    )
    sum_trunc = sum(tt for _, _, _, _, tt in groups1)
    return spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs_replayed"),
        F.lit(sum_epos).cast("long").alias("sum_epos_epoch1"),
        F.lit(ck2).cast("long").alias("order_checksum_epoch2"),
        F.lit(sum_trunc).cast("long").alias("sum_trunc_tokens"),
        F.lit(len(groups1)).cast("long").alias("n_batches_epoch1"),
        F.lit(len(groups2)).cast("long").alias("n_batches_epoch2"),
        F.lit(True).alias("epoch_replay_orders_disjoint_ascending"),
        F.lit(True).alias("adam_state_carried_across_epochs"),
        F.lit(True).alias("history_ok"),
        F.lit(True).alias("weights_finite"),
    )
