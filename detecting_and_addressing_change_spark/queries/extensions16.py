"""Round-12 extension queries: checkpoint recovery of the BUILT-IN
stateful streaming surface — VERDICT r11 #2 (x113, the watermarked
window aggregation) plus its siblings for the other two built-in state
shapes (x114, the stream-stream join's buffered state; x115, the
bounded-state dedup's seen-keys map).

Round-17 consolidation (VERDICT r16 #2): the three recovery queries
were separate registry rows through r16 (x113 green r12-r16, x114/x115
green r12-r16) and paid SIX sequential streaming drains per sweep pass
(two incarnations x three shapes, ~25 s cold combined — each drain
mostly data-independent startup + state-store floor). They are now ONE
registry row, x113_checkpoint_recovery_verdict, that kills and resumes
all three state shapes with the incarnations of a phase started
CONCURRENTLY: each shape keeps its own staged layout, checkpoint and
parquet file sink (the three queries share nothing but the wall
clock), run 1 of every shape drains in one window, then run 2 of every
shape resumes from its own checkpoint in a second window. The replay
syntheses, their preconditions and the three streaming operators are
x110's own (extensions15), and every raise-guarded verdict of the
three original queries is preserved below; only the returned row shape
changed — one FINGERPRINT row per state shape (the x100/x104 pattern:
count + key/value sums the oracle recomputes from scratch, verdict
booleans raise-guarded in-query then pinned TRUE).

x99 attested restart-safety for the foreachBatch/CDC upsert path, but
the built-in stateful operators the r11 round closed (x110 watermarked
window aggregation, x111 bounded-state dedup, x112 stream-stream join)
had only ever run UNINTERRUPTED availableNow replays: the one streaming
posture never driver-attested before r12 was killing such a query
mid-replay and resuming it from its ``checkpointLocation``.

Shape 1 — window_agg (the original x113): the exact x110 stack (same
synthesized event-time replay, same watermark/window arithmetic —
constants imported from extensions15, construction cited there) split
across TWO streaming query incarnations sharing one checkpoint and one
parquet FILE sink:

  run 1: batches 0-2 staged -> availableNow drains them -> graceful stop.
         The checkpoint now holds the seen-file log, the open-window
         state store, and watermark 940 (the spacer batch pins it under
         a one- OR two-batch filter lag, the x110 engine fact).
  run 2: batches 3-5 staged into the same directory -> a NEW query on
         the SAME checkpoint + sink resumes: the LATE batch is filtered
         against the RESTORED watermark (940), the accepted straggler
         merges into a window whose partial count lives in the RESTORED
         state store, and the final no-data batch (watermark 2140)
         closes everything through [2040, 2100).

  Verdicts (raise-guarded): watermark_restored — total emitted rows
  match the late-drop arithmetic at watermark 940; window_state
  restored — the [960, 1020) window's count equals its run-1 rows PLUS
  the run-2 accepted straggler; exactly-once — no (win_start,
  event_type) key appears twice across the two incarnations (the
  parquet sink's ``_spark_metadata`` commit log read back through the
  production consumer path).

Shape 2 — join_buffer (the original x114): the x112 two-sided-watermark
stream-stream inner join split after batch 0 of BOTH sources: run 1
emits the same-batch pairs and leaves the cross-batch pair's LEFT row
(key m100 == 83, t = 830) sitting in the join buffer when the query
stops; its RIGHT partner (t = 860) arrives only in the resumed
incarnation, so the pair can ONLY be emitted by matching against the
RESTORED buffer — run-1-snapshot-checked in-query. The late left leg
replays after the resume too, so its drop attests the restored
two-sided watermark. Same margins as x112 (the buffered row's eviction
bound 890 sits above any possible restored watermark 680/710; the late
leg's times <= 970 sit far below the 1740 its batch sees), and the
final sink must equal the uninterrupted x112 emission set, recomputed
from scratch by the oracle.

Shape 3 — dedup_map (the original x115): x111's
`dropDuplicatesWithinWatermark` seen-keys map killed and resumed. The
replay splits after batch 0 (the originals): run 1 emits every first
occurrence and stops with the whole key map in state at watermark 690;
run 2 resumes and replays the WITHIN-HORIZON redelivery first — its
dedup can only come from the RESTORED key map (first-seen t = 930,
expiry >= 1230 under any eviction rule, far above the restored 690),
so a checkpoint that lost the map re-emits it and fails both the
raise-guard and the oracle. The jump/spacer batches then advance the
watermark to 1740 and the BEYOND-HORIZON redelivery re-emits —
eviction executed by the resumed incarnation over restored state.
Final sink must equal x111's uninterrupted emission set, recomputed in
closed form (zero pins).

Together the three shapes complete checkpoint-recovery attestation for
every built-in state shape the engine uses.

Reference parity: the reference's detector loops restart from persisted
model state (``streams/stream_data.py:79-203`` restart + the checkpoint
sinks SURVEY §2.1 S6/S7 cover); this query attests the Spark-native
equivalent for the engine's built-in stateful operators. Driver-gated,
NOT benched (streaming floor, the documented bench budget policy).

Scale shape: three narrow synthesis passes, staged replay writes, and
the standard stateful-operator queries — checkpoint recovery cost is
O(state), independent of corpus size; at 100 TB the same
checkpointLocation mechanics carry a 1000-executor query across
executor loss, driver restart, and code redeploy. The in-process
concurrency here is attestation-budget engineering, not the production
posture — a real cluster runs each recovery independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extensions15 import (
    _X110_BASE,
    _X110_DELAY,
    _X110_WIN,
    _band_join,
    _dedup_within_horizon,
    _fingerprint_rows,
    _replay_syntheses,
    _window_counts,
    _x110_shape_ctes,
)
from .registry import query, scratch_index_dir
from ..sources.tables import read_parquet_cached_schema


# --------------------------------------------------------------------------
# X114 (folded into x113, round 17): the join-buffer recovery verdict —
# see "Shape 2" in the module docstring. Standalone registry row green
# r12-r16; its synthesis, preconditions, raise-guards and oracle
# emission arithmetic moved verbatim into
# x113_checkpoint_recovery_verdict (VERDICT r16 #2 sweep
# consolidation: the trio shared one staged-layout PATTERN but paid
# three separate streaming drains per incarnation phase).
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# X115 (folded into x113, round 17): the dedup-state recovery verdict —
# see "Shape 3" in the module docstring. Standalone registry row green
# r12-r16; folded on the same grounds as x114 above.
# --------------------------------------------------------------------------


def _x113_oracle() -> str:
    rows, window, dedup, join = _x110_shape_ctes()
    return (
        rows
        + f"""    -- window_agg shape: identical emission arithmetic to x110's oracle;
    -- the late batch is filtered at watermark 1240 - {_X110_DELAY} = 940
    -- (RESTORED from the checkpoint rather than carried in memory), and
    -- the final watermark 2440 - {_X110_DELAY} = 2140 emits windows with
    -- start <= 2080
"""
        + window
        + """    -- join_buffer shape: the uninterrupted x112 emission set (in-batch
    -- pairs + the cross-restart pair served from the restored buffer)
"""
        + join
        + """    -- dedup_map shape: every key's FIRST occurrence plus the
    -- beyond-horizon redeliveries the evicted state cannot remember
"""
        + dedup
        + """    fp AS (
      SELECT 'window_agg' AS state_shape,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(win_start) AS BIGINT) AS fp_key_sum,
             CAST(SUM(n) AS BIGINT) AS fp_val_sum
      FROM w_grouped
      UNION ALL
      SELECT 'join_buffer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(k) AS BIGINT),
             CAST(SUM(lt) + SUM(rt) AS BIGINT)
      FROM j_pairs
      UNION ALL
      SELECT 'dedup_map',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(k) AS BIGINT),
             CAST(SUM(t) AS BIGINT)
      FROM d_emitted
    )
    SELECT state_shape, n_rows, fp_key_sum, fp_val_sum,
           TRUE AS state_restored,
           TRUE AS late_discipline_ok,
           TRUE AS exactly_once_resume
    FROM fp
"""
    )


@query("x113_checkpoint_recovery_verdict", oracle=_x113_oracle())
def x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three built-in state shapes (watermarked window aggregation,
    stream-stream join buffer, bounded-state dedup key map) killed
    mid-replay and RESUMED from their checkpointLocations, the
    incarnations of each phase drained concurrently; the recovered
    final sinks (real parquet file sinks read through their
    _spark_metadata commit logs) must equal the uninterrupted runs'
    emission sets, which the oracle recomputes — returned as one
    fingerprint row per shape."""
    from ..streaming.replay import (
        drain_all,
        read_replay_stream,
        scoped_state_partitions,
        stage_replay_files,
    )

    rp = _replay_syntheses(spark, sf_dir, "x113")

    # ---------------- staging dirs, sinks, checkpoints (per shape)
    tmp = scratch_index_dir(spark, "ckpt113_")
    w_staged, w_sink, w_ckpt = f"{tmp}/w/staged", f"{tmp}/w/sink", f"{tmp}/w/ckpt"
    l_staged, r_staged = f"{tmp}/j/left", f"{tmp}/j/right"
    j_sink, j_ckpt = f"{tmp}/j/sink", f"{tmp}/j/ckpt"
    d_staged, d_sink, d_ckpt = f"{tmp}/d/staged", f"{tmp}/d/sink", f"{tmp}/d/ckpt"
    w_schema = "replay_batch long, ts timestamp, event_type string"
    j_schema = "replay_batch long, k long, ts timestamp"
    d_schema = "replay_batch long, k long, ts timestamp"

    def _stage(df, dest, lo, hi, start_index):
        stage_replay_files(
            df.filter(
                (F.col("replay_batch") >= lo)
                & (F.col("replay_batch") <= hi)
            ),
            "replay_batch",
            dest,
            batch_size=1,
            start_index=start_index,
        )

    def start(out: DataFrame, sink: str, ckpt: str):
        """Start an incarnation on a shape's SHARED checkpoint + parquet
        sink (NOT awaited here)."""
        return (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def start_window(lo: int, hi: int, start_index: int):
        """Stage window-agg batches [lo, hi], then start an incarnation."""
        _stage(rp.w_rows.drop("__t"), w_staged, lo, hi, start_index)
        stream = read_replay_stream(spark, w_staged, w_schema)
        return start(_window_counts(stream), w_sink, w_ckpt)

    def start_join(lo: int, hi: int, start_index: int):
        """Stage join batches [lo, hi] on BOTH sources (equal file
        counts per phase, so triggers pair deterministically across the
        restart exactly as in x112's single run), then start an
        incarnation."""
        _stage(rp.j_left, l_staged, lo, hi, start_index)
        _stage(rp.j_right, r_staged, lo, hi, start_index)
        out = _band_join(
            read_replay_stream(spark, l_staged, j_schema),
            read_replay_stream(spark, r_staged, j_schema),
        )
        return start(out, j_sink, j_ckpt)

    def start_dedup(lo: int, hi: int, start_index: int):
        """Stage dedup batches [lo, hi], then start an incarnation."""
        _stage(rp.d_rows, d_staged, lo, hi, start_index)
        stream = read_replay_stream(spark, d_staged, d_schema)
        return start(_dedup_within_horizon(stream), d_sink, d_ckpt)

    # Scoped state partitions (see streaming/replay.py — join state is
    # committed PER SIDE per batch, the heaviest case of the commit
    # overhead the helper documents). One scope covers all six
    # incarnations; each checkpoint pins its count at first start and
    # Spark restores it on resume.
    with scoped_state_partitions(spark):
        # PHASE 1 (concurrent): window batches 0-2 (normal + jump1 +
        # spacer1 — checkpoint persists watermark 940 and open-window
        # state), join batch 0 of both sources (leaves the cross pair's
        # left row in the buffer), dedup batch 0 (the originals — whole
        # key map enters state at watermark 690). Graceful stops.
        drain_all(
            {
                "window_agg": start_window(0, 2, 0),
                "join_buffer": start_join(0, 0, 0),
                "dedup_map": start_dedup(0, 0, 0),
            },
            "x113 run 1",
        )
        # the run-1 snapshot scalars MUST be taken eagerly here (run 2
        # appends to the same sinks), but they ride ONE collect of
        # cross-joined aggs instead of five driver jobs (r18, guide
        # §1.2; the x101 mid-pipeline rule satisfied — the collect
        # executes before run 2 starts)
        mid = (
            read_parquet_cached_schema(spark, w_sink)
            .agg(F.count("*").alias("w_n"))
            .crossJoin(
                read_parquet_cached_schema(spark, j_sink).agg(
                    F.count("*").alias("j_n"),
                    F.coalesce(
                        F.sum((F.col("k") % 100 == 83).cast("long")),
                        F.lit(0),
                    ).alias("j_cross"),
                )
            )
            .crossJoin(
                read_parquet_cached_schema(spark, d_sink).agg(
                    F.count("*").alias("d_n")
                )
            )
            .collect()[0]
        )
        w_n_run1 = int(mid["w_n"])
        j_n_run1 = int(mid["j_n"])
        cross_in_run1 = int(mid["j_cross"])
        d_n_run1 = int(mid["d_n"])

        # PHASE 2 (concurrent): the remaining batches of every shape on
        # the SAME checkpoints (start_index keeps the new staged buckets
        # behind the already-consumed ones in both name and mtime
        # order) — watermark/buffer/key-map recovery happens here.
        drain_all(
            {
                "window_agg": start_window(3, 5, 3),
                "join_buffer": start_join(1, 3, 1),
                "dedup_map": start_dedup(1, 4, 1),
            },
            "x113 run 2",
        )
        w_final = read_parquet_cached_schema(spark, w_sink).localCheckpoint(eager=True)
        j_final = read_parquet_cached_schema(spark, j_sink).localCheckpoint(eager=True)
        d_final = read_parquet_cached_schema(spark, d_sink).localCheckpoint(eager=True)

    # ---------------- raise-guarded verdicts (x113/x114/x115's
    # originals — same predicates, same failure messages; since r18 ALL
    # fourteen guard scalars ride ONE collect of cross-joined 1-row
    # aggs over the checkpointed sinks and the checkpointed w_rows
    # instead of fourteen sequential driver jobs (guide §1.2). The
    # distinct-cardinality guards use COUNT(DISTINCT ...) — the same
    # value the former .distinct().count() computed.
    g = (
        w_final.agg(
            F.count("*").alias("w_n_final"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("win_start") == _X110_BASE + 960,
                        F.col("n"),
                    )
                ),
                F.lit(0),
            ).alias("got_straggler"),
            F.count_distinct(
                F.col("win_start"), F.col("event_type")
            ).alias("w_n_keys"),
        )
        .crossJoin(
            rp.w_rows.agg(
                F.coalesce(
                    F.sum(
                        (
                            (
                                (F.col("replay_batch") != 3)
                                | (F.col("__t") >= 900)
                            )
                            & (
                                F.floor(F.col("__t") / _X110_WIN)
                                * _X110_WIN
                                <= 2080
                            )
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("expected_emitted"),
                F.coalesce(
                    F.sum(
                        (
                            (F.col("replay_batch") == 0)
                            & (F.col("__t") >= 960)
                            & (F.col("__t") < 1020)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("straggler_run1"),
            )
        )
        .crossJoin(
            j_final.agg(
                F.count("*").alias("j_n_final"),
                F.coalesce(
                    F.sum(
                        (
                            (F.col("k") % 100 == 83)
                            & (F.col("lt") == 830)
                            & (F.col("rt") == 860)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("got_cross"),
                F.coalesce(
                    F.sum((F.col("k") % 10 == 7).cast("long")), F.lit(0)
                ).alias("got_late"),
                F.count_distinct(
                    F.col("k"), F.col("lt"), F.col("rt")
                ).alias("j_n_keys"),
            )
        )
        .crossJoin(
            d_final.agg(
                F.count("*").alias("d_n_final"),
                F.coalesce(
                    F.sum(
                        (
                            (F.col("k") % 100 == 93)
                            & (F.col("t") == 980)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("a_keys"),
                F.coalesce(
                    F.sum(
                        (
                            (F.col("k") % 100 == 43)
                            & (F.col("t") == 1900)
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("b_got"),
                F.count_distinct(F.col("k"), F.col("t")).alias(
                    "d_n_keys"
                ),
            )
        )
        .collect()[0]
    )

    # shape 1 (x113's originals)
    w_n_final = int(g["w_n_final"])
    if not 0 < w_n_run1 < w_n_final:
        raise AssertionError(
            f"x113 window split vacuous: run1 emitted {w_n_run1} of "
            f"{w_n_final} — the kill point did not land mid-emission"
        )
    n_keys = int(g["w_n_keys"])
    if n_keys != w_n_final:
        raise AssertionError(
            f"x113 window exactly-once regression: {w_n_final} sink rows "
            f"over {n_keys} distinct (win_start, event_type) keys — a "
            f"window was re-emitted across the restart"
        )
    expected_emitted = int(g["expected_emitted"])
    total = int(g["total"])
    if total != expected_emitted:
        raise AssertionError(
            f"x113 watermark-recovery regression: sink holds {total} "
            f"rows, expected {expected_emitted} — the restored watermark "
            f"did not filter the late batch at 940"
        )
    expected_straggler = int(g["straggler_run1"]) + rp.n_accepted_late
    got_straggler = int(g["got_straggler"])
    if got_straggler != expected_straggler:
        raise AssertionError(
            f"x113 state-recovery regression: straggler window counts "
            f"{got_straggler}, expected {expected_straggler} (run-1 rows "
            f"+ {rp.n_accepted_late} accepted late) — the window state did "
            f"not survive the restart"
        )

    # shape 2 (x114's originals)
    j_n_final = int(g["j_n_final"])
    if cross_in_run1 != 0:
        raise AssertionError(
            f"x113 join split vacuous: {cross_in_run1} cross pairs "
            f"emitted BEFORE the stop — the partner leaked into run 1"
        )
    if not 0 < j_n_run1 < j_n_final:
        raise AssertionError(
            f"x113 join split vacuous: run1 emitted {j_n_run1} of "
            f"{j_n_final}"
        )
    got_cross = int(g["got_cross"])
    if got_cross != rp.n_cross:
        raise AssertionError(
            f"x113 buffer-recovery regression: {got_cross}/{rp.n_cross} "
            f"cross-restart pairs emitted — the join buffer did not "
            f"survive the restart"
        )
    got_late = int(g["got_late"])
    if got_late != 0:
        raise AssertionError(
            f"x113 watermark-recovery regression: {got_late} late-leg "
            f"pairs emitted after the resume"
        )
    j_n_keys = int(g["j_n_keys"])
    if j_n_keys != j_n_final:
        raise AssertionError(
            f"x113 join exactly-once regression: {j_n_final} sink rows "
            f"over {j_n_keys} distinct (k, lt, rt) triples — a pair was "
            f"re-emitted across the restart"
        )
    if j_n_final != rp.n_a + rp.n_cross:
        raise AssertionError(
            f"x113 join emission regression: {j_n_final} pairs, expected "
            f"{rp.n_a} in-batch + {rp.n_cross} cross-restart"
        )

    # shape 3 (x115's originals)
    d_n_final = int(g["d_n_final"])
    if d_n_run1 != rp.d_legs[0]:
        raise AssertionError(
            f"x113 dedup split vacuous: run1 emitted {d_n_run1}, "
            f"expected the {rp.d_legs[0]} originals exactly"
        )
    a_keys = int(g["a_keys"])
    if a_keys != 0:
        raise AssertionError(
            f"x113 state-recovery regression: {a_keys} within-horizon "
            f"redeliveries re-emitted — the dedup key map did not "
            f"survive the restart"
        )
    b_got = int(g["b_got"])
    if b_got != rp.d_legs[4]:
        raise AssertionError(
            f"x113 horizon regression: {b_got}/{rp.d_legs[4]} beyond-horizon"
            f" redeliveries re-emitted after the resume"
        )
    d_n_keys = int(g["d_n_keys"])
    d_expected_total = sum(rp.d_legs[i] for i in (0, 2, 3, 4))
    if not (d_n_keys == d_n_final == d_expected_total):
        raise AssertionError(
            f"x113 dedup exactly-once regression: {d_n_final} rows, "
            f"{d_n_keys} distinct (k, t), expected {d_expected_total}"
        )

    # ---------------- fingerprint rows (the x100/x104 consolidation shape)
    return _fingerprint_rows(
        {
            "window_agg": (w_final, "win_start", F.sum("n")),
            "join_buffer": (j_final, "k", F.sum("lt") + F.sum("rt")),
            "dedup_map": (d_final, "k", F.sum("t")),
        },
        ("state_restored", "late_discipline_ok", "exactly_once_resume"),
    )
