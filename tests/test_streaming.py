"""Streaming e2e (SURVEY §5.2.5): replay the events table through the
streaming DDM pipeline and require batch/stream parity; run the prequential
(test-then-train) loop and sanity-check its result series."""

from __future__ import annotations

import math
import tempfile

import numpy as np
import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.ddm import (
    ddm_scan,
    detect_drift,
)


@pytest.fixture(scope="module")
def error_rows():
    rng = np.random.RandomState(11)
    rows = []
    for det, flip_at in [("d1", 300), ("d2", 500)]:
        for i in range(800):
            p = 0.1 if i < flip_at else 0.5
            rows.append((det, i, float(rng.binomial(1, p))))
    return rows


def test_stream_matches_batch(spark, error_rows):
    """applyInPandasWithState over micro-batched replay == batch operator ==
    pure-Python kernel, flag for flag."""
    from detecting_and_addressing_change_spark.streaming.ddm_stream import (
        detect_drift_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    df = spark.createDataFrame(
        error_rows, "detector_id string, seq_id long, error double"
    )
    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        n_buckets = stage_replay_files(df, "seq_id", staged, batch_size=200)
        assert n_buckets == 4
        stream = read_replay_stream(
            spark, staged, "detector_id string, seq_id long, error double"
        )
        out = detect_drift_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("ddm_out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT * FROM ddm_out ORDER BY detector_id, seq_id"
        ).collect()

    batch = {
        (r["detector_id"], r["seq_id"]): r["flag"]
        for r in detect_drift(df).collect()
    }
    assert len(got) == len(error_rows)
    for r in got:
        assert batch[(r["detector_id"], r["seq_id"])] == r["flag"], (
            r["detector_id"],
            r["seq_id"],
        )
    # and both equal the pure-python kernel
    by_det = {}
    for det, i, e in error_rows:
        by_det.setdefault(det, []).append(e)
    for det, errs in by_det.items():
        expected = ddm_scan(errs)
        got_det = [
            r["flag"]
            for r in sorted(
                (x for x in got if x["detector_id"] == det),
                key=lambda r: r["seq_id"],
            )
        ]
        assert got_det == expected, det


def test_prequential_loop(spark):
    """NB test-then-train over ordered micro-batches: accuracy should climb
    once the model has seen data; detector flags stay sane ('N' early)."""
    from detecting_and_addressing_change_spark.streaming.prequential import (
        PrequentialNB,
    )

    rng = np.random.RandomState(3)
    n, dim, classes, batch = 640, 8, 3, 64
    y = rng.randint(0, classes, size=n)
    x = rng.randn(n, dim) + y[:, None] * 2.0
    loop = PrequentialNB(features_col="features", label_col="label")
    for b in range(n // batch):
        sl = slice(b * batch, (b + 1) * batch)
        rows = [
            (int(i), x[i].tolist(), int(y[i]))
            for i in range(sl.start, sl.stop)
        ]
        bdf = spark.createDataFrame(
            rows, "doc_id long, features array<double>, label int"
        )
        loop.process_batch(bdf, b)
    res = loop.results()
    assert len(res) == n // batch - 1  # first batch trains only
    accs = [a for _, a, _ in res]
    assert accs[-1] > 0.8  # separable classes -> NB learns quickly
    assert all(f in {"N", "W", "D"} for _, _, f in res)


def test_synthetic_detector_feed_stays_calm(spark):
    """T6: low uniform errors through DDM produce no drift signal."""
    from detecting_and_addressing_change_spark.streaming.schedule import (
        synthetic_detector_feed,
    )

    feed = synthetic_detector_feed(spark, n=500, seed=42)
    flags = [r["flag"] for r in detect_drift(feed).collect()]
    assert len(flags) == 500
    assert "D" not in flags


def test_prequential_lstm_loop(spark):
    """U2/U8 LSTM half: test-then-train with one Adam step per micro-batch
    (reference wos_classifier.py:38-71 cadence) — accuracy climbs on
    separable sequences, flags stay well-formed, and the same loop shape
    sits next to the NB one (VERDICT r2 task #6)."""
    from detecting_and_addressing_change_spark.streaming.prequential import (
        PrequentialLSTM,
    )

    rng = np.random.RandomState(11)
    n, dim, classes, batch = 512, 4, 2, 32
    loop = PrequentialLSTM(n_classes=classes, hidden=8, lr=5e-2, seed=7)
    for b in range(n // batch):
        rows = []
        for i in range(b * batch, (b + 1) * batch):
            y = int(rng.randint(0, classes))
            seq = rng.randn(int(rng.randint(2, 5)), dim) * 0.1
            seq[:, y] += 3.0
            rows.append((i, [list(map(float, t)) for t in seq], y))
        bdf = spark.createDataFrame(
            rows, "doc_id long, tokens array<array<double>>, label int"
        )
        loop.process_batch(bdf, b)
    res = loop.results()
    assert len(res) == n // batch - 1  # first batch trains only
    accs = [a for _, a, _ in res]
    assert accs[-1] > 0.85  # marker dimension -> learnable fast
    assert np.mean(accs[-4:]) > np.mean(accs[:4])  # learning curve climbs
    assert all(f in {"N", "W", "D"} for _, _, f in res)


def test_fine_tune_lstm_adapts(spark):
    """U8 LSTM half: after drift (marker dimensions swapped), a bounded
    fine-tune replay on new-distribution batches recovers accuracy — the
    reference's adaptation (a) strategy on the LSTM classifier."""
    from detecting_and_addressing_change_spark.streaming.prequential import (
        PrequentialLSTM,
        fine_tune,
    )

    rng = np.random.RandomState(21)
    dim, classes, batch = 4, 2, 32

    def make_rows(n, start, swap):
        rows = []
        for i in range(start, start + n):
            y = int(rng.randint(0, classes))
            seq = rng.randn(int(rng.randint(2, 5)), dim) * 0.1
            marker = (y + 1) % classes if swap else y
            seq[:, marker] += 3.0
            rows.append((i, [list(map(float, t)) for t in seq], y))
        return rows

    loop = PrequentialLSTM(n_classes=classes, hidden=8, lr=5e-2, seed=3)
    # original distribution: train to competence
    for b in range(12):
        bdf = spark.createDataFrame(
            make_rows(batch, b * batch, swap=False),
            "doc_id long, tokens array<array<double>>, label int",
        )
        loop.process_batch(bdf, b)
    pre = np.mean([a for _, a, _ in loop.results()[-3:]])
    assert pre > 0.8

    # drifted distribution: score once (accuracy collapses), then fine-tune
    # label-marker inversion: the hardest drift (the model must unlearn);
    # convergence takes ~16 one-step batches, replay 24
    drifted = spark.createDataFrame(
        make_rows(24 * batch, 10_000, swap=True),
        "doc_id long, tokens array<array<double>>, label int",
    )
    n_before = len(loop.results())
    fine_tune(
        loop,
        drifted.withColumn("doc_id", F.col("doc_id") - 10_000),
        n_batches=24,
        batch_size=batch,
    )
    tuned = [a for _, a, _ in loop.results()[n_before:]]
    # first drifted batch is scored by the pre-drift model: collapsed
    assert tuned[0] < 0.6
    # after the bounded replay the model has adapted
    assert np.mean(tuned[-3:]) > 0.75


def test_restaging_mtimes_strictly_follow_earlier_staging(spark):
    """ADVICE r3 (medium): a second staging within n_buckets seconds of the
    first must still sort strictly AFTER it — the file stream source orders
    by mtime, and the first staging bumps its files into the future, so the
    base must come from max(existing mtimes, now), not the dir mtime."""
    import os

    from detecting_and_addressing_change_spark.streaming.replay import (
        stage_replay_files,
    )

    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "seq_id long, v double"
    )
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "seq_id long, v double"
    )

    def bucket_mtimes(out_dir, lo, hi):
        times = {}
        for d in os.listdir(out_dir):
            if not d.startswith("__bucket="):
                continue
            b = int(d.split("=", 1)[1])
            if not (lo <= b < hi):
                continue
            for root, _, files in os.walk(os.path.join(out_dir, d)):
                for fn in files:
                    p = os.path.join(root, fn)
                    times[b] = max(
                        times.get(b, 0.0), os.stat(p).st_mtime
                    )
        return times

    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        n1 = stage_replay_files(df1, "seq_id", staged, batch_size=100)
        first = bucket_mtimes(staged, 0, n1)
        # immediately restage new data — the documented restart case
        n2 = stage_replay_files(
            df2, "seq_id", staged, batch_size=100, start_index=n1
        )
        second = bucket_mtimes(staged, n1, n1 + n2)

        assert n1 == 4 and n2 == 2
        # within each staging, buckets ascend; across stagings, every new
        # bucket is strictly later than every earlier one
        assert sorted(first) == sorted(first, key=first.get)
        assert sorted(second) == sorted(second, key=second.get)
        assert min(second.values()) > max(first.values())


def _quality_rate_series(spark, sf):
    """The (detector_id, seq_id, error) corpus-quality rate series x51
    feeds its detector: per 16-doc bucket, the fraction of
    repetition-degraded documents."""
    from detecting_and_addressing_change_spark.operators.windows import (
        count_window_agg,
    )
    from detecting_and_addressing_change_spark.queries.extensions7 import (
        _max_multiplicity,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf, "documents")
    staged_docs = docs.select("doc_id", F.split("text", " ").alias("w"))
    topf = _max_multiplicity(F.array_sort(F.col("w"))).cast(
        "double"
    ) / F.size("w")
    signals = staged_docs.select(
        "doc_id", (topf > 0.10).cast("int").alias("bad")
    )
    return count_window_agg(
        signals, seq_col="doc_id", batch_size=16,
        aggs=[F.avg("bad").alias("error")],
    ).select(
        F.lit("corpus").alias("detector_id"),
        F.col("bucket").cast("long").alias("seq_id"),
        "error",
    )


@pytest.mark.parametrize("detector", ["ddm", "ph"])
def test_quality_monitor_stream_matches_batch(spark, detector):
    """x51's corpus-quality rate series through the STREAMING detector ==
    the batch operator, flag for flag, for BOTH change detectors (DDM and
    Page-Hinkley) — the curation monitor can run as a live ingest watcher
    with identical semantics, with either detector dropped in."""
    from detecting_and_addressing_change_spark.operators.ph import (
        detect_drift_ph,
    )
    from detecting_and_addressing_change_spark.streaming.ddm_stream import (
        detect_drift_stream,
    )
    from detecting_and_addressing_change_spark.streaming.ph_stream import (
        detect_drift_ph_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    batch_fn, stream_fn = {
        "ddm": (detect_drift, detect_drift_stream),
        "ph": (detect_drift_ph, detect_drift_ph_stream),
    }[detector]

    sf = "/root/testdata/sf0.01"
    series = _quality_rate_series(spark, sf)
    batch = {
        r["seq_id"]: r["flag"] for r in batch_fn(series).collect()
    }
    if detector == "ddm":
        # the registered x51 query must agree with the direct batch run
        from detecting_and_addressing_change_spark.queries import QUERIES

        q51 = {
            r["seq_id"]: r["flag"]
            for r in QUERIES["x51_quality_drift_monitor"](
                spark, sf
            ).collect()
        }
        assert q51 == batch
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(series, "seq_id", f"{tmp}/staged", batch_size=8)
        stream = read_replay_stream(
            spark,
            f"{tmp}/staged",
            "detector_id string, seq_id long, error double",
        )
        q = (
            stream_fn(stream)
            .writeStream.format("memory")
            .queryName(f"x51_stream_{detector}")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            f"SELECT seq_id, flag FROM x51_stream_{detector}"
        ).collect()
    assert len(got) == len(batch)
    for r in got:
        assert batch[r["seq_id"]] == r["flag"], r["seq_id"]


def test_quality_signals_stream_matches_batch(spark):
    """The x46 curation signals are a pure narrow map, so the SAME
    projection runs on a live document stream with row-identical output —
    quality filtering can happen at ingest time, not only in batch."""
    from detecting_and_addressing_change_spark.queries.extensions7 import (
        quality_signals,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batch = {
        r["doc_id"]: tuple(r)[1:]
        for r in quality_signals(docs).collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(docs, "doc_id", f"{tmp}/staged", batch_size=16)
        stream = read_replay_stream(
            spark, f"{tmp}/staged", "doc_id long, text string"
        )
        q = (
            quality_signals(stream)
            .writeStream.format("memory")
            .queryName("quality_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM quality_stream").collect()
    assert len(got) == len(batch)
    for r in got:
        assert batch[r["doc_id"]] == tuple(r)[1:], r["doc_id"]


@pytest.mark.parametrize("split", [10, 400])
def test_detector_stream_restart_carries_state(spark, error_rows, split):
    """Kill-and-restart for the streaming detector: the head of the series,
    a completed availableNow run, then the REST staged and a NEW query on
    the SAME checkpoint — the detector state (counts, p/s minima) must
    carry across the restart so the full flag sequence equals the batch
    operator. This is the S6 restart contract for the detector path, not
    just the upsert sink. A split at 10 rows is below DDM's
    min_num_instances, so the checkpointed minima are still +inf."""
    from detecting_and_addressing_change_spark.streaming.ddm_stream import (
        detect_drift_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    df = spark.createDataFrame(
        error_rows, "detector_id string, seq_id long, error double"
    )
    first = df.filter(F.col("seq_id") < split)
    rest = df.filter(F.col("seq_id") >= split)
    schema = "detector_id string, seq_id long, error double"
    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        n1 = stage_replay_files(first, "seq_id", staged, batch_size=100)

        def run_round():
            # foreachBatch, not the memory sink: memory does not support
            # recovering from a checkpoint, and recovery is the point here
            rows = []

            def sink(bdf, _epoch):
                rows.extend(bdf.collect())

            stream = read_replay_stream(spark, staged, schema)
            q = (
                detect_drift_stream(stream)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return rows

        got1 = run_round()
        assert len(got1) == split * 2  # two detectors
        if split < 30:  # below min_num_instances: stored as +inf, no sentinel
            state = spark.read.format("statestore").load(f"{tmp}/ckpt")
            assert {
                r["value"]["groupState"][f]
                for r in state.collect()
                for f in ("miss_prob_sd_min", "miss_prob_min", "miss_sd_min")
            } == {math.inf}
        stage_replay_files(
            rest, "seq_id", staged, batch_size=100, start_index=n1
        )
        got2 = run_round()  # NEW query, same checkpoint

    batch = {
        (r["detector_id"], r["seq_id"]): r["flag"]
        for r in detect_drift(df).collect()
    }
    seen = {}
    for r in list(got1) + list(got2):
        seen[(r["detector_id"], r["seq_id"])] = r["flag"]
    assert len(seen) == len(error_rows)
    for key, flag in seen.items():
        assert batch[key] == flag, key


def test_detector_stream_refuses_nan_error(spark):
    """The batch input contract holds within a micro-batch: a NaN error
    fails its batch and stops the query, naming the detector and seq_id."""
    from pyspark.errors import StreamingQueryException

    from detecting_and_addressing_change_spark.sources.tables import (
        local_table,
    )
    from detecting_and_addressing_change_spark.streaming.ddm_stream import (
        detect_drift_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    schema = "detector_id string, seq_id long, error double"
    rows = [("d1", i, 0.1 if i < 60 else 0.9) for i in range(100)]
    rows[10] = ("d1", 10, float("nan"))
    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        stage_replay_files(
            local_table(spark, rows, schema), "seq_id", staged, batch_size=50
        )
        q = (
            detect_drift_stream(read_replay_stream(spark, staged, schema))
            .writeStream.foreachBatch(lambda bdf, _epoch: bdf.collect())
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(
            StreamingQueryException,
            match=r"detector 'd1': null or NaN error at seq_id 10\b",
        ):
            q.awaitTermination(120)


def test_count_window_agg_streaming_parity(spark):
    """operators/windows.py claims count windows are 'identical in batch
    and streaming mode' — pin it: the same count_window_agg over a
    replayed document-signal stream (update mode) converges to the batch
    buckets, including the partial tail."""
    from detecting_and_addressing_change_spark.operators.windows import (
        count_window_agg,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select(
        "doc_id", (F.length("text") % 7 == 0).cast("int").alias("bad")
    )
    batch = {
        r["bucket"]: (r["n"], r["err"])
        for r in count_window_agg(
            docs, seq_col="doc_id", batch_size=16,
            aggs=[F.count("*").alias("n"), F.avg("bad").alias("err")],
        ).collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(docs, "doc_id", f"{tmp}/staged", batch_size=16)
        stream = read_replay_stream(
            spark, f"{tmp}/staged", "doc_id long, bad int"
        )
        agg = count_window_agg(
            stream, seq_col="doc_id", batch_size=16,
            aggs=[F.count("*").alias("n"), F.avg("bad").alias("err")],
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName("cw_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # update mode emits one row per bucket per change; the LAST update
        # per bucket is the converged value
        rows = spark.sql("SELECT * FROM cw_stream").collect()
    latest = {}
    for r in rows:  # memory sink appends in emission order
        latest[r["bucket"]] = (r["n"], r["err"])
    assert latest == batch


def test_mixture_keep_rule_streaming_parity(spark):
    """The x61/x74 deterministic LCG keep-rule is a narrow filter, so
    applied to a live document stream (rates fit batch-side, broadcast
    into the stream) it keeps EXACTLY the same documents as the batch
    plan — mixture sampling can run at ingest."""
    from detecting_and_addressing_change_spark.functions.hashing import (
        lcg_bucket,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    # rates fit batch-side (the x61 construction, arbitrary fixed targets)
    targets = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
    cnt = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    total = min(cnt[lang] / tw for lang, tw in targets.items())
    rates = {
        lang: min(1.0, total * tw / cnt[lang])
        for lang, tw in targets.items()
    }
    rate_df = spark.createDataFrame(
        list(rates.items()), "lang string, rate double"
    )

    def keep_filter(df):
        return df.join(F.broadcast(rate_df), "lang").filter(
            lcg_bucket(F.col("doc_id"), 1000000)
            < F.floor(F.col("rate") * 1000000.0)
        )

    batch_kept = {r["doc_id"] for r in keep_filter(docs).collect()}
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(docs, "doc_id", f"{tmp}/staged", batch_size=32)
        stream = read_replay_stream(
            spark, f"{tmp}/staged", "doc_id long, lang string"
        )
        q = (
            keep_filter(stream)
            .writeStream.format("memory")
            .queryName("mix_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]
            for r in spark.sql("SELECT doc_id FROM mix_stream").collect()
        }
    assert got == batch_kept
    assert 0 < len(got) < docs.count()  # a real sample, not all/none


def test_x72_fleet_streams_with_restart_parity(spark):
    """VERDICT r5 task #5: the x72 multi-signal detector fleet as a LIVE
    stream — the exact same three-signal series replayed in order through
    the keyed applyInPandasWithState Page-Hinkley, killed mid-series and
    restarted on the same checkpoint — must equal the batch x72 dashboard
    flag-for-flag."""
    from detecting_and_addressing_change_spark.queries import QUERIES
    from detecting_and_addressing_change_spark.queries.extensions9 import (
        drift_dashboard_series,
    )
    from detecting_and_addressing_change_spark.sources.tables import (
        load_table,
    )
    from detecting_and_addressing_change_spark.streaming.ph_stream import (
        detect_drift_ph_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    series = drift_dashboard_series(docs)
    n_buckets = series.agg(F.max("seq_id")).first()[0] + 1
    half = n_buckets // 2
    schema = "detector_id string, seq_id long, error double"
    with tempfile.TemporaryDirectory() as tmp:
        staged = f"{tmp}/staged"
        n1 = stage_replay_files(
            series.filter(F.col("seq_id") < half), "seq_id", staged,
            batch_size=8,
        )

        def run_round():
            rows = []

            def sink(bdf, _epoch):
                rows.extend(bdf.collect())

            stream = read_replay_stream(spark, staged, schema)
            q = (
                detect_drift_ph_stream(stream)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return rows

        got1 = run_round()
        assert len(got1) == half * 3  # three detectors saw half each
        stage_replay_files(
            series.filter(F.col("seq_id") >= half), "seq_id", staged,
            batch_size=8, start_index=n1,
        )
        got2 = run_round()  # NEW query, same checkpoint

    batch = {
        (r["detector"], r["seq_id"]): (r["error"], r["flag"])
        for r in QUERIES["x72_drift_dashboard"](spark, SF_SMOKE).collect()
    }
    seen = {}
    for r in list(got1) + list(got2):
        seen[(r["detector_id"], r["seq_id"])] = (r["error"], r["flag"])
    assert len(seen) == len(batch) == n_buckets * 3
    for key, val in seen.items():
        assert batch[key] == val, key


def test_scoped_state_partitions_restores_on_error(spark):
    """The scope must restore spark.sql.shuffle.partitions even when the
    streaming run raises — a leak would silently re-plan every
    subsequent query in the session (including attested ones) at the
    scoped width."""
    from detecting_and_addressing_change_spark.streaming.replay import (
        scoped_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    assert prev != "4"
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_state_partitions(spark, 4):
            assert spark.conf.get(key) == "4"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev
    # and the clean path restores too
    with scoped_state_partitions(spark, 4):
        assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == prev


def test_detector_stream_checkpoints_fork_no_readlink(spark, error_rows):
    """A keyed detector drain commits its offset log, commit log and state
    store without forking ``readlink``. Without libhadoop, Hadoop's local
    file system shells out for every link-status check, and the
    FileContext-based checkpoint manager checks both ends of every rename
    (file and ``.crc``): hundreds of ``readlink`` processes per drain. The
    session's FileSystem-based manager renames with ``File.renameTo``.
    Spawns are counted with a JFR recording of ``jdk.ProcessStart`` over
    py4j."""
    from detecting_and_addressing_change_spark.streaming.ddm_stream import (
        detect_drift_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    jvm = spark._jvm
    recorder = jvm.jdk.jfr.FlightRecorder.getFlightRecorder()
    assert "jdk.ProcessStart" in {
        t.getName() for t in recorder.getEventTypes()
    }
    schema = "detector_id string, seq_id long, error double"
    df = spark.createDataFrame(error_rows, schema)
    with tempfile.TemporaryDirectory() as tmp:
        n = stage_replay_files(df, "seq_id", f"{tmp}/staged", batch_size=300)
        assert n == 3
        rec = jvm.jdk.jfr.Recording()
        try:
            rec.enable("jdk.ProcessStart")
            rec.start()
            q = (
                detect_drift_stream(
                    read_replay_stream(spark, f"{tmp}/staged", schema)
                )
                .writeStream.format("memory")
                .queryName("ddm_fork_probe")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            rec.stop()
            path = jvm.java.io.File(f"{tmp}/spawns.jfr").toPath()
            rec.dump(path)
        finally:
            rec.close()
        commands = [
            str(e.getString("command")).split(" ")[0].rsplit("/", 1)[-1]
            for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
        ]
        assert spark.sql("SELECT * FROM ddm_fork_probe").count() == len(
            error_rows
        )
    assert "readlink" not in commands, commands.count("readlink")
