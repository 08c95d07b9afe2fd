"""Page-Hinkley kernel properties (the x57 oracle pins the full running
state on real data; these pin the behavioral contract)."""

from __future__ import annotations

import numpy as np

from detecting_and_addressing_change_spark.operators.ph import (
    PageHinkleyState,
    detect_drift_ph,
    ph_scan,
)


def test_detects_mean_shift_and_stays_calm_before():
    rng = np.random.RandomState(5)
    series = list(0.1 + 0.02 * rng.randn(200)) + list(
        0.6 + 0.02 * rng.randn(100)
    )
    flags = ph_scan(series)
    assert set(flags[:200]) == {"N"}  # calm on the stationary prefix
    assert "D" in flags[200:]  # fires after the shift


def test_reset_after_drift_requires_rewarmup():
    rng = np.random.RandomState(7)
    series = list(0.1 + 0.02 * rng.randn(100)) + [0.9] * 50
    flags = ph_scan(series)
    first_d = flags.index("D")
    st = PageHinkleyState()
    for v in series[: first_d + 1]:
        st.add_element(v)
    # the detector reset at the drift: fresh warm-up window
    assert st.sample_count == 0
    assert st.cum == 0.0
    # at least min_instances more samples before it can fire again
    assert "D" not in flags[first_d + 1 : first_d + 30]


def test_batch_operator_matches_kernel(spark):
    rng = np.random.RandomState(11)
    series = list(0.1 + 0.05 * rng.randn(150)) + list(
        0.7 + 0.05 * rng.randn(50)
    )
    rows = [("d1", i, float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(
        rows, "detector_id string, seq_id long, error double"
    )
    got = {
        r["seq_id"]: r["flag"]
        for r in detect_drift_ph(df).collect()
    }
    expected = ph_scan(series)
    assert [got[i] for i in range(len(series))] == expected


def test_ph_stream_matches_batch(spark):
    """Streaming Page-Hinkley (applyInPandasWithState over staged replay)
    == batch operator flag-for-flag, across micro-batch boundaries and
    through a drift reset."""
    import tempfile

    from detecting_and_addressing_change_spark.streaming.ph_stream import (
        detect_drift_ph_stream,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    rng = np.random.RandomState(3)
    series = list(0.1 + 0.05 * rng.randn(200)) + list(
        0.7 + 0.05 * rng.randn(100)
    )
    rows = [("d1", i, float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(
        rows, "detector_id string, seq_id long, error double"
    )
    with tempfile.TemporaryDirectory() as tmp:
        stage_replay_files(df, "seq_id", f"{tmp}/staged", batch_size=64)
        stream = read_replay_stream(
            spark,
            f"{tmp}/staged",
            "detector_id string, seq_id long, error double",
        )
        q = (
            detect_drift_ph_stream(stream)
            .writeStream.format("memory")
            .queryName("ph_stream")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["seq_id"]: r["flag"]
            for r in spark.sql("SELECT seq_id, flag FROM ph_stream").collect()
        }
    expected = ph_scan(series)
    assert [got[i] for i in range(len(series))] == expected
    assert "D" in expected  # the parity covered a fired drift + reset


def test_detector_fleet_parallelism(spark):
    """The fleet claim (SCALE.md): 64 independent detectors process in ONE
    keyed applyInPandas job — per-key flags match the kernel run on that
    key's series alone, for both detectors. A null detector id is its own
    series and comes back null, not as the string "None"."""
    from detecting_and_addressing_change_spark.operators.ddm import (
        ddm_scan,
        detect_drift,
    )

    rng = np.random.RandomState(13)
    rows, series = [], {}
    for k in range(64):
        flip = 100 + (k % 7) * 20
        s = list(0.1 + 0.03 * rng.randn(flip)) + list(
            0.6 + 0.03 * rng.randn(280 - flip)
        )
        # error rates: DDM refuses values outside [0, 1]
        s = list(np.clip(s, 0.0, 1.0))
        det = f"d{k}" if k else None
        series[det] = s
        rows += [(det, i, float(v)) for i, v in enumerate(s)]
    df = spark.createDataFrame(
        rows, "detector_id string, seq_id long, error double"
    )
    for op, kernel in ((detect_drift_ph, ph_scan), (detect_drift, ddm_scan)):
        got = {}
        for r in op(df).collect():
            got.setdefault(r["detector_id"], {})[r["seq_id"]] = r["flag"]
        for det, s in series.items():
            flags = [got[det][i] for i in range(len(s))]
            assert flags == kernel(s), (op.__name__, det)
