"""DDM golden tests (SURVEY §5.2.2, FIXTURES.md §4): the Spark operator must
equal the pure-Python kernel flag-for-flag on ordered series with known
drift points, across partition counts, and in parallel across detectors."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from detecting_and_addressing_change_spark.operators.ddm import (
    DDMState,
    ddm_scan,
    detect_drift,
    scan_group,
)
from detecting_and_addressing_change_spark.operators.ph import PageHinkleyState


def fixture_series(seed: int = 42, n: int = 1000) -> list[float]:
    """FIXTURES.md §4: p=0.10 below 400; p=0.50 in [400, 700) (abrupt);
    linear ramp 0.10 -> 0.90 over [700, 1000) (gradual)."""
    rng = np.random.RandomState(seed)
    errs = []
    for i in range(n):
        if i < 400:
            p = 0.10
        elif i < 700:
            p = 0.50
        else:
            p = 0.10 + 0.8 * (i - 700) / 300
        errs.append(float(rng.binomial(1, p)))
    return errs


def test_kernel_detects_abrupt_drift():
    """Feed per-batch ERROR RATES (the reference feeds 1-accuracy per
    batch, streams/run_stream_supervised.py:74-84), not raw 0/1: DDM on a
    smooth rate series must fire shortly after the changepoint."""
    rng = np.random.RandomState(0)
    errs = [0.10 + rng.uniform(-0.05, 0.05) for _ in range(100)]
    errs += [0.50 + rng.uniform(-0.05, 0.05) for _ in range(100)]
    flags = ddm_scan(errs)
    assert len(flags) == len(errs)
    assert "D" not in flags[:100]  # no false alarm before the changepoint
    first_d = flags.index("D")
    assert 100 <= first_d <= 160


def test_kernel_no_drift_on_stationary():
    rng = np.random.RandomState(7)
    errs = rng.binomial(1, 0.2, size=2000).astype(float).tolist()
    flags = ddm_scan(errs)
    assert "D" not in flags


def test_kernel_warning_precedes_drift():
    # gradual ramp: warning zone (2 sigma) must trip before drift (3 sigma)
    errs = [0.1] * 50 + [0.1 + 0.004 * i for i in range(100)]
    flags = ddm_scan(errs)
    assert "D" in flags and "W" in flags
    assert flags.index("W") < flags.index("D")


def test_reset_after_drift():
    st = DDMState()
    for e in [0.0] * 100 + [1.0] * 100:
        st.add_element(e)
        if st.in_concept_change:
            break
    assert st.in_concept_change
    st.add_element(0.0)
    assert st.sample_count == 2  # reset happened


@pytest.mark.parametrize("partitions", [1, 4])
def test_spark_matches_kernel(spark, partitions):
    errs = fixture_series()
    rows = [("d1", i, e) for i, e in enumerate(errs)]
    # multi-detector parallelism: three more detectors with shifted series
    for det, seed in [("d2", 1), ("d3", 2), ("d4", 3)]:
        for i, e in enumerate(fixture_series(seed=seed)):
            rows.append((det, i, e))
    df = spark.createDataFrame(
        rows, "detector_id string, seq_id long, error double"
    ).repartition(partitions)
    out = detect_drift(df).collect()
    by_det: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["detector_id"], r["seq_id"])):
        by_det.setdefault(r["detector_id"], []).append(r["flag"])
    for det, seed in [("d1", 42), ("d2", 1), ("d3", 2), ("d4", 3)]:
        assert by_det[det] == ddm_scan(fixture_series(seed=seed)), det


# --------------------------------------------------------------------------
# Input contract: scan_group refuses what would feed the detector silently
# --------------------------------------------------------------------------
def _series_frame(errs, seqs=None):
    seqs = list(range(len(errs))) if seqs is None else seqs
    return pd.DataFrame({"seq_id": seqs, "error": errs})


_STEP = [0.1] * 60 + [0.9] * 40  # drift flagged at index 65


def test_scan_group_flags_clean_step():
    out = scan_group(
        ("k",), _series_frame(_STEP), DDMState(), "seq_id", "error"
    )
    assert list(out["flag"]).index("D") == 65


def _with(values, i, value):
    out = list(values)
    out[i] = value
    return out


_SEQS = list(range(len(_STEP)))


@pytest.mark.parametrize(
    "errs, seqs, what",
    [
        (_with(_STEP, 10, float("nan")), _SEQS, "null or NaN error"),
        (_with(_STEP, 10, 7.0), _SEQS, "error outside [0.0, 1.0]"),
        (_STEP, _with(_SEQS, 11, 10), "repeated seq_id"),
    ],
    ids=["nan", "out_of_range", "repeated_seq_id"],
)
def test_scan_group_refuses_bad_input(errs, seqs, what):
    pattern = rf"'k'.*{re.escape(what)} at seq_id 10\b"
    with pytest.raises(ValueError, match=pattern):
        scan_group(
            ("k",), _series_frame(errs, seqs), DDMState(), "seq_id", "error"
        )


def test_page_hinkley_takes_any_real_value():
    errs = _with(_STEP, 10, 7.0)
    out = scan_group(
        ("k",), _series_frame(errs), PageHinkleyState(), "seq_id", "error"
    )
    assert len(out) == len(errs)


def test_spark_null_error_raises(spark):
    from detecting_and_addressing_change_spark.sources.tables import (
        local_table,
    )

    rows = [("d1", i, e) for i, e in enumerate(_STEP)]
    rows[10] = ("d1", 10, None)
    df = local_table(
        spark, rows, "detector_id string, seq_id long, error double"
    )
    with pytest.raises(Exception, match=r"null or NaN error at seq_id 10\b"):
        detect_drift(df).collect()
