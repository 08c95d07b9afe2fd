"""Page-Hinkley test — a second sequential change detector beside DDM
(SURVEY §2.6 T1 family).

The reference pins skmultiflow, whose drift_detection module ships
PageHinkley next to the DDM the thesis uses
(``drift_detection/drift_experiments_supervised.py:100``); this kernel
implements the classic increase-detection form (Page 1954; Mouss et al.
2004, the formulation the streaming-drift literature cites):

    t      <- t + 1
    mean_t <- mean_{t-1} + (x_t - mean_t-1) / t     (running mean)
    m_t    <- m_{t-1} + (x_t - mean_t - delta)      (cumulative deviation)
    M_t    <- min(M_{t-1}, m_t)
    drift when t >= min_instances and m_t - M_t > threshold  -> reset

Every step is plain IEEE double arithmetic in a fixed order, so the
DuckDB recursive-CTE oracle replays it BIT-EXACTLY (same property the
DDM oracle relies on). Dataflow constraints are identical to DDM: one
detector key = one ordered logical sequence (irreducible), detector
fleets parallelize for free.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .ddm import detector_scan


@dataclass
class PageHinkleyState:
    """Detector state: tiny, serializable (used as streaming state too)."""

    STATE_SCHEMA = T.StructType(
        [
            T.StructField("sample_count", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("cum", T.DoubleType()),
            T.StructField("cum_min", T.DoubleType()),
        ]
    )
    ERROR_RANGE = None  # any real value

    delta: float = 0.005
    threshold: float = 1.0
    min_instances: int = 30
    sample_count: int = 0
    mean: float = 0.0
    cum: float = 0.0
    cum_min: float = math.inf

    def add_element(self, x: float) -> str:
        self.sample_count += 1
        self.mean += (x - self.mean) / self.sample_count
        self.cum += x - self.mean - self.delta
        if self.cum < self.cum_min:
            self.cum_min = self.cum
        if (
            self.sample_count >= self.min_instances
            and self.cum - self.cum_min > self.threshold
        ):
            self.reset_detector()
            return "D"
        return "N"

    def reset_detector(self) -> None:
        self.sample_count = 0
        self.mean = 0.0
        self.cum = 0.0
        self.cum_min = math.inf


def ph_scan(values: list[float], **params) -> list[str]:
    """Pure-Python golden reference: flags for an ordered value series."""
    st = PageHinkleyState(**params)
    return [st.add_element(v) for v in values]


def detect_drift_ph(
    df: DataFrame,
    detector_col: str = "detector_id",
    seq_col: str = "seq_id",
    error_col: str = "error",
    delta: float = 0.005,
    threshold: float = 1.0,
    min_instances: int = 30,
) -> DataFrame:
    """Batch-mode Page-Hinkley over DataFrame[detector_id, seq_id, error]
    — the same :func:`operators.ddm.detector_scan` as DDM, so the output
    schema matches and the two detectors are drop-in alternatives in the
    experiment pipelines."""
    params = dict(
        delta=delta, threshold=threshold, min_instances=min_instances
    )
    return detector_scan(
        df, PageHinkleyState, params, detector_col, seq_col, error_col
    )
