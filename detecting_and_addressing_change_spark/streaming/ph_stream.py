"""Structured Streaming Page-Hinkley — the x57 detector as a live stream
operator: the same ``detector_stream`` shell as ``streaming/ddm_stream.py``
(``applyInPandasWithState`` keyed by ``detector_id``, rows sorted by
``seq_id`` within each micro-batch), carrying ``PageHinkleyState``'s
``STATE_SCHEMA``. Same ordered-source contract as the DDM stream (the
replay source provides it); batch/stream parity is pinned by
tests/test_streaming.py."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ph import PageHinkleyState
from .ddm_stream import detector_stream


def detect_drift_ph_stream(
    stream_df: DataFrame,
    detector_col: str = "detector_id",
    seq_col: str = "seq_id",
    error_col: str = "error",
    delta: float = 0.005,
    threshold: float = 1.0,
    min_instances: int = 30,
) -> DataFrame:
    """Streaming Page-Hinkley over DataFrame[detector_id, seq_id, error];
    same output schema as the batch operator (and as DDM — the detectors
    stay drop-in interchangeable in streaming mode too)."""
    params = dict(
        delta=delta, threshold=threshold, min_instances=min_instances
    )
    return detector_stream(
        stream_df, PageHinkleyState, params, detector_col, seq_col, error_col
    )
