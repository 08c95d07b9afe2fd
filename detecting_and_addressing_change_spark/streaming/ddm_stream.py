"""Structured Streaming DDM (SURVEY §2.6 T1, §4.2 item 1 — streaming side).

``applyInPandasWithState`` keyed by ``detector_id``: the group state holds
the detector's ``STATE_SCHEMA`` fields; each micro-batch's rows are sorted
by ``seq_id`` within the key before being scanned. The source must deliver
per-key monotonically increasing ``seq_id`` across micro-batches (the
replay source does); rows arriving out of order ACROSS batches would be a
semantic error for DDM, as it is for the reference's strictly-ordered
stream (``streams/stream_data.py:116-157``).

Each micro-batch goes through the batch operator's ``scan_group``, so its
input checks hold within a batch: a null or NaN error, an error outside
the state class's ``ERROR_RANGE`` or a ``seq_id`` repeated within a key in
one micro-batch raises, which fails that batch and stops the query with a
``StreamingQueryException`` naming the key and the ``seq_id``. Order and
repeats ACROSS batches are not checked: that needs the last ``seq_id`` in
the group state, a ``STATE_SCHEMA`` change.

Batch/stream parity (SURVEY §5.2.5): with the same ordered input this emits
exactly what ``operators.ddm.detect_drift`` emits — pinned by
tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.ddm import (
    DDM_OUTPUT_SCHEMA,
    DDMState,
    detector_input,
    scan_group,
)


def detector_stream(
    stream_df: DataFrame,
    state_cls: type,
    params: dict,
    detector_col: str,
    seq_col: str,
    error_col: str,
) -> DataFrame:
    """Streaming twin of :func:`operators.ddm.detector_scan`: the same
    per-group scan, with ``state_cls.STATE_SCHEMA``'s fields carried in the
    group state from one micro-batch to the next.

    The state store round-trips IEEE doubles, ±inf included, so the
    detectors' +inf minima are stored as they are. Checkpoints written when
    +inf was stored as 1e308 resume unchanged: every comparison the two
    kernels make against such a minimum comes out the same for 1e308 as for
    +inf (``p + s <= 1e308`` holds, and ``1e308 + 2 * 1e308`` overflows to
    inf)."""
    fields = state_cls.STATE_SCHEMA.fieldNames()

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        st = state_cls(**params)
        if state.exists:
            for name, value in zip(fields, state.get):
                setattr(st, name, value)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out = scan_group(key, pdf, st, seq_col, error_col)
        state.update(tuple(getattr(st, name) for name in fields))
        yield out

    return (
        detector_input(stream_df, detector_col, seq_col, error_col)
        .groupBy(detector_col)
        .applyInPandasWithState(
            fn,
            outputStructType=DDM_OUTPUT_SCHEMA,
            stateStructType=state_cls.STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def detect_drift_stream(
    stream_df: DataFrame,
    detector_col: str = "detector_id",
    seq_col: str = "seq_id",
    error_col: str = "error",
    min_num_instances: int = 30,
    warning_level: float = 2.0,
    out_control_level: float = 3.0,
) -> DataFrame:
    """Streaming DDM over an (unbounded) DataFrame[detector_id, seq_id,
    error]. Returns the same schema as the batch operator."""
    params = dict(
        min_num_instances=min_num_instances,
        warning_level=warning_level,
        out_control_level=out_control_level,
    )
    return detector_stream(
        stream_df, DDMState, params, detector_col, seq_col, error_col
    )
