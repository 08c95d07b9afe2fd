"""DDM (Drift Detection Method) — the one genuinely custom stateful operator
(SURVEY §2.6 T1, §4.2 item 1).

The reference uses ``skmultiflow.drift_detection.DDM`` v0.4.1 (pinned at
``requirements.txt:5``; constructed at
``drift_detection/drift_experiments_supervised.py:100,198`` and fed the
per-batch error rate at ``streams/run_stream_supervised.py:74-84``). The
kernel below implements the published recurrences (Gama et al. 2004,
"Learning with Drift Detection"):

    p_n   <- p_{n-1} + (err - p_{n-1}) / n        (running error mean)
    s_n   <- sqrt(p_n (1 - p_n) / n)
    track min of (p + s); Warning  when p + s > p_min + 2 s_min
                          Drift    when p + s > p_min + 3 s_min -> reset
    no signal before min_num_instances (30) samples.

DDM is inherently order-dependent, so the Spark operator constrains
dataflow exactly where required and nowhere else: rows are grouped by
``detector_id`` (each group is one logical detector — parallelism across
detectors is free, SURVEY §4.3), sorted by ``seq_id`` *within* the group,
and scanned sequentially by an Arrow-batched ``applyInPandas`` kernel.
That shell (:func:`detector_scan`, with :func:`scan_group` as its per-group
body) is shared by every sequential detector: any state class with
``add_element(x) -> flag``, a ``STATE_SCHEMA`` of its carried fields and an
``ERROR_RANGE`` of the inputs it accepts runs through it, batch here and
streaming in ``streaming/ddm_stream.py``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class DDMState:
    """Detector state: tiny, serializable (used as streaming state too)."""

    # fields a stream carries across micro-batches (the parameters are
    # rebuilt from the operator's arguments; in_warning_zone is recomputed
    # by every add_element)
    STATE_SCHEMA = T.StructType(
        [
            T.StructField("sample_count", T.LongType()),
            T.StructField("miss_prob", T.DoubleType()),
            T.StructField("miss_std", T.DoubleType()),
            T.StructField("miss_prob_sd_min", T.DoubleType()),
            T.StructField("miss_prob_min", T.DoubleType()),
            T.StructField("miss_sd_min", T.DoubleType()),
            T.StructField("in_concept_change", T.BooleanType()),
        ]
    )
    # the errors DDM accepts: p(1 - p) is a variance only for p in [0, 1]
    ERROR_RANGE = (0.0, 1.0)

    min_num_instances: int = 30
    warning_level: float = 2.0
    out_control_level: float = 3.0
    sample_count: int = 1
    miss_prob: float = 1.0
    miss_std: float = 0.0
    miss_prob_sd_min: float = field(default=math.inf)
    miss_prob_min: float = field(default=math.inf)
    miss_sd_min: float = field(default=math.inf)
    in_concept_change: bool = False
    in_warning_zone: bool = False

    def add_element(self, error: float) -> str:
        """Feed one error observation (any float in [0,1]; the reference
        feeds ``1 - accuracy``). Returns 'N' | 'W' | 'D'."""
        if self.in_concept_change:
            self.reset_detector()
        self.miss_prob += (error - self.miss_prob) / self.sample_count
        self.miss_std = math.sqrt(
            max(self.miss_prob * (1.0 - self.miss_prob), 0.0)
            / self.sample_count
        )
        self.sample_count += 1
        self.in_concept_change = False
        self.in_warning_zone = False
        if self.sample_count < self.min_num_instances:
            return "N"
        if self.miss_prob + self.miss_std <= self.miss_prob_sd_min:
            self.miss_prob_min = self.miss_prob
            self.miss_sd_min = self.miss_std
            self.miss_prob_sd_min = self.miss_prob + self.miss_std
        if (
            self.miss_prob + self.miss_std
            > self.miss_prob_min + self.out_control_level * self.miss_sd_min
        ):
            self.in_concept_change = True
            return "D"
        if (
            self.miss_prob + self.miss_std
            > self.miss_prob_min + self.warning_level * self.miss_sd_min
        ):
            self.in_warning_zone = True
            return "W"
        return "N"

    def reset_detector(self) -> None:
        self.sample_count = 1
        self.miss_prob = 1.0
        self.miss_std = 0.0
        self.miss_prob_sd_min = math.inf
        self.miss_prob_min = math.inf
        self.miss_sd_min = math.inf
        self.in_concept_change = False
        self.in_warning_zone = False


def ddm_scan(errors: list[float], **params) -> list[str]:
    """Pure-Python golden reference: flags for an ordered error series."""
    st = DDMState(**params)
    return [st.add_element(e) for e in errors]


DDM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("detector_id", T.StringType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("error", T.DoubleType()),
        T.StructField("flag", T.StringType()),
    ]
)


def detector_input(
    df: DataFrame, detector_col: str, seq_col: str, error_col: str
) -> DataFrame:
    """The (detector, seq, error) triple every detector scan reads, cast to
    string/long/double."""
    return df.select(
        F.col(detector_col).cast("string").alias(detector_col),
        F.col(seq_col).cast("long").alias(seq_col),
        F.col(error_col).cast("double").alias(error_col),
    )


def scan_group(
    key: tuple, pdf: pd.DataFrame, st, seq_col: str, error_col: str
) -> pd.DataFrame:
    """Sort one detector's rows by ``seq_col``, feed them through ``st`` in
    that order and return them as a ``DDM_OUTPUT_SCHEMA`` frame. The id is
    the group key, so a null detector id stays null.

    Raises ``ValueError``, naming the key and the ``seq_id``, on a null or
    NaN error, on an error outside ``st.ERROR_RANGE`` (``None``: any real
    value) and on a ``seq_id`` that repeats within the key. Any of these
    would otherwise feed the detector silently: one NaN makes every later
    DDM comparison false, and tied rows have no defined order."""
    # ties raise below; stable only fixes which tied row the error reports
    pdf = pdf.sort_values(seq_col, kind="stable")
    seqs = pdf[seq_col]
    errors = pdf[error_col].astype(float)
    checks = [("null or NaN error", errors.isna())]
    if st.ERROR_RANGE is not None:
        lo, hi = st.ERROR_RANGE
        checks.append(
            (f"error outside [{lo}, {hi}]", (errors < lo) | (errors > hi))
        )
    checks.append(("repeated seq_id", seqs.duplicated()))
    for what, bad in checks:
        if bad.any():
            i = bad.to_numpy().argmax()
            raise ValueError(
                f"detector {key[0]!r}: {what} at seq_id {seqs.iloc[i]}"
                f" (error {errors.iloc[i]})"
            )
    return pd.DataFrame(
        {
            "detector_id": [key[0]] * len(pdf),
            "seq_id": pdf[seq_col].astype("int64").values,
            "error": errors.values,
            "flag": [st.add_element(e) for e in errors],
        }
    )


def detector_scan(
    df: DataFrame,
    state_cls: type,
    params: dict,
    detector_col: str,
    seq_col: str,
    error_col: str,
) -> DataFrame:
    """Batch scan of a sequential detector over DataFrame[detector, seq,
    error]: groupBy(detector).applyInPandas, one fresh ``state_cls(**params)``
    per group. Detectors scale out horizontally; a single detector is a
    single logical sequence and cannot be parallelized without changing
    semantics (it matches the reference's single shared detector instance,
    SURVEY §8 Q8)."""

    def scan(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return scan_group(key, pdf, state_cls(**params), seq_col, error_col)

    return (
        detector_input(df, detector_col, seq_col, error_col)
        .groupBy(detector_col)
        .applyInPandas(scan, DDM_OUTPUT_SCHEMA)
    )


def detect_drift(
    df: DataFrame,
    detector_col: str = "detector_id",
    seq_col: str = "seq_id",
    error_col: str = "error",
    min_num_instances: int = 30,
    warning_level: float = 2.0,
    out_control_level: float = 3.0,
) -> DataFrame:
    """Batch-mode DDM over DataFrame[detector_id, seq_id, error]."""
    params = dict(
        min_num_instances=min_num_instances,
        warning_level=warning_level,
        out_control_level=out_control_level,
    )
    return detector_scan(
        df, DDMState, params, detector_col, seq_col, error_col
    )


def flag_case_expr(metric: Column, drift_at: float, warn_at: float) -> Column:
    """T2 flag classification as a CASE expression
    (streams/run_stream_supervised.py:76-84 in reference)."""
    return (
        F.when(metric >= drift_at, F.lit("D"))
        .when(metric >= warn_at, F.lit("W"))
        .otherwise(F.lit("N"))
    )
