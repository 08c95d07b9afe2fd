"""Prequential (test-then-train) evaluation loop (SURVEY §2.6 T3).

Reference: ``models/wos_train_nb.py:65-114`` / ``streams/run_stream_supervised.py:41-85``
interleave predict -> metrics -> detector -> partial_fit per micro-batch.
The canonical Structured Streaming pattern is ``foreachBatch``: each
micro-batch is scored against the CURRENT model state, metrics feed the
drift detector, then the model state is updated — here the model is the
Gaussian-NB sufficient-statistics table (operators.nb), so "training" is an
exact relational merge, and the whole loop is deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ddm import DDMState
from ..operators.nb import nb_fit, nb_merge, nb_predict


@dataclass
class PrequentialNB:
    """Driver-held pipeline state: NB stats table + DDM detector.

    The stats DataFrame is tiny (n_classes x dim); it is re-persisted per
    batch. At reference scale (batch 32, SURVEY BASELINE) this is exactly
    the partial_fit cadence."""

    features_col: str = "features"
    label_col: str = "label"
    id_col: str = "doc_id"
    min_num_instances: int = 30
    stats: DataFrame | None = None
    detector: DDMState = field(default_factory=DDMState)
    history: list = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            self._process(batch_df, batch_id)
        finally:
            # unpersist even when a stage throws mid-batch: an aborted
            # pipeline must not leave cached RDDs behind (r2 verdict #2)
            batch_df.unpersist()

    def _process(self, batch_df: DataFrame, batch_id: int) -> None:
        # ---- test (skip while the model has never been fit)
        if self.stats is not None:
            preds = nb_predict(
                batch_df,
                self.stats,
                features_col=self.features_col,
                id_cols=(self.id_col,),
            )
            scored = preds.join(
                batch_df.select(self.id_col, self.label_col), self.id_col
            )
            agg = scored.agg(
                F.avg(
                    (F.col("pred") == F.col(self.label_col)).cast("double")
                ).alias("acc")
            ).collect()[0]
            accuracy = agg["acc"] if agg["acc"] is not None else 0.0
            flag = self.detector.add_element(1.0 - accuracy)
            self.history.append((batch_id, accuracy, flag))
        # ---- then train (exact sufficient-stats merge == partial_fit)
        new_stats = nb_fit(
            batch_df, features_col=self.features_col, label_col=self.label_col
        )
        if self.stats is None:
            self.stats = new_stats.persist()
            self.stats.count()
        else:
            merged = nb_merge(self.stats, new_stats).persist()
            merged.count()  # materialize before unpersisting the old state
            self.stats.unpersist()
            self.stats = merged

    def close(self) -> None:
        """Release the persisted model-state table (call when the loop is
        done and the stats will not be queried again)."""
        if self.stats is not None:
            self.stats.unpersist()
            self.stats = None

    def results(self) -> list[tuple[int, float, str]]:
        """[(batch_id, accuracy, flag)] — the reference's result series
        (SURVEY §1.1 'Result series')."""
        return list(self.history)


@dataclass
class PrequentialLSTM:
    """T3 test-then-train for the LSTM classifier (U2 + U8's LSTM half).

    Reference cadence (streams/run_stream_supervised.py:41-85 with the LSTM
    runner; one Adam step per micro-batch, wos_classifier.py:38-71): each
    batch is scored with the CURRENT weights, windowed accuracy feeds the
    shared DDM detector, then ``lstm_partial_fit`` takes one step. The train
    step is driver-side on the collected micro-batch (<= batch_size rows —
    the reference's own scale, SURVEY §2.7 U2); inference over arbitrarily
    large frames stays the distributed ``lstm_predict`` mapInPandas."""

    weights: object = None  # LSTMWeights; lazily initialized on first batch
    adam: object = None
    n_classes: int = 2
    hidden: int = 8
    n_layers: int = 1
    lr: float = 1e-3
    seed: int = 0
    tokens_col: str = "tokens"
    label_col: str = "label"
    id_col: str = "doc_id"
    detector: DDMState = field(default_factory=DDMState)
    history: list = field(default_factory=list)

    def _ensure_model(self, input_dim: int) -> None:
        from ..operators.lstm import LSTMWeights
        from ..operators.lstm_train import AdamState

        if self.weights is None:
            self.weights = LSTMWeights.init(
                input_dim,
                self.hidden,
                n_layers=self.n_layers,
                n_classes=self.n_classes,
                seed=self.seed,
            )
            self.adam = AdamState(lr=self.lr)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.lstm_train import lstm_partial_fit

        rows = (
            batch_df.select(self.id_col, self.tokens_col, self.label_col)
            .orderBy(self.id_col)
            .collect()
        )
        if not rows:
            return
        toks = [[list(t) for t in r[self.tokens_col]] for r in rows]
        ys = [int(r[self.label_col]) for r in rows]
        # zero-length token sequences have no forward pass (argmax over an
        # empty axis) and can't size a lazy init — skip them (ADVICE r3)
        kept = [(t, y) for t, y in zip(toks, ys) if t]
        if not kept:
            return
        toks = [t for t, _ in kept]
        ys = [y for _, y in kept]
        self._ensure_model(input_dim=len(toks[0][0]))

        # ---- test with current weights (skip the never-trained model)
        if self.adam is not None and self.adam.t > 0:
            import numpy as np

            correct = 0
            for t, y in zip(toks, ys):
                lp = self.weights.forward_one(np.array(t, dtype=np.float64))
                correct += int(lp.argmax()) == y
            accuracy = correct / len(ys)
            flag = self.detector.add_element(1.0 - accuracy)
            self.history.append((batch_id, accuracy, flag))

        # ---- then train: ONE Adam step (the partial_fit contract)
        lstm_partial_fit(self.weights, self.adam, toks, ys)

    def results(self) -> list[tuple[int, float, str]]:
        return list(self.history)


def fine_tune(
    loop: "PrequentialNB | PrequentialLSTM",
    new_data: DataFrame,
    n_batches: int,
    batch_size: int = 32,
    seq_col: str = "doc_id",
) -> "PrequentialNB | PrequentialLSTM":
    """U8 fine-tune session (adaptation/fine_tuning.py:10-97): continue
    test-then-train over the first n_batches of a NEW-distribution table —
    a bounded replay (T5) through the loop's own ``process_batch`` cadence.
    For NB that is the exact partial_fit merge (deterministic and
    order-exact); for the LSTM it is one Adam step per batch, as in the
    original stream."""
    bounded = new_data.filter(
        F.col(seq_col) < n_batches * batch_size
    ).withColumn("__bucket", F.floor(F.col(seq_col) / batch_size))
    buckets = sorted(
        r["__bucket"]
        for r in bounded.select("__bucket").distinct().collect()
    )
    for b in buckets:
        loop.process_batch(
            bounded.filter(F.col("__bucket") == b).drop("__bucket"), int(b)
        )
    return loop
