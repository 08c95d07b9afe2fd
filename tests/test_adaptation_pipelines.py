"""Mapping experiment (§3.3), unsupervised drift (§0.7), NB fine-tuning
(U8): the adaptation side of the reference reproduced on Spark."""

from __future__ import annotations

import numpy as np
import pytest

from .test_pipeline import labeled_docs  # noqa: F401 (fixture reuse)


def test_mapping_experiment_reduces_pair_mse(spark, labeled_docs):  # noqa: F811
    from detecting_and_addressing_change_spark.pipelines import (
        mapping_experiment,
    )

    result, mse_before, mse_after = mapping_experiment(
        labeled_docs, dim=8, batch_size=64, top_k=50
    )
    # Procrustes minimizes over orthogonal maps and identity is orthogonal,
    # so pair-set MSE can only improve (the reference's own logged check)
    assert mse_after <= mse_before + 1e-9
    rows = result.collect()
    streams = {r["stream"] for r in rows}
    assert streams == {"untrained_raw", "untrained_mapped"}
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in rows)


def test_unsupervised_drift_pseudo_labels(spark, labeled_docs):  # noqa: F811
    from detecting_and_addressing_change_spark.pipelines import (
        unsupervised_drift_experiment,
    )

    res = unsupervised_drift_experiment(
        labeled_docs, dim=8, batch_size=64
    ).orderBy("seq_id").collect()
    assert len(res) == 640 // 64
    # foreign embedding space: model disagrees with its own A-space
    # predictions most of the time
    assert np.mean([r["agreement"] for r in res]) < 0.7
    assert all(r["flag"] in {"N", "W", "D"} for r in res)


def test_fine_tune_adapts_to_new_distribution(spark):
    from detecting_and_addressing_change_spark.streaming.prequential import (
        PrequentialNB,
        fine_tune,
    )

    rng = np.random.RandomState(21)
    dim, classes, batch = 8, 3, 64

    def mk(n, label_shift, start_id=0):
        y = rng.randint(0, classes, size=n)
        x = rng.randn(n, dim) + y[:, None] * 2.0
        labels = (y + label_shift) % classes  # concept drift: cluster->label
        rows = [
            (int(start_id + i), x[i].tolist(), int(labels[i]))
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, features array<double>, label int"
        )

    # short pre-training so the fine-tune data dominates the merged stats
    # (NB partial_fit never forgets — true of sklearn and of the exact merge)
    loop = PrequentialNB()
    old = mk(2 * batch, label_shift=0)
    for b in range(2):
        loop.process_batch(
            old.filter(f"doc_id >= {b*batch} and doc_id < {(b+1)*batch}"), b
        )
    pre_acc = loop.results()[-1][1]
    assert pre_acc > 0.8

    # abrupt concept drift: the same clusters now carry rotated labels.
    # history has ONE pre-train entry (batch 0 trains only), so the first
    # fine-tune score is results()[1:]
    new = mk(6 * batch, label_shift=1)
    fine_tune(loop, new, n_batches=6, batch_size=batch)
    accs_new = [a for _, a, _ in loop.results()[1:]]
    # model trained on the old concept mislabels everything at the seam;
    # once the new data dominates the merged stats, accuracy recovers
    assert accs_new[0] < 0.2
    assert accs_new[-1] > accs_new[0]
    assert accs_new[-1] > 0.75
