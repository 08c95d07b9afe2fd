"""E2E abrupt-drift experiment (SURVEY §3.2): on separable synthetic
classes, the space-A stream scores high, the space-B stream collapses, and
DDM fires at (or shortly after) the seam — the reference's headline result
reproduced on Spark."""

from __future__ import annotations

import numpy as np
import pytest

from detecting_and_addressing_change_spark.pipelines import (
    abrupt_drift_experiment,
    gradual_drift_experiment,
    mapping_experiment,
    unsupervised_drift_experiment,
)


@pytest.fixture(scope="module")
def labeled_docs(spark):
    rng = np.random.RandomState(9)
    filler = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(640):
        label = int(rng.randint(0, 3))
        # class marker words dominate the mean-pooled hash embedding
        # (10/12 weight: the hash-embedder's arcsine-ish value distribution
        # needs strong markers for clean NB separation)
        words = [f"marker{label}"] * 10 + list(
            rng.choice(filler, size=2)
        )
        rng.shuffle(words)
        rows.append((i, " ".join(words), label))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_abrupt_drift_detected(spark, labeled_docs):
    res = abrupt_drift_experiment(
        labeled_docs, dim=8, batch_size=32
    ).orderBy("seq_id").collect()
    n_batches = len(res)
    assert n_batches == 2 * 640 // 32
    seam = 640 // 32  # first untrained batch index
    trained = [r for r in res if r["seq_id"] < seam]
    untrained = [r for r in res if r["seq_id"] >= seam]
    # model fits the trained space nearly perfectly
    assert np.mean([r["accuracy"] for r in trained]) > 0.9
    # foreign embedding space collapses accuracy
    assert np.mean([r["accuracy"] for r in untrained]) < 0.7
    # the shared detector fires at/after the seam, never before
    flags = {r["seq_id"]: r["flag"] for r in res}
    assert all(flags[i] == "N" for i in range(seam))
    assert any(f in ("W", "D") for i, f in flags.items() if i >= seam)
    # stream tags carried through
    assert all(r["stream"] == "trained" for r in trained)
    assert all(r["stream"] == "untrained" for r in untrained)


# mapping_experiment returns (result, mse_before, mse_after)
_EXPERIMENTS = {
    "abrupt": abrupt_drift_experiment,
    "unsupervised": unsupervised_drift_experiment,
    "gradual": gradual_drift_experiment,
    "mapping": lambda docs, **kw: mapping_experiment(docs, top_k=50, **kw)[0],
}


@pytest.mark.parametrize("name", list(_EXPERIMENTS))
def test_no_cached_rdds_leak_across_runs(spark, labeled_docs, name):
    """VERDICT r1 finding: repeated experiment runs in a long-lived
    session must not accumulate cached RDDs (persist without unpersist
    degrades executor memory over a service lifetime). The result is a
    driver-built table (a ``LocalRelation`` leaf), so it outlives the
    cache it was computed from."""
    def persistent_ids(sc):
        it = sc._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    run = _EXPERIMENTS[name]
    # Id-set difference, not a count delta: the ContextCleaner may
    # concurrently reclaim an UNRELATED test's cached RDD mid-test (observed
    # as a -1 count in full-suite runs), so assert only that no NEW ids
    # survive our runs.
    before = persistent_ids(spark.sparkContext)
    for _ in range(2):
        res = run(labeled_docs, dim=8, batch_size=32)
        plan = res._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
    leaked = persistent_ids(spark.sparkContext) - before
    assert not leaked, f"cached RDDs leaked by experiment runs: {leaked}"
    assert res.count() > 0


def test_gradual_drift_detected(spark, labeled_docs):
    """Reference experiment 6b: sigma ramps after warm_start; accuracy is
    high in the warm period, decays on the ramp, and DDM fires on the ramp
    (never during warm-up). Deterministic: two runs agree row-for-row."""
    # batch 8 -> 80 detector samples: DDM's 30-instance minimum sits well
    # inside the warm period, so the ramp is detectable
    res = (
        gradual_drift_experiment(
            labeled_docs, dim=8, batch_size=8, warm_start=40, max_std=6.0,
            steps=20,
        )
        .orderBy("seq_id")
        .collect()
    )
    n_batches = 640 // 8
    assert len(res) == n_batches
    warm = [r for r in res if r["seq_id"] < 40]
    ramped = [r for r in res if r["seq_id"] >= 55]
    assert all(r["sigma"] == 0.0 for r in warm)
    assert all(r["sigma"] > 0 for r in ramped)
    assert np.mean([r["accuracy"] for r in warm]) > 0.9
    # strong noise wrecks the separable signal at the ramp's tail
    assert np.mean([r["accuracy"] for r in ramped]) < np.mean(
        [r["accuracy"] for r in warm]
    )
    flags = {r["seq_id"]: r["flag"] for r in res}
    assert all(flags[i] == "N" for i in range(40))
    assert any(f in ("W", "D") for i, f in flags.items() if i >= 40)

    res2 = (
        gradual_drift_experiment(
            labeled_docs, dim=8, batch_size=8, warm_start=40, max_std=6.0,
            steps=20,
        )
        .orderBy("seq_id")
        .collect()
    )
    assert [tuple(r) for r in res] == [tuple(r) for r in res2]
