"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import gen
import probe
import run

HERE = os.path.dirname(os.path.abspath(__file__))
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds():
    a, info_a = gen.make_corpus(5, 600)
    b, info_b = gen.make_corpus(5, 600)
    c, _ = gen.make_corpus(6, 600)
    assert a.equals(b) and info_a == info_b
    assert not a["text"].equals(c["text"])


def test_error_series_is_deterministic_per_seed_and_differs_across_seeds():
    a, info_a = gen.make_error_series(5, 4, 256)
    b, info_b = gen.make_error_series(5, 4, 256)
    c, _ = gen.make_error_series(6, 4, 256)
    assert a.equals(b) and info_a == info_b
    assert not a["error"].equals(c["error"])
    assert sorted(a["detector_id"].unique()) == [f"k{k:02d}" for k in range(16)]
    assert info_a["error_before"] < info_a["error_after"]


def test_corpus_plants_duplicates_and_passes_quality_bands():
    docs, info = gen.make_corpus(7, 4000)
    assert 0.03 < info["dup_share"] < 0.07
    assert 0.03 < info["near_dup_share"] < 0.07
    assert gen.exact_duplicate_ids(docs)
    # planted duplicates and the benchmark split are the only big losses
    kept = gen.curation_survivors(docs)
    assert 0.75 < len(kept) / len(docs) < 0.9
    assert not kept & gen.exact_duplicate_ids(docs)


def test_min_id_canonicals():
    nodes = [1, 2, 3, 4, 5, 6]
    edges = [(2, 5), (5, 3), (4, 6)]
    assert gen.min_id_canonicals(nodes, edges) == {1, 2, 4}


def test_percentile_needs_ten_samples_beyond_it():
    assert probe.percentile(list(range(19)), 50) is None
    assert probe.percentile(list(range(20)), 50) == 9
    assert probe.percentile([float(v) for v in range(99)], 90) is None
    assert probe.percentile([float(v) for v in range(100)], 90) == 89.0
    assert probe.percentile([], 50) is None


def test_self_time_subtracts_children_once():
    S = probe.Span
    spans = [
        S("pass", 0.0, None, end=10.0),
        S("a", 1.0, 0, end=4.0),
        S("a.child", 2.0, 1, end=3.0),
        S("b", 5.0, 0, end=9.0),
        # overlaps b: only the uncovered part counts against the parent
        S("c", 8.0, 0, end=9.5),
    ]
    own = probe.self_times(spans)
    assert own == [10.0 - 3.0 - 4.5, 2.0, 1.0, 4.0, 1.5]


def test_layer_totals_sum_self_time_and_counters_per_name():
    S = probe.Span
    t = probe.Tracer()
    t.spans = [
        S("x", 0.0, None, end=2.0, counters={"jobs": 2.0}),
        S("y", 0.5, 0, end=1.5, counters={"jobs": 1.0}),
        S("x", 3.0, None, end=4.0, counters={"jobs": 1.0}),
    ]
    totals = t.layer_totals()
    assert totals["x"]["s"] == 2.0 and totals["x"]["jobs"] == 3.0
    assert totals["y"]["s"] == 1.0 and totals["x"]["n"] == 2


def test_tracer_records_nesting_without_spark():
    t = probe.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert all(s.end >= s.start for s in t.spans)


def test_job_groups_are_unique_across_tracers(monkeypatch):
    class FakeContext:
        def __init__(self):
            self.groups = []

        def setLocalProperty(self, key, value):
            if key == "spark.jobGroup.id" and value is not None:
                self.groups.append(value)

    monkeypatch.setattr(probe.Tracer, "_spark_counters", lambda self, g: {})
    sc = FakeContext()
    for _ in range(2):  # one tracer per traced pass
        t = probe.Tracer(sc)
        with t.span("a"):
            pass
    assert len(sc.groups) == 2 and len(set(sc.groups)) == 2


def test_metric_names_are_valid_and_match_benchmark_json():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
