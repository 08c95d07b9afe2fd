"""The benchmark's workloads: ``drift`` and ``curate``.

Each workload generates and stages its seeded inputs, opens them through the
sources layer, and computes the references its outputs are checked
against. It then runs passes: ``WARM_PASSES`` of warm-up, then measured
ones. A pass goes from the staged input to a checked result and returns
that result's fingerprint; a wrong result raises ``CheckFailed``. With a
tracer, the pass opens a span around every call into a layer of the
package (span names are the layer names of the per-layer metrics); lazy
steps are then materialized inside their own span, so a traced pass does
the untraced pass's work plus those materializations."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import pandas as pd

import gen

FLAGS = {"N", "W", "D"}
SERIES_SCHEMA = "detector_id string, seq_id long, error double"


class CheckFailed(Exception):
    """A pass produced a wrong result."""


def fingerprint(*parts) -> str:
    return hashlib.sha1(repr(parts).encode()).hexdigest()[:16]


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _check_flags(rows, n: int, what: str) -> str:
    """``rows`` sorted by seq_id must be one row per batch 0..n-1 with
    valid flags; returns the flag string."""
    _check([r["seq_id"] for r in rows] == list(range(n)), f"{what}: batches")
    flags = "".join(r["flag"] for r in rows)
    _check(set(flags) <= FLAGS, f"{what}: flags {set(flags) - FLAGS}")
    return flags


def _dir_bytes(path: str) -> float:
    return float(
        sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
        )
    )


class Workload:
    name = ""
    N_DOCS = 0
    WARM_PASSES = 1  # full passes before the measured ones

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.info: dict = {}
        self.layer_io: dict[str, float] = {}
        self.batch_ms: list[float] = []  # micro-batch triggerExecution times
        self.progress: list = []  # StreamingQueryProgress of the last drain
        self.reference: str | None = None
        self.check_s = 0.0  # time spent computing references in Python

    def stage(self, into: str) -> None:
        """Generate the inputs from the seed and stage them under ``into``."""
        self.pdocs, self.info = gen.make_corpus(self.seed, self.N_DOCS)
        self.data = into
        self._write_docs(self.pdocs, into)

    def prepare(self) -> None:
        """Open the staged inputs through the sources layer and compute the
        references the passes are checked against."""
        t = time.perf_counter()
        self.docs = self._load(self.data)
        self.layer_io["sources.s"] = time.perf_counter() - t
        self.layer_io["sources.input_bytes"] = _dir_bytes(self.data)

    def run_pass(self, tracer=None) -> str:
        raise NotImplementedError

    def _load(self, data: str):
        from detecting_and_addressing_change_spark.sources.tables import (
            load_table,
        )

        return load_table(self.spark, data, "documents")

    def _write_docs(self, docs: pd.DataFrame, into: str) -> None:
        os.makedirs(into, exist_ok=True)
        docs.to_parquet(f"{into}/documents.parquet", index=False)

    @contextmanager
    def _reference(self):
        """Time a reference computation that is the benchmark's own work,
        so that it stays out of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def _same_as_reference(self, fp: str) -> str:
        if self.reference is None:
            self.reference = fp
        _check(fp == self.reference, f"{self.name}: fingerprint")
        return fp


# --------------------------------------------------------------------------


class Drift(Workload):
    """The paper's drift experiments in batch (abrupt embedding swap and
    unsupervised pseudo-labels, each ending in a DDM scan) and a 16-key
    error series streamed through the keyed DDM: staged
    as one file per micro-batch and drained with ``availableNow``, each
    micro-batch starting when the previous one commits (a closed loop)."""

    name = "drift"
    N_DOCS = 2048
    BATCHES = 3
    ROWS = 512  # rows per micro-batch, all keys together
    WARM_PASSES = 2
    _drains = 0  # drains started, for unique sink and checkpoint names

    def stage(self, into: str) -> None:
        from detecting_and_addressing_change_spark.sources.tables import (
            read_parquet_cached_schema,
        )
        from detecting_and_addressing_change_spark.streaming.replay import (
            stage_replay_files,
        )

        super().stage(into)
        self.series, shares = gen.make_error_series(
            self.seed, self.BATCHES, self.ROWS
        )
        self.info.update(shares)
        self.series.to_parquet(f"{into}/series.parquet", index=False)
        df = read_parquet_cached_schema(self.spark, f"{into}/series.parquet")
        t = time.perf_counter()
        stage_replay_files(df, "seq_id", f"{into}/staged", batch_size=self.ROWS)
        self.layer_io["replay.stage_s"] = time.perf_counter() - t

    def prepare(self) -> None:
        from detecting_and_addressing_change_spark.operators.ddm import (
            detect_drift,
        )
        from detecting_and_addressing_change_spark.sources.tables import (
            read_parquet_cached_schema,
        )

        super().prepare()
        series = read_parquet_cached_schema(
            self.spark, f"{self.data}/series.parquet"
        )
        self.expected = sorted(
            (r["detector_id"], r["seq_id"], r["flag"])
            for r in detect_drift(series).collect()
        )
        self.info["first_D_row"] = min(
            (s for _, s, f in self.expected if f == "D"), default=-1
        )

    def run_pass(self, tracer=None) -> str:
        n = self.N_DOCS // gen.WINDOW
        abrupt, unsup = self._experiments(self.docs, tracer)
        flags = _check_flags(abrupt, 2 * n, "abrupt")
        first_d = flags.find("D")
        _check(first_d >= self.info["seam_batch"], f"abrupt: first D {first_d}")
        _check_flags(unsup, n, "unsupervised")

        streamed = self._drain(f"{self.data}/staged", tracer)
        _check(
            len(self.progress) == self.BATCHES,
            f"stream: {len(self.progress)} micro-batches",
        )
        _check(streamed == self.expected, "stream: flags differ from batch DDM")
        return self._same_as_reference(
            fingerprint(
                *([tuple(r.values()) for r in rows] for rows in (abrupt, unsup)),
                streamed,
            )
        )

    def _experiments(self, docs, tracer):
        from detecting_and_addressing_change_spark import pipelines

        def by_seq(rows):
            return sorted(rows, key=lambda r: r["seq_id"])

        if tracer is None:
            abrupt = pipelines.abrupt_drift_experiment(docs).collect()
            abrupt = [r.asDict() for r in abrupt]
        else:
            with tracer.span("abrupt"):
                abrupt = _abrupt_by_steps(docs, tracer)
        out = [by_seq(abrupt)]
        with _span(tracer, "unsupervised"):
            with _span(tracer, "pipelines.build"):
                res = pipelines.unsupervised_drift_experiment(docs)
            out.append(by_seq(r.asDict() for r in res.collect()))
        return out

    def _drain(self, staged: str, tracer) -> list[tuple]:
        """Replay ``staged`` through the streaming DDM into a memory sink
        and return the sorted (detector_id, seq_id, flag) rows."""
        from detecting_and_addressing_change_spark.streaming.ddm_stream import (
            detect_drift_stream,
        )
        from detecting_and_addressing_change_spark.streaming.replay import (
            read_replay_stream,
        )

        self._drains += 1
        sink = f"perfbench_{os.getpid()}_{self._drains}"
        ckpt = f"{self.work}/ckpt/{self._drains}"
        with _span(tracer, "stream") as span:
            q = (
                detect_drift_stream(
                    read_replay_stream(self.spark, staged, SERIES_SCHEMA)
                )
                .writeStream.format("memory")
                .queryName(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if span is not None:  # the query's jobs run in its own group
                span.groups.append(str(q.runId))
            try:
                done = q.awaitTermination(120)
            finally:
                if q.isActive:
                    q.stop()
            _check(bool(done), "stream: drain did not finish")
            _check(q.exception() is None, f"stream: {q.exception()}")
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.batch_ms.extend(
            float(p["durationMs"]["triggerExecution"]) for p in self.progress
        )
        with _span(tracer, "check"):
            rows = self.spark.table(sink).collect()
        self.spark.catalog.dropTempView(sink)
        shutil.rmtree(ckpt, ignore_errors=True)
        return sorted((r["detector_id"], r["seq_id"], r["flag"]) for r in rows)


def _abrupt_by_steps(docs, tracer):
    """``pipelines.abrupt_drift_experiment`` called step by step through the
    public functions it is built from (same arguments, same order), each
    step materialized inside its layer's span. Returns the same rows."""
    from pyspark.sql import functions as F

    from detecting_and_addressing_change_spark.operators.ddm import ddm_scan
    from detecting_and_addressing_change_spark.operators.nb import (
        nb_collect_stats,
        nb_fit,
        nb_predict,
    )
    from detecting_and_addressing_change_spark.operators.windows import (
        count_window_agg,
    )
    from detecting_and_addressing_change_spark.pipelines import (
        pooled_features_models,
    )

    dim = 8
    labels = docs.select("doc_id", "label")
    with tracer.span("embedder"):
        pooled = pooled_features_models(docs, ("BERT", "SCIBERT"), dim)
        pooled = pooled.persist()
        pooled.count()
    scored = None
    try:
        feats_a = pooled.filter(F.col("model") == "BERT").drop("model")
        feats_b = pooled.filter(F.col("model") == "SCIBERT").drop("model")
        with tracer.span("nb"):
            stats = nb_collect_stats(
                nb_fit(feats_a.join(labels, "doc_id"), dim=dim)
            )
            n_docs = sum(r["cnt"] for r in stats)
            both = feats_a.select(
                "doc_id", "features", F.lit("trained").alias("stream"),
                F.col("doc_id").alias("seq_id"),
            ).unionByName(
                feats_b.select(
                    "doc_id", "features", F.lit("untrained").alias("stream"),
                    (F.col("doc_id") + F.lit(n_docs)).alias("seq_id"),
                )
            )
            preds = nb_predict(
                both, stats, id_cols=("doc_id", "stream", "seq_id")
            )
            scored = preds.join(labels, "doc_id").select(
                "seq_id", "stream",
                (F.col("pred") == F.col("label")).cast("int").alias("correct"),
            ).persist()
            scored.count()
        with tracer.span("windows"):
            per_batch = count_window_agg(
                scored, seq_col="seq_id", batch_size=gen.WINDOW,
                aggs=[
                    F.avg("correct").alias("accuracy"),
                    F.max("stream").alias("stream"),
                ],
            ).select(
                F.col("bucket").cast("long").alias("seq_id"),
                (1.0 - F.col("accuracy")).alias("error"),
                "accuracy", "stream",
            )
            rows = sorted(per_batch.collect(), key=lambda r: r["seq_id"])
        with tracer.span("ddm"):
            flags = ddm_scan([float(r["error"]) for r in rows])
    finally:
        pooled.unpersist()
        if scored is not None:
            scored.unpersist()
    return [
        {
            "seq_id": r["seq_id"],
            "stream": r["stream"],
            # the pipeline's 6-digit rounding: floor(x * 1e6 + 0.5) / 1e6
            "accuracy": math.floor(float(r["accuracy"]) * 1e6 + 0.5) / 1e6,
            "flag": f,
        }
        for r, f in zip(rows, flags)
    ]


# --------------------------------------------------------------------------


class Curate(Workload):
    """Curation run (verdict plan, then a source-partitioned parquet write)
    followed by near-duplicate clustering (MinHash edges, then connected
    components) over a corpus with planted exact and near duplicates."""

    name = "curate"
    N_DOCS = 8192

    def prepare(self) -> None:
        from detecting_and_addressing_change_spark.operators.dedup import (
            minhash_dedup_edges,
        )

        super().prepare()
        with self._reference():
            self.dups = gen.exact_duplicate_ids(self.pdocs)
            self.survivors = gen.curation_survivors(self.pdocs)
        edges = minhash_dedup_edges(self.docs).collect()
        with self._reference():
            self.canonicals = gen.min_id_canonicals(
                self.pdocs["doc_id"].tolist(), [(r[0], r[1]) for r in edges]
            )
        self.info["near_dup_edges"] = len(edges)
        self.info["kept_share"] = round(len(self.survivors) / self.N_DOCS, 4)

    def run_pass(self, tracer=None) -> str:
        stats, survivors, canonicals = self._curate(self.docs, tracer)
        _check(not survivors & self.dups, "curate: exact duplicate kept")
        _check(survivors == self.survivors, "curate: survivors")
        _check(
            sum(r["n_docs"] for r in stats) == self.N_DOCS
            and sum(r["n_kept"] for r in stats) == len(survivors),
            "curate: stats",
        )
        _check(not canonicals & self.dups, "dedup: exact duplicate canonical")
        _check(canonicals == self.canonicals, "dedup: canonical set")
        return self._same_as_reference(
            fingerprint(
                sorted(tuple(r) for r in stats), sorted(survivors),
                sorted(canonicals),
            )
        )

    def _curate(self, docs, tracer):
        from pyspark.sql import functions as F

        from detecting_and_addressing_change_spark import curation
        from detecting_and_addressing_change_spark.operators.dedup import (
            minhash_dedup_edges,
        )
        from detecting_and_addressing_change_spark.operators.graph import (
            dedup_clusters,
        )

        out = f"{self.work}/curated"
        with _span(tracer, "curation.build"), _traced_sink(curation, tracer):
            stats = curation.curate_corpus(docs, out).collect()
        with _span(tracer, "check"):
            kept = curation.load_curated(self.spark, out).select("doc_id")
            survivors = {r[0] for r in kept.collect()}
        if tracer is None:
            edges = minhash_dedup_edges(docs)
        else:
            with tracer.span("dedup"):
                edges = minhash_dedup_edges(docs).localCheckpoint(eager=True)
        with _span(tracer, "graph.build"):
            clusters = dedup_clusters(docs.select("doc_id"), edges)
        with _span(tracer, "graph.exec"):
            canon = clusters.filter(F.col("is_canonical")).select("doc_id")
            canonicals = {r[0] for r in canon.collect()}
        return stats, survivors, canonicals


@contextmanager
def _traced_sink(curation, tracer):
    """Open a ``sinks`` span around every parquet sink call the curation
    run makes (through the name the ``curation`` module imported); the
    module is restored on exit."""
    if tracer is None:
        yield
        return
    real = curation.write_partitioned

    def write_partitioned(*args, **kwargs):
        with tracer.span("sinks"):
            return real(*args, **kwargs)

    curation.write_partitioned = write_partitioned
    try:
        yield
    finally:
        curation.write_partitioned = real


def stream_layers(progress) -> dict[str, float]:
    """Per-drain totals of the micro-batch phases, and the state store's
    size after the last batch, from StreamingQueryProgress."""
    out = {}
    for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                  "latestOffset"):
        out[f"stream.{phase}_ms"] = float(
            sum(p["durationMs"].get(phase, 0) for p in progress)
        )
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    out["stream.state_commit_ms"] = float(sum(o["commitTimeMs"] for o in ops))
    out["stream.state_rows"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
    out["stream.state_mem_bytes"] = (
        float(ops[-1]["memoryUsedBytes"]) if ops else 0.0
    )
    out["stream.batches"] = float(len(progress))
    return out


WORKLOADS = {w.name: w for w in (Drift, Curate)}
