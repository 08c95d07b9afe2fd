#!/usr/bin/env python3
"""Benchmark of the drift engine on generated inputs.

    python3 perfbench/run.py --workload drift|curate --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout (any cwd works). One process starts a local
Spark session with one executor thread per core, generates the workload's
inputs from the seed, stages them, warms up, then runs checked passes for
``--seconds`` seconds. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` traced and untraced
passes alternate and the metrics are the per-layer ones (see README.md).

Everything the run writes stays under ``.perfbench_work/`` in the checkout;
the span file of a traced run is left there, the rest is removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_work")
# pass_s and cpu_s come from the first MEASURED passes after the warm-up, so
# every run reports the same positions on the warm-up curve, however many
# passes fit in --seconds
MEASURED = 2
MAX_EXTRA_S = 75  # a traced run may pass --seconds by this much to fill its needs

END_TO_END = {
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "embedder.s": "s",
    "embedder.offcpu_s": "s",
    "embedder.tasks": "count",
    "pipelines.build_s": "s",
    "pipelines.build_jobs": "count",
    "nb.s": "s",
    "windows.s": "s",
    "ddm.s": "s",
    "curation.build_s": "s",
    "curation.jobs": "count",
    "sinks.s": "s",
    "sinks.output_bytes": "bytes",
    "dedup.s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "graph.build_s": "s",
    "graph.build_jobs": "count",
    "graph.exec_s": "s",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "sources.s": "s",
    "sources.input_bytes": "bytes",
    "replay.stage_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.top_span_share": "ratio",
}
# per-layer metric -> (span name, what of it): "s" is the spans' self
# time, anything else is a Spark counter of the jobs they ran
FROM_SPANS = {
    "embedder.s": ("embedder", "s"),
    "embedder.tasks": ("embedder", "tasks"),
    "pipelines.build_s": ("pipelines.build", "s"),
    "pipelines.build_jobs": ("pipelines.build", "jobs"),
    "nb.s": ("nb", "s"),
    "windows.s": ("windows", "s"),
    "ddm.s": ("ddm", "s"),
    "curation.build_s": ("curation.build", "s"),
    "curation.jobs": ("curation.build", "jobs"),
    "sinks.s": ("sinks", "s"),
    "sinks.output_bytes": ("sinks", "output_bytes"),
    "dedup.s": ("dedup", "s"),
    "dedup.shuffle_write_bytes": ("dedup", "shuffle_write_bytes"),
    "graph.build_s": ("graph.build", "s"),
    "graph.build_jobs": ("graph.build", "jobs"),
    "graph.exec_s": ("graph.exec", "s"),
}

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(
        f"perfbench [{time.perf_counter() - T0:6.1f}s]: {msg}",
        file=sys.stderr, flush=True,
    )


def start_session(work: str, cores: int):
    from detecting_and_addressing_change_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the session's first job pays one-off costs; count them in the
    # session start, not in the first of the repeated stagings
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until every process it started
    (the JVM's Python workers included) has exited."""
    from pyspark import SparkContext

    from probe import alive, tree_pids

    me = os.getpid()
    children = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + 30
    while children:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        children = [p for p in children if alive(p)]
        if children and time.monotonic() > deadline:
            for p in children:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def layer_metrics(tracer, wl, wall: float) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    totals = tracer.layer_totals()
    out = dict.fromkeys(PER_LAYER, 0.0)
    for metric, (span, what) in FROM_SPANS.items():
        out[metric] = totals.get(span, {}).get(what, 0.0)
    emb = totals.get("embedder", {})
    out["embedder.offcpu_s"] = emb.get("executor_run_s", 0.0) - emb.get(
        "executor_cpu_s", 0.0
    )
    for counter in ("jobs",) + tracer.STAGE_COUNTERS:
        name = f"spark.{counter}"
        if name in out:
            out[name] = sum(t.get(counter, 0.0) for t in totals.values())
    top = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    out["trace.top_span_share"] = top / wall
    if wl.progress:
        from workloads import stream_layers

        out.update(stream_layers(wl.progress))
    return out


def run(args) -> int:
    import probe
    from workloads import CheckFailed

    work = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    me = os.getpid()
    passes: list[dict] = []
    with probe.MemorySampler(me) as mem:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        try:
            session_s = time.perf_counter() - t0
            mem.refresh()
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            t = time.perf_counter()
            wl.stage(f"{work}/input")
            staging_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.prepare()
            # the references computed in Python are the benchmark's work
            prepare_s = time.perf_counter() - t - wl.check_s
            # warm-up: full passes. The first pays the first-use costs (JVM
            # code generation and compilation, Python worker start-up) and
            # sets the fingerprint every later pass must repeat.
            t = time.perf_counter()
            for _ in range(wl.WARM_PASSES):
                mem.refresh()
                wl.run_pass()
            wl.batch_ms.clear()
            warm_s = time.perf_counter() - t
            setup_s = session_s + staging_s + prepare_s + warm_s
            log(
                f"{args.workload} seed={args.seed} cores={cores} setup "
                f"{setup_s:.2f}s: session {session_s:.2f}s, staging "
                f"{staging_s:.2f}s, prepare "
                f"{prepare_s:.2f}s (+{wl.check_s:.2f}s of references, not "
                f"counted), warm-up {warm_s:.2f}s"
            )

            end = time.perf_counter() + args.seconds
            spans = []
            while True:
                n_traced = sum(p["traced"] for p in passes)
                traced = bool(args.trace) and n_traced < len(passes) - n_traced
                tracer = probe.Tracer(spark.sparkContext) if traced else None
                mem.refresh()
                cpu0 = probe.tree_cpu_seconds(me)
                t = time.perf_counter()
                ok = True
                try:
                    wl.run_pass(tracer)
                except CheckFailed as e:
                    ok = False
                    log(f"check failed: {e}")
                except Exception:
                    ok = False
                    log(traceback.format_exc())
                wall = time.perf_counter() - t
                p = {
                    "wall": wall,
                    "cpu": probe.tree_cpu_seconds(me) - cpu0,
                    "traced": traced,
                    "ok": ok,
                }
                if traced:
                    p["layers"] = layer_metrics(tracer, wl, wall)
                    spans.append(tracer.dump())
                passes.append(p)
                log(f"pass {len(passes)} {wall:.2f}s traced={traced} ok={ok}")
                now = time.perf_counter()
                if now < end or len(passes) < MEASURED:
                    continue
                # a traced run needs both kinds of pass, and enough
                # micro-batches for a median with ten samples beyond it
                both = 0 < n_traced + traced < len(passes)
                enough = both and (not wl.progress or len(wl.batch_ms) >= 20)
                if not args.trace or enough or now > end + MAX_EXTRA_S:
                    break
        finally:
            stop_session(spark)
            log("stopped")

    failed = sum(not p["ok"] for p in passes)
    good = [p for p in passes if p["ok"]] or passes
    if args.trace:
        plain = [p for p in good if not p["traced"]] or good
        traced = [p for p in good if p["traced"]] or good
        metrics = {
            k: statistics.median([p["layers"].get(k, 0.0) for p in traced if "layers" in p] or [0.0])
            for k in PER_LAYER
        }
        metrics.update(wl.layer_io)
        p50 = probe.percentile(wl.batch_ms, 50)
        metrics["stream.batch_p50_ms"] = p50 if p50 is not None else 0.0
        metrics["trace.pass_s"] = statistics.median([p["wall"] for p in traced])
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - statistics.median(
            [p["wall"] for p in plain]
        )
        units = PER_LAYER
        os.makedirs(OUT, exist_ok=True)
        with open(f"{OUT}/spans-{args.workload}-{args.seed}.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "passes": spans}, f)
    else:
        first = [p for p in passes[:MEASURED] if p["ok"]] or passes[:MEASURED]
        metrics = {
            "pass_s": statistics.median([p["wall"] for p in first]),
            "cpu_s": statistics.median([p["cpu"] for p in first]),
            "peak_rss_mb": mem.peak / 2**20,
            "setup_s": setup_s,
        }
        units = END_TO_END

    print(
        f"perfbench: workload={args.workload} seed={args.seed} "
        f"passes={len(passes)} input={json.dumps(wl.info, sort_keys=True)}"
    )
    print(json.dumps({
        "correct": failed == 0 and bool(passes),
        "attempted": len(passes),
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
        },
    }))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # every temporary file of the run (Python's, the JVM's, Spark's) lands
    # inside the checkout; set before pyspark is imported
    work = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # the launcher JVM that spark-submit starts first would otherwise keep
    # its performance-data file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [HERE, ROOT]
    try:
        try:
            import detecting_and_addressing_change_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            log(f"cannot import the engine: {e}")
            return 2
        return run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(OUT)  # only when no span file was left there
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
