"""SparkSession factory.

The reference runs single-process Python (SURVEY §0); here every pipeline is
declared against a SparkSession so Catalyst/AQE pick physical plans. Defaults
are tuned for the local[32] test harness but the knobs are the ones that
matter on a real cluster (AQE, shuffle partitions, Arrow batching).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# HotSpot's tier-4 thresholds, 4x (the defaults are 5000, 600, 15000, 40000)
TIER4_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400"
    " -XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)


def get_spark(
    app_name: str = "detecting-and-addressing-change-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    - AQE on: runtime coalescing of shuffle partitions + skew-join handling,
      which is what makes the same plans survive a 100x scale-up.
    - Arrow on: every pandas_udf / toPandas boundary is vectorized.
    - shuffle.partitions defaults to cores locally; on a cluster set it to
      ~2-3x total cores (or rely on AQE coalescing from a higher initial).
    - Generated-code cache of 1000 entries (Spark's default is 100). The
      cache is an LRU of compiled whole-stage and expression classes, so a
      workload whose working set exceeds it recompiles every class on
      every pass: Janino, then the JIT again on the fresh classes. A warm
      ``curate`` perfbench pass needs between 100 and 200 entries: at the
      default it recompiles about 127 classes every pass, at 200 none
      after its second pass.
      1000 leaves headroom for the bench rows and the driver's query
      windows, whose plans are more varied. It is a static conf, so it
      can only be set here (or through ``extra_conf``) before the session
      starts.
    - Streaming checkpoints through ``FileSystemBasedCheckpointFileManager``
      instead of Spark's FileContext-based default. Without libhadoop,
      Hadoop's local file system forks a ``readlink`` process for every
      link-status check, and ``AbstractFileSystem.rename`` checks both
      endpoints of every rename, for the file and again for its ``.crc``:
      one 3-batch drain of 16 keys spawned 288 ``readlink`` processes,
      most of them in the state-store commit. ``FileSystem.rename`` on
      the local file system is ``File.renameTo`` and forks nothing.
      What does not change: on ``file:`` both managers check that the
      target does not exist and then rename, so the offset and commit
      logs still fail loudly on a concurrent writer. On HDFS, an
      overwrite-rename onto an existing state file keeps the old file,
      which is Spark's own behaviour on object stores.
    - C2 (tier-4) compile thresholds 4x HotSpot's defaults in the driver
      JVM, through ``spark.driver.defaultJavaOptions``. A warm pass runs
      Catalyst, the scheduler and py4j a few hundred times, and the
      streamed drain re-plans every micro-batch, so that code kept
      crossing the default thresholds and being C2-compiled pass after
      pass. On 4 cores the C2 threads alone took 4.5-6.9 of 11-15 CPU
      seconds of a warm perfbench pass. With the higher thresholds that
      lukewarm code stays in C1, while a data loop of millions of
      iterations still crosses the back-edge threshold early in its first
      task. C2 fell to 1.9 s a ``drift`` pass and 3.0-3.8 s a ``curate``
      pass, and ``cpu_s`` by 30% and 21% (10 of 10 interleaved pairs
      each), with ``pass_s``, ``setup_s`` and memory level and the same
      jobs, stages and tasks (BENCH_NOTES "JIT tiering"). A one-shot run
      of many plan shapes, like the driver's sweep, has nothing to gain
      and its loss is unresolved: ``tests/test_oracle_queries.py`` (about
      190 plans, each run once or twice) took a median 1.6% longer than
      at the default thresholds in 6 interleaved pairs, slower in 4,
      inside the default's own run-to-run spread; 2x was slower still.
      Not taken:
      ``CompileThresholdScaling`` (delays C1 too: slower set-up), C2 only
      (slower session start), C1 only and 8x (slower ``curate`` passes),
      fewer compiler threads (no better). Spark puts
      ``defaultJavaOptions`` before ``extraJavaOptions``, so a caller's
      extra options still apply. The builder's value reaches spark-submit
      as ``--conf``, which wins over ``spark-defaults.conf``: a site-level
      ``spark.driver.defaultJavaOptions`` is replaced, not extended. To
      keep one, pass it with ``TIER4_JAVA_OPTIONS`` appended through
      ``extra_conf``, which replaces the key. Only the driver JVM gets
      the flags: executor JVMs on a cluster are not touched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", TIER4_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_on_executors(spark)
    return spark


def package_zip(pkg_dir: str, out_dir: str) -> str:
    """Zip the ``.py`` files under ``pkg_dir`` into ``out_dir`` and return
    the zip's path, ``daac_spark_pkg-<sha256[:16]>.zip`` of the zip's bytes.
    Entries carry a fixed timestamp, so the same tree always gives the same
    bytes and name, and a different tree a different name: a driver never
    rewrites a zip that another driver has already shipped."""
    import hashlib
    import io
    import zipfile

    root = os.path.dirname(pkg_dir)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for dirpath, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    info = zipfile.ZipInfo(os.path.relpath(full, root))
                    with open(full, "rb") as f:
                        z.writestr(info, f.read())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    zpath = os.path.join(out_dir, f"daac_spark_pkg-{digest}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, zpath)
    return zpath


@functools.cache
def _package_dir() -> str:
    """This driver process's zip directory, removed when the process exits."""
    d = tempfile.mkdtemp(prefix="daac_spark_pkgdir-")
    atexit.register(shutil.rmtree, d, True)
    return d


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF closures (DDM scan, gram-matrix partials, multimodal decode)
    unpickle on workers and import this package; when the driver process was
    launched from another cwd (as the harness may be), workers can't see it.
    A zip of the package shipped through the SparkContext makes the engine
    self-contained regardless of PYTHONPATH. The zip is named after its
    contents (:func:`package_zip`) and written into a directory of its
    own under ``$TMPDIR``, made once per driver process and removed by an
    ``atexit`` hook, so drivers started from different checkouts never
    share a zip and none is left behind. Idempotent per session."""
    if getattr(spark, "_daac_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = package_zip(pkg_dir, _package_dir())
    spark.sparkContext.addPyFile(zpath)
    spark._daac_pkg_shipped = True  # type: ignore[attr-defined]
