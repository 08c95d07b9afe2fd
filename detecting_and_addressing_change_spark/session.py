"""SparkSession factory.

The reference runs single-process Python (SURVEY §0); here every pipeline is
declared against a SparkSession so Catalyst/AQE pick physical plans. Defaults
are tuned for the local[32] test harness but the knobs are the ones that
matter on a real cluster (AQE, shuffle partitions, Arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_on_executors(spark)
    return spark


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF closures (DDM scan, gram-matrix partials, multimodal decode)
    unpickle on workers and import this package; when the driver process was
    launched from another cwd (as the harness may be), workers can't see it.
    A zip of the package shipped through the SparkContext makes the engine
    self-contained regardless of PYTHONPATH. Idempotent per session."""
    if getattr(spark, "_daac_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "daac_spark_pkg.zip"
    )
    tmp = zpath + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._daac_pkg_shipped = True  # type: ignore[attr-defined]
