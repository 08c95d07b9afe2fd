"""Table sources over the driver-generated parquet testdata (TESTDATA.md).

Mirrors SURVEY §2.1: the reference's line-file corpus scan
(``streams/loaders.py:15-55``) and materialized-embedding scan
(``streams/stream_data.py:18-22``) become declarative parquet scans so
Catalyst gets predicate pushdown + column pruning for free. Schemas come
from the parquet footers: ``load_table`` infers each table's schema once
per (Spark application, sf_dir, table) and memoizes it, so later scans
read with that explicit schema instead of re-inferring it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Footer-schema memo, keyed per (Spark application, sf_dir, table). A bare
# ``spark.read.parquet(path)`` runs a schema-inference JOB over the file
# footers at every call site — one driver job per table reference, i.e. one
# scheduler floor (~0.05-0.2 s locally) per query construction, and at
# 100 TB a full footer-listing pass over thousands of files per reference
# (guide §1.2/§6: don't recompute metadata per query). The memo holds
# SCHEMA METADATA only (never rows or results): the first reference in a
# session pays the inference once, every later reference reads with the
# explicit footer schema, which is byte-identical to what inference would return. Keyed by applicationId
# so a fresh session (fresh bench/driver run) always re-probes the files.
_FOOTER_SCHEMAS: dict[tuple[str, str, str], T.StructType] = {}


def _footer_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    sch = _FOOTER_SCHEMAS.get(key)
    if sch is None:
        sch = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        _FOOTER_SCHEMAS[key] = sch
    return sch


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with a per-(application, path) footer-schema memo.

    For intra-session fixture read-backs (minhash/IVF index directories,
    staged curation corpora): the files at ``path`` are written by this
    session with a schema that never changes for the path's lifetime, but a
    bare ``spark.read.parquet`` re-infers it with a footer job on EVERY
    read — several scheduler floors per query call for the index-lifecycle
    queries. First read per (application, path) pays the inference; later
    reads pass the schema explicitly (identical result — inference just
    reads with the merged footer schema). Only schema METADATA is memoized,
    never rows; appends to the path are fine (same schema), schema-changing
    rewrites of one path within one application are not (no caller does
    that)."""
    key = (spark.sparkContext.applicationId, "", path)
    sch = _FOOTER_SCHEMAS.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _FOOTER_SCHEMAS[key] = sch  # type: ignore[assignment]
    return spark.read.schema(sch).parquet(path)


def forget_footer_schemas(path_prefix: str) -> None:
    """Drop memoized footer schemas under ``path_prefix`` — called by index
    mutations that rewrite a directory wholesale (compact/delete swaps), so
    a same-session schema-shape change can never serve a stale memo."""
    for key in [k for k in _FOOTER_SCHEMAS if k[2].startswith(path_prefix)]:
        del _FOOTER_SCHEMAS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one table. Declarative: pushdown/pruning are free.

    ``events.ts`` has been generated with two different physical types across
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects unless read as a raw long via legacy nanosAsLong, then
    truncated ns→µs exactly like DuckDB does) and plain ``timestamp[us]``
    (which loads directly, as TIMESTAMP_NTZ). Branch on the *loaded* dtype so
    both generations work: LongType → nanos path; TIMESTAMP_NTZ → cast to
    session-TZ timestamp (identity under the UTC session, but keeps every
    downstream watermark/window/interval op on one timestamp class)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    if name == "events":
        # Harmless for µs data: nanosAsLong only changes how NANOS columns
        # are surfaced, and is required to read them at all. Must be set
        # BEFORE the footer probe (the probe rejects NANOS without it).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        sch = _footer_schema(spark, sf_dir, name)
        df = spark.read.schema(sch).parquet(f"{sf_dir}/{name}.parquet")
        ts_type = sch["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer div, NOT double division: ns epochs (~1.7e18) exceed
            # the 53-bit double mantissa and would lose microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    sch = _footer_schema(spark, sf_dir, name)
    return spark.read.schema(sch).parquet(f"{sf_dir}/{name}.parquet")


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    try:
        v = str(spark.conf.get(key)).strip().lower().rstrip("b")
        mult = 1
        for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if v.endswith(suffix):
                mult, v = m, v[:-1]
                break
        return int(float(v)) * mult
    except Exception:
        return default


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan produced fewer partitions than cores
    (single-file testdata): heavy per-row compute (hashing, shingling)
    otherwise runs on one core. At real scale the scan already has enough
    splits and this is a no-op — no shuffle is added.

    The branch is decided from the leaf scans' FILE LAYOUT (Spark's own
    split-packing arithmetic over ``df.inputFiles()``), never from
    ``df.rdd.getNumPartitions()``: converting to an RDD physically plans
    the whole frame per call (~60 ms of construction latency here,
    arbitrarily expensive for 100 TB plan trees), and on a frame with a
    shuffle upstream it EXECUTES those stages — a measured construction-
    time Spark job per probe under AQE (r18, guide §1.2/§7.3). The
    estimate only steers a semantically-free round-robin repartition, so
    an off-by-a-split estimate can never change results. Frames with no
    file leaves (in-memory sources) keep the exact RDD probe."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    local = [f[len("file:"):] for f in files if f.startswith("file:")]
    if files and len(local) == len(files):
        sizes = []
        for p in local:
            try:
                sizes.append(os.path.getsize(p))
            except OSError:
                sizes = None
                break
        if sizes is not None:
            # FilePartition packing: maxSplitBytes = min(maxPartitionBytes,
            # max(openCost, padded_total / minPartitionNum)); estimated
            # scan partitions ~ padded_total / maxSplitBytes
            open_cost = _conf_bytes(
                spark, "spark.sql.files.openCostInBytes", 4 << 20
            )
            max_pb = _conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes", 128 << 20
            )
            padded = sum(s + open_cost for s in sizes)
            max_split = min(max_pb, max(open_cost, padded // max(1, target)))
            est = -(-padded // max(1, max_split))
            if est < target:
                return df.repartition(target)
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_table(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """Driver-built rows as a ``LocalRelation``, shipped as Arrow.

    ``createDataFrame(list)`` parallelizes the rows through a ``PythonRDD``,
    so the first action on even a 3-row table forks the Python daemon and
    runs one Python task per partition. An Arrow table becomes a
    ``LocalRelation`` in the plan and never reaches a Python worker.
    ``pa.array`` over the Python values keeps ``None`` as null and NaN as
    NaN (a pandas frame would turn NaN into null too), and an empty
    ``rows`` keeps the schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
