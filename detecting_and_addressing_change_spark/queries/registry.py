"""Registry mapping query name -> (Spark callable, DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) needs two dicts:
``queries()[name](spark, sf_dir) -> DataFrame`` and ``oracle_sql()[name]``.
Each query here is implemented with the DataFrame API (the engine's own
operators), never by just executing the oracle SQL text in Spark.

Column-name discipline: every computed column is aliased identically in the
Spark code and the oracle SQL (the driver sorts columns by name before
hashing values).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``oracle=None`` => non-SQL-expressible op; the
    driver records a weaker rows-only check for it."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


_SCRATCH_DIRS: list[str] = []


def _sweep_scratch_dirs() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_sweep_scratch_dirs)


def scratch_index_dir(spark: SparkSession, prefix: str) -> str:
    """Fresh scratch dir for a query-local index build. Each invocation
    gets its OWN empty dir (append semantics would double rows on reuse),
    named with this session's Spark application id, and NOTHING is swept
    at invocation time — cleanup happens at process exit (atexit).
    Sweeping ``{prefix}*`` on every call would delete the live index out
    from under (a) a concurrent session's lazy reader — parallel
    bench/correctness runs, pytest-xdist — and (b) this session's own
    earlier still-lazy DataFrame when the query was constructed twice
    before executing the first. Within-process accumulation is bounded
    (a handful of small tables per run), and dirs leaked by a crashed
    process fall to the OS /tmp lifecycle, same as Spark's own scratch
    dirs."""
    app_id = spark.sparkContext.applicationId.replace("-", "_")
    d = tempfile.mkdtemp(prefix=f"{prefix}{app_id}_")
    _SCRATCH_DIRS.append(d)
    return d


_SESSION_FIXTURES: dict[tuple[str, str, str], Any] = {}


def session_fixture(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """Build-or-reuse: ``build()`` runs once per (Spark application,
    ``sf_dir``, ``name``) and later calls return its result. Queries over
    the same deterministic state (an index, a staged replay, a shard
    layout) share one build this way, whichever runs first; a query that
    mutates the state clones it first. Consumers treat the result as
    read-only."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SESSION_FIXTURES:
        _SESSION_FIXTURES[key] = build()
    return _SESSION_FIXTURES[key]
