"""Driver-contract meta-guards: the invariants the external harness
depends on but nothing else would catch until a round artifact came back
broken."""

from __future__ import annotations

import importlib.util
from pathlib import Path

# checkout-relative repo root (ADVICE r12: hardcoding /root/repo made the
# contract tests silently scan nothing in any other clone path)
REPO_ROOT = Path(__file__).resolve().parents[1]


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", str(REPO_ROOT / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_query_has_an_oracle():
    """The correctness gate is oracle-everything: a registry entry
    without oracle SQL silently downgrades to a rows-only check."""
    mod = _entry_module()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)


def test_bench_queries_are_registered_and_prefix_unique():
    """bench.py warm-up only prints a stderr line for an unknown query —
    a typo would silently shrink the measured surface; and the stdout
    summary keys timings by the qNN/xNN prefix, which must stay unique."""
    import bench

    mod = _entry_module()
    q = mod.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert not missing, missing
    prefixes = [n.split("_", 1)[0] for n in bench.BENCH_QUERIES]
    assert len(set(prefixes)) == len(prefixes)


def test_registry_rotation_puts_unattested_first():
    """The driver attests only the first 50 names: every name NOT in the
    attested set must sort before every name that is."""
    import detecting_and_addressing_change_spark.queries as qpkg
    from detecting_and_addressing_change_spark.queries import QUERIES

    attested = qpkg._ATTESTED_PRIOR_ROUNDS
    names = list(QUERIES)
    seen_attested = False
    for n in names:
        if n in attested:
            seen_attested = True
        else:
            assert not seen_attested, (
                f"unattested query {n} sorted after an attested one"
            )
    assert sum(n not in attested for n in names) <= 50, (
        "more unattested queries than the driver's 50-name window"
    )


def test_attested_names_have_green_history():
    """VERDICT r11 #4: every name in _ATTESTED_PRIOR_ROUNDS must carry at
    least one fully-green row in some CORRECTNESS_r*.json artifact —
    listing a name the driver never attested would silently exempt it
    from the correctness gate forever. (The judge ran this check by
    script each round; this makes stale-row debt structurally
    impossible.)"""
    import json

    import detecting_and_addressing_change_spark.queries as qpkg

    rounds = sorted(REPO_ROOT.glob("CORRECTNESS_r*.json"))
    assert rounds, "no CORRECTNESS_r*.json artifacts found"
    green: set[str] = set()
    for path in rounds:
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and not row.get("err")
                ):
                    green.add(name)
    stale = sorted(set(qpkg._ATTESTED_PRIOR_ROUNDS) - green)
    assert not stale, f"attested without any green driver row: {stale}"


def test_boolean_cells_stringify_identically_across_engines():
    """VERDICT r8 #8: the verdict-style queries (x93/x96/x97/x98/x99)
    rely on a DuckDB BOOLEAN column and a Spark BooleanType column
    normalizing to the SAME string in the compare harness. Pin it: if
    _norm_cell ever changes (e.g. to lowercase, or to 0/1), every
    verdict query's semantics silently flip."""
    import duckdb
    import numpy as np

    from .oracle_harness import _norm_cell, canonical_rows

    con = duckdb.connect()
    duck_cell = con.sql("SELECT TRUE AS v").df()["v"][0]
    assert _norm_cell(duck_cell) == "True"
    assert _norm_cell(True) == "True"
    assert _norm_cell(np.bool_(True)) == "True"
    assert _norm_cell(False) == "False"
    assert _norm_cell(np.bool_(False)) == "False"
    # and end-to-end through the row canonicalizer
    import pandas as pd

    a = canonical_rows(pd.DataFrame({"v": [True, False]}))
    b = canonical_rows(
        con.sql("SELECT TRUE AS v UNION ALL SELECT FALSE").df()
    )
    assert a == b == [("False",), ("True",)]


def test_oracle_surface_is_frozen():
    """The registry order and every oracle's SQL text are part of the
    ``__spark_entry__`` contract: a refactor that builds oracles from
    shared fragments must reproduce each string byte for byte.
    ``oracle_surface.json`` holds ``list(QUERIES)`` and the sha256 of
    each ``ORACLE_SQL`` string; regenerate it only when a change to the
    surface is intended."""
    import hashlib
    import json

    from detecting_and_addressing_change_spark.queries import (
        ORACLE_SQL,
        QUERIES,
    )

    with open(REPO_ROOT / "tests" / "oracle_surface.json") as f:
        pinned = json.load(f)
    assert list(QUERIES) == pinned["queries"]
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in ORACLE_SQL.items()
    }
    assert list(got) == list(pinned["oracle_sql_sha256"])
    changed = sorted(
        n for n in got if got[n] != pinned["oracle_sql_sha256"][n]
    )
    assert not changed, f"oracle SQL text changed: {changed}"
