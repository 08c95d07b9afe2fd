"""Third wave of LLM-pipeline extension queries: the sketch family
(`operators/sketches.py`) — Bloom-filter join pre-filtering, count-min
heavy hitters, and deterministic stratified sampling.

All three are fully DuckDB-oracle-checked: the sketches use the portable
md5 / Kirsch-Mitzenmacher hashes, so the oracle reproduces the exact same
bitset / cells / priorities in SQL (no reference counterpart — SURVEY
§1.2; extension family per §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

_HP = """
         ('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8))::BIGINT AS hx,
         ('0x' || substr(md5(CAST({k} AS VARCHAR)), 9, 8))::BIGINT AS hy
"""


# --------------------------------------------------------------------------
# X18 — Bloom-filter join pre-filter (runtime-filter pattern): build a
# 4096-bit / 4-hash Bloom set from BUILDING-segment customers, apply it
# map-side to orders (k chained broadcast semi joins — zero probe shuffle),
# and report pass counts vs the exact semi join per order priority. The
# false-positive column IS the sketch's accuracy contract, measured.
# --------------------------------------------------------------------------
@query(
    "x18_bloom_join_filter",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT c_custkey AS bk FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ),
    bh AS (
      SELECT {_HP.format(k="bk")}
      FROM build
    ),
    pos AS (
      SELECT DISTINCT (hx + j.g * hy) % 4096 AS p
      FROM bh, generate_series(0, 3) j(g)
    ),
    ph AS (
      SELECT o_orderkey, o_orderpriority, {_HP.format(k="o_custkey")}
      FROM orders
    ),
    bloomed AS (
      SELECT o_orderkey, o_orderpriority
      FROM (
        SELECT ph.o_orderkey, ph.o_orderpriority,
               (ph.hx + j.g * ph.hy) % 4096 AS p
        FROM ph, generate_series(0, 3) j(g)
      )
      WHERE p IN (SELECT p FROM pos)
      GROUP BY o_orderkey, o_orderpriority
      HAVING COUNT(*) = 4
    ),
    bl AS (
      SELECT o_orderpriority, COUNT(*) AS bloom_pass FROM bloomed GROUP BY 1
    ),
    ex AS (
      SELECT o_orderpriority, COUNT(*) AS exact_pass FROM orders
      WHERE o_custkey IN (SELECT bk FROM build) GROUP BY 1
    )
    SELECT bl.o_orderpriority, bl.bloom_pass,
           COALESCE(ex.exact_pass, 0) AS exact_pass,
           bl.bloom_pass - COALESCE(ex.exact_pass, 0) AS false_pos
    FROM bl LEFT JOIN ex USING (o_orderpriority)
    """,
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_prefilter

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    bloom = bloom_build(build, "c_custkey", m=4096, k=4)
    bl = (
        bloom_prefilter(orders, "o_custkey", bloom, m=4096, k=4)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("bloom_pass"))
    )
    ex = (
        orders.join(
            F.broadcast(build),
            orders.o_custkey == build.c_custkey,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("exact_pass"))
    )
    return bl.join(ex, "o_orderpriority", "left").select(
        "o_orderpriority",
        "bloom_pass",
        F.coalesce(F.col("exact_pass"), F.lit(0).cast("long")).alias(
            "exact_pass"
        ),
        (
            F.col("bloom_pass")
            - F.coalesce(F.col("exact_pass"), F.lit(0).cast("long"))
        ).alias("false_pos"),
    )


# --------------------------------------------------------------------------
# X19 — count-min-sketch heavy hitters: 3x1024 CMS over document tokens;
# report the top-20 exact tokens with their CMS estimate and overcount.
# The sketch is O(d*w) rows regardless of corpus size -> broadcast join.
# --------------------------------------------------------------------------
@query(
    "x19_cms_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ),
    counts AS (
      SELECT item, COUNT(*) AS exact_cnt FROM toks
      WHERE item <> '' GROUP BY item
    ),
    h AS (
      SELECT item, exact_cnt,
             ('0x' || substr(md5(item), 1, 8))::BIGINT AS hx,
             ('0x' || substr(md5(item), 9, 8))::BIGINT AS hy
      FROM counts
    ),
    cells AS (
      SELECT j.g AS j, (hx + j.g * hy) % 1024 AS p,
             CAST(SUM(exact_cnt) AS BIGINT) AS cell_total
      FROM h, generate_series(0, 2) j(g)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT item, j.g AS j, (hx + j.g * hy) % 1024 AS p
      FROM h, generate_series(0, 2) j(g)
    ),
    est AS (
      SELECT probes.item, MIN(c.cell_total) AS cms_est
      FROM probes JOIN cells c ON c.j = probes.j AND c.p = probes.p
      GROUP BY 1
    ),
    top AS (
      SELECT item, exact_cnt FROM counts
      ORDER BY exact_cnt DESC, item LIMIT 20
    )
    SELECT t.item AS token, t.exact_cnt, e.cms_est,
           e.cms_est - t.exact_cnt AS overcount
    FROM top t JOIN est e ON e.item = t.item
    """,
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_cells, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("item")
    ).filter(F.col("item") != "")
    cells = cms_cells(toks, "item", depth=3, width=1024)
    est = cms_estimate(toks, "item", cells, depth=3, width=1024)
    top = (
        toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("item").asc())
        .limit(20)
    )
    return top.join(est, "item").select(
        F.col("item").alias("token"),
        "exact_cnt",
        F.col("est").alias("cms_est"),
        (F.col("est") - F.col("exact_cnt")).alias("overcount"),
    )


# --------------------------------------------------------------------------
# X20 — deterministic stratified sample: 8 customers per market segment,
# ranked by stable hash priority (reservoir-sampling shape, same rows on
# every run and every engine).
# --------------------------------------------------------------------------
@query(
    "x20_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT c_custkey, c_name, c_mktsegment,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
               AS hx
      FROM customer
    )
    SELECT c_mktsegment, c_custkey, c_name, CAST(srank AS INT) AS srank
    FROM (
      SELECT c_mktsegment, c_custkey, c_name,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment ORDER BY hx, c_custkey
             ) AS srank
      FROM h
    )
    WHERE srank <= 8
    """,
)
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import stratified_topn

    cust = load_table(spark, sf_dir, "customer")
    return stratified_topn(cust, "c_mktsegment", "c_custkey", 8).select(
        "c_mktsegment", "c_custkey", "c_name", "srank"
    )


# --------------------------------------------------------------------------
# X21 — salted skew join on the correctness gate: orders⋈customer salted
# 8 ways (operators/skew.py) must produce EXACTLY the plain equi-join's
# aggregate — the oracle is the unsalted SQL join, so any salt-induced
# row loss/duplication hash-mismatches immediately.
# --------------------------------------------------------------------------
@query(
    "x21_salted_skew_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_orders,
           FLOOR(SUM(o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import portable_round
    from ..operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_nationkey"
    )
    return (
        salted_join(orders, dim, "k", n_salts=8)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            portable_round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# X22 — one-pass data-quality profile (operators/profile.py) of orders:
# per-column rows/nulls/distincts/range in a single scan. Columns chosen
# to have engine-portable string casts (int, string, date); doubles need a
# DECIMAL pin first (Java vs DuckDB float formatting diverge at 1e7+).
# --------------------------------------------------------------------------
_PROFILE_COLS = [
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
    "o_totalprice",
]
_PROFILE_PINS = {"o_totalprice": 2}  # doubles: DECIMAL-pin the range strings


def _profile_oracle_one(c: str) -> str:
    mn, mx = f"MIN({c})", f"MAX({c})"
    if c in _PROFILE_PINS:
        mn = f"CAST({mn} AS DECIMAL(38,{_PROFILE_PINS[c]}))"
        mx = f"CAST({mx} AS DECIMAL(38,{_PROFILE_PINS[c]}))"
    return f"""
    SELECT '{c}' AS "column", COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST({mn} AS VARCHAR) AS min_s,
           CAST({mx} AS VARCHAR) AS max_s
    FROM orders
    """


@query(
    "x22_table_profile",
    oracle=" UNION ALL ".join(_profile_oracle_one(c) for c in _PROFILE_COLS),
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, _PROFILE_COLS, decimal_pin=_PROFILE_PINS)


# --------------------------------------------------------------------------
# X23 — dedup cluster resolution: connected components over the MinHash
# candidate-pair graph (operators/graph.py, dedup_clusters), labeling
# every document with its cluster's min doc_id and flagging the canonical
# survivor. Oracle: the same pair graph closed transitively with a
# recursive CTE — fixpoint label = MIN over all reachable nodes.
# --------------------------------------------------------------------------
def _x23_oracle() -> str:
    from .extensions import _minhash_guarded_edges_oracle

    base = _minhash_guarded_edges_oracle().replace(
        "WITH dg", "WITH RECURSIVE dg", 1
    )
    return (
        base
        + """
    , sym AS (
      SELECT a_id AS a, b_id AS b FROM edges
      UNION
      SELECT b_id, a_id FROM edges
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id,
           node = MIN(lbl) AS is_canonical
    FROM reach GROUP BY node
    """
    )


# --------------------------------------------------------------------------
# X24 — vocabulary build + token-id encoding: top-512 tokens by frequency
# become ids 1..512 (rank order, ties by token), every document is
# re-expressed as (doc_id, pos, token_id) with OOV -> 0. The tokenize ->
# ids step of a training-data pipeline, end-to-end on the oracle gate.
# --------------------------------------------------------------------------
@query(
    "x24_vocab_encode",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    tok AS (
      SELECT doc_id, UNNEST(generate_series(1, len(w))) AS g, w FROM ws
    ),
    tok2 AS (
      SELECT doc_id, g - 1 AS pos, w[g] AS item FROM tok WHERE w[g] <> ''
    ),
    counts AS (SELECT item, COUNT(*) AS cnt FROM tok2 GROUP BY item),
    vocab AS (
      SELECT item,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS INT)
               AS token_id
      FROM counts ORDER BY cnt DESC, item LIMIT 512
    )
    SELECT t.doc_id, CAST(t.pos AS INT) AS pos,
           COALESCE(v.token_id, 0) AS token_id
    FROM tok2 t LEFT JOIN vocab v USING (item)
    """,
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "item"),
    ).filter(F.col("item") != "")
    # vocab: aggregate -> take the 512 heaviest -> rank (the window runs
    # over 512 rows, not the corpus)
    top = (
        toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(512)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    vocab = top.select(
        "item", F.row_number().over(w).cast("int").alias("token_id")
    )
    return toks.join(F.broadcast(vocab), "item", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(0)).alias("token_id"),
    )


# --------------------------------------------------------------------------
# X25 — CDC changelog upsert (operators/upsert.py): base snapshot (v1) +
# synthetic upserts (v2, every 10th key re-priced) + deletes (v3, every
# 17th key) merged latest-wins; oracle is the same union ranked by a
# window in SQL.
# --------------------------------------------------------------------------
@query(
    "x25_changelog_upsert",
    oracle="""
    WITH chg AS (
      SELECT o_orderkey AS k, o_totalprice AS p, 1 AS v, 'U' AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice * 1.1, 2, 'U' FROM orders
      WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 0.0, 3, 'D' FROM orders WHERE o_orderkey % 17 = 0
    ),
    latest AS (
      SELECT k, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn
      FROM chg
    )
    SELECT k AS o_orderkey, FLOOR(p * 100.0 + 0.5) / 100.0 AS price
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rounding import portable_round
    from ..operators.upsert import apply_changelog

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") * 1.1).alias("p"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 17 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("p"),
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
    )
    merged = apply_changelog(
        base.unionByName(upd).unionByName(dels), ["k"]
    )
    return merged.select(
        F.col("k").alias("o_orderkey"),
        portable_round(F.col("p"), 2).alias("price"),
    )


@query("x23_dedup_clusters", oracle=_x23_oracle())
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the GUARDED edge set (x04's
    ``minhash_dedup_edges``: exact-dup collapse to keeper chains +
    capped representative band pairs) — identical components to the raw
    quadratic pair set whenever the cap doesn't fire, and a linear edge
    count under mass duplication either way."""
    from ..operators.dedup import minhash_dedup_edges
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_edges(docs)
    return dedup_clusters(docs.select("doc_id"), pairs)
