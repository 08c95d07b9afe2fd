"""HyperLogLog distinct-count sketch in exact int64 arithmetic.

The reference has no sketching (it counts exactly, single-node); this is
the 100 TB shape for COUNT(DISTINCT) over grouped data: per-partition
register maps merge with MAX, so Spark's partial aggregation does the
map-side combine and only m longs per group cross the shuffle — vs the
full distinct-value shuffle of an exact count. Flajolet et al. 2007
(HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm) is the published basis.

Engine-portable determinism (what makes an APPROXIMATE estimator
hash-checkable against DuckDB):

- the value hash is the first 15 hex chars of md5 -> a 60-bit integer,
  identical in any engine with md5;
- bucket = top ``p`` bits, rank = leading zeros of the remaining
  ``60 - p`` bits + 1, both pure integer ops (rank via the length of the
  binary digit string — Spark ``bin()`` / DuckDB ``bin()`` agree for
  positive longs, and the w = 0 corner is CASEd explicitly);
- the harmonic sum is kept EXACT: sum(2^-rank) scaled by 2^S_SHIFT is a
  sum of integer powers of two bounded by m * 2^S_SHIFT < 2^62 — no
  floating-point accumulation order to disagree on. The only doubles are
  one multiply and one divide at the end (IEEE-deterministic), never libm.

The estimate is the RAW HyperLogLog estimator alpha_m * m^2 / sum(2^-r):
the small-range linear-counting correction needs ln(), whose last-ulp
behavior differs across libm implementations and would break cross-engine
hash equality. Raw HLL is accurate for n >~ 2.5 * m; callers with small
groups should raise ``p`` (the zero-register count is exposed so the
regime is visible). Relative error ~= 1.04 / sqrt(m).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..sources.tables import read_parquet_cached_schema

# 60 hash bits total (15 md5 hex chars -> always positive in an int64)
HASH_BITS = 60
# scale 2^-rank sums into exact integers: rank <= (60 - p) + 1 <= 61 - p;
# with S_SHIFT = HASH_BITS - p + 1 every term 2^(S_SHIFT - rank) is an
# integer and the sum is < m * 2^S_SHIFT <= 2^(HASH_BITS + 1) < 2^63
def _alpha(m: int) -> float:
    # Flajolet's bias-correction constants (small m), generic formula above
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_rank_cols(value: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) for one value: bucket = top ``p`` of the 60 hash
    bits, rank = #leading zeros of the remaining bits + 1."""
    w_bits = HASH_BITS - p
    h = F.conv(F.substring(F.md5(value.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    bucket = F.shiftrightunsigned(h, w_bits)
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    # bit_length(w) == length(bin(w)) for w > 0; rank = w_bits - bitlen + 1
    rank = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    return bucket, rank


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """DataFrame[*group_cols, bucket, reg]: the register table, one row per
    NON-ZERO register (empty buckets are implicit — the estimator accounts
    for them arithmetically). Two sketches over disjoint (or overlapping!)
    slices of the data merge by unioning their register tables and taking
    MAX(reg) per (group, bucket) — the mergeability tests pin this."""
    bucket, rank = hll_rank_cols(F.col(value_col), p)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """DataFrame[*group_cols, est double, zero_regs int] from a register
    table. est = alpha_m * m^2 / (zeros * 2^-0 + sum over non-zero
    registers of 2^-reg), with the harmonic sum carried as an exact
    integer scaled by 2^(60 - p + 1)."""
    m = 1 << p
    s_shift = HASH_BITS - p + 1
    # pyspark's F.shiftleft wants a python-int bit count; the per-row
    # shift goes through the SQL function form instead
    scaled = F.expr(f"shiftleft(CAST(1 AS BIGINT), {s_shift} - reg)")
    agg = registers.groupBy(*group_cols).agg(
        F.sum(scaled).alias("s_nz"),
        F.count("*").cast("int").alias("nz"),
    )
    zeros = F.lit(m) - F.col("nz")
    total = F.col("s_nz") + zeros.cast("long") * F.lit(1 << s_shift)
    num = float(_alpha(m)) * float(m * m) * float(1 << s_shift)
    return agg.select(
        *group_cols,
        (F.lit(num) / total.cast("double")).alias("est"),
        zeros.cast("int").alias("zero_regs"),
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """Grouped approximate COUNT(DISTINCT value_col) — registers + raw
    estimate in one pass. The registers groupBy is the only shuffle and
    partial-aggregates map-side (m = 2^p longs per group cross the wire)."""
    return hll_estimate(hll_registers(df, value_col, group_cols, p), group_cols, p)


def merge_hll_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    value_col: str,
    group_cols: list[str],
    p: int = 6,
) -> None:
    """foreachBatch sink maintaining a PERSISTED register table at
    ``path`` — the streaming twin of ``hll_registers`` (attach with
    ``.foreachBatch(lambda b, e: merge_hll_batch(b, e, path, ...))``).

    Exactly-once comes free: register merge is MAX, which is idempotent
    AND commutative, so an at-least-once re-delivered epoch (or batches
    arriving in any order) cannot change the merged state — no epoch
    keying needed, unlike the minhash index's docs/ partitions. The
    written state is still swapped in non-destructively (write ``.new``
    fully, rename, then drop ``.old`` — same commit protocol as
    ``compact_minhash_index``), so a crash never destroys the table."""
    import os
    import shutil

    spark = batch_df.sparkSession
    if not os.path.exists(path) and os.path.exists(path + ".new"):
        os.rename(path + ".new", path)  # promote a fully-written prior swap
    shutil.rmtree(path + ".old", ignore_errors=True)
    newregs = hll_registers(batch_df, value_col, group_cols, p)
    if os.path.exists(path):
        merged = (
            read_parquet_cached_schema(spark, path)
            .unionByName(newregs)
            .groupBy(*group_cols, "bucket")
            .agg(F.max("reg").alias("reg"))
        )
    else:
        merged = newregs
    merged.write.mode("overwrite").parquet(path + ".new")
    if os.path.exists(path):
        os.rename(path, path + ".old")
    os.rename(path + ".new", path)
    shutil.rmtree(path + ".old", ignore_errors=True)
