"""Materializing curation run: the x55 verdict applied to the corpus and
WRITTEN, not just reported.

``curate_corpus`` is the batch job a data team schedules: compute the
per-document keep verdict in one plan (exact-dup canonical ∧ benchmark
split exclusion ∧ quality bands ∧ decontamination — see
``queries/extensions7.curation_verdicts``), write the survivors as
source-partitioned parquet sorted by doc_id (tight zone maps for id-range
reads), and write the per-source stats next to them as the run's audit
record. Scale shape: the verdict plan's one digest shuffle + broadcast
gram join + doc_id-keyed joins (x55's plan, unchanged), then ONE
partitioned write; stats are |sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries.extensions7 import curation_verdicts
from .sinks.parquet import write_partitioned
from .sources.tables import local_table, read_parquet_cached_schema


def curate_corpus(docs: DataFrame, out_path: str) -> DataFrame:
    """Run the curation verdict over ``docs`` and materialize:

    - ``{out_path}/corpus``: kept documents (full original columns),
      hive-partitioned by source, sorted by doc_id within files.
    - ``{out_path}/stats``: per-source (n_docs, n_kept, kept_frac,
      kept_tokens) — the same numbers x55 reports.

    Returns the stats DataFrame (read back from disk, so the caller sees
    exactly what the audit record says)."""
    # the verdict plan (digest shuffle + broadcast gram join + doc_id
    # joins) feeds TWO separate actions (corpus write, stats write);
    # materialize it once so the shuffles are not re-executed per action
    # (ADVICE r5 — same pattern as the BPE encode stage below)
    verdicts = curation_verdicts(docs).localCheckpoint(eager=True)
    kept = docs.join(
        verdicts.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    write_partitioned(
        kept, f"{out_path}/corpus", ["source"], sort_cols=["doc_id"]
    )
    stats = (
        verdicts.groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum("keep").cast("int").alias("n_kept"),
            (F.sum("keep") * F.lit(1.0) / F.count("*")).alias("kept_frac"),
            F.sum(F.col("keep") * F.col("nw")).cast("int").alias(
                "kept_tokens"
            ),
        )
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/stats")
    return read_parquet_cached_schema(docs.sparkSession, f"{out_path}/stats")


def load_curated(spark: SparkSession, out_path: str) -> DataFrame:
    """The kept corpus back, partition-prunable on source."""
    return read_parquet_cached_schema(spark, f"{out_path}/corpus")


def _map_literal(vocab: list[tuple[str, int]]) -> str:
    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    return (
        "map(" + ",".join(f"{q(w)},{tid}" for w, tid in vocab) + ")"
        if vocab
        else "map('', 0)"
    )


# Parquet stores token ids as 4-byte ints; the pre-compression estimate
# target_shard_bytes sizing divides by. Compression shrinks files below
# the target (never above), which is the safe direction for the
# small-files defense this parameter exists for.
_TOKEN_BYTES = 4


def _derive_packs_per_shard(
    encoded: DataFrame,
    pack_size: int,
    target_shard_bytes: int | None,
    max_shards: int | None,
) -> int:
    """Size the shard cut from measured corpus stats (ONE aggregation —
    sum of encoded token counts) instead of a fixed pack count:

    - ``target_shard_bytes``: packs_per_shard such that one shard holds
      ~that many bytes of token ids (bytes // (4 * pack_size)) — pure
      arithmetic, no agg; the WebDataset-style "size your shards in
      hundreds of MB" rule.
    - ``max_shards``: hard cap on the file count — packs_per_shard =
      ceil(n_packs / max_shards).
    - neither: sqrt sizing — packs_per_shard = isqrt(n_packs), so BOTH
      the shard size and the shard count grow as sqrt(corpus). File
      count is sub-linear in corpus size by default (the r15 slope
      table measured the fixed-packs_per_shard=4 layout's read-back at
      8.46x per 10x rows purely from directory-count overhead — the
      classic small-files failure this default removes).
    """
    import math

    if target_shard_bytes is not None:
        if int(target_shard_bytes) < 1:
            raise ValueError(
                f"target_shard_bytes must be >= 1, got {target_shard_bytes}"
            )
        return max(
            1, int(target_shard_bytes) // (_TOKEN_BYTES * int(pack_size))
        )
    total = int(
        encoded.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0
    )
    n_packs = max(1, -(-total // int(pack_size)))
    if max_shards is not None:
        if int(max_shards) < 1:
            raise ValueError(f"max_shards must be >= 1, got {max_shards}")
        return max(1, -(-n_packs // int(max_shards)))
    return max(1, math.isqrt(n_packs))


def build_training_shards(
    docs: DataFrame,
    out_path: str,
    vocab_size: int = 512,
    pack_size: int = 256,
    packs_per_shard: int | None = None,
    tokenizer: str = "word",
    n_merges: int = 32,
    epoch_seed: int | None = None,
    target_shard_bytes: int | None = None,
    max_shards: int | None = None,
) -> DataFrame:
    """The full pretraining-data build: curate → fit tokenizer → encode →
    pack → shard, materialized.

    - Curation: the x55 verdict (dedup ∧ split ∧ quality ∧ decontam).
    - Tokenizer (fit on the KEPT corpus, as tokenizers are):
      * ``"word"`` — the ``vocab_size`` most frequent words, rank 1 =
        heaviest, OOV = 0 (the x24 contract); encoding is a broadcast
        map literal inside a `transform` — a zero-shuffle narrow map.
      * ``"bpe"`` — ``n_merges`` BPE merges (operators/bpe.py), then the
        subword vocabulary ranked the same way; the subword id space is
        bounded by |alphabet| + n_merges BY CONSTRUCTION, so the id map
        is always driver-small regardless of corpus size, and no token
        is ever OOV on the fit corpus.
      The fitted artifact (word vocab, or merges + subword ids) is
      written to ``{out_path}/vocab`` / ``{out_path}/merges``.
    - Packing: x53's range-partitioned global cumsum lays the kept token
      stream end-to-end and cuts fixed ``pack_size`` packs;
      ``packs_per_shard`` packs form one output shard. The shard cut is
      SIZED, not fixed (VERDICT r15 #3 — a fixed pack count makes file
      count linear in corpus size, the classic small-files failure):
      pass ``packs_per_shard`` explicitly, or ``target_shard_bytes``
      (bytes-per-shard target, 4 bytes/token-id pre-compression), or
      ``max_shards`` (hard file-count cap, one measuring agg), or
      nothing — the default derives ``packs_per_shard = isqrt(n_packs)``
      from one corpus agg so shard size AND shard count both grow as
      sqrt(corpus). At most one of the three sizing parameters may be
      given. The stream order
      is doc_id by default; passing ``epoch_seed`` lays it in that
      seed's epoch-shuffle order instead
      (:func:`.operators.sharding.epoch_order_col` — the between-epoch
      layer, so each training epoch can be a fresh materialized layout
      of the same curated corpus). Cuts are exact int64 ``div``
      (double FLOOR-division loses exactness past 2^53 cumulative
      tokens — the ADVICE r13 assign_shards fix applied here too).
    - Write: `{out_path}/shards` partitioned by shard_id, sorted by
      doc_id within files.

    Returns the shards DataFrame read back from disk
    (doc_id, token_ids, n_tokens, pack_id, pack_offset, shard_id)."""
    from .operators.order import global_cumsum

    # the kept frame feeds up to three actions (vocab collect, optional
    # merge fit, shard write) — materialize the verdict join once so the
    # curation shuffles run once, not once per action (ADVICE r5)
    verdicts = curation_verdicts(docs).localCheckpoint(eager=True)
    kept = docs.join(
        verdicts.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    spark = docs.sparkSession
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    if tokenizer == "word":
        toks = kept.select(
            "doc_id", F.posexplode(words).alias("pos", "item")
        )
        top = (
            toks.groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("item").asc())
            .limit(vocab_size)
            .collect()
        )
        vocab = [(r["item"], i + 1) for i, r in enumerate(top)]
        vmap = _map_literal(vocab)
        encoded = kept.select(
            "doc_id",
            F.transform(
                words, lambda w: F.coalesce(F.expr(vmap)[w], F.lit(0))
            ).alias("token_ids"),
        ).withColumn("n_tokens", F.size("token_ids"))
    elif tokenizer == "bpe":
        from .operators.bpe import bpe_encode, bpe_fit

        merges = bpe_fit(kept, n_merges=n_merges)
        local_table(
            spark,
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank int, left_sym string, right_sym string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{out_path}/merges")
        # materialize the Python encode ONCE: both the subword-vocab agg
        # below and the downstream pack/write consume this frame
        enc = bpe_encode(kept, merges).localCheckpoint(eager=True)
        sub = (
            enc.select(F.explode("tokens").alias("item"))
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("item").asc())
            .collect()
        )
        vocab = [(r["item"], i + 1) for i, r in enumerate(sub)]
        vmap = _map_literal(vocab)
        encoded = enc.select(
            "doc_id",
            F.transform(
                "tokens", lambda t: F.expr(vmap)[t]
            ).alias("token_ids"),
            "n_tokens",
        )
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    vocab_t = local_table(spark, vocab, "item string, token_id int")
    vocab_t.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/vocab")

    n_sizing = sum(
        x is not None
        for x in (packs_per_shard, target_shard_bytes, max_shards)
    )
    if n_sizing > 1:
        raise ValueError(
            "pass at most one of packs_per_shard, target_shard_bytes, "
            "max_shards"
        )
    if packs_per_shard is None:
        if target_shard_bytes is None:
            # max_shards / sqrt sizing runs an eager agg over `encoded`;
            # without this the curate->tokenize->encode lineage (the
            # most expensive stage of the build) would run twice — once
            # for the sizing agg and again under the cumsum/write
            # (ADVICE r16). target_shard_bytes is pure arithmetic and
            # skips the agg, so it skips the checkpoint too.
            encoded = encoded.localCheckpoint(eager=True)
        packs_per_shard = _derive_packs_per_shard(
            encoded, pack_size, target_shard_bytes, max_shards
        )

    if epoch_seed is not None:
        from .operators.sharding import epoch_order_col

        encoded = encoded.withColumn(
            "__ek", epoch_order_col("doc_id", int(epoch_seed))
        )
        order = [F.asc("__ek"), F.asc("doc_id")]
    else:
        order = [F.asc("doc_id")]
    cum = global_cumsum(encoded, order, "n_tokens", out_col="cum")
    sharded = cum.select(
        "doc_id",
        "token_ids",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.expr(f"(cum - n_tokens) div {int(pack_size)}")
        .cast("int")
        .alias("pack_id"),
        ((F.col("cum") - F.col("n_tokens")) % pack_size)
        .cast("int")
        .alias("pack_offset"),
    ).withColumn(
        "shard_id",
        F.expr(f"pack_id div {int(packs_per_shard)}").cast("int"),
    )
    write_partitioned(
        sharded, f"{out_path}/shards", ["shard_id"], sort_cols=["doc_id"]
    )
    return read_parquet_cached_schema(spark, f"{out_path}/shards")
