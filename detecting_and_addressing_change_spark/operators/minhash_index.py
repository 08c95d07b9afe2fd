"""Persisted incremental MinHash near-dup index: sign once, append, query.

The batch near-dup path (``dedup.minhash_dedup_edges``) re-signs the whole
corpus inside every run — right for a one-shot dedup, wrong for a GROWING
corpus where each ingest batch must be checked against everything already
indexed. This operator materializes the signature state the way
``operators/ivf_index.py`` materializes IVF postings (VERDICT r5 task #4):

- ``docs/``: (doc_id, dgst) — one row per document; md5 text digest.
- ``sigs/``: (dgst, h0..h{k-1}) — one row per DISTINCT text, the MinHash
  signature. Signatures depend only on the text, so byte-identical
  documents share a row and are NEVER re-signed: ``append`` anti-joins the
  batch's novel digests against the stored set and signs only those.

Band buckets are NOT stored: they are pure integer/md5 arithmetic over the
stored signature columns (a narrow map at read time), so deriving them
costs no shuffle while the index stays k ints per distinct text. A 100 TB
deployment that probes interactively would additionally materialize the
derived bands table bucketed by (band, bucket) — same rows, one extra
write — but the edge/probe plans below never need it to avoid a corpus
re-sign, which is the expensive stage (shingle explode + md5 per shingle).

- ``minhash_index_edges``: the GUARDED edge set (exact-dup chains +
  tier/capped representative band pairs — bit-identical semantics to
  ``minhash_dedup_edges`` on the same corpus, parity-tested) recomputed
  from stored state only. No text is read, nothing is re-signed.
- ``minhash_index_probe``: candidates for a NEW batch against the index
  without touching the indexed texts: exact matches by digest lookup,
  near matches by band-bucket join of the batch's (tiny, broadcast)
  bands against the index's derived bands.

At 100 TB: append signs |novel texts in batch| documents (one shingle
explode over the batch, one anti-join on dgst); edges is one window over
docs/ + the capped self-join over sigs-derived bands; probe broadcasts
the batch side so the index scan never shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import (
    forget_footer_schemas,
    local_table,
    read_parquet_cached_schema,
)
from ..functions.hashing import HASH_FAMILY
from .dedup import minhash_bands, minhash_candidate_pairs, minhash_signatures
from .index_commit import commit_table_swap, recover_table_swap

_TABLES = ("docs", "sigs")

# docs/ data columns are a documented static layout (partition column
# ``batch`` is DISCOVERED, not declared, so its int-vs-string typing always
# follows the current directory listing); declaring them skips the
# footer-inference job a bare read pays per call (guide §1.2/§6).
_DOCS_SCHEMA = "doc_id long, dgst string"


# file at the index root naming the hash family its signatures come from;
# table swaps (compaction, delete) rewrite docs/ and sigs/ and leave it
_FAMILY_FILE = "_hash_family"


def _record_family(path: str) -> None:
    with open(os.path.join(path, _FAMILY_FILE), "w") as f:
        f.write(HASH_FAMILY)


def _check_family(path: str) -> None:
    """Refuse an index signed by another MinHash family: its band buckets
    never meet this build's, so probes and appends would silently find
    no near match."""
    try:
        with open(os.path.join(path, _FAMILY_FILE)) as f:
            found = f.read().strip()
    except FileNotFoundError:
        found = None
    if found != HASH_FAMILY:
        raise ValueError(
            f"minhash index at {path!r} records hash family {found!r}; "
            f"this build signs with {HASH_FAMILY!r} — rebuild the index"
        )


def _digests(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # the stored docs/ layout is ALWAYS (doc_id, dgst): build/append accept
    # any id column name, but edges/probe read the canonical name — without
    # this alias an index built with a custom id_col failed at read time
    # with AnalysisException (ADVICE r6). The cast keeps the files on
    # _DOCS_SCHEMA, which every read declares; a non-integer id would cast
    # to null, so it is refused instead
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, T.IntegralType):
        raise TypeError(
            f"minhash index ids must be integers; {id_col!r} is "
            f"{id_type.simpleString()}"
        )
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("dgst"),
    )


def _sign_novel(
    docs: DataFrame,
    known: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
) -> DataFrame:
    """Signatures for digests present in ``docs`` but not ``known``:
    one representative text per novel digest is signed (dgst, h0..hk)."""
    novel = (
        docs.select(F.md5(F.col(text_col)).alias("dgst"), F.col(text_col))
        # texts within a digest group are byte-identical — min() is just a
        # deterministic pick, cheaper than a window sort
        .groupBy("dgst")
        .agg(F.min(text_col).alias(text_col))
        .join(known.select("dgst"), "dgst", "left_anti")
    )
    sigs = minhash_signatures(
        novel, text_col, "dgst", num_hashes, shingle_size
    )
    return sigs


def _check_sig_schema(spark: SparkSession, path: str, num_hashes: int) -> None:
    """Fail fast when an append's ``num_hashes`` disagrees with the stored
    signature schema — parquet append has no schema enforcement, and a
    mixed sigs/ table would silently produce wrong band buckets (concat_ws
    skips the null h-columns)."""
    stored = set(read_parquet_cached_schema(spark, f"{path}/sigs").columns)
    expected = {"dgst", *(f"h{j}" for j in range(num_hashes))}
    if stored != expected:
        raise ValueError(
            f"minhash index at {path!r} was built with signature columns "
            f"{sorted(stored)}; append requested {sorted(expected)} "
            f"(num_hashes={num_hashes}) — re-build or match num_hashes"
        )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> None:
    """Materialize the index at ``path`` from scratch. ``docs/`` always
    uses the ``batch=<label>`` partition layout (the build is batch=base),
    so batch appends, streaming epoch appends and the build can share one
    index path — Spark partition discovery rejects a directory that mixes
    root-level files with partition dirs, so ONE layout is mandatory."""
    spark = docs.sparkSession
    _digests(docs, text_col, id_col).write.mode("overwrite").parquet(
        f"{path}/docs/batch=base"
    )
    empty = local_table(spark, [], "dgst string")
    _sign_novel(
        docs, empty, text_col, id_col, num_hashes, shingle_size
    ).write.mode("overwrite").parquet(f"{path}/sigs")
    _record_family(path)


def append_to_minhash_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> None:
    """Incremental update: append the batch's (doc_id, dgst) rows (into a
    fresh ``batch=a<suffix>`` partition of the shared layout; the label
    never affects results) and sign ONLY digests the index has never seen
    (anti-join on dgst) — a batch of exact duplicates of indexed content
    adds zero signature rows and runs zero shingle hashing beyond its own
    digests."""
    import uuid

    spark = new_docs.sparkSession
    _check_family(path)
    _check_sig_schema(spark, path, num_hashes)
    known = read_parquet_cached_schema(spark, f"{path}/sigs").select("dgst")
    novel_sigs = _sign_novel(
        new_docs, known, text_col, id_col, num_hashes, shingle_size
    )
    # materialize BEFORE appending into the same directory the anti-join
    # reads from — never run a plan that reads and writes one path
    novel_sigs = novel_sigs.localCheckpoint(eager=True)
    novel_sigs.write.mode("append").parquet(f"{path}/sigs")
    _digests(new_docs, text_col, id_col).write.mode("overwrite").parquet(
        f"{path}/docs/batch=a{uuid.uuid4().hex[:12]}"
    )


def minhash_index_edges(
    spark: SparkSession,
    path: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    bucket_cap: int = 64,
) -> DataFrame:
    """The guarded near-dup edge set over EVERYTHING indexed, from stored
    state only — bit-identical to ``minhash_dedup_edges`` over the same
    corpus (tests/test_minhash_index.py pins the parity):

    - chains: keeper = min(doc_id) per digest over ``docs/``;
    - rep pairs: band buckets derived from ``sigs/`` (narrow map), keyed
      to each digest group's keeper id, then the same tier/cap guarded
      self-join as the batch path.
    """
    _check_family(path)
    docs = spark.read.schema(_DOCS_SCHEMA).parquet(f"{path}/docs")
    sigs = read_parquet_cached_schema(spark, f"{path}/sigs")
    keeper = F.min("doc_id").over(Window.partitionBy("dgst"))
    lab = docs.withColumn("__keeper", keeper)
    chains = lab.filter(F.col("doc_id") != F.col("__keeper")).select(
        F.col("__keeper").alias("a_id"), F.col("doc_id").alias("b_id")
    )
    keepers = lab.filter(F.col("doc_id") == F.col("__keeper")).select(
        "dgst", F.col("doc_id")
    )
    rep_sigs = sigs.join(keepers, "dgst").drop("dgst")
    bands = minhash_bands(
        rep_sigs, "doc_id", num_hashes, rows_per_band, carry_sig=True
    )
    rep_pairs = minhash_candidate_pairs(
        bands, "doc_id", bucket_cap=bucket_cap
    )
    return chains.unionByName(rep_pairs)


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    target_partitions: int = 8,
) -> None:
    """Small-file maintenance after many appends (each batch/epoch append
    leaves its own ``batch=...`` partition of docs/ and its own sigs/
    files): rewrite both tables consolidated. docs/ collapses to a single
    ``batch=base`` partition (labels never affect results). Edge/probe
    results are unchanged (tests pin it); only the file layout shrinks.

    Commit protocol (ADVICE r6; shared implementation + marker fencing in
    ``operators/index_commit.py``, crash-window tests there too): both
    consolidated tables are FULLY written to fresh ``docs.new`` /
    ``sigs.new`` sibling dirs first (reading the live dirs — distinct
    paths, so no read-your-own-overwrite hazard and no checkpoint
    needed), then swapped in as one marker-fenced all-or-nothing unit. A
    crash at ANY step leaves a complete copy of every row on disk and the
    next mutation's recovery pass finishes the swap in the direction the
    marker dictates."""
    recover_table_swap(path, _TABLES)
    (
        spark.read.schema(_DOCS_SCHEMA).parquet(f"{path}/docs")
        .select("doc_id", "dgst")
        .coalesce(target_partitions)
        .write.mode("overwrite")
        .parquet(f"{path}/docs.new/batch=base")
    )
    (
        read_parquet_cached_schema(spark, f"{path}/sigs")
        .coalesce(target_partitions)
        .write.mode("overwrite")
        .parquet(f"{path}/sigs.new")
    )
    commit_table_swap(path, _TABLES)
    forget_footer_schemas(path)


def delete_from_minhash_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> None:
    """Remove documents from the index — the right-to-be-forgotten
    lifecycle step (takedowns, opt-outs, license revocations) a 100 TB
    corpus index must support without a from-scratch rebuild.

    - ``docs/``: anti-join on the id set, rewritten consolidated (same
      write-fresh-then-swap commit protocol as ``compact_minhash_index``;
      a crash never destroys the index, and the marker fencing makes the
      docs+sigs swap all-or-nothing: a crash between the two table swaps
      used to discard ``sigs.new`` on recovery, leaving GC'd signatures
      of deleted content live indefinitely — ADVICE r7).
    - ``sigs/``: signatures whose digest has NO surviving document are
      garbage-collected via a semi-join on the surviving digest set. This
      is not just space reclamation: MinHash signatures are derived
      content (shingle hashes of the deleted text), so a forget request
      must drop them too. A later re-append of the same text re-signs it
      from scratch — the novel-digest anti-join sees nothing.

    Post-condition (parity-tested): ``minhash_index_edges`` /
    ``minhash_index_probe`` over the index equal a batch rebuild over the
    surviving corpus. Deleting a digest group's min-id keeper promotes
    the next-smallest member automatically — keepers are derived from
    docs/ at READ time, never stored."""
    recover_table_swap(path, _TABLES)
    del_ids = ids.select(F.col(id_col).alias("doc_id")).distinct()
    kept = spark.read.schema(_DOCS_SCHEMA).parquet(f"{path}/docs").select("doc_id", "dgst").join(
        del_ids, "doc_id", "left_anti"
    )
    kept.write.mode("overwrite").parquet(f"{path}/docs.new/batch=base")
    surviving = spark.read.schema(_DOCS_SCHEMA).parquet(f"{path}/docs.new").select("dgst").distinct()
    read_parquet_cached_schema(spark, f"{path}/sigs").join(
        surviving, "dgst", "semi"
    ).write.mode("overwrite").parquet(f"{path}/sigs.new")
    commit_table_swap(path, _TABLES)
    forget_footer_schemas(path)


def init_minhash_index(
    spark: SparkSession, path: str, num_hashes: int = 8
) -> None:
    """Empty index state — the starting point for a STREAMING ingest
    (``append_minhash_batch``), where no base build exists yet."""
    sig_fields = ", ".join(f"h{j} long" for j in range(num_hashes))
    local_table(spark, [], f"dgst string, {sig_fields}").write.mode(
        "overwrite"
    ).parquet(f"{path}/sigs")
    local_table(spark, [], "doc_id long, dgst string").write.mode(
        "overwrite"
    ).parquet(f"{path}/docs/batch=-1")
    _record_family(path)


def append_minhash_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> None:
    """foreachBatch sink for CONTINUOUS index maintenance — the streaming
    twin of ``append_to_minhash_index`` (pass as
    ``.foreachBatch(lambda b, e: append_minhash_batch(b, e, path))``).

    foreachBatch is at-least-once: after a crash the same epoch can be
    re-delivered, so both writes are idempotent —

    - ``docs/``: each epoch OVERWRITES its own ``batch=<epoch>`` partition
      directory; a re-delivered epoch replaces its own rows instead of
      duplicating them (the standard epoch-keyed exactly-once pattern).
    - ``sigs/``: the novel-digest anti-join is NATURALLY idempotent — a
      signature the crashed attempt already committed is no longer novel
      on retry (uncommitted parquet output stays invisible under
      ``_temporary``, so a mid-write crash leaves no partial state).
    """
    spark = batch_df.sparkSession
    _check_family(path)
    _check_sig_schema(spark, path, num_hashes)
    known = read_parquet_cached_schema(spark, f"{path}/sigs").select("dgst")
    novel = _sign_novel(
        batch_df, known, text_col, id_col, num_hashes, shingle_size
    ).localCheckpoint(eager=True)
    novel.write.mode("append").parquet(f"{path}/sigs")
    _digests(batch_df, text_col, id_col).write.mode("overwrite").parquet(
        f"{path}/docs/batch={int(epoch_id)}"
    )


def minhash_index_probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidates for a NEW batch against the index, before appending:
    DataFrame[batch_id, index_id, via, n_members] where via = 'exact'
    (digest match) or 'band' (band-bucket collision), index_id is the
    matched DIGEST GROUP's min-id keeper and n_members its size — matches
    are reported at digest granularity, so probing text that matches a
    million byte-identical indexed documents returns ONE row (count
    attached), never a million. The batch side (digests + bands) is
    BROADCAST — an ingest batch is small against a 100 TB index — so the
    index scan joins in place with no shuffle; indexed texts are never
    read or re-signed (index bands derive from the stored per-digest
    signatures, a narrow map)."""
    _check_family(path)
    bdg = batch.select(
        F.md5(F.col(text_col)).alias("dgst"),
        F.col(id_col).alias("batch_id"),
    )
    bsigs = minhash_signatures(
        batch, text_col, id_col, num_hashes, shingle_size
    )
    bbands = minhash_bands(bsigs, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("batch_id"), "band", "bucket"
    )
    isigs = read_parquet_cached_schema(spark, f"{path}/sigs")
    ibands = minhash_bands(isigs, "dgst", num_hashes, rows_per_band)
    near_cand = (
        ibands.join(F.broadcast(bbands), ["band", "bucket"])
        .select("batch_id", "dgst", F.lit("band").alias("via"))
        .distinct()
    )
    # exact candidates by digest equality; validity (digest actually
    # indexed) falls out of the inner join against groups below
    matches = near_cand.unionByName(
        bdg.select("batch_id", "dgst", F.lit("exact").alias("via"))
    ).localCheckpoint(eager=True)  # bounded by |batch| x matches — small
    # ONE docs/ scan, aggregated only for the matched digests (broadcast
    # semi-join pushes the digest set into the scan)
    groups = (
        spark.read.schema(_DOCS_SCHEMA).parquet(f"{path}/docs")
        .join(
            F.broadcast(matches.select("dgst").distinct()), "dgst", "semi"
        )
        .groupBy("dgst")
        .agg(
            F.min("doc_id").alias("index_id"),
            F.count("*").cast("int").alias("n_members"),
        )
    )
    return (
        matches.join(groups, "dgst")
        .select("batch_id", "index_id", "via", "n_members")
        .distinct()
    )
