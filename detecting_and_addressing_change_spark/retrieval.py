"""RAG-style retrieval build: chunk → embed → persisted IVF index →
text-query search.

The composition the x63/x58/x59 pieces exist for: cut documents into
overlapping word windows (x63's boundaries, text retained), embed each
chunk with the pluggable embedder (hash backend here; the HF backend is
the same mapInPandas contract), build the persisted IVF index over the
chunk vectors, and answer text queries by embedding them identically and
probing the index. Chunk metadata (doc_id, chunk_idx, text) is written
beside the index so hits resolve back to their source documents.

Scale shape: chunking is a narrow map + explode; embedding is one
Arrow-batched pass; the index build/probe inherit
``operators/ivf_index.py``'s properties (one partitioned write,
partition-pruned probes). Nothing here collects corpus-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.embedder import pooled_embed_documents_tagged
from .operators.ivf_index import build_ivf_index, ivf_index_search
from .sources.tables import local_table, read_parquet_cached_schema

# chunk_id = doc_id * CHUNK_ID_BASE + chunk_idx. Chunking covers the WHOLE
# document (no truncation), so the base bounds the supported document
# length: 2^20 chunks at stride 12 ≈ 12.5M words per document — beyond any
# real document; build_text_index raises if a document exceeds it rather
# than silently colliding into the next doc's id space.
_CHUNK_ID_BASE = 1 << 20


def chunk_documents(
    docs: DataFrame,
    size: int = 16,
    stride: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """x63's sliding-window boundaries with the chunk TEXT retained:
    DataFrame[doc_id, chunk_idx, chunk_id, chunk_text]. Pure narrow map +
    explode (zero hash exchange), same contract as the x63 query."""
    from .functions.text import chunk_spans

    spans = chunk_spans(
        docs.select(F.col(id_col).alias("doc_id"), text_col),
        size=size, stride=stride, text_col=text_col,
    )
    j = F.col("j")
    return spans.select(
        "doc_id",
        j.cast("int").alias("chunk_idx"),
        (F.col("doc_id") * _CHUNK_ID_BASE + j).alias("chunk_id"),
        F.array_join(F.col("chunk"), " ").alias("chunk_text"),
    )


def build_text_index(
    docs: DataFrame,
    out_path: str,
    dim: int = 8,
    model: str = "BERT",
    size: int = 16,
    stride: int = 12,
    n_centroids: int = 8,
) -> None:
    """Chunk, DEDUPE, embed, and index ``docs`` at ``out_path``: the IVF
    index over chunk vectors plus ``{out_path}/chunks`` metadata.

    Exact-duplicate chunk texts keep one min-chunk_id representative
    (the x66 chunk-hygiene rule, the same keeper idiom as the curation
    stream): boilerplate and cross-doc repeats otherwise bloat the index
    with byte-identical vectors — and duplicate vectors make top-k
    CUTOFFS among cosine-tied candidates depend on last-ulp float
    summation order, i.e. non-reproducible across engines/thread
    counts. One hash exchange on the 16-byte digest; at 100 TB this is
    the same single-shuffle exact-dedup shape as x01."""
    from pyspark.sql import Window

    chunks = chunk_documents(docs, size=size, stride=stride)
    keeper = F.min("chunk_id").over(
        Window.partitionBy(F.md5(F.col("chunk_text")))
    )
    chunks = (
        chunks.withColumn("__keeper", keeper)
        .filter(F.col("chunk_id") == F.col("__keeper"))
        .drop("__keeper")
    )
    chunks.write.mode("overwrite").parquet(f"{out_path}/chunks")
    spark = docs.sparkSession
    chunks = read_parquet_cached_schema(spark, f"{out_path}/chunks")  # embed from disk,
    # not through a recomputed chunk pipeline
    # capacity guard on the cheap re-read (no extra chunking pass): a
    # chunk_idx at the base would collide into the next doc's id space
    over = chunks.filter(F.col("chunk_idx") >= _CHUNK_ID_BASE).count()
    if over:
        raise ValueError(
            f"{over} chunks exceed chunk_idx capacity {_CHUNK_ID_BASE} "
            f"(document longer than ~{_CHUNK_ID_BASE * stride} words); "
            f"raise _CHUNK_ID_BASE or pre-split such documents"
        )
    # persist: build_ivf_index runs several jobs over the corpus (dim
    # probe, seed collect, one agg per Lloyd iteration, postings write) —
    # without this each job re-executes the Arrow embed pass
    vecs = _embed_as(chunks, "chunk_id", "chunk_text", model, dim).persist()
    try:
        vecs.count()
        build_ivf_index(vecs, out_path, n_centroids=n_centroids)
    finally:
        vecs.unpersist()


def _embed_as(
    df: DataFrame, id_col: str, text_col: str, model: str, dim: int
) -> DataFrame:
    tagged = df.select(
        F.lit(model).alias("model"),
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return pooled_embed_documents_tagged(tagged, dim=dim).select(
        F.col("doc_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )


def search_text(
    spark: SparkSession,
    out_path: str,
    query_texts: list[str],
    k: int = 5,
    nprobe: int = 2,
    dim: int = 8,
    model: str = "BERT",
) -> DataFrame:
    """Embed the query strings exactly like the chunks and probe the
    index: DataFrame[query_id, doc_id, chunk_idx, chunk_text, cosine,
    rnk]. query_id is the position in ``query_texts``."""
    qdf = local_table(
        spark, list(enumerate(query_texts)), "query_id long, text string"
    )
    qvecs = _embed_as(qdf, "query_id", "text", model, dim).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
    )
    hits = ivf_index_search(
        spark, out_path, qvecs, k=k, nprobe=nprobe, exclude_self=False
    )
    chunks = read_parquet_cached_schema(spark, f"{out_path}/chunks")
    return (
        hits.join(
            chunks, hits["cand_id"] == chunks["chunk_id"]
        )
        .select(
            "query_id",
            "doc_id",
            "chunk_idx",
            "chunk_text",
            "cosine",
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )
