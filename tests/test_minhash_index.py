"""Persisted incremental MinHash index (VERDICT r5 task #4): append-then-
query must equal the batch path from scratch; appending known content must
sign nothing new; probe finds planted dups without re-signing the index."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from detecting_and_addressing_change_spark.operators.dedup import (
    minhash_dedup_edges,
)
from detecting_and_addressing_change_spark.operators.minhash_index import (
    append_to_minhash_index,
    build_minhash_index,
    minhash_index_edges,
    minhash_index_probe,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill with great interest today"
    )
    rows = []
    for i in range(30):
        if i % 7 == 0:
            rows.append((i, base))  # exact-dup family
        elif i % 7 == 1:
            rows.append((i, base.replace("great", f"word{i}")))  # near dups
        else:
            rows.append(
                (
                    i,
                    f"unique document number {i} discussing spark adaptive "
                    f"query execution and shuffle partition tuning topic{i}",
                )
            )
    return spark.createDataFrame(rows, "doc_id long, text string")


def _edge_set(df):
    return {(r["a_id"], r["b_id"]) for r in df.collect()}


def test_append_then_query_equals_batch_rebuild(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    build_minhash_index(corpus.filter(F.col("doc_id") < 20), path)
    append_to_minhash_index(corpus.filter(F.col("doc_id") >= 20), path)
    got = _edge_set(minhash_index_edges(spark, path))
    want = _edge_set(minhash_dedup_edges(corpus))
    assert got == want and want  # non-trivial: dups are planted


def test_append_of_known_texts_signs_nothing(spark, corpus, tmp_path):
    path = str(tmp_path / "idx2")
    build_minhash_index(corpus, path)
    n_sigs = spark.read.parquet(f"{path}/sigs").count()
    # re-ingest byte-identical content under new ids
    dup_batch = corpus.select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    append_to_minhash_index(dup_batch, path)
    assert spark.read.parquet(f"{path}/sigs").count() == n_sigs
    assert spark.read.parquet(f"{path}/docs").count() == 60
    # and the edge set still matches the batch path over the union
    got = _edge_set(minhash_index_edges(spark, path))
    want = _edge_set(minhash_dedup_edges(corpus.unionByName(dup_batch)))
    assert got == want


def test_probe_finds_planted_dups_pre_append(spark, corpus, tmp_path):
    path = str(tmp_path / "idx3")
    build_minhash_index(corpus, path)
    base_text = corpus.filter(F.col("doc_id") == 0).first()["text"]
    batch = spark.createDataFrame(
        [
            (900, base_text),  # exact dup of the planted family
            (901, base_text.replace("today", "tonight")),  # near dup
            (902, "entirely novel content about nothing indexed before x"),
        ],
        "doc_id long, text string",
    )
    hits = minhash_index_probe(spark, path, batch).collect()
    by_batch = {}
    for r in hits:
        by_batch.setdefault(r["batch_id"], set()).add(
            (r["index_id"], r["via"])
        )
    assert (0, "exact") in by_batch[900]
    assert any(via == "band" for _, via in by_batch[901])
    assert 902 not in by_batch or all(
        via == "band" for _, via in by_batch.get(902, set())
    )


def test_streaming_ingest_restart_equals_batch(spark, corpus, tmp_path):
    """Continuous index maintenance: the corpus replayed as an ordered
    stream through a foreachBatch append — killed after the first wave,
    restarted on the same checkpoint for the rest — must leave an index
    whose edge set equals the batch path over the full corpus."""
    from detecting_and_addressing_change_spark.operators.minhash_index import (
        append_minhash_batch,
        init_minhash_index,
    )
    from detecting_and_addressing_change_spark.streaming.replay import (
        read_replay_stream,
        stage_replay_files,
    )

    path = str(tmp_path / "sidx")
    init_minhash_index(spark, path)
    staged = str(tmp_path / "staged")
    schema = "doc_id long, text string"

    def run_round():
        stream = read_replay_stream(spark, staged, schema)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, e: append_minhash_batch(b, e, path)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    n1 = stage_replay_files(
        corpus.filter(F.col("doc_id") < 15), "doc_id", staged, batch_size=5
    )
    run_round()
    stage_replay_files(
        corpus.filter(F.col("doc_id") >= 15), "doc_id", staged,
        batch_size=5, start_index=n1,
    )
    run_round()  # NEW query, same checkpoint

    got = _edge_set(minhash_index_edges(spark, path))
    want = _edge_set(minhash_dedup_edges(corpus))
    assert got == want and want


def test_redelivered_epoch_is_idempotent(spark, corpus, tmp_path):
    """At-least-once delivery: appending the SAME epoch twice must leave
    docs/ and sigs/ exactly as one delivery would."""
    from detecting_and_addressing_change_spark.operators.minhash_index import (
        append_minhash_batch,
        init_minhash_index,
    )

    path = str(tmp_path / "ridx")
    init_minhash_index(spark, path)
    batch = corpus.filter(F.col("doc_id") < 10)
    append_minhash_batch(batch, 0, path)
    docs1 = spark.read.parquet(f"{path}/docs").count()
    sigs1 = spark.read.parquet(f"{path}/sigs").count()
    append_minhash_batch(batch, 0, path)  # re-delivery of epoch 0
    assert spark.read.parquet(f"{path}/docs").count() == docs1 == 10
    assert spark.read.parquet(f"{path}/sigs").count() == sigs1


def test_build_then_streaming_append_share_one_layout(spark, corpus, tmp_path):
    """Review fix: a batch-built index must accept STREAMING epoch appends
    on the same path (docs/ uses one batch=<label> partition layout for
    both lifecycles) and stay readable + correct."""
    from detecting_and_addressing_change_spark.operators.minhash_index import (
        append_minhash_batch,
        append_to_minhash_index,
        build_minhash_index,
    )

    path = str(tmp_path / "mixidx")
    build_minhash_index(corpus.filter(F.col("doc_id") < 10), path)
    append_minhash_batch(
        corpus.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        0,
        path,
    )
    append_to_minhash_index(corpus.filter(F.col("doc_id") >= 20), path)
    got = _edge_set(minhash_index_edges(spark, path))
    want = _edge_set(minhash_dedup_edges(corpus))
    assert got == want and want


def test_append_num_hashes_mismatch_fails_fast(spark, corpus, tmp_path):
    import pytest

    from detecting_and_addressing_change_spark.operators.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
    )

    path = str(tmp_path / "schemaidx")
    build_minhash_index(corpus, path, num_hashes=8)
    with pytest.raises(ValueError, match="num_hashes=4"):
        append_to_minhash_index(corpus, path, num_hashes=4)


def test_compact_preserves_edges_and_shrinks_files(spark, corpus, tmp_path):
    import glob

    from detecting_and_addressing_change_spark.operators.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
    )

    path = str(tmp_path / "cidx")
    build_minhash_index(corpus.filter(F.col("doc_id") < 10), path)
    for lo in (10, 15, 20, 25):
        append_to_minhash_index(
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 5)
            ),
            path,
        )
    before = _edge_set(minhash_index_edges(spark, path))
    n_doc_parts = len(glob.glob(f"{path}/docs/batch=*"))
    assert n_doc_parts == 5  # base + 4 appends
    compact_minhash_index(spark, path, target_partitions=2)
    assert len(glob.glob(f"{path}/docs/batch=*")) == 1
    after = _edge_set(minhash_index_edges(spark, path))
    assert after == before == _edge_set(minhash_dedup_edges(corpus))
    # and the compacted index still accepts appends
    append_to_minhash_index(
        corpus.select(F.col("doc_id") + 500, "text").toDF("doc_id", "text"),
        path,
    )
    assert minhash_index_edges(spark, path).count() > len(after)


def test_custom_id_col_round_trip(spark, corpus, tmp_path):
    """ADVICE r6: build/append accept any id column name; the stored docs/
    layout canonicalizes to doc_id so edges/probe work unchanged."""
    path = str(tmp_path / "ididx")
    renamed = corpus.withColumnRenamed("doc_id", "document_key")
    build_minhash_index(
        renamed.filter(F.col("document_key") < 20), path, id_col="document_key"
    )
    append_to_minhash_index(
        renamed.filter(F.col("document_key") >= 20), path, id_col="document_key"
    )
    got = _edge_set(minhash_index_edges(spark, path))
    assert got == _edge_set(minhash_dedup_edges(corpus)) and got
    probe = minhash_index_probe(
        spark,
        path,
        renamed.filter(F.col("document_key") % 7 == 0).select(
            (F.col("document_key") + 900).alias("document_key"), "text"
        ),
        id_col="document_key",
    )
    assert probe.filter(F.col("via") == "exact").count() > 0


def test_compact_crash_recovery_promotes_new(spark, corpus, tmp_path):
    """ADVICE r6: compaction is write-fresh-then-swap. Simulate the worst
    crash window (live dir renamed away, .new not yet renamed in) and
    assert the next compaction auto-recovers with zero data loss."""
    import os

    from detecting_and_addressing_change_spark.operators.minhash_index import (
        compact_minhash_index,
    )

    path = str(tmp_path / "crashidx")
    build_minhash_index(corpus, path)
    before = _edge_set(minhash_index_edges(spark, path))
    # manufacture the mid-swap state for BOTH tables: .new fully written
    # (here: a byte-identical copy of live), live renamed to .old
    import shutil

    for name in ("docs", "sigs"):
        shutil.copytree(f"{path}/{name}", f"{path}/{name}.new")
        os.rename(f"{path}/{name}", f"{path}/{name}.old")
    compact_minhash_index(spark, path, target_partitions=2)
    assert not os.path.exists(f"{path}/docs.old")
    assert not os.path.exists(f"{path}/sigs.new")
    assert _edge_set(minhash_index_edges(spark, path)) == before


def test_delete_equals_rebuild_and_forgets_signatures(spark, corpus, tmp_path):
    """Right-to-be-forgotten: after deleting a set of ids — including a
    digest group's KEEPER and one full group — edges and probe equal a
    batch rebuild over the survivors, and no signature of fully-deleted
    content remains on disk."""
    from detecting_and_addressing_change_spark.operators.minhash_index import (
        delete_from_minhash_index,
        minhash_index_probe,
    )

    path = str(tmp_path / "delidx")
    build_minhash_index(corpus, path)
    # 0 is the exact-dup family keeper (i % 7 == 0 -> 0,7,14,21,28);
    # delete the keeper (promotion case) plus every near-dup (i % 7 == 1)
    # so one content family vanishes entirely (signature-GC case)
    gone = [0] + [i for i in range(30) if i % 7 == 1]
    del_df = spark.createDataFrame([(i,) for i in gone], "doc_id long")
    delete_from_minhash_index(spark, path, del_df)

    survivors = corpus.filter(~F.col("doc_id").isin(gone))
    want = _edge_set(minhash_dedup_edges(survivors))
    assert _edge_set(minhash_index_edges(spark, path)) == want and want
    # keeper promotion: 7 is now the exact-dup family's min id
    assert (7, 14) in want

    # signature GC: probing the DELETED near-dup text yields no EXACT hit
    # (its digest is gone) and no reference to any deleted id — the only
    # legitimate result is a band collision with the SURVIVING base
    # family it is a near-dup of
    probe = minhash_index_probe(
        spark,
        path,
        corpus.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 700).alias("doc_id"), "text"
        ),
    )
    rows = probe.collect()
    assert all(r["via"] == "band" for r in rows)
    assert all(r["index_id"] not in gone for r in rows)
    # and the index still accepts a re-append of forgotten content,
    # re-signing it from scratch
    append_to_minhash_index(
        corpus.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 800).alias("doc_id"), "text"
        ),
        path,
    )
    assert (
        minhash_index_probe(
            spark,
            path,
            corpus.filter(F.col("doc_id") == 1).select(
                (F.col("doc_id") + 900).alias("doc_id"), "text"
            ),
        )
        .filter(F.col("via") == "exact")
        .count()
        == 1
    )


def test_int32_ids_are_stored_as_long(spark, corpus, tmp_path):
    """docs/ is read with the declared ``doc_id long``; ids of a narrower
    integer type are cast on write so the files carry that type."""
    path = str(tmp_path / "int32idx")
    narrow = corpus.select(F.col("doc_id").cast("int").alias("doc_id"), "text")
    build_minhash_index(narrow.filter(F.col("doc_id") < 20), path)
    append_to_minhash_index(narrow.filter(F.col("doc_id") >= 20), path)
    stored = spark.read.parquet(f"{path}/docs").schema["doc_id"].dataType
    assert stored.simpleString() == "bigint"
    got = _edge_set(minhash_index_edges(spark, path))
    assert got == _edge_set(minhash_dedup_edges(corpus)) and got
    probe = minhash_index_probe(
        spark,
        path,
        narrow.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 900).alias("doc_id"), "text"
        ),
    )
    hits = {r["index_id"] for r in probe.filter(F.col("via") == "exact").collect()}
    assert hits == {0}


def test_non_integer_ids_are_refused(corpus, tmp_path):
    text_ids = corpus.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    with pytest.raises(TypeError, match="must be integers"):
        build_minhash_index(text_ids, str(tmp_path / "stridx"))
