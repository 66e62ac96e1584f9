"""Streaming-ingest dedup: batches of documents (with exact dups,
near-dups, and cross-batch re-deliveries) flow through the foreachBatch
admit loop; the admitted corpus must contain exactly the unique
content, first-arrival wins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.streaming.ingest import CorpusIngestStore

DOCS = "doc_id long, text string, lang string, source string, n_chars long"


def _doc(i: int, text: str):
    return (i, text, "en", "s", len(text))


@pytest.mark.slow
def test_streaming_ingest_dedup_across_batches(spark, tmp_path):
    def base(i: int) -> str:
        return f"unique document number {i} with plenty of distinctive words " * 4

    b1 = [
        _doc(1, base(1)),
        _doc(2, base(2)),
        _doc(3, base(1)),   # exact dup of 1 (same batch)
    ]
    b2 = [
        _doc(10, base(1)),  # exact dup of admitted 1 (cross batch)
        _doc(11, base(2) + "tiny suffix"),  # near-dup of admitted 2
        _doc(12, base(12)),  # genuinely new
    ]
    src = str(tmp_path / "docs_src")
    for batch in (b1, b2):
        spark.createDataFrame(batch, DOCS).coalesce(1).write.mode("append").parquet(src)
    # pin file order (mtime) so batch 1 applies before batch 2
    parts = sorted(
        (os.path.getmtime(os.path.join(src, f)), f)
        for f in os.listdir(src)
        if f.startswith("part-")
    )
    for i, (_, f) in enumerate(parts):
        os.utime(os.path.join(src, f), (1_000_000 + i, 1_000_000 + i))

    store = CorpusIngestStore(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store.attach(stream, str(tmp_path / "ckpt")).awaitTermination(180)

    admitted = {r["doc_id"] for r in store.corpus().select("doc_id").collect()}
    assert admitted == {1, 2, 12}, admitted


@pytest.mark.slow
def test_retried_batch_is_idempotent(spark, tmp_path):
    """At-least-once delivery: a retried (namespace, batch_id) — whether
    after a successful commit or after a mid-write crash that left a
    stale staging dir — must not duplicate corpus rows."""
    import os as _os

    rows = [_doc(i, " ".join(f"w{i}n{j}" for j in range(40))) for i in range(4)]
    store = CorpusIngestStore(spark, str(tmp_path / "store_r"))
    batch = spark.createDataFrame(rows, DOCS)
    # crash simulation: a prior attempt died mid-write, leaving staging
    stale = _os.path.join(store.staging_dir, "t-" + "0" * 20)
    _os.makedirs(stale)
    open(_os.path.join(stale, "junk"), "w").close()
    store.admit_batch(batch, batch_id=0, namespace="t")
    assert store.corpus().count() == 4
    # retry of the committed batch: no-op
    store.admit_batch(batch, batch_id=0, namespace="t")
    assert store.corpus().count() == 4
    # same batch id under a DIFFERENT namespace (fresh checkpoint) is a
    # new logical batch — content-level dedup still admits nothing new
    store.admit_batch(batch, batch_id=0, namespace="t2")
    assert store.corpus().count() == 4


@pytest.mark.slow
def test_redelivered_batch_admits_nothing(spark, tmp_path):
    """Replaying identical content (retry/redelivery) admits zero new
    docs — content-level exactly-once."""
    rows = [
        _doc(i, " ".join(f"tok{i}x{j}" for j in range(40)))  # disjoint vocab per doc
        for i in range(5)
    ]
    src = str(tmp_path / "src2")
    spark.createDataFrame(rows, DOCS).coalesce(1).write.parquet(src)
    store = CorpusIngestStore(spark, str(tmp_path / "store2"))
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    store.attach(stream, str(tmp_path / "ckpt_a")).awaitTermination(120)
    assert store.corpus().count() == 5
    # redelivery: same content, new ids, fresh checkpoint
    redel = [(100 + i, t, la, s, n) for i, t, la, s, n in rows]
    src3 = str(tmp_path / "src3")
    spark.createDataFrame(redel, DOCS).coalesce(1).write.parquet(src3)
    stream2 = spark.readStream.schema(spark.read.parquet(src3).schema).parquet(src3)
    store.attach(stream2, str(tmp_path / "ckpt_b")).awaitTermination(120)
    assert store.corpus().count() == 5


def test_curated_ingest_cleans_filters_and_dedups(spark, tmp_path):
    """curate=True runs clean+quality before admission; near_dup=False
    keeps exact-tier-only admission (the gated stream_curated_ingest
    mode): dups collapse to the min id, junk quality is dropped, and
    the stored text is the CLEANED form."""
    good = (
        "the quick brown fox and the lazy dog is that it for a good "
        "document with plenty of the usual stopwords in it to pass " * 3
    )
    b1 = [
        (1, good + "  extra   spaces", "en", "s", 0),
        (2, "zzz qqq xxx", "en", "s", 0),  # too short / no stopwords → low quality
    ]
    b2 = [
        (10, good + " extra spaces", "en", "s", 0),  # dup of 1 AFTER cleaning
        (11, good + " genuinely different tail for the second admitted doc", "en", "s", 0),
    ]
    store = CorpusIngestStore(spark, str(tmp_path / "store"))
    DOCS = "doc_id long, text string, lang string, source string, n_chars long"
    store.admit_batch(spark.createDataFrame(b1, DOCS), curate=True, near_dup=False)
    store.admit_batch(spark.createDataFrame(b2, DOCS), curate=True, near_dup=False)
    corpus = {r["doc_id"]: r for r in store.corpus().collect()}
    assert set(corpus) == {1, 11}  # 2 quality-dropped, 10 deduped vs 1
    assert "  " not in corpus[1]["text"]  # whitespace collapsed by clean
    assert corpus[1]["n_chars"] == len(corpus[1]["text"])


@pytest.mark.slow
def test_exact_only_batches_still_index_signatures(spark, tmp_path):
    """round-4 ADVICE: near_dup=False admission must still persist REAL
    MinHash signatures, so a later near_dup=True batch near-dup-checks
    against everything admitted in exact-only mode (an empty sigs file
    would silently skip those checks)."""
    base = "unique ingest document with plenty of distinctive filler words " * 4
    store = CorpusIngestStore(spark, str(tmp_path / "store_mm"))
    store.admit_batch(
        spark.createDataFrame([_doc(1, base)], DOCS), near_dup=False
    )
    # the sigs parquet for the exact-only batch is non-empty
    assert store._read("sigs", "doc_id long, sig array<bigint>").count() == 1
    # a near-dup of the exact-only-admitted doc is now rejected
    store.admit_batch(
        spark.createDataFrame([_doc(2, base + "tiny suffix")], DOCS),
        near_dup=True,
    )
    admitted = {r["doc_id"] for r in store.corpus().select("doc_id").collect()}
    assert admitted == {1}, admitted
