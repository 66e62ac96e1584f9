"""MapReduce surface tests — layers 1+2 of the reference's strategy:
golden-equivalence for wc/ii (vs DuckDB oracle) and the synthetic-int
round-trip property (mapreduce/test_test.go:15-95)."""

from __future__ import annotations

import duckdb
import pytest

from distributed_computing_spark.operators.mapreduce import (
    grouped_values,
    inverted_index,
    map_reduce,
    word_count,
)
from distributed_computing_spark.registry import ORACLES

from tests.conftest import SF_DIR_MID


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchall()


def test_word_count_matches_oracle(spark):
    got = [(r["word"], r["cnt"]) for r in word_count(spark, SF_DIR_MID).collect()]
    want = _oracle(SF_DIR_MID, ORACLES["word_count_top10"])
    assert got == [tuple(r) for r in want]


def test_fused_word_count_identical_to_explode_plan(spark):
    """The adopted fused Arrow pass must be bit-identical to the pure
    JVM explode+agg plan — full distribution, not just top-k."""
    from pyspark.sql import functions as F

    from distributed_computing_spark.functions.text import tokens
    from distributed_computing_spark.operators.mapreduce import (
        fused_token_counts,
        fused_word_count,
    )
    from distributed_computing_spark.sources.catalog import load_table

    got = [(r["word"], r["cnt"]) for r in fused_word_count(spark, SF_DIR_MID).collect()]
    want = _oracle(SF_DIR_MID, ORACLES["word_count_top10"])
    assert got == [tuple(r) for r in want]

    docs = load_table(spark, SF_DIR_MID, "documents")
    full_explode = sorted(
        map(
            tuple,
            docs.select(F.explode(tokens("text")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .collect(),
        )
    )
    full_fused = sorted(map(tuple, fused_token_counts(docs).collect()))
    assert full_fused == full_explode


def test_inverted_index_matches_oracle(spark):
    got = {
        r["word"]: (r["n_docs"], r["postings"])
        for r in inverted_index(spark, SF_DIR_MID).collect()
    }
    want = {r[0]: (r[1], r[2]) for r in _oracle(SF_DIR_MID, ORACLES["inverted_index"])}
    assert got == want


def test_map_reduce_identity_roundtrip(spark):
    """Layer-2 analog: identity mapF/reduceF over synthetic ints — output
    must be exactly the sorted input (test_test.go check(), :45-85)."""
    n = 1000
    df = spark.createDataFrame(
        [(str(i), str(i)) for i in range(n)], "key string, value string"
    )
    out = map_reduce(df, lambda k, v: [(v, "")], lambda k, vs: "", n_reduce=10)
    keys = sorted(int(r["key"]) for r in out.collect())
    assert keys == list(range(n))


def test_map_reduce_wordcount_parity(spark):
    """The wc.go hooks through the generic facade equal the DataFrame path."""
    rows = [("d1", "the cat and the hat"), ("d2", "the end")]
    df = spark.createDataFrame(rows, "key string, value string")

    def map_f(k, v):
        import re

        return [(w, "1") for w in re.split(r"[^A-Za-z0-9]+", v) if w]

    def reduce_f(k, vs):
        return str(sum(int(x) for x in vs))

    got = {r["key"]: r["value"] for r in map_reduce(df, map_f, reduce_f).collect()}
    assert got == {"the": "3", "cat": "1", "and": "1", "hat": "1", "end": "1"}


def test_grouped_values_sorted(spark):
    df = spark.createDataFrame(
        [("a", "z"), ("a", "x"), ("b", "y")], "key string, value string"
    )
    got = {r["key"]: r["values"] for r in grouped_values(df).collect()}
    assert got == {"a": ["x", "z"], "b": ["y"]}


def test_text_corpus_source_and_merged_sink(spark, tmp_path):
    """S1 (whole-file text scan with doc identity) and S6 (merged,
    key-sorted "k: v" text sink) round-trip on real files."""
    import os

    from pyspark.sql import functions as F

    from distributed_computing_spark.functions.text import tokens
    from distributed_computing_spark.sources.catalog import (
        read_text_corpus,
        write_merged_text,
    )

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "a.txt").write_text("the quick brown fox\nthe lazy dog\n")
    (src / "b.txt").write_text("the dog barks\n")
    corpus = read_text_corpus(spark, str(src))
    # doc identity survives the scan (input_file_name)
    assert {os.path.basename(r["doc"]) for r in corpus.select("doc").distinct().collect()} == {
        "a.txt", "b.txt",
    }
    counts = (
        corpus.select(F.explode(tokens("line")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("value"))
    )
    out = tmp_path / "merged"
    write_merged_text(counts, str(out))
    [part] = [p for p in os.listdir(out) if p.startswith("part-")]
    lines = (out / part).read_text().splitlines()
    assert lines == sorted(lines)  # globally key-sorted
    assert "the: 3" in lines and "dog: 2" in lines and "fox: 1" in lines


def test_inverted_index_golden_line_format(spark, tmp_path):
    """ii's committed-golden shape (main/mr-challenge.txt lines like
    'word: 15 doc1,doc2,...'): format the DataFrame result to the exact
    reference line layout through the merged text sink."""
    import os

    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.mapreduce import inverted_index
    from distributed_computing_spark.sources.catalog import write_merged_text
    from tests.conftest import SF_DIR

    idx = inverted_index(spark, SF_DIR, min_docs=1)
    formatted = idx.select(
        F.col("word").alias("key"),
        F.concat_ws(" ", F.col("n_docs").cast("string"), "postings").alias("value"),
    )
    out = tmp_path / "ii_golden"
    write_merged_text(formatted, str(out))
    [part] = [p for p in os.listdir(out) if p.startswith("part-")]
    lines = (out / part).read_text().splitlines()
    assert lines == sorted(lines)
    # every line matches 'word: <n> <comma-joined sorted docs>'
    import re

    pat = re.compile(r"^\S+: \d+ doc\d+(,doc\d+)*$")
    assert lines and all(pat.match(ln) for ln in lines)
    # postings are sorted and dedup'd, count agrees with the list
    for ln in lines[:50]:
        n, docs = ln.split(": ")[1].split(" ", 1)
        parts = docs.split(",")
        assert len(parts) == int(n) == len(set(parts))
        assert parts == sorted(parts)


def test_map_reduce_rdd_matches_pandas_facade(spark):
    """The RDD-native facade and the Arrow-batched facade implement the
    same hook contract — identical results on word count."""
    import re

    from distributed_computing_spark.operators.mapreduce import (
        map_reduce,
        map_reduce_rdd,
    )

    docs = spark.createDataFrame(
        [("d1", "the cat sat"), ("d2", "the cat ran the mile")],
        "key string, value string",
    )

    def map_f(k, v):
        for w in re.split(r"[^A-Za-z0-9]+", v):
            if w:
                yield (w, "1")

    def reduce_f(k, values):
        return str(sum(int(x) for x in values))

    a = {(r["key"], r["value"]) for r in map_reduce(docs, map_f, reduce_f).collect()}
    b = {(r["key"], r["value"]) for r in map_reduce_rdd(docs, map_f, reduce_f, 3).collect()}
    assert a == b == {("the", "3"), ("cat", "2"), ("sat", "1"), ("ran", "1"), ("mile", "1")}


@pytest.mark.slow
def test_synthetic_roundtrip_through_facade(spark):
    """Port of the reference's harness test (mapreduce/test_test.go:
    15-85): synthetic sequential ints through identity mapF/reduceF
    across many reduce partitions; output must be exactly the input
    (per-key), independent of partitioning."""
    from distributed_computing_spark.operators.mapreduce import map_reduce_rdd

    n = 10_000
    from pyspark.sql import functions as F

    df = spark.range(n).select(
        F.col("id").cast("string").alias("key"), F.col("id").cast("string").alias("value")
    )

    def map_f(k, v):
        yield (k, v)

    def reduce_f(k, values):
        assert len(values) == 1
        return values[0]

    out = map_reduce_rdd(df, map_f, reduce_f, n_reduce=50)
    assert out.count() == n
    mismatched = out.where(F.col("key") != F.col("value")).count()
    assert mismatched == 0
