"""MapReduce capability surface, Spark-first (SURVEY.md §2.1-§2.4).

The reference's batch dataflow is map → hash shuffle → group → sort →
reduce → merge (src/mapreduce/master.go:100-118). Here that whole
pipeline is ONE declarative DataFrame plan: Catalyst inserts the
shuffle at the groupBy, does partial (map-side) aggregation the
reference lacks (src/mapreduce/common_map.go:82-88 ships every ("w","1")
pair), and external-sorts instead of the reference's in-memory
``map[string][]string`` (src/mapreduce/common_reduce.go:25-48).

- ``word_count``      = wc.go map/reduce  (T2+T3+A3, top-k O3)
- ``inverted_index``  = ii.go map/reduce  (T2+T4+A4, top-k O4)
- ``map_reduce``      = the generic mapF/reduceF hook pair (T1+A2),
  kept for API parity; implemented with Arrow-batched pandas iterators,
  not row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import frame_maker, map_rows
from distributed_computing_spark.functions.text import TOKEN_SPLIT_RE, tokens
from distributed_computing_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Word count (src/main/wc.go) over the documents table
# ---------------------------------------------------------------------------


def word_count(spark: SparkSession, sf_dir: str, top_k: int = 10) -> DataFrame:
    """Top-k word counts, ties broken by word (test-wc.sh:3 semantics).

    Plan shape at scale: parquet scan (text column only, pruned) →
    generate(explode) → partial HashAggregate → shuffle on word →
    final HashAggregate → TakeOrderedAndProject (no global sort for a
    top-k — Spark computes per-partition top-k then merges on driver).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(top_k)
    )


def fused_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-fused tokenize+count: the explode-free word-count plan.

    The explode+agg plan (``word_count``) pays per-token JVM overhead in
    the Generate → partial-HashAggregate pair — measured ~20-50× behind
    a fused single-process engine per query at data-dominated tiers
    (BASELINE.md, explode-bound family). This variant fuses tokenize and
    map-side combine into ONE vectorized pass per Arrow batch: join the
    batch's text on an out-of-alphabet separator, one C-regex ``findall``
    over the joined string, one ``Counter`` update (C dict counting) —
    emitting per-batch partial (word, cnt) rows. The shuffle then
    carries ~distinct-words-per-partition rows, identical to the JVM
    partial agg, and the final groupBy sum is tiny. Token semantics are
    exactly ``tokens`` (ASCII [A-Za-z0-9]+), so results are
    bit-identical to the explode plan and the same DuckDB oracle holds.
    """
    import re

    import pandas as pd

    pat = re.compile("[A-Za-z0-9]+")
    schema = "word string, cnt long"
    build = frame_maker(schema)

    def count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        def flush(c: Counter) -> pd.DataFrame:
            return build(list(c.keys()), list(c.values()))

        c: Counter = Counter()
        for pdf in batches:
            # \x00 can't match [A-Za-z0-9], so joining is split-safe
            c.update(pat.findall("\x00".join(pdf[text_col].astype(str))))
            # bound worker memory on huge-vocabulary partitions: emit
            # and reset; the downstream sum re-merges duplicates
            if len(c) > 2_000_000:
                yield flush(c)
                c = Counter()
        if c:
            yield flush(c)

    from distributed_computing_spark.parallelism import spread_for_arrow

    partial = spread_for_arrow(docs.select(text_col)).mapInPandas(
        count_batches, schema=schema
    )
    return partial.groupBy("word").agg(F.sum("cnt").alias("cnt"))


def fused_word_count(
    spark: SparkSession, sf_dir: str, top_k: int = 10
) -> DataFrame:
    """``word_count`` semantics on the fused Arrow pass (same oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        fused_token_counts(docs)
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(top_k)
    )


def inverted_index(
    spark: SparkSession, sf_dir: str, min_docs: int = 100
) -> DataFrame:
    """Inverted index: word → distinct-doc count + sorted postings list.

    Mirrors ii.go's reduce (dedup docs, count, comma-join —
    src/main/ii.go:36-60) with A4's algebraic form:
    ``count_distinct`` + ``array_join(array_sort(collect_set))``.
    ``min_docs`` keeps the materialized postings bounded (at 100 TB an
    unfiltered postings list for the head words is the classic skew
    trap; collect_set per word is bounded by corpus doc count — the
    scale path shards head words by doc-id salt before the final join).
    """
    docs = load_table(spark, sf_dir, "documents")
    posting_doc = F.concat(F.lit("doc"), F.col("doc_id").cast("string"))
    # ONE distinct-set aggregate; count and joined postings both derive
    # from it (countDistinct alongside collect_set would run a second
    # object agg over the same shuffle for a value size() already has).
    return (
        docs.select(posting_doc.alias("doc"), F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.array_sort(F.collect_set("doc")).alias("_docs"))
        .select(
            "word",
            F.size("_docs").cast("long").alias("n_docs"),
            F.array_join(F.col("_docs"), ",").alias("postings"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# Generic mapF/reduceF facade (T1 + A2) — teaching-parity API
# ---------------------------------------------------------------------------

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]


def map_reduce(
    df: DataFrame,
    map_f: MapF,
    reduce_f: ReduceF,
    n_reduce: int | None = None,
) -> DataFrame:
    """Run user mapF/reduceF hooks over a (key, value) string DataFrame.

    Parity with the reference hooks:
    - ``map_f(key, value) -> iterable[(k, v)]``  (common_map.go:20)
    - ``reduce_f(k, values_sorted_by_arrival) -> v`` (common_reduce.go:18)

    Implementation is Arrow-batched (``mapInPandas`` for the flatMap,
    ``applyInPandas`` for the per-key reduce) — the UDF slow path, but
    batched, and only for user-supplied Python hooks; the built-in
    analytics (word_count / inverted_index) never come through here.
    ``n_reduce`` maps to an explicit repartition for parity with the
    reference's nReduce; leave None to let AQE pick.
    """
    schema = "key string, value string"
    mapped = map_rows(
        df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        ),
        map_f,
        schema,
    )

    if n_reduce is not None:
        mapped = mapped.repartition(n_reduce, "key")

    build = frame_maker(schema)

    def reduce_group(pdf):
        key = pdf["key"].iloc[0]
        return build([key], [reduce_f(key, list(pdf["value"]))])

    return mapped.groupBy("key").applyInPandas(reduce_group, schema=schema)


def map_reduce_rdd(
    df: DataFrame,
    map_f: MapF,
    reduce_f: ReduceF,
    n_reduce: int | None = None,
) -> DataFrame:
    """RDD-native variant of ``map_reduce`` — the literal Spark
    primitives the reference's dataflow maps onto: ``flatMap`` (doMap,
    common_map.go:50-64) → ``groupByKey(nReduce)`` (the hash shuffle +
    per-key grouping of common_map.go:82-88 / common_reduce.go:25-50)
    → per-key ``reduce_f`` in key-sorted order (common_reduce.go:52-60).

    Prefer ``map_reduce`` (Arrow-batched) in production — this form
    pickles row-at-a-time and ``groupByKey`` materializes each key's
    values; it exists for API/teaching parity with the reference and
    for map/reduce hooks that aren't batch-friendly.
    """
    spark = df.sparkSession
    pairs = df.select(
        F.col("key").cast("string"), F.col("value").cast("string")
    ).rdd.flatMap(lambda r: list(map_f(r["key"], r["value"])))
    grouped = (
        pairs.groupByKey(numPartitions=n_reduce)
        if n_reduce
        else pairs.groupByKey()
    )
    reduced = grouped.sortByKey().map(
        lambda kv: (kv[0], reduce_f(kv[0], list(kv[1])))
    )
    return spark.createDataFrame(reduced, "key string, value string")


def grouped_values(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """A1: group-by-key accumulation, exposed as a sorted array column.

    The reference builds ``map[string][]string`` in reduce-task memory
    (common_reduce.go:25-48); Spark's hash aggregate spills, and the
    sort inside the array replaces the reference's per-task key sort
    (O1, common_reduce.go:52-60).
    """
    return df.groupBy(key).agg(F.array_sort(F.collect_list(value)).alias("values"))
