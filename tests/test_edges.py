"""Empty/degenerate-input behavior: every operator family must return
an empty (correctly-schemed) result, never crash — partitions ARE empty
routinely at scale (filters, pruning, skewed splits)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_computing_spark.functions.text import tokens
from distributed_computing_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from distributed_computing_spark.operators.joins import asof_join, range_join_count
from distributed_computing_spark.operators.kv import dedup_ops, replay
from distributed_computing_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_gemm,
)

DOCS = "doc_id long, text string"
OPS = "seq long, client_id long, req_id long, op string, key string, value string"
EV = "user_id long, ts timestamp, event_id long"


def test_empty_ops_log(spark):
    empty = spark.createDataFrame([], OPS)
    assert replay(empty).count() == 0
    assert dedup_ops(empty).count() == 0


def test_empty_and_single_doc_corpus(spark):
    empty = spark.createDataFrame([], DOCS)
    one = spark.createDataFrame([(1, "only one document here")], DOCS)
    for docs in (empty, one):
        assert exact_dedup(docs).count() == docs.count()
        assert minhash_lsh_pairs(docs).count() == 0
        assert ngram_jaccard_pairs(docs).count() == 0
        assert simhash_pairs(docs).count() == 0


def test_empty_queries_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    none = emb.where(F.lit(False))
    assert cosine_topk(emb, none).count() == 0
    assert cosine_topk_gemm(emb, none).count() == 0


def test_empty_joins(spark):
    empty = spark.createDataFrame([], EV)
    assert asof_join(empty, empty, on="user_id", right_cols=("event_id",)).count() == 0
    assert range_join_count(empty, empty, on="user_id", span=60).count() == 0


def test_tokens_of_degenerate_text(spark):
    df = spark.createDataFrame([("",), ("   ",), ("!!!",), (None,)], "text string")
    rows = df.select(tokens("text").alias("t")).collect()
    assert [r["t"] for r in rows[:3]] == [[], [], []]
    assert rows[3]["t"] is None  # null text stays null, never throws


def test_bench_tail_compaction_fits_driver_capture():
    """VERDICT r4 item 2: the driver records the LAST 2000 chars of
    bench stdout — BENCH_r04 lost its headline when the JSON line
    outgrew that. The compacted line must fit with margin for a
    representative payload (every headline timing + 14 crossover
    queries + every recorded tier) and keep the headline."""
    import json

    import bench
    from tools.crossover import _all_recorded

    payload = {
        "metric": "headline_queries_total",
        "value": 46.712,
        "unit": "sec",
        "queries": {name: 12.345 for name in bench.HEADLINE},
        "sf": 0.1,
        "crossover": {
            "R": 20,
            "rows": {"documents": 100000, "events": 2000000, "lineitem": 12000000},
            "queries": {
                f"crossover_query_name_{i:02d}": {"spark_s": 123.456, "duckdb_s": 234.567}
                for i in range(14)
            },
            "spark_total_s": 123.456,
            "duckdb_total_s": 234.567,
            "spark_over_duckdb": 0.526,
            "recorded_tiers": _all_recorded(),
        },
    }
    line = json.dumps(bench._compact_for_tail(payload), separators=(",", ":"))
    assert len(line) <= bench._TAIL_BUDGET, len(line)
    back = json.loads(line)
    assert back["value"] == 46.712 and len(back["queries"]) == len(bench.HEADLINE)
    assert back["crossover"]["spark_over_duckdb"] == 0.526

    # a long per-query crossover dict never reaches the line
    payload["crossover"]["queries"] = {
        f"very_long_crossover_query_name_padding_{i:03d}": {
            "spark_s": 1.0, "duckdb_s": 2.0}
        for i in range(60)
    }
    line2 = json.dumps(bench._compact_for_tail(payload), separators=(",", ":"))
    assert line2 == line
