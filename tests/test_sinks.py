"""Durable sink layouts and the scan-side benefits they buy:
partition pruning (PartitionFilters) and bucket-join shuffle removal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.plans import operator_tree, physical_plan
from distributed_computing_spark.sources.catalog import load_table, write_table
from tests.conftest import SF_DIR

_explain = physical_plan


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    write_table(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = _explain(back)
    assert "PartitionFilters" in plan and "event_type" in plan
    # pruning is real, not cosmetic: only the click partition is read
    assert back.count() == ev.where(F.col("event_type") == "click").count()


def test_bucketed_write_removes_join_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key co-locate: the join plans
    with NO Exchange — the 100 TB answer to repeated fact-fact joins."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_table(
        orders, str(tmp_path / "o"), bucket_by=(4, "o_orderkey"), table_name="o_b"
    )
    write_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        str(tmp_path / "l"),
        bucket_by=(4, "o_orderkey"),
        table_name="l_b",
    )
    try:
        joined = (
            spark.table("o_b")
            .join(spark.table("l_b").hint("merge"), "o_orderkey")
            .select("o_orderkey", "o_totalprice", "l_quantity")
        )
        tree = operator_tree(joined)
        assert "Exchange" not in tree, tree
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS o_b")
        spark.sql("DROP TABLE IF EXISTS l_b")


def test_merge_sink_upsert_parquet_backend(spark, tmp_path):
    """MERGE sink (sinks.py): K2 table form against a stored table.
    In-container the Delta extension is absent, so the staged-swap
    parquet backend must produce MERGE INTO semantics: matched keys
    take the update row, unmatched insert (kvraft server.go:113-121)."""
    from distributed_computing_spark import sinks

    assert not sinks.delta_available(spark)  # container default
    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    sinks.merge_upsert_path(spark, path, base, "id")
    upd = spark.createDataFrame(
        [(2, "B"), (3, "c")], "id long, v string"
    )
    sinks.merge_upsert_path(spark, path, upd, "id")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # staged swap leaves no temp residue a reader could observe
    import os

    assert not os.path.exists(path + ".tmp") and not os.path.exists(path + ".old")


def test_merge_sink_kv_state_and_high_water(spark, tmp_path):
    """merge_kv_state: _lp (last put) resets the value, else the delta
    concat-appends onto the stored base; merge_high_water keeps the max
    per client — the two MERGEs KVTableStore.apply_batch commits."""
    from distributed_computing_spark import sinks
    from distributed_computing_spark.streaming.kv_stream import HW_SCHEMA

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [("k1", "v1", 1), ("k2", "x", None)],
        "key string, _delta string, _lp long",
    )
    sinks.merge_kv_state(spark, state, b1)
    # batch 2: k1 appends onto stored base, k2's put resets, k3 inserts
    b2 = spark.createDataFrame(
        [("k1", "+more", None), ("k2", "RESET", 5), ("k3", "new", None)],
        "key string, _delta string, _lp long",
    )
    sinks.merge_kv_state(spark, state, b2)
    got = {r["key"]: r["value"] for r in spark.read.parquet(state).collect()}
    assert got == {"k1": "v1+more", "k2": "RESET", "k3": "new"}

    hw = str(tmp_path / "hw")
    sinks.merge_high_water(
        spark, hw, spark.createDataFrame([(1, 10), (2, 20)], HW_SCHEMA)
    )
    # client 1 regresses (stale replay) -> keeps 10; client 3 inserts
    sinks.merge_high_water(
        spark, hw, spark.createDataFrame([(1, 7), (3, 30)], HW_SCHEMA)
    )
    got = {r["client_id"]: r["high_water"] for r in spark.read.parquet(hw).collect()}
    assert got == {1: 10, 2: 20, 3: 30}


def test_json_sink_source_roundtrip(spark, tmp_path):
    """S3/S4/S5 durable analog: the reference's shuffle/output files
    were newline-JSON KeyValue (common_map.go:65-88); the engine's JSON
    sink/source round-trips typed rows losslessly."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "ev_json")
    ev.write.mode("overwrite").json(out)
    back = spark.read.json(out)
    assert back.count() == ev.count()
    a = {r["event_id"]: (r["event_type"], r["value"]) for r in ev.collect()}
    b = {r["event_id"]: (r["event_type"], r["value"]) for r in back.collect()}
    assert a == b


def test_partitioned_corpus_write_prunes_partitions(spark, tmp_path, sf_dir):
    """write_curated_corpus lays out lang=/split= directories; an
    equality read lands as PartitionFilters in the scan and lists only
    the matching directories."""
    import os

    from pyspark.sql import functions as F

    from distributed_computing_spark import sinks
    from distributed_computing_spark.operators.curation import hash_split
    from distributed_computing_spark.plans import physical_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cur = docs.join(
        hash_split(docs.select("doc_id")).select("doc_id", "split"), "doc_id"
    ).select("doc_id", "text", "source", "n_chars", "lang", "split")
    path = str(tmp_path / "corpus")
    sinks.write_curated_corpus(cur, path)
    # hive layout on disk
    langs = sorted(d for d in os.listdir(path) if d.startswith("lang="))
    assert "lang=en" in langs and len(langs) >= 2
    assert any(d.startswith("split=") for d in os.listdir(os.path.join(path, "lang=en")))
    sl = sinks.read_corpus_slice(spark, path, lang="en", split="train")
    plan = physical_plan(sl)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned read returns exactly the en/train rows
    expect = cur.where((F.col("lang") == "en") & (F.col("split") == "train")).count()
    assert sl.count() == expect and expect > 0


@pytest.mark.slow
def test_curated_query_writes_its_corpus_once_and_removes_it_at_exit(tmp_path):
    """``curated_read_pruned_q`` writes the corpus once per session + sf
    (a second build reuses it) into a directory that is gone once the
    process exits."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    script = textwrap.dedent(f"""
        from distributed_computing_spark import registry, sinks
        from distributed_computing_spark.session import get_spark

        paths = []
        write = sinks.write_curated_corpus

        def counting(df, path, **kw):
            paths.append(path)
            return write(df, path, **kw)

        sinks.write_curated_corpus = counting
        spark = get_spark(cpus=1, shuffle_partitions=1)
        first = registry.curated_read_pruned_q(spark, {SF_DIR!r}).collect()
        second = registry.curated_read_pruned_q(spark, {SF_DIR!r}).collect()
        assert sorted(first) == sorted(second) and first
        print("WRITES", len(paths), paths[0])
    """)
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=Path(__file__).resolve().parents[1],
        env=env, capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("WRITES")]
    assert line, out.stderr[-2000:]
    _, n_writes, path = line[0].split()
    assert n_writes == "1"
    assert path.startswith(str(tmp_path)) and not os.path.exists(path)
    assert not list(tmp_path.glob("spark_graft_curated_*"))
