"""Catalog metadata memo: ``load_table`` infers a table's schema once
per session and ``table_rows`` counts its footers once, both keyed on
the files' identity (path, inode, size, mtime_ns)."""

from __future__ import annotations

import gc
import itertools
import os
import subprocess
import sys
import textwrap
import weakref
from pathlib import Path

from pyspark.sql import functions as F

from distributed_computing_spark.sources.catalog import (
    TABLES,
    file_identity,
    load_table,
    table_rows,
)

from tests.conftest import SF_DIR, SF_DIR_MID

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn fired)."""
    sc = spark.sparkContext
    group = f"test_catalog_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, sf_dir, name, n):
    spark.range(n).withColumn("v", F.col("id") * 3).write.mode("overwrite").parquet(
        f"{sf_dir}/{name}.parquet"
    )


def test_second_load_fires_no_job_and_returns_a_fresh_frame(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, sf, "t", 20)
    first, n_first = _jobs(spark, lambda: load_table(spark, sf, "t"))
    second, n_second = _jobs(spark, lambda: load_table(spark, sf, "t"))
    assert n_first >= 1  # the schema inference job
    assert n_second == 0
    assert first is not second
    assert sorted(first.collect()) == sorted(second.collect())
    assert second.schema == first.schema


def test_overwritten_table_is_seen_on_next_load(spark, tmp_path):
    sf = str(tmp_path)
    _write(spark, sf, "t", 20)
    assert load_table(spark, sf, "t").count() == table_rows(spark, sf, "t") == 20
    spark.range(7).select(F.col("id"), F.col("id").cast("string").alias("w")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/t.parquet")
    df = load_table(spark, sf, "t")
    assert df.columns == ["id", "w"]
    assert df.count() == table_rows(spark, sf, "t") == 7


def test_new_session_clone_reinfers(spark):
    load_table(spark, SF_DIR, "part")
    _, n_hit = _jobs(spark, lambda: load_table(spark, SF_DIR, "part"))
    clone = spark.newSession()
    _, n_clone = _jobs(clone, lambda: load_table(clone, SF_DIR, "part"))
    assert n_hit == 0 and n_clone >= 1


def test_memo_does_not_keep_a_session_alive(spark):
    clone = spark.newSession()
    df = load_table(clone, SF_DIR, "nation")
    assert table_rows(clone, SF_DIR, "nation") == 25
    ref = weakref.ref(clone)
    del clone, df
    # pyspark's RDD.toDF closure holds the newest session; move it on
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_stopped_then_recreated_session_reinfers():
    """Run in a process of its own: stopping the suite's shared session
    would break every later test."""
    repo = Path(__file__).resolve().parents[1]
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from distributed_computing_spark.session import get_spark
        from distributed_computing_spark.sources.catalog import load_table

        def jobs(s, g):
            s.sparkContext.setJobGroup(g, g)
            load_table(s, {SF_DIR!r}, "region")
            return len(s.sparkContext.statusTracker().getJobIdsForGroup(g))

        s1 = get_spark(cpus=1, shuffle_partitions=1)
        s1.sparkContext.setLogLevel("ERROR")
        counts = [jobs(s1, "a"), jobs(s1, "b")]
        s1.stop()
        s2 = get_spark(cpus=1, shuffle_partitions=1)
        counts.append(jobs(s2, "c"))
        s2.stop()
        print("JOBS", *counts)
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True,
        timeout=300,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("JOBS")]
    assert line, out.stderr[-2000:]
    first, hit, recreated = map(int, line[0].split()[1:])
    assert first >= 1 and hit == 0 and recreated >= 1


def test_events_ts_is_timestamp_on_a_hit(spark):
    load_table(spark, SF_DIR, "events")
    ev, n = _jobs(spark, lambda: load_table(spark, SF_DIR, "events"))
    assert n == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.select(F.col("ts").cast("long")).where(F.col("ts").isNull()).count() == 0


def test_self_join_of_two_loads_resolves_column_conditions(spark):
    """Each load is its own Dataset, so column objects of the two sides
    stay distinct in a self-join (a memoized DataFrame would hand one
    Dataset to both sides and make the condition trivial)."""
    o1 = load_table(spark, SF_DIR, "orders")
    o2 = load_table(spark, SF_DIR, "orders")
    pairs = o1.join(
        o2, (o1.o_custkey == o2.o_custkey) & (o1.o_orderkey < o2.o_orderkey)
    ).select(o1.o_orderkey.alias("a"), o2.o_orderkey.alias("b"))
    per_cust = o1.groupBy("o_custkey").count().collect()
    assert pairs.count() == sum(r["count"] * (r["count"] - 1) // 2 for r in per_cust)
    assert pairs.where(F.col("a") >= F.col("b")).count() == 0


def test_table_rows_matches_count_for_every_table(spark):
    for name in TABLES:
        want = load_table(spark, SF_DIR_MID, name).count()
        table_rows(spark, SF_DIR_MID, name)
        got, n = _jobs(spark, lambda: table_rows(spark, SF_DIR_MID, name))
        assert (name, got, n) == (name, want, 0)


def test_file_identity_local_paths_only(tmp_path):
    f = tmp_path / "a.parquet"
    f.write_bytes(b"x")
    st = os.stat(f)
    ident = ((str(f), st.st_ino, st.st_size, st.st_mtime_ns),)
    assert file_identity([str(f)]) == ident
    assert file_identity([f"file://{f}"]) == ident
    assert file_identity([str(tmp_path)]) == ident  # a dir lists its files
    assert file_identity(["hdfs://nn/x.parquet"]) is None
    assert file_identity([str(tmp_path / "missing")]) is None
    assert file_identity([]) is None
