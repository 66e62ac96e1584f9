"""Curation operators: redaction behavior on planted PII, chunk
coverage/overlap properties, packing bounds, mixture determinism, and
DQ audit detection on deliberately corrupted tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.operators.curation import (
    chunk_counts,
    chunk_docs,
    clean_text,
    dq_audit,
    mixture_sample,
    pack_chunks,
)
from distributed_computing_spark.plans import operator_tree
from distributed_computing_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


def test_clean_text_redacts_planted_pii(spark):
    rows = [
        (1, "visit https://example.com/a?b=1 now"),
        (2, "mail me at jane.doe+x@corp.example.org please"),
        (3, "call +1-555-123-4567 or 555-123-4567"),
        (4, "spaced\t\tout\n\ntext  here"),
        (5, "no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", clean_text("text").alias("c")).collect()
    }
    assert got[1] == "visit <URL> now"
    assert got[2] == "mail me at <EMAIL> please"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "spaced out text here"
    assert got[5] == "no pii at all"


def test_chunk_docs_coverage_and_overlap(spark):
    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_docs(docs, size=64, stride=48)
    toks = F.filter(F.split("text", "[^A-Za-z0-9]+"), lambda t: t != "")
    n_per_doc = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(toks).alias("n")).collect()
    }
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("tok_sum"),
            F.max("n_tokens").alias("max_chunk"),
        )
        .collect()
    )
    import math

    for r in per_doc:
        n = n_per_doc[r["doc_id"]]
        # every token position is covered: chunk count is ceil(n/stride)
        assert r["n_chunks"] == math.ceil(n / 48)
        assert r["max_chunk"] <= 64
        # stride < size ⇒ overlap: summed chunk tokens exceed n for
        # multi-chunk docs, equal n for single-chunk docs
        if r["n_chunks"] > 1:
            assert r["tok_sum"] > n
        else:
            assert r["tok_sum"] == n
    # map-only: chunking itself introduces no shuffle
    assert "Exchange" not in operator_tree(chunk_docs(docs))


def test_chunk_counts_equals_chunk_docs_stats(spark):
    """The array-free chunk_counts frame must emit exactly the
    (doc_id, chunk_id, n_tokens) rows chunk_docs produces."""
    from distributed_computing_spark.operators.curation import chunk_counts

    docs = load_table(spark, SF_DIR, "documents")
    a = sorted(
        map(tuple, chunk_docs(docs).select("doc_id", "chunk_id", "n_tokens").collect())
    )
    b = sorted(map(tuple, chunk_counts(docs).collect()))
    assert a == b


def test_pack_chunks_capacity_bound(spark):
    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_docs(docs, size=64, stride=48).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    bins = pack_chunks(chunks, capacity=256).collect()
    # cumsum packing: a bin holds < capacity tokens before its last
    # chunk, so bin_tokens < capacity + max_chunk_tokens (64)
    for r in bins:
        assert r["bin_tokens"] < 256 + 64, r
    # no tokens lost: bins partition the chunk set
    total = chunks.agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(r["bin_tokens"] for r in bins) == total


@pytest.mark.slow
def test_pack_chunks_hierarchical_matches_single_window(spark):
    """The two-level prefix sum must produce bin assignments IDENTICAL
    to a single per-group cumulative window (offset + local cum ==
    global cum), at several band counts including bands > docs."""
    from pyspark.sql.window import Window

    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_counts(docs, keep_cols=("source",))

    # reference: the naive single-window form, inline
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = (
        chunks.withColumn("_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .select("source", F.expr("_before div 256").alias("bin_id"), "n_tokens")
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )
    want = sorted(map(tuple, ref.collect()))
    for bands in (1, 7, 32, 10_000):
        got = sorted(map(tuple, pack_chunks(chunks, capacity=256, sub_bands=bands).collect()))
        assert got == want, f"sub_bands={bands}"


def test_pack_chunks_sort_is_banded(spark):
    """The heavy window sort must partition on (group, band), not group
    alone — per-source parallelism is the point of the hierarchy."""
    from distributed_computing_spark.plans import physical_plan

    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_counts(docs, keep_cols=("source",))
    plan = physical_plan(pack_chunks(chunks, capacity=256, sub_bands=32))
    assert "_band" in plan  # banded hash partitioning reaches the plan
    # the window sort keys include the band column
    assert "hashpartitioning(source" in plan.replace(" ", "").lower()
    docs = load_table(spark, SF_DIR, "documents")
    rates = {"src0": 0.25, "src1": 0.5, "src2": 0.75, "src3": 1.0}
    kept = mixture_sample(docs, rates)
    totals = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    got = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    # unlisted sources are dropped entirely
    assert set(got) <= set(rates)
    assert got["src3"] == totals["src3"]
    for s, rate in rates.items():
        frac = got.get(s, 0) / totals[s]
        assert abs(frac - rate) < 0.2, (s, frac, rate)
    # decision is a pure function of doc_id: re-running yields the
    # identical sample (no RNG state, safe across retries/executors)
    again = {r["source"]: r["count"] for r in
             mixture_sample(docs, rates).groupBy("source").count().collect()}
    assert again == got
    ids1 = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"] for r in mixture_sample(docs, rates).select("doc_id").collect()
    )
    assert ids1 == ids2


def test_dq_audit_detects_planted_violations(spark, tmp_path):
    """Corrupt copies of the tables -> every check fires with the exact
    planted count; clean data -> all zeros (the registry/oracle case)."""
    src = str(tmp_path / "corrupt")
    orders = load_table(spark, SF_DIR, "orders").limit(100).cache()
    customer = load_table(spark, SF_DIR, "customer")
    # keep lineitem referentially consistent with the trimmed orders
    lineitem = (
        load_table(spark, SF_DIR, "lineitem")
        .join(orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "semi")
        .cache()
    )

    first_order = orders.limit(1)
    bad_orders = (
        orders
        # 2 orphans pointing at a customer key that cannot exist
        .unionByName(
            first_order.withColumn("o_orderkey", F.lit(10**9))
            .withColumn("o_custkey", F.lit(-12345))
        )
        .unionByName(
            first_order.withColumn("o_orderkey", F.lit(10**9 + 1))
            .withColumn("o_custkey", F.lit(-12345))
        )
        # 1 duplicate primary key (reuses an existing o_orderkey)
        .unionByName(first_order)
        # 1 null custkey (also an extra dup of the same orderkey)
        .unionByName(first_order.withColumn("o_custkey", F.lit(None).cast("long")))
    )
    bad_lineitem = lineitem.unionByName(
        lineitem.limit(1)
        .withColumn("l_orderkey", F.lit(-7))  # orphan
        .withColumn("l_extendedprice", F.lit(-1.0))  # nonpositive price
        .withColumn("l_quantity", F.lit(99.0))  # out of range
    )
    bad_orders.write.mode("overwrite").parquet(f"{src}/orders.parquet")
    customer.write.mode("overwrite").parquet(f"{src}/customer.parquet")
    bad_lineitem.write.mode("overwrite").parquet(f"{src}/lineitem.parquet")

    got = {r["check_name"]: r["violations"] for r in dq_audit(spark, src).collect()}
    assert got["orders_null_custkey"] == 1
    # 2 planted orphans + the null-custkey row (NULL joins nothing, so
    # anti-join counts it — matching the oracle's NOT EXISTS)
    assert got["orders_orphan_custkey"] == 3
    assert got["orders_dup_orderkey"] == 2  # two extra rows share one orderkey
    assert got["lineitem_orphan_orderkey"] == 1
    assert got["lineitem_nonpositive_price"] == 1
    assert got["lineitem_qty_out_of_range"] == 1
    assert got["customer_dup_custkey"] == 0

    clean = {r["check_name"]: r["violations"] for r in dq_audit(spark, SF_DIR).collect()}
    assert set(clean.values()) == {0}


def test_hash_split_deterministic_and_stratified(spark):
    from distributed_computing_spark.operators.curation import hash_split

    ids = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in hash_split(ids).collect()}
    # pure function of the id: survives repartition and re-computation
    b = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in hash_split(ids.repartition(13)).collect()
    }
    assert a == b
    assert all(0 <= v[0] < 10000 for v in a.values())
    counts = {s: 0 for s in ("train", "valid", "test")}
    for _, s in a.values():
        counts[s] += 1
    assert counts["train"] > 1600  # ~90% of 2000, loose bound
    assert counts["valid"] > 0 and counts["test"] > 0


def test_hash_split_is_map_only(spark):
    from distributed_computing_spark.operators.curation import hash_split

    df = hash_split(spark.range(100).withColumnRenamed("id", "doc_id"))
    assert "Exchange" not in operator_tree(df)


@pytest.mark.slow
def test_leakage_safe_split_never_splits_a_cluster(spark, sf_dir):
    """The whole point: no near-dup pair may straddle train/test."""
    from distributed_computing_spark.operators.curation import leakage_safe_split
    from distributed_computing_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.35, max_df=0.2)
    split = leakage_safe_split(docs, pairs)
    by_doc = {r["doc_id"]: r["split"] for r in split.collect()}
    straddles = [
        (r["a"], r["b"])
        for r in pairs.collect()
        if by_doc[r["a"]] != by_doc[r["b"]]
    ]
    assert straddles == []
    assert set(by_doc.values()) == {"train", "test"}  # both sides populated


def test_epoch_shuffle_is_exact_permutation_no_global_sort(spark, sf_dir):
    from distributed_computing_spark.operators.curation import epoch_shuffle_index
    from distributed_computing_spark.plans import physical_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    out = epoch_shuffle_index(docs, seed=0)
    idx = sorted(r["sample_idx"] for r in out.collect())
    assert idx == list(range(n))  # exact permutation, no gaps/dups
    # stable under input partitioning
    again = {
        (r["doc_id"], r["sample_idx"])
        for r in epoch_shuffle_index(docs.repartition(7), seed=0).collect()
    }
    assert again == {(r["doc_id"], r["sample_idx"]) for r in out.collect()}
    # a different seed is a different permutation
    other = {
        (r["doc_id"], r["sample_idx"])
        for r in epoch_shuffle_index(docs, seed=1).collect()
    }
    assert other != again
    # scale posture: never a single-task range sort of the data
    assert "rangepartitioning" not in physical_plan(out)


def test_fused_chunk_docs_identical_to_jvm_plan(spark, sf_dir):
    """The fused Arrow chunker must be bit-identical to the pure-JVM
    reference plan, including carried keep_cols."""
    from distributed_computing_spark.operators.curation import (
        chunk_docs,
        fused_chunk_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, chunk_docs(docs, keep_cols=("lang",)).collect()))
    b = sorted(map(tuple, fused_chunk_docs(docs, keep_cols=("lang",)).collect()))
    assert a == b and a


def test_fused_chunk_docs_validates_stride(spark):
    """round-4 ADVICE: the fused chunker enforces the same
    0 < stride <= size contract as the JVM reference plan — stride=0
    must fail fast at build time, not as an opaque executor error, and
    stride > size must not silently skip tokens between windows."""
    import pytest

    from distributed_computing_spark.operators.curation import fused_chunk_docs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        fused_chunk_docs(docs, size=4, stride=0)
    with pytest.raises(ValueError, match="stride"):
        fused_chunk_docs(docs, size=4, stride=5)


@pytest.mark.slow
def test_pack_chunks_equi_depth_banding_under_skew(spark):
    """round-4: banding='depth' balances band occupancy when doc_ids
    cluster in a narrow slice of the group's id range (the case that
    degenerates equi-width banding to one band), while bin assignment
    stays identical to the single-window reference in both modes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.curation import pack_chunks

    # 90% of docs in [0, 900), a tail at ~10^9: equi-width over the
    # full range puts the head entirely in band 0.
    rows = [(d, 0, "s", 10) for d in range(900)]
    rows += [(1_000_000_000 + d, 0, "s", 10) for d in range(100)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, source string, n_tokens long"
    )
    width = sorted(map(tuple, pack_chunks(chunks, capacity=64).collect()))
    depth = sorted(
        map(tuple, pack_chunks(chunks, capacity=64, banding="depth").collect())
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = sorted(
        map(
            tuple,
            chunks.withColumn("_cum", F.sum("n_tokens").over(w))
            .select(
                "source",
                F.expr("(_cum - n_tokens) div 64").alias("bin_id"),
                "n_tokens",
            )
            .groupBy("source", "bin_id")
            .agg(
                F.count("*").cast("long").alias("n_chunks"),
                F.sum("n_tokens").cast("long").alias("bin_tokens"),
            )
            .collect(),
        )
    )
    assert width == ref and depth == ref

    # occupancy: replicate both band rules and compare spreads
    sub_bands = 32
    lo, hi = 0, 1_000_000_099
    width_occ = (
        chunks.groupBy(
            F.least(
                F.lit(sub_bands - 1),
                F.expr(f"((doc_id - {lo}) * {sub_bands}) div ({hi} - {lo} + 1)"),
            ).alias("b")
        )
        .count()
        .collect()
    )
    assert max(r["count"] for r in width_occ) >= 0.85 * 1000  # degenerate
    qs = ", ".join(str(i / sub_bands) for i in range(1, sub_bands))
    bnds = chunks.groupBy("source").agg(
        F.expr(f"approx_percentile(doc_id, array({qs}))").alias("_bnds")
    )
    depth_occ = (
        chunks.join(F.broadcast(bnds), "source")
        .groupBy(
            F.size(F.filter(F.col("_bnds"), lambda b: b < F.col("doc_id"))).alias("b")
        )
        .count()
        .collect()
    )
    assert len(depth_occ) >= sub_bands // 2  # many occupied bands
    assert max(r["count"] for r in depth_occ) <= 4 * 1000 / sub_bands  # balanced


# --- weighted Bernoulli sampling ---------------------------------------------


def test_weighted_sample_matches_python_reference_and_rate(spark):
    import hashlib

    from distributed_computing_spark.operators.curation import weighted_sample
    from pyspark.sql import functions as F

    rows = [(i, (i * 37) % 1000 + 1) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, wt long")
    got = {
        r["id"] for r in weighted_sample(df, "id", F.col("wt"), seed=0).collect()
    }
    m = max(w for _, w in rows)
    want = set()
    for i, w in rows:
        h = int(hashlib.md5(f"{i}#0".encode()).hexdigest()[:15], 16) >> 30
        if h * m < w * (1 << 30):
            want.add(i)
    assert got == want
    # realized rate tracks E[w]/max_w (CLT bound, ~3 sigma)
    exp = sum(w for _, w in rows) / (m * len(rows))
    assert abs(len(got) / len(rows) - exp) < 0.03


def test_weighted_sample_guards(spark):
    import pytest
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(1, 0)], "id long, wt long")
    with pytest.raises(ValueError, match="positive maximum"):
        weighted_sample(df, "id", F.col("wt"))
    big = spark.createDataFrame([(1, 1 << 33)], "id long, wt long")
    with pytest.raises(ValueError, match="32 bits"):
        weighted_sample(big, "id", F.col("wt"))


def test_weighted_sample_max_weight_always_kept(spark):
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(
        [(i, 1000 if i == 7 else 1) for i in range(50)], "id long, wt long"
    )
    kept = {r["id"] for r in weighted_sample(df, "id", F.col("wt")).collect()}
    assert 7 in kept  # p = w/max_w = 1 exactly
