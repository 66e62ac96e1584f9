"""Query registry: every implemented operator as a (spark, sf_dir) query,
with its exact DuckDB oracle SQL where SQL-expressible.

This is the engine's declared coverage surface (SURVEY.md §2): the
driver runs each Spark query and its oracle side-by-side and compares
row counts + schema + order-insensitive value hashes. Column names and
value rounding are aligned on both sides by construction.

Queries with engine-specific hashing (MinHash/SimHash/LSH/HLL) have no
oracle — the driver records rows-only; their semantic correctness is
covered by recall/error-bound tests in tests/.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import map_rows
from distributed_computing_spark.operators import (
    analytics,
    curation,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from distributed_computing_spark.operators.kv import (
    dedup_ops,
    ops_from_events,
    replay,
    snapshot_at,
)
from distributed_computing_spark.operators.mapreduce import (
    fused_word_count,
    inverted_index,
    word_count,
)
from distributed_computing_spark.operators.sharding import key2shard
from distributed_computing_spark.sources.catalog import load_table, table_rows

# ---------------------------------------------------------------------------
# KV query wrappers (ops log derived deterministically from `events`)
#
# The ops log and the replayed state are MATERIALIZED once per
# (session, sf_dir) and shared by every KV/shard query, mirroring the
# reference's server design: kvraft holds its state map in memory and
# serves reads from it rather than replaying the raft log per Get
# (/root/reference/src/kvraft/server.go:31-38, applyOps loop). Here the
# "state table" is a persisted DataFrame (MEMORY_AND_DISK, so it spills
# rather than OOMs at scale); seven registry queries consume it.
# ---------------------------------------------------------------------------

_KV_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _kv_cached(spark: SparkSession, sf_dir: str, what: str, build) -> DataFrame:
    key = (id(spark), sf_dir, what)
    df = _KV_CACHE.get(key)
    if df is None:
        from pyspark import StorageLevel

        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _KV_CACHE[key] = df
    return df


def clear_kv_cache() -> None:
    """Drop materialized KV state (tests / session teardown)."""
    for df in _KV_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _KV_CACHE.clear()


def _ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Not persisted: the ops projection is a cheap scan, and the window
    # chains its consumers run are not avoided by caching the input.
    return ops_from_events(load_table(spark, sf_dir, "events"))


def kv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2+K3+K4+K5: full deduped ordered replay → (key, value)."""
    return _kv_cached(
        spark, sf_dir, "state", lambda: replay(_ops(spark, sf_dir))
    )


def kv_effective_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 observable: per-client surviving op count + high-water req_id.

    Round-7 measured attempt (VERDICT r6 item 7), adopted in part: the
    query only reads (client_id, seq, req_id), but Catalyst does not
    prune the ops projection's op/key/value expressions through the
    dedup window — projecting the three columns FIRST cut R200 from
    5.0 s to 3.8 s warm (the win is skipping the per-row concat/when
    value expressions, not shuffle bytes). The rest is closed as a
    dead end: a two-level running-max decomposition (per-(client,
    seq-bucket) local maxima + broadcast prefix-bucket high-water,
    gate-equal) measured 3.89 s — NO win over the narrow window,
    because 50 clients already saturate 32 cores and the floor is the
    20 M-row scan+shuffle, not window parallelism. DuckDB stays ahead
    on absolutes (~0.6 s) — engine overhead, not a scale risk."""
    eff = dedup_ops(
        _ops(spark, sf_dir).select("client_id", "seq", "req_id")
    )
    return eff.groupBy("client_id").agg(
        F.count("*").alias("n_effective"),
        F.max("req_id").alias("high_water"),
    )


def kv_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: state at log index max_seq/2 (snapshot/time-travel)."""
    ops = _ops(spark, sf_dir)
    # Floor division on BOTH sides: `/2 cast long` truncates in Spark but
    # the oracle's CAST(x/2 AS BIGINT) rounds in DuckDB — for odd max_seq
    # the two cuts would differ by one op.
    half = ops.agg(F.expr("max(seq) div 2")).collect()[0][0]
    return snapshot_at(ops, int(half))


def kv_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 CDC: per-key change verdict between log positions max_seq/2
    and max_seq (time-travel diff)."""
    from distributed_computing_spark.operators.kv import state_diff

    ops = _ops(spark, sf_dir)
    max_seq = ops.agg(F.max("seq")).collect()[0][0]
    return state_diff(ops, max_seq // 2, max_seq)


def kv_get_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: point lookups for a fixed key set against the replayed state."""
    state = kv_state(spark, sf_dir)
    return state.where(F.col("key").isin("0", "7", "13", "19"))


def _hotkey_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key ops-log adapter (round 5): the reference's append-history
    linearizability workload (kvraft/test_test.go:131-236) is many
    clients hammering a few keys — here one key ('hot') receives ~25%
    of all writes (user_id % 4 == 0) and req_id is monotone so the K4
    dedup keeps EVERY op: the per-key fold, not the dedup filter, is
    the load-bearing stage, exactly the regime ``salt_buckets`` exists
    for."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 50).alias("client_id"),
        F.col("event_id").alias("req_id"),
        F.when(F.col("event_type") == "signup", F.lit("put"))
        .when(F.col("event_type").isin("click", "view", "purchase"), F.lit("append"))
        .otherwise(F.lit("get"))
        .alias("op"),
        F.when(F.col("user_id") % 4 == 0, F.lit("hot"))
        .otherwise((F.col("user_id") % 20).cast("string"))
        .alias("key"),
        F.concat(
            F.substring(F.col("event_type"), 1, 2),
            (F.col("event_id") % 10).cast("string"),
        ).alias("value"),
    )


def kv_replay_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3+K5 under real skew: full ordered replay of a hot-key ops log
    through the SALTED fold (``replay(salt_buckets=32)`` — contiguous
    (key, seq-range) sub-folds concatenated in range order, so no task
    ever holds the hot key's whole history; kv.py:86-131). Emits
    (key, value_len, value_md5) instead of the multi-MB values so the
    gate hashes stay cheap; the md5 pins the exact byte sequence, which
    only an order-correct fold produces. Oracle mirrors the identical
    dedup-window + last-put-cutoff + ordered string_agg."""
    from distributed_computing_spark.operators.kv import replay

    state = replay(_hotkey_ops(spark, sf_dir), dedup=True, salt_buckets=32)
    return state.select(
        "key",
        F.length("value").cast("long").alias("value_len"),
        F.md5("value").alias("value_md5"),
    )


def customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 table form: MERGE-emulated upsert of the customer dimension —
    customers with orders get a recomputed balance, the rest pass
    through. Oracle expresses the same result as one left join, which
    cross-checks the anti-join+union merge semantics.

    Round-7 CLOSED as a measured dead end (VERDICT r6 item 7): the
    suggested broadcast anti-join of update keys is ALREADY the plan
    (AQE builds BroadcastHashJoin LeftAnti BuildRight on the 15 k-key
    side — plan-verified). Warm R500 profile: 2.0 s total, of which
    1.64 s is the unavoidable exact-cents aggregation over 75 M orders
    — the merge machinery itself costs ~0.4 s. The recorded 3.9 s tier
    number is a cold run. DuckDB's 0.25 s is single-node vectorized
    agg speed, not a plan gap; no scale risk (single exchange, partial
    agg, broadcast probe)."""
    from distributed_computing_spark.operators.kv import merge_upsert

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    # Exact arithmetic end to end (round-4 sf0.1 gate fix): o_totalprice
    # is an exact 2-decimal value, but sum(double) is addition-order-
    # dependent, and double round() at an exact .xx5 boundary diverges
    # between engines (DuckDB multiplies by 10^d first, which can flip
    # the ulp). Round 5 keeps the exactness but swaps the hot aggregate
    # from DECIMAL-sum to CENTS-AS-LONG-sum — cast decimal(18,2) per
    # row (exact), ×100 → exact integer, sum longs (order-independent,
    # 2.1× faster than Spark's decimal sum at the 75M-row tier: 4.5 s →
    # 2.1 s measured) — then rebuilds the same exact decimal:
    # cents × 0.00001 == sum(price) × 0.001 with scale-5 exactness, so
    # the rounded result is bit-identical to the oracle's DECIMAL-sum
    # formulation. Overflow headroom: 2^63 cents ≈ 9.2e16 dollars.
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("_rev_cents")
        )
    )
    new_bal = F.round(
        F.col("c_acctbal").cast("decimal(18,2)")
        + F.col("_rev_cents").cast("decimal(20,0)")
        * F.lit(0.00001).cast("decimal(6,5)"),
        2,
    ).cast("double")
    # merge_upsert references `updates` from BOTH its branches (anti-join
    # probe + union), and Catalyst does not reuse the agg exchange across
    # them — unpersisted, the orders aggregation ran twice (measured 2×
    # at the 75M-row tier). The updates table is bounded by |customer|,
    # so a tracked persist is safe at any scale.
    from distributed_computing_spark.caching import track_persist

    updates = track_persist(
        cust.join(rev, "c_custkey").select(
            "c_custkey", "c_mktsegment", new_bal.alias("c_acctbal")
        )
    )
    merged = merge_upsert(cust, updates, "c_custkey")
    return merged.select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )


def customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K6 dimension-history form (round 5): two sequential SCD2
    applications over the customer dimension — version 2 upgrades
    high-activity customers (≥12 orders), version 3 churns
    c_custkey % 7 == 0 — emitting the full type-2 history
    (valid_from/valid_to/is_current). The oracle expresses the same
    two-fold fold as closed-form CASE logic over the two key sets,
    which cross-checks scd2_apply's close-and-append semantics
    (operators/kv.py). Reference analog: the Put history a KV store's
    K6 time travel generalizes to."""
    from distributed_computing_spark.operators.kv import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    dim = cust.select(
        "c_custkey",
        "segment",
        F.lit(1).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    active = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= 12)
        .select("c_custkey")
    )
    dim = scd2_apply(dim, active.withColumn("segment", F.lit("UPGRADED")), "c_custkey", 2)
    churned = cust.where(F.col("c_custkey") % 7 == 0).select("c_custkey")
    dim = scd2_apply(dim, churned.withColumn("segment", F.lit("CHURNED")), "c_custkey", 3)
    return dim.select("c_custkey", "segment", "valid_from", "valid_to", "is_current")


def priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational breadth (round 5): IRREGULAR grouping sets —
    ((priority, status), (status), (priority)) with no grand total —
    which neither CUBE (priority_cube) nor ROLLUP (priority_rollup) can
    express; GROUPING() flags disambiguate the stratum. One Expand +
    one exchange; revenue summed as exact DECIMAL and rounded while
    exact (the customer_upsert gate invariant). SURVEY §2.8 lists
    grouping sets among the reference's absences — this closes the
    general form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, o_orderstatus AS status,
               CAST(grouping(o_orderpriority) AS INT) AS g_p,
               CAST(grouping(o_orderstatus) AS INT) AS g_s,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), (o_orderpriority))
        """
    )


def lang_long_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: the source×lang pivot stacked back to long form (zeros
    kept) — the pivot/stack round-trip."""
    wide = analytics.source_lang_pivot(spark, sf_dir)
    return wide.selectExpr(
        "source",
        "stack(5, 'de', de, 'en', en, 'es', es, 'fr', fr, 'zh', zh) AS (lang, n_docs)",
    )


def shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+A7: first-byte shard routing census over the KV keyspace."""
    ops = _ops(spark, sf_dir)
    return (
        ops.withColumn("shard", key2shard("key"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_ops"), F.countDistinct("key").alias("n_keys"))
    )


def shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4 observable: route state keys through a 3-group config.

    Config = {gid 100+s%3} (deterministic), attached via broadcast join
    Spark-side; the oracle computes the same assignment arithmetically.
    """
    # JVM-side literal config (spark.range, not createDataFrame: the
    # Python-RDD path costs a Python worker round-trip per execution).
    spark_cfg = spark.range(10).select(
        F.col("id").cast("int").alias("shard"),
        (F.lit(100) + F.col("id") % 3).cast("int").alias("gid"),
    )
    state = kv_state(spark, sf_dir).withColumn("shard", key2shard("key"))
    routed = state.join(F.broadcast(spark_cfg), "shard")
    return routed.groupBy("gid").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.length("value")).alias("total_len"),
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user over events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.35)


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=6)


def _ngram_pairs(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """The gated near-dup pair set over the unfiltered documents table
    (word-3-gram Jaccard >= 0.35 under the 0.2 df cap)."""
    return dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.35, max_df=0.2,
        n_docs=table_rows(spark, sf_dir, "documents"),
    )


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact guarded near-dup pairs: the df cap (the quadratic-fanout
    guard that makes this plan survive boilerplate-heavy corpora) runs
    UNDER the gate, and the DuckDB oracle applies the identical cap —
    guarded and exact are the same plan."""
    docs = load_table(spark, sf_dir, "documents")
    return _ngram_pairs(spark, sf_dir, docs)


def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def minhash_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-flow dedup under the gate: even-id docs form the persisted
    signature index, odd-id docs arrive as the new batch (engine-
    specific hashing → rows-only; semantics in tests)."""
    from distributed_computing_spark.caching import session_tmpdir

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    path = session_tmpdir(prefix="dcs_sig_idx_")
    dedup.minhash_write_signatures(corpus, path)
    return dedup.minhash_incremental_pairs(batch, path, threshold=0.35)


def neardup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative connected components over the exact n-gram near-dup
    pairs — pairs to canonical clusters. Oracle: transitive closure via
    a recursive CTE over the same pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir, docs)
    return dedup.neardup_clusters(docs, pairs)


def neardup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster collapse: one survivor per near-dup cluster (longest
    member, id tie-break) + member/dropped-chars census. Oracle: the
    recursive-CTE clusters re-ranked in SQL with the same keep rule."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir, docs)
    clusters = dedup.neardup_clusters(docs, pairs)
    return dedup.neardup_canonical(docs, clusters)


def salted_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded fact-fact join: lineitem x orders through an 8-way
    salt (deterministic xxhash64 salt on the left, right replicated),
    then revenue per priority. Both sides hinted shuffle_hash so the
    plan actually exercises the salted exchange — at toy SF Catalyst
    would otherwise broadcast orders and hide the technique the
    operator exists to demonstrate. Oracle: the plain unsalted join."""
    from distributed_computing_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    j = salted_join(
        li.hint("shuffle_hash"), orders, "okey", ["okey", "l_linenumber"], n_salt=8
    )
    # DECIMAL revenue sum (round-4 sf0.1 gate fix): price and discount
    # are exact 2-decimal values, so the per-row product is an exact
    # 4-decimal decimal and the sum is order-independent — sum(double)
    # drifted in the 4th decimal at sf0.1 group sizes. Final cast back
    # to double keeps the gate's column type float on both engines.
    rev_dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev_dec), 4).cast("double").alias("revenue"),
    )


def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 19 == 0 stand in
    for a held-out eval benchmark; the rest are the training corpus.
    Oracle: same shingle overlap via a DuckDB left join."""
    from distributed_computing_spark.parallelism import spread_for_arrow

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corpus = docs.where(F.col("doc_id") % 19 != 0)
    # spread BEFORE the Python-bound probe, at the raw-scan site only
    # (round-12: the sf-tier documents table is one split; inside the
    # operator the probe would re-compile corpus_pipeline's whole plan
    # — see fused_decontaminate). Column-pruned to what the pass reads.
    return dedup.fused_decontaminate(
        spread_for_arrow(corpus.select("doc_id", "text")),
        bench,
        n=3,
        threshold=0.5,
    )


def lsh_topk_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact LSH: integer sign-LSH buckets (cross-engine
    reproducible) + exact cosine re-rank within the shared bucket —
    the strict-gated bridge into the approximate ANN family."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    # footer-only bound: |queries| <= |embeddings| (gate rule, r11)
    return similarity.lsh_topk_exact(
        emb, queries, k=5, n_planes=4,
        n_queries_bound=table_rows(spark, sf_dir, "embeddings"),
    )


def _lsh_exact_oracle_sql(k: int = 5, n_planes: int = 4, scale: int = 1000) -> str:
    """DuckDB oracle for lsh_topk_exact, generated from the SAME
    ``int_hyperplanes`` constants the Spark query uses — the buckets
    are exact integer arithmetic on both engines."""
    from distributed_computing_spark.functions.vectors import int_hyperplanes

    planes = int_hyperplanes(64, n_planes, seed=7, bound=8)

    def dot(plane: list[int]) -> str:
        lit = "[" + ", ".join(str(c) for c in plane) + "]"
        return f"list_dot_product(CAST(v AS DOUBLE[]), CAST({lit} AS DOUBLE[]))"

    bucket = " + ".join(
        f"(CASE WHEN {dot(p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH iv AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
  FROM embeddings),
b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM iv),
q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b WHERE vec_id % 100 = 0),
s AS (
  SELECT q.q_id, e.vec_id AS nn_id,
         list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q JOIN b e USING (bucket) WHERE e.vec_id <> q.q_id),
r AS (
  SELECT q_id, nn_id,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, nn_id, rank FROM r WHERE rank <= {k}"""


# Per session, sf_dir -> where its curated corpus was written: a
# ``session_tmpdir`` (removed at interpreter exit), written once per
# session + sf. Weak on the session, like the catalog memo.
_CURATED: weakref.WeakKeyDictionary[SparkSession, dict[str, str]] = (
    weakref.WeakKeyDictionary()
)


def curated_read_pruned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout round trip: the split corpus written
    hive-partitioned by (lang, split) via ``sinks.write_curated_corpus``
    (once per session+sf, like the KV state materialization), then ONE
    training slice read back through partition pruning and censused.
    The oracle recomputes the identical census straight from
    ``documents`` (same md5 split), so the whole write→prune→read path
    is value-gated."""
    import os

    from distributed_computing_spark import sinks
    from distributed_computing_spark.caching import session_tmpdir
    from distributed_computing_spark.operators.curation import hash_split

    written = _CURATED.setdefault(spark, {})
    path = written.get(sf_dir)
    if path is None or not os.path.exists(path):
        path = os.path.join(session_tmpdir("spark_graft_curated_"), "corpus")
        docs = load_table(spark, sf_dir, "documents")
        cur = docs.join(
            hash_split(docs.select("doc_id")).select("doc_id", "split"), "doc_id"
        ).select("doc_id", "text", "source", "n_chars", "lang", "split")
        sinks.write_curated_corpus(cur, path)
        written[sf_dir] = path
    sl = sinks.read_corpus_slice(spark, path, lang="en", split="train")
    return sl.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware split: exact Jaccard pairs → connected components
    → one md5-bucket split assignment per CLUSTER (no near-dup of a
    training doc in the held-out set)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs(spark, sf_dir, docs)
    return curation.leakage_safe_split(docs, pairs, test_pct=10, seed=13)


def epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle order via two-level rank (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.epoch_shuffle_index(docs.select("doc_id"), seed=0)


def corpus_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The END-TO-END curation pipeline as ONE lazy plan — the
    composition a real pretraining-data run executes, each stage the
    already-gated operator:

      clean (redact+collapse) → exact-dedup on cleaned text →
      decontaminate vs the held-out benchmark (doc_id % 19 == 0, ≥0.5
      shingle overlap dropped) → quality gate (score ≥ 0.5) →
      chunk 64/48 → per-(source, lang) census.

    Catalyst fuses the whole prefix into a handful of stages: clean +
    quality are map-only over the scan, dedup is one fingerprint-keyed
    exchange, decontamination is the broadcast probe (fused Arrow
    pass), chunking is map-only again — document text never shuffles
    except the 16-byte-fingerprint dedup exchange. The census output
    keeps the gate row-set compact while forcing every stage to be
    value-exact.

    Two measured plan choices (20× tier, BASELINE.md): (a) the cleaned
    corpus is PERSISTED — four consumers (fingerprint agg, dedup
    membership, benchmark side, probe input) would each re-run the
    regex cascade; at production scale this persist is the stage-
    artifact parquet write every curation pipeline does anyway. (b) the
    quality filter runs BEFORE the contamination probe: per-doc
    contamination depends only on the broadcast benchmark shingles,
    never on other corpus docs, so filtering first shrinks the probe
    input without changing the surviving set (the kept predicate is
    the same conjunction — oracle unchanged). Dedup must stay FIRST:
    its min-id keep rule does depend on the candidate set.
    """
    from pyspark.storagelevel import StorageLevel

    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.functions.text import fingerprint, quality_score
    from distributed_computing_spark.operators.curation import (
        clean_text,
        fused_chunk_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # track_persist: four consumers, released by the harness after the
    # terminal action (caching.py) instead of leaking per invocation.
    cleaned = track_persist(
        docs.select(
            "doc_id", "lang", "source", clean_text(F.col("text")).alias("text")
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    keep = (
        cleaned.select(fingerprint("text").alias("th"), "doc_id")
        .groupBy("th")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    deduped = cleaned.join(keep.select("doc_id"), "doc_id", "left_semi")
    bench = cleaned.where(F.col("doc_id") % 19 == 0)
    corpus = deduped.where(F.col("doc_id") % 19 != 0).where(
        quality_score("text") >= 0.5
    )
    # The Arrow probe is Python-compute-bound: AQE coalesces the semi-
    # join output to target-size partitions, which under-parallelizes
    # the per-row Python work behind it. Re-spreading the probe input
    # to the full core count measured 15.6 s → 7.6 s at the 100× tier
    # (BASELINE.md) — a semantic no-op, worth one skinny exchange.
    probe_in = corpus.repartition(spark.sparkContext.defaultParallelism)
    contam = (
        dedup.fused_decontaminate(probe_in, bench, n=3, threshold=0.5)
        .where("contaminated")
        .select("doc_id")
    )
    kept = corpus.join(contam, "doc_id", "left_anti")
    chunks = fused_chunk_docs(kept, size=64, stride=48, keep_cols=("lang", "source"))
    return chunks.groupBy("source", "lang").agg(
        F.countDistinct("doc_id").alias("docs_kept"),
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def minhash_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact MinHash-LSH: md5-prefix hash family reproducible in
    DuckDB SQL — puts signatures, band buckets, candidate generation,
    and the match-count verify all under the strict hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_exact(docs, n=3, num_hashes=16, bands=8, min_match=6)


def _minhash_exact_oracle_sql(
    num_hashes: int = 16, bands: int = 8, min_match: int = 6
) -> str:
    """DuckDB oracle for minhash_lsh_exact, generated from the SAME
    (num_hashes, bands, min_match) parameters — minima, band buckets,
    candidates, and n_equal are exact integer/string arithmetic on both
    engines (see ``dedup.md5_hash60``)."""
    rpb = num_hashes // bands
    mins = ",\n         ".join(
        f"min(('0x' || substr(md5(shingle || '#{i}'), 1, 15))::BIGINT) AS m{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"m{b * rpb + r}::VARCHAR" for r in range(rpb))
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    eq = " + ".join(f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes))
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t),
sig AS (
  SELECT doc_id,
         {mins}
  FROM g GROUP BY doc_id),
bands AS (
    {band_selects}),
cand AS (
  SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
  FROM bands ba JOIN bands bb
    ON ba.band = bb.band AND ba.bucket = bb.bucket AND ba.doc_id < bb.doc_id),
est AS (
  SELECT c.a, c.b, ({eq}) AS n_equal
  FROM cand c
  JOIN sig sa ON c.a = sa.doc_id
  JOIN sig sb ON c.b = sb.doc_id)
SELECT a, b, CAST(n_equal AS INTEGER) AS n_equal
FROM est WHERE n_equal >= {min_match}"""


def simhash_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact SimHash at 32 bits / radius 3 over the md5-prefix
    token-hash family (bit votes, fingerprint, pigeonhole chunks, and
    hamming verify all reproduced in DuckDB SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_exact(docs, max_hamming=3, n_bits=32)


def _simhash_exact_oracle_sql(max_hamming: int = 3, n_bits: int = 32) -> str:
    """DuckDB oracle for simhash_exact, generated from the SAME
    (max_hamming, n_bits) parameters the Spark query uses."""
    n_chunks = max_hamming + 1
    bounds = [c * n_bits // n_chunks for c in range(n_chunks + 1)]
    votes = ",\n        ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(n_bits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    chunk_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (fp >> {bounds[c]}) & "
        f"{(1 << (bounds[c + 1] - bounds[c])) - 1} AS cv FROM f"
        for c in range(n_chunks)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
tk AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
hh AS (SELECT doc_id, ('0x' || substr(md5(tok || '#0'), 1, 15))::BIGINT AS h FROM tk),
v AS (SELECT doc_id,
        {votes}
      FROM hh GROUP BY doc_id),
f AS (SELECT doc_id, CAST({pack} AS BIGINT) AS fp FROM v),
c AS (
  {chunk_selects}),
cand AS (
  SELECT DISTINCT ca.doc_id AS a, cb.doc_id AS b
  FROM c ca JOIN c cb
    ON ca.chunk = cb.chunk AND ca.cv = cb.cv AND ca.doc_id < cb.doc_id)
SELECT cand.a, cand.b, CAST(bit_count(xor(fa.fp, fb.fp)) AS INTEGER) AS hamming
FROM cand
JOIN f fa ON cand.a = fa.doc_id
JOIN f fb ON cand.b = fb.doc_id
WHERE bit_count(xor(fa.fp, fb.fp)) <= {max_hamming}"""


def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GEMM path: one Arrow batch per corpus split, BLAS inner loop —
    # measured ~3.5x over the JVM array fold at dim=64.
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return similarity.cosine_topk_gemm(emb, queries, k=5)


def lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return similarity.lsh_topk(
        emb, queries, k=5, n_queries_bound=table_rows(spark, sf_dir, "embeddings")
    )


def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.45 sits in the empirical gap between the planted near-dup pairs
    # (sim ≥ ~0.45) and the random-pair bulk (< 0.4) — no boundary flaps.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup(emb, threshold=0.45)


def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return similarity.ivf_topk(
        emb, queries, k=5, n_queries_bound=table_rows(spark, sf_dir, "embeddings")
    )


def ivf_topk_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact IVF: deterministic sampled codebook, argmax-cosine
    assignment, n_probe list pruning, exact re-rank — the whole IVF
    machinery under the strict hash gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return similarity.ivf_topk_exact(
        emb, queries, k=5, n_lists=16, n_probe=4,
        n_queries_bound=table_rows(spark, sf_dir, "embeddings"),
    )


def _ivf_exact_oracle_sql(k: int = 5, n_lists: int = 16, n_probe: int = 4) -> str:
    """DuckDB oracle for ivf_topk_exact, generated from the SAME
    (k, n_lists, n_probe) parameters."""
    return f"""
WITH cents AS (
  SELECT vec_id AS c_id, embedding AS c_vec
  FROM embeddings ORDER BY vec_id LIMIT {n_lists}),
asgn AS (
  SELECT e.vec_id AS nn_id, c.c_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(c.c_vec AS DOUBLE[])) AS csim
  FROM embeddings e, cents c),
lists AS (
  SELECT nn_id, c_id AS list_id FROM (
    SELECT nn_id, c_id,
           row_number() OVER (PARTITION BY nn_id ORDER BY csim DESC, c_id) AS r
    FROM asgn) t WHERE r = 1),
probes AS (
  SELECT q_id, list_id FROM (
    SELECT nn_id AS q_id, c_id AS list_id,
           row_number() OVER (PARTITION BY nn_id ORDER BY csim DESC, c_id) AS r
    FROM asgn WHERE nn_id % 100 = 0) t WHERE r <= {n_probe}),
cand AS (
  SELECT p.q_id, l.nn_id FROM probes p JOIN lists l USING (list_id)
  WHERE l.nn_id <> p.q_id),
s AS (
  SELECT c.q_id, c.nn_id,
         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                CAST(ne.embedding AS DOUBLE[])) AS sim
  FROM cand c
  JOIN embeddings qe ON c.q_id = qe.vec_id
  JOIN embeddings ne ON c.nn_id = ne.vec_id),
r AS (
  SELECT q_id, nn_id,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, nn_id, rank FROM r WHERE rank <= {k}"""


def mapreduce_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+A2 under the gate: word count computed through the GENERIC
    mapF/reduceF facade (user Python hooks, Arrow-batched) — the
    reference's exact extension points (common_map.go:20,
    common_reduce.go:18) — not the built-in DataFrame pipeline."""
    import re

    from distributed_computing_spark.operators.mapreduce import map_reduce

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").alias("value"),
    )

    def map_f(key: str, value: str):
        for w in re.split(r"[^A-Za-z0-9]+", value):
            if w:
                yield (w, "1")

    def reduce_f(key: str, values: list[str]) -> str:
        return str(sum(int(v) for v in values))

    out = map_reduce(docs, map_f, reduce_f)
    return out.select(F.col("key").alias("word"), F.col("value").alias("cnt"))


def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] as-of join: each purchase matched to the user's latest
    prior view (point-in-time attribution). Views are deduplicated to
    one per (user, ts) so tie-resolution matches the SQL oracle."""
    from pyspark.sql import Window

    from distributed_computing_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.where(F.col("event_type") == "view")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "ts", "event_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(purchases, views, on="user_id", right_cols=("event_id",))
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_r").alias("view_id"),
        (F.col("ts").cast("long") - F.col("_asof_ts").cast("long")).alias("gap_s"),
    )


def range_join_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] bounded range join: views within the hour before each
    purchase, zero-counts kept (bucketed equi-join, never |L|x|R|)."""
    from distributed_computing_spark.operators.joins import range_join_count

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    out = range_join_count(purchases, views, on="user_id", span=3600)
    return out.select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("n_in_range").alias("n_views_1h"),
    )


# ---------------------------------------------------------------------------
# Streaming queries (Structured Streaming run to completion — runner.py)
# ---------------------------------------------------------------------------


def stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows executed on the STREAMING path
    (stateful agg + watermark), oracle = the batch hourly rollup."""
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table
    from distributed_computing_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events")
    out = run_to_batch(tumbling_counts(stream_table(spark, ev)), spark)
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window per user on the streaming path; oracle = the
    gaps-and-islands SQL (new session when gap ≥ 30 min)."""
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table
    from distributed_computing_spark.streaming.windows import session_windows

    ev = load_table(spark, sf_dir, "events")
    out = run_to_batch(session_windows(stream_table(spark, ev)), spark)
    return out.select(
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows on the streaming path:
    every event lands in window/slide = 2 buckets."""
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table
    from distributed_computing_spark.streaming.windows import sliding_rates

    ev = load_table(spark, sf_dir, "events")
    out = run_to_batch(sliding_rates(stream_table(spark, ev)), spark)
    return out.select("window_start", "event_type", "n_events")


def stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against a static
    dimension (user → tier) before a stateful windowed aggregation —
    the standard streaming-enrichment topology (static side broadcasts
    into every micro-batch; no state grows from the join itself)."""
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table

    ev = load_table(spark, sf_dir, "events")
    tiers = (
        ev.select("user_id")
        .distinct()
        .select("user_id", F.concat(F.lit("tier"), F.col("user_id") % 3).alias("tier"))
    )
    stream = stream_table(spark, ev)
    enriched = stream.join(F.broadcast(tiers), "user_id")
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("win"), "tier")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "tier", "n_events", "sum_value")
    )
    return run_to_batch(agg, spark)


def stream_kv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 streaming: the ops log replayed through foreachBatch in three
    seq-ordered micro-batches against a persistent state store; final
    state must equal the batch replay oracle exactly (exactly-once
    across batch boundaries is what's under test)."""
    from distributed_computing_spark.caching import session_tmpdir

    from distributed_computing_spark.streaming.kv_stream import (
        KVTableStore,
        foreach_batch_apply,
    )
    from distributed_computing_spark.streaming.runner import (
        finish_available_now,
        stream_in_seq_batches,
    )

    stream = stream_in_seq_batches(spark, _ops(spark, sf_dir), n=3)
    store = KVTableStore(spark, session_tmpdir(prefix="dcs_store_"))
    ckpt = session_tmpdir(prefix="dcs_ckpt_")
    finish_available_now(foreach_batch_apply(stream, store, ckpt), ckpt)
    return store.state()


def bpe_merges(spark: SparkSession, sf_dir: str, n_merges: int = 24) -> DataFrame:
    """BPE tokenizer training (word-frequency formulation) on the
    corpus: the learned merge sequence as (rank, left, right,
    pair_count). Oracle-exact since round 4: the iterative
    argmax-and-rewrite is gated against a generated chain of unrolled
    MATERIALIZED CTE rounds (_bpe_rounds_sql) that reproduces the merge
    fold bit-for-bit; the merge order is additionally pinned by the
    hand-computed classic example in tests/test_bpe.py. The oracle
    unrolls exactly ``n_merges`` rounds, so an early ``min_count`` stop
    would break the contract — asserted loudly below."""
    from distributed_computing_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    rules, _pieces = train_bpe(spark, docs, n_merges=n_merges)
    # Oracle contract (ADVICE r4): the unrolled-CTE oracle assumes all
    # n_merges rounds ran. If a sparse corpus ever fires the min_count
    # early stop, diagnose it HERE as the documented contract rather
    # than letting an empty CTE round surface as a cryptic mismatch.
    if len(rules) != n_merges:  # ADVICE r5: assert is stripped under -O;
        # this contract is load-bearing for oracle validity, so raise.
        raise RuntimeError(
            f"bpe_merges: early min_count stop after {len(rules)}/{n_merges} "
            "merges — the fixed-round unrolled-CTE oracle (registry."
            "_bpe_rounds_sql) is only valid when all rounds fire; lower "
            "n_merges or regenerate the oracle for this corpus"
        )
    return spark.createDataFrame(
        [(i + 1, a, b, int(n)) for i, (a, b, n) in enumerate(rules)],
        "rank int, left string, right string, pair_count long",
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE then self-encode the corpus via the trained pieces
    table (broadcast join, no iteration at encode time): per-doc word/
    piece/OOV counts — the fertility statistics a tokenizer report
    shows. Self-encoding has zero OOV by construction (asserted in
    tests)."""
    from distributed_computing_spark.operators.bpe import (
        encode_with_pieces,
        train_bpe,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, pieces = train_bpe(spark, docs, n_merges=24)
    out = encode_with_pieces(docs, pieces)
    return out


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: purchases attributed to a same-user
    click within 30 minutes, both sides unbounded streams (the join
    state is bounded by the two watermarks + the interval — the Spark
    capability the reference's poll/apply loops never had). Bounded
    replay emits every match within one AvailableNow run, so the batch
    form of the same predicate is an exact oracle."""
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table
    from distributed_computing_spark.streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    clicks = stream_table(spark, ev.where(F.col("event_type") == "click"))
    purchases = stream_table(spark, ev.where(F.col("event_type") == "purchase"))
    out = run_to_batch(interval_join(clicks, purchases), spark, output_mode="append")
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("purch_value"), 4).alias("total_purch_value"),
    )


def stream_config_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 executable: the config-poll loop (shardkv/server.go:368-385).

    The ops log replays in three seq-ordered micro-batches; before each
    batch the master installs its next config version (v1 -> one group,
    v2 -> two, v3 -> three — deterministic arithmetic evolution); the
    loop POLLS (re-reads) the config dir, takes the latest installed
    version, and routes the batch's ops key -> shard -> gid. Output:
    per (config_num, gid) routed-op census. The oracle reproduces the
    batch tertiles and the arithmetic gid assignment in SQL.
    """
    from distributed_computing_spark.caching import session_tmpdir

    from distributed_computing_spark.streaming.config_poll import (
        ConfigMaster,
        route_stream_by_latest_config,
    )
    from distributed_computing_spark.streaming.runner import (
        finish_available_now,
        stream_in_seq_batches,
    )

    stream = stream_in_seq_batches(spark, _ops(spark, sf_dir), n=3)
    cfg_dir = session_tmpdir(prefix="dcs_cfg_")
    out_dir = session_tmpdir(prefix="dcs_routed_")
    ckpt = session_tmpdir(prefix="dcs_ckpt_")
    master = ConfigMaster(spark, cfg_dir, max_version=3)
    q = route_stream_by_latest_config(stream, cfg_dir, out_dir, ckpt, master=master)
    finish_available_now(q, ckpt)
    routed = spark.read.parquet(out_dir).select("config_num", "gid", "key")
    return routed.groupBy("config_num", "gid").agg(
        F.count("*").alias("n_ops"),
        F.countDistinct("key").alias("n_keys"),
    )


def stream_curated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION pipeline on the STREAMING ingest path, under the
    exact-value gate: documents arrive as three id-ordered micro-batches
    (mtime-pinned file source); each batch is cleaned, quality-filtered,
    and exact-deduped against the already-admitted corpus inside the
    foreachBatch apply (atomic per-batch commits, CorpusIngestStore);
    the final admitted corpus is censused per lang.

    Gate-able because with ``near_dup=False`` and id-ordered batch
    arrival, admission is a pure function of the input — min doc_id per
    cleaned fingerprint among quality-passing docs — which the oracle
    states directly in SQL. The MinHash tier of the same store stays on
    (rows-only) ingest tests: its xxhash64 family is engine-specific.
    """
    from distributed_computing_spark.caching import session_tmpdir

    from distributed_computing_spark.streaming.ingest import CorpusIngestStore
    from distributed_computing_spark.streaming.runner import (
        finish_available_now,
        stream_in_seq_batches,
    )

    docs = load_table(spark, sf_dir, "documents")
    stream = stream_in_seq_batches(spark, docs, n=3, order_col="doc_id")
    store = CorpusIngestStore(spark, session_tmpdir(prefix="dcs_curated_"))
    ckpt = session_tmpdir(prefix="dcs_ckpt_")
    q = store.attach(stream, ckpt, curate=True, min_quality=0.5, near_dup=False)
    finish_available_now(q, ckpt)
    return store.corpus().groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.sum("n_chars").alias("total_chars"),
    )


def stream_dedup_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 streaming-NATIVE: duplicate-request suppression of the ops
    feed via the built-in ``dropDuplicatesWithinWatermark`` state store
    (no custom stateful operator). The whole bounded feed replays within
    one watermark horizon, so the surviving rows are exactly the
    DISTINCT (client_id, req_id) pairs — which is the SQL oracle."""
    from distributed_computing_spark.streaming.kv_stream import dedup_within_watermark
    from distributed_computing_spark.streaming.runner import run_to_batch, stream_table

    ops = ops_from_events(load_table(spark, sf_dir, "events"), keep_ts=True)
    out = run_to_batch(
        dedup_within_watermark(stream_table(spark, ops)),
        spark,
        output_mode="append",
    )
    return out.groupBy("client_id").agg(
        F.count("*").alias("n_unique_reqs"),
        F.max("req_id").alias("max_req"),
    )


def stream_kv_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4/K5 via the custom-stateful-operator shape: per-client
    applyInPandasWithState dedup chained (through an intermediate sink)
    into the per-key stateful fold. Same oracle as batch replay."""
    from distributed_computing_spark.caching import session_tmpdir

    from distributed_computing_spark.streaming.kv_stream import (
        dedup_stream,
        stateful_fold_stream,
    )
    from distributed_computing_spark.streaming.runner import (
        finish_available_now,
        run_to_batch,
        stream_table,
    )

    ops = _ops(spark, sf_dir)
    eff_dir = session_tmpdir(prefix="dcs_eff_")
    ckpt = session_tmpdir(prefix="dcs_ckpt_")
    q1 = (
        dedup_stream(stream_table(spark, ops))
        .writeStream.format("parquet")
        .option("path", eff_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finish_available_now(q1, ckpt)
    eff = spark.readStream.schema(ops.schema).parquet(eff_dir)
    out = run_to_batch(stateful_fold_stream(eff), spark, output_mode="update")
    return out.where(F.col("value") != "")


# ---------------------------------------------------------------------------
# Multimodal queries ([EXT]) — blob table derived from `documents`
# ---------------------------------------------------------------------------


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.blobs_from_documents(load_table(spark, sf_dir, "documents"))


def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.blob_stats(_blobs(spark, sf_dir))


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_frames(_blobs(spark, sf_dir), k=4)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode+resize over image blobs. Round 8: the
    GENERIC kernel sniffs magic bytes and routes PNG/BMP/GIF/JPEG
    through the repo's real decoders (pytest-pinned); these text-byte
    payloads carry no container magic, so they exercise the
    unknown-format fake branch — rows-only check; decode semantics in
    tests/test_multimodal.py."""
    return multimodal.decode_images(_blobs(spark, sf_dir))


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform-stat decode over audio blobs (same sniff-dispatch as
    multimodal_decode: real WAV/MP3-frame decode for real containers,
    deterministic fake for these text-byte payloads — rows-only;
    semantics in tests)."""
    return multimodal.decode_audio(_blobs(spark, sf_dir))


def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec image path, VALUE-GATED: genuine 24-bit BMP payloads
    (pure-numpy encoder, stock-viewer-openable) decoded by the pure-
    numpy BMP parser, mean-pool resized, per-channel means — the
    oracle states the expected means in closed form, so the whole
    encode→parse→resize→featurize path is hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images_bmp(multimodal.bmp_wav_blobs(docs))


def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec audio path, VALUE-GATED: genuine PCM-16 WAV payloads
    decoded by the RIFF chunk walker; integer waveform stats
    (sum/peak) make the gate hash float-free."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_audio_wav(multimodal.bmp_wav_blobs(docs))


def multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec video path, VALUE-GATED: genuine uncompressed-DIB AVI
    payloads parsed by the nested RIFF walker, every 2nd frame sampled,
    per-frame channel means stated in closed form by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames_avi(multimodal.avi_blobs(docs), stride=2)


def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TRANSFORM-CODEC image path, VALUE-GATED (round 5): genuine
    baseline JFIF JPEGs (Annex K Huffman tables, DCT + quantization,
    0xFF-stuffed entropy stream — stock viewers open them) decoded by
    the pure-numpy baseline decoder in functions/jpeg.py. The planted
    image is one SOLID color per doc_id with a flat q=16 quant table,
    so every 8×8 block is DC-only and the LOSSY pipeline is exactly
    closed-form: the oracle replicates RGB→YCbCr rounding, DC
    quantization (floor(8(c−128)/16 + 0.5)), reconstruction
    (16·qDC/8 + 128) and YCbCr→RGB — bit-exact under the hash gate
    thanks to the codec's exact-DC contract (functions/jpeg.py). Only
    MP3's MDCT still needs a library."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images_jpeg(multimodal.jpeg_blobs(docs))


def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-format image path, VALUE-GATED (round 4):
    genuine 8-bit RGB PNGs (Paeth-filtered scanlines, zlib-compressed
    IDAT, CRC-checked chunks — stock viewers open them) decoded by the
    pure-stdlib PNG parser in functions/codecs.py. The planted image is
    two horizontal color bands per doc_id, so each channel mean is
    closed-form: (band_a + band_b) / 2 — exactly representable, the
    whole inflate→unfilter→resize→featurize path under the hash gate.
    This retired the 'compressed formats are env-blocked' line for PNG
    in round 4; round 5 closed JPEG too (multimodal_jpeg_decode) —
    only MP3's MDCT still needs a library."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images_png(multimodal.png_blobs(docs))


def multimodal_real_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode→featurize→ANN composition over REAL bytes, VALUE-
    GATED (the strict counterpart of rows-only ``multimodal_ann``):
    genuine BMPs decode to channel-mean vectors, every 50th image is a
    query, cosine top-3 over the feature space. Zero-vector rows
    (doc_id ≡ 0 mod 256 → black frame) are excluded on both engines —
    cosine is undefined there.

    Ranking key (round-4 sf0.1 gate fix): the channel means are exact
    small integers, so instead of float cosine — whose last-ulp
    differences between engines flipped near-tied ranks at sf0.1 — the
    sort key is the EXACT integer (dot² · 10⁸) div (‖q‖²·‖v‖²), i.e.
    cosine² quantized to 1e-8, computed identically in both engines
    (all intermediates < 2⁶³; dot products here are non-negative).
    Ranking is monotone in cosine up to the quantization; sub-1e-8
    near-ties break deterministically by nn_id on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    feats = (
        multimodal.decode_images_bmp(multimodal.bmp_wav_blobs(docs))
        .where(F.col("blob_id") % 256 != 0)
        .select(
            "blob_id",
            F.col("mean_r").cast("long").alias("r"),
            F.col("mean_g").cast("long").alias("g"),
            F.col("mean_b").cast("long").alias("b"),
        )
    )
    q = feats.where(F.col("blob_id") % 50 == 0).select(
        F.col("blob_id").alias("q_id"),
        F.col("r").alias("qr"),
        F.col("g").alias("qg"),
        F.col("b").alias("qb"),
    )
    d = F.col("qr") * F.col("r") + F.col("qg") * F.col("g") + F.col("qb") * F.col("b")
    nq = F.col("qr") * F.col("qr") + F.col("qg") * F.col("qg") + F.col("qb") * F.col("qb")
    nv = F.col("r") * F.col("r") + F.col("g") * F.col("g") + F.col("b") * F.col("b")
    # every-50th query side still scales with the documents table:
    # size-gate the broadcast on a footer-only bound (|q| <= |docs|/50
    # + 1); above it the brute-force product runs as a partitioned
    # cross join, which cannot OOM (the cosine_topk gate rule, r11)
    n_q_bound = table_rows(spark, sf_dir, "documents") // 50 + 1
    q_side = F.broadcast(q) if n_q_bound <= 2_000_000 else q
    sims = (
        feats.select(F.col("blob_id").alias("nn_id"), "r", "g", "b")
        .crossJoin(q_side)
        .where(F.col("q_id") != F.col("nn_id"))
        .select(
            "q_id",
            "nn_id",
            (d * d * F.lit(100_000_000)).cast("long").alias("_num"),
            (nq * nv).cast("long").alias("_den"),
        )
        .select("q_id", "nn_id", F.expr("_num div _den").alias("key"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("key").desc(), F.col("nn_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_id", "nn_id", "rank")
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-facing scalar projection of extract_features: the driver's
    pandas canonicalizer cannot sort list-valued cells, so the registry
    entry emits only canonicalizable scalars (dim, squared norm, first
    components). The array<float> API is unchanged — multimodal_ann
    consumes it directly."""
    feats = multimodal.extract_features(_blobs(spark, sf_dir))
    sq_norm = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return feats.select(
        "blob_id",
        F.size("embedding").alias("dim"),
        F.round(sq_norm, 4).alias("sq_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("c0"),
        F.round(F.element_at("embedding", 2).cast("double"), 6).alias("c1"),
        F.round(F.element_at("embedding", 3).cast("double"), 6).alias("c2"),
    )


def multimodal_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose: blobs → feature extraction → exact cosine top-k. The
    full multimodal-to-ANN pipeline on one plan."""
    feats = multimodal.extract_features(_blobs(spark, sf_dir))
    queries = feats.where(F.col("blob_id") % 25 == 0)
    # footer-only bound: |queries| <= |documents| — never re-runs the
    # Arrow feature-extraction pass just to count (gate rule, r11)
    return similarity.cosine_topk(
        feats,
        queries,
        k=3,
        id_col="blob_id",
        vec_col="embedding",
        n_queries_bound=table_rows(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL building blocks
# ---------------------------------------------------------------------------

_TOKENS = "list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> '')"

_OPS_CTE = """
ops AS (
  SELECT event_id AS seq,
         user_id % 50 AS client_id,
         event_id % 97 AS req_id,
         CASE WHEN event_type IN ('click','view') THEN 'append'
              WHEN event_type IN ('purchase','signup') THEN 'put'
              ELSE 'get' END AS op,
         CAST(user_id % 20 AS VARCHAR) AS "key",
         substr(event_type, 1, 2) || CAST(event_id % 10 AS VARCHAR) AS "value"
  FROM events
)"""

_EFF_CTE = """
hw AS (
  SELECT *, max(req_id) OVER (
      PARTITION BY client_id ORDER BY seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM ops
),
eff AS (SELECT * FROM hw WHERE prev_max IS NULL OR req_id > prev_max)"""

_REPLAY_SQL = """
lp AS (
  SELECT *, max(CASE WHEN op = 'put' THEN seq END) OVER (PARTITION BY "key") AS last_put_seq
  FROM eff
)
SELECT "key", string_agg("value", '' ORDER BY seq) AS "value"
FROM lp
WHERE op IN ('put', 'append') AND seq >= coalesce(last_put_seq, -1)
GROUP BY "key\""""

_QUALITY_EXPR = """
round(
  0.5 * least(CAST(len({toks}) AS DOUBLE) / 50.0, 1.0)
  + 0.4 * least(
      (CASE WHEN len({toks}) > 0
            THEN CAST(len(list_filter({toks}, x -> list_contains(
                 ['the','and','of','to','a','in','is','that','it','for'], lower(x)))) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE)
            ELSE 0.0 END) * 5.0, 1.0)
  + 0.1 * (1.0 - least(
      (CASE WHEN length(text) > 0
            THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)
            ELSE 0.0 END) * 4.0, 1.0)),
  6)""".format(toks=_TOKENS)

# The clean_docs redaction cascade as a reusable SQL fragment (applies to
# a column named ``text``) — shared by the clean_docs oracle and the
# corpus_pipeline composition.
_CLEAN_SQL = r"""trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '(\+?[0-9]{1,2}[-.])?[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
           '\s+', ' ', 'g'))"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Ordering contract: the external driver's correctness gate covers the FIRST
# 50 entries of this dict. The dict below groups queries by subject; the
# _GATE_WINDOW reorder at the end of this file is the only statement that
# decides which 50 come first. Every entry is oracle-checked locally via
# tools/check_correctness.py regardless of window position.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # round-3 text-analysis / dedup additions
    "bigram_logprob": textstats.bigram_logprob,
    "source_token_kl": textstats.source_token_kl,
    "prefix_dups": lambda spark, sf_dir: dedup.prefix_dup_groups(
        load_table(spark, sf_dir, "documents"), k=16
    ),
    # [EXT] similarity search
    "cosine_topk": cosine_topk_q,
    "lsh_topk": lsh_topk_q,
    # round-3 additions: oracle-exact LSH / MinHash / SimHash (cross-
    # engine-reproducible hash families put the LSH machinery itself
    # under the strict hash gate; the xxhash64 forms stay production)
    "lsh_topk_exact": lsh_topk_exact_q,
    "minhash_lsh_exact": minhash_exact_q,
    "simhash_exact": simhash_exact_q,
    "ivf_topk": ivf_topk_q,
    "ivf_topk_exact": ivf_topk_exact_q,
    # Structured Streaming path (K5 + event-time windows)
    "stream_enriched": stream_enriched,
    "stream_kv_state": stream_kv_state,
    "stream_kv_stateful": stream_kv_stateful,
    "stream_dedup_ops": stream_dedup_ops,
    "stream_config_poll": stream_config_poll,
    "stream_stream_join": stream_stream_join,
    # round-3 addition: the curation pipeline on the ingest path
    "stream_curated_ingest": stream_curated_ingest,
    # [EXT] multimodal binary columns
    "multimodal_stats": multimodal_stats,
    "multimodal_frames": multimodal_frames,
    "multimodal_decode": multimodal_decode,
    "multimodal_audio": multimodal_audio,
    # round-3: REAL uncompressed-format codecs (BMP/WAV), value-gated
    # round-4: REAL compressed-format codec (PNG via stdlib zlib)
    "multimodal_png_decode": multimodal_png_decode,
    "multimodal_jpeg_decode": multimodal_jpeg_decode,
    "multimodal_bmp_decode": multimodal_bmp_decode,
    "multimodal_wav_decode": multimodal_wav_decode,
    "multimodal_avi_frames": multimodal_avi_frames,
    "multimodal_real_ann": multimodal_real_ann,
    "multimodal_features": multimodal_features,
    "multimodal_ann": multimodal_ann,
    # MapReduce flagship — back in the window for round 3: the fused
    # Arrow tokenize+count pass replaced the explode plan this round
    "word_count_top10": fused_word_count,
    # [EXT] corpus curation (clean -> chunk -> pack -> mix, + DQ audit)
    # round-3 addition: the end-to-end composition as one gated plan
    "corpus_pipeline": corpus_pipeline_q,
    "clean_docs": curation.clean_docs,
    "chunk_docs": curation.chunk_docs_q,
    "pack_chunks": curation.pack_chunks_q,
    "mixture_sample": curation.mixture_sample_q,
    "dq_audit": curation.dq_audit,
    "sample_by_lang": lambda spark, sf_dir: textstats.stratified_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ),
    # round-3 addition: hash-based (oracle-exact) stratified sampling
    "sample_by_lang_exact": lambda spark, sf_dir: textstats.hash_stratified_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ),
    # round-2 additions never driver-gated before round 3
    "bpe_merges": bpe_merges,
    "bpe_encode_stats": bpe_encode_stats,
    "copurchase_pairs": analytics.copurchase_pairs,
    "event_transitions": analytics.event_transitions,
    "decontaminate": decontaminate_q,
    "repetition_scores": textstats.repetition_scores_q,
    "train_test_split": curation.train_test_split_q,
    # round-3 additions: cluster-aware split + global-shuffle order +
    # hive-partitioned corpus layout round trip
    "leakage_safe_split": leakage_safe_split_q,
    "epoch_shuffle": epoch_shuffle_q,
    "curated_read_pruned": curated_read_pruned_q,
    "events_gapfill": analytics.events_gapfill,
    "decayed_user_activity": analytics.decayed_user_activity,
    "salted_revenue_join": salted_revenue_join,
    "value_histogram": analytics.value_histogram,
    # [EXT] text analysis (driver-proven r2, unchanged)
    "corpus_summary": textstats.corpus_summary,
    "build_vocab": textstats.build_vocab,
    "encode_docs": textstats.encode_docs,
    "top_docs_per_lang": textstats.top_docs_per_lang,
    "bigram_counts": textstats.bigram_counts,
    "unigram_logprob": textstats.unigram_logprob,
    "lang_entropy_by_source": textstats.lang_entropy_by_source,
    "shingle_novelty": textstats.shingle_novelty,
    "quality_calibration": textstats.quality_calibration,
    "stopword_discovery": textstats.stopword_discovery,
    # round-2 event analytics (driver-proven r2, unchanged)
    "event_anomalies": analytics.event_anomalies,
    "user_retention": analytics.user_retention,
    "neardup_canonical": neardup_canonical_q,
    "embedding_neardup": embedding_neardup_q,
    # streaming windows (driver-proven r2, unchanged)
    "stream_windowed": stream_windowed,
    "stream_sessions": stream_sessions,
    "stream_sliding": stream_sliding,
    # KV engine (K1-K6)
    "kv_state": kv_state,
    # Sharding (T5-T7, A7, P1-P5)
    "shard_routing": shard_routing,
    # [EXT] dedup (twice driver-proven r1+r2)
    "ngram_jaccard_pairs": ngram_jaccard,
    "neardup_clusters": neardup_clusters_q,
    "minhash_incremental": minhash_incremental_q,
    "minhash_neardup": minhash_neardup,
    "simhash_neardup": simhash_neardup,
    # [EXT] text analysis (driver-proven r2)
    "tfidf_top_terms": textstats.tfidf_top_terms,
    "text_stats": textstats.text_stats,
    "quality_scores": textstats.quality_scores,
    "lang_id": textstats.lang_id,
    "fingerprints": textstats.fingerprints,
    # Relational analytics (headline)
    "pricing_summary": analytics.pricing_summary,
    "top_orders": analytics.top_orders,
    "revenue_by_segment": analytics.revenue_by_segment,
    "regional_revenue": analytics.regional_revenue,
    # round-4: the storage-partitioned-join variant (bucketed facts,
    # zero shuffle exchanges — plan-asserted; BASELINE.md experiment)
    "regional_revenue_bucketed": analytics.regional_revenue_bucketed,
    "order_running_totals": analytics.order_running_totals,
    "mapreduce_wordcount": mapreduce_wordcount,
    "inverted_index": inverted_index,
    "kv_effective_ops": kv_effective_ops,
    "kv_replay_hotkey": kv_replay_hotkey,
    "customer_scd2": customer_scd2,
    "priority_grouping_sets": priority_grouping_sets,
    "exact_dedup": exact_dedup_q,
    "customer_upsert": customer_upsert,
    "lang_long_format": lang_long_format,
    "kv_snapshot": kv_snapshot,
    "kv_changes": kv_changes,
    "kv_get": kv_get_demo,
    "shard_census": shard_census,
    "events_windowed": analytics.events_windowed,
    "user_sessions": user_sessions,
    "asof_attribution": asof_attribution,
    "range_join_views": range_join_views,
    "priority_rollup": analytics.priority_rollup,
    "priority_cube": analytics.priority_cube,
    "scalar_functions": analytics.scalar_functions,
    "events_json_extract": analytics.events_json_extract,
    "user_event_profile": analytics.user_event_profile,
    "set_ops": analytics.set_ops_demo,
    "approx_distinct_users": analytics.approx_distinct_users,
    "semi_anti_orders": analytics.semi_anti_orders,
    "revenue_percentiles": analytics.revenue_percentiles,
    "tiered_rollup": analytics.tiered_rollup,
    "source_lang_pivot": analytics.source_lang_pivot,
    "table_profile": analytics.table_profile,
    "funnel_conversion": analytics.funnel_conversion,
    "price_outliers": analytics.price_outliers,
    "corr_stats": analytics.corr_stats,
    "rolling_weekly_revenue": analytics.rolling_weekly_revenue,
    "token_array_ops": analytics.token_array_ops,
    "regex_extraction": analytics.regex_extraction,
    "string_functions": analytics.string_functions,
    "bool_aggregates": analytics.bool_aggregates,
    "approx_percentiles": analytics.approx_percentiles,
    "frequent_items": analytics.frequent_items,
    "order_percentiles": analytics.order_percentiles,
}


ORACLES: dict[str, str] = {
    "word_count_top10": f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS word FROM documents)
SELECT word, count(*) AS cnt
FROM tok GROUP BY word
ORDER BY cnt DESC, word
LIMIT 10""",
    "inverted_index": f"""
WITH tok AS (
  SELECT DISTINCT 'doc' || CAST(doc_id AS VARCHAR) AS doc, unnest({_TOKENS}) AS word
  FROM documents)
SELECT word, count(DISTINCT doc) AS n_docs,
       string_agg(DISTINCT doc, ',' ORDER BY doc) AS postings
FROM tok GROUP BY word
HAVING count(DISTINCT doc) >= 100""",
    "mapreduce_wordcount": f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS word FROM documents)
SELECT word, CAST(count(*) AS VARCHAR) AS cnt
FROM tok GROUP BY word""",
    "kv_state": f"WITH {_OPS_CTE}, {_EFF_CTE}, {_REPLAY_SQL}",
    "kv_effective_ops": f"""
WITH {_OPS_CTE}, {_EFF_CTE}
SELECT client_id, count(*) AS n_effective, max(req_id) AS high_water
FROM eff GROUP BY client_id""",
    "kv_snapshot": f"""
WITH {_OPS_CTE},
cut AS (SELECT max(seq) // 2 AS half FROM ops),
ops2 AS (SELECT * FROM ops WHERE seq <= (SELECT half FROM cut)),
hw AS (
  SELECT *, max(req_id) OVER (
      PARTITION BY client_id ORDER BY seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM ops2
),
eff AS (SELECT * FROM hw WHERE prev_max IS NULL OR req_id > prev_max),
{_REPLAY_SQL}""",
    "kv_changes": f"""
WITH {_OPS_CTE},
cut AS (SELECT max(seq) // 2 AS half FROM ops),
ops2 AS (SELECT * FROM ops WHERE seq <= (SELECT half FROM cut)),
hw2 AS (
  SELECT *, max(req_id) OVER (
      PARTITION BY client_id ORDER BY seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM ops2),
eff2 AS (SELECT * FROM hw2 WHERE prev_max IS NULL OR req_id > prev_max),
old_state AS (
  WITH lp AS (
    SELECT *, max(CASE WHEN op = 'put' THEN seq END)
           OVER (PARTITION BY "key") AS last_put_seq
    FROM eff2)
  SELECT "key", string_agg("value", '' ORDER BY seq) AS old_value
  FROM lp
  WHERE op IN ('put', 'append') AND seq >= coalesce(last_put_seq, -1)
  GROUP BY "key"),
{_EFF_CTE},
new_state AS (
  WITH lp AS (
    SELECT *, max(CASE WHEN op = 'put' THEN seq END)
           OVER (PARTITION BY "key") AS last_put_seq
    FROM eff)
  SELECT "key", string_agg("value", '' ORDER BY seq) AS new_value
  FROM lp
  WHERE op IN ('put', 'append') AND seq >= coalesce(last_put_seq, -1)
  GROUP BY "key")
SELECT coalesce(n."key", o."key") AS "key", o.old_value, n.new_value,
       CASE WHEN o.old_value IS NULL THEN 'insert'
            WHEN o.old_value <> n.new_value THEN 'update'
            ELSE 'same' END AS change
FROM old_state o FULL JOIN new_state n ON o."key" = n."key\"""",
    "kv_get": f"""
WITH {_OPS_CTE}, {_EFF_CTE},
state AS (WITH {_REPLAY_SQL})
SELECT * FROM state WHERE "key" IN ('0', '7', '13', '19')""",
    "kv_replay_hotkey": """
WITH ops AS (
  SELECT event_id AS seq,
         user_id % 50 AS client_id,
         event_id AS req_id,
         CASE WHEN event_type = 'signup' THEN 'put'
              WHEN event_type IN ('click','view','purchase') THEN 'append'
              ELSE 'get' END AS op,
         CASE WHEN user_id % 4 = 0 THEN 'hot'
              ELSE CAST(user_id % 20 AS VARCHAR) END AS "key",
         substr(event_type, 1, 2) || CAST(event_id % 10 AS VARCHAR) AS "value"
  FROM events
),
hw AS (
  SELECT *, max(req_id) OVER (
      PARTITION BY client_id ORDER BY seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM ops
),
eff AS (SELECT * FROM hw WHERE prev_max IS NULL OR req_id > prev_max),
lp AS (
  SELECT *, max(CASE WHEN op = 'put' THEN seq END)
         OVER (PARTITION BY "key") AS last_put_seq
  FROM eff
),
folded AS (
  SELECT "key", string_agg("value", '' ORDER BY seq) AS "value"
  FROM lp
  WHERE op IN ('put', 'append') AND seq >= coalesce(last_put_seq, -1)
  GROUP BY "key"
)
SELECT "key", CAST(length("value") AS BIGINT) AS value_len,
       md5("value") AS value_md5
FROM folded""",
    "priority_grouping_sets": """
SELECT o_orderpriority AS priority, o_orderstatus AS status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_p,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_s,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderstatus), (o_orderpriority))""",
    "customer_scd2": """
WITH a AS (SELECT o_custkey AS k FROM orders GROUP BY 1 HAVING count(*) >= 12),
base AS (SELECT c_custkey, c_mktsegment AS seg,
                c_custkey IN (SELECT k FROM a) AS in_a,
                c_custkey % 7 = 0 AS in_b
         FROM customer)
SELECT c_custkey, seg AS segment,
       CAST(1 AS BIGINT) AS valid_from,
       CAST(CASE WHEN in_a THEN 2 WHEN in_b THEN 3 END AS BIGINT) AS valid_to,
       NOT (in_a OR in_b) AS is_current
FROM base
UNION ALL
SELECT c_custkey, 'UPGRADED' AS segment,
       CAST(2 AS BIGINT) AS valid_from,
       CAST(CASE WHEN in_b THEN 3 END AS BIGINT) AS valid_to,
       NOT in_b AS is_current
FROM base WHERE in_a
UNION ALL
SELECT c_custkey, 'CHURNED' AS segment,
       CAST(3 AS BIGINT) AS valid_from,
       CAST(NULL AS BIGINT) AS valid_to,
       TRUE AS is_current
FROM base WHERE in_b""",
    "customer_upsert": """
WITH r AS (SELECT o_custkey,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1)
SELECT c_custkey, c_mktsegment,
       CASE WHEN rev IS NULL THEN round(c_acctbal, 2)
            ELSE CAST(round(CAST(c_acctbal AS DECIMAL(18,2))
                            + rev * CAST(0.001 AS DECIMAL(4,3)), 2) AS DOUBLE)
       END AS c_acctbal
FROM customer LEFT JOIN r ON c_custkey = o_custkey""",
    "lang_long_format": """
WITH s AS (SELECT DISTINCT source FROM documents),
l AS (SELECT unnest(['de','en','es','fr','zh']) AS lang),
c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
SELECT s.source, l.lang, CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs
FROM s CROSS JOIN l LEFT JOIN c ON c.source = s.source AND c.lang = l.lang""",
    "shard_census": f"""
WITH {_OPS_CTE}
SELECT ascii("key") % 10 AS shard, count(*) AS n_ops, count(DISTINCT "key") AS n_keys
FROM ops GROUP BY 1""",
    "shard_routing": f"""
WITH {_OPS_CTE}, {_EFF_CTE},
state AS (WITH {_REPLAY_SQL})
SELECT 100 + (ascii("key") % 10) % 3 AS gid,
       count(*) AS n_keys,
       CAST(sum(length("value")) AS BIGINT) AS total_len
FROM state GROUP BY 1""",
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01'
GROUP BY l_returnflag, l_linestatus""",
    "top_orders": """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10""",
    "revenue_by_segment": """
SELECT c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus <> 'F'
GROUP BY c_mktsegment""",
    "regional_revenue": """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name""",
    "order_running_totals": """
WITH w AS (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_rank,
         round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
  FROM orders)
SELECT * FROM w WHERE order_rank <= 3""",
    "priority_rollup": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
    "string_functions": """
SELECT doc_id,
       upper(substr(text, 1, 12)) AS title_prefix,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
       translate(lower(substr(text, 1, 20)), 'aeiou', '_____') AS devoweled,
       CAST(levenshtein(substr(text, 1, 10), substr(text, 11, 10)) AS INTEGER)
         AS prefix_edit_dist
FROM documents""",
    "regex_extraction": """
SELECT event_type,
       CAST(sum(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(sum(CASE WHEN length(regexp_replace(props, '[^0-9]', '', 'g')) > 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_digit
FROM events
GROUP BY event_type""",
    "bool_aggregates": """
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_over_400k,
       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_failed
FROM orders
GROUP BY o_orderpriority""",
    "rolling_weekly_revenue": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS trailing_7d_revenue
FROM orders
WHERE o_custkey % 100 = 0""",
    "token_array_ops": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents)
SELECT doc_id,
       array_to_string(toks[1:3], ' ') AS first3,
       array_to_string(list_reverse(toks[-3:]), ' ') AS last3_reversed,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
       CAST(list_contains(toks, 'the') AS INTEGER) AS has_the
FROM t""",
    "price_outliers": """
WITH s AS (
  SELECT o_orderstatus, avg(o_totalprice) AS mu, stddev_pop(o_totalprice) AS sd
  FROM orders GROUP BY 1)
SELECT o.o_orderstatus, o.o_orderkey,
       round(o.o_totalprice, 2) AS o_totalprice,
       round((o.o_totalprice - s.mu) / s.sd, 4) AS z
FROM orders o JOIN s USING (o_orderstatus)
WHERE abs((o.o_totalprice - s.mu) / s.sd) > 1.6""",
    "corr_stats": """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_pop(l_quantity, l_discount), 6) AS cov_qty_disc,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag""",
    "funnel_conversion": """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
       CAST(sum(CASE WHEN t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_funnel
FROM f""",
    "table_profile": """
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
       count(DISTINCT o_orderstatus) AS n_statuses,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       round(avg(o_totalprice), 4) AS avg_price,
       round(stddev_pop(o_totalprice), 4) AS std_price,
       min(o_orderdate) AS min_date,
       max(o_orderdate) AS max_date
FROM orders""",
    "source_lang_pivot": """
SELECT source,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents
GROUP BY source""",
    "tiered_rollup": """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2""",
    "revenue_percentiles": """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",
    "semi_anti_orders": """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""",
    "order_percentiles": """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "priority_cube": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "scalar_functions": """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       count(*) AS n,
       round(sqrt(avg(o_totalprice)), 6) AS sqrt_avg_price,
       round(ln(sum(o_totalprice) + 1.0), 6) AS log_revenue,
       round(avg(abs(o_totalprice - 100000.0)), 4) AS avg_abs_dev,
       max(upper(substr(o_orderpriority, 1, 4))) AS max_pri_prefix,
       CAST(min(dayofweek(o_orderdate) + 1) AS INTEGER) AS min_dow,
       CAST(max(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS INTEGER)
         AS max_days_to_2002
FROM orders
GROUP BY 1""",
    "events_windowed": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2""",
    "events_json_extract": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type""",
    "user_event_profile": """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
       count(*) AS n_events
FROM events
GROUP BY user_id
HAVING count(*) >= 5""",
    "user_sessions": """
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
m AS (
  SELECT user_id,
         CASE WHEN prev IS NULL
                   OR ((epoch_us(ts) // 1000000) - (epoch_us(prev) // 1000000)) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM o)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
FROM m GROUP BY user_id""",
    # rolling z-score screen: trailing-24h ROWS frame; both engines
    # filter on the ROUNDED z so an ulp cannot flip a boundary row
    "event_anomalies": """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2),
w AS (
  SELECT hour, event_type, n_events,
         avg(n_events) OVER win AS mu,
         stddev_samp(n_events) OVER win AS sd,
         count(*) OVER win AS n_win
  FROM hourly
  WINDOW win AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT hour, event_type, n_events,
       round((n_events - mu) / sd, 4) AS z
FROM w
WHERE n_win >= 12 AND sd > 0
  AND abs(round((n_events - mu) / sd, 4)) >= 2""",
    # weekly cohort retention matrix; week arithmetic stays integer
    # (both engines truncate weeks to Mondays)
    "user_retention": """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY 1),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
  FROM events),
joined AS (
  SELECT f.cohort_week,
         CAST(datediff('day', f.cohort_week, a.wk) // 7 AS INTEGER) AS week_offset,
         a.user_id
  FROM firsts f JOIN activity a USING (user_id)),
sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY 1)
SELECT j.cohort_week, j.week_offset,
       count(DISTINCT j.user_id) AS n_active,
       CAST(min(s.cohort_size) AS BIGINT) AS cohort_size,
       round(count(DISTINCT j.user_id) * 1.0 / min(s.cohort_size), 6) AS retention
FROM joined j JOIN sizes s USING (cohort_week)
GROUP BY 1, 2""",
    "set_ops": """
SELECT c_custkey FROM (
  (SELECT DISTINCT o_custkey AS c_custkey FROM orders
   INTERSECT
   SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
) t ORDER BY c_custkey""",
    "exact_dedup": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1""",
    "ngram_jaccard_pairs": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
g0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t),
-- identical df cap to the Spark plan: drop shingles appearing in more
-- than min(floor(0.2 * n_docs) + 1, 10000) documents — the relative
-- df cap AND the absolute posting-size guard, identical to Spark
head AS (
  SELECT shingle FROM g0 GROUP BY shingle
  HAVING count(*) > least(CAST(floor(0.2 * (SELECT count(*) FROM documents)) AS BIGINT) + 1, 10000)),
g AS (SELECT * FROM g0 WHERE shingle NOT IN (SELECT shingle FROM head)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
common AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_common
  FROM g ga JOIN g gb ON ga.shingle = gb.shingle AND ga.doc_id < gb.doc_id
  GROUP BY 1, 2)
SELECT c.a, c.b,
       round(CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.a = sa.doc_id
JOIN sizes sb ON c.b = sb.doc_id
WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= 0.35""",
    "text_stats": f"""
SELECT doc_id,
       CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
       CAST(len({_TOKENS}) + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INTEGER) AS n_bpe_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_computed,
       round(CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
             ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN len({_TOKENS}) > 0
             THEN CAST(len(list_filter({_TOKENS}, x -> list_contains(
                  ['the','and','of','to','a','in','is','that','it','for'], lower(x)))) AS DOUBLE)
                  / len({_TOKENS})
             ELSE 0.0 END, 6) AS stopword_ratio
FROM documents""",
    "quality_scores": f"""
SELECT doc_id,
       {_QUALITY_EXPR} AS quality,
       CAST({_QUALITY_EXPR} >= 0.5 AS INTEGER) AS keep
FROM documents""",
    "lang_id": """
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(lower(text), '[^a-z0-9]+') AS toks
  FROM documents),
s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','zu','den'], x))) AS score_de,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS score_en,
    len(list_filter(toks, x -> list_contains(['el','la','que','de','los','una','es','por','con','para'], x))) AS score_es,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des','un','une','est','que','pour'], x))) AS score_fr,
    len(list_filter(toks, x -> list_contains(['de','shi','le','zai','you','wo','ta','men','zhe','bu'], x))) AS score_zh
  FROM t)
SELECT doc_id, lang AS labeled_lang,
  CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
       WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
       WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
       WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
       WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
       ELSE 'zh' END AS pred_lang
FROM s""",
    "fingerprints": """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents""",
    "build_vocab": f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS word FROM documents),
c AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word)
SELECT word, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS id
FROM c""",
    "encode_docs": f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS word FROM documents),
c AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS id
  FROM c),
t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
e AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos
  FROM t)
SELECT e.doc_id,
       string_agg(v.id, ',' ORDER BY e.pos) AS token_ids,
       CAST(count(*) AS INTEGER) AS n_tokens
FROM e JOIN vocab v USING (word)
GROUP BY e.doc_id""",
    "tfidf_top_terms": f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS word FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.word,
         round(tf.tf * ln((SELECT n FROM n) / dfreq), 6) AS tfidf
  FROM tf JOIN dfx USING (word)),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, word) AS INTEGER) AS rnk
  FROM s)
SELECT doc_id, word, tfidf, rnk FROM r WHERE rnk <= 3""",
    "bigram_counts": f"""
WITH t AS (SELECT {_TOKENS} AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t)
SELECT bigram, count(*) AS cnt
FROM g GROUP BY 1 HAVING count(*) >= 20""",
    # corpus-self unigram LM scoring: docs with zero tokens drop out
    # (inner join), matching the Spark operator's contract
    "unigram_logprob": f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS word FROM documents),
counts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(avg(ln(c.cnt / tt.total)), 6) AS avg_logprob
FROM tok t JOIN counts c USING (word) CROSS JOIN total tt
GROUP BY t.doc_id""",
    "bigram_logprob": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
p AS (SELECT doc_id,
             unnest(toks[1:greatest(len(toks) - 1, 0)]) AS a,
             unnest(toks[2:len(toks)]) AS b
      FROM t),
cab AS (SELECT a, b, count(*) AS cab FROM p GROUP BY 1, 2),
ca AS (SELECT a, count(*) AS ca FROM p GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t) u)
SELECT p.doc_id, count(*) AS n_bigrams,
       round(avg(ln((cab.cab + 1.0) / (ca.ca + v.v))), 6) AS avg_logprob
FROM p JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v
GROUP BY p.doc_id""",
    "source_token_kl": f"""
WITH tok AS (SELECT source, unnest({_TOKENS}) AS word FROM documents),
sw AS (SELECT source, word, count(*) AS n_sw FROM tok GROUP BY 1, 2),
st AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
wt AS (SELECT word, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY 1),
g AS (SELECT CAST(sum(n_w) AS BIGINT) AS n FROM wt)
SELECT sw.source,
       max(st.n_s) AS n_tokens,
       count(*) AS n_distinct,
       round(sum((sw.n_sw / st.n_s) * ln((sw.n_sw / st.n_s) / (wt.n_w / g.n))), 6) AS kl_nats
FROM sw JOIN st USING (source) JOIN wt USING (word) CROSS JOIN g
GROUP BY sw.source""",
    "prefix_dups": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
p AS (SELECT doc_id, md5(array_to_string(toks[1:16], ' ')) AS prefix_hash
      FROM t WHERE len(toks) > 0)
SELECT prefix_hash, min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM p GROUP BY prefix_hash HAVING count(*) > 1""",
    "lang_entropy_by_source": """
WITH bl AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_langs
      FROM bl GROUP BY 1)
SELECT bl.source,
       max(t.n_docs) AS n_docs,
       max(t.n_langs) AS n_langs,
       round(-sum((bl.n / t.n_docs) * ln(bl.n / t.n_docs)), 6) AS lang_entropy
FROM bl JOIN t USING (source)
GROUP BY bl.source""",
    # first-occurrence novelty: Spark joins on xxhash64(shingle), the
    # oracle on the shingle string — same documented 64-bit collision
    # acceptance as the ngram/minhash family
    "shingle_novelty": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t),
firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM g GROUP BY 1)
SELECT g.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty_frac
FROM g JOIN firsts f USING (shingle)
GROUP BY g.doc_id""",
    # decile calibration: ntile over the ROUNDED score + id tie-break
    # so ordering (and thus bucket edges) is engine-independent
    "quality_calibration": f"""
WITH s AS (
  SELECT doc_id, round({_QUALITY_EXPR}, 6) AS q, n_chars FROM documents),
d AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY q, doc_id) AS INTEGER) AS decile
  FROM s)
SELECT decile, count(*) AS n_docs,
       round(avg(q), 6) AS avg_quality,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY 1""",
    "stopword_discovery": f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS})) AS word FROM documents),
dfq AS (SELECT word, count(*) AS df FROM t GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, df, round(df * 1.0 / n_docs, 6) AS df_frac
FROM dfq, n
WHERE df >= 0.4 * n_docs""",
    # max_basket mirror (ADVICE r9): baskets above the absolute cap are
    # skipped on both engines — NOT IN is null-safe here (l_orderkey is
    # non-null). No TPC-H-ish basket approaches 10k items, so the gate
    # digest is unchanged; the cap is the scale guard.
    "copurchase_pairs": """
SELECT la.l_partkey AS a, lb.l_partkey AS b,
       count(DISTINCT la.l_orderkey) AS n_orders
FROM lineitem la JOIN lineitem lb
  ON la.l_orderkey = lb.l_orderkey AND la.l_partkey < lb.l_partkey
WHERE la.l_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                            GROUP BY 1
                            HAVING count(DISTINCT l_partkey) > 10000)
GROUP BY 1, 2
HAVING count(DISTINCT la.l_orderkey) >= 3""",
    "event_transitions": """
WITH s AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events)
SELECT from_type, to_type,
       count(*) AS n_transitions,
       count(DISTINCT user_id) AS n_users
FROM s WHERE to_type IS NOT NULL
GROUP BY 1, 2""",
    # sample_by_lang: seed-deterministic Bernoulli sampling is
    # engine-specific (Spark's XORShiftRandom) → rows-only; per-stratum
    # fraction bounds tested in tests/test_textstats.py.
    "clean_docs": r"""
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '(\+?[0-9]{1,2}[-.])?[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
           '\s+', ' ', 'g')) AS clean_text
  FROM documents)
SELECT doc_id, clean_text,
       CAST(length(text) - length(clean_text) AS BIGINT) AS chars_removed,
       CAST(len(string_split_regex(text, 'https?://[^\s]+'))
          + len(string_split_regex(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(string_split_regex(text, '(\+?[0-9]{1,2}[-.])?[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}'))
          - 3 AS BIGINT) AS n_redactions
FROM c""",
    "chunk_docs": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, n, 48)) AS st,
         generate_subscripts(range(0, n, 48), 1) AS idx
  FROM t WHERE n > 0)
SELECT doc_id,
       CAST(idx - 1 AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, st + 1, st + 64), ' ') AS chunk_text,
       CAST(len(list_slice(toks, st + 1, st + 64)) AS BIGINT) AS n_tokens
FROM s""",
    "pack_chunks": f"""
WITH t AS (SELECT doc_id, source, {_TOKENS} AS toks, len({_TOKENS}) AS n FROM documents),
s AS (
  SELECT doc_id, source, toks,
         unnest(range(0, n, 48)) AS st,
         generate_subscripts(range(0, n, 48), 1) AS idx
  FROM t WHERE n > 0),
c AS (
  SELECT doc_id, source, CAST(idx - 1 AS BIGINT) AS chunk_id,
         len(list_slice(toks, st + 1, st + 64)) AS n_tokens
  FROM s),
w AS (
  SELECT source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tokens_before
  FROM c)
SELECT source, CAST(tokens_before // 256 AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM w GROUP BY source, bin_id""",
    "mixture_sample": f"""
WITH h AS (
  SELECT source, {_TOKENS} AS toks,
         ((((doc_id % 999983) * 62089) % 999983 + 74747) * 58229 % 999983) % 10000 AS hv
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS n_tokens
FROM h
WHERE hv < CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000
                       WHEN 'src2' THEN 7500 WHEN 'src3' THEN 10000 ELSE 0 END
GROUP BY source""",
    "dq_audit": """
SELECT 'orders_null_custkey' AS check_name,
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT) AS violations
UNION ALL SELECT 'orders_dup_orderkey',
       CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
UNION ALL SELECT 'orders_orphan_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL SELECT 'lineitem_orphan_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL SELECT 'lineitem_nonpositive_price',
       CAST((SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0) AS BIGINT)
UNION ALL SELECT 'lineitem_qty_out_of_range',
       CAST((SELECT count(*) FROM lineitem WHERE l_quantity NOT BETWEEN 1 AND 50) AS BIGINT)
UNION ALL SELECT 'customer_dup_custkey',
       CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS BIGINT)""",
    "top_docs_per_lang": f"""
WITH q AS (
  SELECT d.doc_id, d.lang, {_QUALITY_EXPR} AS quality
  FROM documents d),
r AS (
  SELECT lang, doc_id, quality,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY quality DESC, doc_id) AS INTEGER) AS rnk
  FROM q)
SELECT lang, rnk, doc_id, quality FROM r WHERE rnk <= 3""",
    "corpus_summary": f"""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len({_TOKENS})) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, source""",
    "cosine_topk": """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id % 100 = 0),
s AS (
  SELECT q.q_id, e.vec_id AS nn_id,
         list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
r AS (
  SELECT q_id, nn_id,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nn_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, nn_id, rank FROM r WHERE rank <= 5""",
    "lsh_topk_exact": _lsh_exact_oracle_sql(k=5, n_planes=4),
    "ivf_topk_exact": _ivf_exact_oracle_sql(k=5, n_lists=16, n_probe=4),
    "minhash_lsh_exact": _minhash_exact_oracle_sql(num_hashes=16, bands=8, min_match=6),
    "simhash_exact": _simhash_exact_oracle_sql(max_hamming=3, n_bits=32),
    "sample_by_lang_exact": """
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5(lang || '#' || doc_id || '#42'), 1, 15))::BIGINT % 1000 < 200""",
    "epoch_shuffle": """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY ('0x' || substr(md5(doc_id || '#0'), 1, 15))::BIGINT, doc_id)
         - 1 AS BIGINT) AS sample_idx
FROM documents""",
    "curated_read_pruned": """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'en'
  AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < 9000
GROUP BY source""",
    # REAL-codec round trips: payloads are genuine BMP/WAV built from a
    # closed-form pixel/sample rule, so the oracle can state the decode
    # output without parsing bytes — any decoder bug breaks the hash.
    "multimodal_jpeg_decode": """
WITH c AS (
  SELECT doc_id,
         CAST((doc_id * 7) % 256 AS DOUBLE) AS r,
         CAST((doc_id * 13) % 256 AS DOUBLE) AS g,
         CAST((doc_id * 29) % 256 AS DOUBLE) AS b
  FROM documents),
-- the codec's rounding contract is floor(x + 0.5) at every float->int
-- step (functions/jpeg.py); expression order mirrors the numpy code so
-- IEEE doubles agree bit-for-bit
ycc AS (
  SELECT doc_id,
         least(greatest(floor(0.299*r + 0.587*g + 0.114*b + 0.5), 0), 255) AS y0,
         least(greatest(floor(128 - 0.168736*r - 0.331264*g + 0.5*b + 0.5), 0), 255) AS cb0,
         least(greatest(floor(128 + 0.5*r - 0.418688*g - 0.081312*b + 0.5), 0), 255) AS cr0
  FROM c),
rec AS (
  SELECT doc_id,
         16*floor(8*(y0-128)/16 + 0.5)/8 + 128 AS y1,
         16*floor(8*(cb0-128)/16 + 0.5)/8 + 128 AS cb1,
         16*floor(8*(cr0-128)/16 + 0.5)/8 + 128 AS cr1
  FROM ycc)
SELECT doc_id AS blob_id, 16 AS width, 16 AS height,
       least(greatest(floor(y1 + 1.402*(cr1-128) + 0.5), 0), 255) AS mean_r,
       least(greatest(floor(y1 - 0.344136*(cb1-128) - 0.714136*(cr1-128) + 0.5), 0), 255) AS mean_g,
       least(greatest(floor(y1 + 1.772*(cb1-128) + 0.5), 0), 255) AS mean_b
FROM rec""",
    "multimodal_png_decode": """
SELECT doc_id AS blob_id, 16 AS width, 16 AS height,
       CAST((doc_id * 7) % 256 + (doc_id * 11) % 256 AS DOUBLE) / 2 AS mean_r,
       CAST((doc_id * 13) % 256 + (doc_id * 17) % 256 AS DOUBLE) / 2 AS mean_g,
       CAST((doc_id * 29) % 256 + (doc_id * 23) % 256 AS DOUBLE) / 2 AS mean_b
FROM documents""",
    "multimodal_bmp_decode": """
SELECT doc_id AS blob_id, 16 AS width, 16 AS height,
       CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 29) % 256 AS DOUBLE) AS mean_b
FROM documents WHERE doc_id % 2 = 0""",
    "multimodal_wav_decode": """
SELECT d.doc_id AS blob_id,
       256 AS n_samples, 8000 AS sample_rate,
       CAST(max(abs(((d.doc_id * 31 + t.i * 17) % 65536) - 32768)) AS BIGINT) AS peak,
       CAST(sum(((d.doc_id * 31 + t.i * 17) % 65536) - 32768) AS BIGINT) AS sum_samples
FROM documents d CROSS JOIN range(0, 256) t(i)
WHERE d.doc_id % 2 = 1
GROUP BY d.doc_id""",
    "multimodal_real_ann": """
WITH f AS (
  SELECT doc_id AS id,
         CAST((doc_id * 7) % 256 AS BIGINT) AS r,
         CAST((doc_id * 13) % 256 AS BIGINT) AS g,
         CAST((doc_id * 29) % 256 AS BIGINT) AS b
  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 256 <> 0),
q AS (SELECT id AS q_id, r, g, b FROM f WHERE id % 50 = 0),
s AS (
  -- exact-integer cosine^2 key quantized to 1e-8 (matches Spark's
  -- `div`): float cosine's last ulp flips near-tied ranks across
  -- engines at larger SFs
  SELECT q.q_id, f.id AS nn_id,
         ((q.r*f.r + q.g*f.g + q.b*f.b) * (q.r*f.r + q.g*f.g + q.b*f.b)
          * 100000000)
         // ((q.r*q.r + q.g*q.g + q.b*q.b) * (f.r*f.r + f.g*f.g + f.b*f.b))
           AS key
  FROM q JOIN f ON f.id <> q.q_id),
rk AS (
  SELECT q_id, nn_id,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY key DESC, nn_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, nn_id, rank FROM rk WHERE rank <= 3""",
    "multimodal_avi_frames": """
SELECT d.doc_id AS blob_id, CAST(t.i AS INTEGER) AS frame_idx,
       CAST((d.doc_id * 7 + 3 * t.i) % 256 AS DOUBLE) AS mean_r,
       CAST((d.doc_id * 13 + 5 * t.i) % 256 AS DOUBLE) AS mean_g,
       CAST((d.doc_id * 29 + 7 * t.i) % 256 AS DOUBLE) AS mean_b
FROM documents d CROSS JOIN range(0, 4) t(i)
WHERE t.i % 2 = 0""",
    "stream_curated_ingest": f"""
WITH cleaned AS (
  SELECT doc_id, lang, {_CLEAN_SQL} AS text FROM documents),
q AS (
  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS n_chars
  FROM cleaned WHERE {_QUALITY_EXPR} >= 0.5),
keep AS (
  SELECT min(doc_id) AS doc_id FROM q
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
k AS (SELECT q.* FROM q JOIN keep USING (doc_id))
SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc_id,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM k GROUP BY lang""",
    "corpus_pipeline": f"""
WITH cleaned AS (
  SELECT doc_id, lang, source, {_CLEAN_SQL} AS text
  FROM documents),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM cleaned
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
deduped AS (SELECT c.* FROM cleaned c JOIN keep USING (doc_id)),
bt AS (SELECT {_TOKENS} AS toks FROM cleaned WHERE doc_id % 19 = 0),
bsh AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM bt),
ct AS (SELECT doc_id, {_TOKENS} AS toks FROM deduped WHERE doc_id % 19 <> 0),
csh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM ct),
contam AS (
  SELECT c.doc_id
  FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle
  GROUP BY 1
  HAVING CAST(count(b.shingle) AS DOUBLE) / count(*) >= 0.5),
kept AS (
  SELECT doc_id, lang, source, len({_TOKENS}) AS n
  FROM deduped
  WHERE doc_id % 19 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contam)
    AND {_QUALITY_EXPR} >= 0.5
    AND len({_TOKENS}) > 0),
ch AS (SELECT source, lang, doc_id, n, unnest(range(0, n, 48)) AS s FROM kept)
SELECT source, lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_kept,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(least(64, n - s)) AS BIGINT) AS total_tokens
FROM ch GROUP BY source, lang""",
    "embedding_neardup": """
SELECT a.vec_id AS a, b.vec_id AS b
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45""",
    "asof_attribution": """
WITH v AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
q AS (SELECT user_id, ts, event_id FROM v WHERE rn = 1),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
SELECT p.event_id AS purchase_id, p.user_id,
       q.event_id AS view_id,
       (epoch_us(p.ts) // 1000000) - (epoch_us(q.ts) // 1000000) AS gap_s
FROM p ASOF JOIN q ON p.user_id = q.user_id AND p.ts >= q.ts""",
    "range_join_views": """
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(count(v.event_id) AS BIGINT) AS n_views_1h
FROM events p LEFT JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
GROUP BY 1, 2""",
    "stream_sliding": """
WITH w AS (
  SELECT event_type,
         unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS window_start
  FROM events)
SELECT window_start, event_type, count(*) AS n_events
FROM w GROUP BY 1, 2""",
    "stream_windowed": """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3""",
    "stream_sessions": """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM o),
i AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM i GROUP BY user_id, sid""",
    # streaming K5 must land on exactly the batch-replay state
    "stream_enriched": """
SELECT CAST(to_timestamp(21600 * (epoch_us(ts) // 1000000 // 21600)) AS TIMESTAMP) AS window_start,
       'tier' || CAST(user_id % 3 AS VARCHAR) AS tier,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2""",
    "stream_kv_state": None,  # filled below (= kv_state oracle)
    # streaming-native K4: survivors of dropDuplicatesWithinWatermark over
    # a bounded replay == DISTINCT (client, req) pairs
    "stream_dedup_ops": """
WITH ops AS (
  SELECT user_id % 50 AS client_id,
         event_id % 97 AS req_id
  FROM events
)
SELECT client_id,
       count(DISTINCT req_id) AS n_unique_reqs,
       max(req_id) AS max_req
FROM ops GROUP BY client_id""",
    # P8 config-poll loop: batch i routes by config version i+1; batches
    # are seq-tertiles (stream_in_seq_batches), gid evolution arithmetic
    # (config_poll.ConfigMaster default: 100 + shard % min(num, 3))
    "stream_config_poll": f"""
WITH {_OPS_CTE},
m AS (SELECT max(seq) AS ms FROM ops),
routed AS (
  SELECT ascii("key") % 10 AS shard,
         CASE WHEN seq <= ms // 3 THEN 1
              WHEN seq <= (2 * ms) // 3 THEN 2
              ELSE 3 END AS config_num,
         "key"
  FROM ops, m
)
SELECT config_num,
       CASE config_num WHEN 1 THEN 100
            WHEN 2 THEN 100 + shard % 2
            ELSE 100 + shard % 3 END AS gid,
       count(*) AS n_ops,
       count(DISTINCT "key") AS n_keys
FROM routed
GROUP BY 1, 2""",
    # stream-stream interval join: bounded replay emits every match, so
    # the batch form of the identical predicate is exact
    "stream_stream_join": """
WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id, count(*) AS n_pairs,
       round(sum(p.value), 4) AS total_purch_value
FROM c JOIN p ON c.user_id = p.user_id
 AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
GROUP BY 1""",
    "multimodal_stats": """
SELECT doc_id AS blob_id,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       sha256(text) AS "sha256",
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime
FROM documents""",
    "multimodal_frames": """
SELECT doc_id AS blob_id,
       1000 * (doc_id % 30) AS duration_ms,
       CAST(i * (1000 * (doc_id % 30)) / 4 AS BIGINT) AS frame_ts_ms
FROM documents, range(0, 4) t(i)
WHERE doc_id % 3 = 2""",
    # minhash_neardup / simhash_neardup / lsh_topk / ivf_topk /
    # approx_distinct_users / multimodal_features / multimodal_ann:
    # engine-specific hashing → rows-only check; semantics tested in tests/.
    "decontaminate": f"""
WITH bt AS (SELECT {_TOKENS} AS toks FROM documents WHERE doc_id % 19 = 0),
bsh AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM bt),
ct AS (SELECT doc_id, {_TOKENS} AS toks FROM documents WHERE doc_id % 19 <> 0),
csh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM ct),
per AS (
  SELECT c.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_matched
  FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle GROUP BY 1)
SELECT doc_id, n_shingles, n_matched,
       round(CAST(n_matched AS DOUBLE) / n_shingles, 6) AS contam_frac,
       CAST(n_matched AS DOUBLE) / n_shingles >= 0.5 AS contaminated
FROM per""",
    "repetition_scores": f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks), 1)),
         i -> toks[i] || ' ' || toks[i+1])) AS shingle
  FROM t),
c AS (SELECT doc_id, shingle, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS total_ngrams,
       count(*) AS distinct_ngrams,
       round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_frac
FROM c GROUP BY doc_id""",
    "train_test_split": """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'valid'
            ELSE 'test' END AS split
FROM b""",
    "events_gapfill": """
WITH agg AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         count(*) AS n, sum(value) AS v
  FROM events GROUP BY 1, 2),
rng AS (SELECT event_type, min(hour) AS mn, max(hour) AS mx FROM agg GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
  FROM rng)
SELECT g.event_type, g.hour,
       coalesce(a.n, 0) AS n_events,
       round(coalesce(a.v, 0.0), 6) AS total_value
FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour""",
    "decayed_user_activity": """
WITH ref AS (SELECT max(epoch_us(ts)) AS r FROM events)
SELECT user_id, count(*) AS n_events,
       round(sum(exp((-(ln(2) / 604800.0)) * (((SELECT r FROM ref) - epoch_us(ts)) / 1000000.0))), 6) AS decayed_count
FROM events GROUP BY user_id""",
    "salted_revenue_join": """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 4)
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""",
    "value_histogram": """
WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
SELECT CAST(CASE WHEN mx > mn
                 THEN least(floor((value - mn) / ((mx - mn) / 20.0)), 19)
                 ELSE 0 END AS INT) AS bin,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events, mm
GROUP BY 1""",
}

ORACLES["stream_kv_state"] = ORACLES["kv_state"]
ORACLES["stream_kv_stateful"] = ORACLES["kv_state"]

# connected components = transitive closure of the (symmetrized) exact
# near-dup pair set; min reachable id per node == the propagation fixpoint
ORACLES["neardup_clusters"] = (
    "WITH RECURSIVE pairs AS MATERIALIZED ("
    + ORACLES["ngram_jaccard_pairs"]
    + """),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.n)
SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n"""
)

# near-dup-aware split: the same recursive closure, then ONE md5-bucket
# assignment per cluster (seed 13, 10% test) — mirrors
# curation.leakage_safe_split exactly
ORACLES["leakage_safe_split"] = (
    "WITH RECURSIVE pairs AS MATERIALIZED ("
    + ORACLES["ngram_jaccard_pairs"]
    + """),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.n),
cl AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n)
SELECT doc_id, cluster_id,
       CASE WHEN ('0x' || substr(md5(cluster_id || '#13'), 1, 15))::BIGINT % 100 < 10
            THEN 'test' ELSE 'train' END AS split
FROM cl"""
)

# cluster collapse: same recursive closure, then the longest-member
# (id tie-break) keep rule re-expressed as a window rank
ORACLES["neardup_canonical"] = (
    "WITH RECURSIVE pairs AS MATERIALIZED ("
    + ORACLES["ngram_jaccard_pairs"]
    + """),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(n, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.n),
clus AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n),
mem AS (
  SELECT c.cluster_id, c.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
  FROM clus c JOIN documents d USING (doc_id)),
best AS (
  SELECT cluster_id, doc_id AS kept_doc, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM mem)
SELECT m.cluster_id, b.kept_doc,
       count(*) AS n_members,
       CAST(sum(m.n_chars) - min(b.n_chars) AS BIGINT) AS dropped_chars
FROM mem m JOIN best b ON m.cluster_id = b.cluster_id AND b.rn = 1
GROUP BY m.cluster_id, b.kept_doc"""
)


# ---------------------------------------------------------------------------
# Oracle-exact BPE (round 4): the iterative merge loop as 24 unrolled
# CTE rounds — the generated-SQL trick that made MinHash/SimHash/IVF
# exact extends to BPE because the greedy left-to-right pair merge is
# EXACTLY leftmost-non-overlapping string replacement over a bracketed
# symbol encoding ('{sym}{sym}...'): replace(s, '{a}{b}', '{ab}')
# reproduces operators/bpe._merge_pair's fold bit-for-bit (proven
# against a pure-Python reference in tests/test_bpe.py). Each round is
# a MATERIALIZED CTE pair (argmax + rewrite); without the hint DuckDB
# re-inlines the chain exponentially. Contract: valid when no early
# min_count stop fires within n_merges rounds (true at gate scale; an
# early stop would surface as a row-count mismatch, not silence).
# ---------------------------------------------------------------------------


def _bpe_rounds_sql(n_merges: int) -> str:
    """Shared CTE chain: wc -> w0 -> (b1, w1) ... (bN, wN)."""
    parts = [
        """wc AS MATERIALIZED (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                                  x -> x <> '')) AS word
        FROM documents)
  GROUP BY word),
w0 AS MATERIALIZED (
  SELECT word, cnt,
         '{' || array_to_string(regexp_extract_all(word, '.'), '}{')
             || '}{</w>}' AS s
  FROM wc)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
b{i} AS MATERIALIZED (
  SELECT z[1] AS a, z[2] AS b, sum(cnt) AS n
  FROM (SELECT cnt,
               unnest(list_zip(regexp_extract_all(s, '\\{{([^}}]*)\\}}', 1)[:-1],
                               regexp_extract_all(s, '\\{{([^}}]*)\\}}', 1)[2:])) AS z
        FROM w{i-1})
  WHERE z[2] IS NOT NULL
  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s, '{{' || b.a || '}}{{' || b.b || '}}',
                    '{{' || b.a || b.b || '}}') AS s
  FROM w{i-1}, b{i} b)"""
        )
    return "WITH " + ",".join(parts)


def _bpe_merges_oracle_sql(n_merges: int = 24) -> str:
    sel = "\nUNION ALL\n".join(
        f'SELECT {i} AS rank, a AS "left", b AS "right", '
        f"CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_rounds_sql(n_merges) + "\n" + sel


def _bpe_encode_oracle_sql(n_merges: int = 24) -> str:
    """Self-encode via the final pieces table: n_pieces per word = its
    '{'-bracket count in w{N}; self-encoding has zero OOV (every token
    is in the vocabulary it was trained from)."""
    return (
        _bpe_rounds_sql(n_merges)
        + f""",
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                            x -> x <> '')) AS word
  FROM documents)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w.s) - length(replace(w.s, '{{', ''))) AS BIGINT)
         AS n_pieces,
       CAST(0 AS BIGINT) AS n_oov
FROM tok t JOIN w{n_merges} w USING (word)
GROUP BY t.doc_id"""
    )


ORACLES["regional_revenue_bucketed"] = """
SELECT r_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""

ORACLES["bpe_merges"] = _bpe_merges_oracle_sql(24)
ORACLES["bpe_encode_stats"] = _bpe_encode_oracle_sql(24)


# ---------------------------------------------------------------------------
# Round 6: time-bar resampling (OHLC) and iterative graph analytics
# ---------------------------------------------------------------------------
from distributed_computing_spark.operators.graph import (  # noqa: E402
    pagerank_oracle_sql,
    pagerank_parts,
)

QUERIES["events_ohlc"] = analytics.events_ohlc
ORACLES["events_ohlc"] = """
WITH p AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_hour,
         value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, bar_hour,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_ticks
FROM p GROUP BY 1, 2"""

QUERIES["pagerank_parts"] = pagerank_parts
ORACLES["pagerank_parts"] = pagerank_oracle_sql(n_iter=8)


# Round 6: record linkage (edit-distance self-join, pigeonhole blocked)
from distributed_computing_spark.operators.linkage import (  # noqa: E402
    fuzzy_customer_match,
    fuzzy_match_oracle_sql,
)

QUERIES["fuzzy_customer_match"] = fuzzy_customer_match
ORACLES["fuzzy_customer_match"] = fuzzy_match_oracle_sql()


# Round 6: Z-order (Morton) layout — multi-dimensional min/max pruning
from distributed_computing_spark.operators.layout import (  # noqa: E402
    zorder_cells,
    zorder_cells_oracle_sql,
    zorder_events_scan,
    zorder_scan_oracle_sql,
)

QUERIES["zorder_cells"] = zorder_cells
ORACLES["zorder_cells"] = zorder_cells_oracle_sql()
QUERIES["zorder_events_scan"] = zorder_events_scan
ORACLES["zorder_events_scan"] = zorder_scan_oracle_sql()


# ---------------------------------------------------------------------------
# Round 6: exact substring-span dedup (Lee et al. 2022-style), gated
# ---------------------------------------------------------------------------


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc duplicated token spans (k=8 anchors, absolute
    posting cap mirrored by the oracle). Spark keys anchors on
    xxhash64(gram); the oracle groups the gram STRING — identical
    output absent 64-bit collisions (< 1e-8/pair, same accepted
    tradeoff as ngram_jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, k=8, max_posting=2_000).orderBy(
        "a", "b", "a_start", "b_start"
    )


def span_dedup_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-earliest duplicated-token accounting per document: interval
    union of every span shared with a smaller doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup_stats(docs, k=8, max_posting=2_000).orderBy(
        "doc_id"
    )


QUERIES["dup_spans"] = dup_spans
QUERIES["span_dedup_stats"] = span_dedup_stats_q

_SPAN_RUNS = f"""t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
p AS (SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 6, 1))) AS pos
      FROM t),
g0 AS MATERIALIZED (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         array_to_string(toks[pos:pos+7], ' ') AS gram
  FROM p),
head AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 2000),
g AS (SELECT * FROM g0 WHERE gram NOT IN (SELECT gram FROM head)),
anchors AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, ga.pos AS pa, gb.pos AS pb
  FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id),
runs AS (
  SELECT a, b, pa - pb AS diag, pa,
         pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp
  FROM anchors)"""

ORACLES["dup_spans"] = f"""
WITH {_SPAN_RUNS}
SELECT a, b, min(pa) AS a_start, min(pa) - diag AS b_start,
       count(*) + 7 AS span_len
FROM runs GROUP BY a, b, diag, grp
ORDER BY a, b, a_start, b_start"""

# shared merge pipeline: spans -> distinct intervals -> island sweep ->
# merged per-doc intervals (consumed by BOTH span oracles below)
_SPAN_MERGED = f"""{_SPAN_RUNS},
spans AS (SELECT a, b, diag, min(pa) AS a_start, count(*) + 7 AS span_len
          FROM runs GROUP BY a, b, diag, grp),
ivl AS (SELECT DISTINCT b AS doc_id, a_start - diag AS s,
               a_start - diag + span_len AS e
        FROM spans),
m AS (SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM ivl),
isl AS (SELECT doc_id, s, e,
               sum(CASE WHEN prev_max IS NULL OR s > prev_max
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS isl_id
        FROM m),
merged AS MATERIALIZED (SELECT doc_id, isl_id, min(s) AS ms, max(e) AS me
           FROM isl GROUP BY doc_id, isl_id)"""

ORACLES["span_dedup_stats"] = f"""
WITH {_SPAN_MERGED},
dup AS (SELECT doc_id, CAST(sum(me - ms) AS BIGINT) AS dup_tokens
        FROM merged GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(dup.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(len(toks) - coalesce(dup.dup_tokens, 0) AS BIGINT)
         AS kept_tokens
FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id
ORDER BY doc_id"""


# Round 6: triangle counting (degree-ordered wedge closure)
from distributed_computing_spark.operators.graph import (  # noqa: E402
    copurchase_triangles,
    triangles_oracle_sql,
)

QUERIES["copurchase_triangles"] = copurchase_triangles
ORACLES["copurchase_triangles"] = triangles_oracle_sql(20)


# Round 6: Pareto skyline (maximize vocabulary richness, minimize size)
def doc_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal documents: no other doc has >= distinct tokens
    AND <= chars (strict somewhere). Integer dims keep the gate exact;
    the oracle is the NOT EXISTS dominance definition — a different
    algorithm than the window-condition plan, same answer."""
    from distributed_computing_spark.functions.text import tokens
    from distributed_computing_spark.operators.analytics import skyline2d

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(tokens("text")))
        .cast("long")
        .alias("n_uniq_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return skyline2d(docs, "n_uniq_tokens", "n_chars").orderBy(
        "n_chars", "doc_id"
    )


QUERIES["doc_skyline"] = doc_skyline
ORACLES["doc_skyline"] = f"""
WITH pts AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_distinct({_TOKENS})) AS BIGINT) AS n_uniq_tokens,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents)
SELECT p.doc_id, p.n_uniq_tokens, p.n_chars
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.n_uniq_tokens >= p.n_uniq_tokens AND q.n_chars <= p.n_chars
    AND (q.n_uniq_tokens > p.n_uniq_tokens OR q.n_chars < p.n_chars))
ORDER BY n_chars, doc_id"""


# Round 6: oracle-exact HLL register sketch (strict twin of
# approx_distinct_users, same motion as minhash_lsh_exact)
def hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        hll_register_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    return hll_register_sketch(ev, "user_id", m=64, seed=0).orderBy(
        "register"
    )


QUERIES["hll_user_registers"] = hll_user_registers
ORACLES["hll_user_registers"] = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#0'), 1, 15))::BIGINT
           AS h
  FROM events),
r AS (SELECT h % 64 AS register, h // 64 AS rest FROM h)
SELECT register,
       CAST(max(CASE WHEN rest = 0 THEN 55
                     ELSE 55 - length(bin(rest)) END) AS BIGINT) AS max_rank
FROM r GROUP BY register ORDER BY register"""




# Round 6: integer-exact Lloyd's k-means over quantized embeddings
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 Lloyd rounds, k=8, deterministic lowest-id seeding; cluster
    sizes + within-cluster squared distance. The sum rides DECIMAL
    internally (replica tiers push it past 2^63) but SHIPS as the
    canonical digit string: the round-8 driver bisect isolated
    DECIMAL(38,0) final columns as the driver's value-hash divergence
    (VERDICT r8 item 1 — every all-BIGINT trace green, the decimal
    aggregate red), and a non-negative integer's digit string renders
    identically on both engines."""
    from distributed_computing_spark.operators.similarity import (
        kmeans_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _cents = kmeans_quantized(emb, k=8, n_iter=5)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("dist").cast("decimal(38,0)"))
            .cast("string")
            .alias("wss"),
        )
        .orderBy("cluster")
    )


from distributed_computing_spark.operators.similarity import (  # noqa: E402
    kmeans_oracle_sql,
)

QUERIES["kmeans_embeddings"] = kmeans_embeddings
ORACLES["kmeans_embeddings"] = kmeans_oracle_sql(k=8, n_iter=5)


# Round 9 (VERDICT r8 item 2): the round-8 driver-bisect trace
# scaffolding (kmeans_trace_c0..c4, a1) is RETIRED — it conclusively
# localized the kmeans red to DECIMAL value-hashing (fixed above by the
# canonical-digit-string wss) and the prefix-consistency property lives
# on in tests/test_oracle_portability.py, so the six extra registry
# entries would only burn driver-window slots every rotation.
# kmeans_trace_a5 stays as the STANDING all-BIGINT control: the full
# final assignment next to the decimal-free aggregate separates any
# future kmeans red into computation vs representation on sight.
from distributed_computing_spark.operators.similarity import (  # noqa: E402
    kmeans_trace_assign_sql,
)


def kmeans_trace_a5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINAL assignment (vec_id, cluster, dist — all BIGINT): the
    standing control for kmeans_embeddings — green here + red there
    would isolate a divergence to the final aggregate's value
    representation rather than the Lloyd computation (the round-8
    bisect's conclusion, kept testable)."""
    from distributed_computing_spark.operators.similarity import (
        kmeans_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _c = kmeans_quantized(emb, k=8, n_iter=5)
    return assigned.select("vec_id", "cluster", "dist").orderBy("vec_id")


QUERIES["kmeans_trace_a5"] = kmeans_trace_a5
ORACLES["kmeans_trace_a5"] = kmeans_trace_assign_sql(5, k=8)




# Round 6: the dedup ACTION — rewrite docs with duplicated spans cut
def span_dedup_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-earliest span removal with md5'd reconstructed text: the
    gate compares 32-byte hashes of every rewritten document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup_apply(docs, k=8, max_posting=2_000).orderBy(
        "doc_id"
    )


QUERIES["span_dedup_apply"] = span_dedup_apply_q
ORACLES["span_dedup_apply"] = f"""
WITH {_SPAN_MERGED},
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
               unnest(toks) AS tok
        FROM t),
kept AS (
  SELECT p.doc_id, count(*) AS n,
         string_agg(p.tok, ' ' ORDER BY p.pos) AS s
  FROM pos p
  WHERE NOT EXISTS (
    SELECT 1 FROM merged mm
    WHERE mm.doc_id = p.doc_id AND p.pos >= mm.ms AND p.pos < mm.me)
  GROUP BY p.doc_id)
SELECT t.doc_id AS doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(k.n, 0) AS BIGINT) AS kept_tokens,
       md5(coalesce(k.s, '')) AS kept_md5
FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
ORDER BY doc_id"""




# Round 6: weighted Bernoulli sampling (importance sampling by price)
def weighted_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample orders with probability o_totalprice/max(o_totalprice):
    pure integer hash test (md5 top-30-bits vs cents-as-long weight),
    reproducible across engines/retries/partitionings."""
    from distributed_computing_spark.operators.curation import (
        weighted_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    w = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return weighted_sample(orders, "o_orderkey", w, seed=0).orderBy(
        "o_orderkey"
    )


QUERIES["weighted_order_sample"] = weighted_order_sample
ORACLES["weighted_order_sample"] = """
WITH w AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM orders),
mw AS (SELECT max(w) AS m FROM w)
SELECT o_orderkey, w
FROM w, mw
WHERE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#0'), 1, 15))::BIGINT
         // 1073741824) * m < w * 1073741824
ORDER BY o_orderkey"""




# Round 6: incremental view maintenance (algebraic delta refresh)
def ivm_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-segment (count, revenue-cents) view refreshed
    from a signed CDC delta (post-cutoff orders as inserts, cancelled
    pre-cutoff 'F' orders as deletes) via analytics.ivm_refresh. The
    oracle RECOMPUTES the effective state directly, so the gate proves
    delta algebra == full recompute."""
    from distributed_computing_spark.operators.analytics import ivm_refresh
    from distributed_computing_spark.operators.joins import gated_broadcast

    cutoff = "1999-01-01"
    cust_tbl = load_table(spark, sf_dir, "customer")
    cust = gated_broadcast(
        cust_tbl.select(
            "c_custkey", F.col("c_mktsegment").alias("segment")
        ),
        table_rows(spark, sf_dir, "customer"),  # parquet footers only
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "segment",
            "o_orderdate",
            "o_orderstatus",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("revenue_cents"),
        )
    )
    base_rows = o.where(F.col("o_orderdate") < F.lit(cutoff))
    base = base_rows.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )
    delta = (
        o.where(F.col("o_orderdate") >= F.lit(cutoff))
        .withColumn("_sign", F.lit(1))
        .unionByName(
            base_rows.where(F.col("o_orderstatus") == "F").withColumn(
                "_sign", F.lit(-1)
            )
        )
    )
    return ivm_refresh(
        base, delta, ["segment"], "n_rows", ("revenue_cents",)
    ).orderBy("segment")


QUERIES["ivm_segment_revenue"] = ivm_segment_revenue
ORACLES["ivm_segment_revenue"] = """
WITH eff AS (
  SELECT c_mktsegment AS segment,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE (o_orderdate < TIMESTAMP '1999-01-01' AND o_orderstatus <> 'F')
     OR o_orderdate >= TIMESTAMP '1999-01-01')
SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM eff GROUP BY segment ORDER BY segment"""


# Round 7 (VERDICT r6 item 6): IVM with a DATA-SIZED view. The 5-group
# segment view can't exhibit "refresh beats recompute" (recomputing 5
# rows is flat); keying the view per-CUSTOMER makes the view grow with
# the data (1.5k groups at sf0.01, 15M at a real SF) while the delta
# stays change-bound — the regime where maintaining the view pays.
# The gated plan necessarily rebuilds the base view too (the gate times
# correctness, not the refresh win); the paying-regime measurement with
# a PRE-MATERIALIZED view is tools/ivm_tier.py, recorded in the
# crossover tiers.
def ivm_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (count, revenue-cents) view refreshed from a signed
    CDC delta (post-cutoff inserts, cancelled pre-cutoff 'F' deletes)
    via analytics.ivm_refresh; oracle recomputes effective state, so
    the gate proves delta algebra == recompute at view cardinality that
    scales with the data (reference analog: none — EXT mandate)."""
    from distributed_computing_spark.operators.analytics import ivm_refresh

    cutoff = "1999-01-01"
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("revenue_cents"),
    )
    base_rows = o.where(F.col("o_orderdate") < F.lit(cutoff))
    base = base_rows.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )
    delta = (
        o.where(F.col("o_orderdate") >= F.lit(cutoff))
        .withColumn("_sign", F.lit(1))
        .unionByName(
            base_rows.where(F.col("o_orderstatus") == "F").withColumn(
                "_sign", F.lit(-1)
            )
        )
    )
    return ivm_refresh(
        base, delta, ["o_custkey"], "n_rows", ("revenue_cents",)
    ).orderBy("o_custkey")


QUERIES["ivm_customer_revenue"] = ivm_customer_revenue
ORACLES["ivm_customer_revenue"] = """
WITH eff AS (
  SELECT o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE (o_orderdate < TIMESTAMP '1999-01-01' AND o_orderstatus <> 'F')
     OR o_orderdate >= TIMESTAMP '1999-01-01')
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM eff GROUP BY o_custkey ORDER BY o_custkey"""


# Round 8 (VERDICT r7 item 7): the REFRESH PATH itself under the gate.
# ivm_customer_revenue's plan necessarily rebuilds the base view; here
# the pre-materialized view + CDC delta are deterministic parquet
# fixtures (built once per session/source, untimed setup — the IVM
# story's precondition), so the GATED plan is exactly the delta-bound
# refresh tools/ivm_tier.py times: one delta-sized exchange + a
# group-keyed outer join. Shared oracle with ivm_customer_revenue —
# refresh(view, delta) must equal the full recompute.
def ivm_customer_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-bound refresh of the pre-materialized per-customer revenue
    view from its CDC delta fixture (see
    analytics.ivm_customer_fixture_paths)."""
    from distributed_computing_spark.operators.analytics import (
        ivm_customer_fixture_paths,
        ivm_refresh,
    )

    view_dir, delta_dir = ivm_customer_fixture_paths(spark, sf_dir)
    return ivm_refresh(
        spark.read.parquet(view_dir),
        spark.read.parquet(delta_dir),
        ["o_custkey"],
        "n_rows",
        ("revenue_cents",),
    ).orderBy("o_custkey")


QUERIES["ivm_customer_refresh"] = ivm_customer_refresh
ORACLES["ivm_customer_refresh"] = ORACLES["ivm_customer_revenue"]


# Round 6: equi-depth histogram over order values (two-level rank)
def orders_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten exact equi-depth buckets of o_totalprice (cents-as-long),
    tile rule (rank*nb) div n over the (value, orderkey) total order —
    identical arithmetic in the oracle."""
    from distributed_computing_spark.operators.analytics import (
        equidepth_histogram,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return equidepth_histogram(
        orders, "cents", "o_orderkey", nb=10
    ).orderBy("tile")


QUERIES["orders_equidepth"] = orders_equidepth
ORACLES["orders_equidepth"] = """
WITH w AS (
  SELECT o_orderkey AS id,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM orders),
r AS (SELECT v, row_number() OVER (ORDER BY v, id) - 1 AS rk FROM w),
n AS (SELECT count(*) AS n FROM w)
SELECT CAST((rk * 10) // n AS INT) AS tile,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(v) AS lo, max(v) AS hi
FROM r, n GROUP BY tile ORDER BY tile"""




# Round 6: prefix-filtered Jaccard (PPJoin) — optimizer-variant equality
def ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ngram_jaccard_pairs (threshold 0.35, df cap)
    through the prefix-filtered candidate plan; registered with the
    IDENTICAL oracle SQL — the gate proves same-result-better-plan."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_prefix_pairs(
        docs, n=3, threshold_num=35, threshold_den=100, max_df=0.2,
        n_docs=table_rows(spark, sf_dir, "documents"),
    )


QUERIES["ngram_jaccard_prefix"] = ngram_jaccard_prefix
ORACLES["ngram_jaccard_prefix"] = ORACLES["ngram_jaccard_pairs"]




# Round 6: k-core decomposition (iterative peeling to fixpoint)
from distributed_computing_spark.operators.graph import (  # noqa: E402
    kcore_oracle_sql,
    kcore_parts,
)

QUERIES["copurchase_kcore"] = kcore_parts
ORACLES["copurchase_kcore"] = kcore_oracle_sql(k=80, rounds=16)




# Round 6: GIF decode — the LZW compression family joins DEFLATE/DCT
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW-format image path, VALUE-GATED: genuine GIF87a blobs
    (palette + variable-width LZW with clear/EOI/KwKwK/4096-reset,
    spec-vector-pinned in tests) decoded by the pure-stdlib parser.
    Two planted bands per doc_id keep each channel mean closed-form:
    (band_a + band_b) / 2 — the same contract as the PNG/JPEG gates."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_images_gif(multimodal.gif_blobs(docs))


QUERIES["multimodal_gif_decode"] = multimodal_gif_decode
ORACLES["multimodal_gif_decode"] = """
SELECT doc_id AS blob_id, 16 AS width, 16 AS height,
       CAST((doc_id * 7) % 256 + (doc_id * 11) % 256 AS DOUBLE) / 2 AS mean_r,
       CAST((doc_id * 13) % 256 + (doc_id * 17) % 256 AS DOUBLE) / 2 AS mean_g,
       CAST((doc_id * 29) % 256 + (doc_id * 23) % 256 AS DOUBLE) / 2 AS mean_b
FROM documents"""


# Round 7 (VERDICT r6 item 5 timebox): the MP3 frame layer. The full
# transform decode is a RECORDED DEAD END (functions/mp3.py docstring:
# Tables B.7/B.3 are non-derivable tabulated constants, unverifiable
# without a reference decoder in this container) — what ships is the
# real container layer a 100 TB audio pipeline needs without decode:
# sync walk, header fields, frame-length arithmetic, the full mono
# side-info bit parse, and the exact zero-spectrum PCM path.
def multimodal_mp3_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III frame-layer path, VALUE-GATED: spec-valid
    planted silence streams (2+doc_id%3 frames, all 14 CBR bitrates,
    doc-derived side-info fields) parsed by the pure-stdlib frame
    walker and decoded through the exact zero-spectrum contract
    (1152 zero samples/frame — no tabulated data needed). The oracle
    closed-forms every parsed field: frame count, bitrate table
    lookup, the spec frame-size formula, sample math, and the
    side-info global_gain round-trip."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_audio_mp3(multimodal.mp3_blobs(docs))


QUERIES["multimodal_mp3_decode"] = multimodal_mp3_decode
ORACLES["multimodal_mp3_decode"] = """
WITH f AS (
  SELECT doc_id,
         2 + doc_id % 3 AS n_frames,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
           [CAST(doc_id % 14 AS INT) + 1] AS kbps
  FROM documents)
SELECT doc_id AS blob_id,
       CAST(n_frames AS INT) AS n_frames,
       CAST(kbps AS INT) AS bitrate_kbps,
       44100 AS sample_rate,
       -- spec frame size: floor(144000*kbps/44100), no padding planted
       CAST(n_frames * (144000 * kbps // 44100) AS BIGINT) AS total_bytes,
       CAST(1152 * n_frames AS BIGINT) AS n_samples,
       CAST(0 AS BIGINT) AS peak,
       CAST((doc_id * 7) % 256 AS INT) AS gg0
FROM f"""


# Round 7: multi-pattern phrase blocklist via Aho–Corasick (the phrase
# form of decontamination/policy filtering). The Spark side scans each
# document ONCE for the whole pattern set (token-alphabet automaton in
# an Arrow pass, hit-sized exchange); the oracle replays matching
# POSITIONALLY (generate_subscripts + list slice + equality) — an
# independent algorithm, same answer, overlapping occurrences counted.
_BLOCKLIST_PHRASES = [
    "batch batch batch",
    "window window",
    "sort merge",
    "table scan",
    "join order",
    "data line",
    "the fast key",
    "key order sort",
    "group query row",
    "slow small filter",
    "big slow",
    "merge part window",
]


def blocklist_phrase_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (doc, blocklisted phrase) hit with its overlap-inclusive
    occurrence count — one automaton pass per document regardless of
    blocklist size (dedup.blocklist_matches docstring has the scale
    contract). Reference analog: none — EXT curation mandate."""
    from distributed_computing_spark.operators.dedup import blocklist_matches
    from distributed_computing_spark.parallelism import spread_for_arrow

    docs = load_table(spark, sf_dir, "documents")
    # spread BEFORE the Python-bound automaton scan (round-12: the
    # sf-tier documents table is ONE split, so the whole AC pass ran
    # on one core; the helper is a no-op on well-split inputs). Batch
    # site only — the streaming twin can't call .rdd.
    return blocklist_matches(
        spread_for_arrow(docs.select("doc_id", "text")), _BLOCKLIST_PHRASES
    ).orderBy("doc_id", "phrase")


QUERIES["blocklist_phrase_matches"] = blocklist_phrase_matches
ORACLES["blocklist_phrase_matches"] = f"""
WITH pats AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS m
  FROM (VALUES {", ".join("('" + p + "')" for p in _BLOCKLIST_PHRASES)})
       p(phrase)),
t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
pos AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t),
g AS (
  SELECT p.doc_id, q.phrase,
         CASE WHEN p.i + q.m - 1 <= len(p.toks)
               AND array_to_string(p.toks[p.i : p.i + q.m - 1], ' ')
                   = q.phrase
              THEN 1 ELSE 0 END AS hit
  FROM pos p CROSS JOIN pats q)
SELECT doc_id, phrase, CAST(sum(hit) AS BIGINT) AS n_matches
FROM g GROUP BY doc_id, phrase HAVING sum(hit) > 0
ORDER BY doc_id, phrase"""


# Round 7: blocklist matching ON INGEST — the streaming × curation
# cross-link (the stream_cms_counts motion applied to policy
# filtering): the Aho–Corasick scan is a STATELESS Arrow map, so it
# runs in append mode with no state store at all; per-micro-batch
# output unions to exactly the batch answer because each doc's text
# arrives whole in one row. Gated by the SAME oracle as the batch
# query.
def stream_blocklist_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.dedup import blocklist_matches
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sdf = stream_table(spark, docs.select("doc_id", "text"))
    out = run_to_batch(
        blocklist_matches(sdf, _BLOCKLIST_PHRASES),
        spark,
        output_mode="append",
    )
    return out.orderBy("doc_id", "phrase")


QUERIES["stream_blocklist_matches"] = stream_blocklist_matches
ORACLES["stream_blocklist_matches"] = ORACLES["blocklist_phrase_matches"]


# Round 7: the INDEX-side plan for the same phrase semantics —
# positional postings + anchor voting (one broadcast join + one agg;
# mrapps/indexer.go's inverted index extended with positions).
# Registered against the SAME oracle as blocklist_phrase_matches: the
# bloom_semi_orders/ngram_jaccard_prefix optimizer-variant motion —
# two different distributed plans, gate-proven identical output.
def phrase_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.dedup import (
        phrase_search_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search_indexed(docs, _BLOCKLIST_PHRASES).orderBy(
        "doc_id", "phrase"
    )


QUERIES["phrase_search_index"] = phrase_search_index
ORACLES["phrase_search_index"] = ORACLES["blocklist_phrase_matches"]


# Round 6 (cont.): count-min sketch registers — the frequency sketch
# joins HLL (cardinality) under the strict gate; twin of the rows-only
# frequent_items the way hll_user_registers twins approx_distinct_users.
def cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 7 (VERDICT r6 item 4): feed the sketch from the FUSED Arrow
    # token counter instead of explode+groupBy — md5 work was already
    # cut to distinct tokens by the pre-agg; this cuts the pre-agg
    # itself (the explode-family rewrite, CLAUDE.md). Same sketch
    # bit-for-bit: fused_token_counts' token semantics are exactly
    # `tokens`, and weighting counters by n equals counting occurrences.
    from distributed_computing_spark.operators.analytics import (
        cms_register_sketch,
    )
    from distributed_computing_spark.operators.mapreduce import (
        fused_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = fused_token_counts(docs)
    return cms_register_sketch(
        wc, "word", depth=4, width=512, seed0=0, weight_col="cnt"
    ).orderBy("sketch_row", "register")


QUERIES["cms_word_counts"] = cms_word_counts
ORACLES["cms_word_counts"] = f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS word FROM documents),
wc AS (SELECT word, count(*) AS n FROM tok
       WHERE word IS NOT NULL GROUP BY word),
h AS (
  SELECT r, n,
         ('0x' || substr(md5(word || '#' || CAST(r AS VARCHAR)), 1, 15))::BIGINT
           % 512 AS register
  FROM wc, (VALUES (0), (1), (2), (3)) t(r))
SELECT CAST(r AS INTEGER) AS sketch_row, register,
       CAST(sum(n) AS BIGINT) AS cnt
FROM h GROUP BY r, register
ORDER BY sketch_row, register"""


# Round 6 (cont.): the CMS counter table maintained as a STREAMING
# aggregation — the sketch × streaming cross-link. The state store
# holds <= depth*width counters no matter how much data flows (the
# sketch IS the distributive agg state), and the AvailableNow replay's
# final state must equal the batch sketch bit-for-bit, so the batch
# oracle gates the streaming execution path (the stream_windowed
# motion applied to a sketch).
def stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.functions.text import tokens
    from distributed_computing_spark.operators.analytics import (
        cms_register_sketch,
    )
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sdf = stream_table(spark, docs.select("doc_id", "text"))
    words = sdf.select(F.explode(tokens("text")).alias("word"))
    out = run_to_batch(
        cms_register_sketch(words, "word", depth=4, width=512), spark
    )
    return out.orderBy("sketch_row", "register")


QUERIES["stream_cms_counts"] = stream_cms_counts
ORACLES["stream_cms_counts"] = ORACLES["cms_word_counts"]


# Round 6 (cont.): hop-capped multi-source BFS over the
# support-filtered co-purchase graph — graph distances join
# rank/triangles/k-core/components.
from distributed_computing_spark.operators.graph import (  # noqa: E402
    bfs_oracle_sql,
    copurchase_bfs,
)

QUERIES["copurchase_bfs"] = copurchase_bfs
ORACLES["copurchase_bfs"] = bfs_oracle_sql(
    min_support=2, n_seeds=10, max_hops=8
)


# Round 6 (cont.): the weighted companion — hop-capped Bellman-Ford
# over support-weighted edges (stronger co-purchase = shorter edge).
from distributed_computing_spark.operators.graph import (  # noqa: E402
    bellman_ford_oracle_sql,
    copurchase_shortest_paths,
)

QUERIES["copurchase_shortest_paths"] = copurchase_shortest_paths
ORACLES["copurchase_shortest_paths"] = bellman_ford_oracle_sql(
    min_support=2, n_seeds=10, max_rounds=6
)


# Round 6 (cont.): Bloom-filter-pruned semi join — an optimizer-variant
# entry (ngram_jaccard_prefix pattern) registered against the SAME
# result contract as semi_anti_orders: a 2 KB literal bitset built from
# the urgent-order custkeys prunes the customer scan BEFORE any
# exchange (possible false positives), and the exact semi/anti joins
# verify — identical output, one scan-side pre-filter the 100 TB plan
# wants. Membership completes the sketch trio (HLL, CMS, Bloom).
def bloom_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        bloom_bitset,
        bloom_membership,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    urgent = orders.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    bits = bloom_bitset(urgent, "o_custkey", m_bits=16384, k=5)
    cand = cust.where(
        bloom_membership("c_custkey", bits, m_bits=16384, k=5)
    )
    failed = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cand.join(
            urgent, cand["c_custkey"] == urgent["o_custkey"], "left_semi"
        )
        .join(
            failed, cand["c_custkey"] == failed["o_custkey"], "left_anti"
        )
        .select("c_custkey", "c_mktsegment")
    )


QUERIES["bloom_semi_orders"] = bloom_semi_orders
ORACLES["bloom_semi_orders"] = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""


# Round 6 (cont.): KMV distinct sketch — per-event-type k-minimum hash
# values; the set-operation-capable distinct sketch (Jaccard /
# intersection estimates HLL cannot provide), gated as exact integers.
def kmv_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    return kmv_sketch(ev, "event_type", "user_id", k=64, seed=0).orderBy(
        "event_type", "rnk"
    )


QUERIES["kmv_user_sketches"] = kmv_user_sketches
ORACLES["kmv_user_sketches"] = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#0'), 1, 15))::BIGINT
           AS hval
  FROM events),
r AS (
  SELECT event_type, hval,
         row_number() OVER (PARTITION BY event_type ORDER BY hval) AS rnk
  FROM h)
SELECT event_type, CAST(rnk AS INTEGER) AS rnk, hval
FROM r WHERE rnk <= 64
ORDER BY event_type, rnk"""


# Round 7: pairwise KMV sketch MERGE — the set-operation closure that
# makes KMV strictly stronger than HLL (union sketch = min-k of the
# union of sketches; intersection evidence via in_both). The Spark
# side merges SKETCHES (never rescans events); the oracle recomputes
# the same registers from the raw table — independent derivation,
# same integers. Estimates (kmv_estimate/kmv_jaccard) stay
# client-side per the float rule.
def kmv_pair_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        kmv_sketch,
        kmv_union_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", "user_id", k=64, seed=0)
    return kmv_union_sketches(sk, "event_type", k=64).orderBy(
        "g_a", "g_b", "rnk"
    )


# Round 7: distributive HLL ROLLUP — per-nation distinct-customer
# register tables merged to per-region by elementwise max, both levels
# gated. The merge NEVER rescans raw data; the oracle recomputes the
# REGION level directly from the raw rows, so the gate proves the
# distributive-algebra claim (merge of fine sketches == sketch of the
# union) — the property that lets per-partition sketches answer any
# coarser rollup at 100 TB.
def hll_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        hll_group_registers,
        hll_merge_registers,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    base = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    nat_regs = hll_group_registers(base, "n_name", "c_custkey", m=64, seed=0)
    mapping = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select("n_name", "r_name")
    reg_regs = hll_merge_registers(nat_regs, mapping, "n_name", "r_name")
    out = nat_regs.select(
        F.lit("nation").alias("level"),
        F.col("n_name").alias("grp"),
        "register",
        "max_rank",
    ).unionByName(
        reg_regs.select(
            F.lit("region").alias("level"),
            F.col("r_name").alias("grp"),
            "register",
            "max_rank",
        )
    )
    return out.orderBy("level", "grp", "register")


QUERIES["hll_nation_rollup"] = hll_nation_rollup
ORACLES["hll_nation_rollup"] = """
WITH h AS (
  SELECT n.n_name, r.r_name,
         ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR) || '#0'), 1, 15))::BIGINT
           AS h
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey),
x AS (SELECT n_name, r_name, h % 64 AS register, h // 64 AS rest FROM h),
nat AS (
  SELECT 'nation' AS level, n_name AS grp, register,
         CAST(max(CASE WHEN rest = 0 THEN 55
                       ELSE 55 - length(bin(rest)) END) AS BIGINT) AS max_rank
  FROM x GROUP BY n_name, register),
reg AS (
  SELECT 'region' AS level, r_name AS grp, register,
         CAST(max(CASE WHEN rest = 0 THEN 55
                       ELSE 55 - length(bin(rest)) END) AS BIGINT) AS max_rank
  FROM x GROUP BY r_name, register)
SELECT * FROM nat UNION ALL SELECT * FROM reg
ORDER BY level, grp, register"""


# Round 7: Hilbert-curve cells — the locality upgrade over Morton
# (no diagonal jumps → tighter per-file bounding boxes at the same
# bit budget). The full per-level quadrant/rotate arithmetic runs as
# a pure-JVM projection chain and is mirrored exactly by a generated
# chained-CTE oracle (the zorder_cells motion for a rotation-based
# curve).
def hilbert_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.layout import hilbert_cells

    return hilbert_cells(spark, sf_dir)


from distributed_computing_spark.operators.layout import (  # noqa: E402
    hilbert_cells_oracle_sql,
)

QUERIES["hilbert_cells"] = hilbert_cells_q
ORACLES["hilbert_cells"] = hilbert_cells_oracle_sql()


# Round 7: distributed Parquet FOOTER profiler — physical-layout
# observability (skew, compression ratios, row-group sizing) from
# footer-only reads: KBs per file no matter how big the data pages,
# distributed over the file list. ROWS-ONLY by necessity: the fields
# mirror DuckDB's parquet_metadata() exactly, but oracle SQL is static
# text and cannot carry the runtime sf_dir path — the exact
# cross-engine equality is pytest-pinned instead (test_layout's
# test_footer_profile_matches_duckdb_parquet_metadata).
def parquet_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from distributed_computing_spark.operators.layout import (
        parquet_footer_profile,
    )

    paths = [
        os.path.join(sf_dir, f"{t}.parquet") for t in ("lineitem", "orders")
    ]
    return parquet_footer_profile(spark, paths).orderBy(
        "file_name", "row_group", "column_name"
    )


QUERIES["parquet_profile"] = parquet_profile


# Round 8: the ACTION on the footer profiler — a compaction plan
# (name-ordered bin packing of compressed file bytes toward a target).
# Rows-only for the same reason as parquet_profile (static oracle SQL
# cannot carry the runtime data path); the exact pytest twin recomputes
# the plan from DuckDB's parquet_metadata() (test_layout).
def compaction_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from distributed_computing_spark.operators.layout import (
        compaction_plan,
        parquet_footer_profile,
    )

    paths = [
        os.path.join(sf_dir, f"{t}.parquet")
        for t in ("lineitem", "orders", "events", "documents")
    ]
    # a deliberately small target so multi-file bins exist at test SFs
    return compaction_plan(
        parquet_footer_profile(spark, paths), target_bytes=1 << 20
    )


QUERIES["compaction_plan"] = compaction_plan_q


# Round 7: FastSS deletion-neighborhood similarity join — general
# Levenshtein<=1 pairs INCLUDING insert/delete (the equal-length
# pigeonhole of fuzzy_customer_match can't reach those). Oracle is the
# brute-force levenshtein self-join — an independent algorithm; both
# engines' levenshtein are the classic DP distance, exact integers.
def edit1_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.linkage import (
        fastss_edit1_pairs,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fastss_edit1_pairs(cust, "c_custkey", "c_name").orderBy("a", "b")


QUERIES["edit1_customer_pairs"] = edit1_customer_pairs
ORACLES["edit1_customer_pairs"] = """
SELECT a.c_custkey AS a, b.c_custkey AS b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY a, b"""


QUERIES["kmv_pair_sketches"] = kmv_pair_sketches
ORACLES["kmv_pair_sketches"] = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#0'), 1, 15))::BIGINT
           AS hval
  FROM events),
sk AS (
  SELECT event_type, hval FROM (
    SELECT event_type, hval,
           row_number() OVER (PARTITION BY event_type ORDER BY hval) AS r0
    FROM h)
  WHERE r0 <= 64),
g AS (SELECT DISTINCT event_type FROM events),
p AS (SELECT a.event_type AS g_a, b.event_type AS g_b
      FROM g a, g b WHERE a.event_type < b.event_type),
u AS (
  SELECT p.g_a, p.g_b, s.hval,
         max(CASE WHEN s.event_type = p.g_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.event_type = p.g_b THEN 1 ELSE 0 END) AS in_b
  FROM p JOIN sk s ON s.event_type IN (p.g_a, p.g_b)
  GROUP BY p.g_a, p.g_b, s.hval),
r AS (
  SELECT g_a, g_b, hval, in_a, in_b,
         row_number() OVER (PARTITION BY g_a, g_b ORDER BY hval) AS rnk
  FROM u)
SELECT g_a, g_b, CAST(rnk AS INTEGER) AS rnk, hval,
       CAST(in_a * in_b AS INTEGER) AS in_both
FROM r WHERE rnk <= 64
ORDER BY g_a, g_b, rnk"""


# Round 8: association rules — the confidence/lift half of
# frequent-itemset mining on top of the bounded per-basket pair join.
# Integer-scaled (ppm) ranking keys keep the gate float-free.
def association_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        association_rules,
    )

    return association_rules(spark, sf_dir, min_count=3).orderBy(
        "lhs", "rhs"
    )


QUERIES["association_rules"] = association_rules_q
ORACLES["association_rules"] = """
WITH li AS (SELECT l_orderkey, l_partkey AS item FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
supp AS MATERIALIZED (
  SELECT item, count(DISTINCT l_orderkey) AS supp FROM li GROUP BY item),
pairs AS MATERIALIZED (
  SELECT a.item AS a, b.item AS b,
         count(DISTINCT a.l_orderkey) AS supp_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  WHERE a.l_orderkey NOT IN (SELECT l_orderkey FROM li
                             GROUP BY 1
                             HAVING count(DISTINCT item) > 10000)
  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 3),
rules AS (
  SELECT a AS lhs, b AS rhs, supp_ab FROM pairs
  UNION ALL SELECT b AS lhs, a AS rhs, supp_ab FROM pairs)
SELECT r.lhs, r.rhs, CAST(r.supp_ab AS BIGINT) AS supp_ab,
       CAST(sl.supp AS BIGINT) AS supp_lhs,
       CAST(sr.supp AS BIGINT) AS supp_rhs,
       CAST((r.supp_ab::HUGEINT * 1000000) // sl.supp AS BIGINT)
         AS conf_ppm,
       CAST((r.supp_ab::HUGEINT * n.n_orders * 1000000)
            // (sl.supp::HUGEINT * sr.supp) AS BIGINT) AS lift_ppm
FROM rules r
JOIN supp sl ON sl.item = r.lhs
JOIN supp sr ON sr.item = r.rhs
CROSS JOIN n
ORDER BY lhs, rhs"""


# Round 8: snapshot-diff CDC extraction — the INVERSE of ivm_refresh:
# derive the typed change set (I/U/D) by comparing two materialized
# state versions when no change log exists. State = per-customer
# trailing-180-day OPEN-order summary, whose membership can DROP, so
# all three ops fire (I=256 / D=250 / U=81 at sf0.01).
def customer_state_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff the customer open-order state at 1998-01-01 vs 1998-08-01
    into I/U/D rows via analytics.snapshot_diff (full-outer on the
    key, indicator-tracked presence, unchanged rows drop)."""
    from distributed_computing_spark.operators.analytics import (
        snapshot_diff,
    )

    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select("o_custkey", "o_orderdate")
    )

    def snap(cutoff: str) -> DataFrame:
        lo = F.date_sub(F.lit(cutoff).cast("timestamp"), 180)
        return (
            o.where(
                (F.col("o_orderdate") > lo)
                & (F.col("o_orderdate") <= F.lit(cutoff))
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_open"),
                # NTZ has no direct long cast; session tz is pinned UTC
                # so the TIMESTAMP hop preserves the wall-clock epoch
                F.max(
                    F.col("o_orderdate").cast("timestamp").cast("long")
                ).alias("last_sec"),
            )
        )

    return snapshot_diff(
        snap("1998-01-01"), snap("1998-08-01"),
        ["o_custkey"], ["n_open", "last_sec"],
    ).orderBy("o_custkey")


QUERIES["customer_state_cdc"] = customer_state_cdc
ORACLES["customer_state_cdc"] = """
WITH o AS (SELECT o_custkey, o_orderdate FROM orders
           WHERE o_orderstatus = 'O'),
s1 AS (
  SELECT o_custkey, count(*) AS n_open,
         max(epoch_us(o_orderdate) // 1000000) AS last_sec
  FROM o
  WHERE o_orderdate > TIMESTAMP '1998-01-01' - INTERVAL 180 DAY
    AND o_orderdate <= TIMESTAMP '1998-01-01'
  GROUP BY 1),
s2 AS (
  SELECT o_custkey, count(*) AS n_open,
         max(epoch_us(o_orderdate) // 1000000) AS last_sec
  FROM o
  WHERE o_orderdate > TIMESTAMP '1998-08-01' - INTERVAL 180 DAY
    AND o_orderdate <= TIMESTAMP '1998-08-01'
  GROUP BY 1)
SELECT COALESCE(s1.o_custkey, s2.o_custkey) AS o_custkey,
       CASE WHEN s1.o_custkey IS NULL THEN 'I'
            WHEN s2.o_custkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       CAST(s1.n_open AS BIGINT) AS old_n_open,
       CAST(s1.last_sec AS BIGINT) AS old_last_sec,
       CAST(s2.n_open AS BIGINT) AS new_n_open,
       CAST(s2.last_sec AS BIGINT) AS new_last_sec
FROM s1 FULL JOIN s2 ON s1.o_custkey = s2.o_custkey
WHERE s1.o_custkey IS NULL OR s2.o_custkey IS NULL
   OR s1.n_open <> s2.n_open OR s1.last_sec <> s2.last_sec
ORDER BY o_custkey"""


# Round 8: PMI collocations — float-free via the monotone-rank trick
# (log dropped; the ratio ranks identically in exact integers).
from distributed_computing_spark.operators.textstats import (  # noqa: E402
    bigram_pmi,
)

QUERIES["bigram_pmi"] = bigram_pmi
ORACLES["bigram_pmi"] = f"""
WITH t AS (SELECT {_TOKENS} AS toks FROM documents),
u AS (SELECT unnest(toks) AS w FROM t),
cu AS MATERIALIZED (SELECT w, count(*) AS c FROM u GROUP BY 1),
nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cu),
b AS (SELECT unnest(toks[1:greatest(len(toks) - 1, 0)]) AS x,
             unnest(toks[2:len(toks)]) AS y
      FROM t),
cb AS MATERIALIZED (SELECT x, y, count(*) AS n_xy FROM b GROUP BY 1, 2),
nb AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nb FROM cb)
SELECT cb.x || ' ' || cb.y AS bigram,
       CAST(cb.n_xy AS BIGINT) AS n_xy,
       CAST(cx.c AS BIGINT) AS n_x,
       CAST(cy.c AS BIGINT) AS n_y,
       CAST((cb.n_xy::HUGEINT * nt.n * nt.n * 1000000)
            // (nb.nb::HUGEINT * cx.c * cy.c) AS BIGINT) AS pmi_ppm
FROM cb
JOIN cu cx ON cx.w = cb.x
JOIN cu cy ON cy.w = cb.y
CROSS JOIN nt CROSS JOIN nb
WHERE cb.n_xy >= 15
ORDER BY pmi_ppm DESC, bigram
LIMIT 40"""


# Round 8: exact audience overlap via packed 62-bit bitmaps — the
# word-keyed exchange is |users|/62 the size of an id exchange; the
# KMV pair sketches are this matrix's approximate twin.
def audience_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        audience_overlap,
    )

    return audience_overlap(spark, sf_dir).orderBy("g_a", "g_b")


def stream_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap words maintained as STREAMING aggregation state
    (bit_or is idempotent AND distributive, so the micro-batched
    replay needs no dedup operator and its final state equals the
    batch packing bit-for-bit); the pair matrix is computed from the
    final state and gated by the batch oracle — the stream_cms_counts
    motion applied to exact bitmaps. State store holds one row per
    (type, word): bounded by the id range, not the event count."""
    from distributed_computing_spark.operators.analytics import (
        bitmap_words,
        overlap_matrix,
    )
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    from distributed_computing_spark.caching import session_tmpdir

    ev = load_table(spark, sf_dir, "events")
    sdf = stream_table(spark, ev.select("event_type", "user_id"))
    words = run_to_batch(
        bitmap_words(sdf, "event_type", "user_id"), spark
    )
    # flush the final state to parquet before the pair SELF-join: the
    # memory-sink view cannot be self-joined (Spark INTERNAL_ERROR,
    # conflicting references on the streaming View), and a state
    # flush-to-storage is the production handoff anyway
    out = session_tmpdir(prefix="dcs_bitmap_state_")
    words.write.mode("overwrite").parquet(out)
    return overlap_matrix(spark.read.parquet(out)).orderBy("g_a", "g_b")


QUERIES["stream_audience_overlap"] = stream_audience_overlap
QUERIES["audience_overlap"] = audience_overlap_q
ORACLES["audience_overlap"] = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
w AS MATERIALIZED (
  SELECT event_type, user_id // 62 AS word_idx,
         bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS mask
  FROM du GROUP BY 1, 2),
t AS (SELECT event_type, CAST(sum(bit_count(mask)) AS BIGINT) AS n_users
      FROM w GROUP BY 1),
i AS (
  SELECT a.event_type AS g_a, b.event_type AS g_b,
         CAST(sum(bit_count(a.mask & b.mask)) AS BIGINT) AS n_common
  FROM w a JOIN w b ON a.word_idx = b.word_idx
       AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT i.g_a, i.g_b, ta.n_users AS n_a, tb.n_users AS n_b, i.n_common,
       ta.n_users + tb.n_users - i.n_common AS n_union,
       CAST((i.n_common * 1000000)
            // (ta.n_users + tb.n_users - i.n_common) AS BIGINT)
         AS jaccard_ppm
FROM i JOIN t ta ON ta.event_type = i.g_a
JOIN t tb ON tb.event_type = i.g_b
ORDER BY g_a, g_b"""
# the streaming replay must equal the batch packing bit-for-bit, so
# the batch oracle gates the streaming execution path
ORACLES["stream_audience_overlap"] = ORACLES["audience_overlap"]


# Round 8: gaps-and-islands daily streaks + grouped integer-exact OLS.
def user_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import user_streaks

    return user_streaks(spark, sf_dir).orderBy("user_id")


QUERIES["user_streaks"] = user_streaks_q
ORACLES["user_streaks"] = """
WITH d AS (SELECT DISTINCT user_id,
                  epoch_us(ts) // 1000000 // 86400 AS day
           FROM events),
r AS (SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id
                                      ORDER BY day) AS isl
      FROM d),
s AS (SELECT user_id, isl, count(*) AS len FROM r GROUP BY 1, 2)
SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak
FROM s GROUP BY user_id ORDER BY user_id"""


def event_trend_slopes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        event_trend_slopes,
    )

    return event_trend_slopes(spark, sf_dir).orderBy("event_type")


QUERIES["event_trend_slopes"] = event_trend_slopes_q
ORACLES["event_trend_slopes"] = """
WITH p AS (SELECT event_type, epoch_us(ts) // 1000000 AS x,
                  CAST(floor(value * 100) AS BIGINT) AS y
           FROM events),
s AS (SELECT event_type, count(*)::HUGEINT AS n,
             sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
             sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
      FROM p GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
       CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
       CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den,
       CAST(CASE WHEN (n * sxx - sx * sx) <= 0 THEN NULL
            WHEN (n * sxy - sx * sy) >= 0
            THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
            ELSE -(((sx * sy - n * sxy) * 1000000) // (n * sxx - sx * sx))
            END AS BIGINT) AS slope_ppm
FROM s ORDER BY event_type"""


# Round 8: strict sequential funnel (greedy earliest-completion with a
# deadline) — the MATCH_RECOGNIZE semantics funnel_conversion's
# first-touch comparison doesn't give.
def funnel_strict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import funnel_strict

    return funnel_strict(spark, sf_dir)


QUERIES["funnel_strict"] = funnel_strict_q
ORACLES["funnel_strict"] = """
WITH e AS (SELECT user_id, event_type,
                  epoch_us(ts) // 1000000 AS sec
           FROM events),
s1 AS (SELECT user_id,
              min(CASE WHEN event_type = 'view' THEN sec END) AS t1
       FROM e GROUP BY 1),
s2 AS (SELECT e.user_id, s1.t1,
              min(CASE WHEN e.event_type = 'click' AND e.sec > s1.t1
                       THEN e.sec END) AS t2
       FROM e JOIN s1 ON e.user_id = s1.user_id
       GROUP BY 1, 2),
s3 AS (SELECT e.user_id, s2.t1, s2.t2,
              min(CASE WHEN e.event_type = 'purchase' AND e.sec > s2.t2
                       THEN e.sec END) AS t3
       FROM e JOIN s2 ON e.user_id = s2.user_id
       GROUP BY 1, 2, 3)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_step1,
       CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_step2,
       CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_step3,
       CAST(sum(CASE WHEN t3 - t1 <= 604800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_window
FROM s3"""


# Round 8: connected components as a FIRST-CLASS graph op (the
# transitive closure neardup_clusters runs on the similarity graph,
# exposed by name on the co-purchase graph: nodes = every part in
# lineitem, edges = support>=3 co-purchase pairs; singletons keep
# their own label).
def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation to fixpoint over the co-purchase graph —
    (part_id, cluster_id = smallest part in the component). Reuses
    dedup.neardup_clusters' iterative engine: broadcast-free
    edge⋈label join per round, driver holds only loop control."""
    from distributed_computing_spark.operators.analytics import (
        copurchase_pairs,
    )
    from distributed_computing_spark.operators.dedup import neardup_clusters

    li = load_table(spark, sf_dir, "lineitem")
    parts = li.select(F.col("l_partkey").alias("part_id")).distinct()
    pairs = copurchase_pairs(spark, sf_dir, min_count=3)
    return neardup_clusters(parts, pairs, id_col="part_id").orderBy(
        "part_id"
    )


QUERIES["copurchase_components"] = copurchase_components
ORACLES["copurchase_components"] = (
    "WITH RECURSIVE pairs AS MATERIALIZED ("
    + ORACLES["copurchase_pairs"]
    + """),
nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
e AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(n, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.n)
SELECT n AS part_id, min(r) AS cluster_id FROM reach GROUP BY n
ORDER BY part_id"""
)


# Round 8: time-weighted average (TWAP) — the telemetry/financial
# resampling statistic events_ohlc doesn't give: each observation
# weighs by its holding time until the next one, all integer (cents ×
# seconds; the quotient is a non-negative integer division).
def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type time-weighted average value over the observed span:
    one event-type-keyed exchange serves the lead() window; the
    value·dt products sum as DECIMAL(38,0) (20M-row replicas push a
    long sum near 2^63) but SHIP as the canonical digit string —
    DECIMAL final columns value-hash differently in the driver
    environment (VERDICT r8 item 1). The twap quotient guards the
    zero-span group (every event of a type on one second — ADVICE r8):
    NULL on both engines instead of an ANSI divide-by-zero throw."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("ts").cast("long").alias("sec"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    iv = ev.withColumn("next_sec", F.lead("sec").over(w)).where(
        F.col("next_sec").isNotNull()
    )
    sums = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("next_sec") - F.col("sec")).alias("span_s"),
        F.sum(
            (
                F.col("v_cents").cast("decimal(38,0)")
                * (F.col("next_sec") - F.col("sec")).cast("decimal(38,0)")
            )
        ).alias("vt_sum"),
    )
    return sums.select(
        "event_type",
        "n_intervals",
        "span_s",
        F.col("vt_sum").cast("string").alias("vt_sum"),
        F.expr(
            "case when span_s > 0 then "
            "cast(vt_sum div cast(span_s as decimal(38,0)) as bigint) end"
        ).alias("twap_cents"),
    ).orderBy("event_type")


QUERIES["events_twap"] = events_twap
ORACLES["events_twap"] = """
WITH p AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 AS sec,
         CAST(floor(value * 100) AS BIGINT) AS v_cents,
         lead(epoch_us(ts) // 1000000)
           OVER (PARTITION BY event_type
                 ORDER BY epoch_us(ts) // 1000000, event_id) AS next_sec
  FROM events),
s AS (
  SELECT event_type, count(*) AS n_intervals,
         sum(next_sec - sec) AS span_s,
         sum(v_cents::HUGEINT * (next_sec - sec)) AS vt_sum
  FROM p WHERE next_sec IS NOT NULL GROUP BY 1)
SELECT event_type, CAST(n_intervals AS BIGINT) AS n_intervals,
       CAST(span_s AS BIGINT) AS span_s,
       CAST(CAST(vt_sum AS HUGEINT) AS VARCHAR) AS vt_sum,
       CASE WHEN span_s > 0
            THEN CAST(vt_sum // span_s::HUGEINT AS BIGINT) END AS twap_cents
FROM s ORDER BY event_type"""


# Round 8: exact sliding-window distinct via bitmap coverage — the
# trailing-7-day audience per type/day in O(words), never a per-window
# rescan (HLL rollup is the approximate twin).
def sliding_audience_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        sliding_audience,
    )

    return sliding_audience(spark, sf_dir, window_days=7)


QUERIES["sliding_audience_7d"] = sliding_audience_7d
ORACLES["sliding_audience_7d"] = """
WITH d AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 // 86400 AS day,
         user_id // 62 AS w,
         bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS mask
  FROM events GROUP BY 1, 2, 3),
mx AS (SELECT max(day) AS md FROM d),
cov AS (
  SELECT event_type, unnest(range(day, day + 7)) AS day_end, w, mask
  FROM d),
wnd AS (
  SELECT event_type, day_end, w, bit_or(mask) AS m7
  FROM cov, mx WHERE day_end <= mx.md
  GROUP BY 1, 2, 3)
SELECT event_type, CAST(day_end AS BIGINT) AS day_end,
       CAST(sum(bit_count(m7)) AS BIGINT) AS n_users_7d
FROM wnd GROUP BY 1, 2 ORDER BY 1, 2"""


# Round 8: ADOPT the measured layout winner (VERDICT r7 item 5) — the
# Hilbert layout now backs a scan-pruning gated query, not just the
# cell-histogram arithmetic. Distinct probe window from the Morton twin
# so the two gates are independent; oracle scans the RAW table.
from distributed_computing_spark.operators.layout import (  # noqa: E402
    hilbert_events_scan,
    hilbert_scan_oracle_sql,
)

QUERIES["hilbert_events_scan"] = hilbert_events_scan
ORACLES["hilbert_events_scan"] = hilbert_scan_oracle_sql()


# ---------------------------------------------------------------------------
# Round 9: rank statistics, Benford audit, co-purchase cosine, SCD2
# point-in-time, and three decorrelation-shaped relational classics
# ---------------------------------------------------------------------------


def spearman_qty_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        spearman_qty_price,
    )

    return spearman_qty_price(spark, sf_dir).orderBy("l_returnflag")


QUERIES["spearman_qty_price"] = spearman_qty_price_q
ORACLES["spearman_qty_price"] = """
WITH r AS (
  SELECT l_returnflag,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY CAST(floor(l_quantity * 100) AS BIGINT)) AS rq,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY CAST(floor(l_extendedprice * 100) AS BIGINT))
           AS rp
  FROM lineitem),
s AS (
  SELECT l_returnflag, count(*)::HUGEINT AS n,
         sum((rq - rp)::HUGEINT * (rq - rp)) AS sum_d2
  FROM r GROUP BY 1)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       CAST(sum_d2 AS VARCHAR) AS sum_d2,
       CAST(CASE WHEN n >= 2 THEN
              1000000 - (6 * sum_d2 * 1000000) // (n * (n * n - 1))
            END AS BIGINT) AS rho_ppm
FROM s ORDER BY l_returnflag"""


def benford_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import benford_audit

    return benford_audit(spark, sf_dir)


def _benford_oracle_sql() -> str:
    from distributed_computing_spark.operators.analytics import BENFORD_PPM

    cases = " ".join(
        f"WHEN {d} THEN {ppm}" for d, ppm in BENFORD_PPM.items()
    )
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE CAST(floor(o_totalprice * 100) AS BIGINT) >= 1),
c AS (SELECT digit, count(*) AS n_orders FROM d WHERE digit >= 1 GROUP BY 1),
t AS (SELECT sum(n_orders) AS n_total FROM c)
SELECT digit, CAST(n_orders AS BIGINT) AS n_orders,
       CAST((n_orders * 1000000) // n_total AS BIGINT) AS observed_ppm,
       CAST((n_orders * 1000000) // n_total
            - (CASE digit {cases} END) AS BIGINT) AS deviation_ppm
FROM c, t ORDER BY digit"""


QUERIES["benford_audit"] = benford_audit_q
ORACLES["benford_audit"] = _benford_oracle_sql()


def copurchase_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        copurchase_cosine,
    )

    return copurchase_cosine(spark, sf_dir, min_count=3).orderBy("a", "b")


QUERIES["copurchase_cosine"] = copurchase_cosine_q
ORACLES["copurchase_cosine"] = (
    "WITH pairs AS MATERIALIZED ("
    + ORACLES["copurchase_pairs"]
    + """),
supp AS MATERIALIZED (
  SELECT l_partkey AS pk, count(DISTINCT l_orderkey) AS supp
  FROM lineitem GROUP BY 1)
SELECT p.a, p.b, p.n_orders AS supp_ab,
       sa.supp AS supp_a, sb.supp AS supp_b,
       CAST((p.n_orders::HUGEINT * p.n_orders * 1000000)
            // (sa.supp::HUGEINT * sb.supp) AS BIGINT) AS cos2_ppm
FROM pairs p JOIN supp sa ON sa.pk = p.a JOIN supp sb ON sb.pk = p.b
ORDER BY p.a, p.b"""
)


def scd2_pointintime_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        scd2_pointintime,
    )

    return scd2_pointintime(spark, sf_dir)


QUERIES["scd2_pointintime"] = scd2_pointintime_q
# The oracle rebuilds the same two-version SCD2 history in closed form
# (the customer_scd2 oracle's CASE logic) and probes it with the same
# validity predicate — an independent derivation, not a shared CTE.
ORACLES["scd2_pointintime"] = """
WITH active AS (SELECT o_custkey AS c_custkey FROM orders
                GROUP BY 1 HAVING count(*) >= 12),
hist AS (
  -- v1 rows: original segment; closed at 2 if upgraded, else at 3 if
  -- churned, else open
  SELECT c.c_custkey, c.c_mktsegment AS segment, 1 AS valid_from,
         CASE WHEN a.c_custkey IS NOT NULL THEN 2
              WHEN c.c_custkey % 7 = 0 THEN 3 END AS valid_to
  FROM customer c LEFT JOIN active a ON c.c_custkey = a.c_custkey
  UNION ALL
  -- v2 rows: upgraded customers; closed at 3 if churned
  SELECT c_custkey, 'UPGRADED', 2,
         CASE WHEN c_custkey % 7 = 0 THEN 3 END
  FROM active
  UNION ALL
  -- v3 rows: churned customers
  SELECT c_custkey, 'CHURNED', 3, NULL
  FROM customer WHERE c_custkey % 7 = 0),
probe AS (
  SELECT o_custkey AS c_custkey, 1 + o_orderkey % 3 AS probe_v,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders)
SELECT p.probe_v, h.segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(CAST(sum(p.price) AS DECIMAL(38,2)), 2) AS DOUBLE)
         AS revenue
FROM probe p JOIN hist h
  ON h.c_custkey = p.c_custkey
 AND h.valid_from <= p.probe_v
 AND (h.valid_to IS NULL OR h.valid_to > p.probe_v)
GROUP BY 1, 2 ORDER BY 1, 2"""


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped decorrelation (round 9): revenue from lineitems
    whose quantity is below 20% of the PER-PART average — the classic
    correlated scalar subquery, decorrelated into a per-part aggregate
    joined back to the fact. The threshold compares exactly in
    integers: qty < 0.2·avg ⇔ 5·qty_cents·n_i < sum_qty_cents (strict
    inequality, no division). Revenue sums as exact DECIMAL cents and
    rounds while exact (the customer_upsert rule).

    Plan: the per-part (sum, count) aggregate partial-aggregates
    map-side, and the join back to lineitem shuffles BOTH sides on
    l_partkey — co-partitioned, the 100 TB shape (at warehouse scale
    the part-filtered fraction broadcasts instead; here the filter
    keeps ~1/5 of parts so the exchange is the honest plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brands = part.where(F.col("p_brand").isin("Brand#1", "Brand#2")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    q = li.select(
        "l_partkey",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("qc"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    ).join(brands, "l_partkey", "left_semi")
    per_part = q.groupBy("l_partkey").agg(
        F.sum("qc").alias("sum_qc"), F.count(F.lit(1)).alias("n_li")
    )
    return (
        q.join(per_part, "l_partkey")
        .where(F.lit(5) * F.col("qc") * F.col("n_li") < F.col("sum_qc"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(F.sum("price").cast("decimal(38,2)"), 2)
            .cast("double")
            .alias("small_qty_revenue"),
        )
    )


QUERIES["small_qty_revenue"] = small_qty_revenue
ORACLES["small_qty_revenue"] = """
WITH q AS (
  SELECT l.l_partkey,
         CAST(floor(l.l_quantity * 100) AS BIGINT) AS qc,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_brand IN ('Brand#1', 'Brand#2'))),
pp AS (SELECT l_partkey, sum(qc) AS sum_qc, count(*) AS n_li
       FROM q GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_small,
       CAST(round(CAST(sum(q.price) AS DECIMAL(38,2)), 2) AS DOUBLE)
         AS small_qty_revenue
FROM q JOIN pp ON q.l_partkey = pp.l_partkey
WHERE 5 * q.qc * pp.n_li < pp.sum_qc"""


def large_volume_orders(
    spark: SparkSession, sf_dir: str, min_qty_cents: int = 30_000
) -> DataFrame:
    """TPC-H Q18-shaped HAVING join (round 9): orders whose total
    quantity exceeds a threshold, with their customer and priority —
    aggregate-then-join, the "large volume customer" report. Quantity
    compares in exact cents; the qualifying-order set is tiny, so the
    join back to orders/customer BROADCASTS it (plan-asserted shape:
    fact aggregates first, dimensions attach to the survivors)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias(
                "qty_cents"
            )
        )
        .where(F.col("qty_cents") > min_qty_cents)
    )
    return (
        orders.join(
            F.broadcast(big),
            orders["o_orderkey"] == big["l_orderkey"],
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "o_orderkey",
            "c_name",
            "o_orderpriority",
            "qty_cents",
        )
        .orderBy(F.col("qty_cents").desc(), "o_orderkey")
    )


QUERIES["large_volume_orders"] = large_volume_orders
# DuckDB types sum(BIGINT) as HUGEINT — the round-8 value-hash class on
# the ORACLE side (CORRECTNESS_r09: rows+schema green, hash red). Every
# oracle aggregate that lands in a FINAL column must cast back to
# BIGINT; tests/test_registry.test_no_hugeint_or_decimal_in_any_oracle
# _output_schema sweeps the whole registry.
ORACLES["large_volume_orders"] = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents
  FROM lineitem GROUP BY 1 HAVING qty_cents > 30000)
SELECT o.o_orderkey, c.c_name, o.o_orderpriority, b.qty_cents
FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY b.qty_cents DESC, o.o_orderkey"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional-aggregate ratio (round 9): the
    share of revenue from promo-class parts per ship-month, as an
    integer ppm of exact cent sums (two DECIMAL sums in ONE pass —
    no float division under the gate; the CASE folds into the partial
    aggregate so only (month, 2 sums) rows exchange). Part class
    attaches by BROADCAST (dimension-sized)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pclass = part.select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_type").startswith("PROMO").alias("is_promo"),
    )
    j = li.join(F.broadcast(pclass), "l_partkey").select(
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        "is_promo",
        (
            F.floor(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
        ).alias("cents"),
    )
    agg = j.groupBy("ship_month").agg(
        F.sum(F.when(F.col("is_promo"), F.col("cents")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(
            "promo_cents"
        ),
        F.sum("cents").alias("total_cents"),
    )
    return agg.select(
        "ship_month",
        F.col("promo_cents").cast("string").alias("promo_cents"),
        F.col("total_cents").cast("string").alias("total_cents"),
        F.expr(
            "case when total_cents > 0 then "
            "cast(promo_cents * 1000000 div total_cents as bigint) end"
        ).alias("promo_ppm"),
    ).orderBy("ship_month")


QUERIES["promo_revenue_share"] = promo_revenue_share
ORACLES["promo_revenue_share"] = """
WITH j AS (
  SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
         p.p_type LIKE 'PROMO%' AS is_promo,
         CAST(floor(l.l_extendedprice * 100) AS HUGEINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
a AS (
  SELECT ship_month,
         sum(CASE WHEN is_promo THEN cents ELSE 0 END) AS promo_cents,
         sum(cents) AS total_cents
  FROM j GROUP BY 1)
SELECT ship_month,
       CAST(promo_cents AS VARCHAR) AS promo_cents,
       CAST(total_cents AS VARCHAR) AS total_cents,
       CAST(CASE WHEN total_cents > 0
            THEN (promo_cents * 1000000) // total_cents END AS BIGINT)
         AS promo_ppm
FROM a ORDER BY ship_month"""


def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (round 9): real-codec BMP blobs
    with planted one-pixel near-duplicates → 56-bit integer dHash →
    pigeonhole band join → exact Hamming verify. The dedup family's
    banded-candidate discipline applied to the multimodal column.
    ORACLE-EXACT since round 10 (VERDICT r9 item 5): the blob
    generator is closed-form integer algebra, so the oracle derives
    every expected dHash in SQL (_dhash_core_cte) and replays the
    band join + Hamming verify — the Spark side still decodes the
    REAL BMP byte stream, making the gate an independent derivation.
    The pure-Python twin (tests/test_multimodal.py, shared dhash_py
    definition) stays as the third leg."""

    docs = load_table(spark, sf_dir, "documents")
    hashes = multimodal.dhash_images(multimodal.textured_blobs(docs))
    return multimodal.image_neardup_pairs(hashes, max_hamming=4).orderBy("a", "b")


QUERIES["image_dhash_neardup"] = image_dhash_neardup


def _dhash_core_cte(src_select: str) -> str:
    """The dHash CLOSED FORM as SQL CTEs (round 10, VERDICT r9 item 5):
    ``textured_pixels`` is pure integer arithmetic on (s, pos) and
    ``dhash_py`` point-samples a fixed (9 x, 7 y) grid — so the
    expected hash of every planted blob is derivable ENTIRELY in SQL,
    which graduates image/video near-dup from rows-only to the strict
    oracle gate with NO fixture side-channel (the decode step stays
    real on the Spark side; the oracle derives the same 56-bit hash
    from the generator's algebra — an independent derivation, verified
    bit-exact against dhash_py in tests/test_multimodal.py).

    ``src_select`` must yield (id, s, pos): one row per image, where
    s/pos are ``textured_pixels``' seed and flip-position arguments.
    Grid literals are ``(i*16)//9`` and ``(j*16)//7`` precomputed in
    Python; luma = r*299 + g*587 + b*114 with channel c = (base+11c)
    % 256 and the flipped pixel's +128 folded into the modulus; bit
    (j*8+i) set iff lum[y, xs[i]] > lum[y, xs[i+1]]. The final CAST
    keeps the sum out of HUGEINT (CLAUDE.md rule)."""
    return f"""xs(i, x) AS (VALUES (0,0),(1,1),(2,3),(3,5),(4,7),(5,8),
                   (6,10),(7,12),(8,14)),
ys(j, y) AS (VALUES (0,0),(1,2),(2,4),(3,6),(4,9),(5,11),(6,13)),
src AS ({src_select}),
lb AS (
  SELECT src.id, ys.j, xs.i,
         xs.x * ys.y * (1 + src.s % 9) + xs.x * (3 + src.s % 5)
           + ys.y * (5 + src.s % 7) + 37 * src.s AS b0,
         CASE WHEN ys.y = (src.pos * 5) % 16 AND xs.x = (src.pos * 11) % 16
              THEN 128 ELSE 0 END AS fl
  FROM src, xs, ys),
lum AS (
  SELECT id, j, i,
         ((b0 + fl) % 256) * 299 + ((b0 + 11 + fl) % 256) * 587
           + ((b0 + 22 + fl) % 256) * 114 AS l
  FROM lb),
h AS (
  SELECT l.id,
         CAST(sum(CASE WHEN l.l > r.l
                       THEN CAST(1 AS BIGINT) << (l.j * 8 + l.i)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
  FROM lum l JOIN lum r ON r.id = l.id AND r.j = l.j AND r.i = l.i + 1
  WHERE l.i < 8
  GROUP BY 1)"""


# Band join + Hamming verify mirrored from multimodal.image_neardup_pairs
# (7 x 8-bit pigeonhole bands, max_bucket=1000 absolute cap, exact
# xor+bit_count <= 4).
ORACLES["image_dhash_neardup"] = (
    "WITH "
    + _dhash_core_cte(
        "SELECT doc_id AS id, doc_id // 20 AS s, doc_id % 20 AS pos "
        "FROM documents"
    )
    + """,
bd AS (
  SELECT h.id, h.dhash, b.band_idx,
         (h.dhash >> (b.band_idx * 8)) & 255 AS band_val
  FROM h, (VALUES (0),(1),(2),(3),(4),(5),(6)) b(band_idx)),
sized AS (
  SELECT id, dhash, band_idx, band_val FROM (
    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bn
    FROM bd)
  WHERE bn <= 1000),
cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b, a.dhash AS ha, b.dhash AS hb
  FROM sized a JOIN sized b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.id < b.id)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 4
ORDER BY a, b"""
)


def event_dark_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-gap audit per event_type (round 9): the gaps-and-islands
    COMPLEMENT of user_streaks — days with no events between a type's
    first and last active day ("the sensor went dark"), as total
    missing days + the longest dark stretch. lag() over the distinct
    active-day table; integer epoch-day arithmetic end-to-end. ONE
    type-keyed exchange serves the ordering window and the rollup."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "event_type", F.expr("cast(ts as long) div 86400").alias("day")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("day")
    gaps = days.withColumn(
        "gap", F.col("day") - F.lag("day").over(w) - 1
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_active_days"),
            F.coalesce(F.sum("gap"), F.lit(0)).alias("n_dark_days"),
            F.coalesce(F.max("gap"), F.lit(0)).alias("longest_dark"),
        )
        .orderBy("event_type")
    )


QUERIES["event_dark_gaps"] = event_dark_gaps
ORACLES["event_dark_gaps"] = """
WITH d AS (SELECT DISTINCT event_type,
                  epoch_us(ts) // 1000000 // 86400 AS day
           FROM events),
g AS (SELECT event_type, day,
             day - lag(day) OVER (PARTITION BY event_type ORDER BY day) - 1
               AS gap
      FROM d)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_active_days,
       CAST(coalesce(sum(gap), 0) AS BIGINT) AS n_dark_days,
       CAST(coalesce(max(gap), 0) AS BIGINT) AS longest_dark
FROM g GROUP BY event_type ORDER BY event_type"""


def event_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MODE with a deterministic tie-break (round 9): per
    event_type, the most frequent exact cent value (smallest value
    wins ties) and its count — the argmax-per-group pattern
    (count-groupBy then a one-row-per-group window, which compiles to
    WindowGroupLimit's map-side prune; no self-join, no collect)."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        )
        .groupBy("event_type", "v_cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("v_cents")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", F.col("v_cents").alias("mode_cents"), "n")
        .orderBy("event_type")
    )


QUERIES["event_mode_value"] = event_mode_value
ORACLES["event_mode_value"] = """
WITH c AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v_cents,
         count(*) AS n
  FROM events GROUP BY 1, 2),
r AS (SELECT event_type, v_cents, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, v_cents) AS rk
      FROM c)
SELECT event_type, v_cents AS mode_cents, CAST(n AS BIGINT) AS n
FROM r WHERE rk = 1 ORDER BY event_type"""


def sliding_audience_hll_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        sliding_audience_hll,
    )

    return sliding_audience_hll(spark, sf_dir, window_days=90)


QUERIES["sliding_audience_hll_90d"] = sliding_audience_hll_90d
ORACLES["sliding_audience_hll_90d"] = """
WITH h AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#0'), 1, 15))::BIGINT
           AS h
  FROM events),
d AS (
  SELECT event_type, day, h % 64 AS register,
         max(CASE WHEN h // 64 = 0 THEN 55
                  ELSE 55 - length(bin(h // 64)) END) AS max_rank
  FROM h GROUP BY 1, 2, 3),
mx AS (SELECT max(day) AS md FROM d),
cov AS (SELECT event_type, unnest(range(day, day + 90)) AS day_end,
               register, max_rank
        FROM d),
w AS (SELECT event_type, day_end, register, max(max_rank) AS mr
      FROM cov, mx WHERE day_end <= mx.md GROUP BY 1, 2, 3)
SELECT event_type, CAST(day_end AS BIGINT) AS day_end,
       CAST(count(*) AS BIGINT) AS n_registers,
       CAST(sum(mr) AS BIGINT) AS sum_rank,
       CAST(max(mr) AS BIGINT) AS max_rank
FROM w GROUP BY 1, 2 ORDER BY 1, 2"""


# Round 9: perceptual hashing ON INGEST — the stream_blocklist motion
# applied to the multimodal column: decode + dHash is a STATELESS
# Arrow map (mapInPandas runs unchanged under Structured Streaming),
# so it rides append mode with no state store and the micro-batched
# union equals the batch answer exactly (each blob arrives whole).
# Rows-only under the driver (no SQL decode); the exact twin is
# tests/test_streaming.py's stream==batch equality.
def stream_dhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = multimodal.textured_blobs(docs)
    sdf = stream_table(spark, blobs)
    out = run_to_batch(multimodal.dhash_images(sdf), spark, output_mode="append")
    return out.orderBy("blob_id")


QUERIES["stream_dhash_ingest"] = stream_dhash_ingest


def kv_merkle_diff(spark: SparkSession, sf_dir: str, n_buckets: int = 64) -> DataFrame:
    """Anti-entropy bucket comparison between two KV replicas (round
    9): the replayed state vs a deterministically-CORRUPTED replica
    (keys ≡ 0 mod 3 carry a trailing '!', keys ≡ 1 mod 3 are missing —
    the planted divergence a repair pass must localize) — Merkle-style
    digest tables (md5-bucketed, bit_xor row hashes) compared by a
    full-outer join on bucket, emitting only DIVERGED buckets. The
    100 TB story: two replicas compare by exchanging n_buckets digest
    rows each, never row data (operators/kv.py merkle_digests;
    reference analog: shard-handoff state verification,
    shardkv/server.go). The divergence is PLANTED rather than derived
    from a half-log snapshot because the ops adapter's req_id
    high-water suppression makes the effective log an early prefix —
    at sf0.1 the half-log state already equals the full state and a
    snapshot-based diff gates on an empty output."""
    from distributed_computing_spark.operators.kv import merkle_diff

    full = kv_state(spark, sf_dir)
    key_num = F.col("key").cast("long")
    corrupted = full.where(F.pmod(key_num, F.lit(3)) != 1).select(
        "key",
        F.when(
            F.pmod(key_num, F.lit(3)) == 0,
            F.concat(F.col("value"), F.lit("!")),
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return (
        merkle_diff(full, corrupted, n_buckets=n_buckets)
        .select(
            "bucket",
            F.col("n_a").alias("n_good"),
            F.col("n_b").alias("n_corrupt"),
            F.col("digest_a").alias("digest_good"),
            F.col("digest_b").alias("digest_corrupt"),
        )
        .orderBy("bucket")
    )


QUERIES["kv_merkle_diff"] = kv_merkle_diff
ORACLES["kv_merkle_diff"] = f"""
WITH {_OPS_CTE},
{_EFF_CTE},
lpf AS (
  SELECT *, max(CASE WHEN op = 'put' THEN seq END)
              OVER (PARTITION BY "key") AS last_put_seq
  FROM eff),
full_state AS (
  SELECT "key", string_agg("value", '' ORDER BY seq) AS "value"
  FROM lpf
  WHERE op IN ('put', 'append') AND seq >= coalesce(last_put_seq, -1)
  GROUP BY "key"),
corrupted AS (
  SELECT "key",
         CASE WHEN "key"::BIGINT % 3 = 0 THEN "value" || '!'
              ELSE "value" END AS "value"
  FROM full_state WHERE "key"::BIGINT % 3 != 1),
da AS (
  SELECT ('0x' || substr(md5("key" || '#0'), 1, 15))::BIGINT % 64 AS bucket,
         count(*) AS n,
         bit_xor(('0x' || substr(md5(
           ('k' || CAST(length("key") AS VARCHAR) || ':' || "key"
            || CASE WHEN "value" IS NULL THEN '|n'
                    ELSE '|v' || CAST(length("value") AS VARCHAR) || ':'
                         || "value" END) || '#1'),
           1, 15))::BIGINT) AS dg
  FROM full_state GROUP BY 1),
db AS (
  SELECT ('0x' || substr(md5("key" || '#0'), 1, 15))::BIGINT % 64 AS bucket,
         count(*) AS n,
         bit_xor(('0x' || substr(md5(
           ('k' || CAST(length("key") AS VARCHAR) || ':' || "key"
            || CASE WHEN "value" IS NULL THEN '|n'
                    ELSE '|v' || CAST(length("value") AS VARCHAR) || ':'
                         || "value" END) || '#1'),
           1, 15))::BIGINT) AS dg
  FROM corrupted GROUP BY 1),
j AS (
  SELECT coalesce(da.bucket, db.bucket) AS bucket,
         coalesce(da.n, 0) AS n_good, coalesce(db.n, 0) AS n_corrupt,
         coalesce(da.dg, 0) AS digest_good,
         coalesce(db.dg, 0) AS digest_corrupt
  FROM da FULL OUTER JOIN db ON da.bucket = db.bucket)
SELECT bucket, CAST(n_good AS BIGINT) AS n_good,
       CAST(n_corrupt AS BIGINT) AS n_corrupt, digest_good,
       digest_corrupt
FROM j
WHERE n_good != n_corrupt OR digest_good != digest_corrupt
ORDER BY bucket"""


def video_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via frame-hash overlap (round 9): real AVI parse
    → per-frame integer dHash → exact-hash join → shared-frame count —
    the shot-level video dedup over planted same-seed frame sequences.
    ORACLE-EXACT since round 10: the frame generator is closed-form
    integer algebra, so the oracle derives every expected frame hash in
    SQL (_dhash_core_cte) and replays the exact-hash overlap join —
    the Spark side still parses the REAL AVI byte stream."""

    docs = load_table(spark, sf_dir, "documents")
    fh = multimodal.video_frame_hashes(multimodal.textured_avi_blobs(docs))
    return multimodal.video_neardup_pairs(fh, min_shared=4).orderBy("a", "b")


QUERIES["video_dhash_neardup"] = video_dhash_neardup
# Frame s-values mirror textured_avi_blobs: frame f of video v renders
# textured_pixels(seed*997 + f*31, 1) except the member slot
# (member % 8), overwritten with the member-unique pattern; group_size
# 1 means pos = 0 everywhere. id packs (doc_id, frame) as doc_id*8+f.
ORACLES["video_dhash_neardup"] = (
    "WITH "
    + _dhash_core_cte(
        """SELECT d.doc_id * 8 + t.f AS id,
         CASE WHEN t.f = (d.doc_id % 20) % 8
              THEN 500000 + (d.doc_id // 20) * 997 + t.f * 31
                   + (d.doc_id % 20)
              ELSE (d.doc_id // 20) * 997 + t.f * 31 END AS s,
         0 AS pos
  FROM documents d, range(8) t(f)"""
    )
    + """,
vh AS (SELECT DISTINCT id // 8 AS blob_id, dhash FROM h),
sized AS (
  SELECT blob_id, dhash FROM (
    SELECT *, count(*) OVER (PARTITION BY dhash) AS n FROM vh)
  WHERE n <= 1000)
SELECT a.blob_id AS a, b.blob_id AS b, CAST(count(*) AS BIGINT) AS n_shared
FROM sized a JOIN sized b ON a.dhash = b.dhash AND a.blob_id < b.blob_id
GROUP BY 1, 2 HAVING count(*) >= 4
ORDER BY a, b"""
)


def weighted_median_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        weighted_median_price,
    )

    return weighted_median_price(spark, sf_dir)


QUERIES["weighted_median_price"] = weighted_median_price_q
ORACLES["weighted_median_price"] = """
WITH w AS (
  SELECT o.o_orderpriority AS g,
         CAST(floor(o.o_totalprice * 100) AS BIGINT) AS v,
         c.wt
  FROM orders o JOIN (SELECT l_orderkey, count(*) AS wt
                      FROM lineitem GROUP BY 1) c
    ON c.l_orderkey = o.o_orderkey),
vw AS (SELECT g, v, sum(wt) AS wt FROM w GROUP BY 1, 2),
r AS (SELECT g, v, wt,
             sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(wt) OVER (PARTITION BY g) AS tot
      FROM vw)
SELECT g AS priority, CAST(tot AS BIGINT) AS w_total,
       CAST(min(v) AS BIGINT) AS median_cents
FROM r WHERE 2 * cum >= tot GROUP BY g, tot ORDER BY priority"""


def robust_price_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        robust_price_outliers,
    )

    return robust_price_outliers(spark, sf_dir)


QUERIES["robust_price_outliers"] = robust_price_outliers_q
ORACLES["robust_price_outliers"] = """
WITH c AS (
  SELECT o_orderstatus AS g,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders),
vw1 AS (SELECT g, v, count(*) AS wt FROM c GROUP BY 1, 2),
r1 AS (SELECT g, v, wt,
              sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
              sum(wt) OVER (PARTITION BY g) AS tot
       FROM vw1),
m1 AS (SELECT g, min(v) AS med FROM r1 WHERE 2 * cum >= tot GROUP BY g),
d AS (SELECT vw1.g, abs(vw1.v - m1.med) AS v, vw1.wt
      FROM vw1 JOIN m1 ON vw1.g = m1.g),
vw2 AS (SELECT g, v, sum(wt) AS wt FROM d GROUP BY 1, 2),
r2 AS (SELECT g, v, wt,
              sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
              sum(wt) OVER (PARTITION BY g) AS tot
       FROM vw2),
m2 AS (SELECT g, min(v) AS mad FROM r2 WHERE 2 * cum >= tot GROUP BY g)
SELECT vw1.g AS status,
       CAST(sum(vw1.wt) AS BIGINT) AS n_orders,
       CAST(m1.med AS BIGINT) AS median_cents,
       CAST(m2.mad AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN 1000 * abs(vw1.v - m1.med) > 4448 * m2.mad
                     THEN vw1.wt ELSE 0 END) AS BIGINT) AS n_outliers
FROM vw1 JOIN m1 ON vw1.g = m1.g JOIN m2 ON vw1.g = m2.g
GROUP BY 1, 3, 4 ORDER BY 1"""


def order_price_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        order_price_quantiles,
    )

    return order_price_quantiles(spark, sf_dir)


QUERIES["order_price_quantiles"] = order_price_quantiles_q
ORACLES["order_price_quantiles"] = """
WITH c AS (
  SELECT o_orderpriority AS g,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders),
vw AS (SELECT g, v, count(*) AS wt FROM c GROUP BY 1, 2),
r AS (SELECT g, v, wt,
             sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(wt) OVER (PARTITION BY g) AS tot
      FROM vw)
SELECT g AS priority, CAST(tot AS BIGINT) AS n_orders,
       CAST(min(CASE WHEN 1000 * cum >= 500 * tot THEN v END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN 1000 * cum >= 900 * tot THEN v END) AS BIGINT)
         AS p90_cents,
       CAST(min(CASE WHEN 1000 * cum >= 990 * tot THEN v END) AS BIGINT)
         AS p99_cents
FROM r GROUP BY 1, tot ORDER BY 1"""


# ---------------------------------------------------------------------------
# Round-10 relational shapes: the remaining distinctive TPC-H plan
# families, adapted to the available star schema (no partsupp /
# commitdate / phone columns — each query keeps the ORIGINAL relational
# structure and swaps in available predicates), plus the CUSUM
# sequential-recurrence family. All exact: revenue rides the DECIMAL
# 4-decimal product (salted_revenue_join rule) or floor-cents BIGINT;
# every final column is BIGINT / VARCHAR / TIMESTAMP / exact-rounded
# DOUBLE; every oracle aggregate casts back to BIGINT (HUGEINT rule).
# ---------------------------------------------------------------------------


def _rev_mc():
    """Exact revenue in myriacents (1e-4 dollars) as BIGINT:
    price(2dp) × (1 − discount(2dp)) is an exact 4-decimal value, so
    ×10000 is an exact integer — order-independent sums, no float under
    the gate (the salted_revenue_join round-4 rule).

    Round-12 form: compute ``cents × (100 − disc_cents)`` in LONG
    arithmetic after two exact decimal→long casts, instead of the
    decimal×decimal multiply chain — algebraically identical
    (price·100 and disc·100 are exact integers; their long product is
    price·(1−disc)·10⁴, bounded ≤ ~1e11 per row, far under 2^63), and
    the R400 probe (probe_q11.py, commit d8b78eb) measured the per-row decimal
    chain at ~8% of the whole 240 M-row rollup (13.7→10.3 s first-run,
    11.4→10.8-11.2 warm). Per-row value and type are unchanged, so
    every consumer's sums behave identically."""
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("long")
    disc_c = (F.col("l_discount").cast("decimal(3,2)") * 100).cast("long")
    return cents * (F.lit(100).cast("long") - disc_c)


_REV_MC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) "
    "* 10000 AS BIGINT)"
)


def nation_trade_volume(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_rows: int = 10_000_000,
) -> DataFrame:
    """TPC-H Q7-shaped two-nation trade flow (round 10): revenue
    shipped between NATION_1 and NATION_2 in either direction, by
    (supp_nation, cust_nation, ship_year). Reference analog: the
    multi-hop join chains of mr/apps (SURVEY §2) generalized to a
    5-table snowflake.

    Plan: both nation filters apply BEFORE the fact-fact join —
    supplier+nation attaches onto lineitem (semi-reduces it to the
    ~8% shipping from the pair), customer+nation onto orders (same on
    the buying side), and only the two REDUCED facts shuffle on
    o_orderkey (co-partitioned, the 100 TB shape). Revenue sums are
    exact myriacents BIGINT.

    The customer- and supplier-side attachments broadcast ONLY under a
    metadata-only size gate (VERDICT r10 item 1 — both sides are
    fixed FRACTIONS of SF-scaling tables, so an unconditional hint is
    a billions-of-rows broadcast at 100×): the full-table footer row
    count upper-bounds the filtered side at zero scan cost; above
    ``max_broadcast_rows`` each falls back to a shuffle-hash join
    (gate-proven answer-identical, tests/test_broadcast_gates.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    n = nation.where(F.col("n_name").isin(*pair)).select(
        "n_nationkey", F.col("n_name")
    )
    s = supp.join(
        F.broadcast(n), supp["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = cust.join(
        F.broadcast(n), cust["c_nationkey"] == n["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    # parquet footers only — the full-table count bounds the filtered side
    cust_fits = table_rows(spark, sf_dir, "customer") <= max_broadcast_rows
    supp_fits = table_rows(spark, sf_dir, "supplier") <= max_broadcast_rows
    o = (
        orders.join(F.broadcast(c), orders["o_custkey"] == c["c_custkey"])
        if cust_fits
        else orders.hint("shuffle_hash").join(
            c, orders["o_custkey"] == c["c_custkey"]
        )
    ).select("o_orderkey", "cust_nation")
    s_side = F.broadcast(s) if supp_fits else s
    li_side = li if supp_fits else li.hint("shuffle_hash")
    l = li_side.join(s_side, li["l_suppkey"] == s["s_suppkey"]).select(
        "l_orderkey",
        "supp_nation",
        F.year("l_shipdate").alias("ship_year"),
        _rev_mc().alias("rev_mc"),
    )
    return (
        l.hint("shuffle_hash")
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_mc").alias("rev_mc"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


QUERIES["nation_trade_volume"] = nation_trade_volume
ORACLES["nation_trade_volume"] = f"""
WITH s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
           JOIN nation ON n_nationkey = s_nationkey
           WHERE n_name IN ('NATION_1', 'NATION_2')),
c AS (SELECT c_custkey, n_name AS cust_nation FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2')),
o AS (SELECT o_orderkey, cust_nation FROM orders
      JOIN c ON c_custkey = o_custkey),
l AS (SELECT l_orderkey, supp_nation,
             CAST(year(l_shipdate) AS INTEGER) AS ship_year,
             {_REV_MC_SQL} AS rev_mc
      FROM lineitem JOIN s ON s_suppkey = l_suppkey)
SELECT supp_nation, cust_nation, ship_year,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(rev_mc) AS BIGINT) AS rev_mc
FROM l JOIN o ON o.o_orderkey = l.l_orderkey
WHERE supp_nation <> cust_nation
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""


def market_share_ppm(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_orders: int = 20_000_000,
    max_broadcast_customers: int = 10_000_000,
) -> DataFrame:
    """TPC-H Q8-shaped market share (round 10): within orders placed
    by AMERICA-region customers, the ppm share of revenue supplied by
    NATION_6 per order-year — conditional aggregation over a snowflake,
    the promo_revenue_share division discipline (two exact DECIMAL
    sums in ONE pass, integer ppm, digit-string totals).

    Plan: supplier flag and customer region attach by SIZE-GATED
    broadcast (both scale with SF — see the inline gate comments); the
    only fact-fact exchange is lineitem⋈orders on o_orderkey, itself
    killed by a gated broadcast of the qualifying-orders side; the
    CASE folds into the partial aggregate so only (year, 2 sums) rows
    leave the map side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    amer = (
        nation.join(
            F.broadcast(
                region.where(F.col("r_name") == "AMERICA").select(
                    "r_regionkey"
                )
            ),
            nation["n_regionkey"] == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    c = cust.join(
        F.broadcast(amer), cust["c_nationkey"] == amer["n_nationkey"]
    ).select("c_custkey")
    # AMERICA customers are ~1/5 of an SF-scaling table: broadcast only
    # under a metadata-only bound (full customer footer count), else the
    # semi join shuffles — the gate class VERDICT r10 item 1 names.
    cust_fits = (  # footers only
        table_rows(spark, sf_dir, "customer") <= max_broadcast_customers
    )
    o = (
        orders.join(
            F.broadcast(c), orders["o_custkey"] == c["c_custkey"], "left_semi"
        )
        if cust_fits
        else orders.hint("shuffle_hash").join(
            c, orders["o_custkey"] == c["c_custkey"], "left_semi"
        )
    ).select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    s = supp.join(
        F.broadcast(
            nation.where(F.col("n_name") == "NATION_6").select("n_nationkey")
        ),
        supp["s_nationkey"] == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("target_suppkey"))
    # Three plans MEASURED at R400 (240 M lineitem, BASELINE "Round-10
    # late"): (a) the draft shuffled every lineitem row with an
    # UNBOUNDED DECIMAL payload — 123.6 s; (b) aggregate-before-join
    # was WORSE (278 s — orderkeys have no per-partition locality, so
    # the high-cardinality map-side partial bought nothing and
    # spilled); (c) BIGINT row payload (per-row revenue provably fits:
    # price ≤ 1e7 cents → ≤ 1e9 myriacents; the DECIMAL cast moves
    # INSIDE the final aggregate buffer) — 112 s, still bound by the
    # one 240 M-row exchange. The winning lever is killing that
    # exchange: the qualifying-orders side BROADCASTS (48.3 s, 2.3×)
    # — but its size grows with the fact, so the hint is GATED on the
    # QUALIFYING row count (ADVICE r10: the r10 gate bounded only the
    # TOTAL orders count, so a worst-case region mix could admit a
    # broadcast 5× the measured envelope). Three bands, cheapest test
    # first: (a) total footer count <= cap certifies qualifying <=
    # cap with no scan; (b) a plausibly-close total pays ONE linear
    # semi-join count of the real qualifying side (never OOMs — a
    # count, not a collect); (c) a total far above the cap skips the
    # probe scan entirely and shuffles. Shuffle-hash fallback is
    # gate-proven answer-identical (tests/test_broadcast_gates.py).
    l = li.select(
        "l_orderkey",
        "l_suppkey",
        _rev_mc().alias("rev_mc"),
    ).join(
        F.broadcast(s),
        F.col("l_suppkey") == F.col("target_suppkey"),
        "left",
    )
    n_orders_total = table_rows(spark, sf_dir, "orders")  # parquet footers only
    if n_orders_total <= max_broadcast_orders:
        o_fits = True
    elif n_orders_total <= 20 * max_broadcast_orders:
        o_fits = o.count() <= max_broadcast_orders  # one linear scan
    else:
        o_fits = False
    if o_fits:
        o_side, l_side = F.broadcast(o), l
    else:
        o_side, l_side = o, l.hint("shuffle_hash")
    agg = (
        l_side.join(o_side, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("order_year")
        .agg(
            F.sum(
                F.when(
                    F.col("target_suppkey").isNotNull(), F.col("rev_mc")
                )
                .otherwise(F.lit(0))
                .cast("decimal(38,0)")
            ).alias("target_mc"),
            F.sum(F.col("rev_mc").cast("decimal(38,0)")).alias("total_mc"),
        )
    )
    return agg.select(
        "order_year",
        F.col("target_mc").cast("string").alias("target_mc"),
        F.col("total_mc").cast("string").alias("total_mc"),
        F.expr(
            "case when total_mc > 0 then "
            "cast(target_mc * 1000000 div total_mc as bigint) end"
        ).alias("share_ppm"),
    ).orderBy("order_year")


QUERIES["market_share_ppm"] = market_share_ppm
ORACLES["market_share_ppm"] = f"""
WITH c AS (SELECT c_custkey FROM customer
           JOIN nation ON n_nationkey = c_nationkey
           JOIN region ON r_regionkey = n_regionkey
           WHERE r_name = 'AMERICA'),
o AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS order_year
      FROM orders WHERE o_custkey IN (SELECT c_custkey FROM c)),
s AS (SELECT s_suppkey FROM supplier JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_6'),
l AS (SELECT l_orderkey,
             CAST({_REV_MC_SQL} AS HUGEINT) AS rev_mc,
             l_suppkey IN (SELECT s_suppkey FROM s) AS is_target
      FROM lineitem),
a AS (SELECT order_year,
             sum(CASE WHEN is_target THEN rev_mc ELSE 0 END) AS target_mc,
             sum(rev_mc) AS total_mc
      FROM l JOIN o ON o.o_orderkey = l.l_orderkey GROUP BY 1)
SELECT order_year,
       CAST(target_mc AS VARCHAR) AS target_mc,
       CAST(total_mc AS VARCHAR) AS total_mc,
       CAST(CASE WHEN total_mc > 0
            THEN (target_mc * 1000000) // total_mc END AS BIGINT)
         AS share_ppm
FROM a ORDER BY order_year"""


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup (round 10): per (supp_nation,
    ship_year), profit = revenue − cost, with cost approximated as
    retail-price × whole units (no partsupp table in this schema —
    the Q9 join chain and negative-capable signed sum are the point).
    All exact myriacents BIGINT; sums can go NEGATIVE, so no division
    anywhere (the sign-explicit `//` rule never engages).

    Plan: part and supplier+nation both broadcast onto the lineitem
    scan; the aggregate partial-combines map-side — ZERO fact-fact
    exchanges, only (nation, year) rows move."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    s = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    p = part.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cost_c"),
    )
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            "supp_nation",
            F.year("l_shipdate").alias("ship_year"),
            (
                _rev_mc()
                - F.col("cost_c")
                * 100
                * F.floor(F.col("l_quantity")).cast("long")
            ).alias("profit_mc"),
        )
    )
    return (
        j.groupBy("supp_nation", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("profit_mc").alias("profit_mc"),
        )
        .orderBy("supp_nation", "ship_year")
    )


QUERIES["product_profit"] = product_profit
ORACLES["product_profit"] = f"""
WITH j AS (
  SELECT n.n_name AS supp_nation,
         CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
         {_REV_MC_SQL}
           - CAST(floor(p.p_retailprice * 100) AS BIGINT) * 100
             * CAST(floor(l.l_quantity) AS BIGINT) AS profit_mc
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey)
SELECT supp_nation, ship_year,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(profit_mc) AS BIGINT) AS profit_mc
FROM j GROUP BY 1, 2 ORDER BY 1, 2"""


def custdist_histogram(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_custkeys: int = 10_000_000,
) -> DataFrame:
    """TPC-H Q13-shaped customer distribution (round 10): how many
    customers placed exactly k qualifying orders — INCLUDING the
    zero-order customers only an OUTER join preserves (the one TPC-H
    shape no inner-join query exercises). Qualifying = priority not
    '4-NOT SPECIFIED' (stand-in for Q13's comment NOT LIKE).

    Plan: orders pre-aggregate to (custkey, n) — partial map-side
    combine — then LEFT join from customer on c_custkey. Round 11
    (VERDICT r10 item 3, the Q18 motion): the aggregate side is
    bounded by min(|customer|, |orders|) distinct custkeys — a
    footer-only bound — so under ``max_broadcast_custkeys`` it
    BROADCASTS into the outer join (BuildRight LeftOuter: the customer
    scan never shuffles); above the bound both sides shuffle
    co-partitioned on custkey, the honest 100 TB fallback. The second
    aggregate is histogram-sized either way."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    oc = (
        orders.where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    oc_bound = min(  # parquet footers only
        table_rows(spark, sf_dir, "customer"), table_rows(spark, sf_dir, "orders")
    )
    oc_side = (
        F.broadcast(oc) if oc_bound <= max_broadcast_custkeys else oc
    )
    return (
        cust.join(oc_side, cust["c_custkey"] == oc["o_custkey"], "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


QUERIES["custdist_histogram"] = custdist_histogram
ORACLES["custdist_histogram"] = """
WITH oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
            FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY 1)
SELECT coalesce(oc.n_orders, 0) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped tie-safe argmax (round 10): the supplier(s)
    with MAX revenue over 1998Q1 — the derived-view max shape, kept
    tie-safe by joining the revenue table back against its own 1-row
    max (never `ORDER BY LIMIT 1`, which silently drops ties).

    Plan: per-supplier revenue partial-aggregates map-side; the 1-row
    max BROADCASTS back onto it (a broadcast nested-loop on an equality
    the optimizer folds); supplier names attach by broadcast. The
    revenue rollup PERSISTS (round 11): TWO consumers (the max scalar
    and the tie-safe join-back) otherwise re-run the filtered fact
    aggregate — the R400 probe showed two full 240 M-row scans behind
    the 28.7 s cell (cold data pages); one scan + cache measured
    4.5 s warm, answer-identical (the min_cost_supplier
    shared-subtree pattern)."""
    from distributed_computing_spark.caching import track_persist

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = track_persist(
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_mc()).alias("total_rev_mc"))
    )
    mx = rev.agg(F.max("total_rev_mc").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_rev_mc"] == mx["mx"])
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev_mc")
        .orderBy("s_suppkey")
    )


QUERIES["top_supplier_revenue"] = top_supplier_revenue
ORACLES["top_supplier_revenue"] = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV_MC_SQL}) AS BIGINT) AS total_rev_mc
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, r.total_rev_mc
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev_mc = (SELECT max(total_rev_mc) FROM rev)
ORDER BY s.s_suppkey"""


def parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier census (round 10): distinct suppliers
    able to ship each (p_type, p_size) class, EXCLUDING suppliers in
    deficit (s_acctbal < 0 — stand-in for Q16's complaint NOT IN) and
    the STANDARD type (Q16's brand exclusion). The distinct-count +
    NOT-IN anti-join shape.

    Plan (round-12 re-plan, measured): collapse the fact to DISTINCT
    (l_partkey, l_suppkey) pairs FIRST — the census only needs the
    pair set (Q16's partsupp, derived), and the map-side partial dedup
    shrinks the ONLY fact-sized exchange to the local-distinct pairs
    (bounded by |partsupp|, not |lineitem|). Part attrs and the (tiny)
    excluded-supplier set then broadcast onto the pair table — the
    anti-join is a broadcast left-anti over ~|partsupp| rows, never a
    240 M-row join. R400 probe (probe_q16_variance.py, commit d8b78eb, warm,
    default heap, solo): join-first 9.6-15.4 s → dedup-first
    7.4-10.4 s, answer-identical; GC halves (540 → 120-160 ms). The
    same probe showed the r11 "14-60 s variance" cell does NOT
    reproduce (4 runs in a 9.6-15.4 band, GC-clean) — the 60 s datum
    was host contention, not AQE instability; BASELINE updated."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = part.where(F.col("p_type") != "STANDARD").select(
        "p_partkey", "p_type", "p_size"
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(bad),
            pairs["l_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_type", "p_size")
    )


QUERIES["parts_supplier_count"] = parts_supplier_count
ORACLES["parts_supplier_count"] = """
SELECT p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_type <> 'STANDARD'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_type, p_size"""


def sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped multi-alias exists/not-exists (round 10): on
    finished multi-supplier orders, the suppliers who were the SOLE
    source of returned lines — another supplier exists on the order
    (EXISTS), no other supplier had a return (NOT EXISTS). No
    commitdate/receiptdate in this schema, so returnflag='R' stands in
    for the late-delivery predicate; the two-correlated-subquery
    structure is the point, decorrelated Spark-side into ONE
    repartition by l_orderkey that serves the (orderkey, suppkey)
    aggregate AND the per-order window counts (hash(l_orderkey)
    satisfies both — no self-join, no cache, the fact exchanges
    exactly once; plan-asserted). A draft persist+self-join pyramid
    re-exchanged through the AQE-opaque cache; the window form is the
    same exchange budget with no cache at all. The oracle keeps the
    literal EXISTS/NOT-EXISTS formulation — an independent
    derivation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    fo = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    li2 = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_returnflag") == "R").alias("is_r"),
        )
        .join(fo, li["l_orderkey"] == fo["o_orderkey"], "left_semi")
        # no explicit partition count (VERDICT r10 item 4/8): this is a
        # JVM window stage, so AQE should size the exchange by bytes —
        # the defaultParallelism pin is only for Python-bound Arrow
        # stages (the CLAUDE.md coalescing rule)
        .repartition("l_orderkey")
    )
    per_os = li2.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("is_r"), 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    qual = per_os.withColumn(
        "n_supp", F.count(F.lit(1)).over(w)
    ).withColumn("n_r", F.sum("has_r").over(w)).where(
        (F.col("has_r") == 1) & (F.col("n_supp") > 1) & (F.col("n_r") == 1)
    )
    return (
        qual.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


QUERIES["sole_return_supplier"] = sole_return_supplier
ORACLES["sole_return_supplier"] = """
WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                WHERE o_orderstatus = 'F'))
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM l
      WHERE l_returnflag = 'R') l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20"""


def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant-capital report (round 10): customers
    with above-average positive balance and NO order since 2000-01-01 —
    the global-scalar-subquery + anti-join shape, by market segment
    (stand-in for Q22's phone prefix; the recency cutoff replaces
    Q22's no-orders-at-all predicate, which is empty on this data's
    ~10-orders-per-customer ratio). The average compares EXACTLY by
    cross-multiplication: bal·n > Σbal (no float division; sum(double)
    order-dependence never enters).

    Plan: the 1-row (Σ, n) aggregate broadcasts back onto the customer
    scan (broadcast nested-loop on the inequality); the anti-join
    shuffles customer and orders co-partitioned on custkey — at 100 TB
    both sides are fact-sized, so the shuffle anti-join IS the honest
    plan (contrast parts_supplier_count's broadcast anti)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cb = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    pos = cb.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    eligible = cb.crossJoin(F.broadcast(pos)).where(
        F.col("bal_cents") * F.col("n") > F.col("s")
    )
    return (
        eligible.join(
            orders.where(
                F.col("o_orderdate")
                >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            eligible["c_custkey"] == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum("bal_cents").alias("bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["sales_opportunity"] = sales_opportunity
ORACLES["sales_opportunity"] = """
WITH cb AS (SELECT c_custkey, c_mktsegment,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer),
pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM cb WHERE bal_cents > 0)
SELECT cb.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(cb.bal_cents) AS BIGINT) AS bal_cents
FROM cb, pos
WHERE cb.bal_cents * pos.n > pos.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cb.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1 ORDER BY 1"""


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated min (round 10): for each small LARGE
    part, the supplier(s) offering the MINIMUM observed line price —
    Q2's `ps_supplycost = (SELECT min ...)` correlated subquery,
    decorrelated into a per-part min joined back (tie-safe, like the
    Q15 argmax but per-group). No partsupp table: the offer book is
    derived from lineitem itself (min extendedprice cents per
    (part, supplier)).

    Plan: the part filter semi-reduces lineitem by BROADCAST before
    any aggregate; offers is referenced from two branches
    (min + join-back) → track_persist; both aggregates and the
    join-back share the l_partkey hash partitioning (one exchange)."""
    from distributed_computing_spark.caching import track_persist

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    pf = part.where(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_brand")
    offers = track_persist(
        li.join(
            F.broadcast(pf.select("p_partkey")),
            li["l_partkey"] == F.col("p_partkey"),
            "left_semi",
        )
        .repartition(spark.sparkContext.defaultParallelism, "l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "offer_cents"
            )
        )
    )
    minp = offers.groupBy("l_partkey").agg(
        F.min("offer_cents").alias("min_cents")
    )
    win = offers.join(minp, "l_partkey").where(
        F.col("offer_cents") == F.col("min_cents")
    )
    return (
        win.join(
            F.broadcast(pf), win["l_partkey"] == pf["p_partkey"]
        )
        .join(F.broadcast(supp), win["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            "offer_cents",
        )
        .orderBy("p_partkey", "s_name")
    )


QUERIES["min_cost_supplier"] = min_cost_supplier
ORACLES["min_cost_supplier"] = """
WITH pf AS (SELECT p_partkey, p_brand FROM part
            WHERE p_size <= 5 AND p_type = 'LARGE'),
offers AS (
  SELECT l_partkey, l_suppkey,
         CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS offer_cents
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM pf)
  GROUP BY 1, 2)
SELECT o.l_partkey AS p_partkey, pf.p_brand, s.s_name, o.offer_cents
FROM offers o
JOIN pf ON pf.p_partkey = o.l_partkey
JOIN supplier s ON s.s_suppkey = o.l_suppkey
WHERE o.offer_cents = (SELECT min(o2.offer_cents) FROM offers o2
                       WHERE o2.l_partkey = o.l_partkey)
ORDER BY p_partkey, s_name"""


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over the event stream (round 10) — a NEW
    operator family: the sequential recurrence s_i = max(0, s_{i-1} +
    x_i) (Page 1954), exact in integers, with x_d = c_d·D − S (the
    cross-multiplied deviation of day d's count from the per-type mean
    — no division ever). A day drifts when 4·cusum > S (the CUSUM
    has absorbed a quarter of the type's total volume above trend —
    fires on real excursions at both gate SFs, not on noise).

    The recurrence folds CLOSED-FORM to prefix-sum − running-min
    (analytics.cusum_positive), so the whole detector is two stacked
    window sums over the tiny (type × day) series table — the fact
    table only ever does ONE partial-aggregating exchange to daily
    counts. Output per type: drift-day count, peak cusum, first drift
    day (NULL when none)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return _cusum_drift_from_daily(daily)


def _cusum_drift_from_daily(daily: DataFrame) -> DataFrame:
    """The detector over a (event_type, day, c) series table — shared
    by the batch query and the streaming twin (whose daily counts are
    maintained as a streaming aggregation). ``daily`` persists here:
    TWO consumers (the per-type totals and the deviation join) would
    otherwise re-run the upstream rollup — for the batch caller that
    is a second full events-fact scan (ADVICE r10)."""
    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.operators.analytics import (
        cusum_positive,
    )

    daily = track_persist(daily)
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("dd"), F.sum("c").alias("s")
    )
    x = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        (F.col("c") * F.col("dd") - F.col("s")).alias("x"),
        "s",
    )
    cu = cusum_positive(x, "event_type", "day", "x")
    return (
        cu.groupBy("event_type")
        .agg(
            F.sum(
                F.when(4 * F.col("cusum") > F.col("s"), 1).otherwise(0)
            ).alias("n_drift_days"),
            F.max("cusum").alias("max_cusum"),
            F.min(
                F.when(4 * F.col("cusum") > F.col("s"), F.col("day"))
            ).alias("first_drift_day"),
        )
        .orderBy("event_type")
    )


QUERIES["events_cusum_drift"] = events_cusum_drift
ORACLES["events_cusum_drift"] = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dd,
               CAST(sum(c) AS BIGINT) AS s
        FROM daily GROUP BY 1),
x AS (SELECT d.event_type, d.day, d.c * t.dd - t.s AS x, t.s
      FROM daily d JOIN tot t USING (event_type)),
pre AS (SELECT *, CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        FROM x),
cu AS (SELECT *, p - least(CAST(min(p) OVER (PARTITION BY event_type
                 ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT),
                 0) AS cusum
       FROM pre)
SELECT event_type,
       CAST(sum(CASE WHEN 4 * cusum > s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drift_days,
       CAST(max(cusum) AS BIGINT) AS max_cusum,
       min(CASE WHEN 4 * cusum > s THEN day END) AS first_drift_day
FROM cu GROUP BY 1 ORDER BY 1"""



def events_theilsen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust daily-count trend per event type — the
    breakdown-29% companion of the OLS event_trend_slopes (see
    analytics.events_theilsen: median pairwise slope, selected by an
    engine-identical (IEEE slope, dy, dx) order, shipped as the exact
    integer pair — no division of any kind under the gate)."""
    from distributed_computing_spark.operators.analytics import (
        events_theilsen,
    )

    return events_theilsen(spark, sf_dir)


QUERIES["events_theilsen"] = events_theilsen_q
ORACLES["events_theilsen"] = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
p AS (SELECT a.event_type, (b.c - a.c) AS dy,
             CAST(date_diff('day', a.day, b.day) AS BIGINT) AS dx
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day),
r AS (SELECT *,
             row_number() OVER (PARTITION BY event_type
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx)
               AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_pairs
      FROM p)
SELECT event_type, n_pairs, dy AS med_dy, dx AS med_dx
FROM r WHERE rn = (n_pairs + 1) // 2
ORDER BY event_type"""


def customer_rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation histogram — exact quintile thresholds from ONE
    grouped_weighted_quantiles_multi pass with the metric name as the
    group; scores are 1 + #{thresholds strictly below}, tie-stable on
    both engines (never ntile, whose ties are order-dependent). See
    analytics.customer_rfm_segments."""
    from distributed_computing_spark.operators.analytics import (
        customer_rfm_segments,
    )

    return customer_rfm_segments(spark, sf_dir)


QUERIES["customer_rfm_segments"] = customer_rfm_segments_q
ORACLES["customer_rfm_segments"] = """
WITH ref AS (SELECT max(o_orderdate) AS rd FROM orders),
cm AS (SELECT o_custkey,
              CAST(date_diff('day', max(o_orderdate),
                             (SELECT rd FROM ref)) AS BIGINT) AS r,
              CAST(count(*) AS BIGINT) AS f,
              CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS m
       FROM orders GROUP BY 1),
lng AS (SELECT 'R' AS g, r AS v FROM cm
        UNION ALL SELECT 'F', f FROM cm
        UNION ALL SELECT 'M', m FROM cm),
cw AS (SELECT g, v, CAST(count(*) AS BIGINT) AS wt FROM lng GROUP BY 1, 2),
rr AS (SELECT g, v, wt,
              sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
              sum(wt) OVER (PARTITION BY g) AS tot
       FROM cw),
th AS (SELECT g, q, min(v) AS t
       FROM rr CROSS JOIN (SELECT unnest([200, 400, 600, 800]) AS q) qq
       WHERE 1000 * cum >= q * tot GROUP BY 1, 2),
sc AS (SELECT cm.o_custkey,
              CAST(1 + (SELECT count(*) FROM th
                        WHERE th.g = 'R' AND cm.r > th.t) AS BIGINT)
                AS r_score,
              CAST(1 + (SELECT count(*) FROM th
                        WHERE th.g = 'F' AND cm.f > th.t) AS BIGINT)
                AS f_score,
              CAST(1 + (SELECT count(*) FROM th
                        WHERE th.g = 'M' AND cm.m > th.t) AS BIGINT)
                AS m_score
       FROM cm)
SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers
FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""




def stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection OVER A STREAM (round 10): the per-type
    daily count table is maintained as a STREAMING aggregation
    (complete mode — state is |types × days| rows, bounded for an
    unbounded stream by the day span, the CMS/HLL register-table
    motion), and the closed-form CUSUM (prefix-sum − running-min)
    runs on the final state. Gated by the BATCH oracle: the stream's
    final answer equals events_cusum_drift exactly."""
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    from distributed_computing_spark.caching import session_tmpdir

    ev = load_table(spark, sf_dir, "events")
    sdf = stream_table(spark, ev.select("event_type", "ts"))
    daily_state = run_to_batch(
        sdf.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        spark,
    )
    # flush the final state to parquet before the detector: the
    # per-type totals join is a SELF-join of the state, which a
    # memory-sink view cannot express (the stream_audience_overlap
    # lesson) — and a state flush-to-storage is the production handoff
    out = session_tmpdir(prefix="dcs_cusum_state_")
    daily_state.write.mode("overwrite").parquet(out)
    return _cusum_drift_from_daily(spark.read.parquet(out))


QUERIES["stream_cusum_drift"] = stream_cusum_drift
ORACLES["stream_cusum_drift"] = ORACLES["events_cusum_drift"]




def segment_allocation(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_customers: int = 10_000_000,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment (round 10): allocate
    a fixed budget of 10,000 units across market segments proportional
    to exact revenue cents, INTEGER-EXACTLY — base = floor(U·rev/total)
    (non-negative operands, so Spark ``div`` and any DuckDB ``//``
    version agree), and the leftover units go to the largest remainder
    fractions, compared WITHOUT division as the integer
    ``U·rev − base·total`` (cross-multiplication again), ties broken
    by segment name. Σ units == U by construction (tested). The
    apportionment shape no percentage-rounding query gets right with
    floats: naive per-row rounding over- or under-shoots the total.

    Plan: one partial-aggregated rollup to |segments| rows; everything
    after is window work on that tiny frame. The customer dimension
    attaches to orders by broadcast ONLY under a metadata-only footer
    row-count gate (VERDICT r10 item 1 — the whole customer table
    scales with SF); above it the join shuffles co-partitioned on
    custkey, which at 100 TB is the honest plan."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    u = 10_000
    seg = cust.select("c_custkey", "c_mktsegment")
    cust_fits = (  # footers only
        table_rows(spark, sf_dir, "customer") <= max_broadcast_customers
    )
    rev = (
        (
            orders.join(
                F.broadcast(seg), orders["o_custkey"] == F.col("c_custkey")
            )
            if cust_fits
            else orders.hint("shuffle_hash").join(
                seg, orders["o_custkey"] == F.col("c_custkey")
            )
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    # |segments| rows, but TWO consumers (tot, q) — persist so the
    # fact join runs once (the shared-subtree rule)
    from distributed_computing_spark.caching import track_persist

    rev = track_persist(rev)
    tot = rev.agg(F.sum("rev_cents").alias("total_cents"))
    q = rev.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "rev_cents",
        F.expr(f"{u}L * rev_cents div total_cents").alias("base_units"),
        (F.lit(u) * F.col("rev_cents")).alias("num"),
        "total_cents",
    )
    w_all = Window.partitionBy()
    q2 = q.select(
        "c_mktsegment",
        "rev_cents",
        "base_units",
        (F.col("num") - F.col("base_units") * F.col("total_cents")).alias(
            "frac_num"
        ),
        (F.lit(u) - F.sum("base_units").over(w_all)).alias("n_extra"),
    )
    w_rank = Window.partitionBy().orderBy(
        F.col("frac_num").desc(), "c_mktsegment"
    )
    return (
        q2.withColumn("rk", F.row_number().over(w_rank))
        .select(
            "c_mktsegment",
            "rev_cents",
            (
                F.col("base_units")
                + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
            ).alias("units"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["segment_allocation"] = segment_allocation
ORACLES["segment_allocation"] = """
WITH rev AS (
  SELECT c.c_mktsegment,
         CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1),
tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM rev),
q AS (SELECT r.c_mktsegment, r.rev_cents,
             (10000 * r.rev_cents) // t.total_cents AS base_units,
             10000 * r.rev_cents
               - ((10000 * r.rev_cents) // t.total_cents) * t.total_cents
               AS frac_num
      FROM rev r, tot t),
q2 AS (SELECT *,
              CAST(10000 - sum(base_units) OVER () AS BIGINT) AS n_extra,
              row_number() OVER (ORDER BY frac_num DESC, c_mktsegment)
                AS rk
       FROM q)
SELECT c_mktsegment, rev_cents,
       CAST(base_units + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
            AS BIGINT) AS units
FROM q2 ORDER BY c_mktsegment"""




def events_dow_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality-robust anomaly days — per (type, epoch-day
    mod 7) median baseline + per-type MAD flag; the seasonal twin of
    the z-score event_anomalies (see analytics.events_dow_anomalies)."""
    from distributed_computing_spark.operators.analytics import (
        events_dow_anomalies,
    )

    return events_dow_anomalies(spark, sf_dir)


QUERIES["events_dow_anomalies"] = events_dow_anomalies_q
ORACLES["events_dow_anomalies"] = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
d2 AS (SELECT *,
              CAST(date_diff('day', TIMESTAMP '1970-01-01', day) % 7
                   AS BIGINT) AS dow
       FROM daily),
vw1 AS (SELECT event_type, dow, c AS v, CAST(count(*) AS BIGINT) AS wt
        FROM d2 GROUP BY 1, 2, 3),
r1 AS (SELECT *,
              sum(wt) OVER (PARTITION BY event_type, dow ORDER BY v)
                AS cum,
              sum(wt) OVER (PARTITION BY event_type, dow) AS tot
       FROM vw1),
med AS (SELECT event_type, dow,
               CAST(min(CASE WHEN 2 * cum >= tot THEN v END) AS BIGINT)
                 AS med_dow
        FROM r1 GROUP BY 1, 2),
dev AS (SELECT d.event_type, d.day, d.c, m.med_dow,
               abs(d.c - m.med_dow) AS resid
        FROM d2 d JOIN med m
          ON m.event_type = d.event_type AND m.dow = d.dow),
vw2 AS (SELECT event_type, resid AS v, CAST(count(*) AS BIGINT) AS wt
        FROM dev GROUP BY 1, 2),
r2 AS (SELECT *,
              sum(wt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
              sum(wt) OVER (PARTITION BY event_type) AS tot
       FROM vw2),
mad AS (SELECT event_type,
               CAST(min(CASE WHEN 2 * cum >= tot THEN v END) AS BIGINT)
                 AS mad
        FROM r2 GROUP BY 1)
SELECT d.event_type, d.day, d.c, d.med_dow, d.resid
FROM dev d JOIN mad m ON m.event_type = d.event_type
WHERE 1000 * d.resid > 4448 * m.mad
ORDER BY 1, 2"""




# ---------------------------------------------------------------------------
# Round 11: remaining distinctive TPC-H plan shapes (Q11 / Q19 / Q20)
# and the interval-concurrency (sweep-line) family
# ---------------------------------------------------------------------------


def important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped HAVING-vs-global-scalar (round 11): parts whose
    shipped revenue exceeds 1.5× the average part's — the
    value-concentration census Q11 runs on partsupp, adapted to this
    schema's lineitem revenue (measured selectivity 2/29/252 parts at
    sf0.001/0.01/0.1: nonzero at every gate SF, still a census not a
    dump). The threshold compares EXACTLY by cross-multiplication
    (2 · part_mc · n_parts > 3 · total_mc — no division, no float);
    the reported share is integer ppm via DECIMAL ``div``. Reference analog: the global-aggregate + filter composition
    of SURVEY §2's A-family, with the scalar riding a 1-row broadcast.

    Plan: ONE partial-aggregating exchange folds the fact to
    |parts| rows; the (total, n_parts) scalar re-aggregates THAT table
    (never a second fact scan) and broadcasts back as one row. The
    per-part rollup persists — two consumers (scalar + filter) would
    otherwise run the fact aggregate twice (the shared-subtree rule).
    part_mc stays BIGINT (lineitem/part fan-in is a small constant, so
    per-part myriacents are far under 2^63 at any SF); products ride
    DECIMAL(38,0) inside the comparison only."""
    from distributed_computing_spark.caching import track_persist

    li = load_table(spark, sf_dir, "lineitem")
    pr = track_persist(
        li.groupBy("l_partkey").agg(F.sum(_rev_mc()).alias("part_mc"))
    )
    tot = pr.agg(
        F.sum(F.col("part_mc").cast("decimal(38,0)")).alias("total_mc"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pr.crossJoin(F.broadcast(tot))
        .where(
            2 * F.col("part_mc").cast("decimal(38,0)") * F.col("n_parts")
            > 3 * F.col("total_mc")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "part_mc",
            F.expr(
                "cast(cast(part_mc as decimal(38,0)) * 1000000 "
                "div total_mc as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy(F.col("part_mc").desc(), "p_partkey")
    )


QUERIES["important_part_share"] = important_part_share
ORACLES["important_part_share"] = f"""
WITH pr AS (
  SELECT l_partkey, CAST(sum({_REV_MC_SQL}) AS BIGINT) AS part_mc
  FROM lineitem GROUP BY 1),
t AS (SELECT sum(CAST(part_mc AS HUGEINT)) AS total_mc,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM pr)
SELECT pr.l_partkey AS p_partkey, pr.part_mc,
       CAST((CAST(pr.part_mc AS HUGEINT) * 1000000) // t.total_mc
            AS BIGINT) AS share_ppm
FROM pr, t
WHERE 2 * CAST(pr.part_mc AS HUGEINT) * t.n_parts > 3 * t.total_mc
ORDER BY part_mc DESC, p_partkey"""


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested correlated threshold (round 11):
    suppliers that shipped more than 3× the AVERAGE supplier's share
    of some part's quantity — Q20's per-(supplier, part) aggregate vs
    a correlated per-part threshold, decorrelated Spark-side (the
    literal >50% form is empty on this data's ~26-suppliers-per-part
    uniformity — measured: 0 rows at every SF; the 3×-average margin
    keeps the nested-correlated SHAPE with measured selectivity
    3/360/761 dominant (supplier, part) pairs at sf0.001/0.01/0.1).
    The comparison is exact integers (q_ps·n_supp > 3·q_p, n_supp =
    that part's distinct-supplier count — quantities are integral
    doubles, cast exactly to BIGINT; no division).

    Plan (the sole_return_supplier motion generalized): ONE
    ``repartition("l_partkey")`` serves BOTH aggregation levels — the
    (part, supplier) rollup reuses hash(partkey) (partition keys ⊂
    group keys, Catalyst inserts no new exchange) and the per-part
    total is a WINDOW over the same partitioning, never a self-join.
    The fact exchanges exactly once; the supplier rollup and dim
    attach are |suppliers|-sized. Plan-asserted: 2 hash exchanges,
    1 Window, 0 InMemoryTableScan (tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    ps = (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("long").alias("q"),
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("q_ps"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        ps.withColumn("q_p", F.sum("q_ps").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .where(F.col("q_ps") * F.col("n_supp") > 3 * F.col("q_p"))
    )
    return (
        dom.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_dominant_parts")
        .orderBy(F.col("n_dominant_parts").desc(), "s_suppkey")
    )


QUERIES["dominant_part_suppliers"] = dominant_part_suppliers
ORACLES["dominant_part_suppliers"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_ps
  FROM lineitem GROUP BY 1, 2),
tot AS (SELECT l_partkey, CAST(sum(q_ps) AS BIGINT) AS q_p,
               CAST(count(*) AS BIGINT) AS n_supp
        FROM ps GROUP BY 1),
dom AS (SELECT ps.l_suppkey FROM ps JOIN tot USING (l_partkey)
        WHERE ps.q_ps * tot.n_supp > 3 * tot.q_p)
SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS n_dominant_parts
FROM dom JOIN supplier s ON s.s_suppkey = dom.l_suppkey
GROUP BY 1, 2 ORDER BY n_dominant_parts DESC, s_suppkey"""


def promo_mix_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive multi-predicate scan (round 11):
    revenue by part type under an OR of per-type conjunction groups
    (type × quantity band × size band) — the shape whose cross-table
    disjunction defeats automatic predicate pushdown.

    Plan: Catalyst cannot push any single branch below the join (each
    references both tables), but the UNION of the branch quantity
    bands is derivable by hand — the implied conjunct
    ``l_quantity BETWEEN 1 AND 30`` is added explicitly and reaches
    the lineitem parquet scan as a PushedFilter (plan-asserted), the
    manual constraint-strengthening a 100 TB scan needs (a 40% row cut
    before the join at TPC-H's uniform 1–50 quantity). Part attrs
    attach by SIZE-GATED broadcast (footer-count bound, the r11 gate
    rule); sums ride exact DECIMAL and ship digit strings."""
    from distributed_computing_spark.operators.joins import gated_broadcast

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.where(
        # on the RAW column so it reaches parquet as a PushedFilter —
        # a predicate on the cast alias would stay above the scan
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    ).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _rev_mc().alias("rev_mc"),
    )
    cond = (
        (
            (F.col("p_type") == "PROMO")
            & F.col("qty").between(1, 11)
            & F.col("p_size").between(1, 25)
        )
        | (
            (F.col("p_type") == "ECONOMY")
            & F.col("qty").between(10, 20)
            & F.col("p_size").between(10, 40)
        )
        | ((F.col("p_type") == "STANDARD") & F.col("qty").between(20, 30))
    )
    return (
        j.join(
            gated_broadcast(
                part.select("p_partkey", "p_type", "p_size"),
                table_rows(spark, sf_dir, "part"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .where(cond)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("rev_mc").cast("decimal(38,0)")).alias("_rev"),
        )
        .select(
            "p_type",
            "n_items",
            F.col("_rev").cast("string").alias("rev_mc"),
        )
        .orderBy("p_type")
    )


QUERIES["promo_mix_revenue"] = promo_mix_revenue
ORACLES["promo_mix_revenue"] = f"""
WITH j AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         {_REV_MC_SQL} AS rev_mc
  FROM lineitem WHERE l_quantity BETWEEN 1 AND 30)
SELECT p.p_type, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(j.rev_mc AS HUGEINT)) AS VARCHAR) AS rev_mc
FROM j JOIN part p ON p.p_partkey = j.l_partkey
WHERE (p.p_type = 'PROMO' AND j.qty BETWEEN 1 AND 11
       AND p.p_size BETWEEN 1 AND 25)
   OR (p.p_type = 'ECONOMY' AND j.qty BETWEEN 10 AND 20
       AND p.p_size BETWEEN 10 AND 40)
   OR (p.p_type = 'STANDARD' AND j.qty BETWEEN 20 AND 30)
GROUP BY 1 ORDER BY 1"""


def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency via SWEEP LINE (round 11) — a NEW family:
    the peak number of simultaneously-open user sessions, the classic
    max-overlap question (capacity planning, connection-pool sizing)
    that naive per-minute × per-session join queries answer
    quadratically. Sessions are ``user_sessions``'s 30-minute-gap
    definition; a session occupies every minute bucket from its first
    event's to its last event's.

    Sweep line, all exact integers: each session contributes +1 at its
    start minute and −1 one past its end minute; concurrency is the
    running prefix sum over minutes, which changes ONLY at those
    endpoints — so the maximum over change-points is the true global
    maximum (piecewise-constant function). Output: every change-minute
    where the peak is attained.

    Plan: the sessionization window and the (user, session) bounds
    rollup share ONE exchange on user_id (partition keys ⊂ group
    keys); endpoint deltas fold to |minutes| rows in a second
    series-sized exchange; the prefix sum is a single-partition window
    over the BOUNDED minute series (the time span is fixed — ~43k
    minutes per month — never fact-sized; the same contract as the
    CUSUM series windows). The change-point table persists once for
    the max + filter consumers."""
    from distributed_computing_spark.caching import track_persist

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.select("user_id", "ts", "event_id").withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = (
        marked.withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min(F.col("ts").cast("long")).alias("t0"),
            F.max(F.col("ts").cast("long")).alias("t1"),
        )
    )
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.expr("t0 div 60").alias("minute"),
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.expr("t1 div 60 + 1").alias("minute"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("e")
    ).select("e.minute", "e.d")
    wseq = Window.orderBy("minute").rowsBetween(
        Window.unboundedPreceding, 0
    )
    conc = track_persist(
        deltas.groupBy("minute")
        .agg(F.sum("d").alias("d"))
        .withColumn("c", F.sum("d").over(wseq))
    )
    mx = conc.agg(F.max("c").alias("mx"))
    return (
        conc.join(F.broadcast(mx), conc["c"] == mx["mx"])
        .select(
            F.col("minute").alias("minute_epoch"),
            F.col("c").cast("long").alias("concurrency"),
        )
        .orderBy("minute_epoch")
    )


QUERIES["session_peak_concurrency"] = session_peak_concurrency
ORACLES["session_peak_concurrency"] = """
WITH o AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL
                   OR ((epoch_us(ts) // 1000000)
                       - (epoch_us(prev) // 1000000)) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m),
b AS (SELECT user_id, sid,
             min(epoch_us(ts) // 1000000) AS t0,
             max(epoch_us(ts) // 1000000) AS t1
      FROM s GROUP BY 1, 2),
d AS (SELECT (t0 // 60) AS minute, 1 AS d FROM b
      UNION ALL
      SELECT (t1 // 60) + 1, -1 FROM b),
r AS (SELECT minute, sum(d) OVER (ORDER BY minute
                                  ROWS UNBOUNDED PRECEDING) AS conc
      FROM (SELECT minute, CAST(sum(d) AS BIGINT) AS d
            FROM d GROUP BY 1))
SELECT CAST(r.minute AS BIGINT) AS minute_epoch,
       CAST(r.conc AS BIGINT) AS concurrency
FROM r WHERE r.conc = (SELECT max(conc) FROM r)
ORDER BY 1"""



# ---------------------------------------------------------------------------
# Round 11, batch 2: pipeline observability (dedup savings, per-source
# length quantiles) and the sliding-RANGE-frame burst-rate family
# ---------------------------------------------------------------------------


def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup OBSERVABILITY (round 11): what dedup would save, at TWO
    strictness levels in one report — the cluster-size histogram with
    redundant-document and redundant-character totals per
    (cluster_kind, size) class, where ``exact`` keys by the full
    normalized-text fingerprint (exact_dedup's) and ``prefix16`` by
    the first-16-token hash (prefix_dup_groups' truncation-duplicate
    class). This is the report a curation pipeline publishes before
    committing a dedup pass: storage / token-budget savings and the
    duplication health of each crawl, with the prefix level catching
    the re-chunked/boilerplate-suffixed copies exact hashing misses.

    Exact integers throughout: the kept copy is the min-doc_id row via
    a struct-min aggregate (never a window sort), redundant_chars =
    Σ n_chars − kept copy's n_chars.

    Plan: ONE fused Arrow pass computes BOTH md5 keys per document
    (the explode-family lesson's 8th confirmation, measured at R20:
    fused 1.06 s vs 12.7 s for the same two hashes as JVM Columns —
    java.util.regex normalize+tokenize is the whole cost — and a
    draft explode of (kind, hash) structs was just as bad, 12.4 s:
    a Generate whose array children carry regex+md5 expressions drops
    out of codegen entirely). Python's regexes run under re.ASCII so
    \\s/token classes match the Java and RE2 semantics byte-for-byte
    (gate-proven at both SFs). The hashed frame persists — (2 hashes,
    2 longs) per doc, text never cached or shuffled — and each level
    is a partial-aggregated exchange on its 16-byte key, UNIONed at
    the cluster-table level (already tiny). Histogram rollup is
    |kinds × cluster-sizes| rows."""
    from distributed_computing_spark.caching import track_persist

    import hashlib
    import re

    docs = load_table(spark, sf_dir, "documents")
    ws = re.compile(r"\s+", re.ASCII)
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)

    def hash_row(doc_id, n_chars, t):
        norm = ws.sub(" ", t.lower()).strip(" ")
        toks = tok.findall(t)
        return [
            (
                doc_id,
                n_chars,
                hashlib.md5(norm.encode("utf-8")).hexdigest(),
                hashlib.md5(" ".join(toks[:16]).encode("utf-8")).hexdigest()
                if toks
                else None,
            )
        ]

    hashed = track_persist(
        map_rows(
            docs.select("doc_id", "n_chars", "text"),
            hash_row,
            "doc_id long, n_chars long, eh string, ph string",
        )
    )

    def level(col: str, kind: str) -> DataFrame:
        return (
            hashed.select(F.col(col).alias("h"), "doc_id", "n_chars")
            .where(F.col("h").isNotNull())
            .groupBy("h")
            .agg(
                F.count(F.lit(1)).alias("n_copies"),
                F.sum("n_chars").alias("sum_chars"),
                F.min(F.struct("doc_id", "n_chars")).alias("keep"),
            )
            .select(
                F.lit(kind).alias("kind"), "n_copies", "sum_chars", "keep"
            )
        )

    g = level("eh", "exact").unionByName(level("ph", "prefix16"))
    return (
        g.select(
            "kind",
            "n_copies",
            (F.col("sum_chars") - F.col("keep.n_chars")).alias("red_chars"),
        )
        .groupBy("kind", "n_copies")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("red_chars").alias("redundant_chars"),
        )
        .select(
            F.col("kind").alias("cluster_kind"),
            "n_copies",
            "n_clusters",
            ((F.col("n_copies") - 1) * F.col("n_clusters")).alias(
                "n_redundant_docs"
            ),
            "redundant_chars",
        )
        .orderBy("cluster_kind", "n_copies")
    )


QUERIES["dedup_savings_report"] = dedup_savings_report
ORACLES["dedup_savings_report"] = f"""
WITH t AS (SELECT doc_id, n_chars, text, {_TOKENS} AS toks FROM documents),
keyed AS (
  SELECT 'exact' AS kind,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
         doc_id, n_chars
  FROM t
  UNION ALL
  SELECT 'prefix16', md5(array_to_string(toks[1:16], ' ')), doc_id, n_chars
  FROM t WHERE len(toks) > 0),
g AS (
  SELECT kind, h,
         CAST(count(*) AS BIGINT) AS n_copies,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         arg_min(n_chars, doc_id) AS keep_chars
  FROM keyed GROUP BY 1, 2)
SELECT kind AS cluster_kind, n_copies,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST((n_copies - 1) * count(*) AS BIGINT) AS n_redundant_docs,
       CAST(sum(sum_chars - keep_chars) AS BIGINT) AS redundant_chars
FROM g GROUP BY 1, 2 ORDER BY 1, 2"""


def source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE length-distribution report (round 11): exact
    P10/P50/P90 of per-document token counts for every source — the
    observability a mixture-weighting / packing stage reads before
    deciding per-source sampling rates and context budgets. All
    integer-exact: token counts are integers and the quantile is the
    two-level no-sort lower-quantile core (ONE fused multi-q pass —
    the grouped_weighted_quantiles_multi machinery on a new input
    shape: group = source, value = token count).

    Plan: the token counter is a fused Arrow pass (the explode-family
    lesson again — the JVM regex split measured 5.6 s of the draft's
    7.6 s at R20; ``re.ASCII`` keeps the token class byte-identical to
    the Java/RE2 semantics, gate-proven), folding into the
    (source, n_tokens) weight table in one partial-agg exchange. The
    weight table PERSISTS — the quantile core consumes it three times
    (bounds, bucket sums, crossing pass; the core's own
    persist-if-expensive contract, the order_price_quantiles rule:
    unpersisted it re-tokenized the corpus per pass, 19.5 s)."""
    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.operators.analytics import (
        grouped_weighted_quantiles_multi,
    )

    import re

    docs = load_table(spark, sf_dir, "documents")
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)
    vw = track_persist(
        map_rows(
            docs.select("source", "text"),
            lambda src, t: [(src, len(tok.findall(t)))],
            "g string, v long",
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    return (
        grouped_weighted_quantiles_multi(vw, [100, 500, 900])
        .select(
            F.col("g").alias("source"),
            F.col("q").alias("q_permille"),
            F.col("w_total").alias("n_docs"),
            F.col("q_v").alias("q_tokens"),
        )
        .orderBy("source", "q_permille")
    )


QUERIES["source_length_quantiles"] = source_length_quantiles
ORACLES["source_length_quantiles"] = f"""
WITH c AS (SELECT source AS g, CAST(len({_TOKENS}) AS BIGINT) AS v
           FROM documents),
vw AS (SELECT g, v, count(*) AS wt FROM c GROUP BY 1, 2),
r AS (SELECT g, v, wt,
             sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(wt) OVER (PARTITION BY g) AS tot
      FROM vw),
q AS (SELECT unnest([100, 500, 900]) AS q_permille)
SELECT r.g AS source, q.q_permille,
       CAST(r.tot AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN 1000 * r.cum >= q.q_permille * r.tot
                     THEN r.v END) AS BIGINT) AS q_tokens
FROM r, q
GROUP BY 1, 2, r.tot ORDER BY 1, 2"""


def user_burst_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-RANGE-frame burst detection (round 11): each user's
    MAXIMUM trailing-60-minute event count, reported as a histogram
    (max_rate, n_users) — the rate-limiter / abuse-detection shape.
    The frame is RANGE over the integer minute axis (gaps count:
    a user active at minutes 0 and 300 never sees both in one frame),
    not ROWS over observed rows — the distinction naive rolling-count
    queries get wrong on sparse activity.

    Plan (the dominant_part_suppliers motion): ONE
    ``repartition("user_id")`` serves the (user, minute) rollup, the
    per-user RANGE window, AND the per-user max (partition keys ⊂
    group keys at every level — no further fact exchange); the
    histogram is |distinct rates| rows. All exact integers."""
    ev = load_table(spark, sf_dir, "events")
    pm = (
        ev.select(
            "user_id",
            F.expr("cast(ts as long) div 60").alias("minute"),
        )
        .repartition("user_id")
        .groupBy("user_id", "minute")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _burst_hist_from_minutes(pm)


def _burst_hist_from_minutes(pm: DataFrame) -> DataFrame:
    """The RANGE-window detector over a (user_id, minute, c) rollup —
    shared by the batch query (which feeds it the one-exchange
    repartitioned aggregate) and the streaming twin (which feeds it
    the flushed streaming-aggregation state)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("minute")
        .rangeBetween(-59, 0)
    )
    mx = (
        pm.withColumn("r60", F.sum("c").over(w))
        .groupBy("user_id")
        .agg(F.max("r60").alias("max_rate"))
    )
    return (
        mx.groupBy("max_rate")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("max_rate")
    )


def stream_burst_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-rate detection OVER A STREAM (round 11): the per-user
    minute-bucket count table is maintained as a STREAMING aggregation
    (complete mode — state is the active (user, minute) rollup,
    bounded by users × the stream's minute span, the same
    series-bounded contract as stream_cusum_drift's types × days), the
    final state flushes to storage, and the RANGE-window detector runs
    on the flushed rollup. Gated by the BATCH oracle: the stream's
    final answer equals user_burst_rates exactly. An ONLINE variant
    would expire minutes older than the 60-minute horizon per key with
    a watermark and keep only the running max — same detector, smaller
    state; the flush form is the one whose final answer is
    batch-provable under the gate."""
    from distributed_computing_spark.caching import session_tmpdir
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    ev = load_table(spark, sf_dir, "events")
    sdf = stream_table(spark, ev.select("user_id", "ts"))
    pm_state = run_to_batch(
        sdf.groupBy(
            "user_id", F.expr("cast(ts as long) div 60").alias("minute")
        ).agg(F.count(F.lit(1)).alias("c")),
        spark,
    )
    out = session_tmpdir(prefix="dcs_burst_state_")
    pm_state.write.mode("overwrite").parquet(out)
    return _burst_hist_from_minutes(spark.read.parquet(out))


def user_burst_alerts(
    spark: SparkSession,
    sf_dir: str,
    threshold: int = 3,
    horizon_s: int = 3600,
) -> DataFrame:
    """Event-level burst ALERTS (round 11): every (user, second) where
    the trailing-hour INCLUSIVE event count reaches ``threshold`` —
    the alert feed a rate limiter consumes, where user_burst_rates is
    the offline histogram. RANGE frame over epoch seconds (peers at
    the same second count in full, so the definition is row-order
    free); duplicate (user, t) rows collapse to one alert.

    Plan: one repartition(user_id) serves the RANGE window; the alert
    set is output-sized. The streaming twin (stream_burst_alerts)
    reproduces this EXACTLY online with bounded per-user state."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", F.col("ts").cast("long").alias("t")
    ).repartition("user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-(horizon_s - 1), 0)
    )
    return (
        e.withColumn("n_events", F.count(F.lit(1)).over(w))
        .where(F.col("n_events") >= threshold)
        .select("user_id", "t", "n_events")
        .distinct()
        .orderBy("user_id", "t")
    )


def stream_burst_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLINE twin (round 11): per-user applyInPandasWithState
    with BOUNDED state — only the trailing-hour timestamp multiset
    survives per user (evicted as time advances), unlike the
    flush-pattern stream_burst_rates whose state is the whole series.
    Replayed as 4 time-ordered micro-batches (the seq-source recipe;
    epoch seconds are rebased so the n-tile split actually cuts the
    stream — raw epochs all land in the last n-tile), alerts emitted
    the moment the window fills. Gated by the BATCH oracle: online ==
    batch RANGE window exactly (ties handled by whole-group
    processing; see streaming/burst.py)."""
    from distributed_computing_spark.streaming.burst import (
        burst_alert_stream,
    )
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_in_seq_batches,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.col("ts").cast("long").alias("t"))
    t0 = e.agg(F.min("t").alias("m")).collect()[0]["m"] or 0
    e = e.withColumn("rel", (F.col("t") - F.lit(int(t0))).cast("long"))
    sdf = stream_in_seq_batches(spark, e, n=4, order_col="rel")
    out = run_to_batch(
        burst_alert_stream(sdf.drop("rel")), spark, output_mode="append"
    )
    return out.orderBy("user_id", "t")


QUERIES["user_burst_alerts"] = user_burst_alerts
QUERIES["stream_burst_alerts"] = stream_burst_alerts
ORACLES["user_burst_alerts"] = """
WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
w AS (SELECT user_id, t,
             CAST(count(*) OVER (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_events
      FROM e)
SELECT DISTINCT user_id, CAST(t AS BIGINT) AS t, n_events
FROM w WHERE n_events >= 3 ORDER BY 1, 2"""
ORACLES["stream_burst_alerts"] = ORACLES["user_burst_alerts"]


QUERIES["user_burst_rates"] = user_burst_rates
QUERIES["stream_burst_rates"] = stream_burst_rates
ORACLES["user_burst_rates"] = """
WITH pm AS (
  SELECT user_id, (epoch_us(ts) // 1000000) // 60 AS minute,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
w AS (SELECT user_id,
             CAST(sum(c) OVER (PARTITION BY user_id ORDER BY minute
                   RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS r60
      FROM pm),
mx AS (SELECT user_id, max(r60) AS max_rate FROM w GROUP BY 1)
SELECT max_rate, CAST(count(*) AS BIGINT) AS n_users
FROM mx GROUP BY 1 ORDER BY 1"""
ORACLES["stream_burst_rates"] = ORACLES["user_burst_rates"]


# ---------------------------------------------------------------------------
# Round 11 (late): exact distribution-drift statistic
# ---------------------------------------------------------------------------


def ks_price_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        ks_price_drift,
    )

    return ks_price_drift(spark, sf_dir)


QUERIES["ks_price_drift"] = ks_price_drift_q
# Oracle: the same inclusive-CDF KS numerator via a (distinct value ×
# group) grid — cumulative per-group counts from a window over the
# grid, complement cumulative as C(v) − c_g(v). HUGEINT internally;
# final columns BIGINT / VARCHAR digits (the round-9 oracle-type rule).
# The `//` operands are non-negative by construction (abs numerator,
# CASE-guarded positive denominator) — allowlisted in
# test_oracle_portability.
ORACLES["ks_price_drift"] = """
WITH b AS (SELECT l_returnflag AS g,
                  CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem),
tot AS (SELECT g, count(*)::HUGEINT AS n FROM b GROUP BY 1),
nt AS (SELECT sum(n) AS n_tot FROM tot),
vc AS (SELECT v, g, count(*)::HUGEINT AS c FROM b GROUP BY 1, 2),
grid AS (SELECT d.v, t.g, t.n
         FROM (SELECT DISTINCT v FROM b) d CROSS JOIN tot t),
cum AS (SELECT grid.v, grid.g, grid.n,
               sum(COALESCE(vc.c, 0)) OVER (
                 PARTITION BY grid.g ORDER BY grid.v) AS cg
        FROM grid LEFT JOIN vc ON vc.v = grid.v AND vc.g = grid.g),
ca AS (SELECT v, g, n, cg, sum(cg) OVER (PARTITION BY v) AS call
       FROM cum),
d AS (SELECT g, min(n) AS n_g,
             max(abs(cg * ((SELECT n_tot FROM nt) - n)
                     - (call - cg) * n)) AS d_num
      FROM ca GROUP BY 1)
SELECT g AS l_returnflag,
       CAST(n_g AS BIGINT) AS n_group,
       CAST((SELECT n_tot FROM nt) - n_g AS BIGINT) AS n_rest,
       CAST(d_num AS VARCHAR) AS d_num,
       CAST(CASE WHEN n_g > 0 AND (SELECT n_tot FROM nt) > n_g
            THEN (d_num * 1000000)
                 // (n_g * ((SELECT n_tot FROM nt) - n_g))
            END AS BIGINT) AS ks_ppm
FROM d ORDER BY 1"""


def vocab_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.textstats import vocab_growth

    return vocab_growth(spark, sf_dir)


QUERIES["vocab_growth"] = vocab_growth_q
# Oracle `//` operands: doc_id / max_id are non-negative testdata ids,
# vocab and token counts are non-negative with a positive CASE-guarded
# denominator — allowlisted in test_oracle_portability.
ORACLES["vocab_growth"] = f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
mx AS (SELECT max(doc_id) AS m FROM documents),
th AS (SELECT CAST(i AS BIGINT) AS bucket_i,
              ((CAST(i AS BIGINT) + 1) * (m + 1)) // 20 AS thr
       FROM range(0, 20) r(i), mx),
tk AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t),
fo AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY 1),
v AS (SELECT th.bucket_i, count(*)::HUGEINT AS n_vocab
      FROM th JOIN fo ON fo.first_doc < th.thr GROUP BY 1),
c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
n AS (SELECT th.bucket_i, th.thr,
             count(*)::HUGEINT AS n_docs,
             sum(c.n_tokens)::HUGEINT AS n_toks
      FROM th JOIN c ON c.doc_id < th.thr GROUP BY 1, 2)
SELECT n.bucket_i,
       CAST(n.thr AS BIGINT) AS doc_cutoff,
       CAST(n.n_docs AS BIGINT) AS n_docs,
       CAST(n.n_toks AS BIGINT) AS n_tokens,
       CAST(COALESCE(v.n_vocab, 0) AS BIGINT) AS n_vocab,
       CAST(CASE WHEN n.n_toks > 0
            THEN (COALESCE(v.n_vocab, 0) * 1000000) // n.n_toks
            END AS BIGINT) AS ttr_ppm
FROM n LEFT JOIN v USING (bucket_i) ORDER BY 1"""


def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.textstats import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(spark, sf_dir)


QUERIES["winnow_fingerprints"] = winnow_fingerprints_q
# Oracle: the rightmost-min tie rule rides the key encoding
# (h·2^21 + (2^21−1−p)) so a plain window min() reproduces the Arrow
# pass exactly; WHERE-qualification of window STARTS happens in an
# outer select (a WHERE in the window's own select would remove frame
# rows). `//` operands: wmin keys and fingerprint/gram counts are
# non-negative (md5-derived hashes, CASE-guarded denominator) —
# allowlisted in test_oracle_portability.
ORACLES["winnow_fingerprints"] = f"""
WITH t AS (SELECT doc_id, source, {_TOKENS} AS toks FROM documents),
gl AS (SELECT doc_id, source,
              list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3]) AS grams
       FROM t),
g AS (SELECT doc_id, source, len(grams) AS n,
             unnest(grams) AS gram,
             generate_subscripts(grams, 1) AS p
      FROM gl WHERE len(grams) >= 1),
k AS (SELECT doc_id, source, n, p,
             ('0x' || substr(md5(gram), 1, 10))::BIGINT * 2097152
               + (2097151 - p) AS key
      FROM g),
w AS (SELECT doc_id, source, n, p,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW
                            AND 4 FOLLOWING) AS wmin
      FROM k),
sel AS (SELECT DISTINCT doc_id, source, wmin
        FROM w WHERE p <= greatest(1, n - 4)),
srcg AS (SELECT source, count(*)::HUGEINT AS n_docs,
                sum(len(grams))::HUGEINT AS n_grams
         FROM gl WHERE len(grams) >= 1 GROUP BY 1),
srcf AS (SELECT source, count(*)::HUGEINT AS n_fp,
                count(DISTINCT wmin // 2097152)::HUGEINT AS n_hashes
         FROM sel GROUP BY 1)
SELECT srcg.source,
       CAST(srcg.n_docs AS BIGINT) AS n_docs,
       CAST(srcg.n_grams AS BIGINT) AS n_grams,
       CAST(srcf.n_fp AS BIGINT) AS n_fp,
       CAST(srcf.n_hashes AS BIGINT) AS n_hashes,
       CAST(CASE WHEN srcg.n_grams > 0
            THEN (srcf.n_fp * 1000000) // srcg.n_grams
            END AS BIGINT) AS fp_pmg
FROM srcg JOIN srcf ON srcg.source = srcf.source
ORDER BY 1"""


def neighbor_customer_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage over customer names (round 11):
    pairs within 7 sort positions at Levenshtein <= 2 — the
    merge/purge candidate strategy, complementary to
    fuzzy_customer_match's pigeonhole blocking (see
    linkage.sorted_neighborhood_pairs for the exact-global-rank
    plan)."""
    from distributed_computing_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )
    from distributed_computing_spark.sources.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        cust, "c_custkey", "c_name", window=8, max_dist=2
    ).orderBy("a_id", "b_id")


QUERIES["neighbor_customer_pairs"] = neighbor_customer_pairs_q
# The pair set is POSITION-defined (0 < rn_b − rn_a < window over the
# unique (name, id) total order), so the oracle's plain row_number()
# window is the exact same candidate set; levenshtein semantics are
# cross-engine-identical (tested).
ORACLES["neighbor_customer_pairs"] = """
WITH r AS (SELECT c_custkey AS id, c_name AS name,
                  row_number() OVER (ORDER BY c_name, c_custkey) AS rn
           FROM customer),
p AS (SELECT a.id AS a_id, b.id AS b_id,
             levenshtein(a.name, b.name) AS dist
      FROM r a JOIN r b ON b.rn > a.rn AND b.rn < a.rn + 8)
SELECT a_id, b_id, CAST(dist AS BIGINT) AS dist
FROM p WHERE dist <= 2 ORDER BY 1, 2"""


def copurchase_clustering_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient over the co-purchase
    graph (round 11) — see graph.clustering_coefficients. Output is
    dimension-sized (one row per part with degree >= 2)."""
    from distributed_computing_spark.operators.graph import (
        clustering_coefficients,
        copurchase_edges,
    )

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return (
        clustering_coefficients(edges)
        .select(
            F.col("node").alias("p_partkey"),
            "degree",
            "n_triangles",
            "cc_ppm",
        )
        .orderBy("p_partkey")
    )


QUERIES["copurchase_clustering"] = copurchase_clustering_q


def _clustering_oracle_sql() -> str:
    """Same orientation/closure CTE chain as the triangles oracle
    (MATERIALIZED per the recursive/multi-reference rule), extended to
    per-node cc. `//` operands: counts with a d >= 2 guard —
    allowlisted in test_oracle_portability."""
    return """
WITH edges AS MATERIALIZED (
  SELECT DISTINCT la.l_partkey AS src, lb.l_partkey AS dst
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey <> lb.l_partkey),
deg AS MATERIALIZED (
  SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
oe AS MATERIALIZED (
  SELECT CASE WHEN lt THEN a ELSE b END AS u,
         CASE WHEN lt THEN b ELSE a END AS v,
         CASE WHEN lt THEN db ELSE da END AS dv
  FROM (
    SELECT e.src AS a, e.dst AS b, x.d AS da, y.d AS db,
           (x.d < y.d OR (x.d = y.d AND e.src < e.dst)) AS lt
    FROM edges e
    JOIN deg x ON e.src = x.node
    JOIN deg y ON e.dst = y.node
    WHERE e.src < e.dst)),
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oe e1
  JOIN oe e2 ON e1.u = e2.u
    AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
  JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v),
members AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
tcnt AS (SELECT node, count(*)::HUGEINT AS n_tri FROM members GROUP BY 1)
SELECT d.node AS p_partkey,
       CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST((2 * COALESCE(t.n_tri, 0)::HUGEINT * 1000000)
            // (d.d::HUGEINT * (d.d - 1)) AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
WHERE d.d >= 2 ORDER BY 1"""


ORACLES["copurchase_clustering"] = _clustering_oracle_sql()


def returned_top_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (round 11): the returned-item revenue report —
    top 20 customers by revenue lost to returns in one quarter, with
    customer attributes. Reference analog: none (SURVEY §2.8 relational
    surface); the TPC-H family's remaining distinctive plan shape on
    this schema (no nation/address columns here, so the rollup keys on
    the customer dimension's own attrs).

    Plan: both facts pre-reduce before the ONE fact-fact exchange
    (returnflag filter reaches the lineitem scan, the quarter filter
    the orders scan — both as PushedFilters); revenue sums exact
    integer myriacents; the per-custkey rollup partial-aggregates;
    TakeOrdered(20) on (revenue desc, custkey) is deterministic under
    ties; and the CUSTOMER DIMENSION NEVER SHUFFLES — the 20-row
    result broadcasts into it (broadcast-of-aggregate+limit, the Q18
    motion, sweep-safe by construction)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        li.where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("long").alias("rev_mc"),
        )
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev_mc").alias("revenue_mc"))
        .orderBy(F.desc("revenue_mc"), F.asc("o_custkey"))
        .limit(20)
    )
    return (
        F.broadcast(rev)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey"),
            "c_name",
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "c_mktsegment",
            F.col("revenue_mc").cast("long").alias("revenue_mc"),
        )
        .orderBy(F.desc("revenue_mc"), F.asc("c_custkey"))
    )


QUERIES["returned_top_customers"] = returned_top_customers_q
ORACLES["returned_top_customers"] = """
WITH rev AS (
  SELECT o.o_custkey,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                             * 10000) AS BIGINT)) AS BIGINT) AS revenue_mc
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
  GROUP BY 1
  ORDER BY revenue_mc DESC, o_custkey ASC
  LIMIT 20)
SELECT c.c_custkey, c.c_name,
       CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       c.c_mktsegment, rev.revenue_mc
FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
ORDER BY rev.revenue_mc DESC, c.c_custkey ASC"""


def stream_winnow_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-on-ingest (round 11): the MOSS fingerprint pass as a
    STATELESS streaming map — per-doc winnowing needs no cross-row
    state, so the Arrow pass runs unchanged over a bounded document
    stream in append mode with no state store (the
    stream_dhash_ingest / blocklist-on-ingest class); gated by the
    same per-doc batch oracle, so stream == batch is value-proven."""
    from distributed_computing_spark.operators.textstats import winnow_docs
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sdf = stream_table(spark, docs)
    out = run_to_batch(winnow_docs(sdf), spark, output_mode="append")
    return out.select(
        "doc_id",
        "n_grams",
        "n_fp",
        F.size("fp_hashes").cast("long").alias("n_hashes"),
    ).orderBy("doc_id")


QUERIES["stream_winnow_ingest"] = stream_winnow_ingest
ORACLES["stream_winnow_ingest"] = f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
gl AS (SELECT doc_id,
              list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3]) AS grams
       FROM t),
g AS (SELECT doc_id, len(grams) AS n,
             unnest(grams) AS gram,
             generate_subscripts(grams, 1) AS p
      FROM gl WHERE len(grams) >= 1),
k AS (SELECT doc_id, n, p,
             ('0x' || substr(md5(gram), 1, 10))::BIGINT * 2097152
               + (2097151 - p) AS key
      FROM g),
w AS (SELECT doc_id, n, p,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW
                            AND 4 FOLLOWING) AS wmin
      FROM k),
sel AS (SELECT DISTINCT doc_id, wmin
        FROM w WHERE p <= greatest(1, n - 4)),
f AS (SELECT doc_id, count(*)::HUGEINT AS n_fp,
             count(DISTINCT wmin // 2097152)::HUGEINT AS n_hashes
      FROM sel GROUP BY 1)
SELECT gl.doc_id,
       CAST(len(gl.grams) AS BIGINT) AS n_grams,
       CAST(f.n_fp AS BIGINT) AS n_fp,
       CAST(f.n_hashes AS BIGINT) AS n_hashes
FROM gl JOIN f ON gl.doc_id = f.doc_id
ORDER BY 1"""


def winnow_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.textstats import (
        winnow_neardup,
    )

    return winnow_neardup(spark, sf_dir)


QUERIES["winnow_neardup"] = winnow_neardup_q
# Multiply-referenced CTEs (hp: cap + index; bl: self-join) are
# MATERIALIZED per the CLAUDE.md recursive/multi-reference rule.
ORACLES["winnow_neardup"] = f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
gl AS (SELECT doc_id,
              list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     || ' ' || toks[i+3]) AS grams
       FROM t),
g AS (SELECT doc_id, len(grams) AS n,
             unnest(grams) AS gram,
             generate_subscripts(grams, 1) AS p
      FROM gl WHERE len(grams) >= 1),
k AS (SELECT doc_id, n, p,
             ('0x' || substr(md5(gram), 1, 10))::BIGINT * 2097152
               + (2097151 - p) AS key
      FROM g),
w AS (SELECT doc_id, n, p,
             min(key) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW
                            AND 4 FOLLOWING) AS wmin
      FROM k),
sel AS (SELECT DISTINCT doc_id, wmin
        FROM w WHERE p <= greatest(1, n - 4)),
hp AS MATERIALIZED (
  SELECT DISTINCT doc_id, wmin // 2097152 AS h FROM sel),
ok AS (SELECT h FROM hp GROUP BY 1 HAVING count(*) <= 200),
bl AS MATERIALIZED (
  SELECT hp.doc_id, hp.h FROM hp JOIN ok ON hp.h = ok.h)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM bl a JOIN bl b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
ORDER BY 1, 2"""


def events_lag_autocorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        events_lag_autocorr,
    )

    return events_lag_autocorr(spark, sf_dir)


QUERIES["events_lag_autocorr"] = events_lag_autocorr_q
# The (6·sum_d2·10^6) // (n·(n²−1)) form is the audited spearman
# pattern (non-negative operands, n >= 2 CASE guard); epoch-day `//`
# already allowlisted.
ORACLES["events_lag_autocorr"] = """
WITH daily AS (
  SELECT event_type, (epoch_us(ts) // 1000000) // 86400 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
l AS (SELECT unnest([1, 7]) AS lag),
p AS (SELECT x.event_type, l.lag, x.c AS cx, y.c AS cy
      FROM daily x CROSS JOIN l
      JOIN daily y ON y.event_type = x.event_type
                  AND y.d = x.d + l.lag),
r AS (SELECT event_type, lag,
             rank() OVER (PARTITION BY event_type, lag ORDER BY cx)
               AS rx,
             rank() OVER (PARTITION BY event_type, lag ORDER BY cy)
               AS ry
      FROM p),
s AS (SELECT event_type, lag, count(*)::HUGEINT AS n,
             sum((rx - ry)::HUGEINT * (rx - ry)) AS sum_d2
      FROM r GROUP BY 1, 2)
SELECT event_type, CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(sum_d2 AS BIGINT) AS sum_d2,
       CAST(CASE WHEN n >= 2 THEN
              1000000 - (6 * sum_d2 * 1000000) // (n * (n * n - 1))
            END AS BIGINT) AS rho_ppm
FROM s ORDER BY 1, 2"""


def stream_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag autocorrelation OVER A STREAM (round 11): the per-type
    daily count table is maintained as a streaming aggregation
    (complete mode — state is |types × days| rows, series-bounded for
    an unbounded stream), flushed to storage, and the rank-correlation
    detector runs on the flushed rollup (the stream_cusum_drift
    handoff pattern: the detector needs a self-join of the state,
    which a memory-sink view cannot express). Gated by the BATCH
    oracle — stream == batch value-proven."""
    from distributed_computing_spark.caching import session_tmpdir
    from distributed_computing_spark.operators.analytics import (
        lag_autocorr_from_daily,
    )
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    ev = load_table(spark, sf_dir, "events")
    sdf = stream_table(spark, ev.select("event_type", "ts"))
    daily_state = run_to_batch(
        sdf.groupBy(
            "event_type",
            F.expr("cast(ts as long) div 86400").alias("d"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        spark,
    )
    out = session_tmpdir(prefix="dcs_autocorr_state_")
    daily_state.write.mode("overwrite").parquet(out)
    return lag_autocorr_from_daily(spark.read.parquet(out)).orderBy(
        "event_type", "lag"
    )


QUERIES["stream_lag_autocorr"] = stream_lag_autocorr
ORACLES["stream_lag_autocorr"] = ORACLES["events_lag_autocorr"]


def late_shipment_priority(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_orders: int = 20_000_000,
) -> DataFrame:
    """TPC-H Q4 shape (round 11): order-priority census of orders in a
    half-year window having at least one lineitem shipped more than 60
    days after the order date. Reference analog: none (SURVEY §2.8
    relational surface); the last distinctive correlated-EXISTS shape
    missing from the TPC-H family (Q21's multi-alias cousin is
    sole_return_supplier).

    Both plans push a HAND-DERIVED bound to the lineitem scan: a
    qualifying line has ``l_shipdate > o_orderdate + 60d >=
    window_start + 60d``, so lines at or before '1996-03-01' can never
    qualify (the promo_mix_revenue motion). The orders window filter
    is likewise pushed.

    Primary plan (two measured at R100, 60 M lineitem): the filtered
    half-year ORDERS WINDOW broadcasts into the lineitem scan under
    the market_share three-band gate (footer-certify / one linear
    count probe / refuse), the range predicate rides the broadcast
    join as its post-filter, and the EXISTS collapses to a map-side
    partial DISTINCT on (priority, orderkey) — lineitem NEVER
    exchanges, and the one exchange carries only qualifying distinct
    id pairs. Measured 8-11 s (decorrelated shuffle draft) ->
    5.9-6.9 s at R100 (solo, default heap), answer-identical; the
    draft's per-order aggregate scales with the fact (14 M groups per
    100x) while this plan's one exchange stays qualifying-sized.

    Fallback above the gate: the correlated EXISTS decorrelates as a
    per-order MAX — ``exists(l_shipdate > threshold)`` iff
    ``max(l_shipdate) > threshold``, since every line of an order
    shares its threshold — so lineitem partial-aggregates to ONE
    16-byte (orderkey, max_date) row per order before a shuffle-hash
    orderkey join (no sort legs, no unbounded broadcast). The oracle
    states the ORIGINAL correlated EXISTS — the decorrelation, the
    broadcast collapse, and the derived bound are what the gate
    proves."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_f = li.where(
        F.col("l_shipdate") > F.lit("1996-03-01 00:00:00")
    ).select("l_orderkey", "l_shipdate")
    ow = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    # Three-band gate (the market_share envelope discipline): the
    # broadcast side is a fixed FRACTION (~8%) of an SF-scaling table.
    n_orders_total = table_rows(spark, sf_dir, "orders")  # parquet footers only
    if n_orders_total <= max_broadcast_orders:
        fits = True
    elif n_orders_total <= 20 * max_broadcast_orders:
        fits = ow.count() <= max_broadcast_orders  # one linear scan
    else:
        fits = False
    if fits:
        q = (
            li_f.join(
                F.broadcast(ow),
                (F.col("l_orderkey") == F.col("o_orderkey")) & late,
            )
            .select("o_orderpriority", "o_orderkey")
            .distinct()
        )
    else:
        per_order = li_f.groupBy("l_orderkey").agg(
            F.max("l_shipdate").alias("max_ship")
        )
        q = (
            ow.hint("shuffle_hash")
            .join(per_order, F.col("o_orderkey") == F.col("l_orderkey"))
            .where(
                F.col("max_ship")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .select("o_orderpriority", "o_orderkey")
        )
    return (
        q.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


QUERIES["late_shipment_priority"] = late_shipment_priority
ORACLES["late_shipment_priority"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1 ORDER BY 1"""


def late_lines_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (round 11): per return flag (this schema's
    stand-in for ship mode), how many LATE lines — shipped more than 30
    days after their order date, order placed in 1996 — belong to
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders. The
    two-bucket conditional aggregation after a fact-fact join is the
    Q12 plan shape the suite didn't yet pin.

    Plan: the lateness predicate couples columns from BOTH facts, so
    exactly ONE fact-fact exchange is irreducible — hinted
    shuffle-hash on the orderkey (never sort-merge, never a forced
    broadcast of an SF-scaling side). Each side prunes to 3 columns
    and carries a pushed scan filter: the orders year window directly,
    and on lineitem the hand-derived bound ``l_shipdate >
    '1996-01-31'`` (implied by shipdate > orderdate + 30d and
    orderdate >= '1996-01-01' — the late_shipment_priority motion).
    The per-flag conditional sums partial-aggregate to 3 rows before
    the final exchange. Counts are provably BIGINT-bounded (row
    counts).

    Round-13 (VERDICT r12 item 5, probe_bucketed_q4.py, commit 84b5ad2): the
    "constant-factor single-node floor" is LAYOUT-DEPENDENT. On the
    R400 replica with orders+lineitem written bucketed by orderkey
    (32 buckets, one-time 99.9 s layout investment), the identical
    join logic runs **3.56-4.27 s vs 12.7-17.9 s** on plain parquet,
    answer-identical, with the fact-fact exchange GONE (hash
    exchanges 2 → 1; the ShuffledHashJoin reads the bucketed
    distribution directly) — ratio vs DuckDB's 2.18 s drops ~6x →
    1.6-2.0. The declared query keeps reading the plain parquet input
    (its contract); at 100 TB the production posture is to maintain
    the co-partitioned bucketed layout and skip the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = (
        li.where(F.col("l_shipdate") > F.lit("1996-01-31 00:00:00"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(
            # the hint rides the ORDERS side: the hash table must build
            # from the ~4x-smaller per-order relation, not the lineitem
            # fan-out (the R100 probe measured the wrong-side build at
            # 83 s contended; orders-side build re-measured 18.9 s solo)
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            )
            .select("o_orderkey", "o_orderdate", "o_orderpriority")
            .hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["late_lines_priority_mix"] = late_lines_priority_mix
ORACLES["late_lines_priority_mix"] = """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
GROUP BY 1 ORDER BY 1"""


def copurchase_link_prediction_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction over the co-purchase graph (round 11): top-100
    NON-adjacent part pairs by shared-neighbor count on the
    support-filtered (>= 2 co-orders) edge list — the recommendation
    question the co-purchase family hadn't asked: pairs/cosine score
    existing edges, this scores ABSENT ones (Liben-Nowell & Kleinberg
    2003's common-neighbors predictor, the integer-exact member of
    that score family). See graph.common_neighbor_pairs for the scale
    contract (absolute middle-degree cap, id-only exchanges, one
    persisted edge list serving degree/wedge/anti-join)."""
    from distributed_computing_spark.operators.graph import (
        common_neighbor_pairs,
        copurchase_edges_supported,
    )

    edges = copurchase_edges_supported(
        load_table(spark, sf_dir, "lineitem"), min_support=2
    )
    return common_neighbor_pairs(edges, max_middle_degree=64, k=100)


QUERIES["copurchase_link_prediction"] = copurchase_link_prediction_q
from distributed_computing_spark.operators.graph import (  # noqa: E402
    link_prediction_oracle_sql,
)

ORACLES["copurchase_link_prediction"] = link_prediction_oracle_sql(
    min_support=2, max_middle_degree=64, k=100
)


def cross_source_contamination_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source contamination matrix (round 11): see
    dedup.cross_source_contamination — per unordered source pair, the
    count of distinct 16-token-prefix dup groups both contain. The
    corpus-level observability a mixture-weighting stage reads before
    trusting per-source token budgets."""
    return dedup.cross_source_contamination(
        load_table(spark, sf_dir, "documents"), k=16, max_sources=64
    )


QUERIES["cross_source_contamination"] = cross_source_contamination_q
ORACLES["cross_source_contamination"] = f"""
WITH t AS (SELECT source, {_TOKENS} AS toks FROM documents),
p AS (SELECT DISTINCT md5(array_to_string(toks[1:16], ' ')) AS ph, source
      FROM t WHERE len(toks) > 0),
h AS (SELECT ph FROM p GROUP BY ph
      HAVING count(*) BETWEEN 2 AND 64)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_prefixes
FROM p a
JOIN p b ON a.ph = b.ph AND a.source < b.source
JOIN h ON a.ph = h.ph
GROUP BY 1, 2 ORDER BY 1, 2"""


def user_interarrival_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type INTERARRIVAL-time report (round 11): exact P50/P90/P99
    of the gap in whole seconds between consecutive events of the same
    (user, event_type) stream — the latency/cadence distribution that
    sits under session-gap thresholds and rate-limit budgets (the
    observability user_sessions' fixed 30-minute gap and
    user_burst_rates' 60-minute frame silently assume).

    Exactness: timestamps are microsecond-integers on both engines
    (probed: zero sub-microsecond components), the lag is ordered by
    (ts, event_id) — a total order, so ties are deterministic — and
    the gap truncation to seconds divides a provably NON-NEGATIVE
    difference (ordered within the partition), keeping the oracle's
    ``//`` engine-version-invariant (the audited-floordiv rule).

    Plan: the lag window partitions by (user_id, event_type) — always
    high-cardinality, never the few-groups sort cliff (CLAUDE.md round
    9) — so ONE fact exchange feeds the window; the (type, gap_s)
    weight table partial-aggregates to |types × distinct gaps| rows
    (gap seconds are bounded by the table's time span, so the weight
    table stays small at ANY event count); the fused multi-q core
    (grouped_weighted_quantiles_multi) serves all three q's from one
    persisted weight table."""
    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.operators.analytics import (
        grouped_weighted_quantiles_multi,
    )

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("us", F.unix_micros("ts"))
        .withColumn("prev_us", F.lag("us").over(w))
        .where(F.col("prev_us").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.expr("(us - prev_us) div 1000000").alias("v"),
        )
    )
    vw = track_persist(
        gaps.groupBy("g", "v").agg(F.count(F.lit(1)).alias("wt"))
    )
    return (
        grouped_weighted_quantiles_multi(vw, [500, 900, 990])
        .select(
            F.col("g").alias("event_type"),
            F.col("q").alias("q_permille"),
            F.col("w_total").alias("n_gaps"),
            F.col("q_v").alias("q_gap_s"),
        )
        .orderBy("event_type", "q_permille")
    )


QUERIES["user_interarrival_quantiles"] = user_interarrival_quantiles
# (us - prev_us) // 1000000: non-negative by the window order (see the
# audited-floordiv allowlist in tests/test_oracle_portability.py).
ORACLES["user_interarrival_quantiles"] = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events),
l AS (SELECT event_type,
             us - lag(us) OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS d_us
      FROM e),
vw AS (SELECT event_type AS g, (d_us) // 1000000 AS v, count(*) AS wt
       FROM l WHERE d_us IS NOT NULL GROUP BY 1, 2),
r AS (SELECT g, v, wt,
             sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(wt) OVER (PARTITION BY g) AS tot
      FROM vw),
q AS (SELECT unnest([500, 900, 990]) AS q_permille)
SELECT r.g AS event_type, q.q_permille,
       CAST(r.tot AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN 1000 * r.cum >= q.q_permille * r.tot
                     THEN r.v END) AS BIGINT) AS q_gap_s
FROM r, q
GROUP BY 1, 2, r.tot ORDER BY 1, 2"""


def segment_revenue_gini_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Gini of customer revenue (round 11): how
    concentrated is order revenue among each segment's customers —
    see analytics.segment_revenue_gini for the exactness and the
    bucketed-rank plan. Customers with no orders are excluded by the
    inner join (the statistic is over the REVENUE-HOLDING population;
    zero-revenue members would only rescale it monotonically).

    Plan: the per-customer cents rollup is ONE partial-aggregated
    orders exchange; the segment attaches via the audited
    joins.gated_broadcast on the customer footer count (the
    regional_revenue family's gate); then the Gini core (bucketed
    ranks, block fold). ``seg`` (<= |customer| rows, two narrow
    columns) is track_persisted: grouped_min_rank's eager bounds
    collect plus the ranking and counts/offsets branches would
    otherwise evaluate the rollup+join THREE times (ADVICE r11 —
    the CLAUDE.md shared-subtree rule; reuse pinned in
    tests/test_plans.py::test_segment_revenue_gini_persists_seg)."""
    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.operators.analytics import (
        segment_revenue_gini,
    )
    from distributed_computing_spark.operators.joins import gated_broadcast

    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100).cast("long")
        ).alias("x")
    )
    seg = track_persist(
        rev.join(
            gated_broadcast(
                cust.select("c_custkey", "c_mktsegment"),
                table_rows(spark, sf_dir, "customer"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select("c_mktsegment", "x")
    )
    return segment_revenue_gini(seg, "c_mktsegment", "x")


QUERIES["segment_revenue_gini"] = segment_revenue_gini_q
# ((2*srx - (n+1)*sx) * 1000000) // (n * sx): numerator non-negative by
# Chebyshev's sum inequality over ascending ranks (see the audited
# allowlist in tests/test_oracle_portability.py).
ORACLES["segment_revenue_gini"] = """
WITH x AS (SELECT o_custkey,
                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) AS x
           FROM orders GROUP BY 1),
s AS (SELECT c.c_mktsegment, x.x
      FROM x JOIN customer c ON x.o_custkey = c.c_custkey),
r AS (SELECT c_mktsegment, x,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY x) AS HUGEINT) AS rn
      FROM s),
g AS (SELECT c_mktsegment, count(*)::HUGEINT AS n,
             sum(x) AS sx, sum(rn * x) AS srx
      FROM r GROUP BY 1)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n_members,
       CAST(sx AS VARCHAR) AS total_value,
       CAST(CASE WHEN sx > 0 THEN
              ((2 * srx - (n + 1) * sx) * 1000000) // (n * sx)
            END AS BIGINT) AS gini_ppm
FROM g ORDER BY 1"""


def stream_interarrival_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ONLINE twin of user_interarrival_quantiles (round 11):
    per-(user, type) gap extraction as applyInPandasWithState whose
    state is ONE last-timestamp long per key — the minimal
    sessionization state (streaming/interarrival.py; the K5 family's
    third domain). Replayed as 4 time-ordered micro-batches (the
    seq-source recipe, rebased microseconds so the n-tile split cuts
    the stream); the emitted gap rows flush to storage (the
    stream_cusum handoff — the quantile core re-reads its weight
    table, which a memory-sink view can't serve) and the SAME fused
    multi-q core reports P50/P90/P99. Gated by the BATCH oracle:
    online == lag-window exactly (cross-batch gaps included — the
    boundary case the pytest pins)."""
    from distributed_computing_spark.caching import (
        session_tmpdir,
        track_persist,
    )
    from distributed_computing_spark.operators.analytics import (
        grouped_weighted_quantiles_multi,
    )
    from distributed_computing_spark.streaming.interarrival import (
        gap_stream,
    )
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_in_seq_batches,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    t0 = e.agg(F.min("us").alias("m")).collect()[0]["m"] or 0
    e = e.withColumn("rel", (F.col("us") - F.lit(int(t0))).cast("long"))
    sdf = stream_in_seq_batches(spark, e, n=4, order_col="rel")
    gaps = run_to_batch(
        gap_stream(sdf.drop("rel")), spark, output_mode="append"
    )
    out = session_tmpdir(prefix="dcs_gaps_")
    gaps.write.mode("overwrite").parquet(out)
    vw = track_persist(
        spark.read.parquet(out)
        .groupBy(
            F.col("event_type").alias("g"), F.col("gap_s").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    return (
        grouped_weighted_quantiles_multi(vw, [500, 900, 990])
        .select(
            F.col("g").alias("event_type"),
            F.col("q").alias("q_permille"),
            F.col("w_total").alias("n_gaps"),
            F.col("q_v").alias("q_gap_s"),
        )
        .orderBy("event_type", "q_permille")
    )


QUERIES["stream_interarrival_quantiles"] = stream_interarrival_quantiles
ORACLES["stream_interarrival_quantiles"] = ORACLES[
    "user_interarrival_quantiles"
]


def event_path_trigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        event_path_trigrams,
    )

    return event_path_trigrams(spark, sf_dir)


QUERIES["event_path_trigrams"] = event_path_trigrams_q
ORACLES["event_path_trigrams"] = """
WITH s AS (
  SELECT user_id, event_type AS t1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events)
SELECT t1, t2, t3,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM s WHERE t3 IS NOT NULL
GROUP BY 1, 2, 3 ORDER BY n_paths DESC, t1, t2, t3"""


def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.analytics import (
        retention_cohorts,
    )

    return retention_cohorts(spark, sf_dir)


QUERIES["retention_cohorts"] = retention_cohorts_q
# (epoch_us // 86400000000) // 7 and (n_users * 1000000) // cohort_size:
# non-negative (2024 timestamps; counts) — audited in
# tests/test_oracle_portability.py.
ORACLES["retention_cohorts"] = """
WITH uw AS (SELECT DISTINCT user_id,
                   (epoch_us(ts) // 86400000000) // 7 AS week
            FROM events),
c AS (SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS cohort_week
      FROM uw),
r AS (SELECT cohort_week, week - cohort_week AS week_offset,
             CAST(count(*) AS BIGINT) AS n_users
      FROM c GROUP BY 1, 2),
f AS (SELECT cohort_week, week_offset, n_users,
             max(CASE WHEN week_offset = 0 THEN n_users END)
               OVER (PARTITION BY cohort_week) AS cohort_size
      FROM r)
SELECT cohort_week, week_offset, n_users, cohort_size,
       CAST(CASE WHEN cohort_size > 0
            THEN (n_users * 1000000) // cohort_size END AS BIGINT)
         AS retention_ppm
FROM f ORDER BY 1, 2"""


def doc_cooccurrence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_computing_spark.operators.textstats import (
        doc_cooccurrence,
    )

    return doc_cooccurrence(spark, sf_dir)


QUERIES["doc_cooccurrence"] = doc_cooccurrence_q
# (n_xy * n_docs * 1000000) // (n_x * n_y): all counts, non-negative —
# audited in tests/test_oracle_portability.py. The a.tok < b.tok pair
# order is ASCII-binary on both engines (tokens are [A-Za-z0-9]+).
ORACLES["doc_cooccurrence"] = f"""
WITH d AS (SELECT doc_id, list_distinct({_TOKENS}) AS toks
           FROM documents),
ok AS (SELECT doc_id, toks FROM d
       WHERE len(toks) >= 1 AND len(toks) <= 2000),
n AS (SELECT CAST(count(*) AS HUGEINT) AS n_docs FROM ok),
e AS (SELECT doc_id, unnest(toks) AS tok FROM ok),
dfq AS (SELECT tok, CAST(count(*) AS HUGEINT) AS df FROM e GROUP BY 1),
p AS (SELECT a.tok AS x, b.tok AS y, CAST(count(*) AS HUGEINT) AS n_xy
      FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= 10)
SELECT p.x, p.y,
       CAST(p.n_xy AS BIGINT) AS n_xy,
       CAST(dx.df AS BIGINT) AS n_x,
       CAST(dy.df AS BIGINT) AS n_y,
       CAST((p.n_xy * n.n_docs * 1000000) // (dx.df * dy.df) AS BIGINT)
         AS lift_ppm
FROM p, n
JOIN dfq dx ON dx.tok = p.x
JOIN dfq dy ON dy.tok = p.y
ORDER BY lift_ppm DESC, n_xy DESC, x, y LIMIT 40"""


def stream_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLINE twin of event_path_trigrams (round 12): per-user
    path extraction as applyInPandasWithState whose state is the last
    TWO event types per key (streaming/trigram.py — the K5 family's
    fourth domain). Replayed as 4 time-ordered micro-batches (the
    seq-source recipe); emitted trigram rows flush to storage (the
    stream_cusum handoff) and aggregate to the SAME path table the
    batch operator produces. Gated by the BATCH oracle: online ==
    double-lead window exactly, including paths that straddle
    micro-batch boundaries (the state carries them across — the
    boundary case the pytest pins)."""
    from distributed_computing_spark.caching import session_tmpdir
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_in_seq_batches,
    )
    from distributed_computing_spark.streaming.trigram import (
        trigram_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    t0 = e.agg(F.min("us").alias("m")).collect()[0]["m"] or 0
    e = e.withColumn("rel", (F.col("us") - F.lit(int(t0))).cast("long"))
    sdf = stream_in_seq_batches(spark, e, n=4, order_col="rel")
    tris = run_to_batch(
        trigram_stream(sdf.drop("rel")), spark, output_mode="append"
    )
    out = session_tmpdir(prefix="dcs_tris_")
    tris.write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_paths").desc(), "t1", "t2", "t3")
    )


QUERIES["stream_event_trigrams"] = stream_event_trigrams
ORACLES["stream_event_trigrams"] = ORACLES["event_path_trigrams"]


# ---------------------------------------------------------------------------
# Driver-gate window
# ---------------------------------------------------------------------------
# The external driver gates the FIRST 50 entries of QUERIES against the
# DuckDB oracles. _GATE_WINDOW is the one place that order is declared:
# a rotation edits this list in place (stalest-first from the
# CORRECTNESS_r*.json history, plus every query whose plan changed) and
# regenerates tests/registry_snapshot.json, which pins it. Never append
# another reorder block. Everything past position 50 is looked up by
# name (bench, crossover, perfbench, the local gate), so its order is
# whatever the registrations above leave.
#
# Current window (round 13, VERDICT r12 item 1), in priority order:
#   1. the 23 round-12-restructured queries, for a driver value proof
#      of their new plans (round 9 proved a driver-only red class);
#   2. the 17 r7/r11-stale first-picks VERDICT r11 named for round 13.
#      The rows-only approx_distinct_users / frequent_items /
#      parquet_profile stay skipped (exact pytest twins run every suite);
#   3. 10 r8-stale oracle-backed entries, the next-stalest cohort.
_GATE_WINDOW = [
    # 1. the 23 round-12-restructured queries (driver value proof)
    "pagerank_parts", "copurchase_triangles", "copurchase_clustering",
    "kmeans_embeddings", "association_rules", "copurchase_cosine",
    "hilbert_cells", "hilbert_events_scan", "word_count_top10",
    "bigram_pmi", "multimodal_jpeg_decode", "multimodal_gif_decode",
    "multimodal_mp3_decode", "multimodal_png_decode",
    "winnow_fingerprints", "vocab_growth", "dup_spans",
    "ks_price_drift", "corpus_pipeline", "decontaminate",
    "image_dhash_neardup", "parts_supplier_count",
    "important_part_share",
    # 2. the 17 remaining round-13 first-picks (r7-stale cohort)
    "ngram_jaccard_pairs", "order_percentiles", "phrase_search_index",
    "range_join_views", "rolling_weekly_revenue", "semi_anti_orders",
    "set_ops", "stream_blocklist_matches", "stream_cms_counts",
    "table_profile", "tiered_rollup", "top_orders", "train_test_split",
    "value_histogram", "hll_nation_rollup", "ivm_customer_revenue",
    "kmv_pair_sketches",
    # 3. nine r8-stale picks (next-stalest oracle-backed cohort) +
    # ngram_jaccard_prefix, swapped in at round end per this block's
    # rule: it shares ngram_jaccard_pairs' round-13 restructure
    # (packed pair key + sizes-from-postings) and needs the same
    # driver value proof; bool_aggregates (tiny exact boolean rollup,
    # untouched since r8) gives up its slot.
    "audience_overlap", "bigram_counts", "ngram_jaccard_prefix",
    "build_vocab", "chunk_docs", "corpus_summary", "corr_stats",
    "cosine_topk", "customer_scd2", "customer_state_cdc",
]
assert len(_GATE_WINDOW) == 50 and len(set(_GATE_WINDOW)) == 50
QUERIES = {name: QUERIES[name] for name in _GATE_WINDOW} | {
    k: v for k, v in QUERIES.items() if k not in set(_GATE_WINDOW)
}
