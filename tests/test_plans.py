"""Physical-plan assertions: the 100 TB claims, encoded as tests.

Each test pins a property the engine's scale posture depends on:
filters reach the parquet scan, scans prune columns, star joins
broadcast (never sort-merge), aggregations partial-aggregate before the
exchange, global top-k avoids a global sort. If a refactor regresses a
plan, these fail before any benchmark does.
"""

from __future__ import annotations

from distributed_computing_spark.plans import (
    count_exchanges,
    executed_plan,
    has_pushed_filter,
    operator_tree,
    physical_plan,
)
from distributed_computing_spark.registry import QUERIES
from tests.conftest import SF_DIR

_plan = physical_plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    assert has_pushed_filter(df, "LessThanOrEqual(l_shipdate")


def test_column_pruning_in_read_schema(spark):
    plan = _plan(QUERIES["pricing_summary"](spark, SF_DIR))
    # pricing summary touches 7 of lineitem's columns; join keys and
    # partkeys must not be read
    assert "l_partkey" not in plan
    assert "l_suppkey" not in plan


def test_star_joins_broadcast_never_sort_merge(spark):
    # lineitem⋈orders is the ONE wide exchange, hinted shuffle-HASH (no
    # sorts — measured 5.5 s → 3.2 s at the 50× tier, BASELINE.md); the
    # four dims ride as broadcasts. Never a sort-merge join anywhere.
    df = QUERIES["regional_revenue"](spark, SF_DIR)
    tree = operator_tree(df)
    assert tree.count("BroadcastHashJoin") == 4
    assert tree.count("ShuffledHashJoin") == 1
    assert "SortMergeJoin" not in tree


def test_aggregation_is_partial_before_exchange(spark):
    # registry word_count is the fused Arrow pass: one MapInPandas
    # stage emits per-partition partial (word, cnt) rows, and the final
    # sum STILL partial-aggregates before its exchange (A6)
    plan = _plan(QUERIES["word_count_top10"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "partial_sum" in plan
    # the pure-JVM explode reference keeps the classic map-side combine
    from distributed_computing_spark.operators.mapreduce import word_count

    plan = _plan(word_count(spark, SF_DIR))
    assert "partial_count" in plan  # map-side combine the reference lacked (A6)


def test_topk_avoids_global_sort(spark):
    plan = _plan(QUERIES["top_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # r5: count BOTH spellings (AQE detail prints "Arguments:
    # rangepartitioning"; the tree shows bare "Exchange")
    assert count_exchanges(QUERIES["top_orders"](spark, SF_DIR), "rangepartitioning") == 0


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The dedup exchange carries the 32-hex fingerprint, never the
    document body (shuffle payload discipline at 100 TB)."""
    plan = _plan(QUERIES["exact_dedup"](spark, SF_DIR))
    exchange = plan[plan.index("Exchange") :]
    assert "text_hash" in exchange


def test_shard_routing_config_is_broadcast(spark):
    plan = _plan(QUERIES["shard_routing"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kv_replay_exactly_two_data_shuffles(spark):
    """Dedup shuffles on client_id, fold shuffles on key — no more.

    (AQE nodes excluded: count hashpartitioning exchanges in the
    initial plan.)"""
    df = QUERIES["kv_state"](spark, SF_DIR)
    n_exchanges = count_exchanges(df)
    assert n_exchanges <= 2, f"kv replay grew to {n_exchanges} shuffles"


def test_embedding_neardup_has_no_nested_loop_join(spark):
    """The exact cosine-threshold pair plan must be the blocked GEMM
    (replicate → one hash exchange → grouped applyInPandas), never a
    BroadcastNestedLoopJoin materializing O(N²) row pairs."""
    plan = _plan(QUERIES["embedding_neardup"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_embedding_neardup_exact_vs_numpy(spark):
    """Blocked-GEMM pairs == the plain numpy all-pairs oracle on a
    random corpus (exactness contract of the blocking layout: every
    unordered pair in exactly one block-pair group)."""
    import numpy as np
    from distributed_computing_spark.operators.similarity import embedding_neardup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    # plant near-dups: 5 jittered copies
    rows = [(i, v.tolist()) for i, v in enumerate(base)] + [
        (100 + i, (base[i] + rng.normal(scale=0.05, size=16)).tolist())
        for i in range(5)
    ]
    M = np.array([v for _, v in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    ids = [i for i, _ in rows]
    expect = {
        (min(ids[x], ids[y]), max(ids[x], ids[y]))
        for x in range(len(ids))
        for y in range(x + 1, len(ids))
        if S[x, y] >= 0.8
    }
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["a"], r["b"])
        for r in embedding_neardup(df, threshold=0.8, n_blocks=4).collect()
    }
    assert got == expect


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The skew answer that needs no salting: AQE detects the hot
    partition at runtime and splits it (skew=true in the final adaptive
    plan). Thresholds are lowered to trigger at test scale; on a real
    cluster defaults (256 MB) do the same for genuinely hot keys."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(3_000_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(right, "k")
        # execute THIS DataFrame's own QueryExecution (count() would
        # plan a separate query and AQE's final plan wouldn't be visible)
        assert j.rdd.count() == 3_000_000
        plan = executed_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_neardup_canonical_single_exchange_no_window(spark):
    """Cluster collapse is one hash exchange on cluster_id (max-of-
    struct aggregate) — no window operator, no second exchange."""
    from distributed_computing_spark.operators.dedup import neardup_canonical

    docs = spark.createDataFrame(
        [(i, "x" * (i + 1), "en", "s", i + 1) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(i, i % 5) for i in range(20)], "doc_id long, cluster_id long"
    )
    df = neardup_canonical(docs, clusters)
    tree = operator_tree(df)
    assert "Window" not in tree
    plan = _plan(df)
    assert "partial_count" in plan or "partial_max" in plan  # map-side combine


def test_unigram_logprob_no_broadcast_of_open_vocab(spark):
    """The token->count join must tolerate an open vocabulary: the
    corpus-total scalar is broadcast, but nothing forces the counts
    side to be (AQE may still choose it at toy SF); per-doc re-agg is
    partial before its exchange."""
    df = QUERIES["unigram_logprob"](spark, SF_DIR)
    plan = _plan(df)
    assert "partial_count" in plan
    tree = operator_tree(df)
    # the scalar total rides a broadcast nested-loop (1-row cross join)
    assert "BroadcastNestedLoopJoin" in tree


def test_event_anomalies_no_self_join(spark):
    """Rolling stats ride a window frame, never a self-join: exactly
    one Window operator, no Join of any kind."""
    df = QUERIES["event_anomalies"](spark, SF_DIR)
    tree = operator_tree(df)
    assert "Join" not in tree
    assert tree.count("Window") == 1


def test_user_retention_broadcasts_cohort_sizes(spark):
    """The retention matrix join against per-cohort sizes is broadcast
    (weeks x weeks is tiny); the user-level joins never sort-merge."""
    df = QUERIES["user_retention"](spark, SF_DIR)
    tree = operator_tree(df)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_corpus_pipeline_single_composed_plan(spark):
    """The end-to-end curation pipeline fuses into one plan: the dedup
    exchanges carry 16-byte fingerprints (never text), decontamination
    is the fused Arrow broadcast probe, and no join degenerates into a
    sort-merge or cartesian."""
    tree = operator_tree(QUERIES["corpus_pipeline"](spark, SF_DIR))
    assert "MapInPandas" in tree          # fused decontaminate probe
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "SortMergeJoin" not in tree
    # dedup membership + contamination drop both resolve as (semi/anti)
    # hash joins against broadcast id sets at this SF
    assert "LeftSemi" in tree and "LeftAnti" in tree


def test_regional_revenue_bucketed_join_is_shuffle_free(spark):
    """round-4 storage-partitioned join, round-5 HONEST assertion: with
    lineitem+orders bucketed and sorted on the order key, the FACT-FACT
    JOIN plans with no exchange (SortMergeJoin directly over bucketed
    scans) and dims ride broadcasts. The one shuffle left is the final
    5-group rollup of PARTIAL aggregates — bytes ∝ partitions×groups,
    not data — which no layout can remove. (The round-4 version of
    this test asserted "zero Exchange hashpartitioning" against the
    formatted TREE, where AQE prints bare "Exchange" — trivially true;
    count_exchanges now reads the detail section.)"""
    df = QUERIES["regional_revenue_bucketed"](spark, SF_DIR)
    plan = physical_plan(df)
    assert count_exchanges(df) == 1, plan
    # the surviving exchange is the rollup (carries the region key),
    # not the order-key join shuffle the ad-hoc plan pays
    arg_line = plan[plan.index("Arguments: hashpartitioning") :].split("\n")[0]
    assert "r_name" in arg_line and "o_orderkey" not in arg_line, arg_line
    tree = operator_tree(df)
    assert tree.count("- Exchange ") == 1  # BroadcastExchange ≠ Exchange
    assert "SortMergeJoin" in tree and "BroadcastHashJoin" in tree
    # exchange is an ancestor of the join (the rollup), not below it
    assert tree.index("- Exchange ") < tree.index("SortMergeJoin")


def test_shard_migration_is_one_exchange_no_pershard_loop(spark):
    """round 5 (VERDICT r4 item 7): migrating the whole state table
    across a Join+Leave config change is ONE hash exchange — route
    under the new config via a broadcast of the ~NSHARDS-row config
    (never a shuffle of the data side), then repartition by the new
    owner. The reference's per-shard TransferShard pull loop
    (shardkv/server.go:237-319) has no driver-side analog here."""
    from distributed_computing_spark.operators.sharding import ShardMaster, route
    from distributed_computing_spark.sources.catalog import load_table

    sm = ShardMaster()
    sm.join({100: ["a"], 101: ["b"], 102: ["c"]})
    sm.join({103: ["d"]})
    sm.leave([101])
    new_cfg = sm.config_df(spark)

    li = load_table(spark, SF_DIR, "lineitem")
    from pyspark.sql import functions as F

    state = li.select(
        F.concat(F.pmod("l_orderkey", F.lit(97)).cast("string"), F.lit("-"),
                 F.col("l_linenumber").cast("string")).alias("key"),
        F.col("l_returnflag").alias("value"),
    )
    migrated = route(state, new_cfg).repartition("gid")
    assert count_exchanges(migrated) == 1, physical_plan(migrated)
    tree = operator_tree(migrated)
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" not in tree
    assert "SortMergeJoin" not in tree and "CartesianProduct" not in tree


def test_kv_replay_hotkey_salted_fold_plan_shape(spark):
    """round 5: the salted hot-key replay must fold in bucket partials
    (partial ObjectHashAggregate before each exchange) and never plan a
    global sort or nested-loop join — the shape that keeps any single
    task from holding a hot key's whole history."""
    from distributed_computing_spark import caching

    df = QUERIES["kv_replay_hotkey"](spark, SF_DIR)
    plan = _plan(df)
    tree = operator_tree(df)
    assert "SortMergeJoin" not in tree and "CartesianProduct" not in tree
    assert "partial" in plan  # map-side partials feed the exchanges
    # the deduped writes are persisted and BOTH consumers (last-put agg
    # + fold probe) read the cache — the client_id dedup window runs
    # once, not twice (round-5 fix; without the persist the plan ran
    # two full scans of the ops log)
    assert tree.count("InMemoryTableScan") == 2, tree
    caching.release_tracked()


def test_dup_spans_shuffle_budget_and_id_only_exchanges(spark):
    """Span dedup's contract: after the gram scan, exchanges carry the
    8-byte gram hash or id/position longs — never text. Shuffle budget
    is exactly 3 hash exchanges (df-cap agg, postings agg, island
    window); the final span agg reuses the window's (a,b,diag)
    partitioning (grouping on a superset of the partition keys)."""
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(10)], "doc_id long, text string"
    )
    sp = duplicate_spans(docs, k=8)
    assert count_exchanges(sp) == 3, physical_plan(sp)
    import re

    plan = physical_plan(sp)
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "text" not in keys and "gram#" not in keys, keys
    tree = operator_tree(sp)
    assert "CartesianProduct" not in tree


def test_skyline_global_pass_sees_only_bucket_survivors(spark):
    """skyline2d: ONE hash exchange (the bucketed local prune) and ONE
    single-partition exchange (the global pass over survivors) — the
    full table never reaches the unpartitioned windows."""
    from distributed_computing_spark.operators.analytics import skyline2d

    pts = spark.createDataFrame(
        [(i, i % 7, i % 11) for i in range(100)], "doc_id long, u long, c long"
    )
    sk = skyline2d(pts, "u", "c")
    assert count_exchanges(sk, "hashpartitioning") == 1, physical_plan(sk)
    assert count_exchanges(sk, "SinglePartition") == 1, physical_plan(sk)
    # the single-partition input is the LOCAL windows' filtered output,
    # not the raw scan: a Filter sits between the bucket window and the
    # single-partition exchange
    tree = operator_tree(sk)
    assert tree.count("Window") == 4  # 2 local (bucketed) + 2 global


def test_kmeans_assignment_is_shuffle_free(spark):
    """The Lloyd-round contract: assignment is a map-side pass against
    k LITERAL centroid arrays over the cached quantized table — ZERO
    exchanges of any kind; the only per-round shuffle is the k×d-long
    centroid groupBy (inside the iteration, not this plan)."""
    import random

    from distributed_computing_spark import caching
    from distributed_computing_spark.operators.similarity import (
        kmeans_quantized,
    )

    rng = random.Random(0)
    df = spark.createDataFrame(
        [
            (i, [rng.uniform(-0.5, 0.5) for _ in range(8)])
            for i in range(100)
        ],
        "vec_id long, embedding array<float>",
    )
    assigned, _ = kmeans_quantized(df, k=3, n_iter=2)
    assert count_exchanges(assigned, "hashpartitioning") == 0
    assert count_exchanges(assigned, "SinglePartition") == 0
    caching.release_tracked()


def test_bloom_prune_is_scan_side_no_extra_exchange(spark):
    """The bloom membership predicate must land as a Filter on the
    customer SCAN (a literal-bitset expression — no join, no shuffle
    added): the pruned variant's exchange count equals the plain
    semi/anti plan's, and the bloom bit test (shiftright over the
    literal array) appears in the pre-exchange filter stage."""
    plain = QUERIES["semi_anti_orders"](spark, SF_DIR)
    pruned = QUERIES["bloom_semi_orders"](spark, SF_DIR)
    assert count_exchanges(pruned) <= count_exchanges(plain)
    assert "shiftright" in _plan(pruned)


def test_cms_exchange_is_sketch_sized_partial(spark):
    """CMS registers (round-7 shape): the fused Arrow token counter
    pre-aggregates (word, cnt) — one distinct-words exchange — then the
    sketch groupBy adds one more; BOTH are partial-aggregated, so each
    task ships <= distinct-words / <= depth*width partial rows (the
    sketch algebra, A6 discipline)."""
    df = QUERIES["cms_word_counts"](spark, SF_DIR)
    assert count_exchanges(df) == 2
    plan = _plan(df)
    assert "partial_sum" in plan


def test_bfs_edge_build_shuffle_budget(spark):
    """Support-filtered co-purchase edges: exactly two hash exchanges
    (per-order baskets, then per-pair support) — the symmetric explode
    and support filter add none."""
    from distributed_computing_spark.operators.graph import (
        copurchase_edges_supported,
    )
    from distributed_computing_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    assert count_exchanges(copurchase_edges_supported(li)) == 2


def test_kmv_rank_filter_compiles_to_window_group_limit(spark):
    """The rnk <= k filter must push a WindowGroupLimit below the
    window sort (Spark >= 3.5): each partition keeps only its
    per-group top-k BEFORE the exchange — map-side k-min, the sketch
    family's partial-aggregation discipline."""
    df = QUERIES["kmv_user_sketches"](spark, SF_DIR)
    assert "WindowGroupLimit" in _plan(df)


def test_bellman_ford_round_broadcast_relax_partial_min(spark):
    """One Bellman-Ford round: the relax join BROADCASTS the
    node-sized distance table (never shuffles the edge set), and the
    min fold partial-aggregates before its single hash exchange —
    per-round shuffle volume is <= |nodes| partial rows regardless of
    edge count."""
    from distributed_computing_spark.operators.graph import (
        bellman_ford_round,
    )

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1)], "src long, dst long, w long"
    )
    dist = spark.createDataFrame([(1, 0)], "node long, d long")
    rnd = bellman_ford_round(edges, dist)
    plan = _plan(rnd)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert count_exchanges(rnd, "hashpartitioning") == 1, plan
    assert "partial_min" in plan, plan


def test_blocklist_scan_plan_broadcasts_names(spark):
    """AC blocklist: the hit stream joins the tiny pattern-name dim by
    BROADCAST (no shuffle of hits for the join); the only hash
    exchange is the final orderBy-free path — hits flow straight from
    the Arrow scan."""
    df = QUERIES["blocklist_phrase_matches"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_phrase_index_plan_broadcasts_terms_and_partial_aggs(spark):
    """Index-side phrase plan: postings join the exploded phrase terms
    AND the length dim by broadcast; the anchor count is
    partial-aggregated before its exchange."""
    df = QUERIES["phrase_search_index"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_kmv_union_rank_filter_compiles_to_window_group_limit(spark):
    """The merged-sketch rank filter must push WindowGroupLimit below
    the sort, like kmv_user_sketches' (map-side per-pair k-min)."""
    df = QUERIES["kmv_pair_sketches"](spark, SF_DIR)
    assert "WindowGroupLimit" in _plan(df)


def test_hll_rollup_merge_is_broadcast_and_partial(spark):
    """The rollup merge joins the nation→region mapping by BROADCAST
    and max-merges registers with partial aggregation — register
    tables never shuffle more than sketch-sized partials."""
    df = QUERIES["hll_nation_rollup"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_max" in plan, plan


def test_fastss_candidate_exchange_is_id_and_hash_only(spark):
    """FastSS: the variant self-join exchanges (id, xxhash64) columns
    only — names re-attach after candidate generation, so no name
    strings ride the candidate shuffle."""
    from distributed_computing_spark.operators.linkage import (
        fastss_edit1_pairs,
    )
    from distributed_computing_spark.sources.catalog import load_table

    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name"
    )
    df = fastss_edit1_pairs(cust, "c_custkey", "c_name")
    plan = _plan(df)
    assert "xxhash64" in plan, plan
    assert "levenshtein" in plan, plan


def test_association_rules_supports_broadcast_totals_once(spark):
    """Round 8: the supports and the 1-row basket total attach by
    BROADCAST (item-count / 1-row sized), and the basket self-join
    + the two aggregates are the only hash exchanges — nothing
    pair-sized re-shuffles for the rule expansion (explode, not
    unionAll, so the pair subtree is evaluated once)."""
    df = QUERIES["association_rules"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # sl, sr, n_orders
    assert "Generate explode" in plan or "explode" in plan
    # hash exchanges: basket co-location, the two countDistinct
    # aggregates (2 exchanges each: expand->partial->final), and the
    # n_orders distinct — bounded, never pair-cardinality re-shuffles
    assert count_exchanges(df, "hashpartitioning") <= 8, plan


def test_audience_overlap_joins_on_words_and_broadcasts_totals(spark):
    """Round 8: the intersection join is keyed on word_idx (the packed
    exchange — n_users/62 rows per group), totals attach by broadcast,
    and the packing groupBy partial-aggregates map-side."""
    df = QUERIES["audience_overlap"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # ta, tb
    assert "bit_or" in plan and "bit_count" in plan
    tree = operator_tree(df)
    assert tree.count("HashAggregate") >= 4  # partial+final pack & sums


def test_snapshot_diff_is_one_full_outer_join(spark):
    """Round 8: the CDC extract is ONE full-outer join of two
    snapshot-sized aggregates — no second pass, no union of three
    per-op subplans."""
    df = QUERIES["customer_state_cdc"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("SortMergeJoin FullOuter") == 1, plan
    assert "Union" not in operator_tree(df)


def test_funnel_strict_single_user_exchange(spark):
    """Round 8: the three chained first-after-first levels are stacked
    Window operators over ONE user-keyed exchange, and the per-user
    rollup reuses that partitioning — no re-shuffle between levels."""
    df = QUERIES["funnel_strict"](spark, SF_DIR)
    assert count_exchanges(df, "hashpartitioning") == 1, _plan(df)
    tree = operator_tree(df)
    assert tree.count("Window") == 3


def test_spearman_rank_windows_are_bucket_partitioned(spark):
    """Round 9 re-plan: a rank window partitioned by l_returnflag
    ALONE is the 3-sort-task skew cliff (25.9 s at R20, BASELINE.md) —
    every ranking window must partition by (group, bucket), never the
    bare group. The bare-group partitioning may appear only in the
    TINY offset prefix-sum (over the bucket-count table, groups×256
    rows), which is bounded regardless of data size."""
    import re

    from distributed_computing_spark.operators.analytics import (
        spearman_qty_price,
    )

    df = spearman_qty_price(spark, SF_DIR)
    plan = _plan(df)
    # both rank windows ride (l_returnflag, _gb) partitionings
    assert len(re.findall(r"hashpartitioning\(l_returnflag#\d+, _gb", plan)) >= 2, plan
    assert operator_tree(df).count("Window") >= 2


def test_promo_share_broadcasts_part_class_one_exchange(spark):
    """Round 9: the part-class dimension attaches by broadcast and the
    CASE folds into the partial aggregate — the only hash exchange is
    the per-month rollup."""
    df = QUERIES["promo_revenue_share"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df, "hashpartitioning") == 1, plan


def test_large_volume_orders_broadcasts_qualifying_set(spark):
    """Round 9: aggregate-then-join — the tiny qualifying-order set
    broadcasts onto orders (never the other way round)."""
    plan = _plan(QUERIES["large_volume_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_scd2_pointintime_lookup_is_broadcast(spark):
    """Round 9: the SCD2 history is dimension-sized — the point-in-time
    lookup broadcasts it with the validity range as a residual join
    condition; the fact side never shuffles before the rollup."""
    plan = _plan(QUERIES["scd2_pointintime"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_image_neardup_candidate_exchange_is_id_and_hash_only(spark):
    """Round 9: the band join exchanges (band key, blob_id, 56-bit
    dhash) — no pixel or binary column survives past the Arrow hashing
    stage."""
    from distributed_computing_spark.operators.multimodal import (
        dhash_images,
        image_neardup_pairs,
        textured_blobs,
    )
    from distributed_computing_spark.sources.catalog import load_table

    import re

    docs = load_table(spark, SF_DIR, "documents")
    df = image_neardup_pairs(dhash_images(textured_blobs(docs)))
    plan = _plan(df)
    # every hash exchange carries only band/id/hash columns — the
    # binary 'data' column dies inside the Arrow hashing stage
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    for cols in parts:
        assert "data" not in cols, plan


def test_event_mode_value_compiles_to_window_group_limit(spark):
    """Round 9: the argmax-per-group rank filter prunes map-side via
    WindowGroupLimit — no self-join, no full sort of the count table."""
    plan = _plan(QUERIES["event_mode_value"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_basket_pair_counts_exchanges_only_partial_pairs(spark):
    """Round 9: the pair fan-out happens inside the Arrow stage — the
    only row-sized exchange feeds the basket groupBy, and what leaves
    the Python stage is pre-combined (a, b, partial n) rows that
    partial-aggregate again before the final exchange."""
    plan = _plan(QUERIES["copurchase_pairs"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "partial_sum" in plan
    # no join operator anywhere — the self-join plan is gone
    assert "Join" not in operator_tree(QUERIES["copurchase_pairs"](spark, SF_DIR))


def test_weighted_median_persists_weight_table_once(spark):
    """Round 9: the (g, v) weight table has three consumers (bounds,
    bucket sums, crossing-bucket local pass) — the fact join must
    evaluate ONCE and serve the rest from cache (measured 18.3 s
    unpersisted vs ~7 s persisted at R100)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.analytics import (
        weighted_median_price,
    )

    try:
        df = weighted_median_price(spark, SF_DIR)
        assert _plan(df).count("InMemoryTableScan") >= 2, _plan(df)
        assert df.count() > 0
    finally:
        release_tracked()


def test_order_price_quantiles_fused_single_pass(spark):
    """Round 10 (VERDICT r9 item 3 + the fused re-plan): ONE persisted
    (g, v, count) table serves the multi-q pass (both its consumers —
    bucket sums and the crossing-bucket local window — read the cache,
    never a second orders aggregation), and the three quantiles share
    ONE bucket-prefix window set instead of three passes: the plan has
    at most 6 Window nodes (three separate passes showed 3x that) and
    exactly one partial-aggregated orders scan."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.analytics import (
        order_price_quantiles,
    )

    try:
        df = order_price_quantiles(spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert plan.count("Window") <= 6, plan
        assert df.count() > 0
    finally:
        release_tracked()


def test_product_profit_zero_fact_fact_exchanges(spark):
    """Round 10 (Q9 shape): part and supplier+nation attach by
    broadcast and the signed profit sum partial-aggregates map-side —
    the ONLY hash exchange is the (nation, year) rollup."""
    df = QUERIES["product_profit"](spark, SF_DIR)
    tree = operator_tree(df)
    assert tree.count("BroadcastHashJoin") == 3, tree
    assert "SortMergeJoin" not in tree
    assert count_exchanges(df, "hashpartitioning") == 1


def test_nation_trade_reduces_both_facts_before_shuffle_join(spark):
    """Round 10 (Q7 shape): the nation filters apply via broadcast
    BEFORE the fact-fact join, which is the hinted shuffle-hash on
    o_orderkey (the regional_revenue precedent) — never a sort-merge."""
    df = QUERIES["nation_trade_volume"](spark, SF_DIR)
    tree = operator_tree(df)
    assert tree.count("ShuffledHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") >= 3, tree


def test_custdist_outer_join_preserved_and_orders_preaggregated(spark):
    """Round 10 (Q13 shape): the zero-order customers only survive an
    OUTER join — Catalyst must not rewrite it to inner — and orders
    pre-aggregate to (custkey, n) before the join (partial combine,
    plan shows the aggregate under the join input)."""
    df = QUERIES["custdist_histogram"](spark, SF_DIR)
    tree = operator_tree(df)
    assert "LeftOuter" in tree or "RightOuter" in tree, tree
    assert count_exchanges(df, "hashpartitioning") <= 3


def test_parts_supplier_count_anti_join_is_broadcast(spark):
    """Round 10 (Q16 shape): the excluded-supplier set is tiny — the
    NOT-IN must compile to a broadcast left-anti, never a shuffle.
    Round 12: the fact must collapse to distinct (partkey, suppkey)
    pairs BEFORE either broadcast join (the dedup-first re-plan): the
    pair dedup HashAggregate appears partial+final with the joins
    above it, so the only fact-sized exchange carries local-distinct
    pairs."""
    import re

    df = QUERIES["parts_supplier_count"](spark, SF_DIR)
    tree = operator_tree(df)
    assert "LeftAnti" in tree, tree
    anti_line = [l for l in tree.splitlines() if "LeftAnti" in l][0]
    assert "BroadcastHashJoin" in anti_line, tree
    assert "SortMergeJoin" not in tree
    splan = physical_plan(df, "simple")
    pair_dedups = re.findall(
        r"HashAggregate\(keys=\[l_partkey#\d+L?, l_suppkey#\d+L?\],"
        r" functions=\[\]",
        splan,
    )
    assert len(pair_dedups) == 2, splan
    # the only fact-sized exchange carries local-distinct pairs: the
    # (l_partkey, l_suppkey) exchange must sit ABOVE a partial pair
    # dedup (text after it contains the second dedup occurrence)
    m = re.search(
        r"Exchange hashpartitioning\(l_partkey#\d+L?, l_suppkey#\d+L?",
        splan,
    )
    assert m, splan
    assert pair_dedups[1] in splan[m.end():], splan
    # the part attr join runs on the deduped pair table, not the fact:
    # the Inner broadcast join prints ABOVE (before) the pair exchange
    inner = splan.find("], Inner, ")
    assert 0 <= inner < m.start(), splan
    # Catalyst is free to push the broadcast LeftAnti below the dedup
    # (it is a per-row filter — cheaper there); what must never appear
    # is a shuffle join anywhere (asserted above via SortMergeJoin and
    # the anti_line broadcast check)


def test_sole_return_one_fact_exchange_serves_agg_and_window(spark):
    """Round 10 (Q21 shape): hash(l_orderkey) from the single
    repartition satisfies the (orderkey, suppkey) aggregate AND the
    per-order window counts — 2 exchanges total (fact + final suppkey
    rollup), ONE Window node carrying both counts, no cache, no
    self-join."""
    df = QUERIES["sole_return_supplier"](spark, SF_DIR)
    tree = operator_tree(df)
    assert tree.count("Window") == 1, tree
    assert "InMemoryTableScan" not in tree
    assert count_exchanges(df, "hashpartitioning") == 2


def test_top_supplier_max_joins_back_by_broadcast(spark):
    """Round 10 (Q15 shape): the 1-row max broadcasts back onto the
    per-supplier revenue table (tie-safe argmax — never ORDER BY
    LIMIT 1). Round 11: the revenue rollup is PERSISTED and read by
    both consumers — two InMemoryTableScans, one fact scan (the R400
    probe caught the unpersisted form scanning 240 M rows twice)."""
    from distributed_computing_spark.caching import release_tracked

    try:
        tree = operator_tree(QUERIES["top_supplier_revenue"](spark, SF_DIR))
        assert tree.count("BroadcastHashJoin") >= 2, tree
        assert "TakeOrdered" not in tree.split("Sort")[0]  # no limit-1 argmax
        assert tree.count("InMemoryTableScan") == 2, tree
    finally:
        release_tracked()


def test_sales_opportunity_scalar_broadcast_and_anti_join(spark):
    """Round 10 (Q22 shape): the 1-row (Σ, n) aggregate reaches the
    customer scan as a broadcast nested-loop (inequality condition);
    the dormancy check is a LEFT ANTI join."""
    tree = operator_tree(QUERIES["sales_opportunity"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in tree, tree
    assert "LeftAnti" in tree, tree


def test_min_cost_supplier_offer_table_cached_once(spark):
    """Round 10 (Q2 shape): the offer book is referenced from two
    branches (per-part min + join-back) — the subtree-reuse rule wants
    exactly one persisted build read twice."""
    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["min_cost_supplier"](spark, SF_DIR)
        tree = operator_tree(df)
        assert tree.count("InMemoryTableScan") == 2, tree
        assert df.count() > 0
    finally:
        release_tracked()


def test_cusum_is_two_stacked_windows_over_one_series_exchange(spark):
    """Round 10: the CUSUM closed form is prefix-sum − running-min —
    exactly TWO Window nodes over the same (type) partitioning, and
    every exchange downstream of the daily rollup carries only
    series-sized rows (types × days)."""
    df = QUERIES["events_cusum_drift"](spark, SF_DIR)
    tree = operator_tree(df)
    assert tree.count("Window") == 2, tree
    assert count_exchanges(df, "hashpartitioning") <= 4


def test_segment_allocation_one_rollup_then_tiny_windows(spark):
    """Round 10: one partial-aggregated rollup to |segments| rows; the
    remainder ranking is window work on that tiny frame — customer
    attaches by broadcast, never a sort-merge."""
    df = QUERIES["segment_allocation"](spark, SF_DIR)
    tree = operator_tree(df)
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree
    assert count_exchanges(df, "hashpartitioning") <= 2


def test_dow_anomalies_medians_broadcast_back_dev_cached_once(spark):
    """Round 10: both median tables broadcast back onto the day-level
    series; the deviation table persists once and serves the MAD pass
    AND the flag join."""
    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["events_dow_anomalies"](spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert "BroadcastHashJoin" in plan
        assert df.count() > 0
    finally:
        release_tracked()


def test_ks_drift_cumulative_window_is_bucket_partitioned(spark):
    """Round 11 late: the KS cumulative window must partition by the
    range BUCKET (_kb) — a bare ``ORDER BY v`` window would funnel
    every distinct value through ONE task (the spearman skew-cliff
    class). The only unpartitioned window allowed is the offset
    prefix-sum over the tiny per-bucket count table (<= pre_buckets
    rows, bounded regardless of data size)."""
    import re

    df = QUERIES["ks_price_drift"](spark, SF_DIR)
    plan = _plan(df)
    assert re.search(r"hashpartitioning\(_kb#\d+", plan), plan
    # no data-sized window keyed by the bare group column
    assert not re.search(r"Window.*partitionBy.*l_returnflag", plan)


def test_sorted_neighborhood_has_no_pair_join(spark):
    """Round 11 late re-plan: candidate pairs come from boundary
    replication + lead() windows, never a rank-equality join — the
    draft's rn+d hash join let AQE build a data-sized broadcast hash
    relation from the 7×-fan side (BASELINE.md). The only joins are
    the |partitions|-row starts/offsets broadcasts; both window
    exchanges are pinned on the group id."""
    import re

    df = QUERIES["neighbor_customer_pairs"](spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    # lead()-window pair generation rides hashpartitioning(_grp);
    # the rank window rides hashpartitioning(_pid)
    assert re.search(r"hashpartitioning\(_grp#\d+", plan), plan
    assert re.search(r"hashpartitioning\(_pid#\d+", plan), plan
    # exactly one Generate (the d∈[1,w) struct explode over lead cols)
    assert operator_tree(df).count("Generate") == 1


def test_returned_top_customers_customer_never_shuffles(spark):
    """Round 11 late (Q10 shape): both fact filters reach their scans;
    the customer dimension is joined by broadcasting the 20-row
    aggregate+limit result — customer itself never exchanges."""
    import re

    df = QUERIES["returned_top_customers"](spark, SF_DIR)
    plan = _plan(df)
    assert has_pushed_filter(df, "EqualTo(l_returnflag,R)") or \
        "l_returnflag" in plan
    assert "BroadcastHashJoin" in plan
    # no hash exchange keyed on the customer key: the dimension side
    # joins against the broadcast 20-row frame
    assert not re.search(r"Exchange hashpartitioning\(c_custkey#\d+", plan), plan


def test_late_shipment_priority_decorrelates_with_pushed_bound(spark):
    """Round 11 late (Q4 shape), both gate bands:

    - under the gate the half-year orders window BROADCASTS into the
      lineitem scan and the EXISTS collapses to a map-side partial
      DISTINCT — lineitem never exchanges (no hash exchange keyed on
      l_orderkey);
    - with the cap forced to 0 the correlated EXISTS runs as a
      per-order partial-aggregated MAX before a shuffle-hash orderkey
      join (never sort-merge);
    - the hand-derived '1996-03-01' bound reaches the lineitem scan in
      BOTH plans."""
    import re

    from distributed_computing_spark.registry import late_shipment_priority

    df = QUERIES["late_shipment_priority"](spark, SF_DIR)
    plan = _plan(df)
    assert has_pushed_filter(df, "GreaterThan(l_shipdate")
    assert has_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")
    tree = operator_tree(df)
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    # Pin the map-side distinct mechanism specifically (ADVICE r11:
    # the old `or "HashAggregate" in tree` fallback was satisfied by
    # ANY aggregation). Spark plans the EXISTS collapse as a
    # DEDUPLICATING HashAggregate keyed on (o_orderpriority,
    # o_orderkey) with an EMPTY function list — and it must appear
    # twice (partial below the pair exchange + final above it), so
    # only per-partition-distinct pairs ever shuffle. If the partial
    # side stopped collapsing map-side, the second occurrence
    # disappears and this fails.
    splan = physical_plan(df, "simple")
    dedup_aggs = re.findall(
        r"HashAggregate\(keys=\[o_orderpriority#\d+, o_orderkey#\d+L?\],"
        r" functions=\[\]",
        splan,
    )
    assert len(dedup_aggs) == 2, splan
    assert not re.search(r"Exchange hashpartitioning\(l_orderkey#\d+", plan), plan

    fb = late_shipment_priority(spark, SF_DIR, max_broadcast_orders=0)
    fplan = _plan(fb)
    assert has_pushed_filter(fb, "GreaterThan(l_shipdate")
    assert "partial_max" in fplan, fplan
    ftree = operator_tree(fb)
    assert "ShuffledHashJoin" in ftree, ftree
    assert "SortMergeJoin" not in ftree, ftree


def test_late_lines_priority_mix_one_fact_fact_exchange(spark):
    """Round 11 late (Q12 shape): the lateness predicate couples both
    facts, so exactly ONE fact-fact join exists — hinted shuffle-hash;
    both scans carry pushed filters (the orders year window, the
    derived lineitem bound), scans prune to the 3 columns each side
    needs, and the 3-row flag rollup partial-aggregates."""
    df = QUERIES["late_lines_priority_mix"](spark, SF_DIR)
    plan = _plan(df)
    assert has_pushed_filter(df, "GreaterThan(l_shipdate")
    assert has_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")
    assert "l_partkey" not in plan and "l_quantity" not in plan, "pruning"
    assert "partial_sum" in plan, plan
    tree = operator_tree(df)
    assert tree.count("ShuffledHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert count_exchanges(df, "hashpartitioning") == 3, tree


def test_link_prediction_caches_edges_and_avoids_global_sort(spark):
    """Round 11 late: the supported edge list and the capped neighbor
    table both persist (edges feeds degree/wedge/anti-join, nb feeds
    both wedge sides — shared-subtree rule); the top-k is
    TakeOrderedAndProject, never a global sort; the wedge-pair count
    partial-aggregates before its (y, z) exchange; no sort-merge join
    anywhere."""
    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["copurchase_link_prediction"](spark, SF_DIR)
        plan = _plan(df)
        tree = operator_tree(df)
        assert tree.count("InMemoryRelation") >= 2, tree
        assert "TakeOrderedAndProject" in tree, tree
        assert "SortMergeJoin" not in tree, tree
        assert "partial_count" in plan, plan
    finally:
        release_tracked()


def test_cross_source_contamination_two_exchanges_no_text_payload(spark):
    """Round 11 late: ONE 16-byte prefix-hash exchange (partial
    collect_set below it) + the tiny pair rollup — 2 hash exchanges
    total, no join anywhere, and the scan prunes to (text, source)
    (doc text itself never rides a shuffle: the hash does)."""
    df = QUERIES["cross_source_contamination"](spark, SF_DIR)
    plan = _plan(df)
    tree = operator_tree(df)
    assert count_exchanges(df, "hashpartitioning") == 2, tree
    assert "Join" not in tree, tree
    assert "lang" not in plan and "n_chars" not in plan, "pruning"


def test_interarrival_window_partitions_by_user_and_type(spark):
    """Round 11 late: the lag window partitions by (user_id,
    event_type) — never the bare low-cardinality type (the round-9
    few-groups sort-cliff rule); the persisted weight table feeds the
    fused multi-q core (InMemoryRelation present); quantile-core
    exchanges are the tiny (g, bucket) frames."""
    import re

    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["user_interarrival_quantiles"](spark, SF_DIR)
        plan = _plan(df)
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        win_parts = [p for p in parts if "user_id" in p]
        assert win_parts and all(
            "event_type" in p for p in win_parts
        ), parts
        # no exchange keyed on event_type alone
        assert not any(
            p.startswith("event_type") for p in parts
        ), parts
        assert "InMemoryRelation" in operator_tree(df)
    finally:
        release_tracked()


def test_gini_rank_windows_are_bucket_partitioned(spark):
    """Round 11 late: the Gini ranks ride grouped_min_rank's two-level
    decomposition — every rank window partitions by (group, bucket),
    never the bare 5-segment group (the round-9 sort-cliff rule); the
    segment attach is the audited gated broadcast; the block fold
    partial-aggregates."""
    import re

    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["segment_revenue_gini"](spark, SF_DIR)
        plan = _plan(df)
        # the rank window rides (c_mktsegment, _gb) partitioning (the
        # spearman assertion shape); bare-segment partitionings may
        # appear only for the TINY offset/final frames
        assert re.findall(
            r"hashpartitioning\(c_mktsegment#\d+, _gb", plan
        ), plan
        assert operator_tree(df).count("Window") >= 1
        assert "BroadcastHashJoin" in operator_tree(df)
        assert "partial_count" in plan and "partial_sum" in plan
    finally:
        release_tracked()


def test_segment_revenue_gini_persists_seg(spark):
    """ADVICE r11: the (segment, revenue) base table feeds THREE
    consumers — grouped_min_rank's eager bounds collect, the ranking
    branch, and the counts/offsets branch. Without a persist the
    orders rollup + customer join re-evaluates in each; with the
    track_persist both in-plan consumers read the cache (two
    InMemoryTableScans) and the orders relation appears in the tree
    ONLY under the cache-build dump, never as a live scan."""
    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["segment_revenue_gini"](spark, SF_DIR)
        tree = operator_tree(df)
        assert tree.count("InMemoryTableScan") == 2, tree
    finally:
        release_tracked()


def test_event_path_trigrams_one_user_exchange_one_window(spark):
    """Round 12: both lead() columns ride ONE Window node over ONE
    user_id exchange; the trigram rollup partial-aggregates map-side;
    the scan prunes to the 4 needed columns."""
    import re

    df = QUERIES["event_path_trigrams"](spark, SF_DIR)
    plan = _plan(df)
    tree = operator_tree(df)
    assert tree.count("Window") == 1, tree
    assert "partial_count" in plan, plan
    user_ex = re.findall(r"hashpartitioning\(user_id#\d+L?,", plan)
    assert len(user_ex) >= 1, plan
    assert "value" not in plan and "props" not in plan, "pruning"


def test_retention_cohorts_one_exchange_serves_dedup_and_window(spark):
    """Round 12 (the dominant_part_suppliers motion on events): the
    explicit repartition(user_id) serves the (user, week) dedup
    (partition keys subset of group keys - no new exchange) AND the
    per-user first-week window; only the tiny cohort rollup and its
    cohort-size window add exchanges. 3 hash exchanges total, 2
    Window nodes."""
    import re

    df = QUERIES["retention_cohorts"](spark, SF_DIR)
    plan = _plan(df)
    tree = operator_tree(df)
    assert count_exchanges(df, "hashpartitioning") == 3, tree
    assert tree.count("Window") == 2, tree
    # exactly ONE exchange keyed on user_id (the repartition); the
    # dedup must NOT add a (user_id, week) exchange
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, 8\)", plan)) == 1, plan
    assert not re.search(r"hashpartitioning\(user_id#\d+L?, week", plan), plan


def test_doc_cooccurrence_broadcasts_df_and_caches_grams(spark):
    """Round 12: the persisted gram table serves the doc-count scalar,
    both document-frequency re-attaches, and the pair branch (>= 3
    cache reads); under the vocab gate both df joins broadcast; the
    top-k is TakeOrderedAndProject, never a global sort."""
    from distributed_computing_spark.caching import release_tracked

    try:
        df = QUERIES["doc_cooccurrence"](spark, SF_DIR)
        tree = operator_tree(df)
        assert tree.count("InMemoryTableScan") >= 3, tree
        assert tree.count("BroadcastHashJoin") >= 2, tree
        assert "TakeOrderedAndProject" in tree, tree
        assert "SortMergeJoin" not in tree, tree
    finally:
        release_tracked()


def test_triangle_above_gate_wedge_plan_shape(spark):
    """Round 13 (VERDICT r12 item 3): the above-gate triangle fallback
    must keep the proven m^1.5 wedge shape — equi-joins only (the wedge
    self-join on u and the closure join on (y, z)), no broadcast
    adjacency sets, no array_intersect, nothing wider than id/degree
    longs. Forced via broadcast_edges_max=0 (under the 10 M gate the
    far-tier pk-R8 replica's 9.57 M oriented edges take the fast path;
    the same dispatch reaches the wedge at data scale from pk-R16)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.graph import (
        copurchase_edges, triangle_counts,
    )
    from distributed_computing_spark.sources.catalog import load_table

    try:
        edges = copurchase_edges(load_table(spark, SF_DIR, "lineitem"))
        df = triangle_counts(edges, broadcast_edges_max=0)
        plan = _plan(df)
        tree = operator_tree(df)
        # no adjacency-set fast path (its marker is array_intersect;
        # copurchase_edges' basket collect_set is upstream of both paths)
        assert "array_intersect" not in plan, plan[:2000]
        assert "CartesianProduct" not in tree, tree
        assert "BroadcastNestedLoopJoin" not in tree, tree
        # the wedge self-join + closure join + two degree joins are all
        # live equi-joins (hash/sort-merge; at sf0.001 the planner may
        # broadcast them — the pin is the JOIN COUNT and the absence of
        # the fast path's adjacency aggregate, not the exchange kind)
        import re

        n_joins = len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", tree))
        assert n_joins >= 4, tree
    finally:
        release_tracked()
