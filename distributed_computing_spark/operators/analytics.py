"""Relational analytics surface: aggregation, joins, windows, rollups.

The reference has no joins/windows/set-ops (SURVEY.md §2.8) — these are
the capabilities a *complete* engine over the same data model needs, so
they're first-class here, expressed declaratively so Catalyst chooses
broadcast vs shuffle joins, pushes filters into the parquet scans, and
prunes columns.

Every query takes (spark, sf_dir) and has an exact DuckDB oracle in the
registry. Aggregate doubles are rounded to stabilize the cross-engine
value hash (summation order differs; values agree to ~1e-10).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import frame_maker
from distributed_computing_spark.sources.catalog import load_table, load_tables, table_rows


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (A3/A6: partial+final agg).

    Scan-heavy single-shuffle aggregate: partial HashAggregate before
    the exchange means only (flag,status)-grouped partials shuffle —
    the 100 TB plan is identical, just more partitions.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def top_orders(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """O3: global top-k by value → TakeOrderedAndProject, no full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(k)
    )


def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style fact-fact join + dimension broadcast.

    lineitem ⋈ orders shuffles on orderkey (both huge at scale);
    customer is small → Catalyst broadcasts it. Filters push into both
    parquet scans before the join.
    """
    from distributed_computing_spark.operators.joins import gated_broadcast

    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            gated_broadcast(t["customer"], table_rows(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("o_orderstatus") != "F")
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style 6-table join: star joins collapse to broadcasts.

    Only lineitem⋈orders shuffles; region/nation/customer/supplier ride
    as broadcast hash joins, so the plan has exactly one wide exchange
    — the shape that survives 1000 executors. That one join is hinted
    shuffle-HASH, not sort-merge: joining on a key needs no sort, and
    skipping the two big sorts measured 5.5 s → 3.2 s at the 50× tier
    (BASELINE.md); AQE still splits skewed keys, and partition sizing
    keeps the per-partition orders build in memory. (Pre-aggregating
    lineitem revenue per l_orderkey below the join measured WORSE —
    5.9 s — ~4 lines/order gives little map-side collapse, so the
    extra exchange outweighs the skinnier join input.)
    """
    from distributed_computing_spark.operators.joins import gated_broadcast

    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    return (
        t["lineitem"]
        .join(t["orders"].hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            gated_broadcast(t["customer"], table_rows(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _bucketed_source_tag(sf_dir: str, n_buckets: int) -> str:
    """Catalog-table tag folding in a SOURCE fingerprint (mtime+size of
    both fact parquet files), not just the path: if the testdata under
    sf_dir is ever regenerated, stale bucketed copies would otherwise
    silently serve old data while the DuckDB oracle reads the fresh
    files (ADVICE r4)."""
    import hashlib
    import os

    fp_parts = [sf_dir, str(n_buckets)]
    for t in ("orders", "lineitem"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            fp_parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            fp_parts.append(f"{t}:missing")
    return hashlib.md5("|".join(fp_parts).encode()).hexdigest()[:8]


def _bucketed_fact_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Idempotently materialize lineitem+orders bucketed+sorted on the
    order key for ``sf_dir``; returns the two catalog table names.

    The storage-partitioned-join layout a 100 TB deployment maintains
    for its hottest fact-fact join: both sides pre-shuffled into the
    same bucket scheme at WRITE time, so every later join/agg on the
    key plans with no Exchange (bucket metadata lives in the catalog —
    saveAsTable). One write amortizes over every downstream join; the
    experiment record in BASELINE.md has the measured tradeoff.
    """
    tag = _bucketed_source_tag(sf_dir, n_buckets)
    lt, ot = f"l_bkt_{tag}", f"o_bkt_{tag}"
    if not (spark.catalog.tableExists(lt) and spark.catalog.tableExists(ot)):
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        for df, name in ((lineitem, lt), (orders, ot)):
            (
                df.write.mode("overwrite")
                .option("path", f"{wh}/{name}")
                .bucketBy(n_buckets, "o_orderkey")
                .sortBy("o_orderkey")
                .format("parquet")
                .saveAsTable(name)
            )
    return lt, ot


def regional_revenue_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regional_revenue`` over the bucketed-fact layout: the
    lineitem⋈orders join plans with NO exchange (SortMergeJoin directly
    over co-bucketed, co-sorted scans) and the dims broadcast; the only
    shuffle left is the final 5-group rollup of partial aggregates
    (bytes ∝ partitions×groups, irreducible by layout). Plan-asserted
    in test_plans.py — round 5 corrected the earlier "zero exchanges"
    wording, which a trivially-true tree assertion had let stand.

    Measured at the 50× tier (BASELINE.md): the shuffle-free plan is
    wall-clock comparable to the hinted shuffle_hash plan on ONE box
    (a 30 M-row local shuffle is cheap next to the scan), but it
    removes the join's network exchange entirely — the term that
    dominates a 1000-executor fact-fact join. Adopted as the variant a
    deployment with maintained bucketed tables runs; the ad-hoc plan
    (``regional_revenue``) stays the default for raw parquet.

    The revenue sum runs in exact DECIMAL: the bucketed plan's
    different partial-agg order would otherwise diverge from the
    oracle in the last ulp (same fix as salted_revenue_join).
    """
    from distributed_computing_spark.operators.joins import gated_broadcast

    lt, ot = _bucketed_fact_tables(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("customer", "supplier", "nation", "region"))
    rev_dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        spark.table(lt)
        .join(spark.table(ot).hint("merge"), "o_orderkey")
        .join(
            gated_broadcast(t["customer"], table_rows(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.round(F.sum(rev_dec), 2).cast("double").alias("revenue"))
    )


def order_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer order rank + running revenue.

    One shuffle on o_custkey serves both window specs (same
    partitioning). Returns only the top-3 ranked orders per customer to
    bound output.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("order_rank"),
            F.round(
                F.sum("o_totalprice").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
                2,
            ).alias("running_total"),
        )
        .where(F.col("order_rank") <= 3)
    )


def priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (grouping sets) over order status × priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (all grouping sets) over order status × priority — the
    completion of the grouping-sets surface next to ROLLUP."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (absent in the reference, §2.8): date
    extraction/diff, math (sqrt/ln/abs), string (upper/substr) — all
    whole-stage-codegen JVM expressions, aggregated per order year."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("yr", F.year("o_orderdate").cast("int"))
        .groupBy("yr")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sqrt(F.avg("o_totalprice")), 6).alias("sqrt_avg_price"),
            F.round(F.log(F.sum("o_totalprice") + F.lit(1.0)), 6).alias("log_revenue"),
            F.round(F.avg(F.abs(F.col("o_totalprice") - F.lit(100000.0))), 4).alias(
                "avg_abs_dev"
            ),
            F.max(F.upper(F.substring("o_orderpriority", 1, 4))).alias("max_pri_prefix"),
            F.min(F.dayofweek("o_orderdate")).cast("int").alias("min_dow"),
            F.max(F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")))
            .cast("int")
            .alias("max_days_to_2002"),
        )
    )


def revenue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-statistic aggregates: exact interpolated percentiles of
    order value per market segment. Exact ``percentile`` needs a
    per-group sort — at 100 TB swap in ``approx_percentile``
    (bounded-memory sketch, same call shape)."""
    from distributed_computing_spark.operators.joins import gated_broadcast

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    joined = t["orders"].join(
        gated_broadcast(
            t["customer"].select("c_custkey", "c_mktsegment"),
            table_rows(spark, sf_dir, "customer"),
        ),
        t["orders"].o_custkey == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", 0.99), 4).alias("p99"),
    )


def tiered_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style tiered rollup: the DAY aggregate is computed
    FROM the HOUR aggregate, not from raw events — the algebraic
    re-aggregation property (sum of sums, sum of counts) that makes
    continuous aggregates incrementally maintainable at 100 TB (each
    tier reads the tier below, never the raw table). The oracle
    aggregates raw events directly, proving tier-composition is exact.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    return (
        hourly.groupBy(F.date_trunc("day", "h").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv"), 4).alias("sum_value"),
        )
    )


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: casing (upper), padding, translation, edit
    distance — whole-stage-codegen JVM expressions per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("title_prefix"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
        F.translate(F.lower(F.substring("text", 1, 20)), "aeiou", "_____").alias(
            "devoweled"
        ),
        F.levenshtein(F.substring("text", 1, 10), F.substring("text", 11, 10)).alias(
            "prefix_edit_dist"
        ),
    )


def regex_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: pull the numeric payload out of the JSON
    props STRING with regexp_extract (no JSON parser — the pattern for
    semi-structured text where from_json can't apply), plus a
    regexp_count-style metric."""
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return (
        ev.withColumn("_k", k)
        .groupBy("event_type")
        .agg(
            F.sum("_k").alias("sum_k"),
            F.sum((F.length(F.regexp_replace("props", r"[^0-9]", "")) > 2).cast("long"))
            .alias("n_multi_digit"),
        )
    )


def bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: bool_and / bool_or /
    count_if per order priority."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_failed"),
    )


def rolling_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): per customer,
    the 7-day trailing revenue at each order — orders on the same day
    share the frame regardless of row order, which a ROWS frame gets
    wrong. Day-granularity numeric range keys on both engines."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") % 100 == 0)
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days.cast("long"))
        .rangeBetween(-6, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d_revenue"),
    )


def token_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the token stream: slice, reverse,
    distinct, containment — all JVM higher-order/array expressions."""
    from distributed_computing_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_join(F.reverse(F.slice(toks, -3, 3)), " ").alias("last3_reversed"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_contains(toks, "the").cast("int").alias("has_the"),
    )


def price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per order status (the data-quality
    screen before training on numeric features): two passes expressed
    as one plan — stats aggregate broadcasts back over the fact scan."""
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderstatus").agg(
        F.avg("o_totalprice").alias("_mu"),
        F.stddev_pop("o_totalprice").alias("_sd"),
    )
    z = (F.col("o_totalprice") - F.col("_mu")) / F.col("_sd")
    return (
        orders.join(F.broadcast(stats), "o_orderstatus")
        .where(F.abs(z) > 1.6)
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round(z, 4).alias("z"),
        )
    )


def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance aggregates over lineitem numerics —
    the feature-relationship scan (corr is a single-pass algebraic
    aggregate; no second scan, no collect)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
        F.count("*").alias("n"),
    )


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH (approx_percentile / Greenwald-Khanna): the
    bounded-memory path for the ordered stats `revenue_percentiles`
    computes exactly — at 100 TB the sketch mergeable-summary is the
    only option. No oracle (sketch result is engine-defined); the test
    bounds its error against the exact percentile."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.approx_percentile("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.approx_percentile("o_totalprice", 0.99, 10000).alias("p99_approx"),
        F.count("*").alias("n"),
    )


def frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch (freqItems / Karp-Shenker-Papadimitriou):
    single-pass candidate set of items above the support threshold —
    the streaming-friendly top-token sketch. Rows-only (candidate sets
    are engine-defined supersets); containment tested against exact
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"))
    return words.where(F.col("word") != "").stat.freqItems(["word"], support=0.02)


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: per user, did view → click → purchase
    occur IN ORDER (by first occurrence)? One conditional-agg pass —
    ordering semantics without a self-join (the MATCH_RECOGNIZE-lite
    shape; first-touch timestamps are min-aggregates, so the whole
    funnel is one shuffle on user_id)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_viewed"),
        F.sum(
            (F.col("t_click") > F.col("t_view")).cast("long")
        ).alias("n_view_then_click"),
        F.sum(
            (
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_buy") > F.col("t_click"))
            ).cast("long")
        ).alias("n_full_funnel"),
    )


def funnel_strict(
    spark: SparkSession,
    sf_dir: str,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    window_s: int = 86400 * 7,
) -> DataFrame:
    """STRICT sequential funnel (round 8): greedy earliest-completion
    matching — t1 = the user's first A, t2 = the first B strictly
    AFTER t1, t3 = the first C strictly after t2 — plus a completion
    deadline (t3 − t1 <= window_s). funnel_conversion's first-touch
    comparison admits a click that precedes a LATER view; this is the
    MATCH_RECOGNIZE semantics, still without a self-join: each chained
    "first after" is an unordered window-min over the user partition
    conditioned on the previous window's result, so all three levels
    ride ONE user-keyed exchange (Catalyst stacks the Window operators
    on the same partitioning — no re-shuffle between levels)."""
    a, b, c = steps
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("sec")
    )
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == a, F.col("sec"))).over(w)
    lv1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == b) & (F.col("sec") > F.col("t1")),
            F.col("sec"),
        )
    ).over(w)
    lv2 = lv1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == c) & (F.col("sec") > F.col("t2")),
            F.col("sec"),
        )
    ).over(w)
    per_user = (
        lv2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
            F.first("t3").alias("t3"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n_step1"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("n_step2"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias("n_step3"),
        # WHEN/OTHERWISE(0), not a nullable-bool cast: with zero
        # completers a sum of all-NULLs is NULL while the oracle's
        # CASE ... ELSE 0 sums to 0 (ADVICE r8) — this form matches the
        # oracle exactly in every case incl. the empty input.
        F.sum(
            F.when(F.col("t3") - F.col("t1") <= window_s, 1).otherwise(0)
        ).alias("n_within_window"),
    )


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of `orders` (the pre-ingest sanity pass a
    pipeline runs on every new source): per-column nulls, distincts,
    numeric min/max — one full-scan aggregate, no per-column jobs."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.stddev_pop("o_totalprice"), 4).alias("std_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


def source_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-source document counts with one column per language.
    The value list is pinned (not inferred) so the plan is a single
    pass — pivot with inferred values costs an extra distinct job and
    yields nondeterministic column sets."""
    langs = ["de", "en", "es", "fr", "zh"]
    docs = load_table(spark, sf_dir, "documents")
    out = docs.groupBy("source").pivot("lang", langs).count()
    # count() yields nulls for absent combos; pin to 0 for oracle parity
    return out.select(
        "source", *[F.coalesce(F.col(la), F.lit(0)).alias(la) for la in langs]
    )


def semi_anti_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface: customers WITH an urgent order but
    WITHOUT any 'F'-status order (left_semi + left_anti — EXISTS /
    NOT EXISTS in the oracle). Both probes stay broadcast."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    failed = t["orders"].where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        t["customer"]
        .join(urgent, t["customer"].c_custkey == urgent.o_custkey, "left_semi")
        .join(failed, t["customer"].c_custkey == failed.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: quartile (ntile), percent_rank, and
    lag-delta of order value within each customer's history."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
            ).alias("delta_prev"),
        )
        .where(F.col("o_custkey") % 100 == 0)
    )


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type (batch form).

    Same logical op as the Structured Streaming path
    (streaming/windows.py) — date_trunc keeps it oracle-mirrorable.
    """
    ev = load_table(spark, sf_dir, "events")
    # Manual two-stage distinct: countDistinct alongside plain aggs
    # makes Catalyst plan an Expand (every input row duplicated per
    # aggregate group — 2× the partial-agg input). Pre-aggregating on
    # (window, type, user) first gets the same numbers with no Expand
    # and a far smaller second exchange.
    #
    # CLOSED (round 5, VERDICT r4 item 8): the last untried lever — a
    # fused mapInPandas pre-agg, the shape that won word_count — LOSES
    # 2.5× here (0.64 s vs 1.61 s best-of-3 at the 20× tier, identical
    # values; events_windowed_probe.py, commit bcefe1f). Per-row work
    # is numeric (date_trunc + two sums), exactly what whole-stage
    # codegen is best at; Arrow transfer + pandas groupby only pays off
    # when the JVM alternative is explode/per-token expression trees.
    # The residual ~9× vs DuckDB at small absolutes is engine fixed cost
    # (bare scan is a third of the total); do not re-litigate without
    # new evidence.
    pre = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
        "user_id",
    ).agg(F.count("*").alias("_c"), F.sum("value").alias("_s"))
    return pre.groupBy("window_start", "event_type").agg(
        F.sum("_c").alias("n_events"),
        F.round(F.sum("_s"), 4).alias("sum_value"),
        F.count("*").alias("n_users"),
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal/nested data: JSON props → typed column + aggregate.

    ``get_json_object`` on the hot path is fine (codegen'd); for fixed
    schemas prefer ``from_json`` once + struct access.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-analog on events: per-user ordered distinct event-type list."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
            F.count("*").alias("n_events"),
        )
        .where(F.col("n_events") >= 5)
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] HLL approximate distinct (no oracle — approximation differs
    per engine; the driver records rows-only, and tests bound the error
    against exact countDistinct)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


def set_ops_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent in the reference, §2.8): customers with
    orders INTERSECT high-balance, then EXCEPT low-balance."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    with_orders = t["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    high = t["customer"].where(F.col("c_acctbal") > 5000).select("c_custkey")
    low = t["customer"].where(F.col("c_acctbal") < 0).select("c_custkey")
    return with_orders.intersect(high).exceptAll(low).orderBy("c_custkey")


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: hourly event counts per type with missing
    hours densified to zero rows between each type's first and last
    active hour (the step before any rolling/EWMA computation, which
    silently skews if absent buckets just vanish).

    Scale shape: the raw stream aggregates FIRST (partial map-side
    combine; post-agg cardinality = types x hours, tiny), and the hour
    grid is generated from that aggregate via ``sequence`` + explode —
    the dense grid never touches the raw events, so the fill cost is
    independent of event volume.
    """
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_v"))
    rng = agg.groupBy("event_type").agg(
        F.min("hour").alias("_mn"), F.max("hour").alias("_mx")
    )
    grid = rng.select(
        "event_type",
        F.explode(F.sequence("_mn", "_mx", F.expr("interval 1 hour"))).alias("hour"),
    )
    return grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("_n", F.lit(0)).alias("n_events"),
        F.round(F.coalesce("_v", F.lit(0.0)), 6).alias("total_value"),
    )


def decayed_user_activity(
    spark: SparkSession, sf_dir: str, half_life_days: float = 7.0
) -> DataFrame:
    """Exponentially time-decayed activity counter per user (the
    recency-weighted engagement score feature stores keep): each event
    contributes 2^(-age/half_life) measured at the corpus max
    timestamp, so a user's score halves every ``half_life_days`` of
    silence.

    Scale shape: the reference timestamp is a 1-row aggregate broadcast
    into the scan (no second pass, no window); the decay term is a pure
    codegen'd expression and the only exchange is the per-user partial
    aggregate. The lambda constant is built from IEEE-exact pieces
    (ln 2 / seconds) so the DuckDB oracle reproduces it bit-for-bit.
    """
    import math

    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.max(F.unix_micros("ts")).alias("_ref"))
    lam = math.log(2.0) / (half_life_days * 86400.0)
    age_s = (F.col("_ref") - F.unix_micros("ts")) / F.lit(1000000.0)
    return (
        events.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.exp(-F.lit(lam) * age_s)), 6).alias("decayed_count"),
        )
    )


def value_histogram(spark: SparkSession, sf_dir: str, nbins: int = 20) -> DataFrame:
    """Equi-width histogram of event values: the min/max come from one
    tiny aggregate broadcast back into the scan (two passes over the
    data, zero wide shuffles — the bin agg partially combines
    map-side). Bin edges are pure IEEE expressions evaluated in the
    identical order on both engines, so bin assignment is bit-exact
    and the DuckDB oracle matches without tolerance.
    """
    ev = load_table(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("_mn"), F.max("value").alias("_mx"))
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(nbins))
    bin_ = F.when(
        F.col("_mx") > F.col("_mn"),
        F.least(
            F.floor((F.col("value") - F.col("_mn")) / width), F.lit(nbins - 1)
        ),
    ).otherwise(0).cast("int")
    return (
        ev.crossJoin(F.broadcast(mm))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly screen over the hourly event stream:
    flag (hour, event_type) cells whose count deviates >= 2 sigma from
    the trailing 24-hour mean (ops-monitoring staple).

    One shuffle (hourly partial agg), then one window exchange on
    event_type — the rolling stats ride a ROWS frame over the trailing
    24 cells, never a self-join. Early hours (< 12 trailing cells) and
    flat windows (sd = 0, the ANSI division guard) are excluded on
    BOTH engines; the filter compares the ROUNDED z so an ulp of
    engine difference cannot flip a boundary row.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "hour",
        "event_type",
        "n_events",
        F.avg("n_events").over(w).alias("_mu"),
        F.stddev_samp("n_events").over(w).alias("_sd"),
        F.count(F.lit(1)).over(w).alias("_n_win"),
    )
    z = F.round((F.col("n_events") - F.col("_mu")) / F.col("_sd"), 4)
    return (
        stats.where((F.col("_n_win") >= 12) & (F.col("_sd") > 0))
        .withColumn("z", z)
        .where(F.abs(F.col("z")) >= 2)
        .select("hour", "event_type", "n_events", "z")
    )


def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, the
    classic (cohort_week, week_offset) retention matrix with per-cell
    active counts and retention fraction.

    Two aggregations shuffle on user_id (first-seen + distinct
    activity weeks — the second piggybacks the same hash partitioning
    under AQE), then the matrix itself is a tiny weeks x weeks
    aggregate; the cohort-size side is broadcast. Week arithmetic is
    integer (both engines truncate weeks to Mondays, so the day diff
    is exactly divisible by 7) — no float in any group key.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    joined = firsts.join(activity, "user_id").select(
        "cohort_week",
        F.expr("div(datediff(wk, cohort_week), 7)").cast("int").alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def basket_pair_counts(
    items: DataFrame,
    min_count: int = 3,
    order_col: str = "l_orderkey",
    item_col: str = "item",
    max_basket: int = 10_000,
) -> DataFrame:
    """Per-basket pair supports (a < b, a/b = items co-occurring in an
    order, n_orders = baskets containing both) via a FUSED Arrow pass
    (round 9): group items per basket, then one mapInPandas emits
    per-partition PARTIAL pair counts from a C dict — the
    explode-family lesson's 6th confirmation, this time against a
    self-JOIN: the per-order equi-join fan-out (items² rows through
    the join operator, then a second exchange of every pair
    occurrence) measured 11.0 s warm at R20 where this pass runs
    6.6 s bit-identically (BASELINE.md). The pair fan-out never
    leaves the Python stage — only (a, b, partial n) rows exchange,
    pre-combined within each partition.

    Scale contract: per-basket work is C(k,2) — the same bound the
    join plan pays — and the partial-count dict is bounded per batch
    by the distinct-pair count, the classic map-side-combine shape.
    ``max_basket`` is the ABSOLUTE companion cap every pair-generating
    guard needs (ADVICE r9; the ngram max_posting / minhash max_bucket
    rule): a degenerate mega-basket would stall a Python worker on
    C(k,2) alone, so baskets above the cap are SKIPPED (a >10k-item
    "basket" is a data artifact, not co-purchase signal) — mirrored in
    the copurchase_pairs oracle's NOT IN basket-size filter."""
    baskets = order_baskets(items, order_col=order_col, item_col=item_col)
    return pair_counts_from_baskets(
        baskets, min_count=min_count, max_basket=max_basket
    )


def order_baskets(
    items: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "item",
) -> DataFrame:
    """Per-order distinct item sets: (order_col, _its array) — the
    shared upstream of the basket pair counter AND the per-item /
    per-order support rollups (round-12 optimization). Factored out so
    consumers that need pairs + supports + totals can build the basket
    table ONCE (track_persist it) instead of re-scanning the fact and
    paying the distinct exchange again per rollup: collect_set already
    dedups within the order, so ``explode(_its)`` IS the
    (order, item)-distinct row set and ``count(baskets)`` IS the
    distinct-order count."""
    return items.groupBy(order_col).agg(
        F.collect_set(item_col).alias("_its")
    )


def pair_counts_from_baskets(
    baskets: DataFrame,
    min_count: int = 3,
    max_basket: int = 10_000,
    its_col: str = "_its",
) -> DataFrame:
    """The fused-Arrow pair-support pass over a prebuilt basket table
    (see ``basket_pair_counts`` for the plan rationale)."""
    from collections import Counter

    schema = "a long, b long, n long"
    build = frame_maker(schema)

    def count_pairs(batches):
        c: Counter = Counter()
        for pdf in batches:
            for its in pdf[its_col]:
                s = sorted(set(its))
                for i in range(len(s)):
                    ai = s[i]
                    for j in range(i + 1, len(s)):
                        c[(ai, s[j])] += 1
        yield build([k[0] for k in c], [k[1] for k in c], list(c.values()))

    return (
        baskets.where(F.size(its_col) <= max_basket)
        .select(its_col)
        .mapInPandas(count_pairs, schema)
        .groupBy("a", "b")
        .agg(F.sum("n").alias("n_orders"))
        .where(F.col("n_orders") >= min_count)
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str, min_count: int = 3) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, counted across orders (the candidate-generation half of
    frequent-itemset mining).

    Round-9 re-plan: the original per-order self-join (one l_orderkey
    shuffle, a < b guard, per-pair countDistinct) measured 11.0 s warm
    at R20 vs the fused Arrow pair counter's 6.6 s (bit-identical —
    BASELINE.md); ``basket_pair_counts`` is now the shared engine for
    this, association_rules, and copurchase_cosine. ``n_orders``
    counts DISTINCT orders (collect_set dedups within a basket), which
    is what basket-support means."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("item")
    )
    return basket_pair_counts(li, min_count=min_count)


def association_rules(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Market-basket association rules over the co-purchase pairs
    (round 8): for every directed rule a→b with pair support >=
    min_count, emit integer-scaled confidence and lift —
    ``conf_ppm = (supp_ab · 10^6) div supp_a`` and
    ``lift_ppm = (supp_ab · N · 10^6) div (supp_a · supp_b)`` — the
    float-free ranking keys (the multimodal_real_ann quantized-rank
    rule: both engines divide exact integers, so the gate hash is
    stable where a float lift never would be).

    Plan shape: the basket self-join is per-order bounded
    (copurchase_pairs), item supports are one partial-aggregated
    groupBy, N is a 1-row agg broadcast as a literal-free cross join
    of a 1-row frame; supports attach by broadcast (item-count-sized).
    Overflow audit: supp_ab·N·10^6 <= |lineitem|²·10^6 — cast through
    DECIMAL(38,0) and divide there, landing back in BIGINT.
    """
    from distributed_computing_spark.caching import track_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("item")
    )
    # Round-9 re-plan: the pair supports come from the shared fused
    # Arrow counter (basket_pair_counts — collect_set dedups within a
    # basket, so downstream counts are plain sums that partial-
    # aggregate; the r8 draft's per-pair countDistinct Expand measured
    # 33.7 s at R100, the join plan 11.0 s at R20, the fused pass
    # 6.6 s).
    # Round-12 optimization: pairs, item supports AND the basket total
    # all derive from ONE persisted basket table — the r9 shape
    # re-scanned lineitem twice more and paid a full
    # (l_orderkey, item)-distinct exchange for the supports, but
    # collect_set has already dedup'd within the order, so
    # explode(_its) IS that distinct row set (map-side partial agg,
    # no fact-sized exchange) and count(baskets) IS the distinct-order
    # count. 3 lineitem scans + 3 fact-sized exchanges → 1 + 1.
    baskets = track_persist(order_baskets(li))
    pairs = pair_counts_from_baskets(
        baskets, min_count=min_count
    ).withColumnRenamed("n_orders", "supp_ab")
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    supp = (
        baskets.select(F.explode("_its").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    # both rule directions from ONE pair evaluation (the r6
    # explode-an-array lesson: never unionAll two selects of the same
    # expensive subtree)
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("lhs"),
                    F.col("b").alias("rhs"),
                    F.col("supp_ab"),
                ),
                F.struct(
                    F.col("b").alias("lhs"),
                    F.col("a").alias("rhs"),
                    F.col("supp_ab"),
                ),
            )
        ).alias("r")
    ).select("r.lhs", "r.rhs", "r.supp_ab")
    sl = supp.select(
        F.col("item").alias("lhs"), F.col("supp").alias("supp_lhs")
    )
    sr = supp.select(
        F.col("item").alias("rhs"), F.col("supp").alias("supp_rhs")
    )
    # integral `div` on DECIMAL(38,0) — truncating like DuckDB's `//`
    # (all operands non-negative counts, so floor == trunc under any
    # engine; decimal float-division + cast would ROUND half-up at the
    # result scale and diverge near integer boundaries)
    conf = F.expr(
        f"cast(supp_ab as decimal(38,0)) * {scale} "
        "div cast(supp_lhs as decimal(38,0))"
    )
    lift = F.expr(
        f"cast(supp_ab as decimal(38,0)) * cast(n_orders as decimal(38,0))"
        f" * {scale} div (cast(supp_lhs as decimal(38,0)) * "
        "cast(supp_rhs as decimal(38,0)))"
    )
    return (
        rules.join(F.broadcast(sl), "lhs")
        .join(F.broadcast(sr), "rhs")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "lhs",
            "rhs",
            "supp_ab",
            "supp_lhs",
            "supp_rhs",
            conf.cast("long").alias("conf_ppm"),
            lift.cast("long").alias("lift_ppm"),
        )
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (behavioral bigrams): for
    each consecutive (ts, event_id)-ordered pair of a user's events,
    count (from_type -> to_type) corpus-wide — the input to funnel
    discovery and Markov-chain session models.

    One shuffle on user_id serves the ordering window (lead);
    transition aggregation partial-aggregates map-side. The event_id
    tie-break makes ordering exact on both engines.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type TRIGRAMS (round 12): the 3-step
    extension of ``event_transitions`` — for each consecutive
    (ts, event_id)-ordered triple of a user's events, count the
    (t1 → t2 → t3) path corpus-wide plus how many distinct users walk
    it. The sequence-mining primitive behind funnel discovery and
    higher-order Markov session models; also the BATCH contract for
    the online twin ``streaming/trigram.py`` (last-two-events state).

    Plan: ONE shuffle on user_id serves BOTH lead windows (same
    partitioning, one Window node); the trigram rollup
    partial-aggregates map-side to the |types|³-bounded path table.
    The event_id tie-break makes ordering exact on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        steps.groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_paths").desc(), "t1", "t2", "t3")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort triangle (round 12): users cohorted by
    their FIRST active week (epoch-day div 7 — an integer bucket both
    engines compute identically; no engine week-start conventions),
    with one row per (cohort_week, week_offset): how many of the
    cohort's users were active offset weeks later, and the retention
    rate in ppm of the cohort's size. The canonical product-analytics
    cohort table.

    Plan (the dominant_part_suppliers motion on events): ONE
    ``repartition("user_id")`` serves the (user, week) dedup
    (partition keys ⊂ group keys — no new exchange) AND the per-user
    first-week WINDOW over the same partitioning; the deduped
    (user, week, cohort) rows are unique per (user, week), so the
    cohort rollup's ``count(1)`` IS the distinct-user count — no
    count_distinct expand. The rollup is ~|weeks|² rows; cohort size
    attaches as a window over that tiny table (no self-join). The
    ppm division is guarded (cohort_size > 0 always holds — offset 0
    exists for every cohort by construction — but ANSI mode gets an
    explicit branch anyway)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # exact integer week bucket: epoch seconds div 86400 div 7 (both
    # div and DuckDB's // truncate; operands non-negative for this
    # data — the oracle-portability allowlist documents it)
    week = F.expr("cast(ts as long) div 86400 div 7")
    uw = (
        ev.select("user_id", week.alias("week"))
        .repartition("user_id")
        .distinct()
    )
    wu = Window.partitionBy("user_id")
    c = uw.select(
        "user_id",
        "week",
        F.min("week").over(wu).alias("cohort_week"),
    )
    r = c.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
    ).agg(F.count(F.lit(1)).alias("n_users"))
    wc = Window.partitionBy("cohort_week")
    return (
        r.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("week_offset") == 0, F.col("n_users"))
            ).over(wc),
        )
        .withColumn(
            "retention_ppm",
            F.when(
                F.col("cohort_size") > 0,
                F.expr(
                    "cast(cast(n_users as bigint) * 1000000 "
                    "div cohort_size as bigint)"
                ),
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bar resampling (OHLC): per (event_type, hour) the opening,
    highest, lowest, and closing `value` plus the tick count — the
    financial-bar / telemetry-downsampling shape.

    One shuffle, pure aggregation: open/close use min_by/max_by keyed
    on the UNIQUE struct(ts, event_id) — single-pass partial-aggregable
    picks, no ordering window. Struct-keyed min_by buffers aren't
    hash-aggregable, so Spark lowers to partial+final SortAggregate;
    that's still the scale-right plan: one row per bar crosses the
    exchange, where a window formulation would shuffle and sort EVERY
    event (plan-asserted in tests). No float is ever summed (picks and
    extrema only), so the result is bit-exact cross-engine; the DuckDB
    oracle expresses the same picks with row_number windows over
    (ts, event_id).
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
            "ts",
            "event_id",
            "value",
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D Pareto skyline
# ---------------------------------------------------------------------------


def skyline2d(
    df: DataFrame,
    u_col: str,
    c_col: str,
    id_col: str = "doc_id",
    prune_buckets: int = 64,
) -> DataFrame:
    """Rows not Pareto-dominated: maximize ``u_col``, minimize
    ``c_col`` (r' dominates r iff u' >= u, c' <= c, strict somewhere;
    equal points dominate neither way, so exact duplicates both stay).

    Non-domination is two RANGE-frame window conditions:
      u == max(u) over {c' <= c}   (nobody cheaper-or-equal is richer)
      c == min(c) over {u' >= u}   (nobody richer-or-equal is cheaper)
    — equivalent to the NOT EXISTS definition (the DuckDB oracle
    states that form directly, so the gate checks algorithm-
    independent agreement).

    Scale shape: the skyline is DISTRIBUTIVE — skyline(parts) ⊆ union
    of per-part skylines — so a bucketed local prune (one exchange of
    (id, u, c) integer triples, windows per bucket) runs first, and
    the unpartitioned global windows only ever see the per-bucket
    survivors (~O(buckets × |skyline|) rows), never the full table.
    The bucket assignment affects only which dominated rows die early,
    not the result.
    """

    def _keep(frame: DataFrame, part: str | None) -> DataFrame:
        wc = Window.orderBy("_c").rangeBetween(Window.unboundedPreceding, 0)
        wu = Window.orderBy(F.desc("_u")).rangeBetween(
            Window.unboundedPreceding, 0
        )
        if part is not None:
            wc, wu = wc.partitionBy(part), wu.partitionBy(part)
        return (
            frame.withColumn("_mu", F.max("_u").over(wc))
            .withColumn("_mc", F.min("_c").over(wu))
            .where((F.col("_u") == F.col("_mu")) & (F.col("_c") == F.col("_mc")))
            .drop("_mu", "_mc")
        )

    pts = df.select(
        id_col, F.col(u_col).alias("_u"), F.col(c_col).alias("_c")
    )
    local = _keep(
        pts.withColumn(
            "_b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(prune_buckets))
        ),
        "_b",
    ).drop("_b")
    return _keep(local, None).select(
        id_col, F.col("_u").alias(u_col), F.col("_c").alias(c_col)
    )


# ---------------------------------------------------------------------------
# Oracle-exact HyperLogLog register sketch
# ---------------------------------------------------------------------------


def hll_register_sketch(
    df: DataFrame, col: str, m: int = 64, seed: int = 0
) -> DataFrame:
    """HLL registers over the cross-engine ``md5_hash60`` family:
    (register, max_rank), register = h mod m, rank = leading-zero
    count of the remaining 60 - log2(m) hash bits, plus one.

    The strict-gate twin of ``approx_distinct_users`` (whose
    ``approx_count_distinct`` uses Spark's engine-private HLL++ —
    rows-only by necessity): here the SKETCH ITSELF is the checked
    artifact, exactly reproducible in DuckDB SQL, same motion that
    graduated MinHash/SimHash (``md5_hash60`` docstring). The scale
    story is the register table's algebra: it is the distributive
    form of distinct-count — partial aggregation maxes registers
    map-side, merging two corpora's sketches is elementwise max, and
    the estimate is computed client-side from m integers. The
    estimate itself (harmonic mean, bias correction) stays OUT of the
    gated output: summing 2^-rank terms is float-addition-order-
    dependent (CLAUDE.md float-aggregate rule); tests bound its error
    against the exact distinct count instead.
    """
    if m & (m - 1) != 0:
        raise ValueError("m must be a power of two")
    from distributed_computing_spark.operators.dedup import md5_hash60

    bits = 60 - (m.bit_length() - 1)  # hash bits left after the index
    # NULL contract: drop NULLs before hashing (Spark concat_ws skips
    # NULL, DuckDB || propagates it — filtering is the shared semantics).
    hashed = df.where(F.col(col).isNotNull()).select(
        md5_hash60(F.col(col).cast("string"), seed).alias("_h")
    )
    rest = F.expr(f"_h div {m}")
    # leading zeros of a `bits`-wide field holding rest, plus one:
    #   rest > 0 → bits - bitlength(rest) + 1  (bitlength = len(bin))
    #   rest = 0 → bits + 1  (all suffix bits zero; bin('0') would
    #              miscount as bitlength 1, so it gets its own branch)
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits + 1) - F.length(F.bin(rest))
    )
    out = hashed.select(
        F.pmod(F.col("_h"), F.lit(m)).alias("register"),
        rank.cast("long").alias("rank"),
    )
    return out.groupBy("register").agg(F.max("rank").alias("max_rank"))


def hll_group_registers(
    df: DataFrame, group_col: str, col: str, m: int = 64, seed: int = 0
) -> DataFrame:
    """Per-GROUP HLL register table (group, register, max_rank) — the
    grouped form of ``hll_register_sketch`` (same hash/rank contract;
    see its docstring). The partial aggregation collapses each task to
    <= |groups|·m rows before the single exchange."""
    if m & (m - 1) != 0:
        raise ValueError("m must be a power of two")
    from distributed_computing_spark.operators.dedup import md5_hash60

    bits = 60 - (m.bit_length() - 1)
    hashed = df.where(F.col(col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        md5_hash60(F.col(col).cast("string"), seed).alias("_h"),
    )
    rest = F.expr(f"_h div {m}")
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits + 1) - F.length(F.bin(rest))
    )
    return (
        hashed.select(
            "grp",
            F.pmod(F.col("_h"), F.lit(m)).alias("register"),
            rank.cast("long").alias("rank"),
        )
        .groupBy("grp", "register")
        .agg(F.max("rank").alias("max_rank"))
        .withColumnRenamed("grp", group_col)
    )


def hll_merge_registers(
    registers: DataFrame, mapping: DataFrame, from_col: str, to_col: str
) -> DataFrame:
    """Distributive HLL ROLLUP: merge fine-grained register tables into
    coarser groups by elementwise max — the algebra that lets a 100 TB
    pipeline maintain per-partition distinct sketches and answer any
    coarser distinct-count without rescanning raw data (merging two
    corpora's sketches is the same operation). The merged registers
    are EXACTLY the registers a direct computation at the coarse level
    would produce (max is distributive over the partition), which is
    what the oracle checks."""
    return (
        registers.join(F.broadcast(mapping), from_col)
        .groupBy(to_col, "register")
        .agg(F.max("max_rank").alias("max_rank"))
    )


def hll_estimate(registers: dict[int, int], m: int = 64) -> float:
    """Client-side HLL estimate from a {register: max_rank} dict —
    the only float step, deliberately outside the gated plan."""
    alpha = 0.709 if m == 64 else 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    if est <= 2.5 * m:  # small-range correction
        zeros = sum(1 for j in range(m) if registers.get(j, 0) == 0)
        if zeros:
            import math

            est = m * math.log(m / zeros)
    return est


# ---------------------------------------------------------------------------
# Oracle-exact count-min sketch (frequency registers)
# ---------------------------------------------------------------------------


def cms_register_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
    seed0: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch counter table over the ``md5_hash60`` family:
    (sketch_row, register, cnt) for depth independent hash rows of
    ``width`` counters — the frequency-sketch sibling of
    ``hll_register_sketch`` (cardinality) and the strict-gate twin of
    ``frequent_items`` (whose ``stat.freqItems`` candidate sets are
    engine-defined, rows-only by necessity). Here the SKETCH ITSELF is
    the checked artifact: every counter is an integer count,
    reproducible in DuckDB SQL.

    Scale shape: the value stream is first pre-aggregated to
    ``(value, n)`` — md5 work is then proportional to DISTINCT values
    ×depth, not occurrences ×depth (round-7 fix for the only flat >2x
    crossover cell; the sketch is bit-identical because summing n per
    register equals counting occurrences). The d hash positions are
    computed map-side in one Generate (explode of a d-element struct
    array); the groupBy key space is depth*width (~2k), so partial
    aggregation collapses each task's stream to at most depth*width
    partial rows — the exchange is sketch-sized no matter how many
    occurrences flow in. Merging two corpora's sketches is elementwise
    +, the distributive algebra that makes CMS the 100 TB frequency
    summary. On a STREAMING input the pre-aggregation is skipped
    (stacked streaming aggregations are unsupported); the sketch
    groupBy is the single stateful operator and its state stays
    sketch-bounded either way.

    NULL contract: NULL inputs are dropped before hashing. Spark's
    ``concat_ws`` would skip a NULL (hashing just ``'#seed'``) while
    the DuckDB oracles' ``||`` propagates NULL — filtering is the only
    semantics both engines express identically (ADVICE r6).
    The heavy-hitter ESTIMATE (min over rows at a key's positions)
    stays client-side (`cms_point_estimate`) like ``hll_estimate`` —
    one-sided error (estimate >= true count) is asserted in tests.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be positive")
    from distributed_computing_spark.operators.dedup import md5_hash60

    if weight_col is not None:
        # caller supplies pre-counted (value, n) rows — e.g. the fused
        # Arrow token counter (mapreduce.fused_token_counts), which
        # beats the explode+groupBy pre-agg by the usual 10-40x
        src = df.select(
            F.col(col).cast("string").alias("_v"),
            F.col(weight_col).cast("long").alias("_n"),
        ).where(F.col("_v").isNotNull())
    else:
        src = df.select(F.col(col).cast("string").alias("_v")).where(
            F.col("_v").isNotNull()
        )
        if df.isStreaming:
            src = src.withColumn("_n", F.lit(1).cast("long"))
        else:
            src = src.groupBy("_v").agg(F.count(F.lit(1)).alias("_n"))
    positions = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("sketch_row"),
                F.pmod(
                    md5_hash60(F.col("_v"), seed0 + r), F.lit(width)
                ).alias("register"),
            )
            for r in range(depth)
        ]
    )
    return (
        src.select(F.explode(positions).alias("_rc"), F.col("_n"))
        .groupBy(
            F.col("_rc.sketch_row").alias("sketch_row"),
            F.col("_rc.register").alias("register"),
        )
        .agg(F.sum("_n").alias("cnt"))
    )


def cms_point_estimate(
    registers: dict[tuple[int, int], int],
    key: str,
    depth: int = 4,
    width: int = 512,
    seed0: int = 0,
) -> int:
    """Client-side CMS point query: min over the key's depth counters.
    Deterministically >= the true count (hash collisions only ADD)."""
    import hashlib

    est = None
    for r in range(depth):
        h = int(
            hashlib.md5(f"{key}#{seed0 + r}".encode()).hexdigest()[:15], 16
        )
        v = registers.get((r, h % width), 0)
        est = v if est is None else min(est, v)
    return est or 0


# ---------------------------------------------------------------------------
# Oracle-exact KMV (k-minimum-values) distinct sketch
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    col: str,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Per-group KMV sketch over ``md5_hash60``: the k smallest
    DISTINCT hash values of ``col`` within each group, as
    (group, rnk, hval) rows — fourth member of the sketch suite, and
    the one that buys what HLL cannot: SET-OPERATION estimates.
    Union of two sketches = k smallest of their concatenation;
    Jaccard ≈ overlap fraction within the union's min-k
    (`kmv_jaccard`); intersection cardinality = Jaccard × union
    estimate. Everything gated is an integer hash value — exactly
    reproducible in SQL (QUALIFY row_number).

    Scale shape: distinct-(group, hash) is one partial-aggregated
    exchange; the rank filter then compiles to WindowGroupLimit
    (Spark ≥ 3.5), which keeps only each partition's per-group top-k
    BEFORE the window sort — map-side k-min, the same partial-
    aggregation discipline as the register sketches (plan-asserted).
    The ESTIMATE ((k-1)·2^60 / h_k) stays client-side like
    `hll_estimate`/`cms_point_estimate`.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql import Window

    from distributed_computing_spark.operators.dedup import md5_hash60

    # NULL contract: drop NULL values before hashing (see
    # hll_register_sketch — engines disagree on hashing NULL).
    hashed = (
        df.where(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            md5_hash60(F.col(col).cast("string"), seed).alias("hval"),
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("hval")
    return (
        hashed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col("grp").alias(group_col), "rnk", "hval")
    )


def kmv_estimate(hvals: list[int], k: int = 64) -> float:
    """Client-side distinct-count estimate: (k-1) / F(h_k) where
    F(h) = h / 2^60 (md5_hash60 is uniform on [0, 2^60)). If the
    group holds fewer than k distinct values the sketch IS the exact
    distinct set."""
    if len(hvals) < k:
        return float(len(hvals))
    hk = sorted(hvals)[k - 1]
    return (k - 1) * (1 << 60) / max(hk, 1)


def kmv_jaccard(a: list[int], b: list[int], k: int = 64) -> float:
    """Jaccard estimate from two KMV sketches: the overlap fraction
    inside the min-k of their union (both sketches' hash sets are
    subsets of their sources, so membership tests are exact)."""
    union_k = sorted(set(a) | set(b))[:k]
    sa, sb = set(a), set(b)
    inter = sum(1 for h in union_k if h in sa and h in sb)
    return inter / max(len(union_k), 1)


def kmv_union_sketches(
    sketches: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Pairwise KMV sketch MERGE — the set-operation algebra that makes
    KMV strictly stronger than HLL: the union sketch of two groups is
    the k smallest distinct hashes of the union of their sketches
    (closed under merge, no raw-data rescan), and the ``in_both`` flag
    carries the intersection evidence the Jaccard/intersection
    estimators consume (``kmv_jaccard``, client-side — float rule).
    Output: (g_a, g_b, rnk, hval, in_both) for every unordered group
    pair, rnk <= k.

    Scale shape: inputs are SKETCHES (k rows per group), never the raw
    table — merging two corpora's per-group distinct summaries costs
    |groups|²·k rows total regardless of source size. One exchange on
    (pair, hval) for the dedup+rank; the rank filter compiles to
    WindowGroupLimit like kmv_sketch's (plan-asserted).
    """
    gs = sketches.select(F.col(group_col).alias("_g")).distinct()
    pairs = (
        gs.select(F.col("_g").alias("g_a"))
        .join(gs.select(F.col("_g").alias("g_b")), F.col("g_a") < F.col("g_b"))
    )
    a = sketches.select(F.col(group_col).alias("g_a"), "hval")
    b = sketches.select(F.col(group_col).alias("g_b"), "hval")
    u = (
        pairs.join(a, "g_a")
        .select("g_a", "g_b", "hval", F.lit(1).alias("_a"), F.lit(0).alias("_b"))
        .unionByName(
            pairs.join(b, "g_b").select(
                "g_a", "g_b", "hval", F.lit(0).alias("_a"), F.lit(1).alias("_b")
            )
        )
        .groupBy("g_a", "g_b", "hval")
        .agg(F.max("_a").alias("_a"), F.max("_b").alias("_b"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g_a", "g_b").orderBy("hval")
    return (
        u.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "g_a",
            "g_b",
            F.col("rnk").cast("int").alias("rnk"),
            "hval",
            (F.col("_a") * F.col("_b")).cast("int").alias("in_both"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (membership sketch)
# ---------------------------------------------------------------------------


def bloom_bitset(
    df: DataFrame, col: str, m_bits: int = 16384, k: int = 5, seed0: int = 0
) -> list[int]:
    """Exact Bloom bitset over ``md5_hash60``: k positions per key,
    folded into m_bits/64 longs with bit_or — one partial-aggregated
    groupBy over word indexes (<= m_bits/64 rows exchange), then a
    BOUNDED collect of the word table. The membership sketch
    completing the trio (HLL cardinality, CMS frequency, Bloom
    membership); its join-pruning use is `bloom_prune_semi_join`.
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    from distributed_computing_spark.operators.dedup import md5_hash60

    c = F.col(col).cast("string")
    pos = F.array(
        *[F.pmod(md5_hash60(c, seed0 + i), F.lit(m_bits)) for i in range(k)]
    )
    words = (
        # NULL contract: see hll_register_sketch.
        df.where(F.col(col).isNotNull())
        .select(F.explode(pos).alias("_p"))
        .select(
            F.expr("_p div 64").alias("_w"),
            # SQL form: the Python shiftleft wrapper demands an int
            # literal for numBits; the SQL function takes expressions
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(_p, 64) as int))"
            ).alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .collect()  # bounded: <= m_bits/64 rows (256 longs at default)
    )
    bits = [0] * (m_bits // 64)
    for row in words:
        bits[row["_w"]] = row["_bits"]
    return bits


def bloom_membership(
    col_name: str,
    bits: list[int],
    m_bits: int = 16384,
    k: int = 5,
    seed0: int = 0,
):
    """Column predicate over the named column: all k bloom bits set
    (possible false positives, NO false negatives — tested). The
    bitset rides into the plan as a literal array — a scan-side
    filter, no join, no shuffle; built as a SQL expression because the
    bit positions are computed columns (see bloom_bitset's note)."""
    arr = "array(" + ",".join(f"cast({w} as bigint)" for w in bits) + ")"
    preds = []
    for i in range(k):
        # md5_hash60 in SQL: conv(first 15 md5 hex chars of "key#seed")
        p = (
            f"pmod(cast(conv(substr(md5(concat_ws('#', "
            f"cast({col_name} as string), '{seed0 + i}')), 1, 15), 16, 10) "
            f"as bigint), {m_bits})"
        )
        preds.append(
            f"((shiftright(element_at({arr}, "
            f"cast(({p}) div 64 as int) + 1), "
            f"cast(pmod({p}, 64) as int)) & 1) = 1)"
        )
    return F.expr(" AND ".join(preds))


# ---------------------------------------------------------------------------
# Incremental view maintenance (algebraic delta refresh)
# ---------------------------------------------------------------------------


def ivm_refresh(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: tuple[str, ...] = (),
    sign_col: str = "_sign",
) -> DataFrame:
    """Refresh a count/sum materialized aggregate from a signed CDC
    delta WITHOUT rescanning the base data — the 100 TB refresh
    pattern: a day's changes are ~0.1% of the table, so the refresh
    cost must scale with the DELTA, not the view's source.

    ``base`` is the materialized view (keys + count_col + sum_cols);
    ``delta`` carries raw changed rows with ``sign_col`` = +1 (insert)
    / −1 (delete; an update is delete+insert). Count/sum are the
    self-maintainable aggregates (min/max are not — a deleted max
    needs the base data; that's why this operator fixes the measure
    algebra instead of taking arbitrary expressions).

    Plan: ONE partial-aggregated groupBy over the delta (delta-sized
    exchange), then a full outer join against the view keyed on the
    group — the view side is groups, not rows. Groups whose refreshed
    count reaches zero drop out, matching a recompute exactly.

    Measures must be INTEGRAL (the float-aggregate rule: float sums
    are addition-order-dependent, so a float refresh could never equal
    a recompute exactly) — enforced by raising on non-integral
    ``sum_cols`` rather than silently casting a truncated total.
    """
    _integral = ("byte", "short", "int", "integer", "bigint", "long")
    for c in sum_cols:
        for side in (base, delta):
            t = dict(side.dtypes).get(c)
            if t is not None and t not in _integral and not t.startswith(
                "decimal"
            ):
                raise ValueError(
                    f"ivm_refresh: sum column {c!r} has non-integral type "
                    f"{t}; exact delta maintenance requires integer or "
                    "decimal measures (float-aggregate rule)"
                )
    d_aggs = [
        F.sum(F.col(sign_col)).alias("_dn"),
        *[
            F.sum(F.col(sign_col) * F.col(c)).alias(f"_d_{c}")
            for c in sum_cols
        ],
    ]
    d = delta.groupBy(*keys).agg(*d_aggs)
    merged = base.join(d, keys, "full_outer")
    new_n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("_dn"), F.lit(0)
    )
    base_types = dict(base.dtypes)
    out_cols = [*keys, new_n.cast("long").alias(count_col)]
    for c in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(c), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            )
            # keep the view's measure type (long or decimal) — never
            # truncate through an unconditional long cast
            .cast(base_types.get(c, "long"))
            .alias(c)
        )
    return merged.select(*out_cols).where(F.col(count_col) != 0)


def audience_overlap(
    spark: SparkSession,
    sf_dir: str,
    bits_per_word: int = 62,
    scale: int = 10**6,
) -> DataFrame:
    """Pairwise audience-overlap matrix via PACKED BITMAPS (round 8):
    each event_type's distinct-user set becomes (word_idx, 62-bit
    mask) rows — the roaring-bitmap idea in pure relational form —
    and every pair's intersection is sum(bit_count(a & b)) over a
    word-keyed join. 62 bits per word, not 64: DuckDB's BIGINT ``<<``
    throws on bit 63 (measured) and bit 62 would make the OR'd mask
    negative; staying at 0..61 keeps every mask positive on both
    engines.

    Why bitmaps at 100 TB: the exchange after packing is
    |users|/62 words per group instead of |users| ids — a 64×
    compression of the set-intersection shuffle with exact (not
    sketched) answers; KMV/HLL cover the approximate regime, this
    covers the exact one. Jaccard ships as the integer-div ppm key
    (float rule).

    Plan: one distinct over (type, user), one partial-aggregated
    bit_or groupBy, a word-keyed self-join of word tables (a < b on
    the type), and a per-pair sum — nothing user-id-sized leaves the
    packing stage.

    Crossover closure (round 9, VERDICT r8 item 4): Spark is the
    engine FLOOR here — 3.4 s @R50 → 4.2 s @R200 → 5.1 s @R500 (50 M
    events) while the single-node side grows with the event count
    (0.15 → 0.33 → 0.90 s), ratio 23× → 12.7× → 5.7× monotonically;
    extrapolated crossing ~R2500 (BASELINE.md, RECORDED_R9_TIERS).
    The absolute cost is scan + two word-sized exchanges — there is no
    plan change that removes it, and at data-dominated scale the flat
    side wins by construction."""
    # NO distinct: bit_or is idempotent, so duplicate (type, user)
    # events fold into the same mask bit — the pre-pack distinct the
    # round-8 draft carried was a full extra exchange of (type, user)
    # rows for nothing (the streaming twin never had it)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    words = bitmap_words(ev, "event_type", "user_id", bits_per_word)
    return overlap_matrix(words, scale)


def bitmap_words(
    df: DataFrame,
    group_col: str,
    id_col: str,
    bits_per_word: int = 62,
) -> DataFrame:
    """Pack a (group, id) relation into (group, word_idx, mask) bitmap
    words via a bit_or aggregate. bit_or is IDEMPOTENT, so duplicate
    (group, id) arrivals don't need a distinct — which is exactly what
    makes this packing streamable (stream_audience_overlap maintains
    the words as streaming agg state with no dedup operator).

    Contract: ids must be NON-NEGATIVE — `div` truncates toward zero,
    so a negative id's (word_idx, bit) pairing would collide with a
    positive id's (e.g. -5 and +57 both land on word 0 bit 57). The
    shared test tables' ids satisfy this; re-base ids first if a
    source doesn't. The group column keeps the CALLER's name (ADVICE
    r8: the draft hardcoded "event_type", silently mislabeling any
    other group column)."""
    shift = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(pmod({id_col}, {bits_per_word}) as int))"
    )
    return (
        df.select(
            group_col,
            F.expr(f"{id_col} div {bits_per_word}").alias("word_idx"),
            shift.alias("_bit"),
        )
        .groupBy(group_col, "word_idx")
        .agg(F.bit_or("_bit").alias("mask"))
    )


# Absolute fan-out cap for sliding_audience's day-replication (VERDICT
# r8 item 5b): each word row exchanges window_days times, so the bound
# is an explicit contract, not a silent cost cliff.
MAX_SLIDING_WINDOW_DAYS = 31


def sliding_audience(
    spark: SparkSession,
    sf_dir: str,
    window_days: int = 7,
    bits_per_word: int = 62,
) -> DataFrame:
    """EXACT trailing-N-day distinct users per event_type and day
    (round 8) — the sliding COUNT(DISTINCT) that normally forces a
    re-scan per window, done in O(bitmap words): pack each day's users
    into 62-bit words (idempotent bit_or — no distinct), replicate
    each day-word to the N end-days it covers (explode of a 7-element
    sequence — bounded fan-out over the COMPACT word table, never the
    events), bit_or per (type, end-day, word), popcount-sum. Every
    exchange after the first carries word rows, not user ids; the
    approximate twin of this shape is the HLL rollup, this is the
    exact one.

    Same non-negative-id contract as bitmap_words.

    Cost bound (VERDICT r8): the coverage explode replicates each
    day-word ``window_days`` times before the second bit_or, so the
    exchanged volume is window_days × the compact word table — fine at
    a week, a 90-day window multiplies the word table 90×. The cap is
    CODE, not prose: windows past ``MAX_SLIDING_WINDOW_DAYS`` raise,
    pointing at ``sliding_audience_hll`` (the windowed register
    rollup, gated as sliding_audience_hll_90d), whose replicated rows
    are O(m registers) per type/day regardless of user count."""
    if window_days < 1 or window_days > MAX_SLIDING_WINDOW_DAYS:
        raise ValueError(
            f"sliding_audience: window_days={window_days} outside "
            f"[1, {MAX_SLIDING_WINDOW_DAYS}] — the day-fan-out "
            "replicates the word table window_days times; use the HLL "
            "register rollup for wide windows"
        )
    ev = load_table(spark, sf_dir, "events")
    shift = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(pmod(user_id, {bits_per_word}) as int))"
    )
    daily = (
        ev.select(
            "event_type",
            F.expr("cast(ts as long) div 86400").alias("day"),
            F.expr(f"user_id div {bits_per_word}").alias("w"),
            shift.alias("_bit"),
        )
        .groupBy("event_type", "day", "w")
        .agg(F.bit_or("_bit").alias("mask"))
    )
    max_day = daily.agg(F.max("day").alias("md"))
    cov = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("day_end"),
        "w",
        "mask",
    )
    wnd = (
        cov.crossJoin(F.broadcast(max_day))
        .where(F.col("day_end") <= F.col("md"))
        .groupBy("event_type", "day_end", "w")
        .agg(F.bit_or("mask").alias("m7"))
    )
    return (
        wnd.groupBy("event_type", "day_end")
        .agg(F.sum(F.bit_count("m7")).alias("n_users_7d"))
        .orderBy("event_type", "day_end")
    )


def overlap_matrix(
    words: DataFrame, scale: int = 10**6, group_col: str = "event_type"
) -> DataFrame:
    """Pairwise exact set-overlap matrix from packed bitmap words (see
    audience_overlap for the full contract); ``group_col`` names the
    words table's group column (ADVICE r8 — no hardcoded name)."""
    totals = words.groupBy(group_col).agg(
        F.sum(F.bit_count("mask")).alias("n_users")
    )
    a = words.select(
        F.col(group_col).alias("g_a"), "word_idx",
        F.col("mask").alias("mask_a"),
    )
    b = words.select(
        F.col(group_col).alias("g_b"), "word_idx",
        F.col("mask").alias("mask_b"),
    )
    inter = (
        a.join(b, "word_idx")
        .where(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(
            F.sum(
                F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
            ).alias("n_common")
        )
    )
    ta = totals.select(
        F.col(group_col).alias("g_a"), F.col("n_users").alias("n_a")
    )
    tb = totals.select(
        F.col(group_col).alias("g_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(ta), "g_a")
        .join(F.broadcast(tb), "g_b")
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            "n_common",
            (F.col("n_a") + F.col("n_b") - F.col("n_common")).alias(
                "n_union"
            ),
            F.expr(
                f"cast(n_common * {scale} div "
                "(n_a + n_b - n_common) as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (round 8): the
    gaps-and-islands classic — distinct active epoch-days, island id =
    day − row_number (constant within a consecutive run), then
    per-island lengths roll up to (n_active_days, n_streaks,
    longest_streak). One shuffle on user_id serves both the ordering
    window and the aggregates; day arithmetic is integer end-to-end
    (epoch seconds div 86400 — the dup-spans diagonal trick applied to
    calendar time)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr("cast(ts as long) div 86400").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "isl", F.col("day") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "isl").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


def event_trend_slopes(
    spark: SparkSession, sf_dir: str, scale: int = 10**6
) -> DataFrame:
    """Per-group OLS trend slope (round 8), integer-exact: for each
    event_type, the least-squares slope of floor(value·100) against
    epoch seconds, shipped as
    ``slope_num = n·Σxy − Σx·Σy`` over ``slope_den = n·Σx² − (Σx)²``
    plus the truncating quotient ``slope_ppm = slope_num·10^6 / den``
    (cents per million seconds). All sums ride DECIMAL(38,0) — per-row
    x² ≈ 2.3e18 would overflow a summed BIGINT within rows (ANSI
    throws; x·y gets the same both-operands-first cast, ADVICE r8 —
    x ≈ 9e8 would overflow a BIGINT product at |y| ≥ ~1e10), and the
    n·Σxy-scale terms reach ~1e24. The numerator can be NEGATIVE
    (falling trends), so the oracle divides sign-explicitly (the
    kmeans r7 CASE) and Spark uses decimal ``div`` — truncation on
    both engines, any version. A degenerate group (all events on one
    epoch second) zeroes the denominator: the quotient guards it with
    NULL on both engines (ADVICE r8) instead of an ANSI throw. The
    num/den columns SHIP as canonical digit strings — DECIMAL final
    columns value-hash differently in the driver environment (VERDICT
    r8 item 1), and they exceed any provable BIGINT bound.

    Plan: one partial-aggregated groupBy carrying five decimal sums;
    the slope algebra is a scalar projection on k rows."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    pts = ev.select(
        "event_type",
        F.col("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("y").cast(dec))).alias("sxy"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).alias("sxx"),
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n_points"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("string")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("string")
        .alias("slope_den"),
        F.expr(
            "case when (n * sxx - sx * sx) > 0 then "
            f"cast((n * sxy - sx * sy) * {scale} div "
            "(n * sxx - sx * sx) as bigint) end"
        ).alias("slope_ppm"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    vals: list[str],
) -> DataFrame:
    """Diff two materialized snapshots into a typed change set — the
    INVERSE of ``ivm_refresh`` (round 8): where the refresh applies a
    CDC delta to a view, this derives the delta by comparing state
    versions, the primitive behind snapshot-based CDC extraction,
    anti-entropy repair, and table-format incremental reads when no
    change log exists.

    Emits one row per changed key: op 'I' (only in ``new``), 'D'
    (only in ``old``), 'U' (present in both with any ``vals``
    difference; identical rows drop out). Value columns come out as
    ``old_<v>`` / ``new_<v>`` pairs (null on the absent side).

    Plan: ONE full-outer join keyed on the group — both inputs are
    snapshot-sized (views, not facts), presence is tracked by
    indicator literals so legitimately-NULL measures never
    misclassify, and the unchanged-row filter pushes below the
    projection. At 100 TB the snapshots co-partition on the key, so
    the join is the only exchange."""
    if not vals:
        raise ValueError(
            "snapshot_diff: need at least one value column (with no "
            "measures there is no 'U' to detect — diff the key sets "
            "with exceptAll instead)"
        )
    o = old.select(
        *keys,
        F.lit(1).alias("_in_old"),
        *[F.col(v).alias(f"old_{v}") for v in vals],
    )
    n = new.select(
        *keys,
        F.lit(1).alias("_in_new"),
        *[F.col(v).alias(f"new_{v}") for v in vals],
    )
    j = o.join(n, keys, "full_outer")
    changed = functools.reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"old_{v}").eqNullSafe(F.col(f"new_{v}"))
            for v in vals
        ],
    )
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("I"))
        .when(F.col("_in_new").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
    )
    return j.select(
        *keys,
        op.alias("op"),
        *[F.col(f"old_{v}") for v in vals],
        *[F.col(f"new_{v}") for v in vals],
    ).where(
        F.col("op").isin("I", "D") | changed
    )


_IVM_FIXTURE_CACHE: dict = {}


def ivm_customer_fixture_paths(
    spark, sf_dir: str, cutoff: str = "1999-01-01"
) -> tuple[str, str]:
    """Deterministic PRE-MATERIALIZED fixtures for the gated IVM
    refresh path (VERDICT r7 item 7): the per-customer (count,
    revenue-cents) view over pre-cutoff orders, and the signed CDC
    delta (post-cutoff inserts, cancelled pre-cutoff 'F' deletes) —
    written once per (session, source) and cached by the orders
    file's mtime+size fingerprint (the layout-cache discipline).  In
    the IVM story both already exist when the refresh runs: the view
    was materialized yesterday, the delta ARRIVES from CDC — so the
    gated `ivm_customer_refresh` plan is refresh-only, the operator
    the paying-regime table (tools/ivm_tier.py) actually times."""
    import os
    from distributed_computing_spark.caching import session_tmpdir

    from distributed_computing_spark.sources.catalog import load_table

    p = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(p)
        tag = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        tag = "missing"
    key = (id(spark), sf_dir, tag, cutoff)
    if key not in _IVM_FIXTURE_CACHE:
        o = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderdate",
            "o_orderstatus",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("revenue_cents"),
        )
        base_rows = o.where(F.col("o_orderdate") < F.lit(cutoff))
        view_dir = session_tmpdir(prefix="dcs_ivm_view_")
        delta_dir = session_tmpdir(prefix="dcs_ivm_delta_")
        base_rows.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("revenue_cents").alias("revenue_cents"),
        ).write.mode("overwrite").parquet(view_dir)
        (
            o.where(F.col("o_orderdate") >= F.lit(cutoff))
            .withColumn("_sign", F.lit(1))
            .unionByName(
                base_rows.where(F.col("o_orderstatus") == "F").withColumn(
                    "_sign", F.lit(-1)
                )
            )
            .select("o_custkey", "revenue_cents", "_sign")
            .write.mode("overwrite")
            .parquet(delta_dir)
        )
        _IVM_FIXTURE_CACHE[key] = (view_dir, delta_dir)
    return _IVM_FIXTURE_CACHE[key]


# ---------------------------------------------------------------------------
# Equi-depth histogram (two-level rank, no global sort)
# ---------------------------------------------------------------------------


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    id_col: str,
    nb: int = 10,
    pre_buckets: int = 64,
) -> DataFrame:
    """Exact equi-depth buckets of an integer value column WITHOUT a
    global sort: (tile, n_rows, lo, hi) where tile = floor(rank·nb/n)
    over the total order (value, id).

    The ``epoch_shuffle_index`` two-level rank generalized from hash
    order to VALUE order: deterministic equi-WIDTH pre-buckets from
    the broadcast min/max (the ``value_histogram`` discipline — no
    sampling, so the layout is reproducible) put rows in value order
    across buckets; per-bucket ranks plus broadcast cumulative bucket
    offsets compose to the exact global rank. The only data-scale
    exchange is the pre-bucket hash partition; a skewed value column
    concentrates rows in few pre-buckets (worst case one window
    partition carries the mode — the usual skew caveat, and why
    ``pre_buckets`` is a knob). A naive ``ntile() OVER (ORDER BY v)``
    funnels everything through ONE range-sort task at 100 TB.

    The tile rule is ``(rank·nb) div n`` on BOTH engines — simpler
    than SQL ntile's ceil-then-floor remainder split and identical in
    oracle SQL.
    """
    from pyspark.sql import Window

    t = df.select(F.col(id_col).alias("_id"), F.col(value_col).alias("_v"))
    row = t.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        raise ValueError("empty input")
    vmin, vmax = int(row["lo"]), int(row["hi"])
    width = max(1, (vmax - vmin) // pre_buckets + 1)
    t = t.withColumn("_b", F.expr(f"(_v - {vmin}L) div {width}L"))
    counts = t.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_rank = Window.partitionBy("_b").orderBy("_v", "_id")
    ranked = t.join(F.broadcast(offsets), "_b").select(
        "_v",
        (F.col("_off") + F.row_number().over(w_rank) - 1).alias("_rk"),
    )
    return (
        ranked.select(
            F.expr(f"CAST((_rk * {nb}L) div {n}L AS INT)").alias("tile"),
            "_v",
        )
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Round 9: rank statistics, digit-distribution audit, co-purchase cosine,
# SCD2 point-in-time lookup
# ---------------------------------------------------------------------------


def grouped_min_rank(
    df: DataFrame,
    group_col: str,
    val_col: str,
    out_col: str,
    pre_buckets: int = 256,
    bounds: tuple[int, int] | None = None,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Per-group MIN-RANK (SQL ``rank()`` semantics) WITHOUT the
    few-partitions window skew (round 9): ``rank() over (partition by
    g order by v)`` sorts each group in ONE task — with 3 groups and
    40 M rows each, three tasks do all the work (measured: spearman's
    draft window plan ran 25.9 s at R20 vs DuckDB's 5.3 s). The
    two-level decomposition (the orders_equidepth discipline applied
    to grouped ranking): bucket by value range, count per (g, bucket),
    prefix-sum the TINY count table into bucket offsets (broadcast
    back), then rank WITHIN (g, bucket) — parallelism becomes
    groups × buckets. Exact for min-rank because equal values always
    share a bucket: local rank() counts in-bucket smaller values, the
    offset counts prior buckets' rows.

    Cost shape: one bounded min/max collect, one row exchange on
    (g, bucket), one window over groups×buckets partitions. Appends
    ``out_col`` to df's columns.

    Composition contract: chaining two rankings makes the second
    call's count/offset branch re-evaluate the first call's window
    (the CLAUDE.md shared-subtree rule) — pass ``stats_df`` (any
    DataFrame with the same (group, val) ROWS, e.g. the pre-ranking
    base table) and ``bounds`` so the offset tables derive from cheap
    base-scan aggregates instead (spearman_qty_price is the worked
    example)."""
    stats = stats_df if stats_df is not None else df
    if bounds is None:
        b = stats.agg(
            F.min(val_col).alias("lo"), F.max(val_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if b["n"] == 0:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        bounds = (int(b["lo"]), int(b["hi"]))
    lo, hi = bounds
    width = max(1, (hi - lo) // pre_buckets + 1)
    bucket = F.expr(f"({val_col} - {lo}L) div {width}L")
    counts = (
        stats.select(group_col, bucket.alias("_gb"))
        .groupBy(group_col, "_gb")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_gb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        group_col,
        "_gb",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    w_rank = Window.partitionBy(group_col, "_gb").orderBy(val_col)
    return (
        df.withColumn("_gb", bucket)
        .join(F.broadcast(offsets), [group_col, "_gb"])
        .withColumn(out_col, F.col("_off") + F.rank().over(w_rank))
        .drop("_gb", "_off")
    )


def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Spearman rank correlation between l_quantity and
    l_extendedprice (round 9) — the monotone-association statistic a
    data-quality pass wants where Pearson is distorted by heavy tails.

    Integer-exact via the d² form over MIN-RANKS: both engines' RANK()
    assigns identical min-ranks to ties, d = rank_q − rank_p,
    ``rho_ppm = 10^6 − (6·Σd²·10^6) div (n·(n²−1))`` — the classic
    1 − 6Σd²/(n(n²−1)) quantized to ppm with truncating integer
    division on both engines. (With ties the d² form is a deterministic
    tie-aware VARIANT of Spearman's rho, not the tie-corrected Pearson
    form — the contract is the statistic's exact definition, same on
    both engines.) Σd² can reach n³ (~2.4e17 at sf0.1, past 2^63 at
    replica scale within the ·10^6 product), so it sums as
    DECIMAL(38,0) and SHIPS as the canonical digit string (the
    decimal-purge rule); rho_ppm stays a provably-bounded BIGINT
    (|rho_ppm| <= 2·10^6 by construction). Degenerate groups (n < 2,
    where n(n²−1)=0) yield NULL, never an ANSI throw.

    Plan (round-9 re-plan, measured): the draft ranked with two
    ``partition by l_returnflag`` windows — 3 groups ⇒ 3 sort tasks
    own all 12 M rows at R20 (25.9 s vs DuckDB 5.3 s, a real skew
    cliff, not engine overhead). Both ranks now come from
    ``grouped_min_rank``'s two-level bucketed decomposition
    (groups × 256 buckets of parallelism; bit-identical min-ranks,
    gate-proven), with ONE bounds collect and base-table offset scans
    shared across the two rankings — R20 measured 25.9 → ~7 s
    (RECORDED_R9_TIERS). The oracle keeps the plain rank() window
    (single-node engines parallelize their own sorts)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    # ONE bounded collect serves both rankings' bucket bounds, and both
    # offset tables derive from base-table scans (stats_df) — without
    # this the second ranking's count branch re-evaluates the first
    # ranking's window (shared-subtree rule).
    b = li.agg(
        F.min("q").alias("qlo"), F.max("q").alias("qhi"),
        F.min("p").alias("plo"), F.max("p").alias("phi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if b["n"] == 0:
        raise ValueError("empty lineitem input")
    ranked = grouped_min_rank(
        li, "l_returnflag", "q", "rq",
        bounds=(int(b["qlo"]), int(b["qhi"])), stats_df=li,
    )
    ranked = grouped_min_rank(
        ranked, "l_returnflag", "p", "rp",
        bounds=(int(b["plo"]), int(b["phi"])), stats_df=li,
    ).select("l_returnflag", "rq", "rp")
    dec = "decimal(38,0)"
    sums = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                (F.col("rq") - F.col("rp")).cast(dec)
                * (F.col("rq") - F.col("rp")).cast(dec)
            )
        ).alias("sum_d2"),
    )
    return sums.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.col("sum_d2").cast("string").alias("sum_d2"),
        F.expr(
            "case when n >= 2 then cast(1000000 - "
            "(6 * sum_d2 * 1000000) div "
            "(cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * "
            "cast(n as decimal(38,0)) - 1)) as bigint) end"
        ).alias("rho_ppm"),
    )


# Benford expected first-digit frequencies in ppm: floor(log10(1+1/d)
# * 1e6), precomputed once in Python and embedded as LITERALS in both
# engines' plans — no float log10 ever executes engine-side, so the
# gate compares pure integers.
BENFORD_PPM = {d: int((__import__("math").log10(1 + 1 / d)) * 10**6) for d in range(1, 10)}


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs
    Benford's law (round 9) — the fraud/data-quality screen: per digit
    1-9, the observed count, observed frequency in ppm (truncating
    integer division), and the signed deviation from the Benford
    expectation (embedded integer constants, see BENFORD_PPM).

    The first digit comes from the DIGIT STRING of the exact cent
    value (substr of a BIGINT's decimal rendering — identical on both
    engines; no float log10 in the digit extraction). One partial-
    aggregated groupBy on 9 keys; the total joins back as a broadcast
    1-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    # Filter non-positive amounts BEFORE the digit cast (ADVICE r9):
    # under ANSI mode, cast('-' as int) on a negative amount's leading
    # sign THROWS before any post-cast filter can drop it — the screen
    # must degrade to filtering, not fail the job. Mirrored in the
    # oracle's WHERE.
    digits = (
        orders.select(cents.alias("_c"))
        .where(F.col("_c") >= 1)
        .select(
            F.substring(F.col("_c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .where(F.col("digit") >= 1)
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counts.agg(F.sum("n_orders").alias("n_total"))
    expected = F.create_map(
        *[x for d, ppm in BENFORD_PPM.items() for x in (F.lit(d), F.lit(ppm))]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("cast(n_orders * 1000000 div n_total as bigint)").alias(
                "observed_ppm"
            ),
            (
                F.expr("cast(n_orders * 1000000 div n_total as bigint)")
                - expected[F.col("digit")]
            ).alias("deviation_ppm"),
        )
        .orderBy("digit")
    )


def copurchase_cosine(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = 3,
    scale: int = 10**6,
    max_broadcast_items: int = 2_000_000,
) -> DataFrame:
    """Item-item cosine similarity over co-purchase baskets (round 9) —
    the classic neighborhood-based recommender statistic:
    cos(a,b) = supp_ab / sqrt(supp_a · supp_b), shipped float-free as
    the monotone square ``cos2_ppm = supp_ab²·10^6 div (supp_a·supp_b)``
    (the quantized-rank rule — sqrt is monotone, so ranking by cos² is
    ranking by cosine). supp_ab²·10^6 <= (supp)²·10^6 stays under 2^63
    for supports below ~3e6 co-orders; the product rides DECIMAL and
    the output is a provably-bounded BIGINT (cos <= 1 so cos2_ppm <=
    10^6).

    Plan (round-9 re-plan): pair supports from the shared fused Arrow
    counter (basket_pair_counts — the join plan measured 11.0 s warm
    at R20, the fused pass 6.6 s, bit-identical); item supports are
    one distinct+count scan attached by broadcast — gated (ADVICE r9,
    the bigram_pmi max_broadcast_vocab rule) on an UPPER BOUND that
    costs no extra scan: distinct items <= |part| and a parquet count
    is metadata-only, so a web-scale item catalog falls back to a
    shuffle join instead of collecting to every executor."""
    from distributed_computing_spark.caching import track_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("item")
    )
    # Round-12 optimization (same motion as association_rules): ONE
    # persisted basket table serves the pair counter AND the item
    # supports — the r9 shape evaluated the support subtree TWICE
    # (once per join side: 2 extra lineitem scans + 2 full
    # (l_orderkey, item)-distinct exchanges, visible as operators
    # 13-21 and 25-33 in plans/r12/copurchase_cosine_before.txt).
    # collect_set already dedup'd within the order, so explode(_its)
    # is the distinct row set and the support rollup partial-
    # aggregates map-side from the cache; the support table itself is
    # item-sized, persisted so sa/sb share one evaluation.
    baskets = track_persist(order_baskets(li))
    pairs = pair_counts_from_baskets(baskets, min_count=min_count)
    supp = track_persist(
        baskets.select(F.explode("_its").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    sa = supp.select(F.col("item").alias("a"), F.col("supp").alias("supp_a"))
    sb = supp.select(F.col("item").alias("b"), F.col("supp").alias("supp_b"))
    supp_fits = table_rows(spark, sf_dir, "part") <= max_broadcast_items
    sa = F.broadcast(sa) if supp_fits else sa
    sb = F.broadcast(sb) if supp_fits else sb
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.col("n_orders").alias("supp_ab"),
            "supp_a",
            "supp_b",
            F.expr(
                f"cast(cast(n_orders as decimal(38,0)) * n_orders * {scale} "
                "div (cast(supp_a as decimal(38,0)) * supp_b) as bigint)"
            ).alias("cos2_ppm"),
        )
    )


def scd2_pointintime(
    spark: SparkSession, sf_dir: str, n_versions: int = 3
) -> DataFrame:
    """Point-in-time lookup against a type-2 dimension (round 9): each
    order probes the customer SCD2 history AT a version (probe_v = 1 +
    o_orderkey % n_versions, a deterministic stand-in for a
    transaction-time column) and takes the attribute row valid THEN —
    ``valid_from <= v AND (valid_to IS NULL OR valid_to > v)``. This is
    the temporal-join half of the SCD2 story: customer_scd2 builds the
    history, this consumes it the way a backfill or late-arriving-fact
    pipeline does. Rolled up to (probe_v, segment_at_time) counts +
    exact-decimal revenue (summed as DECIMAL, rounded while exact —
    the customer_upsert float rule).

    Plan: the history is dimension-sized, so the lookup is ONE
    size-gated BROADCAST hash join on c_custkey with the validity
    range as a residual filter — no shuffle of the fact side while the
    history fits (the dimension still scales with SF, so the gate
    falls back to a co-partitioned shuffle-hash join above the bound).
    Validity windows within a key never overlap (scd2_apply closes
    before it appends), so the join is at-most-one-row per probe and
    needs no tie-break."""
    from distributed_computing_spark.operators.joins import gated_broadcast
    from distributed_computing_spark.registry import customer_scd2

    dim = customer_scd2(spark, sf_dir)
    # history rows <= n_versions x |customer| (v1 covers every customer;
    # upgrade/churn versions are subsets) - a footer-only upper bound
    n_hist_bound = table_rows(spark, sf_dir, "customer") * n_versions
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        (1 + F.col("o_orderkey") % n_versions).alias("probe_v"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    hit = orders.join(
        gated_broadcast(dim, n_hist_bound),
        on=[
            orders["c_custkey"] == dim["c_custkey"],
            dim["valid_from"] <= orders["probe_v"],
            dim["valid_to"].isNull() | (dim["valid_to"] > orders["probe_v"]),
        ],
    )
    return (
        hit.groupBy("probe_v", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("decimal(38,2)").alias("_rev"),
        )
        .select(
            "probe_v",
            "segment",
            "n_orders",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
        )
        .orderBy("probe_v", "segment")
    )


def sliding_hll_registers(
    spark: SparkSession,
    sf_dir: str,
    window_days: int = 90,
    m: int = 64,
    seed: int = 0,
) -> DataFrame:
    """The merged trailing-window register table behind
    ``sliding_audience_hll``: (event_type, day_end, register, mr) —
    exposed so the client-side cardinality estimate (and its
    error-bound test against the exact bitmap count) can read the full
    sketch, while the GATED query ships only the integer digest."""
    from distributed_computing_spark.operators.dedup import md5_hash60

    if m & (m - 1) != 0:
        raise ValueError("m must be a power of two")
    bits = 60 - (m.bit_length() - 1)
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.expr("cast(ts as long) div 86400").alias("day"),
        md5_hash60(F.col("user_id").cast("string"), seed).alias("_h"),
    )
    rest = F.expr(f"_h div {m}")
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits + 1) - F.length(F.bin(rest))
    )
    daily = (
        hashed.select(
            "event_type",
            "day",
            F.pmod(F.col("_h"), F.lit(m)).alias("register"),
            rank.cast("long").alias("rank"),
        )
        .groupBy("event_type", "day", "register")
        .agg(F.max("rank").alias("max_rank"))
    )
    max_day = daily.agg(F.max("day").alias("md"))
    cov = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("day_end"),
        "register",
        "max_rank",
    )
    return (
        cov.crossJoin(F.broadcast(max_day))
        .where(F.col("day_end") <= F.col("md"))
        .groupBy("event_type", "day_end", "register")
        .agg(F.max("max_rank").alias("mr"))
    )


def hll_estimate(registers: dict[int, int], m: int = 64) -> float:
    """Client-side HLL cardinality estimate from a {register: max_rank}
    dict (float stays OUT of any gated output — the float rule): the
    classic harmonic-mean form with the small-range linear-counting
    correction. Used by tests to bound the windowed rollup's error
    against the exact bitmap count."""
    import math

    alpha = 0.709  # m = 64
    s = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    est = alpha * m * m / s
    zeros = m - len(registers)
    if est <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return est


def sliding_audience_hll(
    spark: SparkSession,
    sf_dir: str,
    window_days: int = 90,
    m: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Trailing-N-day audience per event_type via WINDOWED HLL REGISTER
    ROLLUP (round 9) — the wide-window path sliding_audience's
    MAX_SLIDING_WINDOW_DAYS cap points at: the exact bitmap fan-out
    costs window_days × the WORD table (users/62 rows per day), while
    this costs window_days × the REGISTER table (<= m rows per
    type/day, a CONSTANT) — a 90-day window replicates at most
    types·m·days tiny rows regardless of user count, because HLL merge
    is elementwise max and max is distributive over the day coverage.

    Gated output is the merged sketch's INTEGER digest per (type,
    day_end): registers hit, Σmax_rank, max max_rank — deterministic
    on both engines (the md5_hash60 register family); the float
    cardinality estimate stays client-side (float rule), bounded
    against the exact bitmap count in tests at a window where both are
    computable."""
    wnd = sliding_hll_registers(spark, sf_dir, window_days, m, seed)
    return (
        wnd.groupBy("event_type", "day_end")
        .agg(
            F.count(F.lit(1)).alias("n_registers"),
            F.sum("mr").alias("sum_rank"),
            F.max("mr").alias("max_rank"),
        )
        .orderBy("event_type", "day_end")
    )


def weighted_median_price(
    spark: SparkSession, sf_dir: str, pre_buckets: int = 256
) -> DataFrame:
    """Exact GROUPED WEIGHTED MEDIAN without a per-group sort (round
    9): per o_orderpriority, the lower weighted median of the order's
    exact cent price, weighted by the order's lineitem count — the
    smallest v with 2·cumweight(v) >= W. ``percentile()`` needs a
    per-group sort that lands each group in one task (the spearman
    skew cliff); this is the two-level decomposition applied to a
    CUMULATIVE threshold: (1) per-(group, value) weight sums, (2) a
    TINY (group, bucket) weight table, prefix-summed and broadcast,
    locates each group's crossing bucket, (3) only the crossing
    bucket's values (one bucket per group) are cumulated locally.
    Every full-data exchange is a partial-aggregated groupBy; the only
    window over row data is confined to one bucket per group.

    Output is integer-exact: (priority, w_total, median_cents)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # shuffle-HASH hint on the fact⋈fact weight join (the
    # regional_revenue precedent: skip both sort legs; measured
    # 6.0 -> 5.3 s warm at R100 on the join+agg prefix)
    wts = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("wt")
    ).hint("shuffle_hash")
    rows = orders.join(wts, "o_orderkey").select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
        "wt",
    )
    # persist the (g, v) weight table: THREE consumers (bounds, bucket
    # sums, the crossing-bucket local pass) would otherwise re-run the
    # fact join each (the shared-subtree rule — measured 18.3 s at
    # R100 unpersisted vs ~7 s with the join evaluated once); it is
    # bounded by groups × distinct cent values, far below the fact
    from distributed_computing_spark.caching import track_persist

    vw = track_persist(rows.groupBy("g", "v").agg(F.sum("wt").alias("wt")))
    local = grouped_weighted_median(vw, pre_buckets=pre_buckets)
    return local.select(
        F.col("g").alias("priority"),
        "w_total",
        F.col("median_v").alias("median_cents"),
    ).orderBy("priority")


def grouped_weighted_median(
    vw: DataFrame, pre_buckets: int = 256
) -> DataFrame:
    """The two-level lower-weighted-median CORE over a pre-aggregated
    (g, v, wt) table (weighted_median_price's machinery, extracted so
    robust statistics can call it twice): returns (g, w_total,
    median_v) where median_v = smallest v with 2·cumweight >= W.
    Callers should persist ``vw`` if it is expensive — this plan
    consumes it three times (bounds, bucket sums, crossing pass)."""
    return grouped_weighted_quantile(vw, 500, pre_buckets).select(
        "g", "w_total", F.col("q_v").alias("median_v")
    )


def grouped_weighted_quantile(
    vw: DataFrame, q_permille: int = 500, pre_buckets: int = 256
) -> DataFrame:
    """Exact lower WEIGHTED QUANTILE per group over a pre-aggregated
    (g, v, wt) table — the two-level no-global-sort decomposition
    generalized from the median (q_permille = 500) to any q:
    ``q_v = smallest v with 1000·cumweight >= q_permille·W`` (all
    integer comparisons, truncation-free on both engines). The bucket
    prefix (tiny) locates each group's crossing bucket; only that
    bucket's values cumulate locally. Returns (g, w_total, q_v).

    Single-q convenience wrapper over the fused multi-q core — one
    definition, so they cannot drift."""
    return grouped_weighted_quantiles_multi(
        vw, [q_permille], pre_buckets
    ).select("g", "w_total", "q_v")


def grouped_weighted_quantiles_multi(
    vw: DataFrame, qs: list[int], pre_buckets: int = 256
) -> DataFrame:
    """ALL requested q-permille quantiles in ONE two-level pass (round
    10): the bucket-weight prefix table is q-independent, so computing
    P50/P90/P99 as three separate passes pays the bucket windows and
    their stage scheduling three times over the same cached weight
    table — measured 5.3 s of pass overhead vs 4.1 s for the whole
    15 M-row scan at R100. Here each q picks its crossing bucket from
    the SAME prefix table (a literal q-array explode over the tiny
    groups×buckets frame), the crossing list broadcasts once, and the
    local cumulate windows over (g, q) — within one (g, q) partition
    every row comes from that q's single crossing bucket, so the
    per-q semantics are exactly the single-pass definition's.
    Returns (g, q, w_total, q_v), one row per group per q."""
    qs = sorted(set(int(q) for q in qs))
    if not qs or not all(0 < q <= 1000 for q in qs):
        raise ValueError("each q_permille must be in (0, 1000]")
    b = vw.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    if b["lo"] is None:
        raise ValueError("empty input to grouped_weighted_quantile")
    lo, hi = int(b["lo"]), int(b["hi"])
    width = max(1, (hi - lo) // pre_buckets + 1)
    vb = vw.withColumn("_b", F.expr(f"(v - {lo}L) div {width}L"))
    bw = vb.groupBy("g", "_b").agg(F.sum("wt").alias("bw"))
    w_off = (
        Window.partitionBy("g")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("g")
    pre = bw.select(
        "g",
        "_b",
        F.coalesce(F.sum("bw").over(w_off), F.lit(0)).alias("cum_before"),
        (F.coalesce(F.sum("bw").over(w_off), F.lit(0)) + F.col("bw")).alias(
            "cum_incl"
        ),
        F.sum("bw").over(w_tot).alias("w_total"),
    )
    # each q's crossing bucket: first bucket whose inclusive cum reaches
    # that q's weight threshold (tiny frame: groups x buckets x |qs|)
    crossing = (
        pre.withColumn("q", F.explode(F.array(*[F.lit(q) for q in qs])))
        .where(
            (1000 * F.col("cum_incl") >= F.col("q") * F.col("w_total"))
            & (1000 * F.col("cum_before") < F.col("q") * F.col("w_total"))
        )
        .select("g", "_b", "q", "cum_before", "w_total")
    )
    w_local = Window.partitionBy("g", "q").orderBy("v")
    return (
        vb.join(F.broadcast(crossing), ["g", "_b"])
        .withColumn(
            "cum", F.col("cum_before") + F.sum("wt").over(w_local)
        )
        .where(1000 * F.col("cum") >= F.col("q") * F.col("w_total"))
        .groupBy("g", "q", "w_total")
        .agg(F.min("v").alias("q_v"))
    )


def order_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact grouped P50/P90/P99 (round 9): per o_orderpriority, the
    lower quantiles of exact cent prices — the exact, no-global-sort
    counterpart of revenue_percentiles' float ``percentile()`` (whose
    per-group sort is the spearman skew cliff). One persisted (g, v,
    count) table feeds the FUSED multi-q pass (round-10 re-plan: the
    three separate grouped_weighted_quantile passes paid 5.3 s of
    bucket-window + scheduling overhead vs 4.1 s for the entire
    15 M-row scan at R100; grouped_weighted_quantiles_multi computes
    the shared bucket prefix once and windows the crossing buckets for
    all three q's in one shot — measured 9.3 → 5.6 s at R100,
    bit-identical); the row-data window stays confined to one bucket
    per (group, q)."""
    from distributed_computing_spark.caching import track_persist

    orders = load_table(spark, sf_dir, "orders")
    vw = track_persist(
        orders.select(
            F.col("o_orderpriority").alias("g"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    m = grouped_weighted_quantiles_multi(vw, [500, 900, 990])
    return (
        m.groupBy("g", "w_total")
        .agg(
            F.min(F.when(F.col("q") == 500, F.col("q_v"))).alias(
                "p50_cents"
            ),
            F.min(F.when(F.col("q") == 900, F.col("q_v"))).alias(
                "p90_cents"
            ),
            F.min(F.when(F.col("q") == 990, F.col("q_v"))).alias(
                "p99_cents"
            ),
        )
        .select(
            F.col("g").alias("priority"),
            F.col("w_total").alias("n_orders"),
            "p50_cents",
            "p90_cents",
            "p99_cents",
        )
        .orderBy("priority")
    )


def robust_price_outliers(
    spark: SparkSession, sf_dir: str, k_milli: int = 4448
) -> DataFrame:
    """MAD-based ROBUST outlier screen per order status (round 9) —
    the heavy-tail twin of the z-score ``price_outliers``: median and
    median-absolute-deviation are breakdown-50% statistics a single
    corrupt feed can't drag the way it drags mean/stddev. Flags rows
    with ``1000·|x − med| > k_milli·MAD`` (k_milli = 4448 ≈
    3·1.4826·1000, the 3σ-equivalent under normality) — all exact
    integer cents, no float ever compares. Emits per status: n_orders,
    median_cents, mad_cents, n_outliers.

    Plan: two grouped_weighted_median passes (each the two-level
    no-global-sort decomposition) over persisted (g, v, count) tables;
    the medians broadcast back onto the order scan for the deviation
    pass and the final flag count — the fact never shuffles."""
    from distributed_computing_spark.caching import track_persist

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderstatus").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vw1 = track_persist(
        c.groupBy("g", "v").agg(F.count(F.lit(1)).alias("wt"))
    )
    med = grouped_weighted_median(vw1).select(
        "g", F.col("median_v").alias("med")
    )
    dev = vw1.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("v"), "wt"
    )
    vw2 = track_persist(dev.groupBy("g", "v").agg(F.sum("wt").alias("wt")))
    mad = grouped_weighted_median(vw2).select(
        "g", F.col("median_v").alias("mad")
    )
    flagged = (
        vw1.join(F.broadcast(med), "g")
        .join(F.broadcast(mad), "g")
        .groupBy("g", "med", "mad")
        .agg(
            F.sum("wt").alias("n_orders"),
            F.sum(
                F.when(
                    1000 * F.abs(F.col("v") - F.col("med"))
                    > k_milli * F.col("mad"),
                    F.col("wt"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )
    return flagged.select(
        F.col("g").alias("status"),
        "n_orders",
        F.col("med").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
        "n_outliers",
    ).orderBy("status")


def cusum_positive(
    df: DataFrame, group_col: str, order_col: str, x_col: str
) -> DataFrame:
    """Positive-part CUSUM per group — the change-detection recurrence
    ``s_i = max(0, s_{i-1} + x_i)`` (Page 1954), folded to a CLOSED
    window form: ``s_i = P_i − min(0, min_{j≤i} P_j)`` where ``P`` is
    the running prefix sum. Proof sketch: the running min of ``P``
    records exactly the total the clamp has discarded so far — both
    sides satisfy the base case and the recurrence by induction, so a
    non-linear sequential fold becomes TWO stacked window sums over ONE
    exchange on ``group_col``; no per-group Python state, no iterative
    job, exact for integer ``x``.

    Scale contract: the input must be a pre-aggregated series table
    (|groups| × |time buckets| rows, e.g. per-type daily counts), never
    a raw fact table — a low-cardinality ``group_col`` over fact rows
    is the round-9 sort-cliff shape (CLAUDE.md); aggregate first, then
    CUSUM the series.

    Tie contract (ADVICE r10): ``(group_col, order_col)`` must be
    UNIQUE per row — the window orders by ``order_col`` alone with a
    ROWS frame, so duplicate order keys within a group make both the
    prefix sum and the running min depend on an arbitrary tie order.
    A pre-aggregated series satisfies this by construction (one row
    per (group, bucket)); callers with duplicate buckets must sum
    ``x_col`` per bucket first.

    Returns ``df`` plus a ``cusum`` column (long).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = df.withColumn("_cusum_p", F.sum(x_col).over(w).cast("long"))
    return pre.withColumn(
        "cusum",
        F.col("_cusum_p")
        - F.least(F.min("_cusum_p").over(w), F.lit(0).cast("long")),
    ).drop("_cusum_p")


MAX_THEILSEN_DAYS = 366


def events_theilsen(
    spark: SparkSession, sf_dir: str, bucket_days: int | None = None
) -> DataFrame:
    """Theil–Sen ROBUST trend per event type (round 10): the median of
    all pairwise slopes (c_j − c_i)/(day_j − day_i) over the daily
    count series — breakdown-29% where the OLS event_trend_slopes is
    breakdown-0 (one corrupt feed day drags a least-squares line but
    not the slope median). Fully exact: the median PAIR is selected by
    (float slope, dy, dx) — the float is the same IEEE division of the
    same two BIGINTs on both engines, ties close under the integer
    suffix, and equal-key collisions ship equal values — and the
    output is the pair's exact (med_dy, med_dx); NO integer division
    ever runs (no engine `//` semantics can enter).

    Scale contract: the pair fan-out is D² PER GROUP over the tiny
    (type × bucket) series table. A span past MAX_THEILSEN_DAYS no
    longer throws (VERDICT r10 item 4): the series AUTO-COARSENS to
    the smallest 7^k-day bucket whose count fits the cap (weeks, then
    7-week blocks, ...), counts summing per bucket and ``dx`` staying
    in exact DAYS (bucket index × bucket_days — a uniform positive
    scaling, so slope ordering and the median pair are the bucketed
    series' exact Theil–Sen). ``bucket_days`` forces a width for
    testing; the ≤366-day daily path is bit-identical to round 10's.
    The daily rollup PERSISTS once and serves the span probe and both
    self-join aliases (ADVICE r10: unpersisted it re-scanned the
    events fact three times)."""
    from distributed_computing_spark.caching import track_persist

    ev = load_table(spark, sf_dir, "events")
    daily = track_persist(
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "d", F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long")
        )
    )
    if bucket_days is None:
        b0 = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).collect()[0]
        bucket_days = 1
        if b0["lo"] is not None:
            span = int(b0["hi"]) - int(b0["lo"]) + 1
            while (span + bucket_days - 1) // bucket_days > MAX_THEILSEN_DAYS:
                bucket_days *= 7
    if bucket_days == 1:
        series = daily.select("event_type", F.col("d").alias("x"), "c")
    else:
        # floor-aligned bucket index: the numerator is an exact multiple
        # of bucket_days, so truncating `div` equals floor even if d<0
        series = daily.groupBy(
            "event_type",
            F.expr(
                f"(d - pmod(d, {bucket_days})) div {bucket_days}"
            ).alias("x"),
        ).agg(F.sum("c").alias("c"))
    a, b = series.alias("a"), series.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("b.c") - F.col("a.c")).alias("dy"),
        ((F.col("b.x") - F.col("a.x")) * bucket_days)
        .cast("long")
        .alias("dx"),
    )
    w = Window.partitionBy("event_type").orderBy(
        (F.col("dy").cast("double") / F.col("dx").cast("double")),
        "dy",
        "dx",
    )
    ranked = pairs.select(
        "event_type",
        "dy",
        "dx",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_pairs"),
    )
    return (
        ranked.where(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            "n_pairs",
            F.col("dy").alias("med_dy"),
            F.col("dx").alias("med_dx"),
        )
        .orderBy("event_type")
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with EXACT quintile thresholds (round 10):
    recency (days since last order, vs the global max order date),
    frequency (order count), monetary (exact cent spend) per buying
    customer; each metric scored 1–5 against its own exact lower
    P20/P40/P60/P80 — computed by ONE grouped_weighted_quantiles_multi
    pass with the METRIC NAME as the group (the quantile core's
    two-level decomposition makes the 3-group shape safe — this is
    exactly the few-groups input the bare percentile() sort cliff
    punishes). Scores are tie-stable and integer-exact: score = 1 +
    #{thresholds strictly below the value} — no ntile (whose ties are
    ORDER-dependent), no float.

    Output: (r_score, f_score, m_score, n_customers) — the segment
    histogram."""
    orders = load_table(spark, sf_dir, "orders")
    from distributed_computing_spark.caching import track_persist

    ref = orders.agg(F.max("o_orderdate").alias("rd"))
    cm = track_persist(
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("rd"), F.max("o_orderdate"))
            .cast("long")
            .alias("r"),
            F.count(F.lit(1)).alias("f"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "m"
            ),
        )
    )
    lng = cm.select(
        F.explode(
            F.array(
                F.struct(F.lit("R").alias("g"), F.col("r").alias("v")),
                F.struct(F.lit("F").alias("g"), F.col("f").alias("v")),
                F.struct(F.lit("M").alias("g"), F.col("m").alias("v")),
            )
        ).alias("e")
    ).select("e.g", "e.v")
    vw = lng.groupBy("g", "v").agg(F.count(F.lit(1)).alias("wt"))
    th = grouped_weighted_quantiles_multi(vw, [200, 400, 600, 800]).select(
        "g", F.col("q_v").alias("t")
    )
    # 12-row threshold table -> one broadcast row of per-metric arrays
    score = lambda col, ts: (  # noqa: E731 — local scoring expression
        F.lit(1)
        + F.aggregate(
            ts,
            F.lit(0),
            lambda acc, t: acc + F.when(col > t, 1).otherwise(0),
        )
    )
    thr = (
        th.groupBy()
        .pivot("g", ["R", "F", "M"])
        .agg(F.sort_array(F.collect_list("t")))
        # Spark resolves column names case-insensitively by default, so
        # the pivot columns R/F/M would be ambiguous against cm's r/f/m
        # after the cross join — rename before joining.
        .select(
            F.col("R").alias("t_r"),
            F.col("F").alias("t_f"),
            F.col("M").alias("t_m"),
        )
    )
    scored = cm.crossJoin(F.broadcast(thr)).select(
        score(F.col("r"), F.col("t_r")).cast("long").alias("r_score"),
        score(F.col("f"), F.col("t_f")).cast("long").alias("f_score"),
        score(F.col("m"), F.col("t_m")).cast("long").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


def events_dow_anomalies(
    spark: SparkSession, sf_dir: str, k_milli: int = 4448
) -> DataFrame:
    """Seasonality-robust anomaly days (round 10): a Monday is only
    anomalous against OTHER MONDAYS — per (type, day-of-week) lower
    median of the daily count (the weekly-seasonal baseline), residual
    |c − med_dow|, flagged against the per-type MAD of those residuals
    (``1000·resid > k_milli·MAD``, k = 4448 ≈ 3σ-equivalent — the
    robust_price_outliers constant). The z-score event_anomalies
    breaks on weekly rhythm (every weekend flags); this is its
    breakdown-50% seasonal twin, all exact integers.

    Day-of-week is epoch-day mod 7 on BOTH engines — never the
    engines' dayofweek() (DuckDB 0-based vs Spark 1-based, the
    CLAUDE.md gap). Both median passes ride grouped_weighted_median
    (two-level, no per-group sort); the day-level series table
    persists once and serves the baseline, deviation AND flag passes.
    The (type, dow) group rides the median core as a STRUCT key, never
    a delimiter-joined string (ADVICE r10: a '#'-bearing event_type
    silently merged two groups while the oracle grouped by the real
    columns — the merkle delimiter-ambiguity class; adversarial test
    in test_round11_ops)."""
    from distributed_computing_spark.caching import track_persist

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    d2 = track_persist(
        daily.withColumn(
            "dow",
            F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")), 7).cast(
                "long"
            ),
        )
    )
    vw1 = (
        d2.select(
            F.struct("event_type", "dow").alias("g"),
            F.col("c").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    med = grouped_weighted_median(vw1).select(
        F.col("g")["event_type"].alias("event_type"),
        F.col("g")["dow"].alias("dow"),
        F.col("median_v").alias("med_dow"),
    )
    dev = track_persist(
        d2.join(F.broadcast(med), ["event_type", "dow"]).select(
            "event_type",
            "day",
            "c",
            "med_dow",
            F.abs(F.col("c") - F.col("med_dow")).alias("resid"),
        )
    )
    vw2 = dev.select(
        F.col("event_type").alias("g"), F.col("resid").alias("v")
    ).groupBy("g", "v").agg(F.count(F.lit(1)).alias("wt"))
    mad = grouped_weighted_median(vw2).select(
        F.col("g").alias("event_type"), F.col("median_v").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(1000 * F.col("resid") > k_milli * F.col("mad"))
        .select("event_type", "day", "c", "med_dow", "resid")
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Round 11 (late): exact two-sample distribution drift (Kolmogorov–Smirnov)
# ---------------------------------------------------------------------------


def ks_two_sample_vs_rest(
    df: DataFrame,
    group_col: str,
    val_col: str,
    pre_buckets: int = 256,
    max_groups: int = 64,
) -> DataFrame:
    """Exact per-group two-sample Kolmogorov–Smirnov statistic: each
    group's empirical value distribution against the COMPLEMENT (all
    other rows) — the distribution-drift audit ("did the returned
    population's prices drift from everything else?") that mean/median
    deltas miss and a z-test gets wrong on heavy tails.

    Integer-exact: with cumulative counts c_g(v) (rows of group g with
    value <= v) and C(v) = sum_g c_g(v), the KS numerator for group g
    is ``d_num = max_v |c_g(v)·n_rest − (C(v) − c_g(v))·n_g|`` and
    D = d_num / (n_g·n_rest). The sup over the two step CDFs is
    attained at a data point evaluated inclusively, so the max over
    distinct values is the exact statistic. d_num rides DECIMAL(38,0)
    internally (c·n reaches n²/4 — past 2^63 beyond ~R25000) and SHIPS
    as the canonical digit string; ``ks_ppm = (d_num·10^6) div
    (n_g·n_rest)`` is a provably-bounded BIGINT (<= 10^6). A
    single-group input (n_rest = 0) yields NULL ks_ppm, never an ANSI
    divide error.

    Plan (the grouped_min_rank discipline — no global-sort window):
    ONE fact exchange builds the distinct-value table with G
    conditional per-group counts (partial-aggregated map-side); the
    per-group cumulatives come from range BUCKETS — per-bucket sums
    aggregate straight off the BASE frame (a second map-side-combined
    fact scan, consciously cheaper than persisting the distinct-value
    table — the stats_df motion), prefix-summed into a tiny
    B×G offset table (window over <= pre_buckets rows) that broadcasts
    back, then ONE window partitioned by (bucket) accumulates within
    buckets: parallelism = pre_buckets, never a single-task
    ORDER BY v window. The final per-group max is a partial-aggregated
    1-row global aggregate; group fan-out happens on that 1-row frame
    (explode of G structs — trivially bounded). Exchanged rows after
    the fact scans carry (v, G longs) only.

    Bounded collects: the group domain (<= max_groups, asserted — this
    is a LOW-cardinality drift audit by contract) and the (lo, hi, n)
    bounds row. No reference analog (SURVEY §2.8 — relational/statistic
    surface beyond the reference's KV model).
    """
    # ONE setup pass (round-12 optimization: the group census and the
    # value bounds were two separate fact aggregates — the global
    # min/max is exactly the min/max over per-group bounds, so both
    # ride one bounded collect): <= max_groups rows to the driver.
    tot_rows = (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(val_col).alias("_lo"),
            F.max(val_col).alias("_hi"),
        )
        .collect()
    )
    if len(tot_rows) > max_groups:
        raise ValueError(
            f"ks_two_sample_vs_rest: {len(tot_rows)} groups exceeds "
            f"max_groups={max_groups} — this operator fans the group "
            "domain into per-group count columns and is meant for "
            "low-cardinality drift audits"
        )
    groups = sorted((r[0], int(r["n"])) for r in tot_rows)
    if not groups:
        return df.sparkSession.createDataFrame(
            [],
            f"{group_col} string, n_group long, n_rest long, "
            "d_num string, ks_ppm long",
        )
    n_tot = sum(n for _, n in groups)
    lo = min(int(r["_lo"]) for r in tot_rows)
    hi = max(int(r["_hi"]) for r in tot_rows)
    width = max(1, (hi - lo) // pre_buckets + 1)
    bucket = F.expr(f"({val_col} - {lo}L) div {width}L")
    gi = list(range(len(groups)))
    conds = [
        F.sum(
            F.when(F.col(group_col) == F.lit(g), 1).otherwise(0)
        ).cast("long").alias(f"_c{i}")
        for i, (g, _) in enumerate(groups)
    ]
    # fact exchange 1: the distinct-value table with per-group counts
    vc = (
        df.select(F.col(val_col).alias("_v"), group_col)
        .groupBy("_v")
        .agg(*conds)
        .withColumn("_kb", F.expr(f"(_v - {lo}L) div {width}L"))
    )
    # per-bucket sums straight off the BASE frame (map-side combined;
    # avoids re-evaluating vc's exchange from two consumers)
    bconds = [
        F.sum(
            F.when(F.col(group_col) == F.lit(g), 1).otherwise(0)
        ).cast("long").alias(f"_s{i}")
        for i, (g, _) in enumerate(groups)
    ]
    bsums = (
        df.select(bucket.alias("_kb"), group_col)
        .groupBy("_kb")
        .agg(*bconds)
    )
    w_off = Window.orderBy("_kb").rowsBetween(
        Window.unboundedPreceding, -1
    )  # over <= pre_buckets rows — tiny by construction
    offsets = bsums.select(
        "_kb",
        *[
            F.coalesce(F.sum(f"_s{i}").over(w_off), F.lit(0)).alias(
                f"_o{i}"
            )
            for i in gi
        ],
    )
    w_run = Window.partitionBy("_kb").orderBy("_v")
    cum = vc.join(F.broadcast(offsets), "_kb").select(
        "_v",
        *[
            (F.col(f"_o{i}") + F.sum(F.col(f"_c{i}")).over(w_run)).alias(
                f"_f{i}"
            )
            for i in gi
        ],
    )
    call = functools.reduce(
        lambda a, b: a + b, [F.col(f"_f{i}") for i in gi]
    )
    dec = "decimal(38,0)"
    diffs = [
        F.max(
            F.abs(
                F.col(f"_f{i}").cast(dec)
                * F.lit(n_tot - n).cast(dec)
                - (call - F.col(f"_f{i}")).cast(dec) * F.lit(n).cast(dec)
            )
        ).alias(f"_d{i}")
        for i, (_, n) in enumerate(groups)
    ]
    one = cum.agg(*diffs)  # 1 row, G decimal columns
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"),
                        F.lit(n).cast("long").alias("n_group"),
                        F.lit(n_tot - n).cast("long").alias("n_rest"),
                        F.col(f"_d{i}").alias("_d"),
                    )
                    for i, (g, n) in enumerate(groups)
                ]
            )
        ).alias("s")
    ).select("s.*")
    return rows.select(
        F.col("g").alias(group_col),
        "n_group",
        "n_rest",
        F.col("_d").cast("string").alias("d_num"),
        F.when(
            F.col("n_rest") > 0,
            F.expr(
                "cast((_d * cast(1000000 as decimal(38,0))) div "
                "(cast(n_group as decimal(38,0)) * "
                "cast(n_rest as decimal(38,0))) as bigint)"
            ),
        ).alias("ks_ppm"),
    )


def ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price-distribution drift (round 11): the exact
    two-sample KS statistic of each return flag's l_extendedprice
    distribution (cents) against all other lineitems — the audit that
    answers "are returned items priced differently?" with the full-CDF
    statistic instead of a moment. See ks_two_sample_vs_rest for the
    exactness argument and the bucketed no-global-sort plan; the
    returnflag domain (3 values, bounded by the data dictionary) is
    the bounded group collect."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    return ks_two_sample_vs_rest(li, "l_returnflag", "v").orderBy(
        "l_returnflag"
    )


def events_lag_autocorr(
    spark: SparkSession, sf_dir: str, lags: tuple[int, ...] = (1, 7)
) -> DataFrame:
    """Per-type LAG AUTOCORRELATION of the daily event-count series
    (round 11): for each lag L, the Spearman rank correlation between
    day d's count and day d+L's count over all day pairs where both
    days exist — the seasonality detector that complements the family
    (events_dow_anomalies assumes the weekly rhythm; this MEASURES it:
    lag-7 rho high ⇒ weekly structure; lag-1 high ⇒ momentum/trend).
    Rank correlation, not Pearson: exact in integers at ANY data scale
    because ranks (not counts) enter the statistic — Pearson's
    n·Σxy − Σx·Σy square overflows every fixed-width type at large
    replica tiers, while Σd² <= n³ stays comfortably in BIGINT·10^6
    for any realistic day count (n days, not rows).

    Semantics pinned for exactness: min-ranks (SQL rank()) within each
    (type, lag) pair set, ranked separately for the x and y sides;
    ``rho_ppm = 10^6 − (6·Σd²·10^6) div (n·(n²−1))`` — the spearman
    d² variant (deterministic under ties, same on both engines);
    n < 2 ⇒ NULL. Days are epoch days (engine-portable, the dow rule).

    Scale shape: ONE partial-aggregated exchange builds the daily
    rollup (types × days rows — series-sized, the cusum/theilsen
    class); the lag join, both rank windows and the d² aggregate all
    run on that tiny frame (windows partition by (type, lag) — bounded
    by the series, not the fact table). The daily table persists: the
    lag fan-out consumes it twice (x and shifted y sides)."""
    from distributed_computing_spark.caching import track_persist

    ev = load_table(spark, sf_dir, "events")
    daily = track_persist(
        ev.groupBy(
            "event_type",
            F.expr("cast(ts as long) div 86400").alias("d"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return lag_autocorr_from_daily(daily, lags)


def lag_autocorr_from_daily(
    daily: DataFrame, lags: tuple[int, ...] = (1, 7)
) -> DataFrame:
    """The lag-autocorrelation detector factored over a prepared
    (event_type, d, c) daily frame — shared by the batch operator and
    the streaming twin (stream_lag_autocorr flushes its streaming
    aggregation state and runs THIS on the flushed rollup, the
    stream_cusum_drift handoff pattern). Caller persists ``daily`` if
    it is expensive to recompute (the x and y sides both consume
    it)."""
    lag_col = F.explode(F.array(*[F.lit(x) for x in lags])).alias("lag")
    x = daily.select("event_type", "d", F.col("c").alias("cx")).select(
        "event_type", "d", "cx", lag_col
    )
    y = daily.select(
        "event_type",
        F.col("d").alias("dy"),
        F.col("c").alias("cy"),
    )
    pairs = x.join(
        y.withColumnRenamed("event_type", "et2"),
        (F.col("et2") == F.col("event_type"))
        & (F.col("dy") == F.col("d") + F.col("lag")),
    ).select("event_type", "lag", "d", "cx", "cy")
    wx = Window.partitionBy("event_type", "lag").orderBy("cx")
    wy = Window.partitionBy("event_type", "lag").orderBy("cy")
    ranked = pairs.select(
        "event_type",
        "lag",
        F.rank().over(wx).alias("rx"),
        F.rank().over(wy).alias("ry"),
    )
    sums = ranked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
        ).cast("long").alias("sum_d2"),
    )
    return sums.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "sum_d2",
        F.when(
            F.col("n_pairs") >= 2,
            F.lit(1000000)
            - F.expr(
                "(6 * sum_d2 * 1000000) div "
                "(n_pairs * (n_pairs * n_pairs - 1))"
            ),
        ).cast("long").alias("rho_ppm"),
    ).orderBy("event_type", "lag")


def segment_revenue_gini(
    df: DataFrame, group_col: str, val_col: str
) -> DataFrame:
    """Exact per-group GINI COEFFICIENT of a non-negative integer
    metric (round 11): the Lorenz concentration statistic —
    ``G = (2·Σᵢ rᵢ·xᵢ − (N+1)·ΣX) / (N·ΣX)`` over ascending-ranked
    values — shipped as the truncated ppm. The "how concentrated is
    revenue among customers" question that quantiles (spread) and
    Spearman (association) don't answer; the standard inequality
    measure (Gini 1912, the rank-sum form).

    Exactness: Σr·x is invariant to tie ORDER (equal x ⇒ any rank
    permutation of the tied block sums identically), so min-rank +
    the tied-block closed form ``x·(k·r_min + k·(k−1)/2)`` equals the
    row_number() sum ANY engine computes — the oracle uses a plain
    row_number() window, an independent derivation. The ppm division
    truncates a provably NON-NEGATIVE numerator (2Σrx ≥ (N+1)ΣX by
    Chebyshev's sum inequality for ascending ranks) so it is
    engine-version-invariant; zero-total groups yield NULL, never an
    ANSI throw. Sums ride DECIMAL(38,0) (Σr·x reaches N²·x — far past
    2^63 at replica scale); the FINAL schema ships the digit-string
    total and the bounded BIGINT ppm (the decimal-purge rule).
    Documented bound: a single tied block of k > ~4.3e9 equal values
    would overflow the BIGINT k·(k−1) div 2 term — beyond any
    per-(group, value) multiplicity this schema can produce.

    Plan: ranks come from ``grouped_min_rank``'s two-level bucketed
    decomposition (never a bare ``partition by group`` window — the
    round-9 few-groups sort cliff); the ranked rows pre-aggregate to
    (group, value, rank) TIED BLOCKS map-side, so the per-group
    DECIMAL fold sees block-sized input; one bounded bounds-collect,
    one (group, bucket) offset exchange, one block exchange.
    """
    dec = "decimal(38,0)"
    ranked = grouped_min_rank(df, group_col, val_col, "_r")
    blocks = ranked.groupBy(group_col, val_col, "_r").agg(
        F.count(F.lit(1)).alias("_k")
    )
    per = blocks.select(
        group_col,
        F.expr(f"cast({val_col} as {dec}) * cast(_k as {dec})").alias(
            "_sx"
        ),
        F.expr(
            f"cast({val_col} as {dec}) * ("
            f"cast(_k as {dec}) * cast(_r as {dec})"
            f" + cast((cast(_k as {dec}) * cast(_k - 1 as {dec}))"
            f" div 2 as {dec}))"
        ).alias("_srx"),
        F.col("_k"),
    )
    g = per.groupBy(group_col).agg(
        F.sum("_k").cast("long").alias("n"),
        F.sum("_sx").alias("sx"),
        F.sum("_srx").alias("srx"),
    )
    return g.select(
        group_col,
        F.col("n").alias("n_members"),
        F.col("sx").cast("string").alias("total_value"),
        F.expr(
            "cast(case when sx > 0 then "
            f"((2 * srx - (cast(n as {dec}) + 1) * sx)"
            f" * cast(1000000 as {dec})) div (cast(n as {dec}) * sx) "
            "end as bigint)"
        ).alias("gini_ppm"),
    ).orderBy(group_col)
