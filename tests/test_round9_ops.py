"""Round-9 contracts: the decimal purge's guard rails and the two
scale caps VERDICT r8 item 5 turned from prose into code."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_bigram_pmi_vocab_cap_falls_back_to_shuffle_join(spark):
    """VERDICT r8 item 5a: above max_broadcast_vocab the unigram
    re-attach must stop broadcasting (a web-scale vocabulary cannot be
    collected to every executor) and the fallback must be
    answer-identical — the max_posting absolute-cap rule applied to
    broadcasting."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.textstats import bigram_pmi
    from distributed_computing_spark.plans.inspect import physical_plan

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        fast = bigram_pmi(spark, SF_DIR, min_count=2, k=15)
        fast_rows = [tuple(r) for r in fast.collect()]
        # Catalyst's own auto-broadcast correctly re-broadcasts a
        # genuinely tiny vocab even without the hint — disable it so
        # the plan shows what the cap buys at scale (estimate-driven
        # auto-broadcast is size-guarded on its own; the cap removes
        # the UNCONDITIONAL hint).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        slow = bigram_pmi(
            spark, SF_DIR, min_count=2, k=15, max_broadcast_vocab=1
        )
        plan = physical_plan(slow)
        # the token-keyed unigram joins shuffle instead of broadcasting
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert fast_rows == [tuple(r) for r in slow.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        release_tracked()


def test_sliding_audience_window_days_cap(spark):
    """VERDICT r8 item 5b: the day-fan-out replicates the word table
    window_days times — out-of-bound windows raise (pointing at the
    HLL rollup) instead of silently exploding the exchange."""
    from distributed_computing_spark.operators.analytics import (
        MAX_SLIDING_WINDOW_DAYS,
        sliding_audience,
    )

    with pytest.raises(ValueError, match="HLL"):
        sliding_audience(spark, SF_DIR, window_days=MAX_SLIDING_WINDOW_DAYS + 1)
    with pytest.raises(ValueError, match="window_days"):
        sliding_audience(spark, SF_DIR, window_days=0)


def test_funnel_strict_zero_completers_is_zero_not_null(spark):
    """ADVICE r8: with no user completing the final step the
    within-window count must be 0 (the oracle's CASE ... ELSE 0), not
    a NULL sum-of-nulls."""
    from distributed_computing_spark.operators.analytics import funnel_strict

    row = funnel_strict(
        spark, SF_DIR, steps=("view", "click", "no_such_event_type")
    ).collect()[0]
    assert row["n_step3"] == 0
    assert row["n_within_window"] == 0


def test_event_trend_slopes_degenerate_group_is_null_not_throw(spark, tmp_path):
    """ADVICE r8: a group whose events all share one epoch second
    zeroes the OLS denominator — the quotient must be NULL on both
    engines, never an ANSI divide-by-zero throw; and x·y rides the
    decimal cast on BOTH operands (y beyond ~1e10 would overflow the
    BIGINT product with epoch-scale x)."""
    import datetime

    from distributed_computing_spark.operators.analytics import (
        event_trend_slopes,
    )

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # 'flat': three events on ONE second -> slope_den = 0
        (1, 101, "flat", t0, 1.0),
        (2, 102, "flat", t0, 2.0),
        (3, 103, "flat", t0, 3.0),
        # 'big': y ~ 2e10 cents; x*y in BIGINT would overflow ANSI
        (4, 104, "big", t0, 2.0e8),
        (5, 105, "big", t0 + datetime.timedelta(seconds=100), 3.0e8),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r["event_type"]: r for r in event_trend_slopes(spark, d).collect()
    }
    assert out["flat"]["slope_den"] == "0"
    assert out["flat"]["slope_ppm"] is None
    # exact OLS on the planted pair: slope = 1e10 cents / 100 s
    assert out["big"]["slope_ppm"] == 10**8 * 10**6
    # two points: n*Σx² − (Σx)² = (x2 − x1)²
    assert out["big"]["slope_den"] == str(100**2)


def test_events_twap_zero_span_group_is_null_not_throw(spark, tmp_path):
    """ADVICE r8's twin guard: a type whose observed span is zero (all
    events on one second) yields twap_cents NULL, not a throw."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 101, "zero", t0, 1.0),
        (2, 102, "zero", t0, 2.0),
        (3, 103, "ok", t0, 5.0),
        (4, 104, "ok", t0 + datetime.timedelta(seconds=10), 7.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["event_type"]: r for r in QUERIES["events_twap"](spark, d).collect()}
    assert out["zero"]["span_s"] == 0 and out["zero"]["twap_cents"] is None
    assert out["zero"]["vt_sum"] == "0"
    # 500 cents held 10 s over a 10 s span
    assert out["ok"]["twap_cents"] == 500 and out["ok"]["vt_sum"] == "5000"


def test_bitmap_words_keeps_caller_group_column(spark):
    """ADVICE r8: bitmap_words must not hardcode 'event_type' — a
    caller's group column name survives packing and overlap_matrix
    accepts it by name."""
    from distributed_computing_spark.operators.analytics import (
        bitmap_words,
        overlap_matrix,
    )

    df = spark.createDataFrame(
        [("g1", 0), ("g1", 63), ("g2", 63), ("g2", 200)],
        "grp string, member_id long",
    )
    words = bitmap_words(df, "grp", "member_id")
    assert words.columns == ["grp", "word_idx", "mask"]
    m = {
        (r["g_a"], r["g_b"]): r["n_common"]
        for r in overlap_matrix(words, group_col="grp").collect()
    }
    assert m == {("g1", "g2"): 1}


def test_spearman_planted_monotone_groups(spark, tmp_path):
    """Perfectly concordant ranks give rho_ppm = +10^6, perfectly
    reversed ranks give exactly -10^6 (Σd² = n(n²−1)/3 divides
    evenly), and a single-row group is NULL (degenerate guard)."""
    from distributed_computing_spark.operators.analytics import (
        spearman_qty_price,
    )
    import datetime

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # group A: price rises with quantity (concordant, no ties)
    for i in range(6):
        rows.append((1, 100 + i, 1, 1, 1.0 + i, 10.0 + i, 0.0, 0.0, "A", "O", t0))
    # group B: price falls as quantity rises (reversed)
    for i in range(5):
        rows.append((2, 200 + i, 1, 1, 1.0 + i, 99.0 - i, 0.0, 0.0, "B", "O", t0))
    # group C: one row (n < 2 -> NULL)
    rows.append((3, 300, 1, 1, 5.0, 5.0, 0.0, 0.0, "C", "O", t0))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {
        r["l_returnflag"]: r
        for r in spearman_qty_price(spark, d).collect()
    }
    assert out["A"]["rho_ppm"] == 10**6 and out["A"]["sum_d2"] == "0"
    assert out["B"]["rho_ppm"] == -(10**6)
    assert out["C"]["rho_ppm"] is None
    assert out["C"]["n_rows"] == 1


def test_benford_constants_and_ppm_sum(spark):
    """The embedded Benford expectations are the real log10 constants
    (they sum to ~10^6) and observed_ppm sums to within 9 ppm of 10^6
    (9 truncating divisions)."""
    from distributed_computing_spark.operators.analytics import (
        BENFORD_PPM,
        benford_audit,
    )

    assert sum(BENFORD_PPM.values()) in range(10**6 - 9, 10**6 + 1)
    assert BENFORD_PPM[1] == 301029  # floor(log10(2) * 1e6)
    rows = benford_audit(spark, SF_DIR).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    total_ppm = sum(r["observed_ppm"] for r in rows)
    assert 10**6 - 9 <= total_ppm <= 10**6
    for r in rows:
        exp = BENFORD_PPM[r["digit"]]
        assert r["deviation_ppm"] == r["observed_ppm"] - exp


def test_copurchase_cosine_bounded_and_consistent(spark):
    """cos² in ppm is bounded by 10^6 and consistent with the pair /
    support counts it ships."""
    from distributed_computing_spark.registry import QUERIES

    rows = QUERIES["copurchase_cosine"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["cos2_ppm"] <= 10**6
        assert r["supp_ab"] <= min(r["supp_a"], r["supp_b"])
        assert (
            r["cos2_ppm"]
            == r["supp_ab"] * r["supp_ab"] * 10**6 // (r["supp_a"] * r["supp_b"])
        )


def test_scd2_pointintime_covers_every_order_exactly_once(spark):
    """The validity windows partition version-time per key (scd2_apply
    closes before it appends), so every (order, probe) hits EXACTLY one
    dimension row: per-version order counts must sum to the order
    count."""
    from distributed_computing_spark.registry import QUERIES
    from distributed_computing_spark.sources.catalog import load_table

    rows = QUERIES["scd2_pointintime"](spark, SF_DIR).collect()
    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert {r["probe_v"] for r in rows} == {1, 2, 3}


def test_sliding_hll_full_window_equals_global_sketch(spark):
    """Distributivity of the windowed rollup: with a window covering
    the whole span, the last day_end's digest must equal the global
    per-type register sketch's digest exactly (merge = elementwise
    max); and every digest respects the m=64 register bound."""
    import pyspark.sql.functions as F

    from distributed_computing_spark.operators.analytics import (
        hll_group_registers,
        sliding_audience_hll,
    )
    from distributed_computing_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.select(
        F.expr("min(cast(ts as long) div 86400)"),
        F.expr("max(cast(ts as long) div 86400)"),
    ).collect()[0]
    span = int(hi) - int(lo) + 1
    rows = sliding_audience_hll(spark, SF_DIR, window_days=span).collect()
    for r in rows:
        assert 1 <= r["n_registers"] <= 64
        assert r["max_rank"] <= 55
    last = {
        r["event_type"]: (r["n_registers"], r["sum_rank"], r["max_rank"])
        for r in rows
        if r["day_end"] == int(hi)
    }
    glob = (
        hll_group_registers(ev, "event_type", "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("max_rank").alias("s"),
            F.max("max_rank").alias("m"),
        )
        .collect()
    )
    want = {r["event_type"]: (r["n"], r["s"], r["m"]) for r in glob}
    assert last == want


def test_sliding_hll_estimate_tracks_exact_bitmap_count(spark):
    """The point of the windowed sketch: at a window where BOTH paths
    are computable (7 days), the client-side HLL estimate from the
    merged registers must track sliding_audience's EXACT bitmap count
    within the m=64 error regime (~13% typical; 35% bound leaves
    slack for small windows)."""
    from distributed_computing_spark.operators.analytics import (
        hll_estimate,
        sliding_audience,
        sliding_hll_registers,
    )
    from tests.conftest import SF_DIR_MID

    # sf0.01: sf0.001's daily audiences are all under the linear-
    # counting noise floor (n_checked would be 0)
    exact = {
        (r["event_type"], r["day_end"]): r["n_users_7d"]
        for r in sliding_audience(spark, SF_DIR_MID, window_days=7).collect()
    }
    regs: dict = {}
    for r in sliding_hll_registers(spark, SF_DIR_MID, window_days=7).collect():
        regs.setdefault((r["event_type"], r["day_end"]), {})[
            r["register"]
        ] = r["mr"]
    assert set(regs) == set(exact)
    n_checked = 0
    for key, true_n in exact.items():
        if true_n < 20:
            continue  # tiny windows: absolute noise dominates
        est = hll_estimate(regs[key])
        assert abs(est - true_n) <= 0.35 * true_n, (key, est, true_n)
        n_checked += 1
    assert n_checked > 50


def test_merkle_diff_detects_single_mutation(spark):
    """Anti-entropy contract: identical states diff EMPTY; mutating one
    key's value surfaces exactly that key's bucket (count equal,
    digest different); a key present on one side only coalesces the
    absent side to (0, 0)."""
    from distributed_computing_spark.operators.dedup import md5_hash60
    from distributed_computing_spark.operators.kv import merkle_diff

    rows = [(str(k), f"v{k}") for k in range(40)]
    a = spark.createDataFrame(rows, "key string, value string")
    assert merkle_diff(a, a, n_buckets=16).count() == 0

    mutated = [("7", "CHANGED") if k == "7" else (k, v) for k, v in rows]
    b = spark.createDataFrame(mutated, "key string, value string")
    diffs = merkle_diff(a, b, n_buckets=16).collect()
    assert len(diffs) == 1
    import pyspark.sql.functions as F

    bucket7 = spark.range(1).select(
        F.pmod(md5_hash60(F.lit("7"), 0), F.lit(16)).alias("b")
    ).collect()[0]["b"]
    assert diffs[0]["bucket"] == bucket7
    assert diffs[0]["n_a"] == diffs[0]["n_b"]
    assert diffs[0]["digest_a"] != diffs[0]["digest_b"]

    c = spark.createDataFrame(rows + [("extra", "x")], "key string, value string")
    d = {r["bucket"]: r for r in merkle_diff(a, c, n_buckets=16).collect()}
    assert len(d) == 1
    (only,) = d.values()
    assert only["n_b"] == only["n_a"] + 1


def test_weighted_median_planted_exact(spark, tmp_path):
    """Lower weighted median on planted data: values 1,2,3 with
    weights 1,2,1 -> cum(1)=1, cum(2)=3; 2*3 >= 4 first at v=2. And a
    half-weight boundary: weights 1,1 -> 2*cum(v1)=2 >= 2 picks the
    LOWER value (the 2*cum >= W definition)."""
    import datetime

    from distributed_computing_spark.operators.analytics import (
        weighted_median_price,
    )

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    # orders: (key, custkey, status, price, date, priority)
    orders = [
        (1, 1, "O", 0.01, t0, "A"), (2, 1, "O", 0.02, t0, "A"),
        (3, 1, "O", 0.03, t0, "A"),
        (10, 1, "O", 0.10, t0, "B"), (11, 1, "O", 0.20, t0, "B"),
    ]
    # lineitem counts = weights: order2 has 2 lines (weight 2)
    li = [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
          (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
          (2, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
          (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
          (10, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0),
          (11, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = {r["priority"]: r for r in weighted_median_price(spark, d).collect()}
    assert out["A"]["w_total"] == 4 and out["A"]["median_cents"] == 2
    assert out["B"]["w_total"] == 2 and out["B"]["median_cents"] == 10


def test_merkle_repair_keys_recovers_exact_mutation_set(spark):
    """Drill-down contract: digests localize, the repair pass fetches —
    the emitted (key, op) set is exactly the planted mutations
    (changed -> U, deleted -> D, added -> I) and nothing else; keys in
    clean buckets never reach the row join."""
    from distributed_computing_spark.operators.kv import merkle_repair_keys

    rows = [(str(k), f"v{k}") for k in range(60)]
    a = spark.createDataFrame(rows, "key string, value string")
    mutated = [
        (k, "X" + v) if int(k) % 10 == 3 else (k, v)
        for k, v in rows
        if int(k) % 10 != 7
    ] + [("999", "new")]
    b = spark.createDataFrame(mutated, "key string, value string")
    got = {(r["key"], r["op"]) for r in merkle_repair_keys(a, b, 32).collect()}
    want = (
        {(str(k), "U") for k in range(60) if k % 10 == 3}
        | {(str(k), "D") for k in range(60) if k % 10 == 7}
        | {("999", "I")}
    )
    assert got == want


@pytest.mark.slow
def test_robust_outliers_planted_heavy_tail(spark, tmp_path):
    """The robust screen's point: a single wild value moves the
    mean/stddev but not median/MAD — on planted data (five 10.00s, four
    10.01-10.04s, one 10000.00) the MAD flags exactly the wild row, and
    median/MAD are the planted integers."""
    import datetime

    from distributed_computing_spark.operators.analytics import (
        robust_price_outliers,
    )
    from distributed_computing_spark.caching import release_tracked

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    prices = [10.00] * 4 + [10.01, 10.02, 10.03, 10.04, 10.05, 10000.00]
    rows = [
        (i, 1, "O", p, t0, "P") for i, p in enumerate(prices)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    try:
        out = robust_price_outliers(spark, d).collect()
    finally:
        release_tracked()
    assert len(out) == 1
    r = out[0]
    # lower median of [1000x4, 1001..1005, 1000000]: cum(1000)=4 (2*4 <
    # 10), cum(1001)=5 (2*5 >= 10) -> med=1001. Deviations sorted:
    # [0, 1x5, 2, 3, 4, 998999] -> MAD (lower) = 1. Flag: 1000*dev >
    # 4448*1 -> only the wild row.
    assert r["median_cents"] == 1001 and r["mad_cents"] == 1
    assert r["n_orders"] == 10 and r["n_outliers"] == 1
