"""Round-11 operator hardening tests (VERDICT/ADVICE r10 items).

- events_dow_anomalies: the (type, dow) group key rides the median
  core as a STRUCT — a '#'-bearing event_type must group correctly
  (the old concat_ws('#') round-trip silently corrupted the baseline
  while the oracle grouped by real columns: ADVICE r10 item 3).
- events_theilsen: daily path unchanged (bucket_days=1 ≡ round 10's
  plan bit-for-bit); weekly coarsening on ≤366-day data equals the
  daily operator applied to the SAME series pre-aggregated to weeks
  (the degrade contract, VERDICT r10 item 4).
"""

from __future__ import annotations

import datetime

import pytest


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


@pytest.mark.slow
def test_dow_anomalies_hash_bearing_event_type_groups_correctly(
    spark, tmp_path
):
    """Adversarial delimiter case: event_type 'click#3' must keep its
    own (type, dow) baselines. Under the old string key the '#' in the
    type shifted the split, the med join keyed on a NULL dow, and the
    corrupted day silently went unflagged."""
    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)  # a Monday
    rows = []
    eid = 0
    corrupt_day = 16  # a Wednesday
    for day in range(28):
        n = 200 if day == corrupt_day else 20
        for j in range(n):
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(days=day, seconds=j + 1),
                 j, "click#3", 1.0, "{}")
            )
    _write_events(spark, d, rows)
    got = QUERIES["events_dow_anomalies"](spark, d).collect()
    assert len(got) == 1
    assert got[0]["event_type"] == "click#3"
    assert got[0]["day"] == t0 + datetime.timedelta(days=corrupt_day)
    assert got[0]["c"] == 200 and got[0]["med_dow"] == 20


def test_theilsen_weekly_equals_daily_on_preaggregated_weeks(
    spark, tmp_path
):
    """Degrade contract: forcing bucket_days=7 on a ≤366-day series
    must equal running the DAILY operator over events whose timestamps
    are snapped to their week-start day (same weekly sums, dx scaled
    by 7). Verifies the coarsened path is the exact Theil–Sen of the
    weekly series, not an approximation."""
    from distributed_computing_spark.operators import analytics

    d1 = str(tmp_path / "daily")
    d2 = str(tmp_path / "snapped")
    t0 = datetime.datetime(2024, 1, 1)
    epoch0 = datetime.date(1970, 1, 1)
    rows, snapped = [], []
    eid = 0
    for day in range(70):
        for j in range(1 + (3 * day) % 7):
            eid += 1
            ts = t0 + datetime.timedelta(days=day, seconds=j + 1)
            ed = (ts.date() - epoch0).days
            week_start = ed - ed % 7
            snap = datetime.datetime.combine(
                epoch0 + datetime.timedelta(days=week_start),
                datetime.time(0, 0, 1),
            )
            rows.append((eid, ts, j, "t", 1.0, "{}"))
            snapped.append((eid, snap, j, "t", 1.0, "{}"))
    _write_events(spark, d1, rows)
    _write_events(spark, d2, snapped)
    weekly = analytics.events_theilsen(spark, d1, bucket_days=7).collect()
    daily_on_snapped = analytics.events_theilsen(
        spark, d2, bucket_days=1
    ).collect()
    assert len(weekly) == len(daily_on_snapped) == 1
    w, s = weekly[0], daily_on_snapped[0]
    assert w["n_pairs"] == s["n_pairs"]
    assert w["med_dy"] == s["med_dy"]
    # snapped-daily dx counts days between week-start days = 7·weeks,
    # identical to the coarsened path's bucket-scaled dx
    assert w["med_dx"] == s["med_dx"]


def test_session_peak_concurrency_matches_bruteforce(spark, tmp_path):
    """Semantic anchor for the sweep line: on a small synthetic event
    log, the operator's peak equals a naive per-minute interval count
    computed in Python (every minute probed, not just change-points)."""
    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # users with overlapping multi-event sessions and 30-min gaps
    specs = [
        (1, [0, 10, 50]),        # session 0-50min, then gap
        (1, [200, 210]),         # second session
        (2, [5, 20]),            # overlaps user 1's first session
        (3, [8]),                # single-event session
        (4, [45, 60, 205]),      # two sessions (gap 145 min > 30)
    ]
    for uid, minutes in specs:
        for m in minutes:
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(minutes=m, seconds=1),
                 uid, "click", 1.0, "{}")
            )
    _write_events(spark, d, rows)
    got = QUERIES["session_peak_concurrency"](spark, d).collect()

    # brute force: rebuild sessions (30-min gap), then count per minute
    epoch0 = datetime.datetime(1970, 1, 1)
    by_user: dict[int, list[int]] = {}
    for _eid, ts, uid, *_ in rows:
        by_user.setdefault(uid, []).append(int((ts - epoch0).total_seconds()))
    intervals = []
    for uid, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        for t in tss[1:]:
            if t - prev > 1800:
                intervals.append((start // 60, prev // 60))
                start = t
            prev = t
        intervals.append((start // 60, prev // 60))
    lo = min(i[0] for i in intervals)
    hi = max(i[1] for i in intervals)
    conc = {
        m: sum(1 for a, b in intervals if a <= m <= b)
        for m in range(lo, hi + 2)
    }
    peak = max(conc.values())
    peak_minutes = sorted(
        m for m, c in conc.items()
        if c == peak and (m == lo or conc[m - 1] != c)
    )
    assert all(r["concurrency"] == peak for r in got)
    # operator reports CHANGE-points at the peak; every one must be a
    # minute where brute force sees the peak newly attained
    assert [r["minute_epoch"] for r in got] == peak_minutes
    assert peak == 3  # users 1, 2, 3 overlap in minutes 8-20


def test_round11_plan_contracts(spark):
    """Plan assertions for the round-11 additions (the shuffle-budget
    discipline, encoded per CLAUDE.md style):

    - dominant_part_suppliers: ONE fact exchange serves the (part,
      supplier) rollup AND the per-part window (partition keys ⊂ group
      keys — the sole_return motion); 2 hash exchanges total, no cache.
    - important_part_share: the per-part rollup is persisted and read
      by BOTH consumers (scalar + filter) — 2 InMemoryTableScans.
    - promo_mix_revenue: the hand-derived qty bound reaches the
      lineitem scan as a PushedFilter; the part attach is a broadcast
      join (gated, passes at test SF)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.plans import (
        count_exchanges,
        has_pushed_filter,
        operator_tree,
    )
    from distributed_computing_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    try:
        df = QUERIES["dominant_part_suppliers"](spark, SF_DIR)
        tree = operator_tree(df)
        assert count_exchanges(df, "hashpartitioning") == 2, tree
        assert tree.count("Window") == 1, tree
        assert "InMemoryTableScan" not in tree

        df2 = QUERIES["important_part_share"](spark, SF_DIR)
        tree2 = operator_tree(df2)
        assert tree2.count("InMemoryTableScan") == 2, tree2
        assert df2.count() > 0

        df3 = QUERIES["promo_mix_revenue"](spark, SF_DIR)
        assert has_pushed_filter(df3, "LessThanOrEqual(l_quantity,30.0)")
        assert has_pushed_filter(df3, "GreaterThanOrEqual(l_quantity,1.0)")
        tree3 = operator_tree(df3)
        assert "BroadcastHashJoin" in tree3, tree3

        df4 = QUERIES["session_peak_concurrency"](spark, SF_DIR)
        tree4 = operator_tree(df4)
        # user_id exchange + minute exchange; the single-partition
        # prefix window is an Exchange SinglePartition, not hash
        assert count_exchanges(df4, "hashpartitioning") == 2, tree4
        assert tree4.count("InMemoryTableScan") == 2, tree4
        assert df4.count() >= 1
    finally:
        release_tracked()


def test_user_burst_rates_one_fact_exchange_and_range_frame(spark, tmp_path):
    """Plan: ONE repartition(user_id) serves the minute rollup, the
    RANGE window, and the per-user max (2 hash exchanges total incl.
    the tiny histogram). Semantics: the frame is RANGE over the minute
    AXIS — sparse activity outside the trailing 60 minutes must NOT
    count (the ROWS-frame bug this operator exists to avoid)."""
    import datetime

    from distributed_computing_spark.plans import count_exchanges
    from distributed_computing_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["user_burst_rates"](spark, SF_DIR)
    assert count_exchanges(df, "hashpartitioning") == 2
    assert df.count() >= 1

    # planted: user 1 fires 3 events inside one hour, then 1 event far
    # later; user 2 fires 4 events spread >60 min apart (a ROWS-59
    # frame would see all 4 as one window -> max 4; RANGE must say 1)
    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for m in (0, 10, 50, 500):
        eid += 1
        rows.append((eid, t0 + datetime.timedelta(minutes=m), 1, "c", 1.0, "{}"))
    for m in (0, 100, 200, 300):
        eid += 1
        rows.append((eid, t0 + datetime.timedelta(minutes=m), 2, "c", 1.0, "{}"))
    _write_events(spark, d, rows)
    got = {r["max_rate"]: r["n_users"] for r in QUERIES["user_burst_rates"](spark, d).collect()}
    assert got == {3: 1, 1: 1}


def test_dedup_savings_report_planted_clusters(spark, tmp_path):
    """Planted: two exact copies + one truncation copy (same first 16
    tokens, different tail). The exact level sees one 2-cluster; the
    prefix16 level sees one 3-cluster; redundant chars count every
    non-kept copy's n_chars."""
    from distributed_computing_spark.registry import QUERIES

    base = " ".join(f"tok{i}" for i in range(16))
    rows = [
        (1, base + " tail one", "en", "web", 100),
        (2, base + " tail one", "en", "web", 110),   # exact dup of 1
        (3, base + " different tail entirely", "en", "web", 120),
        (4, "completely unrelated text body", "en", "web", 50),
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r["cluster_kind"], r["n_copies"]): (
            r["n_clusters"], r["n_redundant_docs"], r["redundant_chars"]
        )
        for r in QUERIES["dedup_savings_report"](spark, d).collect()
    }
    # exact: {1,2} cluster (keep doc 1, redundant chars 110) + two singletons
    assert got[("exact", 2)] == (1, 1, 110)
    assert got[("exact", 1)] == (2, 0, 0)
    # prefix16: {1,2,3} cluster (keep doc 1, redundant 110+120) + one singleton
    assert got[("prefix16", 3)] == (1, 2, 230)
    assert got[("prefix16", 1)] == (1, 0, 0)


def test_source_length_quantiles_matches_bruteforce(spark, tmp_path):
    """The fused multi-q pass on the (source, token-count) shape must
    equal a brute-force lower-quantile computed in Python."""
    from distributed_computing_spark.registry import QUERIES

    rows = []
    did = 0
    for src, sizes in (("a", [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), ("b", [5, 5, 5, 7])):
        for n in sizes:
            did += 1
            rows.append((did, " ".join(f"w{i}" for i in range(n)), "en", src, n))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        (r["source"], r["q_permille"]): r["q_tokens"]
        for r in QUERIES["source_length_quantiles"](spark, d).collect()
    }

    def brute(vals, q):
        vals = sorted(vals)
        w = len(vals)
        cum = 0
        for i, v in enumerate(vals):
            cum += 1
            if 1000 * cum >= q * w:
                return v

    for src, sizes in (("a", [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), ("b", [5, 5, 5, 7])):
        for q in (100, 500, 900):
            assert got[(src, q)] == brute(sizes, q), (src, q)


def test_stream_burst_rates_equals_batch(spark):
    """The streaming twin's flushed-state detector must equal the
    batch operator exactly (the stream_cusum_drift contract)."""
    from distributed_computing_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    batch = QUERIES["user_burst_rates"](spark, SF_DIR).collect()
    stream = QUERIES["stream_burst_rates"](spark, SF_DIR).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))


@pytest.mark.slow
def test_burst_alerts_ties_eviction_and_stream_equals_batch(spark, tmp_path):
    """Planted alert scenario exercising the two exactness obligations:
    equal-timestamp PEERS count toward each other's window (RANGE
    semantics), and state EVICTS outside the horizon (an event > 1 h
    later must not see the old burst). The online stream must equal
    the batch RANGE query row-for-row."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 6, 1)
    rows = []
    eid = 0

    def ev(uid, seconds):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, t0 + datetime.timedelta(seconds=seconds), uid, "c", 1.0, "{}")
        )

    # user 1: three events at the SAME second -> peers alert (n=3)
    for _ in range(3):
        ev(1, 100)
    # user 2: events at 0, 1800, 3599 -> alert n=3 at 3599 (inclusive
    # window [0, 3599]); then one at 7300 -> everything evicted, no alert
    ev(2, 0); ev(2, 1800); ev(2, 3599); ev(2, 7300)
    # user 3: 0, 3600 -> the window [1, 3600] holds only 2 -> no alert
    ev(3, 0); ev(3, 3600)
    _write_events(spark, d, rows)

    batch = sorted(map(tuple, QUERIES["user_burst_alerts"](spark, d).collect()))
    stream = sorted(map(tuple, QUERIES["stream_burst_alerts"](spark, d).collect()))
    assert batch == stream
    base = int((t0 - datetime.datetime(1970, 1, 1)).total_seconds())
    assert batch == [(1, base + 100, 3), (2, base + 3599, 3)]


@pytest.mark.slow
def test_stream_burst_alerts_state_spans_batches(spark, tmp_path):
    """A burst assembled ACROSS micro-batches: the first two events and
    the third arrive in different seq-source batches (timestamps span
    the 4-way n-tile split), so the alert can only come from carried
    per-user state."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 6, 1)
    rows = []
    # rel range is [0, 4000] -> n-tile boundaries at 1000/2000/3000:
    # events at rel 0, 900 (batch 1) and 2500 (batch 3) form the burst
    # (window [2500-3599 -> clamps to 0] holds all three); a far event
    # at rel 4000 pins the split width without joining the window...
    for i, sec in enumerate((0, 900, 2500)):
        rows.append((i + 1, t0 + datetime.timedelta(seconds=sec), 7, "c", 1.0, "{}"))
    rows.append((99, t0 + datetime.timedelta(seconds=4000), 8, "c", 1.0, "{}"))
    _write_events(spark, d, rows)
    got = sorted(map(tuple, QUERIES["stream_burst_alerts"](spark, d).collect()))
    base = int((t0 - datetime.datetime(1970, 1, 1)).total_seconds())
    assert got == [(7, base + 2500, 3)]
    assert got == sorted(map(tuple, QUERIES["user_burst_alerts"](spark, d).collect()))


# ---------------------------------------------------------------------------
# ks_two_sample_vs_rest (round 11 late): exact KS drift vs brute force
# ---------------------------------------------------------------------------


def _brute_ks(rows):
    """Brute-force exact two-sample KS (group vs rest) on (g, v) rows:
    d_num = max over distinct v of |c_g(v)·n_rest − c_rest(v)·n_g|."""
    from collections import Counter

    groups = sorted({g for g, _ in rows})
    n = {g: sum(1 for gg, _ in rows if gg == g) for g in groups}
    n_tot = len(rows)
    vals = sorted({v for _, v in rows})
    cnt_all = Counter(v for _, v in rows)
    out = {}
    for g in groups:
        cnt_g = Counter(v for gg, v in rows if gg == g)
        cg = 0
        call = 0
        d = 0
        for v in vals:
            cg += cnt_g.get(v, 0)
            call += cnt_all[v]
            d = max(d, abs(cg * (n_tot - n[g]) - (call - cg) * n[g]))
        ks = (
            (d * 1000000) // (n[g] * (n_tot - n[g]))
            if n_tot > n[g]
            else None
        )
        out[g] = (n[g], n_tot - n[g], str(d), ks)
    return out


def _run_ks(spark, rows):
    from distributed_computing_spark.operators.analytics import (
        ks_two_sample_vs_rest,
    )

    df = spark.createDataFrame(rows, "g string, v long")
    got = ks_two_sample_vs_rest(df, "g", "v").collect()
    return {
        r["g"]: (r["n_group"], r["n_rest"], r["d_num"], r["ks_ppm"])
        for r in got
    }


def test_ks_matches_brute_force_with_ties(spark):
    import random

    rng = random.Random(1107)
    rows = [
        (rng.choice("ABC"), rng.randint(-50, 50)) for _ in range(400)
    ] + [("A", 7)] * 25 + [("B", 7)] * 25  # heavy shared tie
    assert _run_ks(spark, rows) == _brute_ks(rows)


def test_ks_disjoint_ranges_saturate_and_identical_dists_zero(spark):
    # disjoint supports => D = 1 (ks_ppm = 1e6) for both groups
    rows = [("A", v) for v in range(10)] + [("B", v + 100) for v in range(10)]
    got = _run_ks(spark, rows)
    assert got["A"][3] == 1000000 and got["B"][3] == 1000000
    # identical distributions => D = 0
    rows = [("A", v % 5) for v in range(20)] + [
        ("B", v % 5) for v in range(20)
    ]
    got = _run_ks(spark, rows)
    assert got["A"] == (20, 20, "0", 0)


def test_ks_single_group_null_ppm_and_group_cap(spark):
    import pytest

    from distributed_computing_spark.operators.analytics import (
        ks_two_sample_vs_rest,
    )

    got = _run_ks(spark, [("A", v) for v in range(5)])
    assert got["A"] == (5, 0, "0", None)  # no ANSI divide error

    df = spark.createDataFrame(
        [(str(i), i) for i in range(70)], "g string, v long"
    )
    with pytest.raises(ValueError, match="max_groups"):
        ks_two_sample_vs_rest(df, "g", "v")


# ---------------------------------------------------------------------------
# vocab_growth (round 11 late): Heaps-law curve vs brute force
# ---------------------------------------------------------------------------


def _write_docs(spark, path, texts):
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_vocab_growth_matches_brute_force(spark, tmp_path):
    import re

    from distributed_computing_spark.operators.textstats import vocab_growth

    texts = [
        "the cat sat on the mat",
        "the dog! the dog ran",
        "",  # zero-token doc still counts as a doc
        "a brand new vocabulary appears here",
        "the cat returns, nothing new but THE and Cat differ by case",
        "zz zz zz zz",
    ] * 4  # 24 docs; duplicates add tokens but no vocabulary
    d = str(tmp_path / "sf")
    _write_docs(spark, d, texts)
    got = [
        (r["bucket_i"], r["doc_cutoff"], r["n_docs"], r["n_tokens"],
         r["n_vocab"], r["ttr_ppm"])
        for r in vocab_growth(spark, d).collect()
    ]
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)
    toksets = [tok.findall(t) for t in texts]
    m = len(texts) - 1
    want = []
    for i in range(20):
        thr = ((i + 1) * (m + 1)) // 20
        docs = [ts for d_, ts in enumerate(toksets) if d_ < thr]
        if not docs:
            continue
        n_toks = sum(len(ts) for ts in docs)
        vocab = set().union(*[set(ts) for ts in docs]) if docs else set()
        want.append(
            (i, thr, len(docs), n_toks, len(vocab),
             (len(vocab) * 1000000) // n_toks if n_toks else None)
        )
    assert got == want
    # vocabulary growth is monotone while tokens keep arriving
    vs = [w[4] for w in want]
    assert vs == sorted(vs)


# ---------------------------------------------------------------------------
# winnow_fingerprints (round 11 late): literal-MOSS reference + guarantee
# ---------------------------------------------------------------------------


def _moss_reference(texts):
    """Independent literal implementation of robust winnowing
    (Schleimer et al. 2003): per window of W gram hashes select the
    minimum, rightmost occurrence on ties — WITHOUT the key-encoding
    trick the operator uses. Returns per-source aggregate rows."""
    import hashlib
    import re
    from collections import defaultdict

    K, W = 4, 5
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)
    agg = defaultdict(lambda: [0, 0, 0, set()])  # docs, grams, fp, hashes
    for i, t in enumerate(texts):
        src = f"src{i % 2}"
        toks = tok.findall(t)
        n = len(toks) - (K - 1)
        if n < 1:
            continue
        hs = [
            int(
                hashlib.md5(
                    " ".join(toks[p : p + K]).encode()
                ).hexdigest()[:10],
                16,
            )
            for p in range(n)
        ]
        sel = set()  # distinct (position, hash) selections
        for j in range(max(1, n - W + 1)):
            win = hs[j : j + W]
            m = min(win)
            # rightmost occurrence of the min in this window
            p = j + max(q for q, h in enumerate(win) if h == m)
            sel.add((p, m))
        a = agg[src]
        a[0] += 1
        a[1] += n
        a[2] += len(sel)
        a[3] |= {h for _, h in sel}
    return {
        s: (v[0], v[1], v[2], len(v[3]), (v[2] * 1000000) // v[1])
        for s, v in agg.items()
    }


def test_winnow_matches_literal_moss_reference_with_ties(spark, tmp_path):
    from distributed_computing_spark.operators.textstats import (
        winnow_fingerprints,
    )

    texts = [
        # heavy gram repetition => min-hash TIES inside single windows
        "a b c d " * 12,
        "x y z w q " * 8 + "a b c d a b c d",
        "one two three",  # < K tokens after the 3rd: 0 grams? (3 toks, K=4)
        "",  # empty
        "the quick brown fox jumps over the lazy dog again and again",
        "pad " * 30,
    ] * 3
    d = str(tmp_path / "sf")
    _write_docs(spark, d, texts)
    got = {
        r["source"]: (r["n_docs"], r["n_grams"], r["n_fp"], r["n_hashes"],
                      r["fp_pmg"])
        for r in winnow_fingerprints(spark, d).collect()
    }
    assert got == _moss_reference(texts)


def test_winnow_shared_run_guarantee(spark, tmp_path):
    """The winnowing guarantee: two documents sharing a token run of
    length >= W + K - 1 = 8 share at least one fingerprint HASH. Verify
    via the literal reference on the same texts (the operator equals it
    by the test above); here assert the distinct-hash union arithmetic:
    n_hashes(src with both docs) < sum of per-doc hash counts."""
    from distributed_computing_spark.operators.textstats import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    texts = [
        "unique one prefix " + shared + " suffix uno",
        "totally different words here " + shared + " trailing bits",
    ]
    d = str(tmp_path / "sf")
    # both docs land in different sources under _write_docs (i % 2) —
    # put them in ONE source instead
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row = winnow_fingerprints(spark, d).collect()
    assert len(row) == 1
    r = row[0]
    ref = _moss_reference([texts[0]])  # doc 0 alone
    ref1 = _moss_reference(["", texts[1]])  # doc 1 alone (src1)
    h0 = ref["src0"][3]
    h1 = ref1["src1"][3]
    # shared run forces overlap: union is strictly smaller than the sum
    assert r["n_hashes"] < h0 + h1


# ---------------------------------------------------------------------------
# sorted-neighborhood linkage (round 11 late)
# ---------------------------------------------------------------------------


def test_global_rank_by_range_is_exact_total_order(spark):
    import random

    from distributed_computing_spark.operators.linkage import (
        global_rank_by_range,
    )

    rng = random.Random(7)
    rows = [
        ("".join(rng.choice("abcz") for _ in range(rng.randint(1, 6))), i)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "name string, id long")
    ranked, offs, _ = global_rank_by_range(
        df, ["name", "id"], "rn", n_parts=7
    )
    assert sum(1 for _ in offs) <= 7 and offs[min(offs)] == 0
    got = {(r["name"], r["id"]): r["rn"] for r in ranked.collect()}
    want = {
        key: i + 1 for i, key in enumerate(sorted(rows))
    }
    assert got == want


def test_sorted_neighborhood_matches_brute_force(spark):
    import random

    from distributed_computing_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rng = random.Random(42)
    base = ["alpha", "alpho", "alphq", "beta", "betta", "bett", "gamma",
            "gamna", "gamn", "delta"]
    rows = []
    i = 0
    for _ in range(30):
        for b in base:
            # random light mutations create near-sorted clusters
            s = list(b)
            if rng.random() < 0.5:
                s[rng.randrange(len(s))] = rng.choice("abgd")
            rows.append(("".join(s), i))
            i += 1
    df = spark.createDataFrame(rows, "name string, id long")
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=6, max_dist=2
        ).collect()
    }

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for x in range(1, m + 1):
            prev, dp[0] = dp[0], x
            for y in range(1, n + 1):
                prev, dp[y] = dp[y], min(
                    dp[y] + 1, dp[y - 1] + 1,
                    prev + (a[x - 1] != b[y - 1]),
                )
        return dp[n]

    order = sorted((nm, i) for nm, i in rows)
    want = set()
    for p in range(len(order)):
        for q in range(p + 1, min(p + 6, len(order))):
            d = lev(order[p][0], order[q][0])
            if d <= 2:
                want.add((order[p][1], order[q][1], d))
    assert got == want
    assert want  # teeth: the synthetic data produces matches


# ---------------------------------------------------------------------------
# clustering coefficient (round 11 late): brute force on known graphs
# ---------------------------------------------------------------------------


def test_clustering_coefficients_match_brute_force(spark):
    from itertools import combinations

    from distributed_computing_spark.operators.graph import (
        clustering_coefficients,
    )

    # K4 clique (cc=1), a square with one diagonal, a star (cc=0 hub),
    # and a pendant node (deg 1 — excluded).
    und = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (10, 11), (11, 12), (12, 13), (13, 10), (10, 12),  # square+diag
        (20, 21), (20, 22), (20, 23), (20, 24),  # star, hub 20
        (30, 31),  # pendant pair: both deg 1, excluded
    ]
    sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["cc_ppm"])
        for r in clustering_coefficients(edges).collect()
    }

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v, ns in adj.items():
        d = len(ns)
        if d < 2:
            continue
        tri = sum(
            1 for x, y in combinations(sorted(ns), 2) if y in adj[x]
        )
        want[v] = (d, tri, (2 * tri * 1000000) // (d * (d - 1)))
    assert got == want
    assert got[1] == (3, 3, 1000000)  # clique corner: cc = 1
    assert got[20][2] == 0  # star hub: no closure


def test_winnow_neardup_matches_brute_force_and_guarantee(spark, tmp_path):
    import hashlib
    import re
    from collections import defaultdict

    from distributed_computing_spark.operators.textstats import (
        winnow_neardup,
    )

    run = " ".join(f"shared{i}" for i in range(30))  # 30-token run
    texts = [
        "alpha prelude words " + run + " alpha coda",
        "completely different intro " + run + " other tail words",
        "no overlap here at all just filler tokens repeated filler",
        "another unrelated document with its own words only",
        run,  # a third holder of the run
    ]
    d = str(tmp_path / "sf")
    _write_docs(spark, d, texts)
    got = {
        (r["a_id"], r["b_id"]): r["n_shared"]
        for r in winnow_neardup(spark, d).collect()
    }

    K, W = 4, 5
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)
    doc_h = {}
    for i, t in enumerate(texts):
        toks = tok.findall(t)
        n = len(toks) - (K - 1)
        if n < 1:
            continue
        keys = [
            int(hashlib.md5(" ".join(toks[p - 1:p - 1 + K]).encode())
                .hexdigest()[:10], 16) * (1 << 21) + ((1 << 21) - 1 - p)
            for p in range(1, n + 1)
        ]
        sel = {min(keys[p - 1:p - 1 + W])
               for p in range(1, max(1, n - W + 1) + 1)}
        doc_h[i] = {k >> 21 for k in sel}
    posting = defaultdict(set)
    for i, hs in doc_h.items():
        for h in hs:
            posting[h].add(i)
    ok = {h for h, ds in posting.items() if len(ds) <= 200}
    want = {}
    ids = sorted(doc_h)
    for x in ids:
        for y in ids:
            if x < y:
                shared = len(doc_h[x] & doc_h[y] & ok)
                if shared >= 2:
                    want[(x, y)] = shared
    assert got == want
    # the winnowing guarantee: every pair of run-holders is a candidate
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got
    assert (2, 3) not in got


def test_lag_autocorr_detects_weekly_rhythm(spark, tmp_path):
    """Semantic anchor: a strict 7-day-periodic series has PERFECT
    lag-7 rank autocorrelation (rho = 1e6) and weak lag-1; brute-force
    twin validates the min-rank d² arithmetic."""
    from collections import Counter

    from distributed_computing_spark.operators.analytics import (
        events_lag_autocorr,
    )

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    week = [5, 40, 11, 28, 3, 17, 33]  # alternating, period 7
    rows = []
    eid = 0
    counts = []
    for day in range(70):
        c = week[day % 7]
        counts.append(c)
        for j in range(c):
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(days=day, seconds=j + 1),
                 j, "click", 1.0, "{}")
            )
    _write_events(spark, d, rows)
    got = {
        r["lag"]: (r["n_pairs"], r["sum_d2"], r["rho_ppm"])
        for r in events_lag_autocorr(spark, d).collect()
    }

    def brute(lag):
        xs = [(counts[i], counts[i + lag])
              for i in range(len(counts) - lag)]
        cx = sorted(v for v, _ in xs)
        cy = sorted(v for _, v in xs)
        rkx = {}
        for v in cx:
            rkx.setdefault(v, cx.index(v) + 1)  # min-rank
        rky = {}
        for v in cy:
            rky.setdefault(v, cy.index(v) + 1)
        n = len(xs)
        d2 = sum((rkx[a] - rky[b]) ** 2 for a, b in xs)
        return (n, d2, 1000000 - (6 * d2 * 1000000) // (n * (n * n - 1)))

    assert got[7] == brute(7)
    assert got[1] == brute(1)
    assert got[7][2] == 1000000  # perfect weekly rhythm
    assert got[1][2] < 400000  # lag-1 is weak on an alternating series


@pytest.mark.slow
def test_common_neighbor_pairs_anchors(spark):
    """Link prediction brute-force anchors (the K4/star/pendant style
    of the clustering tests): a path predicts its endpoints, a 4-cycle
    predicts both diagonals with cn=2, a triangle predicts nothing
    (every pair adjacent), and the middle-degree cap silently excludes
    hub-centered wedges (the absolute-cap contract)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.graph import (
        common_neighbor_pairs,
    )

    def sym(pairs):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    try:
        # path 1-2-3: (1,3) share middle 2
        got = {
            (r.part_a, r.part_b, r.common_neighbors)
            for r in common_neighbor_pairs(sym([(1, 2), (2, 3)])).collect()
        }
        assert got == {(1, 3, 1)}
        # 4-cycle: both diagonals, two shared middles each
        got = {
            (r.part_a, r.part_b, r.common_neighbors)
            for r in common_neighbor_pairs(
                sym([(1, 2), (2, 3), (3, 4), (4, 1)])
            ).collect()
        }
        assert got == {(1, 3, 2), (2, 4, 2)}
        # triangle: all pairs adjacent -> empty
        assert (
            common_neighbor_pairs(sym([(1, 2), (2, 3), (1, 3)])).count() == 0
        )
        # star K1,5: with the hub (deg 5) above the cap no wedge forms;
        # raising the cap admits all C(5,2) leaf pairs at cn=1
        star = [(0, i) for i in range(1, 6)]
        assert (
            common_neighbor_pairs(sym(star), max_middle_degree=4).count()
            == 0
        )
        got = common_neighbor_pairs(sym(star), max_middle_degree=5)
        assert got.count() == 10
        assert {r.common_neighbors for r in got.collect()} == {1}
    finally:
        release_tracked()


def _write_orders_lineitem(spark, path, orders, lines):
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def test_late_shipment_boundary_is_strict(spark, tmp_path):
    """Q4-shape boundary: a line shipped EXACTLY 60 days after the
    order date does not qualify (strict >), one second later does, and
    the hand-derived scan bound drops neither — the decorrelation's
    exactness at the edge the pushed filter sits on."""
    import datetime as dt

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    jan1 = dt.datetime(1996, 1, 1)
    mar1 = dt.datetime(1996, 3, 1)  # jan1 + 60 days (leap year)
    orders = [
        (1, 1, "O", 1.0, jan1, "1-URGENT"),   # line at threshold: out
        (2, 1, "O", 1.0, jan1, "2-HIGH"),     # one second past: in
        (3, 1, "O", 1.0, dt.datetime(1995, 12, 31), "3-MEDIUM"),  # window
    ]
    line = (1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O")
    lines = [
        (1,) + line + (mar1,),
        (2,) + line + (mar1 + dt.timedelta(seconds=1),),
        (3,) + line + (dt.datetime(1996, 6, 1),),
    ]
    _write_orders_lineitem(spark, d, orders, lines)
    got = {
        (r.o_orderpriority, r.order_count)
        for r in QUERIES["late_shipment_priority"](spark, d).collect()
    }
    assert got == {("2-HIGH", 1)}


def test_late_shipment_family_equals_undecorrelated_form(spark):
    """The registry plans (max-decorrelation + derived scan bounds)
    equal a direct Spark formulation with NO decorrelation and NO
    derived bound, on real data — the same independence the EXISTS
    oracle provides, proven engine-side."""
    from distributed_computing_spark.registry import QUERIES
    from distributed_computing_spark.sources.catalog import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    late60 = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    alt = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey")) & late60,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )
    got = QUERIES["late_shipment_priority"](spark, SF_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in alt.collect()]

    late30 = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAYS"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    alt12 = (
        li.join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(late30)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("h"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("l"),
        )
        .orderBy("l_returnflag")
    )
    got12 = QUERIES["late_lines_priority_mix"](spark, SF_DIR).collect()
    assert [tuple(r) for r in got12] == [tuple(r) for r in alt12.collect()]


def test_cross_source_contamination_planted_and_capped(spark, tmp_path):
    """Planted cross-source prefix dups: sources A/B share two prefix
    groups, B/C one, A/C none; a prefix held by more sources than the
    cap is dropped entirely (the absolute-cap contract)."""
    from distributed_computing_spark.operators.dedup import (
        cross_source_contamination,
    )

    pref1 = " ".join(f"alpha{i}" for i in range(16))
    pref2 = " ".join(f"beta{i}" for i in range(16))
    pref3 = " ".join(f"gamma{i}" for i in range(16))
    hot = " ".join(f"hot{i}" for i in range(16))
    rows = [
        (1, pref1 + " tail a", "en", "A", 1),
        (2, pref1 + " tail b", "en", "B", 1),
        (3, pref2 + " other a", "en", "A", 1),
        (4, pref2 + " other b", "en", "B", 1),
        (5, pref3 + " x", "en", "B", 1),
        (6, pref3 + " y", "en", "C", 1),
        # the hot prefix spans A, B, C — dropped at max_sources=2
        (7, hot + " p", "en", "A", 1),
        (8, hot + " q", "en", "B", 1),
        (9, hot + " r", "en", "C", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    got = {
        (r.source_a, r.source_b): r.n_shared_prefixes
        for r in cross_source_contamination(docs, max_sources=2).collect()
    }
    assert got == {("A", "B"): 2, ("B", "C"): 1}
    # uncapped: the hot prefix contributes one group to every pair
    got = {
        (r.source_a, r.source_b): r.n_shared_prefixes
        for r in cross_source_contamination(docs, max_sources=64).collect()
    }
    assert got == {("A", "B"): 3, ("B", "C"): 2, ("A", "C"): 1}


def test_user_interarrival_quantiles_matches_bruteforce(spark, tmp_path):
    """Known gap structure: one user's 'click' stream has gaps
    10/20/30/40 s (plus a sub-second pair truncating to 0), a second
    user contributes independent gaps that must not mix with the
    first's stream, and a lone 'view' event yields no gap row. Checked
    against a pure-Python lower-quantile fold."""
    import datetime as dt

    from distributed_computing_spark.registry import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def add(user, typ, offsets_s):
        nonlocal eid
        for off in offsets_s:
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(seconds=off), user, typ, 1.0, "{}")
            )

    add(1, "click", [0, 10, 30, 60, 100, 100.4])  # gaps 10,20,30,40,0
    add(2, "click", [0, 5])                        # gap 5
    add(3, "view", [7])                            # no gap
    d = str(tmp_path / "sf")
    _write_events(spark, d, rows)
    got = {
        (r.event_type, r.q_permille): (r.n_gaps, r.q_gap_s)
        for r in QUERIES["user_interarrival_quantiles"](spark, d).collect()
    }

    def brute(vals, q):
        vals = sorted(vals)
        n = len(vals)
        for i, v in enumerate(vals, start=1):
            if 1000 * i >= q * n:
                return v
        return vals[-1]

    gaps = [10, 20, 30, 40, 0, 5]
    for q in (500, 900, 990):
        assert got[("click", q)] == (len(gaps), brute(gaps, q))
    assert not any(t == "view" for t, _ in got)


def test_segment_revenue_gini_matches_bruteforce(spark):
    """Gini anchors against the textbook rank-sum fold: all-equal ->
    0; one holder of everything -> (N-1)/N; a tied mixed distribution
    must match the pure-Python row_number() sum exactly (tie order
    can't matter — the invariance the block formula relies on)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.analytics import (
        segment_revenue_gini,
    )

    def brute(vals):
        vals = sorted(vals)
        n = len(vals)
        sx = sum(vals)
        srx = sum(r * x for r, x in enumerate(vals, start=1))
        if sx == 0:
            return None
        num = (2 * srx - (n + 1) * sx) * 1_000_000
        t = num // (n * sx)
        return t

    cases = {
        "equal": [5, 5, 5, 5],
        "onehot": [0, 0, 0, 100],
        "tied_mix": [1, 1, 2, 2, 2, 7, 7, 30],
        "single": [42],
    }
    rows = [(g, v) for g, vs in cases.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    try:
        got = {
            r.g: (r.n_members, r.total_value, r.gini_ppm)
            for r in segment_revenue_gini(df, "g", "x").collect()
        }
    finally:
        release_tracked()
    for g, vs in cases.items():
        assert got[g] == (len(vs), str(sum(vs)), brute(vs)), (g, got[g])
    assert got["equal"][2] == 0
    assert got["onehot"][2] == 750_000  # (N-1)/N = 3/4
    assert got["single"][2] == 0


def test_segment_revenue_gini_zero_total_is_null(spark):
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.analytics import (
        segment_revenue_gini,
    )

    df = spark.createDataFrame([("z", 0), ("z", 0)], "g string, x long")
    try:
        rows = segment_revenue_gini(df, "g", "x").collect()
    finally:
        release_tracked()
    assert len(rows) == 1 and rows[0]["gini_ppm"] is None
