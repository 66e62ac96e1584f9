"""Record linkage (operators/linkage.py): pigeonhole completeness vs a
brute-force reference, block-cap determinism, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.operators.linkage import (
    edit_distance_pairs,
    fuzzy_customer_match,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@pytest.mark.slow
def test_matches_brute_force_on_real_names(spark, sf_dir):
    """Every equal-length pair at distance <= 1 is found (pigeonhole is
    complete below the cap), and nothing else is."""
    from distributed_computing_spark.sources.catalog import load_table

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 120)
    names = {r["c_custkey"]: r["c_name"] for r in cust.collect()}
    want = {
        (a, b, _lev(names[a], names[b]))
        for a in names
        for b in names
        if a < b
        and len(names[a]) == len(names[b])
        and _lev(names[a], names[b]) <= 1
    }
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in edit_distance_pairs(cust, "c_custkey", "c_name").collect()
    }
    assert got == want and len(want) > 0


def test_mixed_lengths_and_distance_two(spark):
    """max_dist=2 uses 3 segments; different-length strings never pair
    (the documented equal-length contract)."""
    rows = [
        (1, "abcdef"),
        (2, "abcdxf"),  # 1 sub from 1
        (3, "axcdxf"),  # 2 subs from 1
        (4, "axcxxf"),  # 3 subs from 1 — out
        (5, "abcdefg"),  # longer — never pairs with 1-4
        (6, "abcdefx"),  # 1 sub from 5
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in edit_distance_pairs(df, "id", "name", max_dist=2).collect()
    }
    assert got == {
        (1, 2, 1),
        (1, 3, 2),
        (2, 3, 1),
        (2, 4, 2),
        (3, 4, 1),
        (5, 6, 1),
    }


def test_block_cap_drops_oversized_blocks_deterministically(spark):
    """With max_block=1 every block is oversized, so output is empty —
    the absolute fan-out guard both engines mirror."""
    rows = [(i, f"name{i:04d}") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, name string")
    assert edit_distance_pairs(df, "id", "name", max_block=1).count() == 0
    # and a generous cap restores the full result
    n_full = edit_distance_pairs(df, "id", "name", max_block=512).count()
    assert n_full > 0


def test_candidate_exchange_is_ids_only(spark, sf_dir):
    """The candidate self-join and distinct must not carry name bytes:
    no 'name' attribute appears in any Exchange argument of the plan."""
    import re

    from distributed_computing_spark.plans.inspect import physical_plan

    out = fuzzy_customer_match(spark, sf_dir)
    plan = physical_plan(out)
    blocks = re.findall(r"\(\d+\) Exchange\n(?:.+\n)*?\n", plan + "\n")
    assert blocks, "no Exchange detail blocks parsed — format drift?"
    # the linear name-attach join may legitimately move names once;
    # the PAIR exchanges (anything carrying both a_id and b_id) are the
    # quadratic ones and must stay ids-only
    pair_blocks = [b for b in blocks if "a_id" in b and "b_id" in b]
    assert pair_blocks, "expected at least the distinct-pairs exchange"
    for block in pair_blocks:
        assert "name" not in block, block


def test_fastss_edit1_semantics(spark):
    """Deletion-neighborhood completeness: substitution, insert,
    delete, and exact-dup (dist 0) pairs all surface; dist-2 pairs do
    not; results carry the exact Levenshtein distance."""
    from distributed_computing_spark.operators.linkage import (
        fastss_edit1_pairs,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "ab"), (4, "abcd"), (5, "xyz"),
         (6, "abc")],
        "id long, name string",
    )
    got = sorted(
        (r["a"], r["b"], r["dist"])
        for r in fastss_edit1_pairs(df, "id", "name").collect()
    )
    assert got == [
        (1, 2, 1), (1, 3, 1), (1, 4, 1), (1, 6, 0),
        (2, 3, 1), (2, 4, 1), (2, 6, 1),
        (3, 6, 1), (4, 6, 1),
    ]


def test_fastss_edit1_bucket_cap_drops_oversized(spark):
    """The ABSOLUTE max_bucket guard: a key shared by more than
    max_bucket rows generates no candidates from that bucket (scale
    contract — pairs-within-cap)."""
    from distributed_computing_spark.operators.linkage import (
        fastss_edit1_pairs,
    )

    # 5 identical names share every neighborhood key
    df = spark.createDataFrame(
        [(i, "same") for i in range(5)], "id long, name string"
    )
    assert fastss_edit1_pairs(df, "id", "name", max_bucket=4).count() == 0
    assert fastss_edit1_pairs(df, "id", "name", max_bucket=5).count() == 10
