"""PageRank (operators/graph.py): integer-fold parity against a pure-
Python reference, structural invariants, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.caching import release_tracked
from distributed_computing_spark.operators.graph import (
    _static_session,
    copurchase_edges,
    pagerank,
    pagerank_parts,
)


def _py_pagerank(edges, n_iter=8, scale=10**9, num=85, den=100):
    """Reference fold: same integer arithmetic, plain dicts."""
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    deg = {n: len(vs) for n, vs in out.items()}
    ranks = {n: scale for n in deg}
    teleport = (scale * (den - num)) // den
    for _ in range(n_iter):
        c_in = {n: 0 for n in deg}
        for u, vs in out.items():
            c = ranks[u] // deg[u]
            for v in vs:
                if v in c_in:
                    c_in[v] += c
        ranks = {n: teleport + (num * c_in[n]) // den for n in deg}
    return ranks, deg


@pytest.fixture(scope="module")
def toy_edges():
    # directed, asymmetric, includes a rank sink structure (d has high
    # in-degree) and a 2-cycle — exercises uneven mass flow
    return [
        (1, 2), (2, 1), (1, 3), (3, 4), (2, 4), (4, 1), (5, 4), (5, 1),
        (1, 4), (4, 5),
    ]


@pytest.mark.slow
def test_pagerank_matches_python_reference(spark, toy_edges):
    df = spark.createDataFrame(toy_edges, "src long, dst long")
    got = {
        r["node"]: (r["outdeg"], r["rank_score"])
        for r in pagerank(df, n_iter=8).collect()
    }
    release_tracked()
    ranks, deg = _py_pagerank(toy_edges)
    assert set(got) == set(deg)
    for n in deg:
        assert got[n] == (deg[n], ranks[n]), n


def test_pagerank_uniform_on_symmetric_regular_graph(spark):
    # a 4-cycle traversed both ways: 2-regular symmetric graph, so the
    # stationary distribution is uniform and every iteration must keep
    # rank exactly at the fixed point of the integer fold
    edges = [(i, (i + 1) % 4) for i in range(4)]
    edges += [(b, a) for a, b in edges]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(df, n_iter=3, scale=10**9).collect()
    release_tracked()
    scores = {r["rank_score"] for r in rows}
    assert len(scores) == 1
    # integer fixed point of r = 0.15*S + 0.85*r under truncation sits
    # just below S
    (score,) = scores
    assert 10**9 - 100 <= score <= 10**9


def test_copurchase_edges_symmetric_and_loop_free(spark, sf_dir):
    from distributed_computing_spark.sources.catalog import load_table

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    assert edges.where(F.col("src") == F.col("dst")).count() == 0
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert edges.exceptAll(rev).count() == 0  # same order ⇒ both directions


def test_pagerank_parts_total_mass_and_shape(spark, sf_dir):
    out = pagerank_parts(spark, sf_dir, n_iter=4, k=50)
    rows = out.collect()
    release_tracked()
    assert len(rows) == 50
    assert out.columns == ["p_partkey", "n_neighbors", "rank_score"]
    scores = [r["rank_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # truncating division only loses mass: every rank is positive and
    # bounded by total initial mass
    assert all(0 < s < 2000 * 10**9 for s in scores)


def test_pagerank_iteration_shuffle_budget(spark, toy_edges):
    """Shuffle contract under the broadcast dispatch: the edge table is
    NEVER re-exchanged — each round's only hash exchange is the
    partial-aggregated groupBy(dst), so the whole n_iter chain costs
    n_iter exchanges plus the one-off cache builds. (The naive
    co-partitioned formulation measured 5 exchanges/round: AQE-cached
    relations report unknown partitioning, so edges re-shuffled every
    round.)"""
    from distributed_computing_spark.plans.inspect import count_exchanges

    df = spark.createDataFrame(toy_edges, "src long, dst long")
    n_iter = 4
    pr = pagerank(df, n_iter=n_iter)
    n = count_exchanges(pr)
    release_tracked()
    # one agg exchange per round + at most two one-off cache builds
    assert n <= n_iter + 2, n


@pytest.mark.slow
def test_pagerank_shuffle_fallback_matches_broadcast(spark, toy_edges):
    """Above broadcast_nodes_max the co-partitioned shuffle path must
    produce bit-identical ranks (the dispatch changes the plan, never
    the fold)."""
    df = spark.createDataFrame(toy_edges, "src long, dst long")
    a = {r["node"]: r["rank_score"] for r in pagerank(df, n_iter=5).collect()}
    b = {
        r["node"]: r["rank_score"]
        for r in pagerank(df, n_iter=5, broadcast_nodes_max=0).collect()
    }
    release_tracked()
    assert a == b


# --- triangle counting -------------------------------------------------------


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def _py_triangles(und_pairs):
    """Brute-force reference: count triangles per node."""
    import itertools

    adj = {}
    for a, b in und_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = dict.fromkeys(adj, 0)
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                counts[n] += 1
    return {n: c for n, c in counts.items() if c}


@pytest.mark.slow
@pytest.mark.parametrize(
    "pairs",
    [
        # K4: every node in 3 triangles
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
        # celebrity hub (star) + one closing rim edge: exactly 1 triangle
        [(0, i) for i in range(1, 8)] + [(1, 2)],
        # two triangles sharing an edge + a pendant path (no triangle)
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
    ],
)
def test_triangle_counts_match_bruteforce(spark, pairs):
    from distributed_computing_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    release_tracked()
    assert got == _py_triangles(pairs)


def test_triangle_counts_random_graph_matches_bruteforce(spark):
    import random

    from distributed_computing_spark.operators.graph import triangle_counts

    rng = random.Random(6)
    pairs = sorted(
        {
            (a, b)
            for _ in range(120)
            for a, b in [sorted(rng.sample(range(18), 2))]
        }
    )
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    release_tracked()
    assert got == _py_triangles(pairs)


def test_triangle_edge_iterator_equals_wedge_fallback(spark):
    """Round-12: triangle_counts dispatches between the gated
    edge-iterator fast path (adjacency intersection) and the m^1.5
    wedge join. Small test graphs always take the fast path, so this
    pins the FALLBACK (broadcast_edges_max=0) equal to it — the only
    coverage the wedge shape retains."""
    import random

    from distributed_computing_spark.operators.graph import triangle_counts

    rng = random.Random(12)
    pairs = sorted(
        {
            (a, b)
            for _ in range(140)
            for a, b in [sorted(rng.sample(range(20), 2))]
        }
    )
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    fast = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    release_tracked()
    wedge = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges, broadcast_edges_max=0).collect()
    }
    release_tracked()
    assert fast == wedge == _py_triangles(pairs)


def test_triangle_plan_no_cartesian_and_orientation_bounds_wedges(spark):
    """The wedge join must be an equi-join (no cartesian/BNLJ), and
    orientation must bound the hub's wedge fan-out: in a star graph the
    hub has degree d but oriented out-degree 0 (every edge points AWAY
    from higher-degree nodes... i.e. toward the hub only from rim nodes
    of lower degree) — so a star yields ZERO wedges at the hub."""
    from distributed_computing_spark.operators.graph import triangle_counts
    from distributed_computing_spark.plans import operator_tree

    star = _sym([(0, i) for i in range(1, 30)])
    edges = spark.createDataFrame(star, "src long, dst long")
    out = triangle_counts(edges)
    tree = operator_tree(out)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert out.count() == 0  # star has no triangles
    release_tracked()


def test_triangle_closure_evaluated_once(spark):
    """The per-node count must reference the closure join ONCE
    (explode of array(u,y,z)) — a 3-way union would re-run the whole
    wedge closure three times — and the oriented edge table must be
    read through its cache at each of its three reference sites."""
    from distributed_computing_spark.operators.graph import triangle_counts
    from distributed_computing_spark.plans import operator_tree

    edges = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (1, 3)]), "src long, dst long"
    )
    tree = operator_tree(triangle_counts(edges))
    # >= 3: the oriented-edge cache at its three reference sites;
    # round-12 also persists the node-sized degree table (its two
    # join references + its appearance inside cached build plans push
    # the raw count past 3, so the pin is a floor, not an equality).
    assert tree.count("InMemoryTableScan") >= 3
    assert "Union" not in tree
    release_tracked()


# --- k-core decomposition ----------------------------------------------------


def _py_kcore(pairs, k):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        dead = {n for n in alive if len(adj[n] & alive) < k}
        if not dead:
            return {n: len(adj[n] & alive) for n in alive}
        alive -= dead


@pytest.mark.parametrize("k", [2, 3])
def test_kcore_matches_python_reference(spark, k):
    import random

    from distributed_computing_spark.operators.graph import kcore

    rng = random.Random(21)
    pairs = sorted(
        {
            (a, b)
            for _ in range(90)
            for a, b in [sorted(rng.sample(range(25), 2))]
        }
    )
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    out, rounds = kcore(edges, k)
    got = {r["node"]: r["core_deg"] for r in out.collect()}
    release_tracked()
    assert got == _py_kcore(pairs, k)
    assert rounds >= 1


def test_kcore_peels_pendant_chain_into_triangle(spark):
    """A triangle with a pendant path: the 2-core is exactly the
    triangle (the chain peels away over multiple cascading rounds)."""
    from distributed_computing_spark.operators.graph import kcore

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    out, rounds = kcore(edges, 2)
    got = {r["node"]: r["core_deg"] for r in out.collect()}
    release_tracked()
    assert got == {1: 2, 2: 2, 3: 2}
    assert rounds >= 3  # the chain peels one node per round


def test_kcore_nonconverged_fallback_keeps_row_contract(spark):
    """ADVICE r7: when max_rounds exhausts before the fixpoint, the
    fallback must still return only core_deg >= k rows (degrees
    recomputed over the FINAL survivor set) — sub-k nodes must not
    leak through the exhausted path."""
    from distributed_computing_spark.operators.graph import kcore

    # triangle + pendant chain needs 4 peels to converge at k=2
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    out, rounds = kcore(edges, 2, max_rounds=2)
    got = {r["node"]: r["core_deg"] for r in out.collect()}
    release_tracked()
    assert rounds == 2
    # survivor set after 2 peels is {1,2,3,4}; node 4 has degree 1
    # within it and must be filtered, node 3 counts only live edges
    assert got == {1: 2, 2: 2, 3: 3}


def test_kcore_whole_graph_survives_small_k(spark):
    from distributed_computing_spark.operators.graph import kcore

    pairs = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    out, rounds = kcore(edges, 1)
    assert out.count() == 3 and rounds <= 2
    release_tracked()


# ---------------------------------------------------------------------------
# Multi-source BFS (hop-capped distances)
# ---------------------------------------------------------------------------


def _py_bfs(pairs, n_seeds, max_hops):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(adj)[:n_seeds]
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        if not nxt:
            break
        frontier = nxt
    return dist


def test_bfs_matches_python_reference(spark):
    from distributed_computing_spark.operators.graph import bfs_hops

    # two chains off a hub + an unreachable component
    pairs = [
        (1, 2), (2, 5), (5, 6), (6, 7), (1, 3), (3, 8),
        (100, 101), (101, 102),
    ]
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(edges, n_seeds=2, max_hops=8).collect()
    }
    release_tracked()
    assert got == _py_bfs(pairs, n_seeds=2, max_hops=8)


def test_bfs_hop_cap_excludes_beyond(spark):
    from distributed_computing_spark.operators.graph import bfs_hops

    chain = [(i, i + 1) for i in range(1, 8)]  # path 1-2-...-8
    edges = spark.createDataFrame(_sym(chain), "src long, dst long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(edges, n_seeds=1, max_hops=3).collect()
    }
    release_tracked()
    # seed = node 1; only nodes within 3 hops appear
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_early_exit_equals_full_unroll(spark):
    from distributed_computing_spark.operators.graph import bfs_hops

    pairs = [(1, 2), (2, 3), (3, 1)]
    edges = spark.createDataFrame(_sym(pairs), "src long, dst long")
    short = {
        (r["node"], r["dist"])
        for r in bfs_hops(edges, n_seeds=1, max_hops=2).collect()
    }
    long = {
        (r["node"], r["dist"])
        for r in bfs_hops(edges, n_seeds=1, max_hops=16).collect()
    }
    release_tracked()
    assert short == long  # post-fixpoint rounds are no-ops


def test_edges_supported_filters_by_order_count(spark):
    from distributed_computing_spark.operators.graph import (
        copurchase_edges_supported,
    )

    rows = [
        # pair (10,11) in two orders; (10,12) in one
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["src"], r["dst"])
        for r in copurchase_edges_supported(li, min_support=2).collect()
    }
    assert got == {(10, 11), (11, 10)}


def _py_bellman_ford(wpairs, n_seeds, rounds):
    adj = {}
    for a, b, w in wpairs:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    seeds = sorted(adj)[:n_seeds]
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, d in dist.items():
            for v, w in adj[u]:
                if v not in nxt or d + w < nxt[v]:
                    nxt[v] = d + w
        dist = nxt
    return dist


def test_bellman_ford_matches_python_reference(spark):
    from distributed_computing_spark.operators.graph import bellman_ford_hops

    # weighted: the 2-hop detour (1-3-4, cost 3) beats the direct
    # heavy edge (1-4, cost 10)
    wpairs = [(1, 2, 5), (1, 3, 1), (3, 4, 2), (1, 4, 10), (4, 5, 1)]
    rows = []
    for a, b, w in wpairs:
        rows += [(a, b, w), (b, a, w)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r["node"]: r["d"]
        for r in bellman_ford_hops(edges, n_seeds=1, max_rounds=6).collect()
    }
    release_tracked()
    assert got == _py_bellman_ford(wpairs, n_seeds=1, rounds=6)
    assert got[4] == 3  # detour beat the direct edge


def test_bellman_ford_hop_cap_is_path_length_semantics(spark):
    from distributed_computing_spark.operators.graph import bellman_ford_hops

    # chain 1-2-3-4 with unit weights: with 2 rounds node 4 unreachable
    wpairs = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    rows = []
    for a, b, w in wpairs:
        rows += [(a, b, w), (b, a, w)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r["node"]: r["d"]
        for r in bellman_ford_hops(edges, n_seeds=1, max_rounds=2).collect()
    }
    release_tracked()
    assert got == {1: 0, 2: 1, 3: 2}


def test_edges_weighted_truncating_div(spark):
    from distributed_computing_spark.operators.graph import (
        copurchase_edges_weighted,
    )

    rows = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 11)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges_weighted(li, min_support=2).collect()
    }
    assert got == {(10, 11): 333, (11, 10): 333}  # 1000 div 3


import pytest


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 19, 43])
def test_bellman_ford_random_graphs_match_reference(spark, seed):
    """Seeded random weighted graphs vs the python reference — the
    relax/fold plan and the driver-side model must agree on multi-seed
    frontiers, unreachable nodes, and tie weights."""
    import random

    from distributed_computing_spark.operators.graph import bellman_ford_hops

    rng = random.Random(seed)
    n = 12
    wpairs = sorted(
        {
            (a, b)
            for _ in range(20)
            for a, b in [sorted(rng.sample(range(1, n + 1), 2))]
        }
    )
    wpairs = [(a, b, rng.randint(1, 9)) for a, b in wpairs]
    rows = []
    for a, b, w in wpairs:
        rows += [(a, b, w), (b, a, w)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r["node"]: r["d"]
        for r in bellman_ford_hops(edges, n_seeds=3, max_rounds=4).collect()
    }
    release_tracked()
    assert got == _py_bellman_ford(wpairs, n_seeds=3, rounds=4)


# --- the AQE-off clone behind the graph gates -------------------------------


def test_graph_gates_build_on_an_aqe_off_clone(spark, sf_dir):
    aqe, parts = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    before = (spark.conf.get(aqe), spark.conf.get(parts))
    try:
        clone = pagerank_parts(spark, sf_dir).sparkSession
        assert clone is not spark
        assert (clone.conf.get(aqe), clone.conf.get(parts)) == ("false", "8")
        other = _static_session(spark, 16)
        assert (other.conf.get(aqe), other.conf.get(parts)) == ("false", "16")
        assert (spark.conf.get(aqe), spark.conf.get(parts)) == before
    finally:
        release_tracked()
