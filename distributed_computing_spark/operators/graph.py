"""Iterative graph analytics over DataFrames: PageRank on the
co-purchase graph.

The reference has no graph surface; this is EXT coverage alongside the
near-dup connected-components closure (dedup.cluster_neardups) — the
OTHER canonical iterative-distributed algorithm, with per-round numeric
state instead of label propagation.

Design for 100 TB:
- The edge table is built once (per-order bounded self-join, the same
  per-basket fan-out discipline as copurchase_pairs) and persisted;
  it is never re-exchanged — vertex state travels to the edges.
- One iteration = map-side edge join against BROADCAST vertex
  contributions plus one partial-aggregated groupBy(dst): the Pregel
  message-passing step with exactly one (node-sized-output) shuffle
  per round. Above the broadcast threshold it degrades to shuffle
  joins. No driver-side state beyond the loop counter.
- All arithmetic is INTEGER (rank mass scaled by ``scale``): sums of
  longs are order-independent, so the result is bit-exact against the
  unrolled-CTE DuckDB oracle (same trick that made BPE/MinHash exact),
  and ANSI overflow is impossible while n_nodes * scale * damping_num
  stays under 2^63 (~1e8 nodes at the default scale=1e9).

Contract notes: teleport mass uses integer ``(scale * damping_num)``
splits with truncating division on both engines (`div` / `//` truncate
toward zero; all values here are non-negative). Nodes are defined as
edge endpoints (an isolated part never enters the graph); the
co-purchase graph is symmetric, so every node has outdeg >= 1 and no
dangling-mass redistribution is needed — asserted, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_spark.caching import track_persist


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase edge list: (src, dst) part pairs sharing an
    order, both directions, deduplicated. Fan-out is bounded per order
    (items² within one basket), never cross-order.

    Plan (round 6 rewrite, measured 22.5 s → ~8 s at the 20× tier):
    ONE exchange builds per-order baskets (collect_set dedups within
    the order map-side-combined); a < b pairs explode from each sorted
    basket map-side (the postings pattern — an equi-self-join on
    l_orderkey would exchange the lineitems twice and sort both
    sides); the pair distinct then exchanges HALF the pair volume
    (ordered pairs only), and the symmetric form is a map-side explode
    of (a→b, b→a) after the distinct — a single Generate, so the
    distinct isn't re-evaluated (subtree-reuse rule)."""
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    und = (
        baskets.select(F.posexplode("ps").alias("_i", "a"), "ps")
        .select(
            "a",
            F.explode(
                F.expr("slice(ps, _i + 2, size(ps) - _i - 1)")
            ).alias("b"),
        )
        .distinct()
    )
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank(
    edges: DataFrame,
    n_iter: int = 8,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
    broadcast_nodes_max: int = 5_000_000,
) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list.

    r_0(v) = scale;
    c_t(u) = r_{t-1}(u) div outdeg(u);
    r_t(v) = (scale * (den - num)) div den
             + (num * sum_{u->v} c_t(u)) div den.

    Returns (node, outdeg, rank_score) for every node. The iteration
    chain is lazy — one job executes all rounds.

    Shuffle contract (the thing that matters at 100 TB): the edge
    table is persisted ONCE and never re-exchanged. Vertex state is
    node-sized, typically orders of magnitude smaller than the edges,
    so when the measured node count fits ``broadcast_nodes_max`` each
    round joins edges against a BROADCAST of (src → contribution) —
    the only shuffle per round is the partial-aggregated
    ``groupBy(dst)``, which reduces edge-sized messages to node-sized
    partials map-side (plan-asserted in tests/test_graph.py). Above
    the threshold it degrades to co-partitioned shuffle joins (the
    vertex state would blow executor memory as a broadcast — same
    enforced-dispatch discipline as dedup.decontaminate). A naive
    formulation instead re-shuffles the EDGES every round — AQE-cached
    relations report unknown partitioning, so caching alone does not
    co-locate them; that dead end is why the broadcast form exists.
    """
    edges = track_persist(edges)
    deg = track_persist(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
    )
    # Bounded: one row per distinct source; this count also dispatches
    # the join strategy, so the contract is measured, not assumed.
    n_nodes = deg.count()
    use_broadcast = n_nodes <= broadcast_nodes_max
    teleport = (scale * (damping_den - damping_num)) // damping_den
    # Round-12 optimization: the loop state is the incoming-mass table
    # c_in (NULL-able per node), and the rank expression folds INTO the
    # next round's contribution build — the old shape materialized TWO
    # node-sized broadcasts per round (contrib, then c_in for the
    # ranks left-join); this one materializes ONE (the contrib subtree,
    # whose plan contains the deg-left-join and the rank expression).
    # Arithmetic is unchanged and still two separate truncating
    # divisions: rank = teleport + (num·coalesce(c_in,0)) div den,
    # then c = rank div outdeg — bit-identical to the unrolled oracle.
    # Measured at sf0.1 (8 rounds): ~12.1 s → see OPTIMIZATION_r12.md.
    rank_expr = (
        F.lit(teleport)
        + F.expr(f"({damping_num} * coalesce(c_in, 0L)) div {damping_den}")
    ).cast("long")
    c_in = None
    for t in range(n_iter):
        if t == 0:
            # r_0(v) = scale for every node: the first contribution
            # comes straight off the persisted degree table.
            contrib = deg.select(
                F.col("node").alias("src"),
                F.expr(f"cast({scale} as bigint) div outdeg").alias("c"),
            )
        else:
            # LEFT join from the node universe: a node with no
            # in-edges still receives teleport mass (can't happen on
            # the symmetric co-purchase graph, but the operator
            # shouldn't assume it).
            contrib = (
                deg.join(
                    F.broadcast(c_in) if use_broadcast else c_in,
                    "node",
                    "left",
                )
                .select("node", "outdeg", rank_expr.alias("rank"))
                .select(
                    F.col("node").alias("src"),
                    F.expr("rank div outdeg").alias("c"),
                )
            )
        if use_broadcast:
            contrib = F.broadcast(contrib)
        c_in = (
            edges.join(contrib, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("c_in"))
        )
    ranks = (
        deg.join(F.broadcast(c_in) if use_broadcast else c_in, "node", "left")
        .select("node", "outdeg", rank_expr.alias("rank"))
    )
    return ranks.select("node", "outdeg", F.col("rank").alias("rank_score"))


def pagerank_parts(
    spark: SparkSession, sf_dir: str, n_iter: int = 8, k: int = 100
) -> DataFrame:
    """Registry query: top-k parts of the co-purchase graph by
    integer-scaled PageRank, deterministically tie-broken by part key.

    Round-13 (VERDICT r12 item 2, measured): the iteration runs on a
    CLONED session with AQE off when the graph's node count is
    metadata-bounded small (part-table footer count — the
    ``n_queries_bound`` gate pattern). Every exchange in the
    below-gate plan is either a broadcast-join map side or a
    node-sized aggregate, so AQE's coalesce/skew machinery has nothing
    to optimize, while its per-stage re-planning taxes all
    8 · 2 stages: interleaved A/B at sf0.1 measured AQE-off winning
    every pair (warm 3.74/3.77/3.72 s vs 4.5/3.78/4.25 s; fresh-session
    first run 12.8-13.7 s vs 14.7-15.5 s — the driver-bench regime).
    The two deeper re-plans VERDICT suggested were probed and REJECTED
    on measurement (tools/probe_pagerank_{b5,fold}.py): the
    driver-fold Arrow pass lost 5× (40-47 s — the interpreted
    dict-loop class), and folding rank into the round aggregate via a
    dst_outdeg-carrying edge table lost ~10% (the extra persist build
    + no-in-edge union legs cost more than the removed stage). Above
    the bound the session is untouched — at that scale the per-round
    joins shuffle and AQE's join machinery earns its keep.
    """
    from distributed_computing_spark.sources.catalog import load_table, table_rows

    # parquet-footer bound: part cardinality >= distinct co-purchase
    # graph nodes; metadata-only, no data scan (broadcast-gate rule)
    if table_rows(spark, sf_dir, "part") <= 5_000_000:
        s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        # With AQE off there is no runtime coalescing, so every
        # node-sized per-round exchange (the groupBy(dst) aggregates)
        # would run at the session's static 32 shuffle partitions —
        # 64 reduce tasks of dispatch per round for data the gate
        # bounds at <= 5 M rows (~625 k rows / ~10 MB per partition at
        # 8). Interleaved A/B at sf0.1 (local[32], warm): 8 partitions
        # 2.5-4.0 s vs 32's 5.6-6.4; 2/4/16 all measured worse
        # (4.0-5.5). Sized for the GATED regime, not the cluster —
        # above the gate the untouched session's AQE does the sizing.
        s.conf.set("spark.sql.shuffle.partitions", "8")
    else:
        s = spark
    edges = copurchase_edges(load_table(s, sf_dir, "lineitem"))
    pr = pagerank(edges, n_iter=n_iter)
    return (
        pr.orderBy(F.col("rank_score").desc(), F.col("node").asc())
        .select(
            F.col("node").alias("p_partkey"),
            F.col("outdeg").alias("n_neighbors"),
            "rank_score",
        )
        .limit(k)
    )


def pagerank_oracle_sql(
    n_iter: int = 8,
    scale: int = 10**9,
    damping_num: int = 85,
    damping_den: int = 100,
    k: int = 100,
) -> str:
    """Generated unrolled-CTE DuckDB oracle for ``pagerank_parts`` —
    the BPE/MinHash generated-SQL trick applied to the rank iteration.
    Every round is one MATERIALIZED CTE (without the hint DuckDB
    re-inlines the chain exponentially; see CLAUDE.md round-4 note).
    `//` and Spark's `div` both truncate toward zero; all values are
    non-negative, so the folds agree bit-for-bit."""
    teleport = (scale * (damping_den - damping_num)) // damping_den
    parts = [
        """WITH edges AS MATERIALIZED (
  SELECT DISTINCT la.l_partkey AS src, lb.l_partkey AS dst
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey <> lb.l_partkey),
deg AS MATERIALIZED (
  SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
r0 AS MATERIALIZED (
  SELECT node, CAST(%d AS BIGINT) AS rank FROM deg)"""
        % scale
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT d.node,
         CAST({teleport} + ({damping_num} * COALESCE(s.c_in, 0)) // {damping_den}
              AS BIGINT) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d2.outdeg) AS c_in
    FROM r{t - 1} r
    JOIN deg d2 ON r.node = d2.node
    JOIN edges e ON e.src = r.node
    GROUP BY 1) s ON d.node = s.node)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT r.node AS p_partkey, d.outdeg AS n_neighbors, r.rank AS rank_score
FROM r{n_iter} r JOIN deg d ON r.node = d.node
ORDER BY rank_score DESC, p_partkey ASC
LIMIT {k}"""
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered wedge closure)
# ---------------------------------------------------------------------------


def triangle_counts(
    edges: DataFrame, broadcast_edges_max: int = 10_000_000
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    SYMMETRIC directed edge list (both directions present, no self
    loops — what ``copurchase_edges`` emits).

    The classic distributed formulation (Suri & Vassilvitskii's MR
    algorithm): orient every undirected edge from its lower to its
    higher endpoint under the total order (degree, node id); a
    triangle {a,b,c} then materializes exactly once, as the wedge at
    its lowest vertex closed by one oriented edge. Orientation is THE
    scale lever: a node's oriented out-degree is O(sqrt(m)) on any
    graph, so wedge generation is bounded by m^1.5 total — without it
    a single celebrity node with degree d contributes d^2 wedges.

    Round-12 fast path (edge iterator): when the MEASURED oriented
    edge count fits ``broadcast_edges_max``, wedges are never
    materialized as rows at all. The oriented adjacency sets
    ``N+(u) = collect_set(v)`` are a node-keyed aggregate whose TOTAL
    payload is the oriented edge set itself, so the measured count
    gates the broadcast (the sweep's broadcast-of-aggregate rule
    alone would under-audit it — the group key is part-cardinality,
    which SCALES with SF); each oriented edge (u,y) then intersects
    ``N+(u) ∩ N+(y)`` map-side: a triangle {u,y,z} (oriented u→y,
    u→z, y→z) is found EXACTLY ONCE, at its (u,y) edge — (u,z) misses
    it because y ∉ N+(z), (y,z) because u ∉ anything it probes — and
    the per-node attribution is (u, |Z|), (y, |Z|), (z, 1) per
    closing z ∈ Z. Rows into the final aggregate drop from
    O(m^1.5) wedges to 2·m + n_triangles (measured at sf0.1: 41 M
    wedges → 2.4 M + tri; warm 8.2-11.5 s → 3.9-5.3 s, full-table
    diff 0). The inner joins are safe: a node with no out-edges is
    absent from adj, but any edge it drops has an empty intersection
    and would only emit weight-0 rows.

    Above the gate, the proven wedge-join shape stands: degrees are
    one partial-aggregated groupBy; the wedge self-join exchanges
    oriented edges on u once; the closure is an equi-join of wedges
    against oriented edges on (v, w) — ids and degree longs only,
    three exchanges total, no cartesian anywhere, nothing wider than
    id/degree longs ever shuffles.

    Round-13 gate calibration (VERDICT r12 item 3 — the gate's blind
    side closed at a far tier): on the part-key-scaling ``pklineitem``
    replica (R disconnected copies of the sf0.1 graph) the gate FLIPS
    at R8 (9.57 M oriented edges): wedge fallback 97.8/41.3 s
    (cold/warm) vs the forced fast path 30.2/20.5 s — full-table
    ``exceptAll`` 0 both directions — while R4 (4.78 M) rides the fast
    path at 17.0/12.1 s. The fast path winning 2x at 9.6 M edges moved
    the default gate 5 M → 10 M: broadcast memory is 2 relations x
    ~(8 B x |oe|) payload (~80 MB raw, ~3-4x that as a HashedRelation)
    — measured safe under the default 8 g local heap; above 10 M the
    m^1.5 wedge join stands (plan pinned in
    test_triangle_above_gate_wedge_plan_shape). The gate's
    ``oe.count()`` rides the persisted edge cache every consumer reads
    (measured 3.6-6.0 s at R4/R8 INCLUDING the edge build the query
    pays anyway).
    """
    und = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    # symmetric directed list → out-degree == undirected degree.
    # Node-sized and referenced twice (the a- and b-side degree
    # joins): persisted so the second reference reads the cache
    # instead of re-scanning the edge list (round-12 optimization —
    # shared-subtree rule at the node scale).
    deg = track_persist(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
    )
    j = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("d", "da")
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b"
        )
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oe = j.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    oe = track_persist(oe)  # reused three times (e1, e2, closure probe)
    n_oedges = oe.count()  # also warms the cache every consumer reads
    if n_oedges <= broadcast_edges_max:
        adj = track_persist(
            oe.groupBy("u").agg(F.collect_set("v").alias("ns"))
        )
        eb = (
            oe.select("u", "v")
            .join(F.broadcast(adj), "u")
            .join(
                F.broadcast(
                    adj.select(
                        F.col("u").alias("v"), F.col("ns").alias("ns_v")
                    )
                ),
                "v",
            )
        )
        inter = F.array_intersect("ns", "ns_v")
        contrib = (
            eb.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(
                                F.col("u").alias("node"),
                                F.size(inter).cast("long").alias("w"),
                            ),
                            F.struct(
                                F.col("v").alias("node"),
                                F.size(inter).cast("long").alias("w"),
                            ),
                        ),
                        F.expr(
                            "transform(array_intersect(ns, ns_v),"
                            " z -> struct(z as node,"
                            " cast(1 as bigint) as w))"
                        ),
                    )
                ).alias("c")
            ).select("c.node", "c.w")
        )
        return (
            contrib.groupBy("node")
            .agg(F.sum("w").cast("long").alias("n_triangles"))
            .where(F.col("n_triangles") > 0)
        )
    e1 = oe.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    e2 = oe.select(
        F.col("u"), F.col("v").alias("z"), F.col("dv").alias("dz")
    )
    wedge_lt = (F.col("dy") < F.col("dz")) | (
        (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z"))
    )
    wedges = e1.join(e2, "u").where(wedge_lt).select("u", "y", "z")
    closer = oe.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closer, ["y", "z"])
    # ONE reference to the closure: a 3-way unionAll would make
    # Catalyst re-evaluate the entire wedge join three times
    # (CLAUDE.md subtree-reuse rule) — explode(array(...)) emits the
    # same three member rows in a single Generate over one evaluation.
    members = tri.select(
        F.explode(F.array("u", "y", "z")).alias("node")
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def copurchase_triangles(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Registry query: top-k parts by co-purchase triangle membership
    (ties broken by part id) — integer counts, exactly oracle-checkable
    against the three-way self-join in SQL.

    The edge list PERSISTS here (round-12 optimization): inside
    ``triangle_counts`` the un-persisted edges subtree is referenced by
    ``und`` and twice by the degree joins, so the basket-explode edge
    build (groupBy + pair distinct — the expensive exchanges) ran THREE
    times in the oe-persist's build plan. clustering_coefficients
    already applied the shared-subtree rule; this query had missed it.
    Measured at the R20 crossover replica: 23.2 s → see
    OPTIMIZATION_r12.md.

    Round-13: like pagerank_parts, the small-fact regime runs on an
    AQE-off clone with static shuffle partitions 16. Every exchange in
    this query is lineitem-bounded (basket groupBy, pair distinct) or
    smaller (degrees, oriented edges, contributions), so the clone is
    gated on the LINEITEM parquet-footer count (<= 10 M rows →
    <= ~10 MB/partition at 16) — metadata-only, no scan. Interleaved
    A/B at sf0.1 (local[32]): clone wins 6/7 pairs, warm 3.4-4.6 s vs
    3.8-4.9 (and 4.4 vs 7.3 cold); above the bound the session is
    untouched and AQE's coalesce/skew machinery keeps the fact
    exchanges healthy. The wedge fallback is triangle_counts' own 10 M
    oriented-edge gate: pk-R8 (9.57 M edges) takes the fast path, and
    the wedge tiers start at pk-R16."""
    from distributed_computing_spark.sources.catalog import load_table, table_rows

    if table_rows(spark, sf_dir, "lineitem") <= 10_000_000:
        s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", "16")
    else:
        s = spark
    edges = track_persist(copurchase_edges(load_table(s, sf_dir, "lineitem")))
    out = (
        triangle_counts(edges)
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(k)
        .select(F.col("node").alias("p_partkey"), "n_triangles")
    )
    return out


def triangles_oracle_sql(k: int = 20) -> str:
    """Exact DuckDB oracle: identical orientation and wedge closure;
    MATERIALIZED on every multiply-referenced CTE (CLAUDE.md rule)."""
    return f"""
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
  UNION ALL SELECT z FROM tri)
SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
FROM members GROUP BY node
ORDER BY n_triangles DESC, p_partkey ASC
LIMIT {k}"""


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------


def kcore(
    edges: DataFrame, k: int, max_rounds: int = 16
) -> tuple[DataFrame, int]:
    """Nodes of the k-core (maximal subgraph where every node keeps
    degree >= k) of a SYMMETRIC directed edge list, with each node's
    final within-core degree. Returns (DataFrame(node, core_deg),
    rounds_used).

    Iterative peeling: drop nodes whose degree within the surviving
    subgraph is < k, recompute, repeat to fixpoint. Like the near-dup
    closure, the driver holds ONLY loop control (one bounded count per
    round); per round the plan is one partial-aggregated degree
    groupBy over edges semi-joined against the broadcast survivor set
    — the edge table is persisted once and never re-exchanged, the
    survivor set is node-sized. Peeling is monotone (survivor sets
    only shrink), so extra rounds after the fixpoint are no-ops — the
    property the unrolled-CTE oracle leans on (it unrolls a FIXED
    round count; `kcore_parts` raises loudly if the data ever needs
    more than the oracle has, the BPE all-rounds-fire discipline).

    Non-converged contract (``rounds == max_rounds`` without a
    fixpoint): the returned rows are the nodes that would survive the
    (max_rounds+1)-th peel — degrees recomputed over the FINAL
    survivor set (never a stale earlier round's — ADVICE r6), then
    filtered ``core_deg >= k`` like every converged return (ADVICE
    r7: the fallback must not change the row contract). It is still
    intermediate state: callers needing the true k-core must check
    ``rounds`` and re-run with a larger budget (kcore_parts raises).
    """
    from distributed_computing_spark.caching import track_persist

    edges = track_persist(edges)
    alive = None  # None = every node alive
    n_alive = -1
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        e = edges
        if alive is not None:
            e = e.join(F.broadcast(alive), "src").join(
                F.broadcast(alive.withColumnRenamed("src", "dst")), "dst"
            )
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg"))
        nxt = track_persist(deg.where(F.col("core_deg") >= k))
        n_nxt = nxt.count()  # bounded: node-sized; also materializes
        if n_nxt == n_alive:
            return nxt.withColumnRenamed("src", "node"), rounds
        alive, n_alive = nxt.select("src"), n_nxt
    # max_rounds exhausted without a fixpoint: recompute the degree over
    # the FINAL survivor set (a stale earlier round's deg could
    # overstate it — ADVICE r6) and re-apply the >= k filter so the row
    # contract matches the converged path (ADVICE r7). See docstring.
    final = alive if alive is not None else edges.select("src").distinct()
    e = edges.join(F.broadcast(final), "src").join(
        F.broadcast(final.withColumnRenamed("src", "dst")), "dst"
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg"))
    return (
        deg.where(F.col("core_deg") >= F.lit(k)).withColumnRenamed(
            "src", "node"
        ),
        rounds,
    )


def kcore_parts(
    spark: SparkSession, sf_dir: str, k: int = 80, oracle_rounds: int = 16
) -> DataFrame:
    """Registry query: the k-core of the co-purchase graph (node +
    within-core degree). Raises if convergence needs more rounds than
    the oracle unrolls — the oracle is then invalid, fail loudly."""
    from distributed_computing_spark.sources.catalog import load_table

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    out, rounds = kcore(edges, k, max_rounds=oracle_rounds)
    if rounds >= oracle_rounds:
        raise ValueError(
            f"k-core peeling used {rounds} rounds; the unrolled oracle "
            f"covers {oracle_rounds} — regenerate with more rounds"
        )
    return out.select(
        F.col("node").alias("p_partkey"), F.col("core_deg").cast("long")
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Multi-source BFS (hop-capped shortest distances)
# ---------------------------------------------------------------------------


def copurchase_edges_supported(
    lineitem: DataFrame, min_support: int = 2
) -> DataFrame:
    """Support-filtered symmetric co-purchase edges: keep a part pair
    only if it co-occurs in >= min_support distinct orders. Same
    basket-explode build as ``copurchase_edges`` (one exchange for
    baskets, ordered pairs exchanged once at half volume), with the
    per-pair order count as the support filter before the symmetric
    explode — the filter runs at the pair-aggregation stage, so the
    dense support-1 noise (97% of pairs on this data) never reaches
    the symmetric form or any consumer join."""
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    sup = (
        baskets.select(F.posexplode("ps").alias("_i", "a"), "ps")
        .select(
            "a",
            F.explode(
                F.expr("slice(ps, _i + 2, size(ps) - _i - 1)")
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    return sup.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def bfs_hops(
    edges: DataFrame, n_seeds: int = 10, max_hops: int = 8
) -> DataFrame:
    """Min-hop distance (capped at ``max_hops``) from the seed set —
    the ``n_seeds`` lowest node ids — over a symmetric edge list.
    Returns (node, dist) for every reached node.

    Frontier expansion with driver-held loop control only (the
    neardup-closure/kcore discipline): the edge table is persisted
    once and never re-exchanged; each round joins edges against the
    BROADCAST frontier (node-sized), distincts the candidate dst ids
    (the round's one id-only exchange), and anti-joins the broadcast
    visited set. Early exit on an empty frontier is safe because
    "dist <= H" semantics are monotone — extra rounds are no-ops,
    which is also what makes the FIXED-unroll oracle exact
    (``bfs_oracle_sql``), the kcore argument in the other direction.
    """
    edges = track_persist(edges)
    # localCheckpoint (not persist) on the per-round state: each
    # round's frontier references BOTH the previous frontier and the
    # previous visited set, so raw lineage DOUBLES per hop — 8 rounds
    # built a 2^8-copies-of-the-edge-build logical tree whose explain
    # string alone OOMed the driver (the bpe.py nesting lesson; persist
    # caches execution but leaves the logical plan intact). Each round
    # cuts to a materialized node-sized leaf; `visited` then grows as a
    # LINEAR union of leaves.
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
        .localCheckpoint(eager=True)
    )
    visited = seeds.withColumn("dist", F.lit(0).cast("long"))
    frontier = seeds
    for h in range(1, max_hops + 1):
        cand = (
            edges.join(
                F.broadcast(frontier.withColumnRenamed("node", "src")),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            cand.join(
                F.broadcast(visited.select("node")), "node", "left_anti"
            )
            .withColumn("dist", F.lit(h).cast("long"))
            .localCheckpoint(eager=True)
        )
        if new.count() == 0:  # bounded: node-sized frontier
            break
        visited = visited.union(new)
        frontier = new.select("node")
    return visited


def copurchase_bfs(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = 2,
    n_seeds: int = 10,
    max_hops: int = 8,
) -> DataFrame:
    """Registry query: hop-capped multi-source BFS over the
    support-filtered co-purchase graph — (p_partkey, dist) for every
    part within ``max_hops`` of the ``n_seeds`` lowest part ids."""
    from distributed_computing_spark.sources.catalog import load_table

    edges = copurchase_edges_supported(
        load_table(spark, sf_dir, "lineitem"), min_support
    )
    return (
        bfs_hops(edges, n_seeds=n_seeds, max_hops=max_hops)
        .select(F.col("node").alias("p_partkey"), "dist")
        .orderBy("dist", "p_partkey")
    )


def bfs_oracle_sql(
    min_support: int = 2, n_seeds: int = 10, max_hops: int = 8
) -> str:
    """Fixed-unroll BFS oracle: one (frontier, visited) CTE pair per
    hop; exact at any convergence point because post-fixpoint rounds
    produce empty frontiers (see ``bfs_hops``)."""
    parts = [
        f"""op AS MATERIALIZED (
  SELECT DISTINCT la.l_orderkey AS ok, la.l_partkey AS a, lb.l_partkey AS b
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey < lb.l_partkey),
sup AS MATERIALIZED (
  SELECT a, b FROM op GROUP BY a, b HAVING count(*) >= {min_support}),
edges AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM sup
  UNION ALL SELECT b AS src, a AS dst FROM sup),
f0 AS MATERIALIZED (
  SELECT node FROM (
    SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT {n_seeds})),
v0 AS MATERIALIZED (SELECT node, 0 AS dist FROM f0)"""
    ]
    for t in range(1, max_hops + 1):
        parts.append(
            f"""f{t} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN f{t - 1} p ON e.src = p.node
  WHERE NOT EXISTS (
    SELECT 1 FROM v{t - 1} v WHERE v.node = e.dst)),
v{t} AS MATERIALIZED (
  SELECT node, dist FROM v{t - 1}
  UNION ALL SELECT node, {t} AS dist FROM f{t})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist
FROM v{max_hops}
ORDER BY dist, p_partkey"""
    )


# ---------------------------------------------------------------------------
# Hop-capped weighted shortest paths (Bellman-Ford relaxation)
# ---------------------------------------------------------------------------


def copurchase_edges_weighted(
    lineitem: DataFrame, min_support: int = 2, weight_scale: int = 1000
) -> DataFrame:
    """Symmetric co-purchase edges with an integer weight
    ``weight_scale div support`` — stronger co-purchase = shorter
    edge. Same basket-explode build as ``copurchase_edges_supported``
    (truncating div matches DuckDB ``//`` on the non-negative
    domain)."""
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    sup = (
        baskets.select(F.posexplode("ps").alias("_i", "a"), "ps")
        .select(
            "a",
            F.explode(
                F.expr("slice(ps, _i + 2, size(ps) - _i - 1)")
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
        .select("a", "b", F.expr(f"{weight_scale} div support").alias("w"))
    )
    return sup.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")


def bellman_ford_round(edges: DataFrame, dist: DataFrame) -> DataFrame:
    """One Bellman-Ford relaxation round: relax every edge against the
    BROADCAST node-sized distance table (BroadcastHashJoin — no edge
    shuffle), then fold into the running minimum with partial
    aggregation (one hash exchange carrying <= |nodes| partial rows).
    Split out so the plan claim is assertable (test_plans)."""
    relaxed = edges.join(
        F.broadcast(dist.withColumnRenamed("node", "src")), "src"
    ).select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
    return dist.unionByName(relaxed).groupBy("node").agg(F.min("d").alias("d"))


def bellman_ford_hops(
    edges: DataFrame, n_seeds: int = 10, max_rounds: int = 6
) -> DataFrame:
    """Min-WEIGHT distance over paths of <= ``max_rounds`` edges from
    the seed set (the n_seeds lowest node ids) — the weighted
    companion to ``bfs_hops``. Returns (node, dist).

    One Bellman-Ford round: relax every edge against the BROADCAST
    node-sized distance table, partial-aggregated min per dst, then
    fold into the running minimum. The "<= H edges" semantics make a
    FIXED unroll exact (relaxation is monotone nonincreasing — rounds
    after convergence are no-ops), the bfs/kcore oracle argument. Each
    round references the previous distance table twice (relax + fold),
    so per-round localCheckpoint cuts the doubling lineage (the
    bfs_hops lesson, CLAUDE.md)."""
    edges = track_persist(edges)
    dist = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
        .withColumn("d", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        dist = bellman_ford_round(edges, dist).localCheckpoint(eager=True)
    return dist


def copurchase_shortest_paths(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = 2,
    n_seeds: int = 10,
    max_rounds: int = 6,
) -> DataFrame:
    """Registry query: min-weight (<= max_rounds edges) distances from
    the n_seeds lowest parts over support-weighted co-purchase
    edges."""
    from distributed_computing_spark.sources.catalog import load_table

    edges = copurchase_edges_weighted(
        load_table(spark, sf_dir, "lineitem"), min_support
    )
    return (
        bellman_ford_hops(edges, n_seeds=n_seeds, max_rounds=max_rounds)
        .select(F.col("node").alias("p_partkey"), F.col("d").alias("dist"))
        .orderBy("p_partkey")
    )


def bellman_ford_oracle_sql(
    min_support: int = 2,
    n_seeds: int = 10,
    max_rounds: int = 6,
    weight_scale: int = 1000,
) -> str:
    """Fixed-unroll Bellman-Ford oracle: one relax-and-fold CTE per
    round (see ``bellman_ford_hops`` for why the unroll is exact)."""
    parts = [
        f"""op AS MATERIALIZED (
  SELECT DISTINCT la.l_orderkey AS ok, la.l_partkey AS a, lb.l_partkey AS b
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey < lb.l_partkey),
sup AS MATERIALIZED (
  SELECT a, b, {weight_scale} // count(*) AS w
  FROM op GROUP BY a, b HAVING count(*) >= {min_support}),
edges AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM sup
  UNION ALL SELECT b AS src, a AS dst, w FROM sup),
d0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS d FROM (
    SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT {n_seeds}))"""
    ]
    for t in range(1, max_rounds + 1):
        parts.append(
            f"""d{t} AS MATERIALIZED (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM d{t - 1}
    UNION ALL
    SELECT e.dst AS node, r.d + e.w AS d
    FROM d{t - 1} r JOIN edges e ON e.src = r.node) u
  GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node AS p_partkey, CAST(d AS BIGINT) AS dist
FROM d{max_rounds}
ORDER BY p_partkey"""
    )


def kcore_oracle_sql(k: int = 80, rounds: int = 16) -> str:
    """Unrolled peeling oracle: monotone no-op rounds after the
    fixpoint make a FIXED unroll exact (see kcore docstring)."""
    parts = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT la.l_partkey AS src, lb.l_partkey AS dst
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey <> lb.l_partkey),
a0 AS MATERIALIZED (SELECT DISTINCT src FROM edges)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""d{t} AS (
  SELECT e.src, count(*) AS core_deg
  FROM edges e
  JOIN a{t - 1} x ON e.src = x.src
  JOIN a{t - 1} y ON e.dst = y.src
  GROUP BY e.src),
a{t} AS MATERIALIZED (
  SELECT src FROM d{t} WHERE core_deg >= {k})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT d.src AS p_partkey, CAST(d.core_deg AS BIGINT) AS core_deg
FROM d{rounds} d JOIN a{rounds} a ON d.src = a.src
ORDER BY p_partkey"""
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT over a symmetric directed
    edge list (round 11): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    shipped as the truncated ppm — the "how clique-like is this node's
    neighborhood" statistic (Watts & Strogatz 1998) that degree and
    triangle counts individually miss. Nodes with deg < 2 are excluded
    (cc undefined); triangle-free nodes report 0.

    Exact: triangle counts ride the degree-ordered wedge closure
    (``triangle_counts`` — Suri & Vassilvitskii orientation, O(m^1.5)
    wedges), degrees are one partial-aggregated groupBy, and the ppm
    division is truncating on non-negative integers on both engines.
    2·tri·10^6 rides DECIMAL(38,0) internally (a hub's triangle count
    is O(d²) — past 2^63 at extreme degree) and ships nothing wider
    than the provably-bounded cc_ppm <= 10^6 BIGINT.

    The edge list PERSISTS here: the degree rollup and the closure's
    three oriented-edge consumers would otherwise re-evaluate the
    basket-explode edge build (shared-subtree rule)."""
    from distributed_computing_spark.caching import track_persist

    e = track_persist(edges)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    tri = triangle_counts(e)
    dec = "decimal(38,0)"
    return (
        deg.where(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                f"cast((2 * cast(coalesce(n_triangles, 0) as {dec})"
                f" * cast(1000000 as {dec}))"
                f" div (cast(d as {dec}) * cast(d - 1 as {dec}))"
                " as bigint)"
            ).alias("cc_ppm"),
        )
    )


def common_neighbor_pairs(
    edges: DataFrame, max_middle_degree: int = 64, k: int = 100
) -> DataFrame:
    """LINK PREDICTION by common-neighbor counting (Liben-Nowell &
    Kleinberg 2003, the integer-exact member of that score family):
    for node pairs that are NOT already adjacent, count the neighbors
    they share, and return the top-``k`` candidate pairs by
    (common_neighbors desc, part_a, part_b) — "parts never bought
    together that the graph says should be". The reference has no
    graph surface (SURVEY §2.8); this closes the co-purchase family's
    recommendation loop: pairs/cosine score EXISTING edges, this
    scores ABSENT ones.

    Scale design (100 TB posture):
    - Wedges are generated per MIDDLE node u (one row per neighbor
      pair of u), so the fan-out is d(u)²; middles above
      ``max_middle_degree`` are excluded by an ABSOLUTE cap — the
      ngram max_posting / minhash max_bucket rule (relative caps
      don't survive scale-up, CLAUDE.md) — mirrored in the oracle as
      a HAVING bound. The cap is part of the operator's semantics:
      a hub's neighborhood is weak link evidence anyway (the same
      argument that weights Adamic–Adar by 1/log d).
    - Every exchange carries node-id pairs only (u, v) / (y, z); no
      payload columns travel through the wedge join.
    - The symmetric edge list is persisted ONCE and serves three
      consumers (degree rollup, wedge build, adjacency anti-join);
      the capped neighbor table is persisted because the wedge
      self-join references it twice (shared-subtree rule).
    - The wedge pair count partial-aggregates before its (y, z)
      exchange; the anti-join against adjacency needs only one
      direction of the symmetric list because y < z orients the pair.
    """
    e = track_persist(edges)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nb = track_persist(
        e.join(
            deg.where(F.col("d") <= max_middle_degree).select("src"), "src"
        ).select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    pairs = (
        nb.select("u", F.col("v").alias("y"))
        .join(nb.select("u", F.col("v").alias("z")), "u")
        .where(F.col("y") < F.col("z"))
        .groupBy("y", "z")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    nonadj = pairs.join(
        e.select(F.col("src").alias("y"), F.col("dst").alias("z")),
        ["y", "z"],
        "left_anti",
    )
    return (
        nonadj.orderBy(F.desc("common_neighbors"), "y", "z")
        .limit(k)
        .select(
            F.col("y").alias("part_a"),
            F.col("z").alias("part_b"),
            "common_neighbors",
        )
    )


def link_prediction_oracle_sql(
    min_support: int = 2, max_middle_degree: int = 64, k: int = 100
) -> str:
    """Exact DuckDB oracle: same supported-edge derivation as
    ``bfs_oracle_sql``, wedge count grouped per unordered pair, the
    degree cap mirrored as an explicit bound, NOT EXISTS adjacency
    (an independent formulation of the anti-join)."""
    return f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT la.l_orderkey AS ok, la.l_partkey AS a, lb.l_partkey AS b
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey < lb.l_partkey),
sup AS MATERIALIZED (
  SELECT a, b FROM op GROUP BY a, b HAVING count(*) >= {min_support}),
edges AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM sup
  UNION ALL SELECT b AS src, a AS dst FROM sup),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
nb AS MATERIALIZED (
  SELECT e.src AS u, e.dst AS v
  FROM edges e JOIN deg ON e.src = deg.node
  WHERE deg.d <= {max_middle_degree}),
pairs AS (
  SELECT x.v AS y, w.v AS z, count(*) AS cn
  FROM nb x JOIN nb w ON x.u = w.u AND x.v < w.v
  GROUP BY 1, 2)
SELECT y AS part_a, z AS part_b, CAST(cn AS BIGINT) AS common_neighbors
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM edges e WHERE e.src = p.y AND e.dst = p.z)
ORDER BY cn DESC, y, z
LIMIT {k}"""
