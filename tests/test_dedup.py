"""Dedup operator tests: planted duplicates, MinHash recall vs the exact
Jaccard oracle, SimHash sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_computing_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_keep,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)

from tests.conftest import SF_DIR_MID

DOCS = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS)


def test_exact_dedup_planted(spark):
    rows = [
        (1, "Hello   World", "en", "s", 11),
        (2, "hello world", "en", "s", 11),  # same after normalize
        (3, "something else", "en", "s", 14),
    ]
    res = {r["keep_doc_id"]: r["n_copies"] for r in exact_dedup(_docs(spark, rows)).collect()}
    assert res == {1: 2, 3: 1}
    kept = sorted(r["doc_id"] for r in exact_dedup_keep(_docs(spark, rows)).collect())
    assert kept == [1, 3]


def test_minhash_recall_against_exact(spark, sf_dir):
    """MinHash-LSH must find ≥90% of true Jaccard≥0.5 pairs (sf0.01 has
    25 planted near-dup pairs at j≥0.9, so recall should be 100%)."""
    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet")
    exact = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    }
    approx = {
        (r["a"], r["b"]) for r in minhash_lsh_pairs(docs, threshold=0.35).collect()
    }
    assert exact, "oracle should find planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall {recall}: {exact - approx}"


def test_jaccard_pairs_exact_values(spark):
    rows = [
        (1, "a b c d e f g h", "en", "s", 10),
        (2, "a b c d e f g h", "en", "s", 10),  # identical → j=1.0
        (3, "z y x w v u t s", "en", "s", 10),
    ]
    pairs = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.5, max_df=None).collect()
    assert [(p["a"], p["b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_packed_pair_key_identical_to_two_long_shape(spark):
    """Round-13: when the doc-id range fits 31 bits, the pair exchange
    keys on ONE packed long pk = (a << 32) | b and unpacks after the
    count. Forced on (min_docs=0) it must be bit-identical to the
    two-long shape, including at a 31-bit boundary id."""
    boundary = (1 << 31) - 1
    rows = [
        (0, "a b c d e f g h", "en", "s", 10),  # id 0 packs to pk = b
        (7, "a b c d e f g h x", "en", "s", 10),
        (boundary, "a b c d e f g h y", "en", "s", 10),
        (12, "z y x w v u t s", "en", "s", 10),
    ]
    docs = _docs(spark, rows)
    kw = dict(threshold=0.3, max_df=0.5)
    packed = ngram_jaccard_pairs(docs, packed_pairs_min_docs=0, **kw)
    plain = ngram_jaccard_pairs(docs, packed_pairs_min_docs=None, **kw)
    assert "shiftleft" in packed._jdf.queryExecution().toString()
    assert "shiftleft" not in plain._jdf.queryExecution().toString()
    got = sorted((r["a"], r["b"], r["jaccard"]) for r in packed.collect())
    want = sorted((r["a"], r["b"], r["jaccard"]) for r in plain.collect())
    assert got == want and got  # non-empty: pairs actually flowed


def test_packed_pair_key_int32_doc_ids(spark):
    """An IntegerType doc_id must pack like a long one: Spark masks an
    int shift distance mod 32, so packing without a bigint cast gave
    pk = a | b and merged distinct pairs into wrong rows. The output
    keeps the input's id type."""
    rows = [
        (1, "a b c d e f g h", "en", "s", 10),
        (2, "a b c d e f g h x", "en", "s", 10),
        (4, "a b c d e f g h y", "en", "s", 10),
        (12, "z y x w v u t s", "en", "s", 10),
    ]
    docs = _docs(spark, rows).withColumn("doc_id", F.col("doc_id").cast("int"))
    kw = dict(threshold=0.3, max_df=0.8)
    packed = ngram_jaccard_pairs(docs, packed_pairs_min_docs=0, **kw)
    plain = ngram_jaccard_pairs(docs, packed_pairs_min_docs=None, **kw)
    assert "shiftleft" in packed._jdf.queryExecution().toString()
    assert dict(packed.dtypes)["a"] == dict(plain.dtypes)["a"] == "int"
    got = sorted((r["a"], r["b"], r["jaccard"]) for r in packed.collect())
    want = sorted((r["a"], r["b"], r["jaccard"]) for r in plain.collect())
    assert got == want and [(a, b) for a, b, _ in got] == [(1, 2), (1, 4), (2, 4)]


def test_ngram_n_docs_bound_matches_counted(spark):
    """A caller-supplied row count (catalog.table_rows) drives the df
    cap exactly like the count the operator would take itself."""
    rows = [(i, "a b c d e f g h " + "q" * (i % 3), "en", "s", 10) for i in range(6)]
    docs = _docs(spark, rows)
    kw = dict(threshold=0.3, max_df=0.5, packed_pairs_min_docs=None)

    def pairs(**extra):
        df = ngram_jaccard_pairs(docs, **kw, **extra)
        return sorted((r["a"], r["b"], r["jaccard"]) for r in df.collect())

    assert pairs(n_docs=6) == pairs() != []
    assert pairs(n_docs=1) == []  # cap 1 drops every shared shingle


def test_packed_pair_gate_refuses_out_of_range_ids(spark):
    """An id at 2^31 (or negative) must keep the two-long shape even
    when the doc-count gate passes — the pack is range-gated."""
    rows = [
        (1 << 31, "a b c d e f g h", "en", "s", 10),
        (3, "a b c d e f g h", "en", "s", 10),
    ]
    df = ngram_jaccard_pairs(
        _docs(spark, rows), threshold=0.5, max_df=None,
        packed_pairs_min_docs=0,
    )
    assert "shiftleft" not in df._jdf.queryExecution().toString()
    assert [(r["a"], r["b"], r["jaccard"]) for r in df.collect()] == [
        (3, 1 << 31, 1.0)
    ]


def test_max_df_guard_drops_head_shingles(spark):
    """All docs share one boilerplate phrase; max_df kills that bucket."""
    boiler = "subscribe to our newsletter now please thanks"
    rows = [(i, f"{boiler} unique{i} text{i} words{i}", "en", "s", 10) for i in range(10)]
    no_guard = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.3, max_df=None).count()
    guarded = ngram_jaccard_pairs(_docs(spark, rows), threshold=0.3, max_df=0.5).count()
    assert no_guard > 0 and guarded == 0


def test_simhash_identical_docs_same_hash(spark):
    rows = [
        (1, "alpha beta gamma delta", "en", "s", 10),
        (2, "alpha beta gamma delta", "en", "s", 10),
        (3, "totally different words entirely", "en", "s", 10),
    ]
    h = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark, rows)).collect()}
    assert h[1] == h[2]
    assert h[1] != h[3]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(_docs(spark, rows), max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_pigeonhole_recall_at_radius_6(spark):
    """Planted signatures at every hamming distance 0..6 MUST all be
    found at max_hamming=6 (pigeonhole needs h+1 = 7 blocks — with the
    old fixed 4×16-bit split, distances 4-6 spread across all 4 chunks
    were silently missed). Distance-7 pair must be excluded by verify."""
    import random

    rng = random.Random(42)
    base = rng.getrandbits(63)
    sigs, expect = [(0, base)], set()
    next_id = 1
    for d in range(1, 8):
        # flip d bits spread maximally across the 7 chunk ranges so every
        # chunk differs whenever d >= 7 (worst case for blocking)
        positions = [((i * 64) // 7 + 3) % 64 for i in range(d)]
        sig = base
        for p in positions:
            sig ^= 1 << p
        sigs.append((next_id, sig))
        if d <= 6:
            expect.add((0, next_id))
        next_id += 1
    sig_df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    docs = spark.createDataFrame([(i, "x") for i, _ in sigs], "doc_id long, text string")
    got = {
        (r["a"], r["b"])
        for r in simhash_pairs(docs, max_hamming=6, signatures=sig_df).collect()
    }
    assert expect <= got, f"missed planted pairs: {expect - got}"
    assert (0, 7) not in got  # distance 7 verified out


def test_neardup_clusters_chain_and_singletons(spark):
    """Connected components on a crafted graph: a 5-node CHAIN (label
    must propagate across multiple iterations), a 2-node pair, and
    singletons. cluster_id = min member everywhere."""
    from distributed_computing_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)], "doc_id long, text string")
    # chain 0-1-2-3-4 (edges given max-first so min must travel), pair 7-8
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (0, 1), (7, 8)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9}


def test_minhash_incremental_against_persisted_index(spark, tmp_path):
    """New-batch-vs-index dedup: exact re-submissions of indexed docs
    are caught with est_jaccard 1.0 against their corpus twin; novel
    docs pass clean."""
    from distributed_computing_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_write_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR_MID}/documents.parquet").limit(200)
    sig_path = str(tmp_path / "sig_index")
    minhash_write_signatures(docs, sig_path)
    # new batch: 20 exact re-submissions (id-offset) + 5 novel docs
    resub = docs.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    novel = spark.createDataFrame(
        [(200000 + i, f"completely novel document number {i} " * 10, "en", "s", 100)
         for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = minhash_incremental_pairs(resub.union(novel), sig_path, threshold=0.9)
    got = {r["b"]: (r["a"], r["est_jaccard"]) for r in pairs.collect()}
    for r in docs.limit(20).select("doc_id").collect():
        twin = r["doc_id"] + 100000
        assert got.get(twin, (None, 0))[1] == 1.0  # exact twin found
    assert all(b < 200000 for b in got)  # novel docs matched nothing


def test_decontaminate_flags_copied_docs(spark):
    from distributed_computing_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact copy
            (2, "a completely different sentence about spark engines"),
            (3, "quick brown fox jumps high today"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert rows[1]["contam_frac"] == 1.0 and rows[1]["contaminated"]
    assert rows[2]["n_matched"] == 0 and not rows[2]["contaminated"]
    # doc 3 shares "quick brown fox" + "brown fox jumps" of 4 shingles:
    # 0.5 overlap sits exactly on the (inclusive) threshold
    assert rows[3]["n_matched"] == 2 and rows[3]["n_shingles"] == 4
    assert rows[3]["contam_frac"] == 0.5 and rows[3]["contaminated"]


def test_decontaminate_broadcasts_benchmark_side(spark):
    from distributed_computing_spark.operators.dedup import decontaminate
    from distributed_computing_spark.plans import operator_tree
    from distributed_computing_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    df = decontaminate(
        docs.where(F.col("doc_id") % 19 != 0), docs.where(F.col("doc_id") % 19 == 0)
    )
    tree = operator_tree(df)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree and "NestedLoop" not in tree


def test_fused_decontaminate_identical_to_hash_plan(spark):
    """The adopted map-only Arrow pass (bench set as task broadcast)
    must match the broadcast-join plan row-for-row, including the
    distinct-shingle contract and the inclusive threshold."""
    from distributed_computing_spark.operators.dedup import (
        decontaminate,
        fused_decontaminate,
    )
    from distributed_computing_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR_MID

    docs = load_table(spark, SF_DIR_MID, "documents")
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corpus = docs.where(F.col("doc_id") % 19 != 0)
    a = sorted(map(tuple, decontaminate(corpus, bench, n=3).collect()))
    b = sorted(map(tuple, fused_decontaminate(corpus, bench, n=3).collect()))
    assert a == b
    # repeated-shingle doc: distinct counting, not occurrence counting
    rep_bench = spark.createDataFrame(
        [(100, "p q r")], "doc_id long, text string"
    )
    rep_corpus = spark.createDataFrame(
        [(1, "p q r p q r p q r")], "doc_id long, text string"
    )
    row = fused_decontaminate(rep_corpus, rep_bench, n=3).collect()[0]
    hash_row = decontaminate(rep_corpus, rep_bench, n=3).collect()[0]
    assert tuple(row) == tuple(hash_row)


def test_neardup_canonical_keep_rule(spark):
    """Survivor = longest member; equal lengths -> smallest doc_id;
    singleton clusters keep themselves with nothing dropped."""
    from distributed_computing_spark.operators.dedup import neardup_canonical

    docs = _docs(
        spark,
        [
            (1, "aaaa", "en", "s", 4),      # cluster 1: len 4
            (2, "bbbbbbbb", "en", "s", 8),  # cluster 1: len 8 -> kept
            (3, "cccc", "en", "s", 4),      # cluster 3: tie len 4
            (4, "dddd", "en", "s", 4),      # cluster 3: tie -> keep 3
            (5, "eeee", "en", "s", 4),      # singleton
        ],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)], "doc_id long, cluster_id long"
    )
    got = {
        r["cluster_id"]: (r["kept_doc"], r["n_members"], r["dropped_chars"])
        for r in neardup_canonical(docs, clusters).collect()
    }
    assert got == {1: (2, 2, 4), 3: (3, 2, 4), 5: (5, 1, 0)}


# ---------------------------------------------------------------------------
# Oracle-exact md5-family MinHash / SimHash
# ---------------------------------------------------------------------------


def test_md5_hash60_matches_duckdb(spark):
    """The cross-engine hash contract: Spark md5_hash60 == DuckDB
    ('0x' || substr(md5(s || '#i'), 1, 15))::BIGINT, bit for bit."""
    import duckdb

    from distributed_computing_spark.operators.dedup import md5_hash60

    words = ["hello", "world", "Straße", "a b", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = [
        r["h"]
        for r in df.select(md5_hash60("s", 7).alias("h")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT ('0x' || substr(md5(? || '#7'), 1, 15))::BIGINT", [w]
        ).fetchone()[0]
        for w in words
    ]
    assert got == want


def test_minhash_lsh_exact_planted(spark):
    from distributed_computing_spark.operators.dedup import minhash_lsh_exact

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en", "s", 10),
        (2, base + " ok", "en", "s", 10),  # near-identical → most minima equal
        (3, "completely different words about ships and maps and stars", "en", "s", 10),
    ]
    pairs = {
        (r["a"], r["b"]): r["n_equal"]
        for r in minhash_lsh_exact(_docs(spark, rows), min_match=6).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] >= 6


def test_simhash_exact_radius(spark):
    """Identical docs pair at hamming 0; a one-token edit stays within
    the radius; unrelated docs don't pair."""
    from distributed_computing_spark.operators.dedup import simhash_exact

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base, "en", "s", 10),
        (2, base, "en", "s", 10),  # identical → hamming 0
        (3, "totally unrelated text about oceans tides currents reefs corals", "en", "s", 10),
    ]
    res = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_exact(_docs(spark, rows), max_hamming=3).collect()
    }
    assert res.get((1, 2)) == 0
    assert (1, 3) not in res and (2, 3) not in res


def test_prefix_dup_groups_planted(spark):
    from distributed_computing_spark.operators.dedup import prefix_dup_groups

    prefix = " ".join(f"w{i}" for i in range(16))
    rows = [
        (1, prefix + " unique tail one", "en", "s", 10),
        (2, prefix + " a completely different continuation", "en", "s", 10),
        (3, "other start " + prefix, "en", "s", 10),  # same words, shifted
        (4, "short doc", "en", "s", 10),
    ]
    got = {
        r["keep_doc_id"]: r["n_docs"]
        for r in prefix_dup_groups(_docs(spark, rows), k=16).collect()
    }
    assert got == {1: 2}  # docs 1+2 share the 16-token prefix; 3, 4 don't


def test_tracked_persists_are_released(spark):
    """round-4 ADVICE: lazy builders' persisted intermediates
    (minhash_lsh_exact's signature table) register with caching.py and
    release after the terminal action instead of leaking for the
    session lifetime."""
    from distributed_computing_spark import caching
    from distributed_computing_spark.operators.dedup import minhash_lsh_exact

    caching.release_tracked()
    docs = spark.createDataFrame(
        [(i, "shared words for every doc here plus tail %d" % i) for i in range(6)],
        "doc_id long, text string",
    )
    out = minhash_lsh_exact(docs, num_hashes=4, bands=2, min_match=1)
    assert len(caching._TRACKED) == 1
    tracked = caching._TRACKED[0]
    out.collect()
    assert tracked.storageLevel.useMemory  # persisted while in use
    caching.release_tracked()
    assert not caching._TRACKED
    assert not tracked.storageLevel.useMemory  # actually unpersisted


def test_fused_decontaminate_enforces_broadcast_contract(spark):
    """round-4: the fused Arrow pass counts the benchmark's distinct
    shingles before collecting; above max_broadcast_shingles it
    dispatches to the JVM broadcast-join plan — identical results,
    never an unbounded driver collect."""
    from distributed_computing_spark.operators.dedup import fused_decontaminate
    from distributed_computing_spark.plans import physical_plan

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally different words here now")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    fused = fused_decontaminate(corpus, bench, n=3)
    fallback = fused_decontaminate(corpus, bench, n=3, max_broadcast_shingles=1)
    # branch check: the fused plan runs Python (mapInPandas); the
    # fallback is the pure-JVM broadcast-join plan
    assert "MapInPandas" in physical_plan(fused)
    assert "MapInPandas" not in physical_plan(fallback)
    assert "Broadcast" in physical_plan(fallback)
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, fallback.collect()))


def test_ngram_absolute_posting_guard(spark):
    """round-4: max_posting is the ABSOLUTE fan-out cap the relative
    max_df cap lacks (at 250k docs the relative cap admits ~50k-doc
    posting lists whose |df|^2 expansion OOMed a 32-core JVM). Shingles
    over the absolute cap drop even when under the relative cap."""
    from distributed_computing_spark.operators.dedup import ngram_jaccard_pairs

    shared = "alpha beta gamma"  # one shingle shared by ALL docs
    rows = [(i, f"{shared} tail{i} x{i} y{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # relative cap admits the shared shingle (df=8 <= 0.9*8+1);
    # absolute cap 2 must drop it -> no doc pair clears the threshold
    guarded = ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_df=0.9, max_posting=2
    )
    assert guarded.count() == 0
    # without the absolute cap the shared shingle pairs everything
    unguarded = ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_df=0.9, max_posting=None
    )
    assert unguarded.count() == 8 * 7 // 2


# --- exact substring-span dedup ---------------------------------------------


def _span_docs(spark):
    """Three docs with PLANTED shared spans: docs 1 and 2 share one
    12-token span; doc 3 shares a different 9-token span with doc 1;
    everything else is unique filler (distinct token vocabularies)."""
    shared_a = " ".join(f"alpha{i}" for i in range(12))
    shared_b = " ".join(f"beta{i}" for i in range(9))
    d1 = f"u1a u1b {shared_a} u1c u1d {shared_b} u1e"
    d2 = f"v1 v2 v3 v4 {shared_a} v5"
    d3 = f"w1 {shared_b} w2 w3 w4 w5 w6 w7"
    return spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )


def test_duplicate_spans_planted(spark):
    from distributed_computing_spark.operators.dedup import duplicate_spans

    spans = duplicate_spans(_span_docs(spark), k=8).orderBy("a", "b").collect()
    assert [
        (r["a"], r["b"], r["a_start"], r["b_start"], r["span_len"])
        for r in spans
    ] == [
        # d1 tokens: u1a u1b alpha0..alpha11 u1c u1d beta0..beta8 u1e
        (1, 2, 3, 5, 12),  # alpha span: d1 pos 3, d2 pos 5
        (1, 3, 17, 2, 9),  # beta span: d1 pos 17, d3 pos 2
    ]


def test_duplicate_spans_min_span_filters_after_merge(spark):
    from distributed_computing_spark.operators.dedup import duplicate_spans

    spans = duplicate_spans(_span_docs(spark), k=8, min_span=10).collect()
    assert [(r["a"], r["b"], r["span_len"]) for r in spans] == [(1, 2, 12)]


def test_span_stats_interval_union_of_overlapping_partners(spark):
    """Doc 3 duplicates two OVERLAPPING windows of doc 1's content via
    two earlier partners — dup_tokens must count the union once."""
    from distributed_computing_spark.operators.dedup import span_dedup_stats

    core = [f"c{i}" for i in range(14)]
    docs = spark.createDataFrame(
        [
            (1, "x1 x2 " + " ".join(core[:10]) + " x3"),  # c0..c9
            (2, "y1 " + " ".join(core[4:14]) + " y2 y3"),  # c4..c13
            (3, "z1 z2 z3 " + " ".join(core) + " z4"),  # all 14, dup'd
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in span_dedup_stats(docs, k=8).orderBy("doc_id").collect()
    }
    # doc 3: c0..c9 shared with doc 1, c4..c13 with doc 2 → union c0..c13
    assert rows[3]["dup_tokens"] == 14
    assert rows[3]["kept_tokens"] == rows[3]["n_tokens"] - 14
    # doc 2 shares c4..c13 with doc 1? only c4..c9 (6 < k=8) → no span;
    # keep-earliest means docs 1 and 2 are untouched
    assert rows[1]["dup_tokens"] == 0 and rows[2]["dup_tokens"] == 0
    assert all(
        r["kept_tokens"] + r["dup_tokens"] == r["n_tokens"]
        for r in rows.values()
    )


def test_span_posting_cap_drops_boilerplate_gram(spark):
    """A gram occurring in > max_posting docs is dropped BEFORE pair
    expansion — spans through it split; spans made only of it vanish."""
    from distributed_computing_spark.operators.dedup import duplicate_spans

    boiler = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(i, f"pad{i}a pad{i}b {boiler} pad{i}c") for i in range(10)],
        "doc_id long, text string",
    )
    # the boilerplate 8-gram occurs 10 times; cap 9 kills it entirely
    assert duplicate_spans(docs, k=8, max_posting=9).count() == 0
    # without the cap it yields all 45 pair spans
    assert duplicate_spans(docs, k=8, max_posting=100).count() == 45


def test_span_dedup_apply_cuts_exactly_the_merged_intervals(spark):
    import hashlib

    from distributed_computing_spark.operators.dedup import span_dedup_apply

    core = [f"c{i}" for i in range(14)]
    docs = spark.createDataFrame(
        [
            (1, "x1 x2 " + " ".join(core[:10]) + " x3"),
            (2, "y1 " + " ".join(core[4:14]) + " y2 y3"),
            (3, "z1 z2 z3 " + " ".join(core) + " z4"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in span_dedup_apply(docs, k=8).orderBy("doc_id").collect()
    }
    # docs 1 and 2 are earliest owners of their content: untouched
    for d, text in ((1, "x1 x2 " + " ".join(core[:10]) + " x3"),
                    (2, "y1 " + " ".join(core[4:14]) + " y2 y3")):
        assert rows[d]["kept_tokens"] == rows[d]["n_tokens"]
        assert rows[d]["kept_md5"] == hashlib.md5(text.encode()).hexdigest()
    # doc 3 loses the union c0..c13, keeping exactly its z filler
    assert rows[3]["kept_tokens"] == 4
    assert rows[3]["kept_md5"] == hashlib.md5(b"z1 z2 z3 z4").hexdigest()


def test_span_dedup_apply_empty_result_hashes_empty_string(spark):
    import hashlib

    from distributed_computing_spark.operators.dedup import span_dedup_apply

    body = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, body), (2, body)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r for r in span_dedup_apply(docs, k=8).collect()
    }
    assert rows[2]["kept_tokens"] == 0
    assert rows[2]["kept_md5"] == hashlib.md5(b"").hexdigest()
    assert rows[1]["kept_tokens"] == 12


def test_prefix_filtered_jaccard_identical_to_baseline_plan(spark):
    """PPJoin prefix filtering is an OPTIMIZER variant: identical pairs
    and jaccard values to ngram_jaccard_pairs on real data, via fewer
    candidate pairs (strictness of the prefix theorem)."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix_pairs,
    )
    from distributed_computing_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.35, max_df=0.2
        ).collect()
    )
    b = sorted(
        tuple(r) for r in ngram_jaccard_prefix_pairs(docs, n=3).collect()
    )
    release_tracked()
    assert a == b and len(a) > 0


def test_prefix_length_integer_ceil_never_undersizes(spark):
    """The float trap the rational arithmetic avoids: at |d| where
    t*|d| is an exact integer (t=7/20, |d|=20 -> 7), the prefix length
    must be |d| - 7 + 1 = 14 — float ceil(0.35*20)=ceil(7.0000000001)
    would give 8 -> prefix 13, silently able to miss pairs. Verify via
    a planted pair whose ONLY shared shingle ranks exactly at prefix
    position 14 of both docs."""
    import itertools

    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs,
    )

    # construct token lists directly: 22 tokens -> 20 3-gram shingles
    # per doc; docs 1 and 2 share EVERY shingle (identical text) so
    # they must be found at threshold 0.35 regardless of ordering.
    base = " ".join(f"t{i}" for i in range(22))
    docs = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    got = ngram_jaccard_prefix_pairs(docs, n=3, max_df=None).collect()
    release_tracked()
    assert [(r["a"], r["b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_blocklist_automaton_overlaps_and_failure_links(spark):
    """AC semantics: ALL token-aligned occurrences, overlapping
    included; failure links must surface a pattern that is a suffix of
    another pattern's prefix path (the case a naive trie walk misses)."""
    from distributed_computing_spark.operators.dedup import blocklist_matches

    docs = spark.createDataFrame(
        [
            # 'b b b b' contains 'b b' 3 times (overlapping) and
            # 'b b b' twice
            (1, "b b b b"),
            # 'a b c': walking pattern 'a b x' fails at 'c'; the
            # failure chain must still report 'b c'
            (2, "a b c"),
            (3, "nothing here matches"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["phrase"]): r["n_matches"]
        for r in blocklist_matches(
            docs, ["b b", "b b b", "a b x", "b c"]
        ).collect()
    }
    assert got == {
        (1, "b b"): 3,
        (1, "b b b"): 2,
        (2, "b c"): 1,
    }


def test_blocklist_rejects_empty_phrase(spark):
    import pytest

    from distributed_computing_spark.operators.dedup import blocklist_matches

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        blocklist_matches(docs, ["ok phrase", "  "])
