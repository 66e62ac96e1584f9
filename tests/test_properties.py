"""Distribution-safety properties: results must be invariant to
physical row order / partitioning (what actually varies on a cluster),
and scale guards must behave as documented."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.operators.dedup import minhash_lsh_pairs
from distributed_computing_spark.operators.kv import replay
from tests.test_kv import OPS_SCHEMA, random_ops


def test_replay_invariant_to_row_order_and_partitioning(spark):
    """The ops log arrives in arbitrary physical order on a cluster —
    the fold's semantics come from `seq`, never from row order."""
    ops = random_ops(17, n=400)
    base = spark.createDataFrame(ops, OPS_SCHEMA)
    want = {r["key"]: r["value"] for r in replay(base).collect()}
    scrambled = (
        spark.createDataFrame(list(reversed(ops)), OPS_SCHEMA)
        .repartition(13)  # round-robin: arbitrary physical placement
    )
    got = {r["key"]: r["value"] for r in replay(scrambled).collect()}
    assert got == want


@pytest.mark.slow
def test_minhash_pairs_invariant_to_partitioning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {tuple(r) for r in minhash_lsh_pairs(docs, threshold=0.35).collect()}
    b = {
        tuple(r)
        for r in minhash_lsh_pairs(docs.repartition(7), threshold=0.35).collect()
    }
    assert a == b and a


def test_minhash_max_bucket_guard(spark):
    """A degenerate cluster (50 identical docs) fans out quadratically;
    max_bucket drops those buckets entirely. Exact-dup removal runs
    BEFORE near-dup in the tiered pipeline, so the cap only ever drops
    boilerplate collisions in practice."""
    rows = [(i, "common boilerplate text repeated in every doc " * 5) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(docs, threshold=0.3, max_bucket=None).count()
    assert uncapped == 50 * 49 // 2
    capped = minhash_lsh_pairs(docs, threshold=0.3, max_bucket=10).count()
    assert capped == 0


def test_gate_ngram_query_guards_head_shingle_fanout(spark, tmp_path):
    """The REGISTRY's ngram_jaccard_pairs entry (the plan the driver
    gate and bench run) must carry the df cap: a corpus where every doc
    shares one boilerplate phrase produces zero pairs instead of the
    O(N²) head-shingle blowup. Guards only in library defaults don't
    count — this pins the cap at the gate entry point."""
    from distributed_computing_spark.registry import QUERIES

    boiler = "subscribe to our newsletter for daily updates and offers"
    rows = [
        (i, f"{boiler} unique{i} tail{i} words{i} here{i}", "en", "s", 60)
        for i in range(30)
    ]
    sf_dir = str(tmp_path / "sf_planted")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    assert QUERIES["ngram_jaccard_pairs"](spark, sf_dir).count() == 0


def test_replay_hypothesis_fold_equality(spark):
    """Hypothesis port of GenericTest's invariant (kvraft/test_test.go:
    131-236): for ANY ops log — tiny req-id spaces (heavy duplicate
    injection), empty values, single-key hot spots — the distributed
    replay equals the serial in-order fold."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.test_kv import serial_replay

    op_st = st.tuples(
        st.integers(0, 2),              # client
        st.integers(0, 5),              # req (tiny space -> many dups)
        st.sampled_from(["put", "append", "append", "get"]),
        st.sampled_from(["k0", "k1"]),  # hot keyspace
        st.sampled_from(["", "x", "yz", "p3"]),  # incl. empty values
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(op_st, min_size=0, max_size=40))
    def check(raw):
        ops = [(seq,) + t for seq, t in enumerate(raw)]
        from distributed_computing_spark.operators.kv import replay

        if not ops:
            return
        df = spark.createDataFrame(ops, OPS_SCHEMA)
        got = {r["key"]: r["value"] for r in replay(df).collect()}
        want_all = serial_replay(ops)
        # replay only materializes keys with surviving writes; a key
        # whose folded value is "" (empty-put/appends) is still a row
        want = {k: v for k, v in want_all.items()}
        for k in set(want) | set(got):
            assert got.get(k, "") == want.get(k, "")

    check()


def test_neardup_canonical_invariants_random(spark):
    """For arbitrary cluster assignments: exactly one survivor per
    cluster; the survivor belongs to its cluster and is a longest
    member; n_members and dropped_chars reconcile with the input."""
    import random

    from distributed_computing_spark.operators.dedup import neardup_canonical

    rng = random.Random(7)
    docs_rows = [
        (i, "x" * rng.randint(1, 40), "en", "s", 0) for i in range(200)
    ]
    clusters_rows = [(i, rng.randint(0, 30)) for i in range(200)]
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    clusters = spark.createDataFrame(clusters_rows, "doc_id long, cluster_id long")
    got = neardup_canonical(docs, clusters).collect()

    lens = {i: len(t) for i, t, *_ in docs_rows}
    members: dict[int, list[int]] = {}
    for i, c in clusters_rows:
        members.setdefault(c, []).append(i)
    assert {r["cluster_id"] for r in got} == set(members)
    assert sum(r["n_members"] for r in got) == 200
    for r in got:
        mem = members[r["cluster_id"]]
        assert r["kept_doc"] in mem
        assert lens[r["kept_doc"]] == max(lens[m] for m in mem)
        # tie-break: smallest id among the longest members
        assert r["kept_doc"] == min(
            m for m in mem if lens[m] == lens[r["kept_doc"]]
        )
        assert r["dropped_chars"] == sum(lens[m] for m in mem) - lens[r["kept_doc"]]


@pytest.mark.slow
def test_minhash_exact_matches_bruteforce_hypothesis(spark):
    """For ANY small corpus, minhash_lsh_exact must agree with a pure-
    Python re-computation of the SAME md5-family pipeline (signatures →
    band buckets → candidates → match count). Catches divergence
    between the Spark expression graph and the declared algorithm."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from distributed_computing_spark.operators.dedup import minhash_lsh_exact

    WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    doc_st = st.lists(st.sampled_from(WORDS), min_size=3, max_size=12)

    def h60(s: str, i: int) -> int:
        return int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:15], 16)

    def brute(texts, num_hashes=16, bands=8, min_match=6):
        rpb = num_hashes // bands
        sigs = {}
        for did, toks in texts.items():
            sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if sh:
                sigs[did] = [min(h60(s, i) for s in sh) for i in range(num_hashes)]
        buckets: dict = {}
        for did, sig in sigs.items():
            for b in range(bands):
                key = (b, ",".join(str(v) for v in sig[b * rpb : (b + 1) * rpb]))
                buckets.setdefault(key, []).append(did)
        cand = set()
        for docs in buckets.values():
            for i, a in enumerate(sorted(docs)):
                for b in sorted(docs)[i + 1 :]:
                    cand.add((a, b))
        out = {}
        for a, b in cand:
            n_eq = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
            if n_eq >= min_match:
                out[(a, b)] = n_eq
        return out

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc_st, min_size=2, max_size=6))
    def check(docs_raw):
        texts = {i: toks for i, toks in enumerate(docs_raw)}
        rows = [(i, " ".join(t), "en", "s", 1) for i, t in texts.items()]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        got = {
            (r["a"], r["b"]): r["n_equal"]
            for r in minhash_lsh_exact(df, min_match=6).collect()
        }
        assert got == brute(texts)

    check()


@pytest.mark.slow
def test_epoch_shuffle_matches_sorted_hash_hypothesis(spark):
    """For ANY id set, the two-level-rank shuffle index equals the
    naive sort-by-(md5 hash, id) position."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from distributed_computing_spark.operators.curation import epoch_shuffle_index

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.sets(st.integers(0, 10_000), min_size=1, max_size=40))
    def check(ids):
        def h(i):
            return int(hashlib.md5(f"{i}#0".encode()).hexdigest()[:15], 16)

        want = {
            did: pos for pos, did in enumerate(sorted(ids, key=lambda i: (h(i), i)))
        }
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["sample_idx"]
            for r in epoch_shuffle_index(df, seed=0).collect()
        }
        assert got == want

    check()


def test_png_roundtrip_hypothesis():
    """Property (round 5): decode(encode(px, ft)) is the identity for
    ANY uint8 content, shape, channel count and filter type — the
    lossless contract the value-gated query rests on."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_computing_spark.functions.codecs import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 24),
        st.integers(1, 24),
        st.sampled_from([1, 3, 4]),
        st.integers(0, 4),
        st.integers(0, 2**32 - 1),
    )
    def check(h, w, ch, ft, seed):
        rng = np.random.RandomState(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        want = px if px.ndim == 3 else px[:, :, None]
        assert np.array_equal(decode_png(encode_png(px, filter_type=ft)), want)

    check()


def test_png_batched_unfilter_parity_hypothesis():
    """Property (round 5): the batched unfilter equals per-image decode
    for any same-shape batch with arbitrary per-image filter types."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_computing_spark.functions.codecs import (
        decode_png,
        decode_png_headers,
        encode_png,
        unfilter_scanlines_batch,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(1, 16),
        st.integers(1, 16),
        st.lists(st.integers(0, 4), min_size=1, max_size=8),
        st.integers(0, 2**32 - 1),
    )
    def check(h, w, fts, seed):
        rng = np.random.RandomState(seed)
        blobs = [
            encode_png(rng.randint(0, 256, (h, w, 3)).astype(np.uint8), filter_type=ft)
            for ft in fts
        ]
        raws = [decode_png_headers(b)[3] for b in blobs]
        batch = unfilter_scanlines_batch(raws, h, w, 3)
        for img, b in zip(batch, blobs):
            assert np.array_equal(img, decode_png(b))

    check()


def test_jpeg_roundtrip_psnr_hypothesis():
    """Property (round 5): baseline JPEG roundtrips any uint8 content at
    q=95 above a PSNR floor, with exact output shape — including
    non-multiple-of-8 and degenerate 1-pixel dimensions."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_computing_spark.functions.jpeg import decode_jpeg, encode_jpeg

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 28),
        st.integers(1, 28),
        st.booleans(),
        st.integers(0, 2**32 - 1),
    )
    def check(h, w, gray, seed):
        rng = np.random.RandomState(seed)
        shape = (h, w) if gray else (h, w, 3)
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(px, quality=95))
        assert out.shape == (h, w, 1 if gray else 3)
        ref = px if px.ndim == 3 else px[:, :, None]
        mse = np.mean((out.astype(float) - ref.astype(float)) ** 2)
        psnr = 10 * np.log10(255**2 / max(mse, 1e-12))
        assert psnr > 24, (h, w, gray, seed, psnr)

    check()


@pytest.mark.slow
def test_grouped_min_rank_matches_bruteforce_with_ties(spark):
    """Property: the two-level bucketed ranking equals the textbook
    min-rank (1 + count of strictly smaller values in the group) on
    random tie-heavy data, for several bucket counts — including
    pre_buckets larger than the value range (degenerate one-value
    buckets) and 1 (single bucket == the plain window)."""
    import random

    from distributed_computing_spark.operators.analytics import (
        grouped_min_rank,
    )

    rng = random.Random(9)
    rows = [
        (rng.choice("abc"), rng.randint(-12, 12), i) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v long, rid long")
    want = {}
    by_g: dict = {}
    for g, v, rid in rows:
        by_g.setdefault(g, []).append(v)
    for g, v, rid in rows:
        want[rid] = 1 + sum(1 for x in by_g[g] if x < v)
    for nb in (1, 7, 64, 1000):
        got = {
            r["rid"]: r["rk"]
            for r in grouped_min_rank(
                df, "g", "v", "rk", pre_buckets=nb
            ).collect()
        }
        assert got == want, f"pre_buckets={nb}"


def test_basket_pair_counts_matches_bruteforce(spark):
    """Property: the fused Arrow pair counter equals the brute-force
    per-basket C(k,2) count with within-basket dedup, at min_count=1
    (no survivor filter hides a miscount)."""
    import itertools
    import random
    from collections import Counter

    from distributed_computing_spark.operators.analytics import (
        basket_pair_counts,
    )

    rng = random.Random(11)
    rows = [
        (rng.randint(0, 60), rng.randint(0, 15)) for _ in range(800)
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, item long")
    baskets: dict = {}
    for o, it in rows:
        baskets.setdefault(o, set()).add(it)
    want: Counter = Counter()
    for its in baskets.values():
        for a, b in itertools.combinations(sorted(its), 2):
            want[(a, b)] += 1
    got = {
        (r["a"], r["b"]): r["n_orders"]
        for r in basket_pair_counts(df, min_count=1).collect()
    }
    assert got == dict(want)
