"""Deduplication operators for training-data pipelines ([EXT], SURVEY §2.9).

Five tiers, cheapest → most semantic:
- exact          md5-of-normalized-text groupBy (one shuffle)
- ngram_jaccard  exact set-similarity pairs via shingle inverted index
- minhash_lsh    MinHash signatures + banded LSH (the 100 TB path)
- simhash        64-bit simhash + hamming-radius buckets
- embedding      cosine near-dup over embedding vectors (see similarity)

Scale design: every pair-generating operator goes through an inverted
index (shingle/band/bucket → doc list) and self-joins on that index —
never a cross join. Head-of-distribution guards (``max_df`` on
shingles, band-bucket size caps) bound the worst-case join fan-out,
which is THE failure mode of naive LSH at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import map_rows
from distributed_computing_spark.functions.text import (
    fingerprint,
    normalize_text,
    tokens,
)


def shingle_rows(
    documents: DataFrame,
    n: int = 3,
    distinct: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle) rows via zip of n shifted array slices.

    Entirely map-side: no window, no pre-shuffle, no sort — each
    document's token array zips against its own 1..n-1 shifted slices
    and explodes. (Both the per-element ``element_at`` lambda form
    [~8x slower: repeated array indexing] and a posexplode + window-lead
    form [adds an exchange + two sorts] measured worse.) Downstream
    per-doc aggregations introduce the only shuffle.
    """
    # Materialize the token array as its own projection: the n slices all
    # reference the SAME column attribute, so the regex tokenizer runs once
    # per row (CollapseProject keeps a non-cheap alias with multiple refs
    # as a separate project — inlining it would re-evaluate the split n+1x).
    base = documents.select(id_col, tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    span = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, span) for i in range(n)])
    sh = base.select(
        id_col,
        F.explode(
            F.transform(
                zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
            )
        ).alias("shingle"),
    )
    return sh.dropDuplicates([id_col, "shingle"]) if distinct else sh

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per exact (normalized) text.

    Equivalent to ``row_number() over (partition by fingerprint) = 1``
    but expressed as min-agg: one partial-aggregated shuffle on the
    16-byte fingerprint, not on the full text column — at 100 TB the
    shuffle payload is the hash, never the document body.
    """
    return (
        documents.select(fingerprint("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def prefix_dup_groups(
    documents: DataFrame, k: int = 16, text_col: str = "text"
) -> DataFrame:
    """Truncation-duplicate groups: docs sharing their first ``k``
    tokens (md5 of the joined prefix — exact in DuckDB, so gated).

    The cheap catch between exact dedup and MinHash: crawler artifacts
    that truncate, re-chunk, or append boilerplate to the SAME leading
    content hash to one group here while differing as whole documents.
    One 16-byte-key partial-agg shuffle, text never rides the exchange;
    groups of 1 are dropped (output is the dup report, not the corpus).
    """
    toks = tokens(text_col)
    pref = F.md5(F.concat_ws(" ", F.slice(toks, 1, k)))
    return (
        documents.where(F.size(toks) > 0)
        .select(pref.alias("prefix_hash"), "doc_id")
        .groupBy("prefix_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def exact_dedup_keep(documents: DataFrame) -> DataFrame:
    """The deduplicated corpus itself (all columns, first doc_id wins)."""
    keep = exact_dedup(documents).select(F.col("keep_doc_id").alias("doc_id"))
    return documents.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the correctness oracle for near-dup)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: float | None = 0.2,
    max_posting: int = 10_000,
    packed_pairs_min_docs: int | None = 50_000,
    n_docs: int | None = None,
) -> DataFrame:
    """All doc pairs with word-``n``-gram Jaccard ≥ threshold (a < b).

    Inverted-index plan (no cross join):
      docs → explode distinct shingles → (optional) drop head shingles
      appearing in > max_df of docs → self-join on shingle → count
      common shingles per pair → Jaccard from |A|,|B|,|A∩B|.

    ``max_df`` is the scale guard: a shingle shared by millions of docs
    creates a quadratic bucket. With the guard on, Jaccard is computed
    entirely over the df-capped shingle space (sizes too, not just the
    intersection) — a well-defined, SQL-expressible quantity, so the
    guarded form is still exactly oracle-checkable. Dropping head
    shingles can only *miss* pairs whose overlap is mostly head
    shingles — for dedup that's boilerplate, the right thing to drop.
    ``max_df=None`` recovers plain Jaccard over all shingles.

    ``max_posting`` is the ABSOLUTE companion to the relative
    ``max_df`` cap (effective cap = min of the two), added after a
    measured failure: at the 50× crossover tier (250 k docs) the
    relative cap alone allows a single shingle's posting list to reach
    0.2·n ≈ 50 k docs, whose |df|² pair expansion is ~10⁹ rows from ONE
    shingle — the aggregation OOMed a 32-core executor JVM. A relative
    cap scales the worst-case bucket quadratically WITH the corpus; at
    100 TB the guard has to be absolute (the same reasoning as
    ``minhash_lsh_pairs``' ``max_bucket``). Jaccard stays well-defined
    over the capped shingle space and the oracle mirrors the min() cap
    exactly, so the guarded form remains strictly gate-checkable.

    ``n_docs`` is ``documents``' row count when the caller already holds
    it (``catalog.table_rows`` for an unfiltered table); None counts it.
    """
    # The inverted index keys on xxhash64(shingle), not the string:
    # everything downstream of the first shuffle moves 8-byte keys
    # instead of ~20-char text. (64-bit collisions would inflate
    # n_common; at corpus scale the collision probability within any
    # doc pair is < 1e-8 — accepted.)
    #
    # Postings-list plan (one heavy pass over the corpus, id-only after):
    #   sh_dedup   scan+shingle+hash → dropDuplicates(doc, shingle_h)
    #   df/head    groupBy(shingle_h).count > cap   — reuses sh_dedup's
    #              exchange (identical subplan → ReusedExchange), so the
    #              shingle pipeline executes ONCE
    #   postings   guarded sh_dedup → groupBy(shingle_h) collect list
    #              (bounded by cap — the guard runs BEFORE collection,
    #              so no agg buffer ever holds a head shingle's docs)
    #   pairs      nested explode of each posting list (map-side; an
    #              equi-self-join on shingle_h would put the same
    #              |df|^2 pair work on the same single reducer anyway)
    #   sizes      guarded sh_dedup → groupBy(doc_id).count — third
    #              reuse of the one heavy exchange
    # Round-12 probe (kept as a record): the claimed ReusedExchange
    # DOES fire at runtime here (executed AQE plan: 2 ReusedExchange,
    # covering the dedup and size exchanges), and a persisted variant
    # measured a WASH at R20 (70-76 s both) with ~0.5 s of cache
    # overhead at sf0.1 -- the unpersisted reuse-based shape stands.
    # Round-12 second probe (also reverted): a fused Arrow shingle
    # pass (re.ASCII tokenizer + per-doc set-dedup in one mapInPandas,
    # bit-identical (doc, hash) set) wired here and into
    # minhash_signatures. The PASS alone is ~2x faster than the JVM
    # Generate, but whole-query it LOST warm at sf0.1 in two
    # alternating A/B rounds (ngram 2.33 -> 2.66 s, neardup_clusters
    # 3.91 -> 5.50 s, minhash_neardup a wash) and showed no win at the
    # R20 replica (82.96 s JVM vs 115.31 s fused, same-day runs): with
    # the per-doc dedup fused, the dropDuplicates exchange that
    # runtime reuse shares across the three consumers disappears, so
    # the shingle table must be persisted instead -- and the cache
    # materialization + round-robin spread cost more than the Generate
    # they replace. The shingle expressions here are plain
    # slice/concat_ws (no regex/hash inside the Generate), so the
    # explode-family lesson's "expensive child expressions" trigger
    # does not apply.
    # Round-13 (VERDICT r12 item 6, stage-metrics measured at R20 —
    # tools/probe_neardup_r20.py): the (a, b) pair exchange + its two
    # HashAggregates were 57% of the query's 2850 executor-seconds
    # (4.15 GB shuffled, 8.5 GB spilled across the partial and final
    # aggs — near-unique keys per task make the partial agg pure
    # overhead-state), and the tokenize+shingle pipeline evaluated
    # THREE times (~170 exec-s each: the head rollup branch plus the
    # postings and sizes branches, whose differently-keyed aggregates
    # each re-run the Generate). Two changes, both value-identical:
    #
    # 1. PACKED PAIR KEY (guide §2.3 "narrower types"): when the doc-id
    #    range provably fits 31 bits, the pair shuffles ONE long
    #    pk = (a << 32) | b instead of two — ~33% fewer key bytes and
    #    half the hash-agg key state on both sides of the exchange;
    #    unpacked exactly after the count. Gated on
    #    ``packed_pairs_min_docs`` (the sf-tier bench/gate cells keep
    #    the two-long shape and pay zero new jobs) plus a measured
    #    min/max bound on doc_id (one footer-cheap column agg; at real
    #    scale flip spark.sql.parquet.aggregatePushDown or use catalog
    #    stats). AQE's initialPartitionNum=256 was A/B'd first and
    #    LOST every interleaved pair at R20 (101.9/119.1, 76.3/92.3,
    #    66.9/90.5 s) — more reduce partitions just multiply block
    #    overhead while the map-side state stays; recorded negative.
    #
    # 2. SIZES FROM POSTINGS: n_sh per doc == the explode of the
    #    guarded posting lists grouped by doc (the collect already
    #    holds exactly the guarded (doc, shingle) row set), so the
    #    sizes branch consumes the postings exchange via runtime
    #    ReusedExchange instead of re-running the tokenize pipeline a
    #    third time (executed-plan verified; the head anti-join stays
    #    ABOVE the collection so no agg buffer ever holds a head
    #    shingle's docs — the 100 TB guard is unchanged).
    sh_dedup = (
        shingle_rows(documents, n, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("shingle_h"))
        .dropDuplicates(["doc_id", "shingle_h"])
    )
    if max_df is not None or max_posting is not None:
        if max_df is not None:
            if n_docs is None:
                n_docs = documents.count()
            cap = int(max_df * n_docs) + 1
            if max_posting is not None:
                cap = min(cap, max_posting)
        else:
            cap = max_posting
        head = (
            sh_dedup.groupBy("shingle_h")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > cap)
            .select("shingle_h")
        )
        sh_dedup = sh_dedup.join(head, "shingle_h", "left_anti")
    postings = sh_dedup.groupBy("shingle_h").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    pack = False
    if packed_pairs_min_docs is not None:
        if n_docs is None:
            n_docs = documents.count()
        if n_docs >= packed_pairs_min_docs:
            lo, hi = documents.agg(
                F.min("doc_id"), F.max("doc_id")
            ).first()
            pack = lo is not None and lo >= 0 and hi < (1 << 31)
    sizes = (
        postings.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    # Round-13 probe, REVERTED on measurement: an exact SIZE-RATIO
    # PREFILTER (jaccard <= min(n_a,n_b)/max(n_a,n_b), and at c = min
    # the final filter divides the same two integers, so dropping
    # pairs failing min/max >= threshold before the exchange is a
    # strict superset of the final survivors) was wired as two gated
    # broadcasts of the doc-sized sizes table onto the exploded pairs.
    # Interleaved A/B at R20, order alternated: 65.2/64.8, 64.5/60.2,
    # 66.5/61.3 s (pre vs nopre) — a wash-to-loss: the replica corpus'
    # size distribution is near-uniform within a posting list (near-dup
    # and boilerplate pairs share sizes), so ~2 x 220 M broadcast-hash
    # probes cost what the pruning saves. On a corpus with heavy size
    # spread the motion may pay; re-probe before re-adding.
    exploded = postings.where(F.size("docs") > 1).select(
        F.posexplode("docs").alias("pos", "a"), "docs"
    )
    tail = F.expr("slice(docs, pos + 2, size(docs) - pos - 1)")
    pairs_ab = exploded.select("a", F.explode(tail).alias("b"))
    if pack:
        id_type = pairs_ab.schema["a"].dataType
        common = (
            # bigint first: on an int doc_id shiftleft masks the shift
            # distance mod 32, so (a << 32) | b would merge pairs
            pairs_ab.select(
                F.expr("shiftleft(cast(a as bigint), 32) | cast(b as bigint)").alias("pk")
            )
            .groupBy("pk")
            .agg(F.count("*").alias("n_common"))
            .select(
                F.expr("shiftright(pk, 32)").cast(id_type).alias("a"),
                F.expr("pk & 4294967295").cast(id_type).alias("b"),
                "n_common",
            )
        )
    else:
        common = pairs_ab.groupBy("a", "b").agg(F.count("*").alias("n_common"))
    sz_a = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sz_a, "a")
        .join(sz_b, "b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (approximate, the scale path)
# ---------------------------------------------------------------------------


def minhash_signatures(
    documents: DataFrame, n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """(doc_id, sig array<long>) MinHash signatures over word shingles.

    Hash family: the shingle string is xxhash64'd ONCE to a long, then
    the ``num_hashes`` family members are xxhash64(h, seed=i) over that
    8-byte value — 64 fixed-width hashes instead of 64 string hashes
    (string hashing dominated the profile). All JVM-side, no Python.
    min per seed via a single aggregate over the exploded shingle set;
    non-distinct shingle rows are fine (duplicates don't change a min),
    and partial aggregation combines map-side, so the one shuffle moves
    at most 64 longs per (doc, partition).
    """
    sh = shingle_rows(documents, n, distinct=False).withColumn(
        "h", F.xxhash64("shingle")
    )
    # One expression string for the whole 64-wide agg: building 64
    # separate Column objects costs ~0.8 s of py4j round-trips per call.
    sig = F.expr(
        "array(" + ", ".join(f"min(xxhash64(h, {i}))" for i in range(num_hashes)) + ")"
    ).alias("sig")
    return sh.groupBy("doc_id").agg(sig)


def _band_rows(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) rows: each signature split into ``bands``
    row-groups, each hashed to one 8-byte bucket key — map-side only."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at("sig", bi * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH, verified by signature sim.

    bands=16 × rows=4 over 64 hashes → s-curve threshold ≈ (1/16)^(1/4)
    ≈ 0.5. Candidates = docs sharing any band hash (bucket posting
    lists, pairs expanded map-side), then estimated Jaccard = fraction
    of equal signature positions; pairs below ``threshold`` are dropped.

    Shuffle discipline (the 100 TB shape): the band-bucket exchange and
    the (a, b) dedup move ONLY id/hash rows — signatures do not ride
    the candidate exchange (that would be bands× the sig payload per
    doc). The surviving sparse candidate set joins the persisted
    signature table twice afterwards; AQE picks broadcast when sigs
    fit, shuffle-hash otherwise. Document text never shuffles anywhere.
    """
    rows_per_band = num_hashes // bands
    # The signature table is the reusable index artifact (cf. the
    # persisted parquet index in ``minhash_index``/``minhash_incremental``):
    # tiny relative to the corpus (~0.5 KB/doc — the text never rides any
    # exchange), consumed by banding AND both verify joins. Persist it so
    # the scan+shingle+hash pipeline executes once, not once per consumer.
    sigs = minhash_signatures(documents, n, num_hashes).persist()
    banded = _band_rows(sigs, bands, rows_per_band)
    # Bucket postings: one groupBy replaces the guard's count+anti-join
    # AND the candidate self-join's two exchanges. The |bucket|^2 pair
    # fan-out guard is now a HAVING on posting size — THE worst-case
    # guard at corpus scale (boilerplate-heavy corpora produce
    # degenerate buckets). Docs inside an over-full bucket still pair
    # through their other bands — dropping the bucket costs recall only
    # for pairs similar in exactly one band, which at |bucket| >
    # max_bucket are overwhelmingly false positives. Map-side nested
    # explode does the pair expansion: an equi-self-join on
    # (band, bucket) would land the same |bucket|^2 work on a single
    # reducer anyway, so this trades two shuffles for none.
    postings = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    if max_bucket is not None:
        postings = postings.where(F.size("docs") <= max_bucket)
    cand = (
        postings.where(F.size("docs") > 1)
        .select(F.posexplode("docs").alias("pos", "a"), "docs")
        .select(
            "a",
            F.explode(F.expr("slice(docs, pos + 2, size(docs) - pos - 1)")).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    sig_a = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        cand.join(sig_a, "a")
        .join(sig_b, "b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) + hamming buckets
# ---------------------------------------------------------------------------


def simhash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long): bitwise-majority of token xxhash64s.

    Pure JVM expression: for each of 64 bits, sum ±1 votes across the
    document's distinct tokens, then pack the sign bits. Expressed as an
    aggregate over the exploded token set — one shuffle on doc_id.
    """
    tok = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    packed = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed.bitwiseXOR(term)
    return agg.select("doc_id", packed.alias("simhash"))


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ ``max_hamming``.

    Block on ``max_hamming + 1`` bit-range chunks (pigeonhole: ≤ h bits
    differ ⇒ at least one of h+1 chunks is untouched), join within
    blocks, verify with bit_count — the classic Manku/Jain/Sarma
    web-dedup layout generalized to any radius; no cross join. The
    default radius 3 gives the canonical 4 × 16-bit split; radius 6
    gives 7 chunks of 9–10 bits (coarser keys ⇒ more candidates —
    the unavoidable recall/fanout tradeoff of a wider radius).
    ``max_bucket`` drops degenerate chunk buckets (same quadratic-fanout
    guard as minhash_lsh_pairs; near-dups still meet via other chunks).
    """
    if not 0 <= max_hamming < 64:
        raise ValueError("max_hamming must be in [0, 64)")
    n_chunks = max_hamming + 1
    # Split the 64 bits into n_chunks contiguous ranges of near-equal width.
    bounds = [c * 64 // n_chunks for c in range(n_chunks + 1)]
    # ``signatures`` (doc_id, simhash) lets tests plant exact hamming
    # distances and lets callers reuse a persisted signature table.
    sh = signatures if signatures is not None else simhash(documents)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), bounds[c])
                        .bitwiseAND(F.lit((1 << (bounds[c + 1] - bounds[c])) - 1))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cb"),
    ).select("doc_id", "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.ckey").alias("ckey"))
    if max_bucket is not None:
        big = (
            chunks.groupBy("chunk", "ckey")
            .agg(F.count("*").alias("_bs"))
            .where(F.col("_bs") > max_bucket)
            .select("chunk", "ckey")
        )
        chunks = chunks.join(big, ["chunk", "ckey"], "left_anti")
    l = chunks.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sh_a"), "chunk", "ckey")
    r = chunks.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sh_b"), "chunk", "ckey")
    return (
        l.join(r, ["chunk", "ckey"])
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def neardup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = smallest doc_id in the component (the canonical doc).

    Completes the dedup pipeline: pair-generators find EDGES; choosing
    one survivor per duplicate GROUP needs the transitive closure.
    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup components are shallow).

    This is the engine's iterative-algorithm shape: a driver-side loop
    of DataFrame joins with per-round persist + convergence check —
    the loop control is tiny driver logic, all data movement stays
    distributed (no component ever collects).
    """
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = documents.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).persist()
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.src == labels.node)
                .groupBy("dst")
                .agg(F.min("label").alias("nl"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.dst, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                    ).alias("label"),
                )
                .persist()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        return labels.select(
            F.col("node").alias(id_col), F.col("label").alias("cluster_id")
        )
    finally:
        edges.unpersist()


def minhash_write_signatures(
    documents: DataFrame, path: str, n: int = 3, num_hashes: int = 64
) -> None:
    """Persist the corpus signature index (the ingest-time artifact the
    incremental path joins against — signatures only, ~8·num_hashes
    bytes/doc; band rows are recomputed map-side on read)."""
    minhash_signatures(documents, n, num_hashes).write.mode("overwrite").parquet(path)


def minhash_incremental_pairs(
    new_docs: DataFrame,
    sig_path: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: a NEW batch against the persisted corpus
    index — the production ingest flow (never re-shingle the corpus).

    Returns (a=corpus doc_id, b=new doc_id, est_jaccard) for new docs
    near-duplicating an indexed doc. Within-batch pairs come from the
    ordinary ``minhash_lsh_pairs`` on the batch; after admission,
    append the new signatures to the index.
    """
    spark = new_docs.sparkSession
    rows_per_band = num_hashes // bands
    corpus_sigs = spark.read.parquet(sig_path)
    new_sigs = minhash_signatures(new_docs, n, num_hashes)
    corpus_b = _band_rows(corpus_sigs, bands, rows_per_band).select(
        F.col("doc_id").alias("a"), "band", "bucket"
    )
    new_b = _band_rows(new_sigs, bands, rows_per_band).select(
        F.col("doc_id").alias("b"), "band", "bucket"
    )
    cand = (
        corpus_b.join(new_b, ["band", "bucket"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sig_a = corpus_sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = new_sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        cand.join(sig_a, "a")
        .join(sig_b, "b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# Oracle-exact MinHash / SimHash (cross-engine-reproducible hash family)
# ---------------------------------------------------------------------------


def md5_hash60(col: Column | str, seed: int) -> Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5(s || '#seed').

    MD5 is bit-identical in Spark and DuckDB, and 15 hex digits fit a
    signed BIGINT without overflow (< 2^60, ANSI-safe) — so every
    derived quantity (minima, sign bits, bucket keys) is EXACTLY
    reproducible in oracle SQL:
    ``('0x' || substr(md5(s || '#i'), 1, 15))::BIGINT``. The xxhash64
    family (minhash_signatures/simhash) stays the production path —
    fixed-width hashing is ~4x cheaper than string md5 — this family
    exists to put the LSH *machinery* under the strict hash gate.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat_ws("#", c, F.lit(str(seed)))), 1, 15), 16, 10
    ).cast("long")


def minhash_lsh_exact(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_match: int = 6,
) -> DataFrame:
    """Oracle-exact MinHash-LSH near-dup pairs: (a, b, n_equal).

    Identical plan shape to ``minhash_lsh_pairs`` (signature agg →
    banded bucket postings → map-side pair expansion → signature
    verify) but over the ``md5_hash60`` family, so signatures, band
    buckets, candidate sets, and the match count are all reproducible
    in DuckDB SQL — this is the strict-gated bridge into the MinHash
    family (cf. ``lsh_topk_exact`` for the ANN family). ``n_equal`` is
    the raw matching-position count (an integer, so the gate hash is
    exact — no float rounding): n_equal/num_hashes estimates Jaccard;
    the default 6/16 gates at est ≥ 0.375 with an 8×2 band s-curve
    (threshold ≈ (1/8)^(1/2) ≈ 0.35).
    """
    from distributed_computing_spark.caching import track_persist

    rows_per_band = num_hashes // bands
    sh = shingle_rows(documents, n, distinct=False)
    # track_persist: the signature table feeds banding + both verify
    # joins; the builder can't unpersist (consumers run later), so the
    # harness releases it after the terminal action (caching.py).
    sig = track_persist(
        sh.groupBy("doc_id").agg(
            F.array(
                *[F.min(md5_hash60("shingle", i)) for i in range(num_hashes)]
            ).alias("sig")
        )
    )
    # Band bucket = the comma-joined minhash values themselves (exact
    # strings both engines — no second-level hash to reproduce).
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1).cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    postings = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    cand = (
        postings.where(F.size("docs") > 1)
        .select(F.posexplode("docs").alias("pos", "a"), "docs")
        .select(
            "a",
            F.explode(F.expr("slice(docs, pos + 2, size(docs) - pos - 1)")).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    sig_a = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    n_equal = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        cand.join(sig_a, "a")
        .join(sig_b, "b")
        .withColumn("n_equal", n_equal)
        .where(F.col("n_equal") >= min_match)
        .select("a", "b", F.col("n_equal").cast("int").alias("n_equal"))
    )


def simhash_exact(
    documents: DataFrame, max_hamming: int = 3, n_bits: int = 32
) -> DataFrame:
    """Oracle-exact SimHash near-dup pairs: (a, b, hamming).

    ``simhash``/``simhash_pairs`` over the ``md5_hash60`` token-hash
    family at 32 bits — narrow enough that the bit-vote / bit-pack /
    pigeonhole-chunk SQL stays readable while every intermediate
    (votes, fingerprint, chunk keys, hamming distance) is exact integer
    arithmetic on both engines. Same Manku/Jain/Sarma layout as the
    production 64-bit path: ``max_hamming + 1`` chunks, join within a
    chunk, verify with bit_count(xor).
    """
    n_chunks = max_hamming + 1
    bounds = [c * n_bits // n_chunks for c in range(n_chunks + 1)]
    tok = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).withColumn("h", md5_hash60("tok", 0))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    packed = None
    for j in range(n_bits):
        bit = (
            F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        term = F.shiftleft(bit, j)
        packed = term if packed is None else packed + term
    from distributed_computing_spark.caching import track_persist

    # harness-released persist (caching.py) — same rationale as
    # minhash_lsh_exact's signature table.
    fp = track_persist(agg.select("doc_id", packed.alias("fp")))
    chunks = fp.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), bounds[c]).bitwiseAND(
                        F.lit((1 << (bounds[c + 1] - bounds[c])) - 1)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk", "cv"),
    )
    cand = (
        chunks.alias("ca")
        .join(
            chunks.alias("cb"),
            (F.col("ca.chunk") == F.col("cb.chunk"))
            & (F.col("ca.cv") == F.col("cb.cv"))
            & (F.col("ca.doc_id") < F.col("cb.doc_id")),
        )
        .select(F.col("ca.doc_id").alias("a"), F.col("cb.doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    fa = fp.select(F.col("doc_id").alias("a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("b"), F.col("fp").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.join(fa, "a")
        .join(fb, "b")
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """[EXT] Benchmark decontamination: per corpus doc, the fraction of
    its n-gram shingles that also occur anywhere in a benchmark set,
    flagging docs at or above ``threshold`` (the training-data hygiene
    step that keeps eval benchmarks out of the training corpus).

    Scale shape: a benchmark set is tiny next to a 100 TB corpus, so
    its distinct shingle hashes are reduced and BROADCAST; the corpus
    side stays map-local (shingle -> xxhash64 -> broadcast-hash left
    join) and the only exchange is the per-doc groupBy carrying
    (doc_id, two counters) — corpus text never shuffles. Output:
    (doc_id, n_shingles, n_matched, contam_frac, contaminated), one
    row per corpus doc with >= 1 shingle.
    """
    bench_sh = (
        shingle_rows(benchmark, n)
        .select(F.xxhash64("shingle").alias("shingle_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_sh = shingle_rows(corpus, n).select(
        "doc_id", F.xxhash64("shingle").alias("shingle_h")
    )
    per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
        )
    )
    frac = F.col("n_matched") / F.col("n_shingles")  # groupBy => n_shingles >= 1
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_matched",
        F.round(frac, 6).alias("contam_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def fused_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_broadcast_shingles: int = 5_000_000,
) -> DataFrame:
    """``decontaminate`` on the fused-Arrow plan (round 3): the corpus
    side's shingle → probe → per-doc count pipeline collapses into ONE
    map-only mapInPandas pass (no exchange at all — the hash plan's
    per-doc groupBy shuffles (doc_id, counters) rows). The benchmark's
    distinct shingles — tiny by contract next to the corpus — are
    collected once and task-broadcast as a Python frozenset, the same
    broadcast the JVM plan ships; corpus text never leaves its scan
    task. Counts come back exact integers; ratios/rounding stay in the
    SAME JVM expressions, so results are bit-identical and the oracle
    is unchanged. Measured at the 50× tier: see BASELINE.md.

    The broadcast contract is ENFORCED, not assumed (round-4): the
    distinct benchmark shingles are counted first (a cheap aggregate
    over the benchmark only), and above ``max_broadcast_shingles`` the
    call dispatches to the JVM broadcast-join plan (``decontaminate``)
    instead of collecting an unbounded set to the driver — identical
    results either way, so callers never need to pick a branch.
    """
    import re

    pat = re.compile("[A-Za-z0-9]+")
    spark = corpus.sparkSession
    bench_distinct = shingle_rows(benchmark, n).select("shingle").distinct()
    if bench_distinct.count() > max_broadcast_shingles:
        return decontaminate(corpus, benchmark, n, threshold)
    bench_set = frozenset(r["shingle"] for r in bench_distinct.collect())
    bench_bc = spark.sparkContext.broadcast(bench_set)

    def probe(did, text):
        toks = pat.findall(text if isinstance(text, str) else "")
        if len(toks) < n:
            return ()
        # per-doc DISTINCT shingles — shingle_rows(distinct=True) is the
        # hash plan's contract
        shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        bench = bench_bc.value
        return [(did, len(shingles), sum(1 for s in shingles if s in bench))]

    # NOT spread_for_arrow here (round-12, measured): corpus_pipeline
    # hands this a complex derived frame that it ALREADY repartitions
    # (probe_in) — the helper's .rdd partition probe compiles that
    # whole plan a second time (warm +0.5 s, cold +7 s at sf0.1) for a
    # guaranteed no-op. Raw-scan callers spread at the registry site
    # (decontaminate_q), same pattern as blocklist_phrase_matches.
    per_doc = map_rows(
        corpus.select("doc_id", "text"),
        probe,
        "doc_id long, n_shingles long, n_matched long",
    )
    frac = F.col("n_matched") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_matched",
        F.round(frac, 6).alias("contam_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def neardup_canonical(
    documents: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse each near-dup cluster to one survivor: keep the LONGEST
    member (near-dups are usually truncations/boilerplate variants of a
    superset doc), ties broken by smallest id for determinism.

    One shuffle on cluster_id: the survivor is picked with a max-of-
    struct aggregate (n_chars, -id) — no window, no second exchange —
    and the same aggregate row carries the cluster's member count and
    the chars dropped by deduplication. Integer keep-rule on purpose:
    a float quality argmax can disagree between engines in the last
    ulp; length+id comparisons are exact everywhere.
    """
    members = clusters.join(
        documents.select(
            F.col(id_col), F.length("text").cast("long").alias("n_chars")
        ),
        id_col,
    )
    agg = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(
            F.struct(F.col("n_chars"), (-F.col(id_col)).alias("neg_id"))
        ).alias("best"),
        F.sum("n_chars").alias("tot_chars"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("best.neg_id")).alias("kept_doc"),
        "n_members",
        (F.col("tot_chars") - F.col("best.n_chars")).alias("dropped_chars"),
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (cross-document duplicated token spans)
# ---------------------------------------------------------------------------


def gram_positions(
    documents: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, gram_h) for every token ``k``-gram, 1-based pos.

    Same map-side zip-of-shifted-slices construction as
    ``shingle_rows`` (measured there against the element_at-lambda and
    posexplode+window forms), but keeps the POSITION: consecutive
    positions are what lets span merging recover maximal duplicated
    substrings from k-gram anchor matches. Keys on ``xxhash64(gram)``
    so everything after the tokenize pass moves 8-byte keys, never
    k-token text (collision within any doc pair < 1e-8 — the same
    accepted tradeoff as ``ngram_jaccard_pairs``).
    """
    base = documents.select(id_col, tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    span = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, span) for i in range(k)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )
    return base.select(
        F.col(id_col), F.posexplode(grams).alias("_idx", "_gram")
    ).select(
        id_col,
        (F.col("_idx") + 1).cast("long").alias("pos"),
        F.xxhash64("_gram").alias("gram_h"),
    )


def duplicate_spans(
    documents: DataFrame,
    k: int = 8,
    max_posting: int = 2_000,
    min_span: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document duplicated token spans of length >= k.

    Exact substring dedup in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed Spark-first. The suffix-array construction the paper
    uses is a single-machine algorithm; the distributed equivalent is
    k-gram anchor matching + diagonal run merging:

      grams    (doc, pos, xxhash64(k-gram)) — map-side only
      guard    drop grams with > ``max_posting`` total occurrences
               (ABSOLUTE fan-out cap: the |occ|^2 anchor expansion of
               one boilerplate gram must stay bounded at any corpus
               size — the ngram_jaccard/minhash max_bucket lesson)
      anchors  postings groupBy(gram_h) → nested posexplode of the
               occurrence list (map-side pair expansion after the one
               heavy exchange; a < b cross-doc only)
      spans    a shared span of length L >= k appears as L-k+1 anchors
               at consecutive ``pa`` on one diagonal ``pa - pb``;
               gaps-and-islands over (a, b, diag) recovers each maximal
               span as one group (grp = pa - row_number()).

    Every exchange after the gram scan carries ids/positions only —
    text never shuffles. Returns (a, b, a_start, b_start, span_len),
    positions 1-based in token space; each row is a MAXIMAL span for
    its (a, b, diagonal) — spans at different alignments may still
    overlap in either document (interval union is ``span_dedup_stats``'
    job). ``min_span`` filters short spans after merging (anchors must
    still be built at granularity k, so this is a cheap post-filter).
    """
    from distributed_computing_spark.caching import track_persist
    from distributed_computing_spark.parallelism import spread_for_arrow

    # Round-12: (1) the gram table had TWO consumers (the posting-cap
    # rollup and the guarded anti-join side), so the tokenize+gram
    # Generate — the heavy pass — ran twice; it persists (24-byte
    # rows, spillable). (2) the Generate inherits the scan's split
    # count, so an under-split corpus ran it on one core — spread
    # first (no-op on well-split inputs).
    g = track_persist(
        gram_positions(
            spread_for_arrow(documents.select(id_col, "text")),
            k,
            id_col=id_col,
        )
    )
    head = (
        g.groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") > max_posting)
        .select("gram_h")
    )
    g = g.join(head, "gram_h", "left_anti")
    postings = g.groupBy("gram_h").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("d"), F.col("pos")))
        ).alias("occ")
    )
    anchors = (
        postings.where(F.size("occ") > 1)
        .select(F.posexplode("occ").alias("_i", "oa"), "occ")
        .select(
            "oa",
            F.explode(
                F.expr("slice(occ, _i + 2, size(occ) - _i - 1)")
            ).alias("ob"),
        )
        .where(F.col("oa.d") != F.col("ob.d"))
        .select(
            F.col("oa.d").alias("a"),
            F.col("ob.d").alias("b"),
            F.col("oa.pos").alias("pa"),
            F.col("ob.pos").alias("pb"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a", "b", "diag").orderBy("pa")
    runs = anchors.withColumn("diag", F.col("pa") - F.col("pb")).withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    spans = (
        runs.groupBy("a", "b", "diag", "grp")
        .agg(F.min("pa").alias("a_start"), F.count(F.lit(1)).alias("n_anchor"))
        .select(
            "a",
            "b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("n_anchor") + F.lit(k - 1)).alias("span_len"),
        )
    )
    if min_span is not None:
        if min_span < k:
            raise ValueError(
                f"min_span={min_span} < k={k}: anchors are built at "
                "granularity k, so shorter spans are undetectable — "
                "lower k instead"
            )
        if min_span > k:
            spans = spans.where(F.col("span_len") >= min_span)
    return spans


def merged_dup_intervals(
    documents: DataFrame,
    k: int = 8,
    max_posting: int = 2_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Union-merged duplicated token intervals per document under the
    keep-earliest policy: every span shared with a smaller doc_id
    becomes a half-open token interval [ms, me) on the LATER doc, and
    overlapping/adjacent-from-different-partners intervals merge with
    the classic sweep (running max(end) over starts; a new island
    begins where start > max end so far) — a window over (doc, start),
    never a per-position explode, so the merge is O(spans log spans)
    at 100 TB. The shared front half of ``span_dedup_stats`` (token
    accounting) and ``span_dedup_apply`` (text rewrite)."""
    from pyspark.sql import Window

    spans = duplicate_spans(
        documents, k=k, max_posting=max_posting, id_col=id_col
    )
    ivl = spans.select(
        F.col("b").alias(id_col),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_len")).alias("e"),
    ).dropDuplicates([id_col, "s", "e"])
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = ivl.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "isl_id",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(w_run),
    )
    return isl.groupBy(id_col, "isl_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )


def span_dedup_stats(
    documents: DataFrame,
    k: int = 8,
    max_posting: int = 2_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-token accounting under keep-earliest.

    The dedup ACTION on top of ``duplicate_spans``: for every document,
    how many of its tokens sit inside a span that also appears in some
    EARLIER document (smaller doc_id — the deterministic keep-first
    policy)? Overlapping spans from different partners / alignments are
    union-merged per document with the classic interval sweep
    (running max(end) over starts; a new island begins where
    start > max end so far) — a window over (doc, start), never a
    per-position explode, so the merge is O(spans log spans) not
    O(total span tokens) at 100 TB.

    Returns (doc_id, n_tokens, dup_tokens, kept_tokens) for EVERY doc
    (zero dup_tokens when untouched) — the downstream curation join is
    a plain equi-join on doc_id.
    """
    merged = merged_dup_intervals(
        documents, k=k, max_posting=max_posting, id_col=id_col
    )
    dup = merged.groupBy(id_col).agg(
        F.sum(F.col("me") - F.col("ms")).alias("dup_tokens")
    )
    from distributed_computing_spark.functions.text import token_count

    base = documents.select(
        id_col, token_count("text").cast("long").alias("n_tokens")
    )
    return base.join(dup, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        (F.col("n_tokens") - F.coalesce("dup_tokens", F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
    )


def span_dedup_apply(
    documents: DataFrame,
    k: int = 8,
    max_posting: int = 2_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The dedup ACTION: rewrite every document with its duplicated
    spans REMOVED (keep-earliest, Lee et al. 2022's cut step). Tokens
    whose 1-based position falls in any merged duplicated interval are
    dropped; the survivors rejoin with single spaces (tokenizer-space
    reconstruction — original inter-token whitespace/punctuation is
    not preserved, the same contract as the chunker's window text).

    Returns (doc_id, n_tokens, kept_tokens, kept_md5) — the md5 of the
    reconstructed text stands in for the text itself so the gate
    compares 32-byte hashes, not megabyte strings. The positional drop
    is one exists()-HOF filter of the token array against the doc's
    merged-interval array (intervals per doc are few after merging;
    O(tokens × intervals) map-side, no explode of token rows).
    """
    merged = merged_dup_intervals(
        documents, k=k, max_posting=max_posting, id_col=id_col
    )
    per_doc = merged.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ms"), F.col("me")))
        ).alias("ivs")
    )
    base = documents.select(id_col, tokens(text_col).alias("_toks"))
    joined = base.join(per_doc, id_col, "left").withColumn(
        "ivs", F.coalesce("ivs", F.array())
    )
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.exists(
            F.col("ivs"),
            lambda iv: (i + 1 >= iv["ms"]) & (i + 1 < iv["me"]),
        ),
    )
    return joined.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )


def ngram_jaccard_prefix_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold_num: int = 35,
    threshold_den: int = 100,
    max_df: float | None = 0.2,
    max_posting: int = 10_000,
    n_docs: int | None = None,
) -> DataFrame:
    """PPJoin-style prefix-filtered Jaccard pairs — IDENTICAL output to
    ``ngram_jaccard_pairs(threshold=num/den)``, strictly fewer
    candidate pairs.

    Prefix-filtering theorem (Chaudhuri/Xiao et al.): under any global
    total order of shingles, two sets with J(A,B) >= t must share a
    shingle within each one's first ``|x| - ceil(t*|x|) + 1`` shingles
    (rarest-first order maximizes the pruning). So candidates are
    generated from PREFIX postings only — the quadratic pair expansion
    runs over each doc's few rarest shingles instead of all of them —
    and each candidate is then verified EXACTLY via array_intersect of
    the two docs' full (capped-space) shingle sets: per-pair work
    bounded by doc size, no second index pass.

    The threshold is a RATIONAL (num/den) so the prefix length is pure
    integer arithmetic — ``ceil(t*|x|)`` in floats can round BELOW the
    true value at exact multiples (0.35*20 -> 6.999...), and an
    undersized prefix silently loses pairs. An oversized one only adds
    candidates; undersized breaks correctness, so floats are banned
    here. The final Jaccard filter reuses the float formula verbatim
    to stay bit-identical with ``ngram_jaccard_pairs``' gate contract.

    Gate story: registered with the SAME oracle SQL as
    ``ngram_jaccard_pairs`` — the gate proves optimizer-variant
    equality, the strongest form of "same result, better plan".

    MEASURED OUTCOME (round 6, record of a dead end on THIS data): on
    the base sf0.1 corpus the variant loses 3.7 s vs 5.5 s warm, and
    on the dup-dense 20× replica corpus it loses badly (74.7 s
    baseline vs >120 s) — replica pairs share even their rarest
    shingles, so the prefix prunes nothing while the df-rank window
    and the per-candidate full-array verify add real cost. Prefix
    filtering pays when candidate reduction is large (low-dup corpora
    with heavy non-matching co-occurrence); on this synthetic data the
    baseline postings plan is the right default. Kept because the
    shared-oracle gate makes it a verified equivalent plan, not a
    recommendation.
    """
    from pyspark.sql import Window

    sh_dedup = (
        shingle_rows(documents, n, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("shingle_h"))
        .dropDuplicates(["doc_id", "shingle_h"])
    )
    if max_df is not None or max_posting is not None:
        if max_df is not None:
            if n_docs is None:
                n_docs = documents.count()
            cap = int(max_df * n_docs) + 1
            if max_posting is not None:
                cap = min(cap, max_posting)
        else:
            cap = max_posting
        head = (
            sh_dedup.groupBy("shingle_h")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > cap)
            .select("shingle_h")
        )
        sh_dedup = sh_dedup.join(head, "shingle_h", "left_anti")
    from distributed_computing_spark.caching import track_persist

    sh_dedup = track_persist(sh_dedup)  # df + prefix + arrays reuse it
    df_tbl = sh_dedup.groupBy("shingle_h").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh_dedup.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # integer ceil(num*n/den): (num*n + den - 1) div den
    plen = (
        F.col("n_sh")
        - F.expr(f"({threshold_num}L * n_sh + {threshold_den - 1}) div {threshold_den}L")
        + 1
    )
    w = Window.partitionBy("doc_id").orderBy("df", "shingle_h")
    ranked = (
        sh_dedup.join(df_tbl, "shingle_h")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes.select("doc_id", plen.alias("_plen")), "doc_id")
        .where(F.col("_rn") <= F.col("_plen"))
        .select("doc_id", "shingle_h")
    )
    postings = ranked.groupBy("shingle_h").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    cand = (
        postings.where(F.size("docs") > 1)
        .select(F.posexplode("docs").alias("pos", "a"), "docs")
        .select(
            "a",
            F.explode(
                F.expr("slice(docs, pos + 2, size(docs) - pos - 1)")
            ).alias("b"),
        )
        .distinct()
    )
    arrays = sh_dedup.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("shingle_h")).alias("shs")
    )
    arr_a = arrays.select(F.col("doc_id").alias("a"), F.col("shs").alias("_sa"))
    arr_b = arrays.select(F.col("doc_id").alias("b"), F.col("shs").alias("_sb"))
    thr = threshold_num / threshold_den
    return (
        cand.join(arr_a, "a")
        .join(arr_b, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_common"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= thr)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Multi-pattern phrase blocklist (Aho–Corasick over token sequences)
# ---------------------------------------------------------------------------


def _build_phrase_automaton(patterns: list[tuple[str, ...]]):
    """Aho–Corasick automaton over a WORD alphabet: goto tries keyed by
    token, BFS failure links, output lists merged through the links —
    the textbook construction (Aho & Corasick 1975), built once on the
    driver (the pattern set is dim-sized) and shipped in the Arrow
    closure. Matching a document is then ONE linear pass over its
    tokens no matter how many patterns the blocklist holds — the
    property that makes phrase blocklists viable at 100 TB, where the
    per-pattern scan (or SQL contains-join) multiplies the corpus
    scan by |patterns|."""
    from collections import deque

    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    fail: list[int] = [0]
    for pid, pat in enumerate(patterns):
        node = 0
        for w in pat:
            nxt = goto[node].get(w)
            if nxt is None:
                goto.append({})
                out.append([])
                fail.append(0)
                nxt = len(goto) - 1
                goto[node][w] = nxt
            node = nxt
        out[node].append(pid)
    q = deque(goto[0].values())
    while q:
        u = q.popleft()
        for w, v in goto[u].items():
            q.append(v)
            f = fail[u]
            while f and w not in goto[f]:
                f = fail[f]
            t = goto[f].get(w, 0)
            fail[v] = t if t != v else 0
            out[v].extend(out[fail[v]])
    return goto, fail, out


def blocklist_matches(
    documents: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] Phrase-blocklist matching: (doc_id, phrase, n_matches) for
    every document containing a blocklisted token phrase — the phrase
    form of benchmark decontamination / policy filtering. Counts ALL
    token-aligned occurrences including overlapping ones (the
    automaton reports every end position; "batch batch batch" matches
    "batch batch" twice).

    Scale shape: the automaton is built ONCE from the dim-sized phrase
    list and closed over by an Arrow ``mapInPandas`` pass — each
    corpus partition is scanned exactly once regardless of pattern
    count, emits only (id, pattern_id, count) hits, and the single
    exchange is the hit aggregation (hit-sized, not corpus-sized).
    Tokenization is the shared ASCII ``tokens`` class, so the DuckDB
    oracle can replay matching positionally (generate_subscripts +
    list slicing) — an independent algorithm, same answer.
    """
    import re
    from collections import Counter

    pats = [tuple(p.split()) for p in phrases]
    if any(not p for p in pats):
        raise ValueError("empty phrase in blocklist")
    goto, fail, out = _build_phrase_automaton(pats)
    names = list(phrases)
    tok_re = re.compile("[A-Za-z0-9]+")

    def scan(did, text):
        c: Counter = Counter()
        node = 0
        for w in tok_re.findall(str(text)):
            while node and w not in goto[node]:
                node = fail[node]
            node = goto[node].get(w, 0)
            for pid in out[node]:
                c[pid] += 1
        return [(int(did), pid, n) for pid, n in c.items()]

    hits = map_rows(
        documents.select(
            F.col(id_col), F.col(text_col).cast("string").alias(text_col)
        )
        # NULL text matches nothing (the oracle's unnest of a NULL token
        # list yields no rows; str(None) would tokenize as 'None')
        .where(F.col(text_col).isNotNull()),
        scan,
        "_id long, _pid int, n_matches long",
    )
    name_rows = [(i, n) for i, n in enumerate(names)]
    spark = documents.sparkSession
    name_df = spark.createDataFrame(name_rows, ["_pid", "phrase"])
    return (
        hits.join(F.broadcast(name_df), "_pid")
        .select(
            F.col("_id").alias(id_col),
            "phrase",
            F.col("n_matches"),
        )
    )


def phrase_search_indexed(
    documents: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[EXT] The INDEX-side plan for the same phrase-match semantics as
    ``blocklist_matches`` (gate-proven equivalent — optimizer-variant
    pair): positional postings (doc, word, pos) joined against the
    broadcast exploded phrase terms (phrase, idx, word); every posting
    votes for anchor = pos - idx, and an anchor whose distinct-idx
    vote count equals the phrase length is one occurrence (overlaps
    included, exactly the automaton's count).

    Scale shape: ONE broadcast join + ONE (doc, phrase, anchor)
    aggregation, no per-pattern scans and no joins proportional to
    phrase length — the classic phrase-query-over-inverted-index plan
    (reference analog: the A4 inverted index, mrapps/indexer.go,
    extended with positions). The postings side is filtered to
    blocklisted WORDS before the exchange, so the shuffle carries only
    candidate postings, not the corpus."""
    from distributed_computing_spark.functions.text import tokens

    pats = [tuple(p.split()) for p in phrases]
    if any(not p for p in pats):
        raise ValueError("empty phrase in blocklist")
    spark = documents.sparkSession
    terms = spark.createDataFrame(
        [(p, i, w) for p, pat in zip(phrases, pats) for i, w in enumerate(pat)],
        ["phrase", "idx", "word"],
    )
    plens = spark.createDataFrame(
        [(p, len(pat)) for p, pat in zip(phrases, pats)], ["phrase", "_m"]
    )
    postings = documents.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "word"),
    )
    votes = postings.join(F.broadcast(terms), "word")
    anchors = (
        votes.groupBy(
            id_col, "phrase", (F.col("pos") - F.col("idx")).alias("_anchor")
        )
        .agg(F.countDistinct("idx").alias("_nw"))
        .where(F.col("_anchor") >= 0)
    )
    return (
        anchors.join(F.broadcast(plens), "phrase")
        .where(F.col("_nw") == F.col("_m"))
        .groupBy(id_col, "phrase")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


def cross_source_contamination(
    documents: DataFrame, k: int = 16, max_sources: int = 64
) -> DataFrame:
    """Cross-SOURCE contamination matrix (round 11): for every
    unordered source pair, how many distinct k-token-prefix groups
    both sources contain — "which crawls duplicate each other", the
    corpus-level view the per-document dup reports (exact_dedup,
    prefix_dups, the near-dup family) don't aggregate to. A training
    pipeline reads this before mixture weighting: two sources sharing
    thousands of prefix groups are one source counted twice.

    The signal is the ``prefix_dup_groups`` fingerprint (md5 of the
    first ``k`` tokens) because it is ORACLE-EXACT on both engines and
    catches the truncate/re-chunk/boilerplate dup class between exact
    dedup and MinHash.

    Scale design: ONE 16-byte prefix-hash exchange (document text
    never rides a shuffle); the per-hash distinct-source set is
    collected bounded — a hash held by more than ``max_sources``
    sources is dropped by an ABSOLUTE cap (the max_posting /
    max_bucket rule, mirrored in the oracle via BETWEEN), so the pair
    fan-out per hash is <= C(max_sources, 2) regardless of corpus
    size; the ordered-pair explode reuses the basket slice pattern
    (half volume, no self-join); the final rollup is
    <= C(n_sources, 2) rows."""
    toks = tokens("text")
    pref = F.md5(F.concat_ws(" ", F.slice(toks, 1, k)))
    hs = (
        documents.where(F.size(toks) > 0)
        .select(pref.alias("prefix_hash"), "source")
        .groupBy("prefix_hash")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where((F.size("ss") >= 2) & (F.size("ss") <= max_sources))
    )
    pairs = hs.select(
        F.posexplode("ss").alias("_i", "a"), "ss"
    ).select(
        "a",
        F.explode(F.expr("slice(ss, _i + 2, size(ss) - _i - 1)")).alias(
            "b"
        ),
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_prefixes"))
        .select(
            F.col("a").alias("source_a"),
            F.col("b").alias("source_b"),
            "n_shared_prefixes",
        )
        .orderBy("source_a", "source_b")
    )
