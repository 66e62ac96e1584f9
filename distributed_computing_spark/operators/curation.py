"""Training-corpus curation operators ([EXT]): clean/redact, chunk,
pack, mixture-sample, data-quality audit.

The steps between "raw crawl" and "training batches" that a 100 TB
text pipeline runs after dedup (dedup.py) and quality scoring
(textstats.py):

- ``clean_docs`` — normalization + PII redaction (URLs, emails,
  phone-shaped numbers) as pure regexp Column expressions.
- ``chunk_docs`` — fixed-size token windows with stride overlap
  (``sequence`` + ``posexplode`` + ``slice``; one shuffle-free pass).
- ``pack_chunks`` — assign chunks to fixed-capacity training bins via
  a per-source cumulative token count (the distributed stand-in for
  greedy sample packing), computed as a hierarchical two-level prefix
  sum: order-contiguous doc_id bands cumsum locally, tiny band totals
  window-scan into broadcast offsets — parallelism is sources × bands,
  no per-source single-task sort at scale.
- ``mixture_sample`` — deterministic per-source sampling rates (the
  Pile/CC-style mixture weights), via a bounded multiplicative hash so
  ANSI mode can't overflow and DuckDB can mirror it exactly.
- ``dq_audit`` — referential/nullability/range violation counts across
  the relational tables; each check is an independent aggregate that
  Catalyst executes as its own pruned scan.

Everything is JVM-side Column code — no UDFs — and every operator has
an exact DuckDB oracle in the registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_computing_spark.functions.frames import map_rows
from distributed_computing_spark.functions.text import TOKEN_SPLIT_RE
from distributed_computing_spark.sources.catalog import load_table

# RE2-compatible (DuckDB) and Java-regex-compatible patterns, so the
# identical strings run on both engines.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"(\+?[0-9]{1,2}[-.])?[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"


def clean_text(col: Column | str) -> Column:
    """Redact URL/EMAIL/PHONE spans, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, URL_RE, "<URL>")
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning pass over `documents`: redacted text + audit columns
    (chars removed, redaction hit counts) so a pipeline can monitor
    what the cleaner is actually doing at scale."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = clean_text(F.col("text"))
    n_redactions = (
        F.size(F.split(F.col("text"), URL_RE))
        + F.size(F.split(F.col("text"), EMAIL_RE))
        + F.size(F.split(F.col("text"), PHONE_RE))
        - F.lit(3)
    )
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (F.length("text") - F.length(cleaned)).alias("chars_removed"),
        n_redactions.cast("long").alias("n_redactions"),
    )


def chunk_docs(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-size token windows with overlap (training-sample prep).

    Emits one row per (doc, window): chunk_id, the chunk's text and its
    token count. stride < size gives overlapping context windows. No
    shuffle: tokenize → per-row ``sequence`` of window starts →
    ``posexplode`` → ``slice`` all happen within the scan stage, so at
    100 TB this is a map-only pass whose output can stream straight to
    a partitioned writer. ``keep_cols`` carries doc attributes through
    to every chunk row — cheaper than re-joining them onto the (much
    larger) chunk set afterwards.
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    toks = F.filter(
        F.split(F.col(text_col), TOKEN_SPLIT_RE), lambda t: t != ""
    )
    with_toks = docs.select(
        "doc_id", *keep_cols, toks.alias("_toks"), F.size(toks).alias("_n")
    ).where(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    exploded = with_toks.select(
        "doc_id",
        *keep_cols,
        "_toks",
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, size)
    return exploded.select(
        "doc_id",
        *keep_cols,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def fused_chunk_docs(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``chunk_docs`` on the fused-Arrow plan (round 3): tokenize +
    window + join-back collapse into ONE map-only mapInPandas pass.
    The JVM form pays interpreted per-chunk expression cost building
    each chunk's text (slice + concat_ws over array attributes);
    measured at the 50× tier: 25.2 s → 0.6–2.5 s warm (BASELINE.md),
    results bit-identical (same ASCII tokenizer equivalence the fused
    word_count uses), so the oracle is unchanged. Still map-only —
    output streams straight to a partitioned writer at 100 TB.
    ``chunk_docs`` stays as the pure-JVM reference plan.
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    import re

    pat = re.compile("[A-Za-z0-9]+")
    extra_cols = list(keep_cols)

    def chunk_row(did, *rest):
        *ev, text = rest
        toks = pat.findall(text if isinstance(text, str) else "")
        for ci, start in enumerate(range(0, len(toks), stride)):
            piece = toks[start : start + size]
            yield (did, *ev, ci, " ".join(piece), len(piece))

    # NOT spread_for_arrow here (round-12, measured): the chunk pass is
    # cheap byte re-slicing, and pipeline callers hand it join outputs
    # whose .rdd partition probe both compiles a large plan twice and
    # reads the PRE-AQE partition count; callers that need the Python
    # stage spread (corpus_pipeline's probe_in) repartition explicitly.
    types = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    extra_schema = "".join(f"{c} {types[c]}, " for c in extra_cols)
    return map_rows(
        docs.select("doc_id", *extra_cols, text_col),
        chunk_row,
        f"doc_id long, {extra_schema}chunk_id long, chunk_text string, n_tokens long",
    )


def chunk_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: chunk `documents` at 64/48 and return the chunk
    rows (doc_id, chunk_id, chunk_text, n_tokens) — the fused Arrow
    pass (bit-identical to the ``chunk_docs`` JVM reference plan)."""
    return fused_chunk_docs(load_table(spark, sf_dir, "documents"))


def pack_chunks(
    chunks: DataFrame,
    capacity: int = 256,
    group_col: str = "source",
    sub_bands: int = 32,
    bounds: DataFrame | None = None,
    banding: str = "width",
) -> DataFrame:
    """Assign chunks to fixed-capacity training bins per group.

    Orders chunks within each group by (doc_id, chunk_id), takes the
    running token total, and bins at ``capacity`` boundaries:
    bin = tokens_before_this_chunk div capacity. This is cumulative-sum
    packing — bins can overflow by at most one chunk, which is the
    standard scale tradeoff vs. exact first-fit (inherently serial).

    The running total is a HIERARCHICAL (two-level) prefix sum, the
    distributed-scan classic: doc_id is banded into ``sub_bands``
    order-contiguous ranges per group, each (group, band) computes its
    local cumulative sum independently, and the tiny per-band totals
    (groups × bands rows) are window-scanned into exclusive band
    offsets that broadcast back onto the chunk rows. Bin ids are
    IDENTICAL to a single per-group window (offset + local cum ==
    global cum), but the big-data sort parallelism is groups × bands
    instead of groups — at 100 TB a handful of mega-sources no longer
    serialize into one task each.

    ``banding`` picks the boundary rule — bin ids are band-invariant
    (any monotone-in-doc_id banding gives offset + local cum == global
    cum), so BOTH modes hash-match the single-window oracle; only task
    balance differs:
    - ``"width"``: equi-width over the group's [min, max] doc_id range.
      Cheapest (one min/max over a pruned scan, and callers may pass
      ``bounds`` from an even cheaper frame), but a group whose doc_ids
      cluster in a narrow slice of its range degenerates to one band.
    - ``"depth"``: equi-depth via per-group ``approx_percentile``
      boundaries over doc_id — bands hold ~equal ROW counts however
      skewed the id distribution. The boundary aggregate is one extra
      pass over (group, doc_id); approx-sketch wobble only moves band
      edges, never bin ids.
    """
    if banding not in ("width", "depth"):
        raise ValueError(f"banding must be 'width' or 'depth', got {banding!r}")
    order_cols = ["doc_id", "chunk_id"]
    if banding == "depth":
        qs = ", ".join(str(i / sub_bands) for i in range(1, sub_bands))
        if bounds is None:
            bounds = chunks.groupBy(group_col).agg(
                F.expr(f"approx_percentile(doc_id, array({qs}))").alias("_bnds")
            )
        # band = #boundaries strictly below doc_id (monotone, 0..bands-1);
        # the boundary array is sub_bands-1 elements, so no cap needed.
        band = F.size(
            F.filter(F.col("_bnds"), lambda b: b < F.col("doc_id"))
        ).cast("int")
    else:
        # per-group doc_id bounds → order-contiguous equi-width bands.
        # Band boundaries only need to be a monotone cover of the group's
        # doc_ids, not tight — so callers can pass ``bounds`` computed from
        # a CHEAPER frame (e.g. the raw docs table) to avoid re-running the
        # chunk pipeline's tokenizer a second time for this aggregate; bin
        # assignment is band-invariant (offset + local cum == global cum).
        if bounds is None:
            bounds = chunks.groupBy(group_col).agg(
                F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi")
            )
        band = F.least(
            F.lit(sub_bands - 1),
            F.expr(f"((doc_id - _lo) * {sub_bands}) div (_hi - _lo + 1)"),
        ).cast("int")
    banded = chunks.join(F.broadcast(bounds), group_col).withColumn("_band", band)

    # level 1: local running total within each (group, band)
    w_local = (
        Window.partitionBy(group_col, "_band")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    banded_cum = banded.withColumn("_cum", F.sum("n_tokens").over(w_local))

    # level 2: exclusive prefix of band totals — tiny (groups × bands).
    # Derived from the WINDOW output (a band's total == its max running
    # sum), not from a fresh aggregate over ``chunks``: both consumers
    # then share the (group, band) shuffle via ReusedExchange instead
    # of recomputing the whole chunk pipeline twice. (Round-12 probe:
    # a persisted banded_cum variant measured ~0.3 s SLOWER warm at
    # sf0.1 — the runtime reuse is real here; verify with an EXECUTED
    # AQE plan, a pre-execution explain prints no ReusedExchange.)
    band_tot = banded_cum.groupBy(group_col, "_band").agg(
        F.max("_cum").alias("_btot")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = band_tot.select(
        group_col,
        "_band",
        F.coalesce(F.sum("_btot").over(w_off), F.lit(0)).alias("_off"),
    )

    return (
        banded_cum.join(F.broadcast(offsets), [group_col, "_band"])
        .withColumn("_before", F.col("_off") + F.col("_cum") - F.col("n_tokens"))
        .select(
            group_col,
            F.expr(f"_before div {capacity}").alias("bin_id"),
            "n_tokens",
        )
        .groupBy(group_col, "bin_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )


def chunk_counts(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Chunk STATISTICS without materializing token arrays.

    For planning/packing, a chunk's token count is pure arithmetic:
    ``least(size, n - start)`` over ``token_count`` — so this emits the
    identical (doc_id, chunk_id, n_tokens) rows as ``chunk_docs`` at a
    fraction of the cost (no split arrays, no per-chunk array copies;
    the explode carries one integer). Measured 8.5 s → ~1 s for the
    packing query at the 20× tier.
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    from distributed_computing_spark.functions.text import token_count

    with_n = docs.select(
        "doc_id", *keep_cols, token_count(text_col).alias("_n")
    ).where(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    return with_n.select(
        "doc_id",
        *keep_cols,
        F.posexplode(starts).alias("chunk_id", "_start"),
        "_n",
    ).select(
        "doc_id",
        *keep_cols,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.lit(size), F.col("_n") - F.col("_start"))
        .cast("long")
        .alias("n_tokens"),
    )


def pack_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: chunk then pack per source at capacity 256.
    Packing needs only chunk token counts, so it runs on the array-free
    ``chunk_counts`` frame; ``source`` rides along via keep_cols. Band
    bounds come from the raw docs table (a plain min/max over a pruned
    two-column scan) so the tokenizer runs once, not twice."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.groupBy("source").agg(
        F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi")
    )
    return pack_chunks(chunk_counts(docs, keep_cols=("source",)), bounds=bounds)


# Two-round LCG over a prime modulus, with bounded intermediates:
# pmod-ing after each multiply keeps products < 1e6 * 62089 ≈ 6e10 « 2^63,
# so ANSI mode cannot overflow at any id scale, and the same arithmetic
# runs verbatim in DuckDB. The prime modulus matters: a single
# multiplicative round mod 10^4 aliases badly with periodic id→group
# assignments (e.g. group = id % 20), skewing per-group rates.
_HP = 999983  # prime


def _sample_hash(id_col: Column | str) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    x = F.pmod(F.pmod(c, _HP) * 62089, _HP)
    x = F.pmod((x + 74747) * 58229, _HP)
    return F.pmod(x, 10000)


def mixture_sample(
    docs: DataFrame, rates: dict[str, float], group_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic mixture sampling: keep each row of group g with
    probability rates[g] (0 for unlisted groups), decided by a hash of
    the row id — reproducible across runs/executors, no RNG state, and
    joins/unions of samples stay consistent (the same doc is always in
    or always out)."""
    rate_col = F.lit(None).cast("double")
    for g, r in sorted(rates.items()):
        rate_col = F.when(F.col(group_col) == g, F.lit(r)).otherwise(rate_col)
    return docs.where(
        _sample_hash(id_col) < (F.coalesce(rate_col, F.lit(0.0)) * 10000).cast("long")
    )


def mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: a skewed mixture over the synthetic sources
    (25%/50%/75%/100%, others dropped), summarized as kept rows +
    tokens per source (small, oracle-friendly)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs, {"src0": 0.25, "src1": 0.5, "src2": 0.75, "src3": 1.0}
    )
    from distributed_computing_spark.functions.text import token_count

    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("n_tokens"),
    )


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: violation counts per check over the
    relational tables. Each check is one aggregate over a pruned scan;
    the union of 1-row results is driver-cheap at any scale. Checks:
    nullability, duplicate PKs, referential integrity (orphans),
    value-range contracts."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        # each df is a 1-row count aggregate (count never yields null)
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    checks = [
        one(
            "orders_null_custkey",
            orders.agg(
                F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("violations")
            ),
        ),
        one(
            "orders_dup_orderkey",
            orders.agg(
                (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
                    "violations"
                )
            ),
        ),
        one(
            "orders_orphan_custkey",
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ).agg(F.count("*").alias("violations")),
        ),
        one(
            "lineitem_orphan_orderkey",
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ).agg(F.count("*").alias("violations")),
        ),
        one(
            "lineitem_nonpositive_price",
            lineitem.agg(
                F.count(F.when(F.col("l_extendedprice") <= 0, 1)).alias("violations")
            ),
        ),
        one(
            "lineitem_qty_out_of_range",
            lineitem.agg(
                F.count(
                    F.when(~F.col("l_quantity").between(1, 50), 1)
                ).alias("violations")
            ),
        ),
        one(
            "customer_dup_custkey",
            customer.agg(
                (F.count("c_custkey") - F.countDistinct("c_custkey")).alias(
                    "violations"
                )
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# Deterministic train/valid/test split
# ---------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.9,
    valid: float = 0.05,
) -> DataFrame:
    """[EXT] Deterministic, engine-portable train/valid/test assignment.

    bucket = first 15 hex digits (60 bits) of md5(id) mod 10000 — a
    pure function of the id, so the split is stable across engines,
    restarts, repartitions, and appends (a doc added later never moves
    existing docs between splits, unlike randomSplit or row_number
    slicing). Map-only: no shuffle, no global sort, trivially correct
    at any scale. 60 bits keeps the ANSI-mode long cast overflow-free;
    DuckDB mirrors it exactly via ('0x' || substr(md5(...),1,15)).

    ``textstats.train_test_split`` is the cheaper xxhash64 two-way
    variant (JVM-only hash — rows-only under the gate); this md5 form
    is the engine-portable one with an exact cross-engine oracle.
    """
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(10000),
    )
    split = (
        F.when(b < int(train * 10000), "train")
        .when(b < int((train + valid) * 10000), "valid")
        .otherwise("test")
    )
    return df.select(F.col(id_col), b.alias("bucket"), split.alias("split"))


def train_test_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs.select("doc_id"), "doc_id")


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame,
    test_pct: int = 10,
    seed: int = 13,
) -> DataFrame:
    """[EXT] Near-dup-aware train/test split: the whole near-dup
    CLUSTER gets one assignment, so no near-duplicate of a training doc
    ever lands in the held-out set (the eval-leakage failure mode a
    plain per-doc hash split cannot prevent).

    clusters = connected components over ``pairs`` (cluster_id =
    smallest member); membership = md5 bucket of the cluster_id —
    deterministic, append-stable, and reproducible in DuckDB SQL (the
    recursive-CTE closure + the same md5 bucket), so the full
    clustering + assignment is oracle-exact under the gate.
    """
    from distributed_computing_spark.operators.dedup import (
        md5_hash60,
        neardup_clusters,
    )

    clusters = neardup_clusters(documents, pairs)
    bucket = F.pmod(md5_hash60(F.col("cluster_id"), seed), F.lit(100))
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < test_pct, "test").otherwise("train").alias("split"),
    )


def epoch_shuffle_index(
    df: DataFrame, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """[EXT] Global deterministic training-shuffle order WITHOUT a
    global sort: each row's position in the seeded pseudorandom
    permutation ordered by (md5_hash60(id, seed), id).

    Two-level rank (the hierarchical prefix-sum ``pack_chunks`` uses):
    range-bucket on the hash's top 6 bits — bucket order IS hash order,
    so per-bucket ranks + broadcast cumulative bucket offsets compose
    to the exact global rank. The only data-scale exchange is the
    64-way hash partition for the per-bucket window; the offsets table
    is 64 rows (its window is bounded, not data-scale). A naive
    ``row_number() OVER (ORDER BY hash)`` would funnel the corpus
    through ONE range-sort task at 100 TB; this never does.

    Re-seeding gives a fresh epoch permutation; appends don't disturb
    existing relative order beyond their own insertion points.
    """
    from distributed_computing_spark.operators.dedup import md5_hash60

    from pyspark.sql import Window

    t = df.select(F.col(id_col), md5_hash60(F.col(id_col), seed).alias("_h"))
    t = t.withColumn("_b", F.shiftright("_h", 54))  # top 6 of 60 bits
    counts = t.groupBy("_b").agg(F.count("*").alias("_c"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_rank = Window.partitionBy("_b").orderBy("_h", id_col)
    return (
        t.join(F.broadcast(offsets), "_b")
        .select(
            F.col(id_col),
            (F.col("_off") + F.row_number().over(w_rank) - 1)
            .cast("long")
            .alias("sample_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted Bernoulli sampling (engine-portable, integer-exact)
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight,
    seed: int = 0,
) -> DataFrame:
    """Keep each row with probability weight/max(weight) — importance
    sampling as a PURE FUNCTION of (id, seed), like
    ``hash_stratified_sample``: retries, repartitioning, and engines
    all agree on membership, so the sample is reproducible AND exactly
    oracle-checkable.

    The inclusion test is integer-only: with h30 the top 30 bits of
    ``md5_hash60(id, seed)`` (uniform on [0, 2^30)), keep iff
    ``h30 * max_w < w * 2^30`` — exactly P(keep) = w/max_w with zero
    float arithmetic. Map-only except the bounded 1-row max (collected,
    then folded in as a literal — same broadcast-min/max discipline as
    ``value_histogram``). Guard: max_w must fit 32 bits so both
    products stay under 2^62 (ANSI-safe).

    ``weight`` is a Column of non-negative longs (e.g. cents-as-long
    per the float-aggregate rule).
    """
    w = df.select(id_col, weight.alias("w"))
    row = w.agg(F.max("w").alias("m")).collect()[0]
    m = int(row["m"]) if row["m"] is not None else 0
    if m <= 0:
        raise ValueError("weights must contain a positive maximum")
    if m >= 1 << 32:
        raise ValueError(
            "max weight must fit 32 bits (rescale weights) so the "
            "inclusion products stay under 2^62"
        )
    # expr form of md5_hash60's top 30 bits: `div` truncates (Column
    # `/` would be float division)
    h30 = F.expr(
        f"CAST(conv(substring(md5(concat_ws('#', CAST({id_col} AS STRING), "
        f"'{seed}')), 1, 15), 16, 10) AS LONG) div 1073741824"
    )
    return (
        w.where(h30 * F.lit(m) < F.col("w") * F.lit(1 << 30))
        .select(id_col, F.col("w"))
    )
