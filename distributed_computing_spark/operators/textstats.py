"""Text-analysis operators ([EXT]): lang-id, quality, tokens, fingerprints.

All pure Column pipelines over the `documents` table — no UDFs, fully
codegen'd, and each has an exact DuckDB-SQL mirror in the registry so
the driver's oracle gate covers them value-for-value.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import frame_maker, map_rows
from distributed_computing_spark.functions.text import (
    LANG_LEXICONS,
    TOKEN_MATCH_RE,
    bpe_ish_token_count,
    fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_set_pattern,
)
from distributed_computing_spark.sources.catalog import load_table, table_rows


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: token counts, punct/stopword ratios, length."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quality score per doc + keep/drop flag at 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_score("text")
    return docs.select(
        "doc_id",
        q.alias("quality"),
        (q >= 0.5).cast("int").alias("keep"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] lexicon-hit lang-id heuristic with deterministic argmax.

    Scores each language by the count of its lexicon words in the
    token stream; predicted = highest count, ties → alphabetically
    first lang, no hits → 'und'. (The synthetic corpus shares one
    vocabulary across langs, so this exercises the operator shape, not
    linguistic accuracy — the lexicons are swappable.)
    """
    docs = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))

    def lexicon_hits(lex: tuple[str, ...]):
        # boundary-anchored alternation ≡ counting lexicon members of
        # the token array, single codegen'd pass instead of an
        # interpreted split+filter HOF per language (see
        # functions/text.word_set_pattern)
        return F.regexp_count(lowered, F.lit(word_set_pattern(lex)))

    scored = docs.select(
        "doc_id",
        "lang",
        *[
            lexicon_hits(lex).alias(f"score_{lang}")
            for lang, lex in sorted(LANG_LEXICONS.items())
        ],
    )
    langs = sorted(LANG_LEXICONS)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    pred = F.lit("und")
    # reverse order so the alphabetically-first winner is applied last
    for la in reversed(langs):
        pred = F.when(F.col(f"score_{la}") == best, F.lit(la)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("pred_lang"))


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] md5-of-normalized-text fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) rollup of corpus composition — the dataset-card
    query a pipeline runs before training: docs, chars, token budget."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
    )


def build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary: (word, cnt, id), id dense from 1,
    ties broken by word — the tokenizer-training step of a data
    pipeline.

    Scale note: the corpus-wide count is fully distributed; only the
    final dense-id ranking is a global window (vocab << corpus — ~10^6
    rows of (word, cnt) through one task is fine; for open-ended id
    spaces use xxhash64 ids and skip the ranking entirely).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "word")
    return counts.select(
        "word", "cnt", F.row_number().over(w).cast("int").alias("id")
    )


def encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding: each document as its ordered token-id
    sequence under build_vocab's mapping (comma-joined for oracle
    comparability). The vocab side broadcasts; positions ride the
    existing doc_id partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(spark, sf_dir).select("word", "id")
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "word"))
    enc = tok.join(F.broadcast(vocab), "word")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "id"))), lambda s: s["id"]
    )
    return enc.groupBy("doc_id").agg(
        F.array_join(ordered, ",").alias("token_ids"),
        F.count("*").cast("int").alias("n_tokens"),
    )


def top_docs_per_lang(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-group top-k (corpus curation: best-quality docs per
    language): rank-within-partition, the distributed form of a
    per-group limit — no global sort, one shuffle on the group key."""
    from pyspark.sql import Window

    q = quality_scores(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id")
    return (
        q.join(docs, "doc_id")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("lang", "rnk", "doc_id", "quality")
    )


def train_test_split(
    df: DataFrame, id_col: str = "doc_id", test_frac: float = 0.1, seed: int = 42
) -> DataFrame:
    """Deterministic hash split: stable across runs, partitioning, and
    cluster size (never rand() — resampling on retry corrupts a train/
    test boundary). Rows where xxhash64(id, seed) lands in the lowest
    ``test_frac`` of the hash space become 'test'."""
    cut = int((2**64) * test_frac) - 2**63  # signed-long threshold
    bucket = F.xxhash64(F.col(id_col), F.lit(seed))
    return df.withColumn(
        "split", F.when(bucket < F.lit(cut), F.lit("test")).otherwise(F.lit("train"))
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """TF-IDF characteristic terms per document (top-k by weight).

    Classic retrieval/curation op: tf per (doc, term) and df per term
    come out of ONE tokenize pass (df re-aggregates the tf result —
    no second scan); idf = ln(N/df) with the corpus size as a literal.
    Ranking runs on the ROUNDED weight so cross-engine float noise
    can't flip rank order (ties break by term).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_rows(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("dfreq"))
    scored = tf.join(F.broadcast(dfreq), "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("dfreq")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "word", "tfidf", "rnk")
    )


def bigram_counts(spark: SparkSession, sf_dir: str, min_count: int = 20) -> DataFrame:
    """Corpus n-gram statistics (LM-style counts): bigram frequencies
    via the same zipped-slice shingling the dedup tier uses (n=2)."""
    from distributed_computing_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, n=2, distinct=False)
    return (
        sh.groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def bigram_pmi(
    spark: SparkSession,
    sf_dir: str,
    min_count: int = 15,
    k: int = 40,
    scale: int = 10**6,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Collocation discovery (round 8): top-k bigrams by pointwise
    mutual information with a minimum-support floor — the classic
    phrase-detection statistic (Church & Hanks 1990) over the corpus.

    Float-free ranking (the quantized-rank rule): PMI's exp-scale
    ratio p(xy)/(p(x)p(y)) = n_xy·N² / (N_bi·n_x·n_y) ranks
    identically to PMI itself (log is monotone), so the gate key is
    ``pmi_ppm = (n_xy·N²·10^6) div (N_bi·n_x·n_y)`` — exact integer
    arithmetic through DECIMAL(38,0) on both engines (HUGEINT in the
    oracle); worst case ~1e30 stays inside both ranges.

    Plan (round-8 fusion — the explode-family lesson yet again): ONE
    Arrow pass tokenizes and C-dict-counts unigrams AND bigrams per
    partition (the arrays_zip/slice/explode draft measured 63 s at the
    R50 tier vs DuckDB's 0.4 s — interpreted array slicing over 50 M
    tokens; the fused pass exchanges only per-partition partial
    counts). The gram-count aggregate persists once and feeds both
    branches (Catalyst re-evaluates shared subtrees otherwise);
    totals are 1-row aggs; unigram counts re-attach by BROADCAST only
    while the distinct vocabulary stays under ``max_broadcast_vocab``
    (VERDICT r8 item 5a — a web-scale vocab must not be collected to
    every executor); past the cap the re-attach falls back to a
    shuffle join on the token, the max_posting absolute-cap rule
    applied to broadcasting.

    Crossover closure (round 9, VERDICT r8 item 4): Spark near-flat
    4.8 → 3.8 → 5.5 s across R50/R100/R200 (1 M docs) — the floor is
    the Arrow tokenize pass — while the single-node side doubles per
    tier (0.38 → 0.63 → 1.13 s), ratio 12.5× → 6.0× → 4.9×;
    extrapolated crossing ~R800 (BASELINE.md, RECORDED_R9_TIERS)."""
    from distributed_computing_spark.caching import track_persist

    docs = load_table(spark, sf_dir, "documents")
    pat = re.compile(TOKEN_MATCH_RE)
    gram_schema = "x string, y string, cnt long"
    build = frame_maker(gram_schema)

    def count_grams(batches):
        uni: Counter = Counter()
        bi: Counter = Counter()
        for pdf in batches:
            for text in pdf["text"]:
                toks = pat.findall(text)
                uni.update(toks)
                bi.update(zip(toks, toks[1:]))
        yield build(
            [w for w in uni] + [a for a, _ in bi],
            [None] * len(uni) + [b for _, b in bi],
            [c for c in uni.values()] + list(bi.values()),
        )

    from distributed_computing_spark.parallelism import spread_for_arrow

    grams = track_persist(
        spread_for_arrow(docs.select("text"))
        .mapInPandas(count_grams, schema=gram_schema)
        .groupBy("x", "y")
        .agg(F.sum("cnt").alias("cnt"))
    )
    uni = grams.where(F.col("y").isNull()).select(
        F.col("x").alias("w"), F.col("cnt").alias("c")
    )
    bi = grams.where(F.col("y").isNotNull()).select(
        "x", "y", F.col("cnt").alias("n_xy")
    )
    n_tok = uni.agg(F.sum("c").alias("n"))
    n_bi = bi.agg(F.sum("n_xy").alias("nb"))
    cx = uni.select(F.col("w").alias("x"), F.col("c").alias("n_x"))
    cy = uni.select(F.col("w").alias("y"), F.col("c").alias("n_y"))
    pmi = F.expr(
        f"cast(n_xy as decimal(38,0)) * cast(n as decimal(38,0)) * "
        f"cast(n as decimal(38,0)) * {scale} div "
        "(cast(nb as decimal(38,0)) * cast(n_x as decimal(38,0)) * "
        "cast(n_y as decimal(38,0)))"
    )
    # Size gate on the unigram re-attach: grams is persisted, so this
    # count is a cache-served bounded aggregate, not an extra scan.
    vocab_fits = uni.count() <= max_broadcast_vocab
    cx = F.broadcast(cx) if vocab_fits else cx
    cy = F.broadcast(cy) if vocab_fits else cy
    return (
        bi.where(F.col("n_xy") >= min_count)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("n_xy"),
            F.col("n_x"),
            F.col("n_y"),
            pmi.cast("long").alias("pmi_ppm"),
        )
        .orderBy(F.col("pmi_ppm").desc(), F.col("bigram"))
        .limit(k)
    )


def doc_cooccurrence(
    spark: SparkSession,
    sf_dir: str,
    min_docs: int = 10,
    k: int = 40,
    max_doc_vocab: int = 2000,
    max_broadcast_vocab: int = 2_000_000,
) -> DataFrame:
    """Document-level token co-occurrence LIFT (round 12): for each
    unordered token pair {x, y}, in how many documents do BOTH appear
    (distinct per doc), and how does that compare to independence —
    ``lift_ppm = (n_xy · N · 10⁶) div (n_x · n_y)`` over document
    frequencies. The topic-signal companion to ``bigram_pmi``:
    adjacency PMI finds phrases; document co-occurrence finds words
    that TRAVEL TOGETHER across documents. Top-k by exact integer
    lift with support floor ``n_xy >= min_docs``; deterministic
    (lift, n_xy, x, y) tie order.

    Scale contract: per-doc pair fan-out is C(v, 2) in the doc's
    DISTINCT vocabulary v — the absolute ``max_doc_vocab`` cap (the
    relative-cap lesson: caps must be absolute) SKIPS degenerate
    mega-vocabulary docs entirely (pairs AND df AND the doc count,
    so N stays consistent), mirrored in the oracle's WHERE. The
    Arrow pass emits per-partition PARTIAL (x, y, cnt) rows — the
    exchange is bounded by the distinct pair set per partition,
    never the raw C(v,2)·docs stream (the count_grams/count_pairs
    map-side-combine shape); the doc-count row rides the same frame
    as an (x=NULL) sentinel, so ONE pass serves pair counts, doc
    frequencies, and N. Integer products ride DECIMAL(38,0) (n_xy·N
    ·10⁶ approaches 2^63 at replica scale); the FINAL schema ships
    BIGINT counts and the bounded BIGINT lift_ppm (decimal-purge
    rule)."""
    from itertools import combinations

    from distributed_computing_spark.caching import track_persist

    docs = load_table(spark, sf_dir, "documents")
    pat = re.compile(TOKEN_MATCH_RE)
    gram_schema = "x string, y string, cnt long"
    build = frame_maker(gram_schema)

    def count_cooc(batches):
        pair_c: Counter = Counter()
        tok_c: Counter = Counter()
        ndocs = 0
        for pdf in batches:
            for text in pdf["text"]:
                toks = sorted(set(pat.findall(text)))
                if not toks or len(toks) > max_doc_vocab:
                    continue
                ndocs += 1
                tok_c.update(toks)
                pair_c.update(combinations(toks, 2))
        xs = [w for w in tok_c] + [a for a, _ in pair_c] + [None]
        ys = [None] * len(tok_c) + [b for _, b in pair_c] + [None]
        cs = list(tok_c.values()) + list(pair_c.values()) + [ndocs]
        yield build(xs, ys, cs)

    from distributed_computing_spark.parallelism import spread_for_arrow

    grams = track_persist(
        spread_for_arrow(docs.select("text"))
        .mapInPandas(count_cooc, schema=gram_schema)
        .groupBy("x", "y")
        .agg(F.sum("cnt").alias("cnt"))
    )
    n_total = grams.where(F.col("x").isNull()).select(
        F.col("cnt").alias("n_docs")
    )
    df_tok = grams.where(
        F.col("x").isNotNull() & F.col("y").isNull()
    ).select(F.col("x").alias("w"), F.col("cnt").alias("df"))
    pairs = grams.where(F.col("y").isNotNull()).select(
        F.col("x"), F.col("y"), F.col("cnt").alias("n_xy")
    )
    cx = df_tok.select(F.col("w").alias("x"), F.col("df").alias("n_x"))
    cy = df_tok.select(F.col("w").alias("y"), F.col("df").alias("n_y"))
    # Size gate on the df re-attach (the bigram_pmi rule: a web-scale
    # vocabulary must not broadcast): grams is persisted, so the count
    # is a cache-served bounded aggregate, not an extra scan.
    vocab_fits = df_tok.count() <= max_broadcast_vocab
    cx = F.broadcast(cx) if vocab_fits else cx
    cy = F.broadcast(cy) if vocab_fits else cy
    dec = "decimal(38,0)"
    scored = (
        pairs.where(F.col("n_xy") >= min_docs)
        .join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_total))
        .select(
            "x",
            "y",
            "n_xy",
            "n_x",
            "n_y",
            F.expr(
                f"cast(cast(n_xy as {dec}) * cast(n_docs as {dec})"
                f" * cast(1000000 as {dec})"
                f" div (cast(n_x as {dec}) * cast(n_y as {dec}))"
                " as bigint)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), F.col("n_xy").desc(), "x", "y"
    ).limit(k)


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    fraction: float = 0.2,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): equal sampling
    rate within every stratum regardless of stratum size — the
    class-balance-preserving downsample of a training pipeline.
    Seed-deterministic; distributed (no driver-side materialization).
    """
    strata = [r[0] for r in df.select(strata_col).distinct().collect()]
    return df.sampleBy(strata_col, {s: fraction for s in strata}, seed=seed)


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    fraction: float = 0.2,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff its md5-derived
    bucket falls under ``fraction`` — the hash-based sampling a
    production pipeline prefers over RNG ``sampleBy``: membership is a
    pure function of (stratum, id, seed), so it is stable across
    retries, repartitioning, AND engines (``dedup.md5_hash60`` is
    bit-identical in DuckDB SQL, making this the oracle-exact
    counterpart of ``stratified_sample``). Map-only — no shuffle, no
    stratum collect."""
    from distributed_computing_spark.operators.dedup import md5_hash60

    h = md5_hash60(F.concat_ws("#", F.col(strata_col), F.col(id_col)), seed)
    # round, not int: int() truncates binary-float products (0.3*1000 ==
    # 299.999... -> 299), silently undershooting the stated fraction.
    return df.where(F.pmod(h, F.lit(1000)) < round(fraction * 1000))


def repetition_scores(documents: DataFrame, n: int = 2) -> DataFrame:
    """[EXT] Intra-document repetition metrics (Gopher-style quality
    filter, Rae et al. 2021 "repetition" signals): per doc, the
    fraction of n-gram occurrences that are duplicates and the mass of
    the single most frequent n-gram. High dup_frac / top_frac marks
    boilerplate and degenerate generations for removal before training.

    Scale shape: shingles hash to 8-byte xxhash64 before the exchange
    (strings never shuffle); the (doc_id, hash) count partially
    aggregates map-side, and the second per-doc aggregate reuses the
    doc_id prefix of the same key space. Docs with fewer than n tokens
    yield no shingles and drop out (same contract as the dedup family).

    Measured dead end (round 2, 50x tier): replacing the exchange with
    a map-only sorted-array run-length pass (array_sort + sequence/
    filter/zip_with over materialized attributes) ran 3.5x SLOWER
    (79 s vs 23 s) — Spark's HOF path is interpreted per element, so
    ~6 interpreted ops x 50M elements dwarf the 24-byte-row shuffle.
    Keep the exchange.
    """
    from distributed_computing_spark.operators.dedup import shingle_rows

    sh = shingle_rows(documents, n, distinct=False).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    per_sh = sh.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_sh.groupBy("doc_id").agg(
        F.sum("c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("c").alias("top_count"),
    )
    total = F.col("total_ngrams").cast("double")
    return per_doc.select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        F.round(1.0 - F.col("distinct_ngrams") / total, 6).alias("dup_frac"),
        F.round(F.col("top_count") / total, 6).alias("top_frac"),
    )


def fused_repetition_scores(documents: DataFrame, n: int = 2) -> DataFrame:
    """``repetition_scores`` on the fused-Arrow plan (round 3): the
    whole per-doc n-gram profile — tokenize, n-gram Counter, (total,
    distinct, top) — collapses into ONE map-only mapInPandas pass; no
    exchange at all (the hash plan shuffles (doc_id, h, c) rows twice).
    Counts come back exact integers; the ratios and rounding stay in
    the SAME JVM expressions as the hash plan, so results are
    bit-identical and the oracle is unchanged. Measured at the 50×
    tier: 22.7 s (hash plan) → see BASELINE.md. Same fusion lesson as
    ``fused_token_counts``: C-regex + C-dict batch passes win where
    interpreted per-element HOFs lost (the round-2 dead end).
    """
    pat = re.compile("[A-Za-z0-9]+")

    def profile(did, text):
        toks = pat.findall(text if isinstance(text, str) else "")
        if len(toks) < n:
            return ()  # no shingles — drops out, same contract
        c = Counter(zip(*[toks[i:] for i in range(n)]))
        return [(did, len(toks) - n + 1, len(c), max(c.values()))]

    from distributed_computing_spark.parallelism import spread_for_arrow

    per_doc = map_rows(
        spread_for_arrow(documents.select("doc_id", "text")),
        profile,
        "doc_id long, total_ngrams long, distinct_ngrams long, top_count long",
    )
    total = F.col("total_ngrams").cast("double")
    return per_doc.select(
        "doc_id",
        "total_ngrams",
        "distinct_ngrams",
        F.round(1.0 - F.col("distinct_ngrams") / total, 6).alias("dup_frac"),
        F.round(F.col("top_count") / total, 6).alias("top_frac"),
    )


def repetition_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fused_repetition_scores(load_table(spark, sf_dir, "documents"), n=2)


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: each document's mean natural-
    log probability under the corpus's OWN unigram LM — the classic
    cheap LM-quality filter in training-data pipelines (very negative
    mean = rare-token noise; near zero = boilerplate repetition).

    Two distributed passes over the token stream, nothing on the
    driver: pass 1 builds corpus token counts (partial-agg shuffle on
    word); pass 2 re-joins each doc's tokens to the counts and
    re-aggregates per doc. The vocabulary is open-ended, so the
    counts side joins by shuffle hash (no broadcast assumption); the
    corpus-total scalar rides in via a broadcast cross join. Docs
    with zero tokens have no LM score and drop out (inner join), same
    contract as the dedup family.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    counts = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(counts, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style quality scoring, one order up from
    ``unigram_logprob``: each doc's mean natural-log probability under
    the corpus's own ADD-1-SMOOTHED bigram LM — the cheap contextual
    fluency filter (word-salad scores far below boilerplate even when
    unigram frequencies match).

    P(b|a) = (C(a,b) + 1) / (C(a) + V), with C(a) counted over
    bigram-context positions and V the distinct-word vocabulary. Same
    distributed shape as the unigram form: count passes are
    partial-agg shuffles on the (a, b)/(a) keys, the per-doc re-join
    shuffles 8-byte-ish token keys, the scalar V rides a broadcast
    cross join. Docs with < 2 tokens have no bigram and drop out.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("_toks"))
    span = F.greatest(F.size("_toks") - 1, F.lit(0))
    z = F.arrays_zip(F.slice("_toks", 1, span), F.slice("_toks", 2, span))
    pairs = base.select("doc_id", F.explode(z).alias("p")).select(
        "doc_id", F.col("p.0").alias("a"), F.col("p.1").alias("b")
    )
    cab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    ca = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    vocab = base.select(F.explode("_toks").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    return (
        pairs.join(cab, ["a", "b"])
        .join(ca, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("cab") + 1.0) / (F.col("ca") + F.col("v")))), 6
            ).alias("avg_logprob"),
        )
    )


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing diagnostic: per source, the KL divergence (nats) of
    its unigram token distribution from the whole-corpus distribution —
    the dataset-card number that ranks how lexically atypical each
    source is (near 0 = interchangeable with the mix; large = its own
    register). KL is exact here, not sampled: the inner (source, word)
    counts reduce map-side, and the per-source sum runs over the tiny
    distinct-vocabulary rows, never the token stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("word"))
    sw = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n_sw"))
    s_tot = sw.groupBy("source").agg(F.sum("n_sw").alias("n_s"))
    w_tot = sw.groupBy("word").agg(F.sum("n_sw").alias("n_w"))
    g_tot = w_tot.agg(F.sum("n_w").alias("n"))
    p_s = F.col("n_sw") / F.col("n_s")
    p_g = F.col("n_w") / F.col("n")
    return (
        sw.join(s_tot, "source")
        .join(w_tot, "word")
        .crossJoin(F.broadcast(g_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum(p_s * F.log(p_s / p_g)), 6).alias("kl_nats"),
        )
    )


def lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition diagnostics: per source, the Shannon entropy
    (nats) of its language distribution — the dataset-card number that
    flags a source collapsing to one language after filtering.

    Two cheap aggregations: per-(source, lang) counts (partial-agg
    shuffle), then per-source entropy over the tiny distribution rows.
    The inner count never leaves the executors un-reduced.
    """
    docs = load_table(spark, sf_dir, "documents")
    by_lang = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    totals = by_lang.groupBy("source").agg(
        F.sum("n").alias("n_docs"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("n") / F.col("n_docs")
    return (
        by_lang.join(totals, "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_langs").alias("n_langs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"),
        )
    )


def shingle_novelty(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """First-occurrence novelty per document: the fraction of a doc's
    distinct n-gram shingles whose FIRST corpus appearance (smallest
    doc_id) is this doc — near 0 marks documents that only repeat
    earlier material (the streaming-ingest admission signal, computed
    corpus-wide in batch).

    Scale shape: both exchanges carry only 8-byte xxhash64 values and
    ids — (hash -> min doc_id) reduction, then an equi-join back on
    hash and a per-doc count. Text never shuffles; a doc with no
    shingles (< n tokens) drops out, as in the dedup family.
    """
    from distributed_computing_spark.operators.dedup import shingle_rows

    sh = shingle_rows(documents=load_table(spark, sf_dir, "documents"), n=n).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty_frac"),
    )


def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score calibration table: corpus deciles of the quality
    score with per-decile document counts, mean score, and share of
    total characters — the threshold-picking artifact behind every
    "keep top X%" filtering decision.

    ntile(10) is a single global window over (rounded score, doc_id) —
    deterministic across engines because the ordering key is the
    ROUNDED score (bit-identical both sides) with an id tie-break, and
    cheap because only (doc_id, score, n_chars) rows pass through one
    task — never the text.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("q"),
        "n_chars",
    )
    w = Window.orderBy("q", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def stopword_discovery(
    spark: SparkSession, sf_dir: str, min_df_frac: float = 0.4
) -> DataFrame:
    """Corpus-driven stopword mining: tokens appearing in at least
    ``min_df_frac`` of documents (document frequency, not raw count —
    a term spammed by one doc is not a stopword). The discovered list
    feeds stopword-ratio quality signals without a hand-curated
    lexicon.

    One tokenize pass: distinct (doc, word) pairs aggregate to df per
    word (partial-agg shuffle on word), the n_docs scalar broadcasts.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("word")
    )
    df_ = pairs.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        df_.crossJoin(F.broadcast(total))
        .where(F.col("df") >= F.lit(min_df_frac) * F.col("n_docs"))
        .select(
            "word",
            "df",
            F.round(F.col("df") / F.col("n_docs"), 6).alias("df_frac"),
        )
    )


def vocab_growth(
    spark: SparkSession, sf_dir: str, n_checkpoints: int = 20
) -> DataFrame:
    """Heaps-law vocabulary-growth curve (round 11, [EXT] text
    analysis): at ``n_checkpoints`` doc_id cutoffs, the cumulative
    corpus size (docs, token occurrences) and cumulative VOCABULARY
    (distinct tokens seen so far) plus the type–token ratio in ppm —
    the curve a corpus-curation pass reads to decide whether more of a
    source still adds vocabulary or only repeats it (Heaps' law:
    V ≈ K·N^β; the per-checkpoint points make β estimable downstream).

    Exact integers: a token's arrival point is min(doc_id) over the
    docs containing it, so V(cutoff) = #{tokens: first_doc < cutoff}
    is exact whatever the partitioning; cutoffs are
    ``((i+1)·(max_id+1)) div n_checkpoints`` — pure integer arithmetic
    mirrored in the oracle (non-negative operands). A checkpoint whose
    cutoff precedes every doc_id drops out on BOTH engines (inner
    join).

    Plan: ONE fused Arrow tokenize pass (the dedup_savings lesson —
    JVM regex split is the dominant cost; ``re.ASCII`` pins Python to
    the Java/RE2 class semantics) emits ONE row per doc: the
    occurrence count plus the doc's DISTINCT-token array, so the
    corpus tokenizes exactly once and the persisted shared subtree is
    n_docs rows (measured at R20: the draft that emitted one row per
    distinct (doc, token) pair spent 7.1 s vs 4.6 s for this shape —
    2.5 M Python list appends and a 2.5 M-row persist replaced by an
    n_docs-row frame). The token fan-out happens JVM-side as an
    explode of a PLAIN array column (cheap Generate children — the
    explode-family lesson bans expensive per-element expressions, not
    the attribute case); the token exchange partial-aggregates
    min(doc_id) map-side; everything after is n_docs-bounded:
    first-occurrence counts collapse to (first_doc, n_new), the
    checkpoint attach is a 20-row broadcast range join, output =
    n_checkpoints rows.
    """
    from distributed_computing_spark.caching import track_persist

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(
        F.max("doc_id").alias("m"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not mx["n"]:
        raise ValueError("vocab_growth: empty documents table")
    m = int(mx["m"])
    cuts = [
        (i, ((i + 1) * (m + 1)) // n_checkpoints)
        for i in range(n_checkpoints)
    ]
    th = F.broadcast(
        spark.createDataFrame(cuts, "bucket_i long, thr long")
    )

    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)

    def tokenize_row(d, t):
        ts = tok.findall(t)
        return [(d, len(ts), list(set(ts)))]

    from distributed_computing_spark.parallelism import spread_for_arrow

    raw = track_persist(
        map_rows(
            spread_for_arrow(docs.select("doc_id", "text")),
            tokenize_row,
            "doc_id long, n_tokens long, dtoks array<string>",
        )
    )
    new_at = (
        raw.select("doc_id", F.explode("dtoks").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    vocab = (
        new_at.join(th, F.col("first_doc") < F.col("thr"))
        .groupBy("bucket_i")
        .agg(F.sum("n_new").alias("n_vocab"))
    )
    counts = (
        raw.select("doc_id", "n_tokens")
        .join(th, F.col("doc_id") < F.col("thr"))
        .groupBy("bucket_i", "thr")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_toks"),
        )
    )
    return (
        counts.join(vocab, "bucket_i", "left")
        .select(
            "bucket_i",
            F.col("thr").alias("doc_cutoff"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_vocab"), F.lit(0))
            .cast("long")
            .alias("n_vocab"),
            F.when(
                F.col("n_toks") > 0,
                F.expr(
                    "(coalesce(n_vocab, 0L) * 1000000L) div n_toks"
                ),
            ).cast("long").alias("ttr_ppm"),
        )
        .orderBy("bucket_i")
    )


WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # windows (grams) per winnowing window
_WINNOW_POS_BITS = 21  # position payload width in the tie-break key
_WINNOW_POS_MAX = (1 << _WINNOW_POS_BITS) - 1


def winnow_docs(docs_df: DataFrame) -> DataFrame:
    """STATELESS per-document winnowing transform (the fused Arrow
    pass winnow_fingerprints aggregates over): (doc_id, source,
    n_grams, n_fp, fp_hashes) per fingerprintable doc. Works on batch
    AND streaming frames — per-doc winnowing needs no cross-row state,
    so the streaming twin (stream_winnow_ingest) is a plain append-mode
    map over the same function (the stream_dhash_ingest motion)."""
    k, w, pos_max = WINNOW_K, WINNOW_W, _WINNOW_POS_MAX
    tok = re.compile(r"[A-Za-z0-9]+", re.ASCII)

    def winnow_row(i, s, t):
        toks = tok.findall(t)
        n = len(toks) - (k - 1)
        if n < 1:
            return ()
        if n > pos_max:
            raise ValueError(
                f"winnow_docs: {n} grams exceeds the "
                f"2^{_WINNOW_POS_BITS}-1 position contract"
            )
        keys = [
            int(
                hashlib.md5(
                    " ".join(toks[p - 1 : p - 1 + k]).encode("utf-8")
                ).hexdigest()[:10],
                16,
            )
            * (pos_max + 1)
            + (pos_max - p)
            for p in range(1, n + 1)
        ]
        sel = {
            min(keys[p - 1 : p - 1 + w])
            for p in range(1, max(1, n - w + 1) + 1)
        }
        return [(i, s, n, len(sel), sorted({key // (pos_max + 1) for key in sel}))]

    from distributed_computing_spark.parallelism import spread_for_arrow

    return map_rows(
        spread_for_arrow(docs_df.select("doc_id", "source", "text")),
        winnow_row,
        "doc_id long, source string, n_grams long, n_fp long, "
        "fp_hashes array<long>",
    )


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (round 11, [EXT] — Schleimer,
    Wilkerson & Aiken 2003, the MOSS algorithm): per document, hash
    every WINNOW_K-token gram, slide a WINNOW_W-gram window, and keep
    the MINIMUM hash of each window (rightmost occurrence on ties) —
    the selection with the guarantee that any shared run of
    ≥ W+K−1 tokens between two documents produces at least one shared
    fingerprint, at ~2/(W+1) the storage of full gram shingling.
    Reported per source: docs fingerprinted, grams seen, fingerprints
    kept, distinct fingerprint hashes, and fingerprint density
    (per-million-grams) — the self-similarity observability a dedup
    pass reads next to dedup_savings_report.

    Exact both-engines: gram hash = first 10 md5 hex digits (40 bits),
    and the rightmost-min tie rule is ENCODED IN THE KEY —
    ``key = h·2^21 + (2^21−1−p)`` — so a plain min() implements it
    identically in Spark, Python and the oracle's window min;
    fingerprints are distinct selected keys (hash collisions cannot
    diverge the engines because both minimize the same keys). Docs
    with more than 2^21−1 grams are out of contract (raise; the
    corpus' docs are thousands of tokens).

    Plan: the whole per-document pipeline (tokenize → grams → md5 →
    winnow) is ONE fused Arrow pass — per-doc SEQUENTIAL logic is
    exactly what a Generate/window plan does badly (the explode-family
    lesson; and a JVM plan would need a per-doc window over every gram
    row), emitting one row per doc (counters + the small distinct-hash
    array). The pass output persists (two consumers: the per-source
    counter rollup and the distinct-hash explode — shared-subtree
    rule; payload is doc-count-sized). Exchanges carry per-source
    partials and (source, hash) pairs only; output = |sources| rows.
    """
    from distributed_computing_spark.caching import track_persist

    docs = load_table(spark, sf_dir, "documents")
    per_doc = track_persist(winnow_docs(docs))
    counters = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("n_grams"),
        F.sum("n_fp").alias("n_fp"),
    )
    distinct_h = (
        per_doc.select("source", F.explode("fp_hashes").alias("h"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_hashes"))
    )
    return (
        counters.join(distinct_h, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_fp").cast("long").alias("n_fp"),
            F.col("n_hashes").cast("long").alias("n_hashes"),
            F.when(
                F.col("n_grams") > 0,
                F.expr("(n_fp * 1000000L) div n_grams"),
            ).cast("long").alias("fp_pmg"),
        )
        .orderBy("source")
    )


def winnow_neardup(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = 2,
    max_posting: int = 200,
) -> DataFrame:
    """Near-duplicate CANDIDATE PAIRS from shared winnowing
    fingerprints (round 11) — the pairing half of the MOSS pipeline:
    two documents sharing >= ``min_shared`` selected fingerprint
    hashes are overlap candidates, with the winnowing GUARANTEE that
    any shared token run of length >= W+K−1 (= 8) yields at least one
    shared fingerprint — so long verbatim overlaps cannot be missed,
    at ~2/(W+1) the index size of full shingling (contrast
    ngram_jaccard_pairs, which indexes every gram).

    Scale discipline (the MinHash-band rules): the fingerprint index
    carries (doc_id, hash) longs only — text never joins; every
    posting list has an ABSOLUTE ``max_posting`` cap (relative caps
    don't survive scale-up; dropped lists are dropped identically in
    the oracle via HAVING count <= cap); the pair exchange is id-pairs
    only. The per-doc fingerprint extraction is the same fused Arrow
    pass the other winnow queries ride (``winnow_docs``)."""
    from distributed_computing_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_docs(docs).select(
        "doc_id", F.explode("fp_hashes").alias("h")
    )
    # fp_hashes is distinct per doc by construction, so (doc_id, h) is
    # already a set — no dedup exchange needed before the index.
    ok = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_posting)
        .select("h")
    )
    blocked = fp.join(ok, "h")
    pairs = (
        blocked.select("h", F.col("doc_id").alias("a_id"))
        .join(blocked.select("h", F.col("doc_id").alias("b_id")), "h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return pairs.select(
        "a_id", "b_id", F.col("n_shared").cast("long").alias("n_shared")
    ).orderBy("a_id", "b_id")
