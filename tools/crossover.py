"""Crossover tier: Spark vs DuckDB on the SAME R×-scaled data.

At sf0.1 the per-query gap to DuckDB measures fixed overhead (Catalyst
planning, stage scheduling), not plan quality — BASELINE.md. This module
makes the scale argument a measured number the driver records: replicate
the sf tables R× (ids remapped so keys stay unique, text perturbed so
dedup structures aren't degenerate), then time a mixed set of registry
queries on BOTH engines over the same scaled parquet, using the exact
oracle SQL on the DuckDB side. The set deliberately includes
DuckDB-favored relational queries (regional_revenue) alongside the
text-heavy ones where Spark's parallel per-row work dominates — the
point is the slope, not a cherry-picked win.

Scaled data is cached under .scalecache/ (gitignored) keyed by a
manifest (R + source dir), so repeated bench runs pay generation once.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Queries must have exact oracles (same SQL runs on DuckDB) and touch
# only tables scaled/copied below.
DEFAULT_QUERIES = [
    "word_count_top10",   # shuffle-heavy agg over exploded tokens
    "text_stats",         # per-row text expressions (Spark-favored)
    "quality_scores",     # regex-heavy scoring (Spark-favored)
    "exact_dedup",        # fingerprint groupBy
    "events_windowed",    # event-time rollup
    "user_sessions",      # per-user window/sessionization
    "regional_revenue",   # 5-way dim join (DuckDB-favored at this size)
    "clean_docs",         # redaction/normalization pass (full text out)
    "chunk_docs",         # token-window explode (chunk text materialized)
    "pack_chunks",        # array-free chunk stats + per-source window
    "repetition_scores",  # bigram explode + two-level agg (dup-ngram filter)
    "decontaminate",      # broadcast benchmark-shingle join + per-doc agg
    "corpus_pipeline",    # the end-to-end curation composition (round 3)
    # round-4: the dedup/LSH family's first measured crossover entry —
    # signature agg + banded buckets + pair expansion + verify joins,
    # exact oracle SQL on the DuckDB side (~30 s/50 s at 20×).
    "minhash_lsh_exact",
    # round-5 (VERDICT r4 item 1): the KV/ops-log family — the
    # reference's own database surface — joins the measured set.
    "kv_effective_ops",   # K4 dedup window (client_id shuffle) + agg
    "customer_upsert",    # K2 table form: MERGE-emulated upsert
    "kv_replay_hotkey",   # K3+K5 salted fold under 25%-hot-key skew
    # round-6: the two data-dominated new families join the live tier —
    # substring-span dedup (k-gram anchors + diagonal islands; the
    # dup-dense replica corpus is its worst case) and degree-ordered
    # triangle closure on the co-purchase graph.
    "dup_spans",
    "copurchase_triangles",
    # round-7: the Aho-Corasick phrase blocklist — flat automaton scan
    # vs the single-node positional join (flips to a Spark win at R100)
    "blocklist_phrase_matches",
    # round-8: the packed-bitmap overlap (events-sized — user count and
    # word table grow with R), the basket rule mining (lineitem-sized
    # countDistinct pair expansion), and the PMI collocation pass
    # (documents-sized double tokenize + two aggregates).
    "audience_overlap",
    "association_rules",
    "bigram_pmi",
    # round-9: the rank-window statistic (two windows, one exchange,
    # lineitem-sized), the basket cosine (pair expansion + support
    # re-attach), and the conditional-decimal promo share (dim join +
    # month rollup). scd2_pointintime stays headline-only (its oracle
    # rebuilds the dimension history closed-form — dominated by that,
    # not the probe); image_dhash_neardup has no SQL side.
    "spearman_qty_price",
    "copurchase_cosine",
    "promo_revenue_share",
    # round-10: the two-fact snowflake (both facts broadcast-reduced
    # before one shuffle-hash join), the outer-join histogram (orders
    # pre-agg + left join + second agg), the window-decorrelated Q21
    # (one lineitem repartition serving aggregate + window counts), and
    # the CUSUM detector (events-sized daily rollup + two stacked
    # series windows).
    "nation_trade_volume",
    "custdist_histogram",
    "sole_return_supplier",
    "events_cusum_drift",
    # round-11: the one-exchange double-granularity aggregate (Q20)
    # and the sweep-line interval-concurrency family join the
    # within-run R20 set alongside their bench.HEADLINE entries.
    "dominant_part_suppliers",
    "session_peak_concurrency",
    # round-11 late: the winnowing fingerprint pass (a Spark win from
    # its first tier) and the near-flat exact-KS drift plan join the
    # live set alongside their HEADLINE entries; vocab_growth and
    # neighbor_customer_pairs stay offline-recorded (tail budget).
    "winnow_fingerprints",
    "ks_price_drift",
]

# The clustering tier (VERDICT r3 item 1) is measured OFFLINE with
# `python tools/crossover.py <sf_dir> <R> neardup_clusters ...` — its
# DuckDB side is a recursive-CTE transitive closure that costs ~15 min
# per invocation at 20×, too heavy for the thrice-repeated driver bench.
# Measured numbers live in BASELINE.md ("Dedup/ANN family crossover")
# and every RECORDED_*_TIERS table rides the bench payload merged under
# one `recorded_tiers` key (_all_recorded), so .bench_full.json carries
# them; bench's stdout line reads them only through the weak-cell
# dispositions. Keep these dicts NUMBERS-ONLY: all prose/context lives
# in BASELINE.md §"Dedup/ANN family crossover"; "DNF" = DuckDB
# OutOfMemory (details there).
RECORDED_DEDUP_TIERS = {
    "note": "offline runs, see BASELINE.md 'Dedup/ANN family crossover'",
    "minhash_lsh_exact": {
        "R20": {"spark_s": 32.9, "duckdb_s": 49.8, "ratio": 0.66},
        "R50": {"spark_s": 29.4, "duckdb_s": 34.1, "ratio": 0.86},
    },
    "neardup_clusters": {
        "R20": {"spark_s": 100.3, "duckdb_s": 264.3, "ratio": 0.38},
        "R50": {"spark_s": 1014.6, "duckdb_s": None, "ratio": None,
                "duckdb_outcome": "DNF-OOM@1743s"},
    },
    "neardup_canonical": {
        "R20": {"spark_s": 131.2, "duckdb_s": 146.3, "ratio": 0.90},
        "R50": {"spark_s": 608.4, "duckdb_s": None, "ratio": None,
                "duckdb_outcome": "DNF-OOM (same closure as clusters R50)"},
    },
    # round 5 (VERDICT r4 item 4): the two open cells. leakage embeds
    # the same recursive closure that OOMs DuckDB solo at 50x -> DNF by
    # implication. clusters R75 is the Spark-only slope point (zstd
    # shuffle codec + 80g driver; R100 and lz4-R75 exhaust this box's
    # ~72 GB free disk during the pair shuffle — single-box limit, see
    # BASELINE.md). 1559 s at 2.27x the 50x pair count = sublinear.
    "leakage_safe_split": {
        "R50": {"spark_s": 1001.5, "duckdb_s": None, "ratio": None,
                "duckdb_outcome": "DNF-by-implication (embeds clusters R50 closure)"},
    },
}
RECORDED_DEDUP_TIERS["neardup_clusters"]["R75"] = {
    "spark_s": 1559.0, "duckdb_s": None, "ratio": None,
    "duckdb_outcome": "not attempted (OOMs solo at R50)",
}
# Round 12 (VERDICT r11 item 9): the R100 cell CLOSED — the old
# DNF-disk was the lz4 recipe; under zstd + 80g driver + 8g
# maxResultSize (the proven R75 recipe, which the first r12 attempt
# missed the maxResultSize part of — the broadcast-collect trip
# session.py documents) the pair shuffle peaks at ~58 GB and fits.
# 2556 s at 1.78x the R75 pair count = 1.64x time — still sublinear
# in pairs; 4.04x the R50 pairs at 2.52x the time.
RECORDED_DEDUP_TIERS["neardup_clusters"]["R100"] = {
    "spark_s": 2556.1, "duckdb_s": None, "ratio": None,
    "duckdb_outcome": "not attempted (OOMs solo at R50)",
}

# Round-5 (VERDICT r4 item 1): the KV family's offline tiers —
# numbers-only for the same tail-capture reason as above; context in
# BASELINE.md §"KV/ops-log family crossover". The 20x tier runs LIVE in
# every bench (DEFAULT_QUERIES above). R200/R500 are events-only
# replicas (facts=('events',)) — 20M/50M-op logs.
RECORDED_KV_TIERS: dict = {
    # post persist-fix numbers (the dedup window now runs once): the
    # hot-key fold CROSSES to a Spark win at 500x (was 1.19x pre-fix).
    "kv_replay_hotkey": {
        "R50": {"spark_s": 6.86, "duckdb_s": 2.29, "ratio": 3.0},
        "R200": {"spark_s": 14.5, "duckdb_s": 11.4, "ratio": 1.27},
        "R500": {"spark_s": 30.4, "duckdb_s": 33.2, "ratio": 0.91},
    },
    "kv_effective_ops": {
        "R50": {"spark_s": 3.25, "duckdb_s": 0.34, "ratio": 9.59},
        "R200": {"spark_s": 4.25, "duckdb_s": 0.56, "ratio": 7.62},
        "R500": {"spark_s": 10.5, "duckdb_s": 1.63, "ratio": 6.47},
    },
    "customer_upsert": {
        "R50": {"spark_s": 1.80, "duckdb_s": 0.06, "ratio": 30.0},
        "R500": {"spark_s": 3.91, "duckdb_s": 0.25, "ratio": 15.9},
    },
}

# Round-6 offline tiers — numbers-only (tail-capture rule); context in
# BASELINE.md §"Round-6 operator crossover". doc_skyline /
# hll_user_registers / kmeans_embeddings are overhead-dominated small
# absolutes at 20× (embeddings is a copied dim table, not replicated) —
# the slope, not the ratio, is the signal, same caveat as
# kv_effective_ops.
RECORDED_R6_TIERS: dict = {
    "dup_spans": {
        "R20": {"spark_s": 18.7, "duckdb_s": 19.0, "ratio": 0.98},
        "R50": {"spark_s": 59.7, "duckdb_s": 270.2, "ratio": 0.22},
        # Spark-only slope points (DuckDB not attempted past its
        # superlinear 270 s at R50): R50->R75 1.9x time for 2.27x
        # anchor pairs, R75->R100 1.88x for 1.78x — the distributed
        # pipeline tracks pair count ~linearly across the full range
        "R75": {"spark_s": 114.0, "duckdb_s": None, "ratio": None},
        "R100": {"spark_s": 214.1, "duckdb_s": None, "ratio": None},
    },
    "span_dedup_stats": {
        "R20": {"spark_s": 19.8, "duckdb_s": 17.5, "ratio": 1.13},
        "R50": {"spark_s": 57.7, "duckdb_s": 162.4, "ratio": 0.36},
    },
    "copurchase_triangles": {
        "R20": {"spark_s": 13.7, "duckdb_s": 8.8, "ratio": 1.56},
        "R50": {"spark_s": 17.4, "duckdb_s": 9.4, "ratio": 1.85},
        "R100": {"spark_s": 19.5, "duckdb_s": 13.0, "ratio": 1.50},
    },
    "doc_skyline": {
        "R20": {"spark_s": 6.9, "duckdb_s": 1.4, "ratio": 4.8},
        "R50": {"spark_s": 14.8, "duckdb_s": 6.8, "ratio": 2.18},
        # R100: dead tie — the bucketed local prune grows ~linearly
        # while the single-node NOT EXISTS grows superlinearly
        "R100": {"spark_s": 29.0, "duckdb_s": 29.1, "ratio": 1.00},
    },
    "hll_user_registers": {
        "R20": {"spark_s": 1.7, "duckdb_s": 0.08, "ratio": 20.4},
        # flat sketch-sized absolutes (md5-exactness caveat), converging
        "R50": {"spark_s": 1.65, "duckdb_s": 0.16, "ratio": 10.4},
        "R100": {"spark_s": 2.1, "duckdb_s": 0.33, "ratio": 6.4},
    },
    "span_dedup_apply": {
        "R20": {"spark_s": 31.4, "duckdb_s": 20.4, "ratio": 1.54},
    },
    "copurchase_kcore": {
        "R20": {"spark_s": 19.4, "duckdb_s": 10.2, "ratio": 1.90},
        "R50": {"spark_s": 24.9, "duckdb_s": 17.9, "ratio": 1.39},
        # R100: the crossover FLIPS — flat broadcast-iteration vs the
        # superlinear unrolled CTE (the kmeans slope shape)
        "R100": {"spark_s": 21.1, "duckdb_s": 29.5, "ratio": 0.72},
    },
    # small absolutes (overhead-dominated, kv_effective_ops caveat):
    "orders_equidepth": {
        "R20": {"spark_s": 4.9, "duckdb_s": 0.84, "ratio": 5.8},
        # orders-only replica (75M orders): the two-level rank (no
        # global sort) converges on the single-node exact quantiles
        "R500": {"spark_s": 24.8, "duckdb_s": 15.3, "ratio": 1.62},
    },
    "weighted_order_sample": {
        "R20": {"spark_s": 3.3, "duckdb_s": 0.77, "ratio": 4.4},
        # R500 (orders-only): Spark WINS — pure hash-function filter
        "R500": {"spark_s": 14.3, "duckdb_s": 16.0, "ratio": 0.90},
    },
    "ivm_segment_revenue": {
        "R20": {"spark_s": 2.1, "duckdb_s": 0.14, "ratio": 14.8},
        # Spark refresh FLATTENS (delta-bound, the IVM claim) but the
        # single-node recompute of this 5-row view is also ~flat — the
        # regime where IVM pays is a recompute too big to re-run, not
        # measurable at replica scale
        "R50": {"spark_s": 3.98, "duckdb_s": 0.10, "ratio": 39.8},
        "R100": {"spark_s": 4.18, "duckdb_s": 0.15, "ratio": 27.9},
    },
    "kmeans_embeddings": {
        # REPLICATED embeddings (_em subset replicas, ROADMAP backlog 4
        # closed): 100k/250k perturbed 64-dim vectors, 5 Lloyd rounds.
        # Spark's GEMM assignment path stays nearly flat while the
        # unrolled-CTE side grows superlinearly — the copied-dim-table
        # caveat from the first recording no longer applies.
        "R20": {"spark_s": 7.4, "duckdb_s": 16.4, "ratio": 0.45},
        "R50": {"spark_s": 8.4, "duckdb_s": 40.8, "ratio": 0.21},
        # Spark FLAT across 100k->500k vectors (the GEMM passes are
        # sub-second; fixed cost dominates) while DuckDB doubles per
        # tier — the iterative-ML slope datum
        "R100": {"spark_s": 8.4, "duckdb_s": 85.2, "ratio": 0.10},
    },
    # late-round additions (sketch trio completion + graph distances):
    "cms_word_counts": {
        # round-7 re-measure after the pre-aggregation rewrite (md5 on
        # distinct tokens, fused Arrow token counter feeding the
        # sketch; oracle mirrors): Spark went 7.9/16.9 s -> 3.4/3.8 s
        # and is now ~FLAT across tiers (the occurrence-proportional
        # cost is gone); DuckDB's recompute also sped up with the
        # mirrored pre-agg (0.54/1.06 -> 0.14/0.22), so the RATIO
        # stays md5-family-shaped while both absolutes dropped.
        "R20": {"spark_s": 3.4, "duckdb_s": 0.14, "ratio": 24.5},
        "R50": {"spark_s": 3.8, "duckdb_s": 0.22, "ratio": 17.1},
    },
    "pagerank_parts": {
        # round-5 query, tiers measured late round 6: converging like
        # bfs (8 integer-exact rounds, one node-sized shuffle each)
        "R20": {"spark_s": 19.5, "duckdb_s": 5.8, "ratio": 3.39},
        "R50": {"spark_s": 24.8, "duckdb_s": 15.0, "ratio": 1.66},
        "R100": {"spark_s": 29.4, "duckdb_s": 23.2, "ratio": 1.27},
    },
    "copurchase_bfs": {
        # converging with scale like kcore/triangles
        "R20": {"spark_s": 12.2, "duckdb_s": 4.0, "ratio": 3.1},
        "R50": {"spark_s": 13.9, "duckdb_s": 8.0, "ratio": 1.73},
        "R100": {"spark_s": 21.1, "duckdb_s": 15.4, "ratio": 1.37},
    },
    "copurchase_shortest_paths": {
        # weighted companion; edge build dominates (bfs note);
        # converging with scale like bfs (3.1x -> 1.73x)
        "R20": {"spark_s": 12.7, "duckdb_s": 3.8, "ratio": 3.3},
        "R50": {"spark_s": 16.9, "duckdb_s": 9.1, "ratio": 1.86},
        # R100: Spark WINS (flat relax rounds vs superlinear CTE)
        "R100": {"spark_s": 17.1, "duckdb_s": 18.5, "ratio": 0.92},
    },
    "stream_cms_counts": {
        # the STREAMING path over the same sketch (micro-batch fixed
        # cost vs cms_word_counts' batch: +3.1 s at R20, +2.8 s at
        # R50 — FIXED, not growing with stream length; oracle is the
        # batch sketch, DuckDB side identical to cms_word_counts)
        "R20": {"spark_s": 11.0, "duckdb_s": 0.54, "ratio": 20.4},
        "R50": {"spark_s": 19.7, "duckdb_s": 1.26, "ratio": 15.6},
    },
    # variant-overhead datum: plain semi_anti_orders runs 2.4 s on
    # Spark at the same tier — the md5-family bitset costs ~5 s here
    # because the probe side is a tiny copied dim; the technique pays
    # when the pruned probe scan/shuffle dominates (BASELINE.md note)
    "bloom_semi_orders": {
        "R20": {"spark_s": 7.5, "duckdb_s": 0.22, "ratio": 34.0},
    },
    "semi_anti_orders": {
        "R20": {"spark_s": 2.4, "duckdb_s": 0.24, "ratio": 10.0},
    },
    "kmv_user_sketches": {
        # small absolutes (md5 + WindowGroupLimit k-min; sketch-sized
        # output), the hll/cms exactness-family caveat; converging
        # with scale on events-only replicas (R200 = 20M events / 3M
        # distinct users, R500 = 50M / 7.5M)
        "R20": {"spark_s": 3.1, "duckdb_s": 0.17, "ratio": 18.0},
        "R200": {"spark_s": 6.1, "duckdb_s": 0.78, "ratio": 7.9},
        "R500": {"spark_s": 11.2, "duckdb_s": 1.95, "ratio": 5.8},
    },
}

# Round-7 offline tiers (tools/ivm_tier.py; context in BASELINE.md
# §"Round-7: IVM paying regime"). These measure the IVM CLAIM (refresh
# cost bounded by |delta|+|view|, recompute by |fact|), not the oracle
# ratio: spark_s = delta refresh of the pre-materialized per-customer
# lineitem-revenue view, duckdb_s = single-node full recompute (join +
# agg). Round-8 re-measure after ADVICE r7 made the legs
# answer-equivalent (the recompute now excludes exactly the delta's
# 30-day 'F' window; legs_equal asserted in the harness): the story
# SHARPENS — Spark refresh flat-to-falling (1.05→0.57 s R20→R100)
# while Spark's own recompute grows 2.76→4.13 s, and at R100 the
# delta-bound refresh beats even the single-node full recompute
# (0.57 vs 0.92 s) — the view pays against BOTH engines once the base
# scan dominates.
RECORDED_R7_TIERS: dict = {
    "blocklist_phrase_matches": {
        # Aho-Corasick automaton scan: Spark ~FLAT (one linear pass
        # per partition, hit-sized exchange) vs the single-node
        # positional join growing linearly -> crossover FLIPS at R100
        "R20": {"spark_s": 5.35, "duckdb_s": 2.31, "ratio": 2.32},
        "R50": {"spark_s": 5.13, "duckdb_s": 4.49, "ratio": 1.14},
        "R100": {"spark_s": 6.06, "duckdb_s": 10.09, "ratio": 0.60},
        # documents-only replica (1M docs): the win widens with scale
        "R200": {"spark_s": 7.67, "duckdb_s": 21.34, "ratio": 0.36},
    },
    "phrase_search_index": {
        # the index-side variant pays a postings exchange that grows
        # with the corpus — honest contrast to the automaton scan
        # (kept as the optimizer-variant pair; the scan is the scale
        # plan for ad-hoc blocklists, the index pays only when
        # amortized over many query sets)
        "R20": {"spark_s": 9.0, "duckdb_s": 2.18, "ratio": 4.13},
        "R50": {"spark_s": 18.8, "duckdb_s": 4.84, "ratio": 3.89},
    },
    "edit1_customer_pairs": {
        # FastSS deletion-neighborhood blocking vs the oracle's
        # deliberately-independent BRUTE-FORCE levenshtein self-join
        # (112M pairs over the 15k-name dim): the ratio measures
        # algorithm + engine, not engine alone — recorded as the
        # blocking-beats-quadratic datum. Customer is a copied dim,
        # so the cell is R-invariant (no slope to measure).
        "R20": {"spark_s": 5.7, "duckdb_s": 118.4, "ratio": 0.05},
    },
    "multimodal_mp3_decode": {
        # codec-family caveat (the gif/jpeg cells' shape): the oracle
        # is closed-form SQL that never parses bytes, so duckdb_s is
        # the formula, not a decode — spark_s is the real
        # encode+parse+decode round trip per doc.
        "R20": {"spark_s": 4.1, "duckdb_s": 0.08, "ratio": 51.0},
    },
    # kmv_pair_sketches / hll_nation_rollup / ivm_customer_revenue at
    # R20: 3.3 / 1.2 / 2.2 s vs 0.19 / 0.02 / 0.03 s — dim-sized
    # small absolutes (events sketches are the measured family;
    # customer/nation are copied dims), the hll_user_registers
    # flat-ratio caveat; no slope regime exists for them.
    "ivm_customer_refresh": {
        "R20": {
            "spark_s": 1.05, "duckdb_s": 0.21, "ratio": 5.0,
            "spark_recompute_s": 2.76,
        },
        "R100": {
            "spark_s": 0.57, "duckdb_s": 0.92, "ratio": 0.62,
            "spark_recompute_s": 4.13,
        },
    },
}

# Round-8 offline tiers (tools/edit1_tier.py; BASELINE.md §"Round-8:
# FastSS slope"). VERDICT r7 item 6: the gated edit1 cell is on a
# copied dim (R-invariant), so these tiers run the SAME FastSS operator
# over customer-subset replicas with REMAPPED names (facts=('customer',)
# — 15k·R distinct zero-padded names) against the brute-force
# levenshtein self-join. Spark is ~flat (neighborhood exchange is
# name-count-linear); the single-node quadratic side follows n² exactly
# (16→100→400 s for 2×/2.5×/2× name growth). pairs_equal verified per
# tier by the harness.
RECORDED_R8_TIERS: dict = {
    "edit1_customer_pairs": {
        "R2": {"spark_s": 6.02, "duckdb_s": 16.34, "ratio": 0.37,
               "n_names": 30000},
        "R5": {"spark_s": 9.48, "duckdb_s": 100.28, "ratio": 0.09,
               "n_names": 75000},
        "R10": {"spark_s": 9.85, "duckdb_s": 399.6, "ratio": 0.025,
                "n_names": 150000},
    },
    # round-8 operator tiers (full replicas; _ev = events-only R200).
    # bigram_pmi: the fused-Arrow rewrite (the 63-s explode draft is the
    # recorded dead end in BASELINE.md) is FLAT 4.8->3.8 s while the
    # single-node side grows -> converging (R~600 extrapolated).
    "bigram_pmi": {
        "R50": {"spark_s": 4.76, "duckdb_s": 0.38, "ratio": 12.5},
        "R100": {"spark_s": 3.77, "duckdb_s": 0.63, "ratio": 6.0},
    },
    # association_rules: the pair expansion works BOTH engines (closest
    # new cell to parity); pre-distinct basket + plain-count partial agg
    # cut R100 33.7 -> 25.9 s (countDistinct expand removed).
    "association_rules": {
        "R50": {"spark_s": 17.41, "duckdb_s": 7.58, "ratio": 2.3},
        "R100": {"spark_s": 25.86, "duckdb_s": 9.51, "ratio": 2.7},
    },
    # events-family small absolutes (Spark near-flat while the
    # single-node side grows with the event count):
    # (re-measured after dropping the redundant pre-pack distinct —
    # bit_or is idempotent; the plan now shuffles ONLY word-sized rows.
    # Wall-clock is scan-bound at these tiers, so the cells moved only
    # within the variance band; the structural win is the shuffle-byte
    # shape at scale.)
    "audience_overlap": {
        "R50": {"spark_s": 3.44, "duckdb_s": 0.15, "ratio": 23.0},
        "R200": {"spark_s": 4.2, "duckdb_s": 0.33, "ratio": 12.7},
    },
    "user_streaks": {
        "R50": {"spark_s": 2.67, "duckdb_s": 0.42, "ratio": 6.4},
        "R200": {"spark_s": 5.9, "duckdb_s": 0.61, "ratio": 9.7},
    },
    "event_trend_slopes": {
        "R50": {"spark_s": 1.42, "duckdb_s": 0.07, "ratio": 20.6},
        "R200": {"spark_s": 2.14, "duckdb_s": 0.23, "ratio": 9.5},
    },
    "funnel_strict": {
        "R50": {"spark_s": 1.91, "duckdb_s": 0.33, "ratio": 5.7},
        "R200": {"spark_s": 3.12, "duckdb_s": 0.83, "ratio": 3.8},
    },
    # CC on the replicated co-purchase graph: support counts multiply
    # with R so the graph densifies, and the single-node RECURSIVE
    # reach CTE (|component| x |nodes| row blow-up) did not finish in
    # 570 s where Spark's min-label propagation converges in rounds
    # bounded by the component diameter — the neardup_clusters DNF
    # shape on a second graph. duckdb_s null = DNF (>570 s).
    "copurchase_components": {
        "R20": {"spark_s": 20.65, "duckdb_s": None, "ratio": None},
        # Spark-only (DuckDB DNF-by-implication past the R20 blow-up):
        # the propagation is FLAT across 2.5x data — rounds are bounded
        # by component diameter, per-round joins scale out.
        "R50": {"spark_s": 19.54, "duckdb_s": None, "ratio": None},
    },
}

# Round-9 slope closures (VERDICT r8 item 4): the two new >2x cells
# get their converging tails. Both Spark sides are FLAT engine-floor
# absolutes (scan + exchange machinery) while the single-node side
# grows with the fact table — ratios fall monotonically; extrapolated
# crossings sit past the reachable replica tiers (bigram_pmi ~R800,
# audience_overlap ~R2500), so the cells close as overhead-floor with
# a measured slope, the events_windowed precedent.
RECORDED_R9_TIERS: dict = {
    "bigram_pmi": {
        # documents-only replica (_do), 1.0 M docs at R200
        "R200": {"spark_s": 5.54, "duckdb_s": 1.125, "ratio": 4.9},
    },
    # lineitem-only 240 M rows: the rules pair expansion reaches a
    # DEAD TIE (2.2 -> 2.7 -> 1.03 across R20/R100/R400 — the same
    # crossing tier as its cosine sibling).
    "association_rules": {
        "R400": {"spark_s": 102.1, "duckdb_s": 99.0, "ratio": 1.03},
    },
    "audience_overlap": {
        # events-only replica (_ev), 50 M events at R500
        "R500": {"spark_s": 5.15, "duckdb_s": 0.896, "ratio": 5.7},
    },
    # spearman draft (bare-group rank windows: 3 sort tasks own 12 M
    # rows) vs the adopted two-level bucketed ranking — the skew-cliff
    # fix, measured in one session (BASELINE.md "Round-9 re-plans"),
    # then the slope: FLIPS to a Spark WIN at R100 (60 M rows — the
    # single-node per-group sorts grow superlinearly while the
    # bucketed ranking scales out).
    "spearman_qty_price": {
        "R20_draft": {"spark_s": 25.91, "duckdb_s": 5.27, "ratio": 4.9},
        "R20": {"spark_s": 11.0, "duckdb_s": 5.3, "ratio": 2.1},
        "R50": {"spark_s": 19.6, "duckdb_s": 18.8, "ratio": 1.05},
        "R100": {"spark_s": 30.5, "duckdb_s": 39.8, "ratio": 0.77},
        # lineitem-only replica (_li), 120 M rows: the win WIDENS —
        # single-node per-group sorts grow superlinearly (39.8 ->
        # 115.2 s for 2x) while the bucketed ranking grows 1.55x.
        "R200": {"spark_s": 47.4, "duckdb_s": 115.2, "ratio": 0.41},
        # 240 M rows: a 5x win (single-node 115 -> 537 s for 2x data;
        # Spark 2.2x) — the kmeans/kcore slope shape on rank windows.
        "R400": {"spark_s": 104.4, "duckdb_s": 537.3, "ratio": 0.19},
    },
    # both-engines-linear (the pair expansion costs both — the
    # association_rules shape) and the small-absolute overhead floor
    # (the events-family shape, converging 10.7 -> 4.1):
    "copurchase_cosine": {
        "R50": {"spark_s": 19.9, "duckdb_s": 5.0, "ratio": 4.0},
        "R100": {"spark_s": 25.0, "duckdb_s": 6.7, "ratio": 3.7},
        # lineitem-only replica (_li), 120 M rows: the single-node pair
        # expansion grows 3.2x for 2x data vs Spark's 1.96x —
        # converging (~R400 extrapolated crossing).
        "R200": {"spark_s": 48.9, "duckdb_s": 21.7, "ratio": 2.25},
        # 240 M rows: the extrapolation lands — cosine FLIPS to a
        # Spark win at R400 (zstd shuffle codec; the pair family's
        # 4th measured flip).
        "R400": {"spark_s": 94.0, "duckdb_s": 101.3, "ratio": 0.93},
    },
    "promo_revenue_share": {
        "R50": {"spark_s": 2.16, "duckdb_s": 0.24, "ratio": 8.9},
        "R100": {"spark_s": 3.09, "duckdb_s": 0.75, "ratio": 4.1},
        # lineitem-only 240 M rows, cold-scan cell: the ratio settles
        # in the 4-6 band at data-dominated tiers (from 10.7 at R20) —
        # scan-bound on both sides.
        "R400": {"spark_s": 11.2, "duckdb_s": 1.92, "ratio": 5.8},
    },
    # newest-op R100 cells (one harness run each; the events-family
    # small absolutes and the weighted-median join floor — see
    # BASELINE.md "Round-9 newest-op cells" for the decompositions)
    "benford_audit": {
        "R100": {"spark_s": 1.42, "duckdb_s": 0.196, "ratio": 7.2},
    },
    "event_dark_gaps": {
        "R100": {"spark_s": 1.26, "duckdb_s": 0.082, "ratio": 15.4},
    },
    "event_mode_value": {
        "R100": {"spark_s": 1.57, "duckdb_s": 0.11, "ratio": 14.3},
    },
    "kv_merkle_diff": {
        "R100": {"spark_s": 5.11, "duckdb_s": 1.21, "ratio": 4.2},
    },
    "weighted_median_price": {
        # draft (vw re-evaluated 3x) 19.7 -> shuffle-hash hint +
        # track_persist 12.8; remaining floor = ONE 300 M-row lineitem
        # agg + 30 M join (the kv_effective_ops engine-floor class)
        "R100_draft": {"spark_s": 19.74, "duckdb_s": 1.63, "ratio": 12.1},
        "R100": {"spark_s": 12.81, "duckdb_s": 1.47, "ratio": 8.7},
        # orders+lineitem subset replica (_or-li), 30 M orders / 120 M
        # lineitem: converging 8.7 -> 5.0.
        "R200": {"spark_s": 17.88, "duckdb_s": 3.58, "ratio": 5.0},
    },
    # Spark-only throughput (no SQL side exists — the decode runs in
    # Arrow): 100k -> 250k real BMP encode+decode+dHash+band-join,
    # near-flat wall clock (~27k images/s at R50; the Python stage is
    # embarrassingly parallel, the band join exchanges ids+hashes
    # only).
    "image_dhash_neardup": {
        "R20": {"spark_s": 12.5, "duckdb_s": None, "ratio": None},
        "R50": {"spark_s": 9.3, "duckdb_s": None, "ratio": None},
    },
    # video: 100k 8-frame AVIs (800k frame hashes) in one pass; the
    # in-fixture AVI ENCODE dominates the cell (real pipelines read
    # blobs from storage — the decode+hash+join is the operator).
    # stream_dhash_ingest: the streaming replay of 100k image blobs.
    "video_dhash_neardup": {
        "R20": {"spark_s": 36.9, "duckdb_s": None, "ratio": None},
    },
    "stream_dhash_ingest": {
        "R20": {"spark_s": 3.8, "duckdb_s": None, "ratio": None},
    },
    # basket pair join vs the fused Arrow pair counter (alternating
    # warm probe, same session: join 11.0 s / fused 6.6 s,
    # bit-identical) — the explode-family lesson's 6th confirmation,
    # adopted for copurchase_pairs / association_rules /
    # copurchase_cosine.
    "copurchase_pairs": {
        "R20_join": {"spark_s": 11.0, "duckdb_s": 2.1, "ratio": 5.2},
        "R20": {"spark_s": 6.6, "duckdb_s": 2.1, "ratio": 3.1},
    },
}

# Round-10 tier cells (VERDICT r9 items 3-4).
RECORDED_R10_TIERS: dict = {
    "order_price_quantiles": {
        # full sf0.1_x100 replica (15 M orders). The draft ran three
        # separate grouped_weighted_quantile passes over the cached
        # weight table — 5.3 s of bucket-window + scheduling overhead
        # vs 4.1 s for the entire orders scan — so the three q's were
        # fused into ONE multi-q pass (shared bucket prefix, q-labeled
        # crossing broadcast): 6.87 -> 5.09 s, bit-identical. The
        # remaining floor is the 15 M-row scan+groupBy (~4.1 s) — the
        # kv_effective_ops small-absolute engine-floor class; DuckDB's
        # 0.24 s rides one window over the same 150 k-row weight table.
        "R100_draft": {"spark_s": 6.87, "duckdb_s": 0.27, "ratio": 25.4},
        "R100": {"spark_s": 5.09, "duckdb_s": 0.24, "ratio": 21.3},
    },
    # VERDICT r9 item 4: the weighted-median far tier on the
    # orders+lineitem subset replica (60 M orders ⋈ 240 M lineitem,
    # zstd, 48g driver — the documented far-tier recipe). The slope
    # 12.1 (R20) → 8.7 (R100) → 5.0 (R200) lands at NEAR-PARITY: the
    # single-node side grows 11.8× for the R200→R400 doubling (spill)
    # while Spark grows 2.7×.
    "weighted_median_price": {
        "R400": {"spark_s": 49.0, "duckdb_s": 42.6, "ratio": 1.15},
    },
    # Round-10 TPC-H shapes, measured on the same subset replicas
    # (R100 = 15 M orders ⋈ 60 M lineitem; R400 as above). The Q21
    # EXISTS/NOT-EXISTS single-node formulation is superlinear in the
    # per-order fan-out and COLLAPSES at R400 — a 3.7× Spark WIN
    # (4.3× → 1.86 → 0.27); Spark's window decorrelation stays linear.
    "sole_return_supplier": {
        "R20": {"spark_s": 6.0, "duckdb_s": 1.38, "ratio": 4.3},
        "R100": {"spark_s": 8.61, "duckdb_s": 4.62, "ratio": 1.86},
        "R400": {"spark_s": 25.2, "duckdb_s": 94.0, "ratio": 0.27},
    },
    "nation_trade_volume": {
        "R20": {"spark_s": 2.63, "duckdb_s": 0.14, "ratio": 19.2},
        "R100": {"spark_s": 4.30, "duckdb_s": 0.34, "ratio": 12.6},
        "R400": {"spark_s": 9.30, "duckdb_s": 1.52, "ratio": 6.1},
    },
    # small-absolute overhead floors (Spark flat at the scheduler/scan
    # floor, DuckDB's two-level aggregate near-free at these sizes):
    "custdist_histogram": {
        "R100": {"spark_s": 1.42, "duckdb_s": 0.06, "ratio": 23.3},
        "R400": {"spark_s": 6.16, "duckdb_s": 0.40, "ratio": 15.4},
    },
    # the round-10-late THREE-PLAN re-plan (BASELINE "Round-10 late"):
    # draft full-decimal shuffle 123.6 s → BIGINT payload 112 s →
    # size-gated broadcast of the qualifying-orders side 29.1 s
    # (aggregate-before-join measured WORSE, 278 s — no key locality).
    "market_share_ppm": {
        "R100": {"spark_s": 7.63, "duckdb_s": 0.59, "ratio": 12.9},
        "R400_draft": {"spark_s": 123.6, "duckdb_s": 4.84, "ratio": 25.5},
        "R400": {"spark_s": 29.1, "duckdb_s": 6.48, "ratio": 4.5},
    },
    # ROADMAP item 4: the MAD screen's first tier cell (15 M orders).
    "robust_price_outliers": {
        "R100": {"spark_s": 7.62, "duckdb_s": 0.93, "ratio": 8.2},
        "R400": {"spark_s": 40.9, "duckdb_s": 18.6, "ratio": 2.2},
    },
    # the remaining round-10 TPC-H shapes, same R100 orders+lineitem
    # replica — all small-absolute broadcast-join cells (Spark ≤ 6.1 s,
    # the engine-floor class; same physics as the measured four above):
    "product_profit": {
        "R100": {"spark_s": 6.12, "duckdb_s": 0.79, "ratio": 7.8},
        "R400": {"spark_s": 55.3, "duckdb_s": 20.4, "ratio": 2.7},
    },
    "min_cost_supplier": {
        "R100": {"spark_s": 2.92, "duckdb_s": 0.27, "ratio": 10.7},
    },
    "sales_opportunity": {
        "R100": {"spark_s": 1.81, "duckdb_s": 0.07, "ratio": 27.4},
    },
    "top_supplier_revenue": {
        "R100": {"spark_s": 2.11, "duckdb_s": 0.32, "ratio": 6.7},
    },
    "parts_supplier_count": {
        "R100": {"spark_s": 3.80, "duckdb_s": 0.79, "ratio": 4.8},
    },
    "customer_rfm_segments": {
        "R400": {"spark_s": 12.87, "duckdb_s": 2.15, "ratio": 6.0},
    },
    "segment_allocation": {
        "R400": {"spark_s": 1.55, "duckdb_s": 0.53, "ratio": 2.9},
    },
    # events-only replicas (the audience_overlap flat-Spark floor
    # class): Spark rides the one daily-rollup exchange FLAT
    # (3.5 → 3.9 s for 2.5× data) while the single-node count grows
    # linearly — converging slopes, crossing extrapolates ~R2000.
    "events_cusum_drift": {
        "R20": {"spark_s": 2.48, "duckdb_s": 0.09, "ratio": 28.2},
        "R200": {"spark_s": 3.53, "duckdb_s": 0.21, "ratio": 16.5},
        "R500": {"spark_s": 3.90, "duckdb_s": 0.40, "ratio": 9.7},
        # R1000 = 100 M events: Spark DEAD FLAT across the R500→R1000
        # doubling (3.90 → 3.88) — the series detector's cost is the
        # one daily-rollup exchange, independent of row count at these
        # tiers; the single-node count grows with the data.
        # (default-heap re-measure, round-11 late: 3.33/1.31 → 2.6 —
        # same shape, ratio improves.)
        "R1000": {"spark_s": 3.88, "duckdb_s": 0.65, "ratio": 6.0},
        # R2000 = 200 M events (round 11): the flat regime ends where
        # the raw scan becomes the dominant term (7.49 warm; the first
        # cold-page pass read 17.0 — recorded warm per the warm-the-
        # right-things rule). Convergence continues (6.0 → 5.1); the
        # crossing lies beyond this box's replica sizes.
        # (default-heap re-measures, round-11 late: R1000 3.33/1.31 →
        # 2.6; R2000 12.89/6.87 → 1.9 — convergence holds, absolutes
        # wobble inside the documented host band.)
        "R2000": {"spark_s": 7.49, "duckdb_s": 1.46, "ratio": 5.1},
    },
    "events_theilsen": {
        "R200": {"spark_s": 2.96, "duckdb_s": 0.14, "ratio": 21.0},
        "R500": {"spark_s": 3.85, "duckdb_s": 0.39, "ratio": 9.9},
        "R1000": {"spark_s": 4.57, "duckdb_s": 0.71, "ratio": 6.4},
        # R2000 (round 11): 21.0 → 9.9 → 6.4 → 3.1 — the crossing the
        # r10 slope extrapolated is nearly realized at 200 M events.
        # (default-heap re-measures: R1000 2.78/0.89 → 3.1; R2000
        # 7.37/1.57 → 4.7; round-12 idle-host third run 5.15/2.67 →
        # **1.9 — first sub-2× reading**; the R2000 ratio band is
        # 1.9-4.7 across three runs, dominated by DuckDB-side variance
        # (1.04-2.67 s on identical data/SQL).)
        "R2000": {"spark_s": 3.22, "duckdb_s": 1.04, "ratio": 3.1},
    },
}

RECORDED_R11_TIERS: dict = {
    # VERDICT r10 item 6: far-tier (R400 orders+lineitem subset
    # replica, 60 M ⋈ 240 M) third points for the four R100-only
    # round-10 TPC-H shapes. The *_48g cells are the ORIGINAL recipe
    # (zstd + 48g driver); the R400 cells are the round-11-late
    # RE-MEASUREMENT, solo at the DEFAULT heap (the CLAUDE.md heap
    # lesson — the 48g environment distorted BOTH engines in the same
    # process). TWO FLIP CLAIMS RETRACTED on re-measurement:
    # parts_supplier_count's old DuckDB 31.0 s does not reproduce
    # (5.2-5.9 s across two clean runs; Spark's distinct-census band
    # is noisy, 14.2-60.0 s — recorded at the first full-table run)
    # and important_part_share's old DuckDB 27.2 s reads 3.3-3.4 s
    # clean. dominant_part_suppliers' win SURVIVES re-measurement
    # (duck 90.4-131.7, spark 9.2-13.2 → ~10×, was stated as 22.5×).
    "parts_supplier_count": {
        "R400_48g": {"spark_s": 17.12, "duckdb_s": 30.95, "ratio": 0.55},
        "R400": {"spark_s": 14.19, "duckdb_s": 5.20, "ratio": 2.7},
    },
    "top_supplier_revenue": {
        # the R400 probe caught the draft re-running the filtered fact
        # aggregate for BOTH consumers (max + join-back): 28.7 s with
        # cold pages; track_persist -> ONE scan + two cache reads,
        # answer-identical (plan-asserted: two InMemoryTableScans).
        "R400_draft": {"spark_s": 28.74, "duckdb_s": 1.68, "ratio": 17.1},
        "R400_48g": {"spark_s": 4.52, "duckdb_s": 1.30, "ratio": 3.5},
        "R400": {"spark_s": 2.28, "duckdb_s": 1.24, "ratio": 1.8},
    },
    "sales_opportunity": {
        "R400_48g": {"spark_s": 2.72, "duckdb_s": 0.22, "ratio": 12.6},
        "R400": {"spark_s": 1.97, "duckdb_s": 0.16, "ratio": 12.6},
    },
    "min_cost_supplier": {
        "R400_48g": {"spark_s": 3.87, "duckdb_s": 1.77, "ratio": 2.2},
        "R400": {"spark_s": 2.79, "duckdb_s": 1.12, "ratio": 2.5},
    },
    # VERDICT r10 item 3: custdist_histogram's re-plan (the Q18
    # motion — the orders aggregate side, bounded by min(|customer|,
    # |orders|) footer counts, BROADCASTS into the outer join so the
    # customer scan never shuffles): recorded cell 6.16 → 4.67 s
    # under 48g; the default-heap re-measurement reads 1.51 s — the
    # warm steady-state decomposition (0.7 s scan+agg + 0.8 s
    # join/histogram) was right and the 48g overhead was the rest.
    "custdist_histogram": {
        "R400_48g": {"spark_s": 4.67, "duckdb_s": 0.71, "ratio": 6.6},
        "R400": {"spark_s": 1.51, "duckdb_s": 0.21, "ratio": 7.1},
    },
    # Round-11 additions, first far-tier cells on the same replicas.
    # Late batch 9, measured SOLO at the DEFAULT heap (the round-11
    # heap lesson, CLAUDE.md: the 48g dedup knob slows relational
    # cells 5-6× — link prediction measured 303.9 s under 48g vs
    # 57.1 s default on the same warmed replica; cells earlier in this
    # dict were taken under 48g and therefore UNDERSTATE Spark).
    # late_shipment: the gated-broadcast re-plan (the EXISTS collapses
    # to a map-side partial distinct; draft decorrelated-max shuffle
    # 8.2-11.0 s); late_lines: the build-side fix (the draft hinted
    # shuffle_hash on the LINEITEM side, building the hash table from
    # the 4× bigger relation — 8.9 s orders-side vs 56-83 s
    # lineitem-side on loaded runs); link prediction opens FLIPPED —
    # the single-node wedge self-join is superlinear on the densified
    # R100 graph while the capped id-only wedge exchange is not.
    "late_shipment_priority": {
        "R100_draft": {"spark_s": 8.19, "duckdb_s": 0.48, "ratio": 17.1},
        "R100": {"spark_s": 5.92, "duckdb_s": 0.56, "ratio": 10.6},
        "R400": {"spark_s": 11.10, "duckdb_s": 1.42, "ratio": 7.8},
    },
    "late_lines_priority_mix": {
        "R100": {"spark_s": 4.52, "duckdb_s": 0.48, "ratio": 9.5},
        "R400": {"spark_s": 9.90, "duckdb_s": 1.57, "ratio": 6.3},
    },
    "copurchase_link_prediction": {
        "R100": {"spark_s": 57.1, "duckdb_s": 253.6, "ratio": 0.23},
        # R200 (round 12, VERDICT item 8's slope confirmation;
        # lineitem-only replica, 120 M rows, both engines solo, default
        # heap, same-day pair of runs): R100 re-read 22.5/79.5 = 0.28
        # on today's idle host (the r11 absolutes were host-inflated
        # ~2.5× on BOTH sides; the ratio band holds), R200 =
        # 32.2/164.6 — Spark grows 1.43× for 2× data (capped wedge
        # fan-out scales linearly and the persisted edge/neighbor
        # tables amortize), DuckDB 2.07× (its wedge closure + anti-join
        # re-sorts the whole pair set). The family's strongest win
        # STRENGTHENS with scale: 0.28 → 0.20.
        "R100_r12": {"spark_s": 22.48, "duckdb_s": 79.46, "ratio": 0.28},
        "R200": {"spark_s": 32.25, "duckdb_s": 164.58, "ratio": 0.20},
    },
    # dominant_part_suppliers is the headline: the double-granularity
    # aggregate (per-(part,supplier) rollup + per-part window totals
    # from ONE fact exchange) holds ~9-13 s while the single-node
    # two-level GROUP BY + join collapses at 240 M rows (90.4-131.7 s
    # across two clean default-heap runs; the original 48g-recipe run
    # read 192.3 s) — a ~10× Spark WIN, the largest surviving flip.
    "dominant_part_suppliers": {
        "R100": {"spark_s": 3.94, "duckdb_s": 7.55, "ratio": 0.52},
        "R400_48g": {"spark_s": 8.54, "duckdb_s": 192.28, "ratio": 0.04},
        "R400": {"spark_s": 9.17, "duckdb_s": 90.39, "ratio": 0.10},
    },
    # FLIP RETRACTED on clean re-measurement (see the heap-lesson
    # comment above): the old DuckDB 27.2 s reads 3.3-3.4 s solo.
    "important_part_share": {
        "R100": {"spark_s": 4.86, "duckdb_s": 0.61, "ratio": 8.0},
        "R400_48g": {"spark_s": 10.34, "duckdb_s": 27.20, "ratio": 0.38},
        "R400": {"spark_s": 9.91, "duckdb_s": 3.44, "ratio": 2.9},
    },
    "promo_mix_revenue": {
        "R100": {"spark_s": 2.59, "duckdb_s": 0.60, "ratio": 4.3},
        "R400_48g": {"spark_s": 4.09, "duckdb_s": 1.92, "ratio": 2.1},
        "R400": {"spark_s": 3.57, "duckdb_s": 2.02, "ratio": 1.8},
    },
    # events-only replicas (R500 = 50 M, R1000 = 100 M events). The
    # *_48g cells are the original recipe; the default-heap solo
    # re-measurement (the CLAUDE.md heap lesson) moves BOTH sides:
    # Spark's sessionization sort sheds the 48g overhead (74 → 15.5 s
    # at R500) while DuckDB's R1000 window sort reads far SLOWER solo
    # than in the original run (303.7-530.5 s across two runs vs the
    # old 183 — its sort spills; band recorded). The win is robust
    # under every pairing: worst case 37.7/303.7 = 0.12.
    "session_peak_concurrency": {
        "R500_48g": {"spark_s": 74.0, "duckdb_s": 96.0, "ratio": 0.77},
        "R500": {"spark_s": 15.46, "duckdb_s": 68.42, "ratio": 0.23},
        "R1000_48g": {"spark_s": 163.3, "duckdb_s": 183.0, "ratio": 0.89},
        "R1000": {"spark_s": 21.33, "duckdb_s": 303.7, "ratio": 0.07},
    },
    # the seasonal-median detector joins the series-family convergence
    # band (re-measured default-heap: cusum 2.6, theilsen 3.1, lag 2.6
    # at the same tier).
    "events_dow_anomalies": {
        "R1000_48g": {"spark_s": 7.80, "duckdb_s": 1.31, "ratio": 6.0},
        "R1000": {"spark_s": 6.03, "duckdb_s": 1.74, "ratio": 3.5},
        # R2000 (round 12, VERDICT item 7's deciding cell; default heap,
        # idle host, 200 M events): 6.0_48g → 3.5 → 2.8 — converging on
        # the series-family slope; Spark grows 1.36× for 2× data (the
        # STRUCT-keyed rollup stays flat), DuckDB 1.66×.
        "R2000": {"spark_s": 8.18, "duckdb_s": 2.89, "ratio": 2.8},
    },
    "events_lag_autocorr": {
        "R1000": {"spark_s": 2.41, "duckdb_s": 0.91, "ratio": 2.6},
    },
    # round-11 batch 2. The doc-family cells carry the fused-Arrow
    # re-plans (drafts: dedup_savings 21.1 s via JVM-regex/explode
    # hashing -> 5.4 s fused; source_length 19.5 s unpersisted ->
    # 7.6 s -> 3.4 s Arrow token counter): Spark sits FLAT at its
    # scheduling/Arrow floor across R20 -> R100 (5.4 -> 6.7 and
    # 3.4 -> 3.1) while the single-node side grows ~3x — converging.
    "dedup_savings_report": {
        "R20": {"spark_s": 5.43, "duckdb_s": 0.34, "ratio": 16.1},
        "R100": {"spark_s": 6.72, "duckdb_s": 0.89, "ratio": 7.6},
        # R400 (2 M docs, the ROADMAP doc-family far point): the Arrow
        # floor holds its slope — converging toward parity.
        "R400": {"spark_s": 15.89, "duckdb_s": 7.36, "ratio": 2.2},
    },
    "source_length_quantiles": {
        "R20": {"spark_s": 3.39, "duckdb_s": 0.07, "ratio": 45.7},
        "R100": {"spark_s": 3.07, "duckdb_s": 0.24, "ratio": 12.9},
        "R400": {"spark_s": 7.06, "duckdb_s": 1.88, "ratio": 3.8},
    },
    "user_burst_rates": {
        "R20": {"spark_s": 2.37, "duckdb_s": 0.12, "ratio": 19.9},
        # *_48g = the original recipe runs; bare tiers = the solo
        # default-heap re-measurement (the heap lesson). At R1000 the
        # re-measure moves BOTH sides down (duck band 7.4-14.9 across
        # two runs, spark 25.3-27.6 — ratio 1.9-3.4, no longer near
        # parity); at R2000 the FLIP is CONFIRMED and STRENGTHENS:
        # DuckDB's per-user RANGE sort goes 14.9 → 181.0 s for the 2×
        # step (spilling), Spark's 27.6 → 66.5.
        "R1000_48g": {"spark_s": 54.3, "duckdb_s": 48.2, "ratio": 1.13},
        "R1000": {"spark_s": 25.30, "duckdb_s": 7.42, "ratio": 3.4},
        "R2000_48g": {"spark_s": 93.3, "duckdb_s": 102.4, "ratio": 0.91},
        "R2000": {"spark_s": 66.52, "duckdb_s": 181.0, "ratio": 0.37},
    },
    # round-11 late batch: the winnowing fingerprint pass is a Spark
    # WIN from its FIRST tier (the single-node side pays md5 per gram
    # plus a per-doc window-min over every gram row; the fused Arrow
    # pass winnows sequentially per doc and only fingerprint counters
    # leave Python) and widens to 5× at 500 k docs.
    "winnow_fingerprints": {
        "R20": {"spark_s": 3.60, "duckdb_s": 6.62, "ratio": 0.54},
        "R100": {"spark_s": 12.61, "duckdb_s": 63.34, "ratio": 0.20},
        "R400": {"spark_s": 24.82, "duckdb_s": 158.65, "ratio": 0.16},
    },
    # vocab growth: DuckDB's DISTINCT (doc, token) unnest goes
    # superlinear at 500 k docs (0.32 → 17.8 s for the 5× step) while
    # Spark's per-doc distinct-array explode + min-agg grows 2.5× —
    # converging toward a crossing near R120.
    "vocab_growth": {
        "R20": {"spark_s": 9.23, "duckdb_s": 0.32, "ratio": 28.6},
        "R100": {"spark_s": 23.19, "duckdb_s": 17.78, "ratio": 1.30,
                 "note": "contended-host run; R400 re-measured both "
                         "sides faster"},
        "R400": {"spark_s": 12.53, "duckdb_s": 6.30, "ratio": 2.0},
    },
    # KS drift (lineitem-only replicas, 12 M / 60 M rows): Spark is
    # NEAR-FLAT across the 5× step (8.5 → 10.3 s — the cost is the
    # distinct-value exchange + bucketed windows, all width-bounded)
    # while the single-node grid CDF grows linearly; crossing ~R150.
    "ks_price_drift": {
        "R20": {"spark_s": 8.52, "duckdb_s": 1.71, "ratio": 5.0},
        "R100": {"spark_s": 10.31, "duckdb_s": 6.18, "ratio": 1.67},
    },
    # sorted-neighborhood (customer-only replicas, 300 k / 1.5 M rows,
    # ~7 pairs/row verified): recorded as a BAND — these cells were
    # measured under external host contention (load ~9 with zero local
    # CPU consumers; BOTH engines swung >2.5× across runs: DuckDB
    # 13.8–36.6 s at R100). Warm steady-state decomposition (quiet
    # intervals, 2 reps): rank build 7.4 s + boundary-replicated pair
    # stage ≈ 9 s total at R100 vs DuckDB 13.8–36.6 — parity-to-win;
    # re-pin on a quiet box. The JOIN-plan draft cells and the adopted
    # re-plan are in BASELINE.md.
    "neighbor_customer_pairs": {
        "R20": {"spark_s": 6.3, "duckdb_s": 3.4, "ratio": 1.9,
                "note": "warm; contended-host band 6.3-19.0 / 3.2-4.3"},
        "R100": {"spark_s": 9.1, "duckdb_s": 13.8, "ratio": 0.66,
                 "note": "warm; contended-host band 9.0-36.0 / 13.8-36.6"},
    },
    # late batch 4-6 (or-li / li / do subset replicas). returned_top is
    # the Q10 shape: Spark near-FLAT across the 5× step (the broadcast
    # pre-reduction keeps everything after the one fact-fact exchange
    # 20-row-sized) — a small-absolute floor. Clustering joins the
    # triangle family's parity band (r6: 1.5-1.85). winnow_neardup is
    # the pair family's FIFTH measured flip and the largest since Q20:
    # DuckDB's fingerprint self-join goes superlinear on the dup-dense
    # 500 k-doc corpus while the capped id-only pair exchange scales.
    "returned_top_customers": {
        "R20": {"spark_s": 4.00, "duckdb_s": 0.26, "ratio": 15.2},
        "R100": {"spark_s": 4.63, "duckdb_s": 0.44, "ratio": 10.4},
    },
    "copurchase_clustering": {
        "R20": {"spark_s": 17.56, "duckdb_s": 13.41, "ratio": 1.31},
    },
    "winnow_neardup": {
        "R20": {"spark_s": 10.93, "duckdb_s": 4.41, "ratio": 2.5},
        "R100": {"spark_s": 123.4, "duckdb_s": 1110.4, "ratio": 0.11},
    },
}

RECORDED_R12_TIERS: dict = {
    # VERDICT r11 item 3: parts_supplier_count's "14-60 s variance"
    # did NOT reproduce (probe_q16_variance.py, commit d8b78eb: 4
    # warm runs 9.6-15.4 s, GC 230-540 ms — the 60 s r11 datum was
    # host contention). The dedup-first re-plan (distinct (partkey,
    # suppkey) pairs BEFORE the part broadcast join) measured
    # 7.4-10.4 s on the same warmed replica, answer-identical, GC
    # halved; duckdb_s carries the r11 solo band (5.20-5.85) on the
    # unchanged oracle.
    "parts_supplier_count": {
        "R400_joinfirst": {"spark_s": 10.48, "duckdb_s": 5.20, "ratio": 2.0},
        "R400": {"spark_s": 7.93, "duckdb_s": 5.20, "ratio": 1.5},
    },
    # VERDICT r11 item 4: the Q4/Q12 R400 cells CONFIRMED with repeat
    # runs, both engines solo at the default heap (spark warm band /
    # duck band): late_shipment 11.2-22.2 vs 1.8-2.2, late_lines
    # 11.0-23.0 vs 2.2 — the r11 single-run cells were real, ratio ~6
    # with ~11 s absolutes. Both plans carry exactly one fact-fact
    # exchange and pushed bounds; the gap is single-node hash-join
    # throughput while the working set fits RAM — the sole_return
    # profile, whose flip arrived only when DuckDB's fan-out went
    # superlinear. The deciding R800 cell was ATTEMPTED and aborted:
    # the replica build's one-task ×800 explode had written 33 GB of
    # shuffle with 32 GB of disk left (~48 GB projected + the parquet
    # write — over this box's budget; the neardup_clusters disk class).
    # Verdict: open-converging, bounded by the recorded mechanism, not
    # re-planned — deciding cell carried until a bigger disk quota.
    "late_shipment_priority": {
        "R400_confirm": {"spark_s": 11.21, "duckdb_s": 1.80, "ratio": 6.2},
        # R800 (round 12, the formerly disk-blocked deciding cell —
        # taken after ensure_scaled learned to spread the ×R explode;
        # 120 M orders ⋈ 480 M lineitem, both engines solo, default
        # heap): the ratio is FLAT R400→R800 (6.2→6.2, 5.0→6.8), both
        # engines ~linear, DuckDB's selective hash join still in-RAM
        # at 480 M rows on a 128 GB box. Verdict: constant-factor
        # single-node-throughput floor, NOT converging and NOT
        # flipping at any tier this box can hold — the flip needs the
        # single-node working set to exceed RAM. No scale-killer on
        # the Spark side (one fact-fact exchange, pushed bounds,
        # ~24 M rows/s through the join at R800).
        "R800": {"spark_s": 19.91, "duckdb_s": 3.19, "ratio": 6.2},
    },
    "late_lines_priority_mix": {
        "R400_confirm": {"spark_s": 10.95, "duckdb_s": 2.18, "ratio": 5.0},
        "R800": {"spark_s": 26.82, "duckdb_s": 3.96, "ratio": 6.8},
    },
    # Round 12: the two remaining "open"-class weak cells settled with
    # far tiers (events+orders R2000 replica — 200 M events / 300 M
    # orders, both engines solo, default heap). customer_upsert's
    # ratio falls 30 (R50) → 15.9 (R500) → 5.0; events_windowed's
    # first far cell reads 3.3 vs ~18 at R20 — both engines ~linear,
    # both cells class-converging now, not open.
    "customer_upsert": {
        "R2000": {"spark_s": 10.81, "duckdb_s": 2.16, "ratio": 5.0},
    },
    "events_windowed": {
        "R2000": {"spark_s": 48.17, "duckdb_s": 14.52, "ratio": 3.3},
    },
}

RECORDED_R13_TIERS: dict = {
    "note": "pk* cells are Spark-internal A/B (no SQL side); BASELINE r13",
    # Round 13 (VERDICT r12 item 6): the ngram pair-exchange re-plan
    # (packed single-long pair key + sizes-from-postings; dedup.py)
    # measured on the fresh R20 replica, same day, both engines solo:
    # Spark warm band 58.1-66.3 s (interleaved A/B, 4/4 pairs vs the
    # old shape's 66.2-93.1), DuckDB exact oracle 427.0 s — the first
    # recorded two-engine cell for this query, a 6.6-7.4x Spark win.
    "ngram_jaccard_pairs": {
        "R20": {"spark_s": 62.2, "duckdb_s": 427.0, "ratio": 0.15},
    },
    # Round 13 (VERDICT r12 items 2c/3): far-tier graph cells on the
    # part-key-scaling pklineitem replica (R disconnected copies of
    # the sf0.1 graph — the standard replica's graph is R-invariant).
    # Spark-internal A/B evidence (no DuckDB side): the triangle gate
    # FLIPS at pk-R8 (9.568 M oriented edges; wedge 97.8/41.3 s
    # cold/warm vs forced fast path 30.2/20.5, exceptAll 0/0 -> gate
    # re-calibrated 5 M -> 10 M), and pagerank's per-round cost reads
    # 0.65 (sf0.1) / 1.35 (pk-R4) / 1.29 (pk-R8) / 2.60 s (pk-R20) —
    # data-scaling at scale, dispatch-floor at sf0.1. Full tables in
    # BASELINE.md round-13 sections; spark_s below is the warm
    # whole-query triangles number per path at pk-R8.
    "copurchase_triangles": {
        "pkR8_wedge": {"spark_s": 41.25, "duckdb_s": None},
        "pkR8_fast": {"spark_s": 20.48, "duckdb_s": None},
    },
    "pagerank_parts": {
        "pkR20_8r": {"spark_s": 26.95, "duckdb_s": None},
    },
    # Round 13 (VERDICT r12 item 5): the Q12 bucketed-layout
    # experiment (probe_bucketed_q4.py, commit 84b5ad2) — same R400
    # replica, same session, orderkey-bucketed copies of both facts
    # (one-time 99.9 s write): the fact-fact exchange disappears and
    # the query drops ~3x, answer-identical; ratio vs the r12 DuckDB R400 cell
    # (2.18 s) falls ~6x -> 1.6-2.0. The declared query still reads
    # plain parquet (input contract); this records the layout posture.
    "late_lines_priority_mix": {
        "R400_bucketed": {"spark_s": 3.85, "duckdb_s": 2.18, "ratio": 1.8},
    },
}


# --- R20 weak-cell dispositions (VERDICT r11 item 6) -----------------------
# The R20 weak list alone cannot distinguish a 54.8× small-absolute
# fixed-cost floor (custdist: 1.5 s absolute at R400) from a genuinely
# open cell — annotate each weak cell with its FAR-tier verdict, drawn
# from the RECORDED tables (never a fresh run). Classes:
#   win        — far-tier ratio < 1 (Spark side of the crossover)
#   converging — ratio falls materially with scale (far < 2/3 of R20)
#   floor      — far-tier Spark absolute <= 3 s: an engine-constant
#                overhead floor, not a scaling problem
#   noisy      — far-tier band not yet reproducible (named in VERDICT)
#   open       — no clean far tier recorded, or ratio not falling
_WEAK_CLASS_OVERRIDES: dict[str, str] = {
    # Round-12 decomposition (probe_q11.py, commit d8b78eb): the bare
    # global sum of the revenue expression over 240 M rows is 8.4-9.3 s
    # of the ~10-15 s total — the cell is single-pass SCAN-bound on both
    # engines (ratio tracks relative parquet-decode+expression
    # throughput, flat with scale), not plan-bound. "floor" despite
    # the ~10 s absolute: there is no structural re-plan, both sides
    # already one pass.
    "important_part_share": "floor",
}


def _all_recorded() -> dict:
    """Every recorded table merged into {family: {tier: cell}}: the one
    merge the weak dispositions and the bench payload read.
    A family spread over several round tables keeps all its tiers; a
    later table wins a tier recorded twice."""
    out: dict = {}
    for tbl in (
        RECORDED_DEDUP_TIERS, RECORDED_KV_TIERS, RECORDED_R6_TIERS,
        RECORDED_R7_TIERS, RECORDED_R8_TIERS, RECORDED_R9_TIERS,
        RECORDED_R10_TIERS, RECORDED_R11_TIERS, RECORDED_R12_TIERS,
        RECORDED_R13_TIERS,
    ):
        for fam, tiers in tbl.items():
            if isinstance(tiers, dict):
                out.setdefault(fam, {}).update(tiers)
    return out


def weak_disposition(name: str, r20_ratio: float) -> list:
    """``[far_tier, far_ratio, class]`` for a query weak at R20 —
    far tier = the largest CLEAN recorded tier (bare ``R<N>`` labels
    only; ``_48g``/``_draft`` recipe cells are excluded per the
    CLAUDE.md heap rule). far_ratio is null when the single-node side
    DNF'd there (which is itself a ``win``)."""
    import re as _re

    tiers = _all_recorded().get(name) or {}
    clean = {
        int(m.group(1)): t
        for t in tiers
        if (m := _re.fullmatch(r"R(\d+)", t))
    }
    far_r = max((r for r in clean if r > 20), default=None)
    if far_r is None:
        return ["-", None, _WEAK_CLASS_OVERRIDES.get(name, "open")]
    cell = tiers[clean[far_r]]
    s, d = cell.get("spark_s"), cell.get("duckdb_s")
    if not isinstance(d, (int, float)) or d <= 0:
        ratio = None  # DuckDB DNF at the far tier
    else:
        ratio = round(s / d, 2) if isinstance(s, (int, float)) else None
    cls = _WEAK_CLASS_OVERRIDES.get(name)
    if cls is None:
        if ratio is None:
            cls = "win"
        elif ratio < 1:
            cls = "win"
        elif isinstance(s, (int, float)) and s <= 3.0:
            cls = "floor"
        elif ratio < r20_ratio * (2 / 3):
            cls = "converging"
        else:
            cls = "open"
    return [clean[far_r], ratio, cls]

# Fact tables are replicated with remapped keys; everything else copied.
_FACTS = ("documents", "events", "orders", "lineitem")

# Replicas are written in _NFILES splits: the source sf files are single
# parquet files below maxPartitionBytes, so an un-repartitioned replica
# would hand Spark ONE input partition per table — single-core scans
# that misrepresent both engines' scaled throughput. 32 splits = the
# driver's local[32]; at real scale the same knob is file-size targets.
_NFILES = 32

# bump to invalidate previously generated replicas on layout changes
_LAYOUT_V = 2
_COPY = ("region", "nation", "customer", "supplier", "part", "embeddings")


def _scaled_dir(sf_dir: str, R: int, facts: tuple = _FACTS) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    root = os.environ.get(
        "SPARK_GRAFT_CROSSOVER_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scalecache"),
    )
    # subset replicas (e.g. events-only for the big KV tier) get their
    # own dir so they never clobber the full-fact replica cache
    suffix = "" if tuple(facts) == _FACTS else "_" + "-".join(t[:2] for t in facts)
    return os.path.join(root, f"{base}_x{R}{suffix}")


def ensure_scaled(
    spark: SparkSession, sf_dir: str, R: int, facts: tuple = _FACTS
) -> str:
    """Idempotently materialize the R× replica; returns its dir.

    ``facts`` restricts WHICH fact tables are replicated (others are
    omitted entirely): the events-only KV tier at R=200 shouldn't pay
    for writing 120 M lineitem rows it never reads.
    """
    from distributed_computing_spark.sources.catalog import load_table

    facts = tuple(facts)
    if {"lineitem", "pklineitem"} <= set(facts):
        # both write {dest}/lineitem.parquet: one would clobber the other
        raise ValueError("facts may hold lineitem or pklineitem, not both")
    dest = _scaled_dir(sf_dir, R, facts)
    manifest = os.path.join(dest, "manifest.json")
    if os.path.exists(manifest):
        try:
            m = json.load(open(manifest))
            if (
                m.get("R") == R
                and m.get("source") == sf_dir
                and m.get("v") == _LAYOUT_V
                and tuple(m.get("facts", _FACTS)) == facts
            ):
                return dest
        except Exception:
            pass
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)

    reps = F.broadcast(spark.range(R).select(F.col("id").alias("_r")))

    # The ×R explode inherits the SOURCE's split count — 1-3 row groups
    # for every sf-tier fact — so at R≥400 the whole tens-of-GB shuffle
    # write serializes onto one task (the R800 orders+lineitem build
    # died this way; BASELINE round-12). Spread the source across the
    # cluster first: row VALUES are unchanged, only build parallelism
    # and transient-spill spread. (Pair with SPARK_GRAFT_CODEC=zstd for
    # the big tiers — ~35% less transient shuffle disk.)
    def _spread(df):
        return df.repartition(spark.sparkContext.defaultParallelism)

    if "documents" in facts:
        docs = _spread(load_table(spark, sf_dir, "documents"))
        (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * R + F.col("_r")).alias("doc_id"),
                F.concat("text", F.lit(" rep"), F.col("_r").cast("string")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/documents.parquet")
        )
    if "events" in facts:
        ev = _spread(load_table(spark, sf_dir, "events"))
        (
            ev.crossJoin(reps)
            .select(
                (F.col("event_id") * R + F.col("_r")).alias("event_id"),
                "ts",
                (F.col("user_id") * R + F.col("_r")).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/events.parquet")
        )
    if "orders" in facts:
        orders = _spread(load_table(spark, sf_dir, "orders"))
        (
            orders.crossJoin(reps)
            .withColumn("o_orderkey", F.col("o_orderkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/orders.parquet")
        )
    if "lineitem" in facts:
        lineitem = _spread(load_table(spark, sf_dir, "lineitem"))
        (
            lineitem.crossJoin(reps)
            # l_orderkey remap matches orders so join keys stay consistent
            .withColumn("l_orderkey", F.col("l_orderkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/lineitem.parquet")
        )
    if "pklineitem" in facts:
        # Round 13 (VERDICT r12 items 2c/3): a PART-KEY-SCALING lineitem
        # subset replica (suffix _pk) for the graph family's far tiers.
        # The default replica remaps only l_orderkey, so the co-purchase
        # graph's DISTINCT edge set is R-invariant (replication reuses
        # part keys and the pair-distinct dedups it away) — every
        # triangle/pagerank cell so far measured a constant-size graph.
        # Remapping l_partkey * R + _r as well yields R disconnected
        # copies of the sf graph: nodes, edges and wedge volume all
        # grow R×, which (a) pushes the oriented edge count past the
        # triangle fast-path gate (sf0.1 has 1.196 M oriented edges;
        # R≥5 crosses the 5 M gate) and (b) makes pagerank's per-round
        # cost data-scaling. NOTE: this breaks lineitem→part referential
        # integrity by design (part stays a copied dim), so part-footer
        # gates (pagerank's AQE-off bound) under-count nodes on this
        # replica — probe scripts must account for that, registry
        # queries still compute their declared semantics.
        li = _spread(load_table(spark, sf_dir, "lineitem"))
        (
            li.crossJoin(reps)
            .withColumn("l_orderkey", F.col("l_orderkey") * R + F.col("_r"))
            .withColumn("l_partkey", F.col("l_partkey") * R + F.col("_r"))
            .drop("_r")
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/lineitem.parquet")
        )
    if "customer" in facts:
        # Round 8 (VERDICT r7 item 6): a STRING-KEYED scaling regime for
        # the FastSS edit-1 join — customer is normally a copied dim
        # (R-invariant name count, the hll_user_registers flat-ratio
        # caveat), so a subset replica (suffix _cu) remaps BOTH the key
        # and the name: c_name regenerated as Customer#%09d of the new
        # key keeps the name population's shape (zero-padded numerals,
        # dense edit-1 neighborhoods) while the distinct-name count
        # grows R×. Requested only via facts=('customer',); the full
        # default replica keeps customer in _COPY so cached tiers stay
        # valid.
        cust = _spread(load_table(spark, sf_dir, "customer"))
        (
            cust.crossJoin(reps)
            .select(
                (F.col("c_custkey") * R + F.col("_r")).alias("c_custkey"),
                F.format_string(
                    "Customer#%09d", F.col("c_custkey") * R + F.col("_r")
                ).alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/customer.parquet")
        )
    if "embeddings" in facts:
        # ROADMAP backlog 4: a measured k-means slope needs embeddings to
        # GROW with R (the copied dim table times fixed cost on 5k
        # vectors at every tier). vec_id remap keeps ids unique; a small
        # deterministic per-(replica, component) perturbation keeps the
        # replicas distinct points (not R-fold exact duplicates) without
        # moving them out of their source cluster: |delta| <= 4.98e-3
        # against unit-normalized components, applied at WRITE time so
        # both engines read identical parquet. Requested only via
        # facts=('embeddings',) subset replicas (suffix _em) — the full
        # default replica keeps embeddings in _COPY so existing cached
        # tiers stay valid.
        emb = _spread(load_table(spark, sf_dir, "embeddings"))
        (
            emb.crossJoin(reps)
            .select(
                (F.col("vec_id") * R + F.col("_r")).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda v, i: (
                        v.cast("double")
                        + (
                            F.pmod(F.col("_r") * 131 + i * 17, F.lit(997))
                            - F.lit(498)
                        ).cast("double")
                        * F.lit(1e-5)
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            )
            .repartition(_NFILES)
            .write.mode("overwrite")
            .parquet(f"{dest}/embeddings.parquet")
        )
    for t in _COPY:
        if t in facts:
            continue  # replicated above; don't clobber with the copy
        src = f"{sf_dir}/{t}.parquet"
        if os.path.exists(src):
            shutil.copy(src, f"{dest}/{t}.parquet")

    with open(manifest, "w") as fh:
        # "spread" is a build-recipe marker, NOT part of the cache key
        # (ADVICE r12): row VALUES are identical with or without the
        # pre-explode spread, so cached pre-spread replicas stay valid,
        # but any future layout-sensitive per-file measurement can now
        # tell which build produced a tier.
        json.dump(
            {
                "R": R,
                "source": sf_dir,
                "v": _LAYOUT_V,
                "facts": list(facts),
                "spread": True,
            },
            fh,
        )
    return dest


def _duckdb_connect(scaled: str):
    import duckdb

    con = duckdb.connect()
    for t in _FACTS + _COPY:
        p = f"{scaled}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_crossover(
    spark: SparkSession,
    sf_dir: str,
    R: int = 20,
    queries: list[str] | None = None,
    facts: tuple = _FACTS,
) -> dict:
    """Time each query on Spark and DuckDB over the same R× data."""
    from distributed_computing_spark.registry import ORACLES, QUERIES

    queries = queries or DEFAULT_QUERIES
    scaled = ensure_scaled(spark, sf_dir, R, facts=facts)

    # Warm page cache + parquet footers on the Spark side once; DuckDB
    # then reads the same (now cached) files — neither side pays cold IO.
    from distributed_computing_spark.sources.catalog import load_table

    # Full-column noop scans: count() would read only footers/metadata,
    # leaving data pages cold — the FIRST text-heavy query would then
    # pay the corpus' cold IO while the other engine reads a warmed
    # page cache. After this, neither side pays cold IO.
    rows = {}
    for t in dict.fromkeys(_FACTS + tuple(facts)):
        if not os.path.exists(f"{scaled}/{t}.parquet"):
            continue  # subset replica (facts=...) omits unused tables
        df = load_table(spark, scaled, t)
        rows[t] = df.count()
        df.write.format("noop").mode("overwrite").save()

    # Warm the Python/Arrow worker daemons (same rationale as bench.py:
    # the first pandas_udf query otherwise pays ~4-5 s of numpy/pandas
    # imports across local[32] — startup, not throughput).
    @F.pandas_udf("double")
    def _warm(v):
        return v * 1.0

    spark.range(10000).repartition(64).select(
        _warm(F.col("id").cast("double"))
    ).count()

    # Spark-only mode: for tiers where the DuckDB side is a KNOWN DNF
    # (the 50x/100x recursive-closure OOMs, BASELINE.md) — re-running a
    # 30-minute OOM to reconfirm it wastes the box; record the Spark
    # datum and mark DuckDB DNF-by-implication.
    spark_only = os.environ.get("SPARK_GRAFT_CROSSOVER_SPARK_ONLY") == "1"
    con = None if spark_only else _duckdb_connect(scaled)
    out: dict[str, dict[str, float]] = {}
    spark_total = duck_total = 0.0
    for name in queries:
        t0 = time.time()
        # noop write = full materialization of every output column;
        # .count() would let Catalyst prune computed projections while
        # DuckDB's fetchall pays for them — an unfair comparison.
        QUERIES[name](spark, scaled).write.format("noop").mode("overwrite").save()
        s = round(time.time() - t0, 3)
        from distributed_computing_spark.caching import release_tracked

        release_tracked()  # builder persists don't leak across timings
        if spark_only:
            out[name] = {"spark_s": s, "duckdb_s": None}
            spark_total += s
            continue
        t0 = time.time()
        con.execute(ORACLES[name]).fetchall()
        d = round(time.time() - t0, 3)
        out[name] = {"spark_s": s, "duckdb_s": d}
        spark_total += s
        duck_total += d
    if con is not None:
        con.close()
    return {
        "R": R,
        "rows": rows,
        "queries": out,
        "spark_total_s": round(spark_total, 3),
        "duckdb_total_s": round(duck_total, 3),
        "spark_over_duckdb": (
            None if spark_only else round(spark_total / max(duck_total, 1e-9), 3)
        ),
        "recorded_tiers": _all_recorded(),
    }


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from distributed_computing_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    R = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    names = sys.argv[3:] or None  # e.g. the offline dedup-tier runs
    # SPARK_GRAFT_CROSSOVER_FACTS=events,orders restricts replication to
    # a fact subset (events-only KV tier at R=200 skips 120M lineitem)
    facts_env = os.environ.get("SPARK_GRAFT_CROSSOVER_FACTS")
    facts = tuple(facts_env.split(",")) if facts_env else _FACTS
    sp = get_spark(app_name="crossover")
    sp.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_crossover(sp, sf, R, queries=names, facts=facts), indent=2))
