"""BPE trainer tests: the classic Sennrich corpus pins the exact merge
sequence; encode-by-join fertility/OOV semantics are hand-checked."""

from __future__ import annotations

import pytest

from distributed_computing_spark.operators.bpe import (
    END,
    encode_with_pieces,
    train_bpe,
    word_counts,
)


def _corpus(spark, freqs):
    rows, did = [], 0
    for w, n in freqs:
        for _ in range(n):
            rows.append((did, w))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classic_merge_sequence(spark):
    """Sennrich et al. 2016's worked example: with {low:5, lower:2,
    newest:6, widest:3}, the first merges are (e,s), (es,t),
    (est,</w>), (l,o), (lo,w) — frequency 9, 9, 9, 7, 7."""
    docs = _corpus(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    rules, pieces = train_bpe(spark, docs, n_merges=5)
    assert [(a, b) for a, b, _ in rules] == [
        ("e", "s"),
        ("es", "t"),
        ("est", END),
        ("l", "o"),
        ("lo", "w"),
    ]
    assert [n for _, _, n in rules] == [9, 9, 9, 7, 7]


@pytest.mark.slow
def test_full_training_collapses_frequent_words(spark):
    docs = _corpus(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    rules, pieces = train_bpe(spark, docs, n_merges=10)
    syms = {r["word"]: r["syms"] for r in pieces.collect()}
    assert syms["low"] == ["low" + END]
    assert syms["newest"] == ["newest" + END]
    # rarer words remain partially merged
    assert len(syms["lower"]) > 1


def test_min_count_stops_training(spark):
    """Training stops when no pair reaches min_count — no degenerate
    single-occurrence merges."""
    docs = _corpus(spark, [("ab", 1), ("cd", 1)])
    rules, _ = train_bpe(spark, docs, n_merges=10, min_count=2)
    assert rules == []


@pytest.mark.slow
def test_encode_join_fertility_and_oov(spark):
    """Known words encode via the trained table (low -> 1 piece); OOV
    words fall back to chars + end marker; self-encoding the training
    corpus has zero OOV."""
    docs = _corpus(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    _, pieces = train_bpe(spark, docs, n_merges=10)
    enc = encode_with_pieces(
        spark.createDataFrame([(1, "low zzz")], "doc_id long, text string"), pieces
    ).collect()[0]
    # low -> ["low</w>"] (1), zzz OOV -> 3 chars + </w> (4)
    assert (enc["n_words"], enc["n_pieces"], enc["n_oov"]) == (2, 5, 1)
    self_enc = encode_with_pieces(docs, pieces)
    assert self_enc.agg({"n_oov": "sum"}).collect()[0][0] == 0


def test_word_counts_weighting(spark):
    docs = _corpus(spark, [("aa", 3), ("bb", 1)])
    got = {r["word"]: r["cnt"] for r in word_counts(docs).collect()}
    assert got == {"aa": 3, "bb": 1}
