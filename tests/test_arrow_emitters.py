"""Empty-partition / zero-output sweep over the Arrow emitters.

The round-11 winnow bug (CLAUDE.md): a ``mapInPandas`` batch whose
Python loop emits ZERO rows (or all-None cells) makes pandas infer
float64 for columns the schema declares long/string/array — Arrow then
throws ``NumPyConverter doesn't implement list<...>`` (or a cast
error) AT RUNTIME, only on data shapes that produce such a batch. The
sf0.01 gate never produces those shapes, so the class is invisible to
it by construction (winnow passed the full gate, failed on a synthetic
all-short-docs table).

VERDICT r11 item 2: every emitter builds its output frame through
``functions.frames`` (each column pinned to the declared schema) and
this sweep drives each one with the adversarial shapes — inputs spread over more partitions than rows
(empty partitions) AND content shaped so a NON-empty batch produces
zero output rows — then materializes the result. Each case returns a
DataFrame; the test is that ``collect()`` does not throw and the
schema survives.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark, texts, n_parts=8):
    """A documents-shaped DataFrame spread over empty partitions."""
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).repartition(n_parts)


def _write_docs_dir(spark, path, texts):
    _docs(spark, texts).write.mode("overwrite").parquet(
        f"{path}/documents.parquet"
    )
    return path


def _case_bigram_pmi_zero_tokens(spark, tmp_path):
    # every text tokenizes to nothing -> count_grams emits an
    # all-empty (x, y, cnt) frame from a NON-empty batch
    from distributed_computing_spark.operators.textstats import bigram_pmi

    d = _write_docs_dir(spark, str(tmp_path / "sf"), ["", "!!!", "", "??"])
    return bigram_pmi(spark, d)


def _case_basket_pairs_all_single(spark, tmp_path):
    # every basket has one item -> count_pairs' Counter stays empty
    from distributed_computing_spark.operators.analytics import (
        basket_pair_counts,
    )

    items = spark.createDataFrame(
        [(i, i * 10) for i in range(4)], "o long, it long"
    ).repartition(8)
    return basket_pair_counts(
        items, order_col="o", item_col="it", min_count=1
    )


def _case_basket_pairs_over_cap(spark, tmp_path):
    # the only multi-item basket exceeds max_basket -> skipped -> zero
    # pairs from a non-empty batch
    from distributed_computing_spark.operators.analytics import (
        basket_pair_counts,
    )

    items = spark.createDataFrame(
        [(1, i) for i in range(10)], "o long, it long"
    ).repartition(8)
    return basket_pair_counts(
        items, order_col="o", item_col="it", max_basket=3, min_count=1
    )


def _case_map_reduce_zero_output_mapf(spark, tmp_path):
    from distributed_computing_spark.operators.mapreduce import map_reduce

    kv = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "key string, value string"
    ).repartition(8)
    return map_reduce(kv, map_f=lambda k, v: [], reduce_f=lambda k, vs: "")


def _case_map_reduce_none_reducef(spark, tmp_path):
    # a None-returning reduce_f must stay an object column (NULL under
    # the string schema), never an inferred-float64 NaN
    from distributed_computing_spark.operators.mapreduce import map_reduce

    kv = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "key string, value string"
    ).repartition(8)
    return map_reduce(
        kv,
        map_f=lambda k, v: [(k, v)],
        reduce_f=lambda k, vs: None,
    )


def _case_embedding_neardup_no_pairs(spark, tmp_path):
    # threshold > 1 -> every block's similarity mask is empty -> each
    # applyInPandas group returns a ZERO-ROW (a, b) frame
    from distributed_computing_spark.operators.similarity import (
        embedding_neardup,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    return embedding_neardup(
        emb, threshold=1.5, id_col="vec_id", vec_col="embedding",
        n_blocks=4,
    )


def _case_cosine_gemm_sparse_partitions(spark, tmp_path):
    from distributed_computing_spark.operators.similarity import (
        cosine_topk_gemm,
    )

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 2.0, 3.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    return cosine_topk_gemm(emb, emb.limit(2), k=2)


def _case_extract_features_sparse_partitions(spark, tmp_path):
    # array<float> output column — the exact winnow Arrow failure type
    from distributed_computing_spark.operators.multimodal import (
        blobs_from_documents,
        extract_features,
    )

    docs = _docs(spark, ["abc", "defg"], n_parts=8)
    return extract_features(blobs_from_documents(docs))


def _case_chunk_docs_all_empty(spark, tmp_path):
    # all texts tokenize to nothing -> every chunk emitter batch
    # yields zero rows, including the pass-through extra columns
    from distributed_computing_spark.operators.curation import (
        fused_chunk_docs,
    )

    docs = _docs(spark, ["", "", "!!", ""])
    return fused_chunk_docs(docs, size=4, stride=4, keep_cols=("source",))


def _case_fused_repetition_all_empty(spark, tmp_path):
    from distributed_computing_spark.operators.textstats import (
        fused_repetition_scores,
    )

    docs = _docs(spark, ["", "?!", ""])
    return fused_repetition_scores(docs)


def _case_winnow_all_short(spark, tmp_path):
    # the original round-11 reproducer: every doc is under the K-token
    # window, so each winnow batch emits zero fingerprint rows
    from distributed_computing_spark.operators.textstats import winnow_docs

    docs = _docs(spark, ["one two", "a", "", "x y z"])
    return winnow_docs(docs)


def _case_token_counts_all_empty(spark, tmp_path):
    from distributed_computing_spark.operators.mapreduce import (
        fused_token_counts,
    )

    return fused_token_counts(_docs(spark, ["", "!!", "", "?"]))


def _case_doc_cooccurrence_zero_tokens(spark, tmp_path):
    # every doc is skipped -> each batch emits only the (NULL, NULL, 0)
    # doc-count sentinel
    from distributed_computing_spark.operators.textstats import (
        doc_cooccurrence,
    )

    d = _write_docs_dir(spark, str(tmp_path / "sf"), ["", "!!", "", "??"])
    return doc_cooccurrence(spark, d)


def _case_vocab_growth_zero_tokens(spark, tmp_path):
    # every row carries an EMPTY distinct-token array
    from distributed_computing_spark.operators.textstats import vocab_growth

    d = _write_docs_dir(spark, str(tmp_path / "sf"), ["", "!!", "", "??"])
    return vocab_growth(spark, d, n_checkpoints=4)


def _case_decontaminate_all_short(spark, tmp_path):
    # no corpus doc reaches n tokens -> zero probe rows
    from distributed_computing_spark.operators.dedup import (
        fused_decontaminate,
    )

    corpus = _docs(spark, ["a", "", "b c"])
    bench = _docs(spark, ["x y z w"], n_parts=2)
    return fused_decontaminate(corpus, bench, n=3)


def _case_blocklist_no_hits(spark, tmp_path):
    from distributed_computing_spark.operators.dedup import blocklist_matches

    docs = _docs(spark, ["alpha beta", "", "gamma"])
    return blocklist_matches(docs, ["never seen"])


def _case_footer_profile_zero_row_groups(spark, tmp_path):
    # footer-only files: every path yields zero (row_group, column) rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_computing_spark.operators.layout import (
        parquet_footer_profile,
    )

    paths = [str(tmp_path / f"empty{i}.parquet") for i in range(2)]
    for p in paths:
        pq.ParquetWriter(p, pa.schema([("a", pa.int64())])).close()
    return parquet_footer_profile(spark, paths)


def _case_kmeans_gemm_sparse_partitions(spark, tmp_path):
    # both GEMM passes see empty batches; partial_sums emits a zero-row
    # frame for every partition without vectors
    from distributed_computing_spark.operators.similarity import (
        kmeans_quantized,
    )

    emb = spark.createDataFrame(
        [(i, [0.1 * i, 0.5, -0.2]) for i in range(4)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    assigned, _ = kmeans_quantized(emb, k=2, n_iter=2, force_gemm=True)
    return assigned


def _case_dedup_savings_all_tokenless(spark, tmp_path):
    # no doc has a token -> the prefix-hash column is all None
    from distributed_computing_spark.registry import dedup_savings_report

    d = _write_docs_dir(spark, str(tmp_path / "sf"), ["", "!!", "", "??"])
    return dedup_savings_report(spark, d)


def _case_length_quantiles_zero_tokens(spark, tmp_path):
    from distributed_computing_spark.registry import source_length_quantiles

    d = _write_docs_dir(spark, str(tmp_path / "sf"), ["", "!!", "", "??"])
    return source_length_quantiles(spark, d)


def _run_stream(spark, op, df, output_mode="append"):
    from distributed_computing_spark.streaming.runner import (
        run_to_batch,
        stream_table,
    )

    return run_to_batch(
        op(stream_table(spark, df.repartition(8))), spark, output_mode
    )


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, us long, event_id long"
    )


def _case_gap_stream_single_events(spark, tmp_path):
    # one event per (user, type) -> no gaps, zero output rows
    from distributed_computing_spark.streaming.interarrival import gap_stream

    ev = _events(spark, [(u, "click", 10 * u, u) for u in range(3)])
    return _run_stream(spark, gap_stream, ev)


def _case_burst_stream_under_threshold(spark, tmp_path):
    from distributed_computing_spark.streaming.burst import (
        burst_alert_stream,
    )

    ev = spark.createDataFrame(
        [(u, 100 * u) for u in range(3)], "user_id long, t long"
    )
    return _run_stream(spark, burst_alert_stream, ev)


def _case_trigram_stream_short_paths(spark, tmp_path):
    # two events per user never complete a (t1, t2, t3) path
    from distributed_computing_spark.streaming.trigram import trigram_stream

    ev = _events(
        spark, [(u, t, i, 2 * u + i) for u in range(2) for i, t in
                enumerate(["view", "click"])]
    )
    return _run_stream(spark, trigram_stream, ev)


def _case_kv_fold_sparse_partitions(spark, tmp_path):
    # two keys over eight state partitions
    from distributed_computing_spark.streaming.kv_stream import (
        OPS_SCHEMA,
        stateful_fold_stream,
    )

    ops = spark.createDataFrame(
        [(1, 1, 1, "put", "a", "x"), (2, 1, 2, "append", "b", "y")],
        OPS_SCHEMA,
    )
    return _run_stream(spark, stateful_fold_stream, ops, "update")


# multimodal generator -> decoder pairs: two docs over eight partitions,
# so most Arrow batches of both stages are empty
_MULTIMODAL_PAIRS = {
    "bmp": ("bmp_wav_blobs", "decode_images_bmp"),
    "wav": ("bmp_wav_blobs", "decode_audio_wav"),
    "avi_frames": ("avi_blobs", "sample_frames_avi"),
    "png": ("png_blobs", "decode_images_png"),
    "jpeg": ("jpeg_blobs", "decode_images_jpeg"),
    "gif": ("gif_blobs", "decode_images_gif"),
    "mp3": ("mp3_blobs", "decode_audio_mp3"),
    "dhash": ("textured_blobs", "dhash_images"),
    "video_dhash": ("textured_avi_blobs", "video_frame_hashes"),
}


def _multimodal_case(gen: str, dec: str, id_type: str = "long"):
    def case(spark, tmp_path):
        from distributed_computing_spark.operators import multimodal

        docs = _docs(spark, ["abc", "defg"], n_parts=8)
        docs = docs.withColumn("doc_id", F.col("doc_id").cast(id_type))
        return getattr(multimodal, dec)(getattr(multimodal, gen)(docs))

    return case


_CASES = {
    **{
        f"multimodal_{name}_sparse_partitions": _multimodal_case(gen, dec)
        for name, (gen, dec) in _MULTIMODAL_PAIRS.items()
    },
    "multimodal_jpeg_int32_doc_id": _multimodal_case(
        "jpeg_blobs", "decode_images_jpeg", id_type="int"
    ),
    "bigram_pmi_zero_tokens": _case_bigram_pmi_zero_tokens,
    "basket_pairs_all_single": _case_basket_pairs_all_single,
    "basket_pairs_over_cap": _case_basket_pairs_over_cap,
    "map_reduce_zero_output_mapf": _case_map_reduce_zero_output_mapf,
    "map_reduce_none_reducef": _case_map_reduce_none_reducef,
    "embedding_neardup_no_pairs": _case_embedding_neardup_no_pairs,
    "cosine_gemm_sparse_partitions": _case_cosine_gemm_sparse_partitions,
    "extract_features_sparse_partitions": (
        _case_extract_features_sparse_partitions
    ),
    "chunk_docs_all_empty": _case_chunk_docs_all_empty,
    "fused_repetition_all_empty": _case_fused_repetition_all_empty,
    "winnow_all_short": _case_winnow_all_short,
    "token_counts_all_empty": _case_token_counts_all_empty,
    "doc_cooccurrence_zero_tokens": _case_doc_cooccurrence_zero_tokens,
    "vocab_growth_zero_tokens": _case_vocab_growth_zero_tokens,
    "decontaminate_all_short": _case_decontaminate_all_short,
    "blocklist_no_hits": _case_blocklist_no_hits,
    "footer_profile_zero_row_groups": _case_footer_profile_zero_row_groups,
    "kmeans_gemm_sparse_partitions": _case_kmeans_gemm_sparse_partitions,
    "dedup_savings_all_tokenless": _case_dedup_savings_all_tokenless,
    "length_quantiles_zero_tokens": _case_length_quantiles_zero_tokens,
    "gap_stream_single_events": _case_gap_stream_single_events,
    "burst_stream_under_threshold": _case_burst_stream_under_threshold,
    "trigram_stream_short_paths": _case_trigram_stream_short_paths,
    "kv_fold_sparse_partitions": _case_kv_fold_sparse_partitions,
}


@pytest.mark.parametrize("name", sorted(_CASES))
def test_arrow_emitter_survives_empty_and_zero_output_shapes(
    spark, tmp_path, name
):
    from distributed_computing_spark.caching import release_tracked

    try:
        df = _CASES[name](spark, tmp_path)
        schema = df.schema  # must resolve
        rows = df.collect()  # must not throw in the Arrow converter
        assert df.schema == schema
        if name.startswith("multimodal_") or name in (
            "map_reduce_none_reducef",
            "cosine_gemm_sparse_partitions",
            "extract_features_sparse_partitions",
            "kmeans_gemm_sparse_partitions",
            "dedup_savings_all_tokenless",
            "kv_fold_sparse_partitions",
        ):
            assert rows  # these shapes still produce output rows
    finally:
        release_tracked()


def test_multimodal_frame_maker_pins_every_column_on_an_empty_batch(spark):
    """An empty batch through the frame maker keeps the declared dtypes
    (bare lists would all infer object or float64)."""
    from pyspark.sql.types import DataType

    from distributed_computing_spark.functions.frames import frame_maker

    schema = DataType.fromDDL("a long, b int, c double, d float, e binary, f array<float>")
    empty = frame_maker(schema)()
    assert list(empty.columns) == list("abcdef")
    assert [str(t) for t in empty.dtypes] == [
        "int64", "int32", "float64", "float32", "object", "object"
    ]


@pytest.mark.parametrize(
    "ddl, values",
    [("n long", [1, None]), ("n int", [2**31]), ("n long", [2**63])],
)
def test_frame_maker_names_the_column_a_value_does_not_fit(spark, ddl, values):
    from distributed_computing_spark.functions.frames import frame_maker

    with pytest.raises(ValueError, match="column 'n'"):
        frame_maker(f"s string, {ddl}")(["a"] * len(values), values)


def test_frame_maker_passes_numpy_columns_through(spark):
    import numpy as np

    from distributed_computing_spark.functions.frames import frame_maker

    ids = np.arange(3, dtype="int64")
    frame = frame_maker("a long, b double")(ids, np.ones(3))
    assert np.shares_memory(frame["a"].to_numpy(), ids)
    assert [str(t) for t in frame.dtypes] == ["int64", "float64"]


def test_only_the_frames_module_builds_output_frames():
    """Every Arrow emitter in the package builds its output frame
    through ``functions/frames.py``. The multimodal operators map rows
    through ``frames.map_rows``; only the PNG batch body calls
    ``mapInPandas`` itself."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "distributed_computing_spark"
    builders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "pd.DataFrame(" in p.read_text()
    )
    assert builders == ["functions/frames.py"], builders

    def owners(rel):
        src = (pkg / rel).read_text()
        return sorted(
            re.findall(r"\ndef (\w+)", src[: m.start()])[-1]
            for m in re.finditer(r"\.mapInPandas\(", src)
        )

    assert owners("functions/frames.py") == ["map_rows"]
    assert owners("operators/multimodal.py") == ["decode_images_png"]
