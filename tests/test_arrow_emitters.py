"""Empty-partition / zero-output sweep over the Arrow emitters.

The round-11 winnow bug (CLAUDE.md): a ``mapInPandas`` batch whose
Python loop emits ZERO rows (or all-None cells) makes pandas infer
float64 for columns the schema declares long/string/array — Arrow then
throws ``NumPyConverter doesn't implement list<...>`` (or a cast
error) AT RUNTIME, only on data shapes that produce such a batch. The
sf0.01 gate never produces those shapes, so the class is invisible to
it by construction (winnow passed the full gate, failed on a synthetic
all-short-docs table).

VERDICT r11 item 2: every emitter must pin its output dtypes
(``pd.Series(xs, dtype=...)``) and this sweep drives each one with the
adversarial shapes — inputs spread over more partitions than rows
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
        ):
            assert rows  # these shapes still produce output rows
    finally:
        release_tracked()


def test_multimodal_frame_maker_pins_every_column_on_an_empty_batch(spark):
    """An empty batch through ``_map_rows``' frame maker keeps the
    declared dtypes (bare lists would all infer object or float64)."""
    from pyspark.sql.types import DataType

    from distributed_computing_spark.operators.multimodal import _frame_maker

    schema = DataType.fromDDL("a long, b int, c double, d float, e binary, f array<float>")
    empty = _frame_maker(schema)([])
    assert list(empty.columns) == list("abcdef")
    assert [str(t) for t in empty.dtypes] == [
        "int64", "int32", "float64", "float32", "object", "object"
    ]


def test_no_unpinned_bare_list_frames_in_named_sites():
    """The nine VERDICT-r11-named emitter sites must build every
    Python-list column as an explicitly-typed pd.Series/pd.array —
    regression-grep the fixed files for the named functions' yield
    blocks having at least one dtype pin. In the multimodal module the
    only ``mapInPandas`` sites are ``_map_rows`` and the PNG batch
    body, both building frames with the schema-pinned frame maker."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "distributed_computing_spark"
    for rel, fn in [
        ("operators/textstats.py", "count_grams"),
        ("operators/analytics.py", "count_pairs"),
        ("operators/mapreduce.py", "flat_map"),
        ("operators/mapreduce.py", "reduce_group"),
        ("streaming/kv_stream.py", "def fold"),
        ("streaming/burst.py", "def alert"),
    ]:
        src = (pkg / rel).read_text()
        i = src.find(fn)
        assert i != -1, (rel, fn)
        block = src[i : i + 4000]
        assert re.search(r"pd\.(Series|array)\([^)]*dtype=", block), (
            rel,
            fn,
        )
    # the multimodal emitters build frames only through _map_rows'
    # schema-pinned frame maker; decode_images_png's batch body reuses it
    src = (pkg / "operators/multimodal.py").read_text()
    owners = sorted(
        re.findall(r"\ndef (\w+)", src[: m.start()])[-1]
        for m in re.finditer(r"\.mapInPandas\(", src)
    )
    assert owners == ["_map_rows", "decode_images_png"], owners
    assert "build(rows)" in src[src.index("def decode_images_png") :]
