"""Multimodal column plumbing ([EXT]): images/audio/video as opaque
binary columns with typed metadata, processed via Arrow-batched UDFs.

The GENERIC decode kernels (`decode_images`/`decode_audio`) sniff the
container's magic bytes and dispatch to the repo's REAL pure-python
decoders — BMP/WAV/AVI/PNG/GIF (functions/codecs.py), baseline JPEG
(functions/jpeg.py), the MP3 frame layer (functions/mp3.py) — no PIL
or ffmpeg needed. Only a blob matching no known magic (or failing its
format's parse) falls to a clearly-marked deterministic fake, so the
Spark-side plumbing — schemas, batch iteration, partition sizing, UDF
signatures — is identical for decodable and undecodable inputs. MP3's
nonzero-spectrum transform decode raises its recorded dead end (ISO
tables) rather than faking a known format.

Every per-row Arrow stage goes through ``_map_rows``: one batch loop
whose output frame takes each column's dtype from the declared DDL
schema, so a batch that emits no rows still converts instead of
inferring float64 for a long/binary/array column. Only
``decode_images_png`` keeps a batch-level body (its unfilter runs over
the whole batch) and shares the frame maker.

Scale notes: binary payloads ride ``BinaryType`` columns in parquet;
``mapInPandas`` streams Arrow batches so one task never materializes
more than ``spark.sql.execution.arrow.maxRecordsPerBatch`` blobs;
decode before shuffle is the rule (ship features, not pixels).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from distributed_computing_spark.functions.codecs import (
    decode_avi,
    decode_bmp,
    decode_gif,
    decode_png,
    decode_png_headers,
    decode_wav,
    encode_avi,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_wav,
    mean_pool,
    unfilter_scanlines_batch,
)
from distributed_computing_spark.functions.jpeg import Q_FLAT16, decode_jpeg, encode_jpeg
from distributed_computing_spark.functions.mp3 import decode_mp3, encode_mp3_silence, parse_mp3
from distributed_computing_spark.parallelism import spread_for_arrow

BLOB_SCHEMA = (
    "blob_id long, modality string, data binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:long>"
)

FEATURE_DIM = 16

_IMAGE_MEANS = (
    "blob_id long, width int, height int, mean_r double, mean_g double, mean_b double"
)

# pandas dtype per Spark simpleString; every other type is an object column
_PANDAS_DTYPES = {"bigint": "int64", "int": "int32", "double": "float64", "float": "float32"}


def _frame_maker(schema: StructType) -> Callable[[list[tuple]], pd.DataFrame]:
    """A function that turns a batch's output tuples into a frame with
    every column pinned to its ``schema`` dtype — an empty or all-None
    batch never infers float64 for a long/binary/array column."""
    fields = [
        (f.name, _PANDAS_DTYPES.get(f.dataType.simpleString(), object))
        for f in schema.fields
    ]

    def build(rows: list[tuple]) -> pd.DataFrame:
        cols = list(zip(*rows)) if rows else [()] * len(fields)
        return pd.DataFrame(
            {name: pd.Series(list(c), dtype=dt) for (name, dt), c in zip(fields, cols)}
        )

    return build


def _map_rows(df: DataFrame, row_fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Arrow row map: ``row_fn`` gets each row of ``df`` as positional
    values (in column order) and yields zero or more output tuples in
    ``schema`` order; each batch's tuples become one dtype-pinned
    frame. Works on streaming frames too (a stateless map). The DDL is
    parsed once, when the operator is called, not per batch."""
    out_schema = DataType.fromDDL(schema)
    build = _frame_maker(out_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield build(
                [out for row in pdf.itertuples(index=False, name=None) for out in row_fn(*row)]
            )

    return df.mapInPandas(run, schema=out_schema)


def _blob_table(docs: DataFrame, make_blob: Callable[[int], bytes]) -> DataFrame:
    """One ``(blob_id, data)`` row per document: ``make_blob(doc_id)``
    encodes the payload, on inputs spread over every core first."""
    return _map_rows(
        spread_for_arrow(docs.select("doc_id")),
        lambda did: [(int(did), make_blob(int(did)))],
        "blob_id long, data binary",
    )


def _solid_pixels(did: int, size: int = 16, f: int = 0) -> np.ndarray:
    """A size×size frame of ONE color: (7, 13, 29)·did + (3, 5, 7)·f
    mod 256 — the BMP/JPEG plant (f = 0) and frame f of an AVI plant."""
    px = np.empty((size, size, 3), np.uint8)
    px[...] = [(did * 7 + 3 * f) % 256, (did * 13 + 5 * f) % 256, (did * 29 + 7 * f) % 256]
    return px


def _two_band_pixels(did: int) -> np.ndarray:
    """16×16, top half (7, 13, 29)·did, bottom half (11, 17, 23)·did mod
    256 — the PNG/GIF plant, so each channel mean is (a + b) / 2."""
    px = np.empty((16, 16, 3), np.uint8)
    px[:8] = [(did * 7) % 256, (did * 13) % 256, (did * 29) % 256]
    px[8:] = [(did * 11) % 256, (did * 17) % 256, (did * 23) % 256]
    return px


def _pooled_row(bid, img: np.ndarray, out_w: int, out_h: int, pool=mean_pool) -> tuple:
    """(blob_id, width, height, mean_r, mean_g, mean_b) of a decoded
    image after resizing it to (out_h, out_w); gray replicates."""
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    small = pool(img, out_h, out_w)
    return (
        int(bid),
        img.shape[1],
        img.shape[0],
        *(float(small[..., c].mean()) for c in range(3)),
    )


def _decode_means(blobs: DataFrame, decode, out_w: int, out_h: int) -> DataFrame:
    """The shared image-decoder path: ``decode(bytes)`` → mean-pool →
    channel means, in the ``_IMAGE_MEANS`` contract."""
    return _map_rows(
        blobs.select("blob_id", "data"),
        lambda bid, data: [_pooled_row(bid, decode(bytes(data)), out_w, out_h)],
        _IMAGE_MEANS,
    )


def make_blob_table(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic blob table (test fixture — the engine's
    real inputs are parquet files with the same schema)."""
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        data = hashlib.sha256(f"blob{i}".encode()).digest() * 4  # 128 bytes
        meta = {
            "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[modality],
            "width": 64 + i % 16 if modality != "audio" else None,
            "height": 48 + i % 16 if modality != "audio" else None,
            "duration_ms": 1000 * (i % 30) if modality != "image" else None,
        }
        rows.append((i, modality, data, meta))
    return spark.createDataFrame(rows, BLOB_SCHEMA)


def blobs_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic blob-table adapter over the shared `documents`
    table: the text's UTF-8 bytes stand in for an image/audio/video
    payload, with modality and typed metadata derived from doc_id.

    This keeps the registry/oracle gate on driver-provided inputs (no
    synthesized tables) while exercising the full binary-column path:
    BinaryType payloads, nested meta struct, modality pruning.
    """
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    mime = (
        F.when(modality == "image", F.lit("image/png"))
        .when(modality == "audio", F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    wh = F.when(modality != "audio", (F.col("doc_id") % 16).cast("int"))
    duration = F.when(modality != "image", 1000 * (F.col("doc_id") % 30))
    return docs.select(
        F.col("doc_id").alias("blob_id"),
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("data"),
        F.struct(
            mime.alias("mime"),
            (64 + wh).alias("width"),
            (48 + wh).alias("height"),
            duration.cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def blob_stats(blobs: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass: size, hash, modality census inputs."""
    return blobs.select(
        "blob_id",
        "modality",
        F.length("data").alias("n_bytes"),
        F.sha2(F.col("data"), 256).alias("sha256"),
        F.col("meta.mime").alias("mime"),
    )


def _fake_decode_rgb(data: bytes, width: int, height: int) -> np.ndarray:
    """DETERMINISTIC FAKE decode for UNKNOWN formats only (VERDICT r7
    item 4 narrowed its scope): expands the blob's sha256 into a
    (height, width, 3) uint8 array. Known container formats never
    reach this — ``sniff_format`` routes them to the repo's real
    decoders."""
    seed = hashlib.sha256(data).digest()
    reps = (width * height * 3 + len(seed) - 1) // len(seed)
    buf = (seed * reps)[: width * height * 3]
    return np.frombuffer(buf, dtype=np.uint8).reshape(height, width, 3)


def sniff_format(data: bytes) -> str:
    """Magic-byte container sniff for the GENERIC decode dispatch:
    'png' | 'bmp' | 'gif' | 'jpeg' | 'wav' | 'avi' | 'mp3' |
    'unknown'. Pure function over the first bytes — the content may
    still be malformed; decoders raise and the caller decides."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return "avi"
    if data[:2] == b"BM":
        return "bmp"
    if len(data) >= 2 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0:
        return "mp3"
    return "unknown"


def _decode_rgb_any(data: bytes, width: int, height: int) -> np.ndarray:
    """GENERIC image decode: sniff the container and dispatch to the
    repo's REAL pure-numpy decoders (functions/codecs.py BMP/PNG/GIF,
    functions/jpeg.py baseline JPEG). Only a blob whose bytes match no
    known magic — or that fails its format's parse (a text blob that
    happens to start with 'BM') — falls through to the deterministic
    fake, whose dimensions come from the meta struct."""
    fmt = sniff_format(data)
    real = {
        "png": decode_png,
        "bmp": decode_bmp,
        "gif": decode_gif,
        "jpeg": decode_jpeg,
    }.get(fmt)
    if real is not None:
        try:
            return real(data)
        except (ValueError, IndexError, KeyError, struct.error, zlib.error):
            pass  # magic-byte false positive / malformed: unknown
    return _fake_decode_rgb(data, width, height)


def _block_mean(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean resize to (out_h, out_w) for any input shape (the
    generic path's stand-in for ``mean_pool``, which needs divisible
    shapes)."""
    ys = np.linspace(0, img.shape[0], out_h + 1, dtype=int)
    xs = np.linspace(0, img.shape[1], out_w + 1, dtype=int)
    return np.array(
        [
            [img[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean(axis=(0, 1)) for j in range(out_w)]
            for i in range(out_h)
        ]
    )


def decode_images(blobs: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Decode + resize image blobs → per-pixel-mean features.

    Each Arrow batch decodes independently; output schema is fixed so
    downstream plans don't depend on the codec. Non-image rows are
    filtered before Python (predicate stays JVM-side). Known
    containers (PNG/BMP/GIF/JPEG) route through the REAL decoders via
    magic-byte sniff; the reported width/height are then the DECODED
    dimensions, with the meta struct consulted only for the
    unknown-format fake."""

    def row(bid, data, w, h):
        img = _decode_rgb_any(bytes(data), int(w), int(h))
        yield _pooled_row(bid, img, out_w, out_h, pool=_block_mean)

    imgs = blobs.where(F.col("modality") == "image").select(
        "blob_id", "data", "meta.width", "meta.height"
    )
    return _map_rows(imgs, row, _IMAGE_MEANS)


def _decode_wave_any(
    data: bytes, duration_ms: int, sample_rate: int
) -> np.ndarray:
    """GENERIC audio decode: sniff and dispatch — PCM WAV through the
    real RIFF walker (functions/codecs.py), MP3 through the real frame
    layer (functions/mp3.py; raises NotImplementedError on nonzero
    spectra — the recorded Tables-B.7/B.3 dead end — rather than
    faking a known format). Unknown bytes (or magic false positives)
    fall through to the deterministic fake waveform sized from the
    meta duration."""
    fmt = sniff_format(data)
    if fmt == "wav":
        try:
            samples, _rate = decode_wav(data)
            return samples.reshape(-1).astype(np.float64)
        except (ValueError, IndexError):
            pass
    elif fmt == "mp3":
        try:
            return decode_mp3(data).reshape(-1).astype(np.float64)
        except ValueError:
            pass  # sync-byte false positive: not an MP3 stream
    n = max(int(duration_ms) * sample_rate // 1000, 1)
    seed = hashlib.sha256(data).digest()
    reps = (2 * n + len(seed) - 1) // len(seed)
    return np.frombuffer((seed * reps)[: 2 * n], dtype="<i2").astype(
        np.float64
    )


def decode_audio(blobs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Decode audio blobs → waveform stats (n_samples, rms, peak).

    Known containers route through the REAL decoders via the same
    magic-byte sniff as decode_images (PCM WAV fully decoded; MP3
    frame layer fully parsed with exact zero-spectrum PCM — nonzero
    spectra raise the recorded ISO-tables dead end). Only unknown
    formats get the deterministic fake waveform; swap it for
    soundfile/ffmpeg and the schema, batching, and modality pruning
    are unchanged.
    """

    def row(bid, data, dur):
        wave = _decode_wave_any(bytes(data), int(dur), sample_rate)
        yield int(bid), wave.shape[0], float(np.sqrt((wave**2).mean())), float(np.abs(wave).max())

    auds = blobs.where(F.col("modality") == "audio").select(
        "blob_id", "data", "meta.duration_ms"
    )
    return _map_rows(auds, row, "blob_id long, n_samples long, rms double, peak double")


def sample_frames(blobs: DataFrame, k: int = 4) -> DataFrame:
    """Deterministic frame sampling for video blobs: k evenly-spaced
    timestamps from meta.duration_ms — pure JVM (the decode of each
    frame would go through decode_images' path)."""
    vids = blobs.where(F.col("modality") == "video").select(
        "blob_id", F.col("meta.duration_ms").alias("duration_ms")
    )
    idx = F.sequence(F.lit(0), F.lit(k - 1))
    return vids.select(
        "blob_id",
        "duration_ms",
        F.explode(
            F.transform(idx, lambda i: (i * F.col("duration_ms") / k).cast("long"))
        ).alias("frame_ts_ms"),
    )


def extract_features(blobs: DataFrame) -> DataFrame:
    """Modality-agnostic feature extraction → array<float> embedding.

    DETERMINISTIC FAKE (sha256-seeded) in place of a real encoder; the
    output contract (fixed FEATURE_DIM float vector, unit-normalized)
    matches what similarity.cosine_topk consumes, so the multimodal →
    embedding → ANN pipeline composes end-to-end.
    """

    def row(bid, data):
        seed = hashlib.sha256(bytes(data)).digest()
        raw = (seed * ((FEATURE_DIM + 31) // 32))[:FEATURE_DIM]
        # bytes → finite floats in [-1, 1] (raw float32 reinterpret
        # can yield inf/NaN), then unit-normalize
        vec = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 127.5) / 127.5
        vec = vec / (np.linalg.norm(vec) or 1.0)
        yield int(bid), [float(x) for x in vec]

    return _map_rows(
        blobs.select("blob_id", "data"), row, "blob_id long, embedding array<float>"
    )


# ---------------------------------------------------------------------------
# REAL-codec path (pure-numpy codecs — no PIL)
# ---------------------------------------------------------------------------


def bmp_wav_blobs(docs: DataFrame) -> DataFrame:
    """REAL-format blob table over ``documents``: even doc_ids carry a
    genuine 16×16 24-bit BMP (solid color derived from doc_id), odd
    doc_ids a genuine 256-sample 16-bit PCM WAV (deterministic ramp).
    Payloads come from the pure-numpy encoders in functions/codecs.py —
    stock viewers/players open them — so the decode operators below
    exercise a REAL byte-stream parse, not the ``_fake_decode_rgb``
    stand-in. PNG/GIF/JPEG have their own real pure-python decoders
    (functions/codecs.py, functions/jpeg.py) reachable both through
    their dedicated operators and the GENERIC sniff dispatch."""

    def row(did):
        did = int(did)
        if did % 2 == 0:
            yield did, "image", encode_bmp(_solid_pixels(did))
        else:
            i = np.arange(256, dtype=np.int64)
            yield did, "audio", encode_wav(((did * 31 + i * 17) % 65536) - 32768)

    return _map_rows(
        spread_for_arrow(docs.select("doc_id")), row, "blob_id long, modality string, data binary"
    )


def decode_images_bmp(blobs: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL image decode: parse the BMP byte stream (header walk, row
    padding, BGR order, bottom-up flip), exact mean-pool resize,
    per-channel means. Same Arrow plumbing and output contract as the
    gated stub path — real bytes in."""
    imgs = blobs.where(F.col("modality") == "image")
    return _decode_means(imgs, decode_bmp, out_w, out_h)


def decode_audio_wav(blobs: DataFrame) -> DataFrame:
    """REAL audio decode: walk the RIFF chunks, parse PCM-16 samples,
    emit integer waveform stats (sum/peak are exact integers, so the
    gate hash carries no float risk)."""

    def row(bid, data):
        s, rate = decode_wav(bytes(data))
        s64 = s.astype(np.int64)  # abs(int16 -32768) would wrap
        yield int(bid), len(s64), rate, int(np.abs(s64).max()), int(s64.sum())

    auds = blobs.where(F.col("modality") == "audio").select("blob_id", "data")
    return _map_rows(
        auds,
        row,
        "blob_id long, n_samples int, sample_rate int, peak long, sum_samples long",
    )


def avi_blobs(docs: DataFrame, n_frames: int = 4, size: int = 8) -> DataFrame:
    """REAL-format video blobs: every doc carries a genuine
    uncompressed-DIB AVI (pure-numpy encoder, stock-player-openable)
    of ``n_frames`` solid-color frames derived from (doc_id, frame)."""
    return _blob_table(
        docs,
        lambda did: encode_avi(np.stack([_solid_pixels(did, size, f) for f in range(n_frames)])),
    )


def sample_frames_avi(blobs: DataFrame, stride: int = 2) -> DataFrame:
    """REAL video frame sampling: parse the AVI container (nested RIFF
    walk), keep every ``stride``-th frame, emit per-frame channel
    means — the decode/frame-sample step of a video training pipeline,
    over genuine bytes."""

    def row(bid, data):
        frames = decode_avi(bytes(data))
        for f in range(0, frames.shape[0], stride):
            m = frames[f].astype(np.float64).mean(axis=(0, 1))
            yield int(bid), f, float(m[0]), float(m[1]), float(m[2])

    return _map_rows(
        blobs.select("blob_id", "data"),
        row,
        "blob_id long, frame_idx int, mean_r double, mean_g double, mean_b double",
    )


def png_blobs(docs: DataFrame) -> DataFrame:
    """REAL compressed-format blob table over ``documents``: every doc
    carries a genuine 16×16 8-bit RGB PNG (two horizontal color bands
    derived from doc_id, Paeth-filtered scanlines, zlib-compressed
    IDAT, CRC-checked chunks — stock viewers open them). Its only codec
    dependency is DEFLATE, which the stdlib ships."""
    return _blob_table(docs, lambda did: encode_png(_two_band_pixels(did), filter_type=4))


def decode_images_png(blobs: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL PNG decode: chunk walk + CRC-bearing container, IDAT
    inflate, five-filter scanline reconstruction, exact mean-pool
    resize, per-channel means — same Arrow plumbing and output contract
    as decode_images_bmp, over genuinely compressed bytes.

    Within each Arrow batch, same-shape images unfilter TOGETHER via
    codecs.unfilter_scanlines_batch — the Sub/Avg/Paeth recurrence is
    sequential along x, so the scalar path pays H·stride Python steps
    per image; the batched path runs them once as N-vector numpy ops
    (measured 28× on 16×16 RGB, bit-identical). Odd shapes fall back to
    the scalar decoder."""
    out_schema = DataType.fromDDL(_IMAGE_MEANS)
    build = _frame_maker(out_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bids, datas = list(pdf["blob_id"]), [bytes(d) for d in pdf["data"]]
            rows: list[tuple] = [()] * len(bids)
            # group same-(h,w,ch) images for the batched unfilter
            groups: dict[tuple[int, int, int], list[tuple[int, bytes]]] = {}
            for idx, data in enumerate(datas):
                h, w, ch, raw = decode_png_headers(data)
                groups.setdefault((h, w, ch), []).append((idx, raw))
            for (h, w, ch), members in groups.items():
                if h % out_h == 0 and w % out_w == 0 and ch == 3:
                    imgs = unfilter_scanlines_batch([raw for _, raw in members], h, w, ch)
                else:  # scalar fallback for odd shapes / gray / RGBA
                    imgs = [decode_png(datas[idx]) for idx, _ in members]
                for (idx, _), img in zip(members, imgs):
                    rows[idx] = _pooled_row(bids[idx], img, out_w, out_h)
            yield build(rows)

    return blobs.select("blob_id", "data").mapInPandas(run, schema=out_schema)


def jpeg_blobs(docs: DataFrame) -> DataFrame:
    """REAL transform-codec blob table over ``documents``: every doc
    carries a genuine baseline JFIF JPEG — Annex K Huffman tables,
    DCT + quantization, 0xFF-stuffed entropy stream; stock viewers
    open them. The planted image is one SOLID color per doc_id with a
    flat q=16 quantization table, so every 8×8 block is DC-only and
    the lossy pipeline has an exact closed form the SQL oracle can
    replicate (see functions/jpeg.py's exact-DC rounding contract)."""
    return _blob_table(
        docs, lambda did: encode_jpeg(_solid_pixels(did), qtables=(Q_FLAT16, Q_FLAT16))
    )


def decode_images_jpeg(blobs: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL JPEG decode: marker walk, canonical Huffman rebuild from
    DHT, MCU entropy decode (DC prediction, run/size AC), dequantize,
    8×8 IDCT, YCbCr→RGB — same Arrow plumbing and output contract as
    decode_images_png, over genuinely DCT-compressed bytes."""
    return _decode_means(blobs, decode_jpeg, out_w, out_h)


def gif_blobs(docs: DataFrame) -> DataFrame:
    """REAL LZW-format blob table over ``documents``: every doc carries
    a genuine 16×16 GIF87a (two horizontal color bands from doc_id —
    the png_blobs pattern — palette-indexed, LZW-compressed sub-blocks;
    stock viewers open them). GIF closes the third compression family:
    DEFLATE (PNG), DCT (JPEG), LZW."""
    return _blob_table(docs, lambda did: encode_gif(_two_band_pixels(did)))


def decode_images_gif(blobs: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL GIF decode: signature + screen descriptor, global color
    table, variable-width LSB-first LZW (clear/EOI, KwKwK, 4096
    reset), palette mapping, exact mean-pool resize, per-channel
    means — the decode_images_bmp/png output contract over LZW bytes."""
    return _decode_means(blobs, decode_gif, out_w, out_h)


def mp3_blobs(docs: DataFrame) -> DataFrame:
    """REAL MPEG-1 Layer III blob table over ``documents``: every doc
    carries a spec-valid mono Layer III SILENCE stream
    (2 + doc_id%3 frames, bitrate cycling all 14 CBR indices,
    doc-derived global_gain / scalefac_compress side-info fields) from
    functions/mp3.py's frame writer — stock players accept these. The
    zero-spectrum plant is what keeps the decode exactly closed-form
    without the non-derivable spec tables; the frame/side-info PARSE is
    fully real (see functions/mp3.py's honest-scope docstring)."""
    return _blob_table(
        docs,
        lambda did: encode_mp3_silence(
            n_frames=2 + did % 3,
            bitrate_index=1 + did % 14,
            global_gain=(did * 7) % 256,
            scalefac_compress=did % 16,
        ),
    )


def decode_audio_mp3(blobs: DataFrame) -> DataFrame:
    """REAL MP3 frame-layer decode: sync walk, header decode, mono
    side-info bit parse, zero-spectrum PCM synthesis (exact — see
    functions/mp3.py). Emits per-stream frame stats + the parsed
    side-info fields the oracle closed-forms, plus peak over the
    decoded PCM (exactly 0 for the silence plant). Same Arrow plumbing
    as decode_audio_wav."""

    def row(bid, data):
        raw = bytes(data)
        frames, pcm = parse_mp3(raw), decode_mp3(raw)
        yield (
            int(bid),
            len(frames),
            frames[0]["bitrate_kbps"],
            frames[0]["sample_rate"],
            len(raw),
            len(pcm),
            int(np.abs(pcm.astype(np.int64)).max(initial=0)),
            frames[0]["side_info"]["granules"][0]["global_gain"],
        )

    return _map_rows(
        blobs.select("blob_id", "data"),
        row,
        "blob_id long, n_frames int, bitrate_kbps int, sample_rate int, "
        "total_bytes long, n_samples long, peak long, gg0 int",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (the dedup family crossed with the
# real-codec path)
# ---------------------------------------------------------------------------

# dHash geometry: an (HASH_W+1) x HASH_H integer point-sample grid gives
# HASH_W horizontal comparisons per row = 56 bits — deliberately < 62 so
# the packed hash is a positive BIGINT everywhere (the bitmap_words
# bit-63 rule) and band arithmetic never touches the sign bit.
DHASH_W = 8
DHASH_H = 7
DHASH_BITS = DHASH_W * DHASH_H  # 56
DHASH_BAND_BITS = 8
DHASH_N_BANDS = DHASH_BITS // DHASH_BAND_BITS  # 7


def dhash_py(img: "np.ndarray") -> int:
    """Pure-int dHash of an RGB uint8 array: integer-luma grayscale
    (r·299 + g·587 + b·114, no division needed — scaling by a positive
    constant preserves every comparison), point-sampled on the
    (DHASH_W+1) x DHASH_H grid at positions floor(i·W/(W+1 cols)) (the
    exact-integer stand-in for area resampling — deterministic, no
    float resize), bit = left > right, packed row-major LSB-first.
    Shared by the distributed operator and the pure-Python test twin —
    ONE definition, so the two cannot drift."""
    h, w = img.shape[0], img.shape[1]
    lum = (
        img[..., 0].astype(np.int64) * 299
        + img[..., 1].astype(np.int64) * 587
        + img[..., 2].astype(np.int64) * 114
    )
    xs = [(i * w) // (DHASH_W + 1) for i in range(DHASH_W + 1)]
    ys = [(j * h) // DHASH_H for j in range(DHASH_H)]
    out = 0
    bit = 0
    for y in ys:
        for i in range(DHASH_W):
            if lum[y, xs[i]] > lum[y, xs[i + 1]]:
                out |= 1 << bit
            bit += 1
    return out


def textured_blobs(docs: DataFrame, group_size: int = 20) -> DataFrame:
    """Textured 16x16 BMP blob table over ``documents`` with PLANTED
    near-duplicates: docs sharing ``seed = doc_id // group_size``
    render the same MULTIPLICATIVELY seed-dependent gradient
    (px[y,x,c] = (x·y·(1 + seed%9) + x·(3 + seed%5) + y·(5 + seed%7)
    + 11c + 37·seed) % 256 — the seed changes the gradient DIRECTIONS,
    not just a constant brightness offset, which dHash's pairwise
    comparisons would be blind to), and each member flips ONE pixel at
    a member-dependent position — so same-seed docs are NEAR-duplicates
    (a few dHash bits apart), never byte-duplicates, and distinct
    seeds produce genuinely different textures. ``group_size`` is
    CONSTANT in the doc count, so the planted pair volume stays LINEAR
    in corpus size (a fixed pattern count would make classes — and the
    pair output — grow quadratically with the corpus). Payloads are
    genuine BMPs from the pure-numpy encoder; the decode side re-parses
    the real byte stream."""
    return _blob_table(docs, lambda did: encode_bmp(textured_pixels(did, group_size)))


def textured_pixels(did: int, group_size: int = 20) -> "np.ndarray":
    """The pure pixel function behind ``textured_blobs`` — module-level
    so the pytest twin replays the EXACT same images (one definition,
    no drift)."""
    y, x = np.mgrid[0:16, 0:16]
    xl, yl = x.astype(np.int64), y.astype(np.int64)
    seed = did // group_size
    base = (
        xl * yl * (1 + seed % 9)
        + xl * (3 + seed % 5)
        + yl * (5 + seed % 7)
        + 37 * seed
    )
    px = np.zeros((16, 16, 3), np.uint8)
    for c in range(3):
        px[..., c] = ((base + 11 * c) % 256).astype(np.uint8)
    pos = did % group_size
    py, pxx = (pos * 5) % 16, (pos * 11) % 16
    px[py, pxx] = (px[py, pxx].astype(np.int64) + 128) % 256
    return px


def dhash_images(blobs: DataFrame) -> DataFrame:
    """Perceptual hash per image blob: REAL decode (magic-byte sniff →
    the repo's pure-numpy codecs; unknown formats hit the deterministic
    fake at 16x16) then the 56-bit integer dHash — the whole Arrow
    batch emits (blob_id, dhash BIGINT), so everything downstream of
    the Python stage is id+hash-sized."""
    return _map_rows(
        blobs.select("blob_id", "data"),
        lambda bid, data: [(int(bid), dhash_py(_decode_rgb_any(bytes(data), 16, 16)))],
        "blob_id long, dhash long",
    )


def image_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 4,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Hamming near-dup join over perceptual hashes via PIGEONHOLE
    banding (the FastSS/MinHash discipline applied to image hashes):
    split the 56-bit dHash into 7 bands of 8 bits — any pair within
    Hamming distance <= 6 shares at least one unchanged band, so a
    band-keyed equi-join generates ALL candidates for max_hamming <= 6
    (asserted) with no all-pairs comparison; xor+bit_count verifies
    exactly. Candidate exchanges carry (band key, id, 56-bit hash) —
    nothing image-sized leaves the hashing stage.

    ``max_bucket`` is the ABSOLUTE fan-out cap (CLAUDE.md rule:
    relative caps don't survive scale-up): a band value shared by more
    than max_bucket images — a giant exact-dup class or a degenerate
    flat-image band — is dropped from candidate generation rather than
    exploding |bucket|² (the ngram max_posting / minhash max_bucket
    template; exact-dup classes are the hash-groupBy dedup's job)."""
    if max_hamming >= DHASH_N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {DHASH_N_BANDS} bands: "
            "the pigeonhole guarantee only covers "
            f"hamming <= {DHASH_N_BANDS - 1}"
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("dhash"), i * DHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << DHASH_BAND_BITS) - 1))
                .alias("band_val"),
            )
            for i in range(DHASH_N_BANDS)
        ]
    )
    banded = hashes.select(
        "blob_id", "dhash", F.explode(bands).alias("bd")
    ).select("blob_id", "dhash", "bd.band_idx", "bd.band_val")
    sized = banded.withColumn(
        "_bn",
        F.count(F.lit(1)).over(
            Window.partitionBy("band_idx", "band_val")
        ),
    ).where(F.col("_bn") <= max_bucket)
    a = sized.select(
        "band_idx",
        "band_val",
        F.col("blob_id").alias("a"),
        F.col("dhash").alias("ha"),
    )
    b = sized.select(
        "band_idx",
        "band_val",
        F.col("blob_id").alias("b"),
        F.col("dhash").alias("hb"),
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    return (
        cand.select(
            "a",
            "b",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def textured_avi_blobs(
    docs: DataFrame, n_frames: int = 8, group_size: int = 20
) -> DataFrame:
    """Textured 16x16 AVI blobs with PLANTED near-duplicate videos:
    videos sharing ``seed = doc_id // group_size`` render the same
    frame sequence (frame f's pixels = textured_pixels(seed·997 +
    f·31, 1) — content a pure function of (seed, f), so same-seed
    videos are frame-wise identical) EXCEPT each member overwrites the
    frame at index ``member % n_frames`` with a member-unique pattern.
    Two same-seed videos therefore share n_frames−2 frames (n_frames−1
    when their member slots coincide); cross-seed videos share none —
    the structure a frame-hash overlap join must recover. Payloads are
    genuine uncompressed-DIB AVIs (pure-numpy encoder); solid-frame
    ``avi_blobs`` stays the decode/frame-sample fixture (its dHash
    would be degenerate — no gradients)."""

    def make_blob(did: int) -> bytes:
        seed, member = did // group_size, did % group_size
        frames = np.stack([textured_pixels(seed * 997 + f * 31, 1) for f in range(n_frames)])
        slot = member % n_frames
        frames[slot] = textured_pixels(500_000 + seed * 997 + slot * 31 + member, 1)
        return encode_avi(frames)

    return _blob_table(docs, make_blob)


def video_frame_hashes(blobs: DataFrame) -> DataFrame:
    """Per-frame perceptual hashes of video blobs: REAL AVI parse
    (nested RIFF walk) then the shared integer dHash per frame — the
    Arrow stage emits (blob_id, frame_idx, dhash), so everything
    downstream is id+hash-sized."""

    def row(bid, data):
        for f, frame in enumerate(decode_avi(bytes(data))):
            yield int(bid), f, dhash_py(frame)

    return _map_rows(
        blobs.select("blob_id", "data"), row, "blob_id long, frame_idx int, dhash long"
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    min_shared: int = 4,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Video near-dup via FRAME-HASH OVERLAP: two videos are
    near-duplicates when they share >= min_shared distinct frame
    hashes — the standard shot-level video dedup shape (hash each
    sampled frame, join on exact hash, count agreements). The join is
    keyed on the 56-bit frame dHash, so candidates are per-hash
    bounded; ``max_bucket`` is the ABSOLUTE cap on a single hash's
    posting list (a title card shared by thousands of videos must not
    explode |bucket|² — the ngram max_posting rule). Exchanges carry
    (dhash, blob_id) rows only; nothing frame-sized leaves the Arrow
    stage."""
    distinct_fh = frame_hashes.select("blob_id", "dhash").distinct()
    sized = distinct_fh.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("dhash"))
    ).where(F.col("_n") <= max_bucket)
    a = sized.select(F.col("dhash"), F.col("blob_id").alias("a"))
    b = sized.select(F.col("dhash"), F.col("blob_id").alias("b"))
    return (
        a.join(b, "dhash")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
