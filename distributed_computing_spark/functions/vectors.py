"""Vector column expressions for embedding similarity ([EXT]).

All pure Column functions (``F.zip_with`` / ``F.aggregate``) — the dot
products run in the JVM inside codegen, no Python round-trip. The
Pandas-UDF path in operators/similarity.py is the batched alternative
for very wide vectors; benchmark showed the JVM path wins at 64 dims.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm-safe (ANSI mode errors on x/0; real corpora contain
    zero vectors): defined as 0.0 when either norm is 0."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def quantize(vec: Column) -> Column:
    """Symmetric int8 quantization: struct(q array<tinyint>, scale).

    The 100 TB storage path for embedding columns — 4x smaller than
    float32, and int8 GEMM-able on modern hardware. Per-vector scale =
    max|x|/127; pure Column expressions (no UDF)."""
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0)
    safe = F.when(scale > 0, scale).otherwise(F.lit(1.0))
    q = F.transform(vec, lambda x: F.round(x / safe).cast("tinyint"))
    return F.struct(q.alias("q"), safe.cast("float").alias("scale"))


def dequantize(qstruct: Column) -> Column:
    """Inverse of ``quantize``: array<float> reconstruction."""
    return F.transform(
        qstruct["q"], lambda v: (v.cast("float") * qstruct["scale"]).cast("float")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH bucketing.

    Driver-side constant (n_planes x dim floats, tiny) broadcast into the
    plan as a literal array — no shuffle, no UDF.
    """
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def int_hyperplanes(
    dim: int, n_planes: int, seed: int = 7, bound: int = 8
) -> list[list[int]]:
    """INTEGER-coordinate hyperplanes for the oracle-exact LSH variant.

    Same deterministic-constant role as ``random_hyperplanes``, but the
    coordinates are small integers in [-bound, bound] so that the
    bucket bit ``sign(dot(floor(v*S), plane))`` is exact INTEGER
    arithmetic — bit-reproducible across engines (Spark and DuckDB both
    floor the identical IEEE double v*S), which is what lets a DuckDB
    oracle rebuild the buckets exactly. Plain LCG, no numpy, so the
    registry's SQL generator can call it too.
    """
    x = seed & 0x7FFFFFFF
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append((x % (2 * bound + 1)) - bound)
        out.append(row)
    return out


def int_lsh_bucket(
    vec: Column, planes: list[list[int]], scale: int = 1000
) -> Column:
    """Oracle-exact sign-LSH bucket: quantize v -> floor(v*scale) as
    BIGINT, then bit i = [dot_int(qv, plane_i) > 0]. All integer math
    after the single double multiply, so every engine agrees on every
    bit. Plane literals are n_planes×dim nodes — constant-folded, fine
    at these sizes; the approximate ``lsh_topk`` keeps the GEMM path.
    """
    qv = F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
    )
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(int(c)).cast("long") for c in plane])
        d = F.aggregate(
            F.zip_with(qv, plane_col, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec . plane_i), packed to a long."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        d = dot(vec, plane_col)
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket
