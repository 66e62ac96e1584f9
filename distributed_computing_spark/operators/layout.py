"""Multi-dimensional data layout: Z-order (Morton) clustering for
min/max-stat pruning on more than one column.

A 100 TB table can be SORTED on only one column: range predicates on
any other column hit every file. Interleaving the bits of two
quantized sort keys (the Z-order curve — the technique behind Delta
OPTIMIZE ZORDER BY / Iceberg sort orders) gives every file a tight
bounding BOX in both dimensions, so parquet row-group min/max stats
prune scans on either column alone or both together. This module makes
that a first-class operator instead of a table-maintenance side
effect:

- ``zvalue`` is a pure JVM Column expression (32 shift/mask/or terms
  at the default 16 bits — whole-stage-codegen'd, no UDF);
- ``zorder_write`` quantizes each key against its measured min/max,
  range-partitions by z-value, sorts within partitions, and writes
  parquet whose per-file/row-group stats carry the bounding boxes;
- ``rowgroup_skip_fraction`` reads the written footers with pyarrow
  and reports how many row groups a conjunctive range predicate can
  prove away — the measured pruning claim, not an asserted one
  (tests pin: linear layout prunes only its own sort column, z-order
  prunes BOTH single-column predicates).

The bit-interleave and the quantization are integer arithmetic with
truncating division, so both gated queries are exact against DuckDB
oracles (generated shift/mask SQL for the cell histogram; a plain
filtered aggregate for the layout round-trip).
"""

from __future__ import annotations

import functools
import os
from distributed_computing_spark.caching import session_tmpdir

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_computing_spark.functions.frames import map_rows


def quantize(v: str, vmin: int, vmax: int, bits: int = 16) -> Column:
    """Linear quantization of an integer column (named by ``v``) into
    [0, 2^bits): ``((v - vmin) * (2^bits - 1)) div (vmax - vmin)`` —
    truncating `div` keeps it exact against the `//` oracle.

    Caller contract (guarded in zorder_write): the value range must
    satisfy range * 2^bits < 2^62 — pre-scale coarse-grained keys
    (e.g. timestamps to seconds) before laying out.
    """
    if vmax <= vmin:
        return F.lit(0).cast("long")
    scale = (1 << bits) - 1
    return F.expr(f"((`{v}` - {vmin}L) * {scale}L) div {vmax - vmin}L")


def zvalue(xq: Column, yq: Column, bits: int = 16) -> Column:
    """Morton interleave of two already-quantized columns (x gets the
    odd/high bit of each pair): pure JVM expression, codegen-friendly."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(xq, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(yq, i).bitwiseAND(F.lit(1)), 2 * i))
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms).alias("_z")


def zvalue_py(xq: int, yq: int, bits: int = 16) -> int:
    """Pure-Python reference for tests."""
    z = 0
    for i in range(bits):
        z |= ((xq >> i) & 1) << (2 * i + 1)
        z |= ((yq >> i) & 1) << (2 * i)
    return z


def zvalue_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The same interleave as generated DuckDB SQL (exact-oracle side).

    Every term is FULLY parenthesized: DuckDB parses `<<` and `|` at
    EQUAL precedence left-to-right (`1 << 3 | 1 << 2` is 36, not 12),
    so an unparenthesized C-style OR-of-shifts chain silently
    accumulates shifts and overflows."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({x_expr}) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((({y_expr}) >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bounds: tuple[int, int, int, int],
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of
    (x_col, y_col): range-partition by z-value into ``n_files`` files,
    sort within partitions, drop the helper column. ``bounds`` is
    (xmin, xmax, ymin, ymax) — measured by the caller so one agg scan
    serves both the layout and its oracle."""
    xmin, xmax, ymin, ymax = bounds
    for lo, hi in ((xmin, xmax), (ymin, ymax)):
        if (hi - lo) << bits >= 1 << 62:
            raise ValueError(
                f"column range {hi - lo} too wide for {bits}-bit "
                "quantization — pre-scale the key (e.g. timestamps to "
                "seconds) to keep (range << bits) under 2^62"
            )
    z = zvalue(
        quantize(x_col, xmin, xmax, bits),
        quantize(y_col, ymin, ymax, bits),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroup_skip_fraction(
    path: str, predicates: dict[str, tuple[int, int]]
) -> tuple[int, int]:
    """(skipped, total) row groups that parquet min/max stats prove
    disjoint from the conjunctive closed-range ``predicates``
    ({col: (lo, hi)}) — footer-only, via pyarrow. Timestamps compare
    as epoch micros."""
    import pyarrow.parquet as pq

    def _as_int(v):
        import datetime

        if isinstance(v, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return int((v - epoch).total_seconds() * 1_000_000)
        return int(v)

    skipped = total = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            for col, (lo, hi) in predicates.items():
                st = md.row_group(rg).column(cols[col]).statistics
                if st is None or not st.has_min_max:
                    continue
                if _as_int(st.min) > hi or _as_int(st.max) < lo:
                    skipped += 1
                    break
    return skipped, total


# --- registry queries ------------------------------------------------------

_LAYOUT_CACHE: dict[
    tuple[int, str, str], tuple[str, tuple[int, int, int, int]]
] = {}


def _events_bounds(spark: SparkSession, sf_dir: str):
    from distributed_computing_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.col("ts").cast("long")
    )
    row = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_sec"), F.max("ts_sec")
    ).collect()[0]
    return ev, (int(row[0]), int(row[1]), int(row[2]), int(row[3]))


def _events_source_tag(sf_dir: str) -> str:
    """Source fingerprint (mtime+size of events.parquet) folded into the
    layout cache key — mirrors analytics._bucketed_source_tag: without
    it a regenerated sf_dir (or a recycled id(spark) after session GC)
    would serve a stale layout while the oracle reads fresh files
    (ADVICE r6)."""
    import os

    p = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(p)
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return "missing"


def _events_layout(spark: SparkSession, sf_dir: str, curve: str = "z"):
    key = (id(spark), sf_dir, _events_source_tag(sf_dir), curve)
    if key not in _LAYOUT_CACHE:
        ev, bounds = _events_bounds(spark, sf_dir)
        path = session_tmpdir(prefix=f"dcs_{curve}order_")
        writer = zorder_write if curve == "z" else hilbert_write
        writer(ev, path, "user_id", "ts_sec", bounds)
        _LAYOUT_CACHE[key] = (path, bounds)
    return _LAYOUT_CACHE[key]


def _window(lo: int, hi: int, p_lo: int, p_hi: int) -> tuple[int, int]:
    span = hi - lo
    return lo + (span * p_lo) // 100, lo + (span * p_hi) // 100


def zorder_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip + selective read through the z-ordered layout: a 2-D
    range predicate (mid-20% of users x mid-15% of time) aggregated by
    event_type. The oracle runs the same filter on the RAW table, so a
    row lost or duplicated by the layout write fails the gate; the
    pruning benefit itself is measured footer-side in tests."""
    path, (xmin, xmax, ymin, ymax) = _events_layout(spark, sf_dir)
    u_lo, u_hi = _window(xmin, xmax, 20, 40)
    t_lo, t_hi = _window(ymin, ymax, 30, 45)
    ev = spark.read.parquet(path)
    return (
        ev.where(
            F.col("user_id").between(u_lo, u_hi)
            & F.col("ts_sec").between(t_lo, t_hi)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


def zorder_cells(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Cell histogram of the curve itself: top-k Morton cells of
    (user_id, ts_sec) at 8-bit resolution by event count — puts the
    bit-interleave and quantization arithmetic under the exact gate."""
    ev, (xmin, xmax, ymin, ymax) = _events_bounds(spark, sf_dir)
    bits = 8
    z = zvalue(
        quantize("user_id", xmin, xmax, bits),
        quantize("ts_sec", ymin, ymax, bits),
        bits,
    )
    return (
        ev.select(z.alias("z_cell"))
        .groupBy("z_cell")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("z_cell").asc())
        .limit(k)
    )


def zorder_cells_oracle_sql(k: int = 50, bits: int = 8) -> str:
    scale = (1 << bits) - 1
    qx = f"((user_id - (SELECT min(user_id) FROM events)) * {scale}) // ((SELECT max(user_id) - min(user_id) FROM events))"
    qy = (
        f"((epoch_us(ts) // 1000000 - (SELECT min(epoch_us(ts) // 1000000) FROM events)) * {scale})"
        f" // ((SELECT max(epoch_us(ts) // 1000000) - min(epoch_us(ts) // 1000000) FROM events))"
    )
    return f"""
WITH q AS (SELECT {zvalue_sql(f'({qx})', f'({qy})', bits)} AS z_cell FROM events)
SELECT z_cell, count(*) AS n_events
FROM q GROUP BY 1
ORDER BY n_events DESC, z_cell ASC
LIMIT {k}"""


def scan_oracle_sql(
    u_pct: tuple[int, int], t_pct: tuple[int, int]
) -> str:
    """Layout-independent scan oracle: the same 2-D range aggregate
    over the RAW events table — a row lost or duplicated by either
    curve's layout write fails the gate."""
    return f"""
WITH b AS (
  SELECT min(user_id) AS umin, max(user_id) AS umax,
         min(epoch_us(ts) // 1000000) AS tmin,
         max(epoch_us(ts) // 1000000) AS tmax
  FROM events)
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events, b
WHERE user_id BETWEEN umin + ((umax - umin) * {u_pct[0]}) // 100
                  AND umin + ((umax - umin) * {u_pct[1]}) // 100
  AND epoch_us(ts) // 1000000 BETWEEN tmin + ((tmax - tmin) * {t_pct[0]}) // 100
                                  AND tmin + ((tmax - tmin) * {t_pct[1]}) // 100
GROUP BY 1"""


def zorder_scan_oracle_sql() -> str:
    return scan_oracle_sql((20, 40), (30, 45))


def parquet_footer_profile(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed Parquet FOOTER profiler: one row per (file,
    row_group, column) with value counts and compressed/uncompressed
    chunk sizes — the physical-layout observability a 100 TB lake
    needs (skew detection, compression audit, row-group sizing)
    without touching data pages: footers are KBs regardless of file
    size, so profiling a million-file table costs a million metadata
    reads, distributed here over the file list (one Arrow task batch
    per partition of paths; pyarrow reads only the footer).

    Cross-engine contract: fields mirror DuckDB's parquet_metadata()
    (path_in_schema / num_values / total_compressed_size /
    total_uncompressed_size) — equality is pytest-checked per file
    (test_layout); the registry entry is rows-only because oracle SQL
    is static text and cannot carry the runtime data path."""
    import pyarrow.parquet as pq

    def footer_rows(p):
        md = pq.ParquetFile(str(p)).metadata
        base = os.path.basename(str(p))
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for ci in range(rg.num_columns):
                c = rg.column(ci)
                yield (
                    base,
                    g,
                    c.path_in_schema,
                    c.num_values,
                    c.total_compressed_size,
                    c.total_uncompressed_size,
                )

    if not paths:  # ADVICE r7: schemaless createDataFrame([]) throws
        raise ValueError("parquet_footer_profile: empty paths list")
    files = spark.createDataFrame([(p,) for p in paths], ["path"])
    return map_rows(
        files.repartition(min(len(paths), 32)),
        footer_rows,
        "file_name string, row_group int, column_name string, "
        "num_values long, compressed_bytes long, uncompressed_bytes long",
    )


def compaction_plan(
    profile: DataFrame, target_bytes: int = 128 << 20
) -> DataFrame:
    """Small-file compaction planner (round 8) — the ACTION on top of
    the footer profiler: assign files, in name order, to merge bins of
    ~``target_bytes`` compressed (bin id = cumulative-bytes-before div
    target — the pack_chunks rule applied to files), emitting one row
    per bin with its file span. A lakehouse OPTIMIZE/compaction job
    executes the plan by rewriting each multi-file bin.

    Scale note: the input is METADATA-sized (one row per
    (file, row_group, column) from footers — ~1e6 files even at
    100 TB), so the global name-ordered running sum is a deliberate
    single-partition window over file-count rows, not a data-sized
    sort; the profiler's footer scan stays the distributed part.
    """
    files = profile.groupBy("file_name").agg(
        F.sum("compressed_bytes").alias("bytes")
    )
    binned = files.withColumn(
        "bin",
        F.expr(
            "cast(coalesce(sum(bytes) over (order by file_name rows "
            "between unbounded preceding and 1 preceding), 0) "
            f"div {int(target_bytes)} as int)"
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("file_name").alias("first_file"),
            F.max("file_name").alias("last_file"),
        )
        .orderBy("bin")
    )


# --- Hilbert curve (round-7): the locality upgrade over Morton -------------


def hilbert_py(x: int, y: int, bits: int = 16) -> int:
    """Pure-Python xy→d on the Hilbert curve (the classic iterative
    quadrant walk: quadrant digit + rotate/reflect per bit level) —
    reference for tests and the SQL/Column generators below."""
    n = 1 << bits
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def with_hilbert(
    df: DataFrame, x_col: str, y_col: str, bits: int = 8, out: str = "h_cell"
) -> DataFrame:
    """Append the Hilbert index of two already-quantized columns as
    ``out`` — pure JVM Columns, one named-column chain per bit level
    (the rotate/reflect step makes a closed-form single expression
    grow multiplicatively per level — the BFS-lineage lesson applied
    to expression trees — so each level lands in its own projection).

    Why Hilbert next to ``zvalue`` (Morton): both give files 2-D
    bounding boxes for min/max pruning, but the Hilbert curve never
    takes Morton's long diagonal jumps, so consecutive curve ranges
    are tighter rectangles — better locality per file at the same
    bit budget (measured: tests/test_layout pins the cell-adjacency
    property; the scan-pruning comparison is recorded in
    BASELINE.md)."""
    n = 1 << bits
    df = (
        df.withColumn("_hx", F.col(x_col).cast("long"))
        .withColumn("_hy", F.col(y_col).cast("long"))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        df = (
            df.withColumn(
                "_rx",
                F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
            )
            .withColumn(
                "_ry",
                F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
            )
        )
        quad = (
            F.when((F.col("_rx") == 0) & (F.col("_ry") == 0), 0)
            .when((F.col("_rx") == 0) & (F.col("_ry") == 1), 1)
            .when((F.col("_rx") == 1) & (F.col("_ry") == 1), 2)
            .otherwise(3)
        )
        df = df.withColumn(
            out, F.col(out) + F.lit(s * s).cast("long") * quad
        )
        nx = (
            F.when(F.col("_ry") == 1, F.col("_hx"))
            .when(F.col("_rx") == 1, F.lit(n - 1) - F.col("_hy"))
            .otherwise(F.col("_hy"))
        )
        ny = (
            F.when(F.col("_ry") == 1, F.col("_hy"))
            .when(F.col("_rx") == 1, F.lit(n - 1) - F.col("_hx"))
            .otherwise(F.col("_hx"))
        )
        df = (
            df.withColumn("_nx", nx)
            .withColumn("_ny", ny)
            .drop("_hx", "_hy")
            .withColumnRenamed("_nx", "_hx")
            .withColumnRenamed("_ny", "_hy")
        )
    return df.drop("_hx", "_hy", "_rx", "_ry")


def hilbert_index_udf(bits: int):
    """Vectorized pandas_udf twin of ``with_hilbert`` — the SAME
    iterative quadrant walk as ``hilbert_py``, run as numpy int64
    array ops per Arrow batch (round-12 optimization, guide §4.2).

    Why: the 16-level JVM projection chain evaluates ~200 expression
    nodes per row and is evaluated TWICE under a
    ``repartitionByRange`` (once by the range sampler, once by the
    exchange) — measured 12.5 s vs Morton's 1.8 s for the same
    sf0.1 write. The udf ships ONLY the two quantized columns across
    the Arrow boundary (one long back) and does bits passes over the
    batch arrays. Values are bit-identical (pure integer arithmetic;
    parity with hilbert_py pinned in tests/test_layout.py), so the
    produced layout — and every pruning/wobble contract on it — is
    unchanged."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n = 1 << bits

    @pandas_udf("long")
    def h(qx, qy):
        import numpy as np

        x = qx.to_numpy(dtype=np.int64, copy=True)
        y = qy.to_numpy(dtype=np.int64, copy=True)
        d = np.zeros(len(x), dtype=np.int64)
        s = n >> 1
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            m = ry == 0
            flip = m & (rx == 1)
            xf = x[flip]
            x[flip] = n - 1 - xf
            y[flip] = n - 1 - y[flip]
            xm = x[m].copy()
            x[m] = y[m]
            y[m] = xm
            s >>= 1
        return pd.Series(d, dtype="int64")

    return h


def hilbert_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bounds: tuple[int, int, int, int],
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """``zorder_write``'s rotation-curve twin (round 8, VERDICT r7
    item 5 — the ADOPTION step after round 7's measurement showed
    Hilbert >= Morton on every probe class): cluster on the Hilbert
    index of the quantized keys, range-partition, sort within
    partitions, drop the helpers. Same caller contract as
    zorder_write."""
    xmin, xmax, ymin, ymax = bounds
    for lo, hi in ((xmin, xmax), (ymin, ymax)):
        if (hi - lo) << bits >= 1 << 62:
            raise ValueError(
                f"column range {hi - lo} too wide for {bits}-bit "
                "quantization — pre-scale the key (e.g. timestamps to "
                "seconds) to keep (range << bits) under 2^62"
            )
    q = df.withColumn(
        "_qx", quantize(x_col, xmin, xmax, bits)
    ).withColumn("_qy", quantize(y_col, ymin, ymax, bits))
    # Round-12: the curve index comes from the vectorized Arrow twin
    # (see hilbert_index_udf) instead of the 16-level JVM projection
    # chain — bit-identical values, measured 12.5 s -> see
    # OPTIMIZATION_r12.md for the write at sf0.1. with_hilbert stays
    # the reference implementation (and the exact-gate surface for
    # hilbert_cells).
    (
        q.withColumn("_h", hilbert_index_udf(bits)(F.col("_qx"), F.col("_qy")))
        .repartitionByRange(n_files, "_h")
        .sortWithinPartitions("_h")
        .drop("_h", "_qx", "_qy")
        .write.mode("overwrite")
        .parquet(path)
    )


def hilbert_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip + selective read through the HILBERT-clustered
    layout (zorder_events_scan's twin on a different probe window so
    the two gates are independent): 2-D range predicate over mid-20%
    of users x mid-15% of time, aggregated by event_type; the oracle
    runs the same filter on the RAW table. The pruning advantage over
    Morton on identical probes is measured footer-side (BASELINE.md
    layout table + tests/test_layout)."""
    path, (xmin, xmax, ymin, ymax) = _events_layout(spark, sf_dir, "h")
    u_lo, u_hi = _window(xmin, xmax, 55, 75)
    t_lo, t_hi = _window(ymin, ymax, 10, 25)
    ev = spark.read.parquet(path)
    return (
        ev.where(
            F.col("user_id").between(u_lo, u_hi)
            & F.col("ts_sec").between(t_lo, t_hi)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


def hilbert_scan_oracle_sql() -> str:
    return scan_oracle_sql((55, 75), (10, 25))


def hilbert_cells(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Cell histogram of the Hilbert curve over (user_id, ts_sec) at
    8-bit resolution — the zorder_cells motion for the rotation-based
    curve.

    Round-12 (second pass): the index comes from ``hilbert_index_udf``
    — the same swap ``hilbert_write`` made — instead of the 8-level
    JVM projection chain (~100 expression nodes/row over every event:
    measured solo at sf0.1, 4.3-6.4 s warm vs zorder_cells' 1.0-1.7 s
    for the identical groupBy). Values are bit-identical (both
    implementations are parity-pinned to ``hilbert_py`` on full grids
    in tests/test_layout.py), so the gate now exercises the SAME
    implementation the production write path uses; ``with_hilbert``
    stays as the JVM reference under its own parity pin."""
    ev, (xmin, xmax, ymin, ymax) = _events_bounds(spark, sf_dir)
    bits = 8
    q = ev.select(
        quantize("user_id", xmin, xmax, bits).alias("_qx"),
        quantize("ts_sec", ymin, ymax, bits).alias("_qy"),
    )
    return (
        q.select(
            hilbert_index_udf(bits)(F.col("_qx"), F.col("_qy")).alias(
                "h_cell"
            )
        )
        .groupBy("h_cell")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("h_cell").asc())
        .limit(k)
    )


def hilbert_cells_oracle_sql(k: int = 50, bits: int = 8) -> str:
    """Generated chained-CTE oracle: one CTE per bit level mirroring
    with_hilbert's projection chain exactly (same CASE quadrant digit,
    same rotate/reflect) — integer arithmetic end to end."""
    scale = (1 << bits) - 1
    n = 1 << bits
    qx = f"((user_id - (SELECT min(user_id) FROM events)) * {scale}) // ((SELECT max(user_id) - min(user_id) FROM events))"
    qy = (
        f"((epoch_us(ts) // 1000000 - (SELECT min(epoch_us(ts) // 1000000) FROM events)) * {scale})"
        f" // ((SELECT max(epoch_us(ts) // 1000000) - min(epoch_us(ts) // 1000000) FROM events))"
    )
    parts = [
        f"q0 AS (SELECT ({qx}) AS x, ({qy}) AS y, CAST(0 AS BIGINT) AS d FROM events)"
    ]
    r = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        parts.append(
            f"""q{r + 1} AS (
  SELECT
    CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {n - 1} - y ELSE y END AS x,
    CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {n - 1} - x ELSE x END AS y,
    d + {s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
                        WHEN rx = 0 AND ry = 1 THEN 1
                        WHEN rx = 1 AND ry = 1 THEN 2
                        ELSE 3 END) AS d
  FROM (SELECT x, y, d,
          CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
          CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM q{r}))"""
        )
        r += 1
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT d AS h_cell, count(*) AS n_events FROM q{r}
GROUP BY 1 ORDER BY n_events DESC, h_cell ASC LIMIT {k}"""
    )
