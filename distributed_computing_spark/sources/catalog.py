"""Table catalog over the driver-generated parquet test data.

Mirrors the reference's sources/sinks surface (SURVEY.md §2.1):
- S1/S2 whole-file text scan + per-file splits → ``read_text_corpus``
- parquet star schema (the engine's native columnar format; the
  reference's JSON shuffle files are Spark-internal shuffle now)

Column pruning + predicate pushdown reach the parquet scan because all
downstream operators are lazy DataFrame transforms.
"""

from __future__ import annotations

import os
import stat
import weakref
from collections.abc import Iterable
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def file_identity(paths: Iterable[str]) -> tuple | None:
    """(path, inode, size, mtime_ns) of every file at or under ``paths``
    (local paths or ``file:`` URIs), sorted — the one definition of
    "these files are unchanged" that the catalog's metadata memo and
    the streaming staging memo key on. Returns None when any path is
    not local (``hdfs://``, ``s3a://`` ...) or cannot be stat'ed, and
    when there is no file at all: callers then read fresh."""
    out = []
    for p in paths:
        if p.startswith("file:"):
            p = unquote(urlparse(p).path)
        elif "://" in p:
            return None
        try:
            st = os.stat(p)
            if not stat.S_ISDIR(st.st_mode):
                out.append((p, st.st_ino, st.st_size, st.st_mtime_ns))
                continue
            for root, _, files in os.walk(p):
                for f in files:
                    fp = os.path.join(root, f)
                    fst = os.stat(fp)
                    out.append((fp, fst.st_ino, fst.st_size, fst.st_mtime_ns))
        except OSError:
            return None
    return tuple(sorted(out)) or None


@dataclass
class _Meta:
    ident: tuple
    schema: StructType  # raw inferred schema, before any normalization
    rows: int | None = None


# Per-session table metadata: session -> {path: _Meta}. Every
# ``spark.read.parquet`` without a schema fires a Spark job to infer it,
# and the builders load the same tables over and over — so the raw
# schema (and, once asked for, the footer row count) is kept per path
# until the path's file identity changes. Weak on the session, and a
# _Meta holds only plain values, so the memo never keeps a session (or
# its JVM) alive; a ``newSession()`` clone or a recreated session starts
# empty. The reference's kvraft server likewise answers from the state
# it holds instead of redoing work per request (kvraft/server.go:31-38).
_META: weakref.WeakKeyDictionary[SparkSession, dict[str, _Meta]] = (
    weakref.WeakKeyDictionary()
)


def _lookup(spark: SparkSession, path: str, ident: tuple | None) -> _Meta | None:
    meta = _META.get(spark, {}).get(path)
    return meta if meta is not None and meta.ident == ident else None


def _load(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, _Meta | None]:
    path = f"{sf_dir}/{name}.parquet"
    ident = file_identity([path])
    meta = _lookup(spark, path, ident)
    # A hit hands Spark the memoized schema, which skips the inference
    # job; every call still returns a fresh DataFrame (one Dataset per
    # call, so self-joins of two loads keep distinct column lineage).
    reader = spark.read if meta is None else spark.read.schema(meta.schema)
    if name == "events":
        # events.parquet has shipped with ts as TIMESTAMP(NANOS) (which
        # Spark's reader rejects outright) and as TIMESTAMP(MICROS,
        # isAdjustedToUTC=false) (which Spark reads as TIMESTAMP_NTZ —
        # un-castable to long under ANSI). Normalize both to the
        # session-UTC instant type TIMESTAMP so every downstream
        # epoch-seconds expression (`cast(ts as long)`) works and
        # matches the DuckDB oracles' `epoch_us(ts) // 1000000`.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            raw = reader.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        ts_type = dict(raw.dtypes).get("ts")
        if ts_type == "bigint":  # nanos read as long → truncate
            df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # NTZ → instant, interpreted in the session tz (UTC):
            # identical wall-clock values, castable to epoch seconds.
            df = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            df = raw
    else:
        raw = df = reader.parquet(path)
    if meta is None and ident is not None:
        meta = _META.setdefault(spark, {})[path] = _Meta(ident, raw.schema)
    return df, meta


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh DataFrame over ``{sf_dir}/{name}.parquet``; the schema is
    inferred once per session while the files stay unchanged."""
    return _load(spark, sf_dir, name)[0]


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a catalog table — what ``load_table(...).count()``
    returns (parquet footers only, no data scan), memoized on the same
    file identity as the schema. This is the metadata bound the size
    gates read: counted once per session, not once per gate site."""
    path = f"{sf_dir}/{name}.parquet"
    meta = _lookup(spark, path, file_identity([path]))
    if meta is None or meta.rows is None:
        df, meta = _load(spark, sf_dir, name)
        rows = df.count()
        if meta is None:  # unstattable path: nothing to memoize on
            return rows
        meta.rows = rows
    return meta.rows


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` works too."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """S1: text files → (doc, line) rows, one doc id per source file.

    Reference reads each whole file into one map task
    (mapreduce/common_map.go:50-56). Spark's split-per-file/block is
    strictly more scalable; ``input_file_name`` preserves the doc id.
    """
    return spark.read.text(path).select(
        F.input_file_name().alias("doc"), F.col("value").alias("line")
    )


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, str] | None = None,
    table_name: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Durable columnar sink (S3/S5 analog, parquet).

    ``partition_by``: hive-style directory partitioning — downstream
    filters on these columns prune at the SCAN (PartitionFilters), the
    coarse-grained analog of the reference's per-reduce-task output
    files (common.go:36-43), but query-addressable.
    ``bucket_by=(n, col)``: pre-shuffled layout so later joins/aggs on
    ``col`` skip their exchange entirely (requires ``table_name`` —
    bucketing metadata lives in the catalog, saveAsTable).
    """
    if bucket_by is not None:
        if table_name is None:
            raise ValueError("bucketed writes need table_name (catalog metadata)")
        n, col = bucket_by
        w = df.write.mode(mode).option("path", path).bucketBy(n, col).sortBy(col)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("parquet").saveAsTable(table_name)
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_merged_text(df: DataFrame, path: str, key: str = "key", value: str = "value") -> None:
    """S6: merged, key-sorted ``"k: v"`` text sink.

    Reference merges all reduce outputs single-threaded on the driver
    (mapreduce/master_splitmerge.go:14-51) — exactly what we must not do
    at 100 TB. ``orderBy`` gives a global range-partitioned sort; the
    single output file is only for golden-parity tests (coalesce(1) is
    opt-in by small output size, not a driver collect).
    """
    (
        df.orderBy(key)
        .select(F.concat_ws(": ", F.col(key).cast("string"), F.col(value).cast("string")).alias("line"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
