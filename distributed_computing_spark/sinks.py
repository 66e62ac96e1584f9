"""Transactional MERGE sink: Delta Lake when available, staged
parquet-swap otherwise.

SURVEY §1.4 maps the reference's Put/upsert surface (kvraft
server.go:113-121 apply loop; K2 table form) onto ``MERGE INTO``. This
module is the single place that decides which physical form runs:

- **Delta backend** (``delta-spark`` importable AND the session built
  with the Delta SQL extension): real ``MERGE INTO`` — ACID under
  concurrent writers, conflict-checked commits, time travel. The 100 TB
  posture: MERGE rewrites only the files containing matched keys, not
  the whole table.
- **Parquet backend** (this container): read-modify-write into a temp
  dir then an atomic directory swap. Correct single-writer batch
  semantics (all-or-nothing per batch), but no concurrent-writer
  isolation — exactly the gap Delta closes.

Both backends expose the same functions; callers never branch.

On the parquet backend a MERGE target is rewritten every batch, so it is
read with its declared schema (``read_state``): ``spark.read.parquet``
without one infers the schema with a Spark job on every call. The
merges cast their output to that declared schema, so a declared-schema
read never meets a file it cannot decode (an int32 id column written by
a first batch, say). A ``KVTableStore.apply_batch`` is then 8 jobs.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable

    _HAS_DELTA = True
except ImportError:  # container default
    DeltaTable = None  # type: ignore[assignment]
    _HAS_DELTA = False


def delta_available(spark: SparkSession) -> bool:
    """True iff the delta-spark package is importable AND this session
    was built with the Delta extension (jars + catalog), so MERGE INTO
    will actually parse/execute."""
    if not _HAS_DELTA:
        return False
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "DeltaSparkSessionExtension" in ext


def _swap_dir(df: DataFrame, path: str) -> None:
    """Stage-then-swap parquet write: the reader never observes a
    half-written table (same pattern as KVTableStore round 1)."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    old = path + ".old"
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a MERGE-target table regardless of backend; empty DataFrame
    with the declared schema if it does not exist yet. The parquet read
    takes the declared schema too, so it fires no schema-inference job."""
    if delta_available(spark) and DeltaTable.isDeltaTable(spark, path):
        return spark.read.format("delta").load(path)
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _as_schema(df: DataFrame, schema: str) -> DataFrame:
    """``df`` with exactly the columns and types of the DDL ``schema``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    return df.select(
        *[F.col(f.name).cast(f.dataType) for f in StructType.fromDDL(schema)]
    )


def merge_upsert_path(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> None:
    """K2 table form against a STORED table: matched keys take the
    update row, unmatched insert. Delta: one MERGE INTO (file-level
    rewrite of matched files only). Parquet: anti-join + union + swap
    (full rewrite — the single-writer stand-in)."""
    if delta_available(spark):
        if DeltaTable.isDeltaTable(spark, path):
            (
                DeltaTable.forPath(spark, path)
                .alias("t")
                .merge(updates.alias("s"), f"t.{key} = s.{key}")
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            updates.write.format("delta").mode("overwrite").save(path)
        return
    from distributed_computing_spark.operators.kv import merge_upsert

    if os.path.exists(path):
        merged = merge_upsert(spark.read.parquet(path), updates, key)
    else:
        merged = updates
    _swap_dir(merged, path)


def merge_kv_state(spark: SparkSession, path: str, folded: DataFrame) -> None:
    """KV-state MERGE: ``folded`` carries (key, _delta, _lp) — the
    batch's folded writes per key (_lp non-null ⇒ a put reset the value
    mid-batch). Matched keys either replace (put) or append-concat;
    unmatched insert. Same expression on both backends."""
    if delta_available(spark):
        from pyspark.sql import functions as F

        if not DeltaTable.isDeltaTable(spark, path):
            folded.select(
                "key", F.col("_delta").alias("value")
            ).write.format("delta").mode("overwrite").save(path)
            return
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(folded.alias("s"), "t.key = s.key")
            .whenMatchedUpdate(
                set={
                    "value": (
                        "CASE WHEN s._lp IS NOT NULL THEN s._delta "
                        "ELSE concat(coalesce(t.value, ''), s._delta) END"
                    )
                }
            )
            .whenNotMatchedInsert(values={"key": "s.key", "value": "s._delta"})
            .execute()
        )
        return
    # parquet stand-in: full-outer fold then swap (single writer)
    from pyspark.sql import functions as F

    from distributed_computing_spark.streaming.kv_stream import STATE_SCHEMA

    cur = read_state(spark, path, STATE_SCHEMA).select(
        "key", F.col("value").alias("_base")
    )
    new_state = cur.join(folded, "key", "full").select(
        "key",
        F.when(F.col("_delta").isNull(), F.col("_base"))
        .when(F.col("_lp").isNotNull(), F.col("_delta"))
        .otherwise(F.concat(F.coalesce(F.col("_base"), F.lit("")), F.col("_delta")))
        .alias("value"),
    )
    _swap_dir(_as_schema(new_state, STATE_SCHEMA), path)


def merge_high_water(spark: SparkSession, path: str, advances: DataFrame) -> None:
    """High-water MERGE: per client, keep max(existing, new). Delta:
    conditional-update MERGE; parquet: union + max + swap."""
    if delta_available(spark):
        if not DeltaTable.isDeltaTable(spark, path):
            advances.write.format("delta").mode("overwrite").save(path)
            return
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(advances.alias("s"), "t.client_id = s.client_id")
            .whenMatchedUpdate(
                condition="s.high_water > t.high_water",
                set={"high_water": "s.high_water"},
            )
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    from pyspark.sql import functions as F

    from distributed_computing_spark.streaming.kv_stream import HW_SCHEMA

    cur = read_state(spark, path, HW_SCHEMA)
    merged = (
        cur.unionByName(advances)
        .groupBy("client_id")
        .agg(F.max("high_water").alias("high_water"))
    )
    _swap_dir(_as_schema(merged, HW_SCHEMA), path)


# ---------------------------------------------------------------------------
# Partitioned curated-corpus sink (training-data layout)
# ---------------------------------------------------------------------------


def write_curated_corpus(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang", "split"),
    order_col: str = "doc_id",
) -> None:
    """Hive-partitioned curated-corpus sink: ``lang=…/split=…`` layout.

    The data layout IS the scale feature: a per-(lang, split) training
    read lists only its own directories (partition pruning — see
    ``read_corpus_slice``), so a 100 TB corpus serves a one-language
    train job without touching the other partitions' files. One shuffle
    on the partition key collapses each partition's rows into its own
    writer tasks (no thousand tiny files per directory);
    ``sortWithinPartitions(order_col)`` makes parquet row-group min/max
    stats monotone in the id so id-range predicates skip row groups
    too. At larger scale pass-through ``repartition(N, cols)`` tuning
    replaces the default one-task-per-partition-value.
    """
    from pyspark.sql import functions as F

    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_corpus_slice(spark: SparkSession, path: str, **equals) -> DataFrame:
    """One training slice of a partitioned corpus: equality predicates
    on partition columns land as ``PartitionFilters`` in the parquet
    scan (plan-asserted in tests) — only matching directories are
    listed and read, never the rest of the corpus."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for c, v in equals.items():
        df = df.where(F.col(c) == v)
    return df
