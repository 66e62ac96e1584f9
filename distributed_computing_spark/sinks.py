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
a first batch, say). A standalone merge swaps its one directory
(``_swap_dir``); a crash between the swap's two renames leaves
``path.old``, which the next read or swap puts back.

``KVTableStore`` keeps its two tables in generations instead
(``commit_generation``): ``root/gen-NNNNNNNN/{state,high_water}``, the
live one named by the file ``root/CURRENT``. A batch writes both tables
of the next generation and installs them with one rename of
``CURRENT``, so a crash at any point leaves the whole previous batch
live, and a retry of the batch rewrites the same generation. A
``KVTableStore.apply_batch`` is then 6 Spark jobs: one statement per
table, each a write over its shuffles.
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


def _restore(path: str) -> None:
    """Finish what a failed ``_swap_dir`` left: ``path.old`` is the last
    committed table when ``path`` is missing (the failure fell between
    the two renames), and is stale when ``path`` exists."""
    old = path + ".old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.replace(old, path)


def _swap_dir(df: DataFrame, path: str) -> None:
    """Stage-then-swap parquet write: the reader never observes a
    half-written table, and a failure between the two renames leaves
    ``path.old`` for ``_restore``."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    _restore(path)
    old = path + ".old"
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def live_generation(root: str) -> str:
    """Directory of the live generation under ``root``: the one
    ``root/CURRENT`` names, or the absent ``gen-00000000`` (whose tables
    read empty) before the first commit."""
    try:
        with open(os.path.join(root, "CURRENT")) as f:
            return os.path.join(root, f.read().strip())
    except FileNotFoundError:
        return os.path.join(root, "gen-00000000")


def commit_generation(root: str, tables: dict[str, DataFrame]) -> None:
    """Write each of ``tables`` as ``<next generation>/<name>`` under
    ``root``, then make that generation live with one rename of
    ``CURRENT``. Until the rename every reader sees the previous
    generation whole; a failed attempt's directory is rewritten by the
    next one, and older generations are removed after the rename."""
    live = live_generation(root)
    name = f"gen-{int(live.rsplit('-', 1)[1]) + 1:08d}"
    staged = os.path.join(root, name)
    shutil.rmtree(staged, ignore_errors=True)
    for table, df in tables.items():
        df.write.parquet(os.path.join(staged, table))
    tmp = os.path.join(root, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(root, "CURRENT"))
    for d in os.listdir(root):
        if d.startswith("gen-") and d != name:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a MERGE-target table regardless of backend; empty DataFrame
    with the declared schema if it does not exist yet. The parquet read
    takes the declared schema too, so it fires no schema-inference job."""
    if delta_available(spark) and DeltaTable.isDeltaTable(spark, path):
        return spark.read.format("delta").load(path)
    _restore(path)
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


# The KV-state MERGE rule, target ``t`` and source ``s`` (key, _delta,
# _lp): a put in the batch (_lp non-null) resets the stored value, else
# the batch's folded writes append to it.
_KV_MATCHED = (
    "CASE WHEN s._lp IS NOT NULL THEN s._delta "
    "ELSE concat(coalesce(t.value, ''), s._delta) END"
)


def kv_state_merge_sql(state: str, folded: str) -> str:
    """SQL text of the parquet KV-state MERGE: the full-outer merge of
    the relation ``state`` (key, value) with ``folded`` (key, _delta,
    _lp), cast to ``STATE_SCHEMA``."""
    return (
        "SELECT CAST(key AS STRING) AS key, CAST(CASE WHEN s._delta IS NULL "
        f"THEN t.value ELSE {_KV_MATCHED} END AS STRING) AS value "
        f"FROM {state} t FULL OUTER JOIN {folded} s USING (key)"
    )


def high_water_merge_sql(hw: str, advances: str) -> str:
    """SQL text of the parquet high-water MERGE: per client, the max of
    the relations ``hw`` and ``advances`` (client_id, high_water), cast
    to ``HW_SCHEMA``."""
    return (
        "SELECT CAST(client_id AS BIGINT) AS client_id, "
        "CAST(max(high_water) AS BIGINT) AS high_water FROM ("
        f"SELECT client_id, high_water FROM {hw} UNION ALL "
        f"SELECT client_id, high_water FROM {advances}) GROUP BY client_id"
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

    _restore(path)
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
            .whenMatchedUpdate(set={"value": _KV_MATCHED})
            .whenNotMatchedInsert(values={"key": "s.key", "value": "s._delta"})
            .execute()
        )
        return
    # parquet stand-in: full-outer fold then swap (single writer), in
    # the session ``folded`` belongs to
    from distributed_computing_spark.streaming.kv_stream import STATE_SCHEMA

    session = folded.sparkSession
    cur = read_state(session, path, STATE_SCHEMA)
    merged = session.sql(kv_state_merge_sql("{cur}", "{folded}"), cur=cur, folded=folded)
    _swap_dir(merged, path)


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
    from distributed_computing_spark.streaming.kv_stream import HW_SCHEMA

    session = advances.sparkSession
    cur = read_state(session, path, HW_SCHEMA)
    merged = session.sql(high_water_merge_sql("{cur}", "{adv}"), cur=cur, adv=advances)
    _swap_dir(merged, path)


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
