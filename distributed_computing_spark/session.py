"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
config here is chosen for the 1000-executor / 100 TB posture:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch) so the same declarative plans survive a
  100x scale-up without re-tuning ``spark.sql.shuffle.partitions``.
- Arrow on, so the few unavoidable Python paths (pandas UDFs for
  MinHash / multimodal decode) move columnar batches, not pickled rows.
- Broadcast threshold sized so TPC-H-style dimension tables
  (region/nation/supplier/part at any sane SF) broadcast instead of
  shuffling the fact table.
- Python workers fork from ``distributed_computing_spark.pyworker``, which
  is pyspark's own daemon with one patch: pyspark invalidates import
  caches before every task, and on CPython 3.10/3.11 that makes each
  ``zipimporter`` eagerly re-read its whole archive (about 16 importers
  into ``pyspark.zip`` per worker, most of a small task's CPU). The patch
  re-reads only an archive whose size or mtime changed. It is safe in
  local mode: the daemon runs on the driver's host with the package on
  its ``PYTHONPATH`` (set below), a new py-file gets a new importer, and
  a rewritten archive changes its signature, so it is still re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# the directory holding the package: Python workers import it from here
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "distributed-computing-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    # local[N, R]: R task attempts, like a cluster's spark.task.maxFailures
    # (default local mode gives tasks a single attempt — no retry). The
    # reference re-issues failed tasks to the next worker
    # (mapreduce/schedule.go:27-34); Spark's retry is the same capability
    # and tests/test_fault_tolerance.py exercises it.
    retries = int(os.environ.get("SPARK_GRAFT_TASK_RETRIES", "3"))
    builder = (
        SparkSession.builder.master(f"local[{cpus},{retries}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables broadcast; fact-fact joins shuffle. 64 MB covers
        # region/nation/customer/supplier/part well past sf1.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle/spill compression codec. Default lz4 optimizes CPU; the
        # disk-bound dedup tiers (pair-expansion shuffle > free disk on
        # this box at 75×+) need zstd's ~35% better ratio — a knob a real
        # deployment sets per workload (SPARK_GRAFT_CODEC=zstd).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_CODEC", "lz4"),
        )
        # AQE sizes post-shuffle relations from COMPRESSED bytes; with
        # zstd a >1 GB pair table can deflate under the broadcast
        # threshold and the resulting broadcast collect trips the 1g
        # default maxResultSize (observed at the 75× dedup tier). Big
        # offline runs raise this alongside the driver heap.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        .config("spark.ui.enabled", "false")
        # Python workers (pandas UDFs) unpickle the package's functions
        # by module name, so they need the package on their path whatever
        # the cwd. Local-mode workers merge this with the process
        # PYTHONPATH; on a cluster, ship the package with --py-files.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.daemon.module", "distributed_computing_spark.pyworker")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
