"""distributed_computing_spark — a PySpark-native analytics engine.

Re-expresses the query / data-processing capabilities of the reference
``happyer/distributed-computing`` (a Go MapReduce + Raft + sharded-KV
course stack) as an idiomatic Spark DataFrame/SQL engine, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB corpus needs.

Design stance (see SURVEY.md §7): capabilities, not mechanisms.
Spark's driver/shuffle/task-retry/checkpointing subsume the reference's
Raft/labrpc fault-tolerance layers; everything here is a lazy DataFrame
transform so Catalyst optimizes end-to-end, and nothing collects
unbounded data to the driver.
"""

__version__ = "0.2.0"

from distributed_computing_spark.operators import (  # noqa: F401
    analytics,
    dedup,
    joins,
    kv,
    mapreduce,
    multimodal,
    sharding,
    similarity,
    textstats,
)
from distributed_computing_spark.session import get_spark  # noqa: F401
from distributed_computing_spark.sources.catalog import (  # noqa: F401
    TABLES,
    load_table,
    load_tables,
    register_views,
    table_rows,
)
