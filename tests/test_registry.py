"""Registry meta-contract: the driver-facing surface must stay
well-formed — every oracle references a registered query, every oracle
parses in DuckDB against the real table schemas, and the rows-only set
is exactly the documented engine-specific ops (no silent oracle loss).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb
import pytest

from distributed_computing_spark.registry import ORACLES, QUERIES
from distributed_computing_spark.sources.catalog import TABLES
from tests.conftest import SF_DIR

ROWS_ONLY = {
    "approx_distinct_users",
    "approx_percentiles",
    "frequent_items",
    "ivf_topk",
    "lsh_topk",
    "minhash_neardup",
    "minhash_incremental",
    "simhash_neardup",
    "multimodal_ann",
    "multimodal_audio",
    "multimodal_decode",
    "multimodal_features",
    "sample_by_lang",
    # round 7: footer profiler — static oracle SQL cannot carry the
    # runtime parquet path; its exact DuckDB parquet_metadata() twin is
    # test_layout.test_footer_profile_matches_duckdb_parquet_metadata
    "parquet_profile",
    # round 8: the compaction planner shares the same runtime-path
    # constraint; exact twin:
    # test_layout.test_compaction_plan_matches_duckdb_metadata_twin
    "compaction_plan",
    # round 9: dHash on ingest (stateless streaming Arrow map) — no SQL
    # decode; exact twin:
    # test_streaming.test_stream_dhash_ingest_equals_batch
    "stream_dhash_ingest",
    # image_dhash_neardup / video_dhash_neardup graduated OUT of this
    # set in round 10: the planted-blob generator is closed-form
    # integer algebra, so the oracle derives the expected hashes in SQL
    # (registry._dhash_core_cte) — the Spark side still decodes real
    # bytes.
    # bpe_merges / bpe_encode_stats graduated OUT of this set in round 4:
    # the 24-round merge loop unrolls into generated MATERIALIZED CTEs
    # (registry._bpe_merges_oracle_sql), so both are strictly gated now.
}


def test_every_oracle_has_a_query_and_vice_versa_documented():
    assert set(ORACLES) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY
    for name, fn in QUERIES.items():
        assert callable(fn), name
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_registry_matches_committed_snapshot():
    """The driver-facing surface, pinned: the first 50 names in the
    order ``__spark_entry__.queries()`` hands them to the driver's gate,
    the full name set, the sha256 of every oracle SQL string and the
    rows-only set. Positions 51+ are deliberately unpinned — everything
    past the gate window looks queries up by name. The fixture is
    regenerated, in the same change, by exactly three things: a rotation
    of ``registry._GATE_WINDOW``, an oracle edit, and adding, removing or
    renaming a query. Any other failure here is a broken contract."""
    import __spark_entry__ as e

    snap = json.loads(
        (Path(__file__).parent / "registry_snapshot.json").read_text()
    )
    names = list(e.queries())
    oracles = e.oracle_sql()
    assert names[:50] == snap["first_50"]
    assert sorted(names) == snap["names"]
    assert {
        k: hashlib.sha256(sql.encode()).hexdigest() for k, sql in oracles.items()
    } == snap["oracle_sha256"]
    assert sorted(set(names) - set(oracles)) == snap["rows_only"]


@pytest.mark.slow
def test_no_decimal_type_in_any_gated_output_schema(spark, sf_dir):
    """VERDICT r8 item 1: the round-8 driver bisect proved DECIMAL
    final columns value-hash differently in the driver environment
    than in both local engines (all-BIGINT traces green, the decimal
    aggregates the only reds across eight rounds). DECIMAL stays legal
    INTERNALLY (overflow-free sums under ANSI); a gated query's OUTPUT
    schema must be decimal-free — ship a provably-bounded BIGINT or
    the canonical digit string (the bigram_pmi / kmeans wss pattern).
    Builds every registry query at sf0.001 and walks its schema."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    from distributed_computing_spark.caching import release_tracked

    def has_decimal(dt):
        if isinstance(dt, DecimalType):
            return True
        if isinstance(dt, StructType):
            return any(has_decimal(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return has_decimal(dt.elementType)
        if isinstance(dt, MapType):
            return has_decimal(dt.keyType) or has_decimal(dt.valueType)
        return False

    offenders = []
    for name, fn in QUERIES.items():
        try:
            schema = fn(spark, sf_dir).schema
        finally:
            release_tracked()
        if has_decimal(schema):
            offenders.append((name, schema.simpleString()))
    assert not offenders, (
        "gated queries with DecimalType in their FINAL schema (cast to "
        f"a bounded BIGINT or a digit string): {offenders}"
    )


def test_no_hugeint_or_decimal_in_any_oracle_output_schema():
    """VERDICT r9 item 1 — the mirror of the Spark-side decimal sweep:
    DuckDB types ``sum(BIGINT)`` as HUGEINT and ``sum(DECIMAL)`` as a
    wider DECIMAL, and the driver value-hashes INT128/DECIMAL-
    represented integers differently from BIGINT (the round-8 bisect;
    round 9's only red row, large_volume_orders, was exactly this on
    the ORACLE side — rows+schema green, hash red, invisible to the
    local str() harness). DESCRIBE every oracle against the sf0.001
    views and reject HUGEINT/UHUGEINT/DECIMAL in any FINAL column."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    offenders = []
    for name, sql in ORACLES.items():
        desc = con.sql(f"DESCRIBE {sql}").fetchall()
        for col, coltype, *_ in desc:
            up = coltype.upper()
            if "HUGEINT" in up or "DECIMAL" in up:
                offenders.append((name, col, coltype))
    assert not offenders, (
        "oracles with HUGEINT/DECIMAL in their FINAL schema (cast the "
        f"aggregate to BIGINT or a digit string): {offenders}"
    )


def test_every_oracle_parses_in_duckdb():
    """EXPLAIN each oracle against the real parquet schemas — catches
    SQL drift without running the queries."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    for name, sql in ORACLES.items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover
            raise AssertionError(f"oracle {name} fails to plan: {exc}") from exc
