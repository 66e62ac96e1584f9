"""Replica-generation contracts (tools/crossover.ensure_scaled): the
recorded crossover tiers are only as good as the replicas they ran on,
so the generator's invariants — unique remapped keys, deterministic
perturbation, subset-dir isolation — are pinned here on tiny R."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def em_replica(spark, tmp_path_factory):
    import tools.crossover as xo

    root = tmp_path_factory.mktemp("scalecache")
    orig = None
    import os

    orig = os.environ.get("SPARK_GRAFT_CROSSOVER_DIR")
    os.environ["SPARK_GRAFT_CROSSOVER_DIR"] = str(root)
    try:
        dest = xo.ensure_scaled(spark, SF_DIR, 3, facts=("embeddings",))
        yield dest
    finally:
        if orig is None:
            os.environ.pop("SPARK_GRAFT_CROSSOVER_DIR", None)
        else:
            os.environ["SPARK_GRAFT_CROSSOVER_DIR"] = orig
        shutil.rmtree(root, ignore_errors=True)


def test_embeddings_replica_ids_unique_and_sized(spark, em_replica):
    from distributed_computing_spark.sources.catalog import load_table

    src = load_table(spark, SF_DIR, "embeddings")
    rep = load_table(spark, em_replica, "embeddings")
    n_src, n_rep = src.count(), rep.count()
    assert n_rep == 3 * n_src
    assert rep.select("vec_id").distinct().count() == n_rep


def test_embeddings_replica_perturbation_bounded_and_distinct(
    spark, em_replica
):
    """Replicas of one source vector must be DISTINCT points (else a
    kmeans tier times degenerate duplicates) but stay within the
    documented |delta| <= 4.98e-3 of the source components."""
    from distributed_computing_spark.sources.catalog import load_table

    src = load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("e0")
    )
    rep = load_table(spark, em_replica, "embeddings")
    j = rep.join(
        src, F.expr("vec_id div 3") == F.col("src_id")
    ).select(
        F.expr(
            "aggregate(zip_with(embedding, e0, (a, b) -> abs(a - b)), "
            "cast(0 as double), (acc, x) -> greatest(acc, x))"
        ).alias("max_delta")
    )
    row = j.agg(F.max("max_delta").alias("m")).first()
    assert row["m"] <= 4.99e-3
    # the three replicas of source vector 0 are pairwise distinct
    trio = rep.where(F.expr("vec_id div 3") == 0).select("embedding").collect()
    vecs = [tuple(r["embedding"]) for r in trio]
    assert len(set(vecs)) == 3


def test_subset_replica_dir_is_isolated(em_replica):
    assert em_replica.endswith("_em")
    import os

    # the subset replica contains embeddings but not the heavy facts
    assert os.path.exists(f"{em_replica}/embeddings.parquet")
    assert not os.path.exists(f"{em_replica}/lineitem.parquet")


def test_pklineitem_and_lineitem_refused_together(spark):
    """Both facts write {dest}/lineitem.parquet, so asking for both
    would let one replica silently clobber the other."""
    import tools.crossover as xo

    with pytest.raises(ValueError, match="pklineitem"):
        xo.ensure_scaled(spark, SF_DIR, 2, facts=("lineitem", "pklineitem"))
