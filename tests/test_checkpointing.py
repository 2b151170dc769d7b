"""Reliable-checkpoint mode for iterative loops (cluster-safe lineage
cuts — executor-local blocks don't survive executor loss)."""

import os

from pyspark.sql import functions as F


def _set_reliable(spark, path):
    spark.sparkContext.setCheckpointDir(path)


def _clear_reliable(spark):
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.empty())


def test_cut_lineage_modes(spark, tmp_path):
    from titan_spark.compute.checkpointing import cut_lineage

    df = spark.range(100).withColumn("x", F.col("id") * 2)
    # local mode: no checkpoint dir configured
    assert spark.sparkContext.getCheckpointDir() is None
    local = cut_lineage(df)
    assert local.count() == 100

    ckdir = str(tmp_path / "ck")
    _set_reliable(spark, ckdir)
    try:
        reliable = cut_lineage(df)
        assert reliable.count() == 100
        # a reliable checkpoint writes RDD files under the dir
        written = [
            f for root, _, fs in os.walk(ckdir) for f in fs if f.startswith("part-")
        ]
        assert written, "reliable mode produced no checkpoint files"
    finally:
        _clear_reliable(spark)
    assert spark.sparkContext.getCheckpointDir() is None


def test_pagerank_matches_under_reliable_checkpointing(gods, spark, tmp_path):
    from titan_spark.compute.algorithms import pagerank

    base = {
        r["id"]: r["pagerank"] for r in pagerank(gods, iterations=3).collect()
    }
    _set_reliable(spark, str(tmp_path / "ck2"))
    try:
        reliable = {
            r["id"]: r["pagerank"] for r in pagerank(gods, iterations=3).collect()
        }
    finally:
        _clear_reliable(spark)
    assert base.keys() == reliable.keys()
    for k in base:
        assert abs(base[k] - reliable[k]) < 1e-12


def test_cached_small_aggregate_is_coalesced(spark):
    # iterative loops cache() their edge relations and rely on AQE to
    # shrink the session's shuffle partitions to the data; a cached
    # plan keeps the session count unless the session lets AQE change
    # a cached plan's output partitioning
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    agg = spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count().cache()
    try:
        assert agg.count() == 3
        assert agg.rdd.getNumPartitions() < 8
    finally:
        agg.unpersist()
