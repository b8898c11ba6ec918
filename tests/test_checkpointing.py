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
    # pagerank runs on Fixpoint and shortest_distance on Frontier: both
    # read each round's count from an Observation of a reliable cut
    from titan_spark.compute.algorithms import pagerank, shortest_distance

    runs = {
        "pagerank": lambda: pagerank(gods, iterations=3),
        "distance": lambda: shortest_distance(gods, 1, direction="both"),
    }
    for name, run in runs.items():
        base = {r[0]: r[1] for r in run().collect()}
        _set_reliable(spark, str(tmp_path / name))
        try:
            reliable = {r[0]: r[1] for r in run().collect()}
        finally:
            _clear_reliable(spark)
        assert len(base) > 1, name
        assert base.keys() == reliable.keys(), name
        for k in base:
            assert abs(base[k] - reliable[k]) < 1e-12, name


def _size(df):
    return df._jdf.queryExecution().logical().stats().sizeInBytes()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cut_lineage_clamps_a_multiplied_estimate(spark, tmp_path):
    # the size-only join estimator multiplies child sizes: five chained
    # equi-joins of spark.range(10_000) carry an estimate far above
    # Long.MaxValue, and a cut must not pass it on to the next round
    from titan_spark.compute.checkpointing import cut_lineage

    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    df = spark.range(10_000)
    for _ in range(5):
        df = df.join(spark.range(10_000), "id")
    assert _size(df).bit_length() > 90
    want = _rows(df)
    parts = df.localCheckpoint().rdd.getNumPartitions()

    local = cut_lineage(df)
    assert _size(local) == default
    assert _rows(local) == want
    assert local.rdd.getNumPartitions() == parts

    _set_reliable(spark, str(tmp_path / "ck"))
    try:
        reliable = cut_lineage(df)
        assert _size(reliable) == default
        assert _rows(reliable) == want
        assert reliable.rdd.getNumPartitions() == parts
    finally:
        _clear_reliable(spark)


def test_cut_lineage_keeps_an_in_range_estimate(spark):
    from titan_spark.compute.checkpointing import cut_lineage

    df = spark.range(1_000).withColumn("x", F.col("id") * 2)
    cut = cut_lineage(df)
    assert _size(cut) == _size(df.localCheckpoint()) < 1_000_000
    assert _rows(cut) == _rows(df)


def test_cut_lineage_disk_keeps_blocks_out_of_memory(spark):
    from titan_spark.compute.checkpointing import cut_lineage

    cut = cut_lineage(spark.range(10_000).withColumn("x", F.col("id") * 2), disk=True)
    rdd_id = cut._jdf.queryExecution().logical().rdd().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    (info,) = [i for i in infos if i.id() == rdd_id]
    assert info.memSize() == 0
    assert info.diskSize() > 0
    assert cut.count() == 10_000
