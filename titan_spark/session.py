"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (local[32],
single JVM); the same settings (AQE, adaptive coalescing, skew join,
arrow) are what we would ship on a real cluster — only master and
memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "titan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on so runtime statistics re-plan joins (broadcast
    conversion, skew-join splitting, partition coalescing) — at 100 TB
    these matter more than any static tuning we could do here.

    ``checkpoint_dir`` (or ``$TITAN_SPARK_CHECKPOINT_DIR``): reliable
    checkpoint location (HDFS/S3 on a cluster). When set, every
    iterative lineage cut (Pregel rounds, repeat_until, LSH stage
    materializations) upgrades from executor-local ``localCheckpoint``
    to a reliable ``checkpoint`` that survives executor loss — see
    compute/checkpointing.cut_lineage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # keep on: the iterative operators in compute/ rely on it to size
        # each round's shuffle to the round's data
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver == the only executor: 32 concurrent tasks
        # share this heap, so size it for the thread count (~0.5g/thread
        # + driver overhead). 8g was measured too tight for the full
        # bench suite at sf1 (task-page allocation failures, GC-locker
        # thrash); the box has 128 GiB.
        .config("spark.driver.memory", os.environ.get("TITAN_SPARK_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkpoint_dir = checkpoint_dir or os.environ.get("TITAN_SPARK_CHECKPOINT_DIR")
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark


def local_relation(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-side ``rows`` as an Arrow-built local relation.

    ``createDataFrame`` of a Python list plans as a ``LogicalRDD`` of
    ``Long.MaxValue`` bytes that runs Python tasks on every action, so no
    join against it can broadcast. An Arrow table plans as a
    ``LocalRelation`` of its real size (32 B for one row of three
    longs). ``schema`` is a DDL string or a ``StructType``; ``rows`` may
    be empty.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    )
