"""Lineage cuts for iterative loops: one cut per round, with a bounded size,
and the round's row count taken on the cut's own job.

Iterated plans (Pregel rounds, repeat_until frontiers, LSH self-join
inputs) must truncate lineage or the plan tree grows without bound.
``localCheckpoint`` stores blocks on executors — fast, but lost with an
executor in cluster mode, which kills a long PageRank run. When the
session has a reliable checkpoint directory configured
(``spark.sparkContext.setCheckpointDir(...)`` — HDFS/S3 on a cluster),
every lineage cut upgrades to a reliable ``checkpoint()`` that survives
executor loss; otherwise the executor-local fast path is used (the
right default on local[*], where executor loss means JVM death anyway).

Reference parity: Titan's FulgoraGraphComputer persists BSP state per
superstep into the backend for exactly this recoverability
(olap/computer/FulgoraGraphComputer.java:142-211), and GraphX cuts
lineage the same way: one mechanism per round.

Why the cut clamps its size. ``localCheckpoint`` and ``checkpoint``
keep the plan's Catalyst ``sizeInBytes`` on the ``LogicalRDD`` they
return, and the size-only join estimator MULTIPLIES child sizes. A
round whose plan references the carried state J times multiplies the
statistic's bit length by about J, so every stats query (broadcast
choice, runtime filters, ...) does BigInteger work that grows
exponentially in rounds. On a min-label loop with a pointer jump over
3,000 vertices (two joins of the carried state per round; 4 cores,
local[4], 1 GiB driver) the carried statistic went 45 → 103 → 220 →
… → 479,267 bits by round 14, and 22 rounds did not finish in 600 s.
``cut_lineage`` therefore rebuilds a cut whose estimate is above the
session's ``spark.sql.defaultSizeInBytes`` with no carried statistic,
so Spark reports that default — its own value for a relation of
unknown size (``Long.MaxValue`` unless set). The statistic then stays
at 63 bits every round: 14 rounds took 20.0 s and 22 rounds 29.0 s,
against 24.5 s and 30.6 s for the periodic parquet spill this replaces
(its spill rounds cost 2.4–2.8 s against 0.6–0.9 s for a plain one).
In-range estimates pass through untouched, so no broadcast or join
choice that uses them changes.

Why not the real size (observed rows × row width): measured on the same
probe, a cut that carried it stayed at 17 bits but ran 14 rounds in
29.3–37.2 s. The row count itself cost about 1 s; the rest was lost in
the plans the small size selects.

Why a round counts on its cut. A loop round needs its row count (an
empty frontier, no label that moved) as well as its cut, and
``df.count()`` on a lazy cut runs a job of its own. :func:`counted_cut`
cuts eagerly and reduces the count in an ``Observation`` during the
cut's own job, as Fulgora reduces its ``Memory`` counters during the
round's scan (``FulgoraGraphComputer.java:179-189``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _clamp_size(cut: DataFrame) -> DataFrame:
    """``cut`` with its ``LogicalRDD`` rebuilt without a carried
    statistic when that statistic exceeds ``defaultSizeInBytes``.

    Partitioning, ordering and constraints are kept. ``None`` is passed
    for the statistic because py4j turns a Scala ``BigInt`` into a
    Python int, so no ``Statistics`` can be built from Python. py4j
    raises if the JVM call shape changed (the cut is no longer a
    ``LogicalRDD``, or ``apply`` has another signature); nothing falls
    back to keeping the size.
    """
    spark = cut.sparkSession
    jspark = spark._jsparkSession
    plan = cut._jdf.queryExecution().logical()
    default = jspark.sessionState().conf().defaultSizeInBytes()
    try:
        if plan.stats().sizeInBytes() <= default:
            return cut
    except ValueError:
        pass  # too many digits for py4j's int conversion: over the default
    jvm = spark._jvm
    module = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    rebuilt = module.apply(
        plan.output(),
        plan.rdd(),
        plan.outputPartitioning(),
        plan.outputOrdering(),
        plan.isStreaming(),
        plan.stream(),
        jspark,
        jvm.scala.Option.empty(),
        jvm.scala.Some(plan.constraints()),
    )
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, rebuilt), spark)


def cut_lineage(df: DataFrame, eager: bool = True, disk: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage, reliably when the session allows it,
    with its size estimate clamped to ``defaultSizeInBytes`` (see the
    module docstring).

    ``disk=True`` keeps a local cut's blocks out of executor memory
    (``StorageLevel.DISK_ONLY``). Loops whose per-round state is
    edge-set-sized use it: earlier rounds' blocks are only reclaimed
    lazily by the context cleaner, so a big state cut every round would
    otherwise stack several copies in memory. A reliable ``checkpoint()``
    is on disk already.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        cut = df.checkpoint(eager=eager)
    elif disk:
        cut = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    else:
        cut = df.localCheckpoint(eager=eager)
    return _clamp_size(cut)


def counted_cut(
    df: DataFrame, flag: Column | None = None, disk: bool = False
) -> tuple[DataFrame, int]:
    """An eager :func:`cut_lineage` of ``df`` and its row count, or the
    count of its rows where ``flag`` holds. The count is an
    ``Observation`` of the cut's own job, so it costs no job."""
    obs = Observation()
    n = F.count(F.lit(1)) if flag is None else F.count_if(flag)
    cut = cut_lineage(df.observe(obs, n.alias("n")), eager=True, disk=disk)
    return cut, obs.get["n"]
