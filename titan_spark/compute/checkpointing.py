"""Lineage-cut policy for iterative loops.

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
(olap/computer/FulgoraGraphComputer.java:142-211).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import warnings

from pyspark.sql import DataFrame

# How many CHAINED lineage cuts may elapse before a storage-layer spill.
# Measured pathology (r5, Spark 4.1, reproduced on a 200-row fixture):
# an iterative loop whose round references the previous checkpointed
# state twice (min-label CC: state + the pointer-jump self-view) shows
# per-round wall cost DOUBLING from ~the 17th chained round (0.4 s →
# 0.6, 1.0, 2.2, 4.8, 15.7, 32.9, 104.6 s ...) even though the optimized
# plan, the RDD debug string, row counts, partition counts, and driver
# heap all stay flat. ROOT CAUSE identified r10: localCheckpoint (and
# checkpoint) PRESERVE the plan's Catalyst sizeInBytes statistic, and
# the size-only join estimator MULTIPLIES child sizes — so a round
# with J join references to carried state multiplies the carried
# stat's BIT LENGTH by ~J, i.e. the stat's cost (BigInteger
# multiplies inside every stats query: broadcast decisions,
# InjectRuntimeFilter, ...) grows exponentially in rounds. Measured
# in the CC loop: 127 → 392 → 1829 → 8359 bits over four rounds
# (~4.6×/round); by round 9 the stat is tens of megabits and the
# driver burns seconds per planning pass. A parquet write+read resets
# the stat to the real file size. Period tuning on a 3000-vertex
# path-graph CC (13 rounds, min of reps): period 10 → 34.7 s,
# 5 → 18.1 s, 4 → 16.5 s, 3 → 20.4 s (spill I/O overtakes the saved
# BigInteger work below 4). 5 keeps the pre-spill stat ≤ ~40 kbits
# (negligible multiply cost) with one fewer spill than 4 for typical
# round counts; loops with MANY joins per round (Borůvka's ~10) still
# pass spill_period=1 explicitly.
SPILL_PERIOD = 5

_spill_ids = itertools.count()
_local_spill_root: str | None = None


def _spill_path(spark) -> str:
    """A fresh directory for one lineage spill: under the session's
    reliable checkpoint dir when configured (shared FS on a cluster),
    else a driver-local tempdir (correct on local[*], where executors
    share the driver's filesystem). Files live until session exit —
    a later plan may still lazily read an earlier spill, so eager
    deletion would be a use-after-free; the atexit hook (local) or the
    checkpoint-dir lifecycle (cluster) reclaims them."""
    global _local_spill_root
    n = next(_spill_ids)
    ckdir = spark.sparkContext.getCheckpointDir()
    if ckdir is not None:
        return ckdir.rstrip("/") + f"/titan-spill-{n}"
    if _local_spill_root is None:
        _local_spill_root = tempfile.mkdtemp(prefix="titan-spark-spill-")
        atexit.register(shutil.rmtree, _local_spill_root, ignore_errors=True)
    return os.path.join(_local_spill_root, str(n))


def cut_lineage(
    df: DataFrame,
    eager: bool = True,
    round_idx: int | None = None,
    spill_period: int = SPILL_PERIOD,
) -> DataFrame:
    """Truncate ``df``'s lineage, reliably when the session allows it.

    Iterative loops pass their ``round_idx`` so every ``spill_period``-th
    cut routes through parquet write+read, resetting the chained-cut
    depth that otherwise decays exponentially past ~17 rounds (see
    SPILL_PERIOD). One-shot cuts (no ``round_idx``) never spill.

    A second, sneakier reason to spill: ``localCheckpoint`` (and
    ``checkpoint``) PRESERVE the plan's Catalyst sizeInBytes statistic
    across the cut, and the size-only join estimator multiplies child
    sizes (cartesian worst case). A loop whose cross-round state plan
    contains J joins therefore multiplies its carried stat's BIT LENGTH
    by ~J every round — minimum_spanning_forest (J≈10 per round)
    measured 385 → 8052 bits in one round and had the driver spending
    minutes in BigInteger multiplies inside stats estimation by round
    5. A parquet round-trip resets the stat to the real file size.
    Loops with many joins per round must spill their cross-round
    carrier every round (``spill_period=1``); loops with few joins are
    bounded by the default ``SPILL_PERIOD`` spill.

    Loops whose per-round state is EDGE-SET-sized (k-core / k-truss
    peels hold the whole surviving edge relation, not a row per vertex)
    also pass ``spill_period=1``: localCheckpoint blocks from prior rounds
    are only reclaimed lazily by the context cleaner, so a big state
    checkpointed every round stacks multiple copies in executor memory;
    the parquet spill keeps each round's state on disk instead.
    """
    if round_idx is not None and (round_idx + 1) % spill_period == 0:
        try:
            path = _spill_path(df.sparkSession)
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)
        except Exception as exc:  # e.g. a NullType column parquet rejects
            warnings.warn(
                f"lineage spill fell back to localCheckpoint ({exc}); "
                "loops beyond ~17 rounds may slow down",
                RuntimeWarning,
            )
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
