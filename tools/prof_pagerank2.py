"""A/B pagerank at scale: contrib_e cached as-is (HEAD) vs cached
pre-partitioned (+sorted) on src.

At sf0.1/sf1 the per-round message join broadcasts the vertex state,
so pre-partitioning only adds a build-time Exchange (measured -4% at
sf1, rejected). At sf10 the state (~18.6M rows, ~300 MB) exceeds the
broadcast threshold, so the join falls back to sort-merge and
re-shuffles + re-sorts all 137 M cached contribution edges EVERY
round — this harness measures whether a partitioned+sorted cache
removes that.

Usage: SPARK_GRAFT_SF_DIR=data/sf10 python tools/prof_pagerank2.py [reps] [variants]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from titan_spark.compute.checkpointing import cut_lineage
from titan_spark.plans.catalog import graph
from titan_spark.session import get_spark


def run(spark, g, mode: str, iterations: int = 3, alpha: float = 0.85):
    t0 = time.perf_counter()
    e = g.edges.select("src", "dst")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_e = e.join(outdeg, "src")
    if mode == "part":
        contrib_e = contrib_e.repartition("src").sortWithinPartitions("src")
    contrib_e = contrib_e.cache()
    n_e = contrib_e.count()
    t1 = time.perf_counter()
    print(f"  [{mode}] contrib build: {t1 - t0:.2f}s n={n_e}", flush=True)

    n = g.num_vertices()
    state = g.vertices.select("id").withColumn("pagerank", F.lit(1.0 / n))
    base = (1.0 - alpha) / n
    for i in range(iterations):
        tr = time.perf_counter()
        msgs = (
            contrib_e.join(state, contrib_e["src"] == state["id"])
            .select(F.col("dst").alias("id"), (F.col("pagerank") / F.col("outdeg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        state = (
            state.drop("pagerank")
            .join(msgs, "id", "left")
            .select(
                "id",
                (F.lit(base) + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))).alias("pagerank"),
            )
        )
        state = cut_lineage(state, eager=True)
        print(f"  [{mode}] round {i}: {time.perf_counter() - tr:.2f}s", flush=True)
    tr = time.perf_counter()
    out = cut_lineage(state, eager=True)
    nv = out.count()
    print(f"  [{mode}] final: {time.perf_counter() - tr:.2f}s n={nv} TOTAL {time.perf_counter() - t0:.2f}s", flush=True)
    contrib_e.unpersist(blocking=False)
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    variants = sys.argv[2].split(",") if len(sys.argv) > 2 else ["base", "part"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("prof_pagerank2")
    g = graph(spark, sf_dir)
    g.num_vertices(), g.num_edges()  # warm the scans
    for r in range(reps):
        print(f"--- rep {r} ---", flush=True)
        for mode in variants:
            run(spark, g, mode)


if __name__ == "__main__":
    main()
