"""r12 pagerank A/B (VERDICT r11 #6): the r11 rejections addressed the
message JOIN (repartition-before-cache, partitioned contribution cache
keyed on src); this probes the message AGGREGATION — a DST-partitioned
cached contribution relation joined against a BROADCAST rank state, so
the per-round groupBy(dst) inherits the cached partitioning and the
E-sized aggregation exchange disappears. The price is a V-sized
broadcast per round (18.6 M rows ≈ 300 MB at sf10), which is why this
can only win where E >> V and executor count is modest — measured
either way, per VERDICT's "evidence either way".

Usage: python tools/prof_pagerank3.py <sf_dir> [iterations] [reps] [variants]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from titan_spark.session import get_spark  # noqa: E402
from titan_spark.compute.checkpointing import cut_lineage  # noqa: E402


def run_head(spark, sf_dir, iterations):
    from titan_spark.plans.catalog import graph
    from titan_spark.compute import pagerank

    t0 = time.monotonic()
    g = graph(spark, sf_dir)
    pr = pagerank(g, alpha=0.85, iterations=iterations)
    n = pr.count()
    print(f"  [head] TOTAL: {time.monotonic() - t0:.2f}s n={n}", flush=True)
    return pr


def run_dstpart(spark, sf_dir, iterations):
    from titan_spark.plans.catalog import graph

    t0 = time.monotonic()
    g = graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_e = e.join(outdeg, "src").repartition(F.col("dst")).cache()
    n_e = contrib_e.count()
    n = g.num_vertices()
    ranks = g.vertices.select("id").withColumn("pagerank", F.lit(1.0 / n))
    ranks = cut_lineage(ranks, eager=True)
    base = (1.0 - 0.85) / n
    t1 = time.monotonic()
    print(f"  [dstpart] build: {t1 - t0:.2f}s edges={n_e}", flush=True)
    for i in range(iterations):
        tr = time.monotonic()
        st = F.broadcast(ranks.withColumnRenamed("id", "src"))
        msgs = (
            contrib_e.join(st, "src")
            .select("dst", (F.col("pagerank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = (
            ranks.select("id")
            .join(msgs.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                (F.lit(base) + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                    "pagerank"
                ),
            )
        )
        ranks = cut_lineage(new_ranks, eager=True)
        print(f"  [dstpart] iter {i}: {time.monotonic() - tr:.2f}s", flush=True)
    n_out = ranks.count()
    contrib_e.unpersist()
    print(f"  [dstpart] TOTAL: {time.monotonic() - t0:.2f}s n={n_out}", flush=True)
    return ranks


if __name__ == "__main__":
    sf_dir = sys.argv[1]
    iterations = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    variants = sys.argv[4].split(",") if len(sys.argv) > 4 else ["head", "dstpart"]
    spark = get_spark()
    spark.sparkContext.setJobDescription("prof_pagerank3")
    outs = {}
    for rep in range(reps):
        print(f"--- rep {rep} ({sf_dir}) ---", flush=True)
        for v in variants:
            if v == "head":
                outs["head"] = run_head(spark, sf_dir, iterations)
            elif v == "dstpart":
                outs["dstpart"] = run_dstpart(spark, sf_dir, iterations)
        if rep == 0 and len(outs) == 2:
            a = outs["head"].select("id", F.round("pagerank", 9).alias("p"))
            b = outs["dstpart"].select("id", F.round("pagerank", 9).alias("p"))
            miss = a.exceptAll(b).count() + b.exceptAll(a).count()
            print(f"  CHECK dstpart vs head (9dp): mismatches={miss}", flush=True)
