"""One-off stage profiler for semantic_dedup at a given SF dir.

Times the four stages separately: LSH signature build, candidate
self-join + pair dedup, exact-cosine verify, connected components —
so a scale bottleneck can be located instead of guessed at.
Usage: python tools/prof_semdedup.py <sf_dir>
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    sf_dir = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    from titan_spark.pipeline.similarity import (
        _det_planes,
        _dot,
        _lsh_candidates,
        _norm,
        _resolve_planes,
    )
    from titan_spark.pipeline.dedup import dedup_clusters
    from titan_spark.compute.checkpointing import cut_lineage

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    threshold = 0.35
    t0 = time.time()
    n_planes = _resolve_planes(df.count(), None)
    print("resolve_planes:", round(time.time() - t0, 1), "n_planes:", n_planes)

    t0 = time.time()
    cand = cut_lineage(
        _lsh_candidates(df, 8, n_planes, "embedding", "vec_id"), eager=True
    )
    print("candidates:", round(time.time() - t0, 1), "n_cand:", cand.count())

    t0 = time.time()
    va = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("_na"),
    )
    vb = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("_nb"),
    )
    pairs = cut_lineage(
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_dot("va", "vb") / (F.col("_na") * F.col("_nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b"),
        eager=True,
    )
    print("verify:", round(time.time() - t0, 1), "n_pairs:", pairs.count())

    t0 = time.time()
    out = dedup_clusters(pairs, out_id="vec_id")
    n = out.count()
    print("cc:", round(time.time() - t0, 1), "rows:", n)


if __name__ == "__main__":
    main()
