"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin).

The candidate stage must have recall 1.0 at the threshold — verified
by comparing the full prefix-filter + verify pipeline against the
naive all-pairs Jaccard on a corpus with known near-dups.
"""

import pytest
from pyspark.sql import functions as F

from titan_spark.pipeline.dedup import (
    jaccard_pairs,
    prefix_filter_candidates,
    shingles,
)


def _brute_force(spark, docs, t):
    ids = docs.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    j = jaccard_pairs(docs, pairs)
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in j.filter(F.col("jaccard") >= t).collect()
    }


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(30):
        rows.append((i, base + f" extra token {i % 3}"))  # 3 near-dup groups
    rows.append((100, "completely different text with no overlap whatsoever here"))
    rows.append((101, "completely different text with no overlap whatsoever here"))
    rows.append((102, "short doc"))
    rows.append((103, "another unrelated document body mentioning graphs and spark"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_equals_all_pairs(spark):
    docs = _corpus(spark)
    for t in (0.5, 0.8):
        cands = prefix_filter_candidates(docs, threshold=t)
        got = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in jaccard_pairs(docs, cands)
            .filter(F.col("jaccard") >= t)
            .collect()
        }
        assert got == _brute_force(spark, docs, t)
        assert got  # the corpus really contains qualifying pairs


def test_prefix_filter_shares_shingle_table(spark):
    # the precomputed-shingle path must give identical candidates
    docs = _corpus(spark)
    sh = docs.select(
        F.col("doc_id").alias("_id"), shingles(F.col("text"), 3).alias("_sh")
    ).withColumn("_sz", F.size("_sh"))
    a = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_candidates(docs, threshold=0.5).collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_candidates(
            docs, threshold=0.5, shingle_df=sh
        ).collect()
    }
    assert a == b


def test_simhash_dup_pairs_equals_brute_force(spark):
    # pigeonhole banding must find EVERY pair within the hamming radius
    from itertools import combinations

    from titan_spark.pipeline.dedup import simhash, simhash_dup_pairs

    docs = _corpus(spark)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dup_pairs(docs, max_hamming=3).collect()
    }
    assert got == want
    assert want  # corpus contains in-radius pairs


def test_jaccard_pairs_broadcast_and_shuffle_arms_agree(spark):
    # the verify join picks broadcast vs shuffle by a byte budget;
    # both arms must produce identical jaccard values
    docs = _corpus(spark)
    cands = prefix_filter_candidates(docs, threshold=0.5)
    bc = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(
            docs, cands, broadcast_budget_mb=1e9
        ).collect()
    }
    sh = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, cands, broadcast_budget_mb=0).collect()
    }
    assert bc == sh
    assert bc  # non-empty: the corpus has qualifying pairs


def _jaccard_rows(docs, cands, **kw):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, cands, **kw).collect()
    }


def test_jaccard_pairs_malformed_budget_conf_falls_back(spark):
    # a budget conf that is not a number of MB warns and uses the
    # default budget instead of failing the verify join
    docs = _corpus(spark)
    cands = prefix_filter_candidates(docs, threshold=0.5)
    want = _jaccard_rows(docs, cands)
    key = "spark.titan.verifyBroadcastMb"
    for bad in ("512m", "auto"):
        spark.conf.set(key, bad)
        try:
            with pytest.warns(RuntimeWarning, match="not a number"):
                got = _jaccard_rows(docs, cands)
        finally:
            spark.conf.unset(key)
        assert got == want
    assert want


def test_jaccard_pairs_zero_budget_takes_shuffle_arm(spark):
    # budget <= 0 is the shuffle arm, even for an empty shingle side
    # (estimate 0 MB); a positive budget keeps the broadcast arm
    from titan_spark.pipeline.dedup import verify_broadcast_fits

    assert not verify_broadcast_fits(spark, 0.0, 0)
    assert not verify_broadcast_fits(spark, 0.0, -1)
    assert verify_broadcast_fits(spark, 0.0, 1)
    assert verify_broadcast_fits(spark, 0.0)  # default budget

    def plan(docs, cands, budget):
        j = jaccard_pairs(docs, cands, broadcast_budget_mb=budget)
        return j._jdf.queryExecution().optimizedPlan().toString()

    docs = _corpus(spark)
    none = spark.createDataFrame([], "id_a long, id_b long")
    assert "strategy=broadcast" not in plan(docs, none, 0)
    assert "strategy=broadcast" in plan(docs, none, 1e9)
