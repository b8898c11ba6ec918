"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON lines, each a complete,
progressively-enriched result — the LAST line is the authoritative one
(the driver's tail parse), and every earlier line is a valid prefix, so
an external timeout can never erase the suite numbers (VERDICT r10 #1:
the r10 driver bench was killed with zero output because nothing
flushed until every optional block finished). A wall-clock budget
(SPARK_GRAFT_BENCH_BUDGET_S) skips remaining optional blocks explicitly
instead of dying silently. ``--smoke`` runs every headline query once
at sf0.01 under a per-query ceiling (the guard that would have caught
the r10 node2vec regression before any full bench ran).

Headline set tracks BASELINE.md's workload shapes:
bulk element creation → graph build+count; indexed point lookups →
point_lookup; deep traversals → two_hop_revenue/three_hop_region;
full-scan OLAP → agg_pricing_summary/degree_part/topk_per_vertex;
plus the pipeline ops (text stats, LSH near-dup, cosine top-k).

Noise control (VERDICT r3 #5): the r3 report showed an across-the-board
~1.2-1.3× drift on untouched code paths — environment/JVM-load shift,
not plan regressions. To make environment drift separable from code
drift, the default mode runs the whole suite TWICE, each in a fresh JVM
(a subprocess with ``--single``), and reports per-query min-of-2 plus
both raw totals under ``runs`` so a reviewer can see the noise band.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "point_lookup",
    "batch_point_lookups",
    "scan_filter_order_limit",
    "hop_order_count",
    "two_hop_revenue",
    "three_hop_region",
    "semi_join_exists",
    "topk_per_vertex",
    "degree_part",
    "both_degree_nation",
    "agg_pricing_summary",
    "events_hourly",
    "text_contains",
    "token_stats",
    "doc_quality",
    "tfidf_top_terms",
    "hash_sample",
    "minhash_lsh_pairs",
    "cosine_topk",
    # iterative / bucketed paths (regressions here are scale regressions)
    "shortest_distance",
    "dedup_clusters",
    "repeat_emit_bfs",
    "embed_topk_pairs",
    # curation ops (round 3): repetition filters, decontamination,
    # semantic dedup — broadcast/bucketed plans, watch for scale creep
    "repetition_stats",
    "ngram_decontaminate",
    "semantic_dedup",
    # round 4: regex scrubbing + training-layout passes + clustering
    "pii_redact",
    "chunk_docs",
    "pack_windows",
    "kmeans_cells",
    "quantize_embeddings",
    "label_propagation",
    "weighted_distance",
    # round 5: supernode hop skew (AQE split proof at bench scale),
    # corpus line dedup, token-budget mixture sampling, graph
    # decompositions (peeling loops exercise the disk-only cuts),
    # seeded PageRank
    "skew_two_hop",
    "line_dedup",
    "mix_corpus",
    "k_core",
    "k_truss",
    "personalized_pagerank",
    # round 5 (cont.): corpus-LM perplexity scoring, embedding
    # statistics/compression (covariance pass, PQ encode), balanced
    # shard layout (distributed prefix sum over a hash order)
    "lm_perplexity",
    "embed_covariance",
    "pq_codes",
    "shard_layout",
    "closeness_centrality",
    "bpe_pair_counts",
    "ivfpq_ann",
    "cms_heavy_hitters",
    "weighted_sample",
    # round 5 (cont.): OLAP/semi-structured/temporal surface
    "json_props_agg",
    "rollup_revenue",
    "user_activity_stats",
    "asof_view_before_purchase",
    "range_join_clicks",
    "event_funnel",
    "cube_order_stats",
    # round 5 (cont.): centrality/structure family over the geography
    # graph — landmark harmonic, Luby MIS, DAG layering, sampled
    # Brandes betweenness (forward+backward BSP rounds)
    "harmonic_centrality",
    "mis_geo",
    "topo_levels",
    "betweenness",
    # round 6: generic local() scoping (per-origin window + reduce),
    # generic map steps, per-source quota cap
    "local_top3_sum",
    "map_nation_counts",
    "quota_by_source",
    "random_walk_corpus",
    # round 6 (cont.): Gopher rules, GNN feature smoothing,
    # bidirectional point query, link-prediction indices
    "gopher_rules",
    "feature_smooth",
    "point_distance",
    "link_prediction",
    "hits_scores",
    "assortativity",
    # round 7: global clustering coefficient, directed SCC + its
    # condensation DAG (fixed-size fixture — constant-time rows),
    # language/length quantiles, k-hop ego extraction, meta-property
    # stream filtering, PCA invariant check (full-corpus projection +
    # covariance + eigh under the hood)
    "transitivity",
    "scc_blocks",
    "condensation_dag",
    "lang_length_quantiles",
    "k_hop_ego",
    "prop_meta_filter",
    "pca_project",
    # round 7 (cont.): HLL distinct registers, JL random projection,
    # soft-dedup weighting (pair pipeline + CC + corpus join), double-
    # sweep BFS diameter, Louvain + modularity scoring
    "hll_users",
    "jl_project",
    "dedup_weights",
    "graph_diameter",
    "geo_modularity",
    "louvain_cliques",
    # round 8: windowed exact-substring dedup, per-hour grouped HLL
    # registers, DDSketch mergeable quantiles, computer-step traversal,
    # Bloom-filter decontamination (fixed-size probe side)
    "repeated_passages",
    "hll_hourly",
    "value_quantiles_sketch",
    "pagerank_traversal_top",
    "bloom_decontaminate",
    # round 9: hashed-n-gram NB quality classifier (train + calibrate +
    # score, bounded bucket space), DSIR importance resampling scores,
    # cross-doc boilerplate passage removal (winner-election transform)
    "quality_classifier",
    "dsir_select",
    "boilerplate_removal",
    "temperature_mix",
    # round 10: token-level ExactSubstr removal (overlapping windows +
    # interval-merged cuts), perceptual image near-dup (stdlib decode +
    # banded Hamming), bigram interpolated LM + CCNet per-language
    # bucketing, Borůvka MSF (log-round contraction), KMV theta-sketch
    # set intersection
    "exact_substring_dedup",
    "phash_dup_pairs",
    "bigram_perplexity",
    "ccnet_buckets",
    "minimum_spanning_tree",
    "kmv_user_days",
    "node2vec_corpus",
    # round 11: Kneser-Ney trigram LM, URL canonicalize+dedup and
    # per-domain quota (RefinedWeb front door), per-vertex local
    # clustering coefficient, cross-corpus 8-gram novelty (Lee 2022
    # memorization diagnostic), pair-wise containment decontamination
    # (GPT-3 App. C leakage rule)
    "kn_perplexity",
    "url_dedup_groups",
    "domain_quota",
    "local_clustering",
    "ngram_novelty",
    "eval_containment",
    "secrets_scan",
    # round 12 (VERDICT r11 #8): the two r11 rotations that fell out of
    # BOTH the driver slots and the bench regain bench coverage here
    # (additions only — nothing removed or renamed)
    "group_by_nation",
    "multimodal_features",
]


def run_suite() -> dict:
    from titan_spark.plans.catalog import QUERIES, graph, q_minhash_lsh_pairs
    from titan_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    spark = get_spark("titan_spark_bench")

    # bench times the production hash (xxhash64); the driver's
    # correctness gate runs the catalog default (portable, oracle-green)
    from titan_spark.plans.catalog import q_skew_two_hop

    from titan_spark.plans.catalog import q_pq_codes

    overrides = {
        "minhash_lsh_pairs": lambda sp, d: q_minhash_lsh_pairs(sp, d, hash_fn="xxhash64"),
        # bench the supernode hop at 10× the oracle fixture size
        "skew_two_hop": lambda sp, d: q_skew_two_hop(sp, d, n=1_000_000),
        # production Arrow encode kernel (oracle row pins the JVM fold)
        "pq_codes": lambda sp, d: q_pq_codes(sp, d, kernel="arrow"),
    }
    # bench the directed-graph family on an sf-SCALED fixture (VERDICT
    # r7 #9): the oracle rows pin 96 blocks (768 vertices — closed-form
    # ground truth), while the bench scales block count with sf so the
    # sf1/sf10 ratio rows measure the FW-BW peeling's data behavior
    # (round count is block-size-bound by construction, so the ratios
    # isolate per-round data volume, the quantity that matters at
    # 100 TB). r9 (VERDICT r8 #3): the r8 sizing (9.6k blocks/sf1)
    # still left per-round scheduler overhead dominant — scc_blocks
    # measured 0.7x at 10x the data, a noise reading. n_blocks is now
    # 96k·sf (sf0.1 → 9.6k blocks/76.8k V, sf1 → 96k/768k V, sf10 →
    # 960k blocks/7.68M V/9.2M E), putting the sf1→sf10 leg in the
    # data-dominated regime (warm-JVM probe: 9.9 s → 24.6 s → 78.3 s,
    # monotone) while round count stays block-size-bound (block=8).
    # The drift-vs-prev protocol excludes both queries via
    # fixture_changed this round.
    if sf_num:
        n_blocks = max(96, int(round(96_000 * sf_num)))

        def _scaled_scc(sp, d, _n=n_blocks):
            from titan_spark.compute import strongly_connected_components
            from titan_spark.sources.fixtures import block_cycle_digraph

            g = block_cycle_digraph(sp, n_blocks=_n, block=8)
            return strongly_connected_components(g).select("id", "component")

        def _scaled_condensation(sp, d, _n=n_blocks):
            from pyspark.sql import functions as F

            from titan_spark.compute import condensation
            from titan_spark.sources.fixtures import block_cycle_digraph

            g = block_cycle_digraph(sp, n_blocks=_n, block=8)
            c = condensation(g)
            out_deg = c.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("o")
            )
            in_deg = c.edges.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("i")
            )
            return (
                c.vertices.join(out_deg, "id", "left")
                .join(in_deg, "id", "left")
                .select(
                    "id",
                    "n_members",
                    F.coalesce("o", F.lit(0)).cast("long").alias("out_deg"),
                    F.coalesce("i", F.lit(0)).cast("long").alias("in_deg"),
                )
            )

        overrides["scc_blocks"] = _scaled_scc
        overrides["condensation_dag"] = _scaled_condensation

    timings: dict[str, float] = {}
    # "adaptive": one rep, plus a second (min taken) when the first is
    # < 5 s — matches the sf0.1 min-of-warm protocol for cheap queries
    # without doubling the expensive ones. Used by the sf1 scaling pass.
    reps_env = os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")
    adaptive = reps_env == "adaptive"
    reps = 1 if adaptive else int(reps_env)

    # subset restriction (used by the sf10 flagship pass)
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    headline = (
        [q for q in HEADLINE if q in set(only_env.split(","))]
        if only_env
        else HEADLINE
    )

    # bulk-load shape: build the graph view and materialize counts
    t0 = time.perf_counter()
    g = graph(spark, sf_dir)
    nv = g.num_vertices()
    ne = g.num_edges()
    timings["graph_build_count"] = round(time.perf_counter() - t0, 3)

    # fixture degree profile (VERDICT r10 #7): the geo subgraph's max
    # degree grows ~linearly with sf (81 → 681 → ~6.8k) — any operator
    # whose cost is super-linear in hub degree is exposed to exactly
    # this number, so print it next to every suite pass. Skipped for
    # subset passes (SPARK_GRAFT_BENCH_ONLY) to keep them lean.
    degree_profile = None
    if not only_env:
        from pyspark.sql import functions as F

        from titan_spark.plans.catalog import _geo_subgraph

        def _deg_stats(edges):
            und = (
                edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
                .unionByName(
                    edges.select(
                        F.col("dst").alias("u"), F.col("src").alias("v")
                    )
                )
                .filter(F.col("u") != F.col("v"))
                .dropDuplicates(["u", "v"])
            )
            row = (
                und.groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .agg(
                    F.max("d").alias("mx"),
                    F.percentile_approx("d", 0.99).alias("p99"),
                )
                .collect()[0]
            )
            return {"max": row["mx"], "p99": row["p99"]}

        degree_profile = {
            "full_graph": _deg_stats(g.edges),
            "geo_subgraph": _deg_stats(_geo_subgraph(spark, sf_dir).edges),
            "note": "undirected deduplicated adjacency (the shape walk/"
            "hop operators traverse); watch operators whose cost grows "
            "super-linearly in max degree — the geo hub degree scales "
            "~linearly with sf",
        }

    for name in headline:
        fn = overrides.get(name, QUERIES[name])
        runs = []
        for _ in range(reps):  # median-of-reps: robust to load spikes either way
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            _ = df.count()  # full materialization of the result
            runs.append(time.perf_counter() - t0)
        if adaptive and runs[0] < 5.0:
            t0 = time.perf_counter()
            _ = fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 3)
        else:
            timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    # OLAP full-scan shape (BASELINE: 200k-vertex/2M-edge scan workload,
    # TitanGraphIterativeBenchmark.java:77): PageRank over the WHOLE graph
    from titan_spark.compute import pagerank

    t0 = time.perf_counter()
    pr = pagerank(g, alpha=0.85, iterations=3)
    _ = pr.count()
    timings["pagerank_full_graph"] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "n_vertices": nv,
        "n_edges": ne,
        # parallelism contract (VERDICT r11 #2): report what the JVM
        # actually ran with, so a core-count comparison can verify the
        # $SPARK_GRAFT_CPUS pass-through instead of inferring it
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if degree_profile is not None:
        out["degree_profile"] = degree_profile
    return out


def _run_single(extra_env: dict[str, str] | None = None) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--single"],
        capture_output=True,
        text=True,
        env={**os.environ, **(extra_env or {})},
    )
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    try:
        return json.loads(line)
    except (json.JSONDecodeError, IndexError):
        sys.stderr.write(proc.stdout + proc.stderr)
        return None


def _scaling_block(base_queries: dict[str, float]) -> dict | None:
    """Scale-up proof point (VERDICT r4 #4): one fresh-JVM suite pass at
    sf1 (10x data, derived deterministically from sf0.1 by
    tools/make_scaled_sf.py), reported as per-query sf1/sf0.1 ratios.
    Linear scaling on a shuffle/scan-bound query is ratio ~10; constant-
    overhead queries (point lookups, fixed-size fixtures) sit near 1.
    Ratios > 11 are flagged as super-linear. Disable with
    SPARK_GRAFT_SCALE_CHECK=0.
    """
    if os.environ.get("SPARK_GRAFT_SCALE_CHECK", "1") == "0":
        return None
    repo = os.path.dirname(os.path.abspath(__file__))
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(repo, "data", "sf1")
    )
    if not os.path.exists(os.path.join(scale_dir, "lineitem.parquet")):
        gen = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_scaled_sf.py"),
             "--dst", scale_dir],
            capture_output=True,
            text=True,
        )
        if gen.returncode != 0:
            sys.stderr.write(gen.stdout + gen.stderr)
            return None
    res = _run_single(
        {"SPARK_GRAFT_SF_DIR": scale_dir, "SPARK_GRAFT_BENCH_REPS": "adaptive"}
    )
    if res is None:
        return None
    queries = dict(res["queries"])
    queries, confirm_note = _confirm_flags(
        queries, base_queries, scale_dir, threshold=11.0
    )
    ratios = {
        q: round(t / base_queries[q], 1)
        for q, t in queries.items()
        if base_queries.get(q)
    }
    return {
        "sf": 1.0,
        "data_ratio": 10.0,
        "total": round(sum(queries.values()), 3),
        "queries": queries,
        "n_vertices": res.get("n_vertices"),
        "n_edges": res.get("n_edges"),
        "ratio_vs_sf0.1": ratios,
        "flagged_superlinear": sorted(q for q, r in ratios.items() if r > 11),
        "flag_confirmation": confirm_note,
        "note": "one fresh JVM; adaptive reps (min-of-2 below 5s, single "
        "rep above); sf1 derived from sf0.1 via tools/make_scaled_sf.py "
        "(10x replication, key offsets, per-replica text/embedding "
        "decorrelation); queries whose first-pass ratio exceeded the "
        "superlinear threshold are re-run once in a second fresh JVM "
        "(min taken) so a transiently loaded host cannot fake a scale "
        "regression",
    }


def _confirm_flags(
    queries: dict[str, float],
    base_queries: dict[str, float],
    sf_dir: str,
    threshold: float,
) -> tuple[dict[str, float], str | None]:
    """Re-run queries whose scale ratio exceeds ``threshold`` once in a
    second fresh JVM and keep the per-query min — separating real
    superlinearity (reproduces) from transient host contention
    (vanishes)."""
    flagged = sorted(
        q
        for q, t in queries.items()
        if base_queries.get(q) and t / base_queries[q] > threshold
    )
    if not flagged:
        return queries, None
    res2 = _run_single(
        {
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_BENCH_REPS": "1",
            "SPARK_GRAFT_BENCH_ONLY": ",".join(flagged),
        }
    )
    if res2 is None:
        return queries, f"confirmation pass failed for {flagged}"
    out = dict(queries)
    for q in flagged:
        if q in res2["queries"]:
            out[q] = min(out[q], res2["queries"][q])
    return out, f"first-pass flags re-run in a fresh JVM: {flagged}"


def _vs_prev_block(queries: dict[str, float]) -> tuple[dict | None, dict[str, float]]:
    """Round-over-round drift protocol (VERDICT r6 #9 / r7 #2): compare
    this run's per-query sf0.1 times against the latest committed
    BENCH_r{N}.json, flag every query whose ratio exceeds 1.3x, and
    re-run the flagged ones once more in a fresh JVM as a
    host-contention control (min taken) — so a transiently loaded host
    cannot fake (or hide) a plan regression. Returns (block, queries
    with the control mins folded in)."""
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    # the current round is 1 + the highest driver-written BENCH_r{N}.json
    # (the driver records round N's bench after round N ends); comparing
    # against files from the CURRENT round (e.g. an already-committed
    # bench_r{cur}_preview.json) would make the protocol compare this run
    # against itself instead of the previous round, so those are excluded
    driver_rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
        if (m := re.search(r"r(\d+)", os.path.basename(p)))
    ]
    cur_round = (max(driver_rounds) + 1) if driver_rounds else None
    # the driver's BENCH_r{N}.json may hold only a truncated `tail`
    # (parsed=None), so also accept this repo's committed full-result
    # bench_r{N}_{preview,final}.json twins; highest PREVIOUS round wins
    candidates = []
    for p in (
        glob.glob(os.path.join(repo, "BENCH_r*.json"))
        + glob.glob(os.path.join(repo, "bench_r*_preview.json"))
        + glob.glob(os.path.join(repo, "bench_r*_final.json"))
    ):
        m = re.search(r"r(\d+)", os.path.basename(p))
        if not m:
            continue
        rnd = int(m.group(1))
        if cur_round is not None and rnd >= cur_round:
            continue
        try:
            with open(p) as f:
                d = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        q = d.get("queries") or (d.get("parsed") or {}).get("queries")
        if isinstance(q, dict) and q:
            candidates.append((rnd, os.path.basename(p), q))
    if not candidates:
        return None, queries
    _, prev_name, prev_queries = sorted(candidates)[-1]
    # deliberate workload changes are not drift: r8 moved scc_blocks /
    # condensation_dag from the fixed 96-block oracle fixture to an
    # sf-scaled bench fixture, and r9 grew that fixture another 10x
    # (n_blocks = 96k·sf, VERDICT r8 #3 — the r8 sizing measured
    # scheduler overhead, not data), so their times are not comparable
    # against the previous round — reported separately, never flagged
    fixture_changed = {"scc_blocks", "condensation_dag"}
    common = sorted((set(queries) & set(prev_queries)) - fixture_changed)
    ratios = {
        q: round(queries[q] / prev_queries[q], 2)
        for q in common
        if prev_queries[q]
    }
    flagged = sorted(q for q, r in ratios.items() if r > 1.3)
    control_note = None
    out = dict(queries)
    if flagged:
        res2 = _run_single(
            {"SPARK_GRAFT_BENCH_REPS": "1", "SPARK_GRAFT_BENCH_ONLY": ",".join(flagged)}
        )
        if res2 is None:
            control_note = f"contention-control pass failed for {flagged}"
        else:
            for q in flagged:
                if q in res2["queries"]:
                    out[q] = min(out[q], res2["queries"][q])
            control_note = (
                f"first-pass >1.3x drifts re-run in a third fresh JVM "
                f"(min taken): {flagged}"
            )
            ratios = {
                q: round(out[q] / prev_queries[q], 2)
                for q in common
                if prev_queries[q]
            }
    final_flags = sorted(q for q, r in ratios.items() if r > 1.3)
    block = {
        "prev_file": prev_name,
        "common_queries": len(common),
        "total_prev": round(sum(prev_queries[q] for q in common), 3),
        "total_now": round(sum(out[q] for q in common), 3),
        "ratio_total": round(
            sum(out[q] for q in common) / sum(prev_queries[q] for q in common), 3
        )
        if common
        else None,
        "flagged_over_1.3x": {q: ratios[q] for q in final_flags},
        "fixture_changed_excluded": sorted(
            q for q in fixture_changed if q in queries and q in prev_queries
        ),
        "contention_control": control_note,
        "note": "per-query ratio vs the previous round's committed bench "
        "(same sf0.1 suite, both sides min-of-fresh-JVMs); drifts past "
        "1.3x are re-measured in a separate fresh JVM before being "
        "reported so host contention is separated from plan regressions",
    }
    return block, out


SF10_FLAGSHIPS = [
    # the iterative/pipeline flagships (VERDICT r6 #2) — the queries
    # whose asymptotics matter; graph_build_count + pagerank_full_graph
    # ride along from the suite pass itself. scc_blocks/
    # condensation_dag run on the sf-SCALED block-cycle fixture
    # (r8, VERDICT r7 #9) so the FW-BW peeling's scaling is measured,
    # not assumed.
    "scc_blocks",
    "condensation_dag",
    "k_core",
    "dedup_clusters",
    "semantic_dedup",
    "random_walk_corpus",
    "betweenness",
    "mix_corpus",
    "ivfpq_ann",
    "shard_layout",
    "line_dedup",
    "lm_perplexity",
    # r11 (VERDICT r10 #6): node2vec is precisely the operator whose
    # hub-degree scaling needs the sf1→sf10 leg — the geo fixture's max
    # degree grows ~linearly with sf (81 → 681 → ~6.8k), which is what
    # armed the r10 in-row quadratic
    "node2vec_corpus",
]


CORE_SCALING_QUERIES = [
    # the sf1 heavy subset (each ≥ ~5 s at sf1 in the committed r11
    # runs — compute-dominated, so the low-core/full-core ratio carries
    # a real parallelism signal; at sf0.1 the whole suite is overhead-
    # bound and every ratio lands ≈1, which is what tripped the r11
    # suspect_cpus_ignored flag)
    "condensation_dag",
    "scc_blocks",
    "local_clustering",
    "transitivity",
    "dedup_weights",
    "dedup_clusters",
    "node2vec_corpus",
    "minimum_spanning_tree",
    "pagerank_full_graph",
    "graph_diameter",
]


def _core_scaling_block(sf1_queries: dict[str, float] | None) -> dict | None:
    """Core-count scaling proof (VERDICT r11 #1 item 2): re-run the sf1
    HEAVY subset in a fresh JVM at a LOW core count and report the
    per-query low/full wall ratio. The r11 probe ran the full sf0.1
    suite at 8 cores and it finished FASTER than at 32 — at that scale
    the suite is JVM/scheduler-overhead-bound and core ratios carry no
    parallelism signal. The sf1 heavy queries are compute-dominated, so
    a healthy engine shows ratios well above 1 (approaching the core
    ratio for CPU-bound stages; shuffle/IO-bound stages land lower).
    Disable with SPARK_GRAFT_CORE_CHECK=0; low core count via
    SPARK_GRAFT_LOWCORE (default 8)."""
    if os.environ.get("SPARK_GRAFT_CORE_CHECK", "1") == "0" or not sf1_queries:
        return None
    full_cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    low_cpus = os.environ.get("SPARK_GRAFT_LOWCORE", "8")
    if low_cpus == full_cpus:
        return None
    repo = os.path.dirname(os.path.abspath(__file__))
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(repo, "data", "sf1")
    )
    subset = [q for q in CORE_SCALING_QUERIES if q in sf1_queries]
    if not subset:
        return None
    res = _run_single(
        {
            "SPARK_GRAFT_SF_DIR": scale_dir,
            "SPARK_GRAFT_CPUS": low_cpus,
            "SPARK_GRAFT_BENCH_REPS": "1",
            "SPARK_GRAFT_BENCH_ONLY": ",".join(subset),
        }
    )
    if res is None:
        return None
    low_q = {q: t for q, t in res["queries"].items() if q in set(subset) | {"graph_build_count"}}
    ratios = {
        q: round(t / sf1_queries[q], 2)
        for q, t in low_q.items()
        if sf1_queries.get(q)
    }
    core_ratio = None
    try:
        core_ratio = round(int(full_cpus) / int(low_cpus), 2)
    except ValueError:
        pass
    return {
        "sf": 1.0,
        "low_cores": low_cpus,
        "full_cores": full_cpus,
        "core_ratio": core_ratio,
        "low_master": res.get("master"),
        "low_default_parallelism": res.get("default_parallelism"),
        "queries_low": low_q,
        "queries_full": {q: sf1_queries[q] for q in low_q if q in sf1_queries},
        "ratio_low_over_full": ratios,
        "note": "sf1 heavy subset, one fresh JVM at local[low_cores] vs "
        "the sf1 scaling pass at local[full_cores] (same data, same "
        "methodology; full-side numbers are the sf1 block's, adaptive "
        "reps). Ratios > 1 mean fewer cores run slower — the "
        "parallelism signal the sf0.1 suite cannot show because it is "
        "overhead-bound (r11: the 8-core sf0.1 suite beat the 32-core "
        "one outright).",
    }


def _sf10_block(sf1_queries: dict[str, float] | None) -> dict | None:
    """Second decade of scale evidence (VERDICT r6 #2): the
    iterative/pipeline flagships at sf10 (100x sf0.1, ~137 M edges,
    derived from sf1 by another 10x replication), reported as
    per-query sf10/sf1 ratios. One decade of sublinearity separates
    nothing; two decades separates constant factors from asymptotics.

    r10 (VERDICT r9 #2): the block runs TWICE, each pass a fresh JVM,
    and reports per-query min-of-2 — the same protocol the sf0.1 suite
    uses. The r9 report showed four flagship ratios swinging 2-8x on
    unchanged code under the old single-rep protocol (mix_corpus
    3.8x→9.9x, shard_layout 1.2x→9.3x), i.e. single-JVM numbers at
    this data size measure host state as much as plans. The per-query
    ``spread`` field (max/min across the two passes) quantifies the
    remaining noise band so a reader can tell a tight ratio from a
    lucky one. Ratios > 11 are flagged (and re-confirmed in yet
    another fresh JVM before being reported). Disable with
    SPARK_GRAFT_SF10_CHECK=0.
    """
    if os.environ.get("SPARK_GRAFT_SF10_CHECK", "1") == "0" or not sf1_queries:
        return None
    repo = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(repo, "data", "sf1")
    )
    sf10_dir = os.environ.get(
        "SPARK_GRAFT_SCALE10_DIR", os.path.join(repo, "data", "sf10")
    )
    if not os.path.exists(os.path.join(sf10_dir, "lineitem.parquet")):
        gen = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_scaled_sf.py"),
             "--src", sf1_dir, "--dst", sf10_dir, "--replicas", "10"],
            capture_output=True,
            text=True,
        )
        if gen.returncode != 0:
            sys.stderr.write(gen.stdout + gen.stderr)
            return None
    env = {
        "SPARK_GRAFT_SF_DIR": sf10_dir,
        "SPARK_GRAFT_BENCH_REPS": "1",
        "SPARK_GRAFT_BENCH_ONLY": ",".join(SF10_FLAGSHIPS),
    }
    passes = [r for _ in range(2) if (r := _run_single(env)) is not None]
    if not passes:
        return None
    res = passes[0]
    queries = {
        q: min(p["queries"][q] for p in passes if q in p["queries"])
        for q in res["queries"]
    }
    # per-query noise band across the fresh-JVM passes: max/min — 1.0
    # means the two JVMs agreed exactly, 2.0 means the slower pass took
    # twice as long on identical code and data
    spread = {
        q: round(
            max(p["queries"][q] for p in passes if q in p["queries"])
            / queries[q],
            2,
        )
        for q in queries
        if queries[q]
    }
    queries, confirm_note = _confirm_flags(
        queries, sf1_queries, sf10_dir, threshold=11.0
    )
    ratios = {
        q: round(t / sf1_queries[q], 1)
        for q, t in queries.items()
        if sf1_queries.get(q)
    }
    return {
        "sf": 10.0,
        "data_ratio_vs_sf1": 10.0,
        "total": round(sum(queries.values()), 3),
        "queries": queries,
        "jvm_passes": len(passes),
        "spread": spread,
        "flag_confirmation": confirm_note,
        "n_vertices": res.get("n_vertices"),
        "n_edges": res.get("n_edges"),
        "ratio_vs_sf1": ratios,
        "flagged_superlinear": sorted(q for q, r in ratios.items() if r > 11),
        "note": "flagship subset; min-of-2 fresh JVMs (r10, VERDICT r9 "
        "#2 — single-rep sf10 numbers swung 2-8x on unchanged code "
        "between r8 and r9), per-query spread = max/min across the two "
        "passes; sf10 derived from sf1 via tools/make_scaled_sf.py (10x "
        "replication, key offsets, per-replica text/embedding "
        "decorrelation); ratios are sf10/sf1 at 10x the data — <10 = "
        "sublinear. graph_build_count/pagerank_full_graph ride along "
        "from the suite pass; scc_blocks/condensation_dag run on the "
        "sf-SCALED block-cycle fixture (n_blocks ~ sf), so their ratios "
        "measure the FW-BW peeling's data behavior at constant round "
        "count.",
    }


def _pctile(xs: list[float], p: float):
    if not xs:
        return None
    xs = sorted(xs)
    i = min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))
    return xs[i]


def _streaming_block() -> dict | None:
    """Streaming performance signal (VERDICT r5 #5 + r6 #3 multi-batch
    latency profile). Three measured paths at $SPARK_GRAFT_SF_DIR:

    - events split into ~12 source files and streamed one file per
      trigger (maxFilesPerTrigger=1, availableNow) → watermarked
      session windows → memory sink: ≥10 real micro-batches, with
      p50/p95 per-trigger latency and session-state-store rows from
      the query progress (r5's single availableNow batch measured
      mostly plan setup);
    - 10 document micro-batches through IncrementalDedup's
      foreachBatch step (persistent banded-signature store), p50/p95
      per-batch wall;
    - N change rows through the CDC log → LogProcessorFramework
      foreachBatch dispatch (Titan's user-log processor shape,
      diskstorage/log/ReadMarker.java read-interval analog).

    Disable with SPARK_GRAFT_STREAM_BENCH=0.
    """
    if os.environ.get("SPARK_GRAFT_STREAM_BENCH", "1") == "0":
        return None
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from titan_spark.session import get_spark
    from titan_spark.sources.tpch import normalize_events_ts
    from titan_spark.streaming.changelog import LogProcessorFramework
    from titan_spark.streaming.ingest import IncrementalDedup
    from titan_spark.streaming.windows import (
        EVENTS_STREAM_SCHEMA,
        run_to_memory_sink,
        session_windows,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("titan_spark_stream_bench")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = events.count()
    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        # ---- multi-batch sessionization: 12 source files, one per
        # trigger, so the profile measures steady-state micro-batches
        # rather than one availableNow mega-batch
        multi_dir = os.path.join(tmp, "events_multi")
        # 12 ts-slice files written SEQUENTIALLY so modification times
        # increase in event-time order — FileStreamSource picks files
        # by modTime, and in-order arrival is the realistic stream
        # shape (scrambled arrival would drop most input as late
        # behind the watermark). ntile is harness prep, not engine.
        from pyspark.sql import Window

        sliced = events.withColumn(
            "_slice", F.ntile(12).over(Window.orderBy("ts"))
        ).cache()
        for i in range(1, 13):
            sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(
                1
            ).write.mode("append").parquet(multi_dir)
        sliced.unpersist()
        batch_dt = dict(spark.read.parquet(multi_dir).dtypes).get("ts")
        ts_type = "long" if batch_dt == "bigint" else batch_dt
        raw = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA.format(ts_type=ts_type))
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(multi_dir)
        )
        t0 = time.perf_counter()
        q = run_to_memory_sink(
            session_windows(normalize_events_ts(raw)),
            "bench_sessions",
            os.path.join(tmp, "ckpt_sessions"),
            output_mode="complete",
        )
        sess_wall = time.perf_counter() - t0
        sess_rows = spark.table("bench_sessions").count()
        prog = []
        for p in q.recentProgress:
            prog.append(p if isinstance(p, dict) else json.loads(p.json))
        lat = [
            p["durationMs"]["triggerExecution"]
            for p in prog
            if p.get("numInputRows", 0) > 0 and "durationMs" in p
        ]
        state_rows = None
        for p in reversed(prog):
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = ops[0].get("numRowsTotal")
                break

        # ---- incremental near-dup ingest: 10 micro-batches against
        # the persistent signature store
        dd = IncrementalDedup(spark, os.path.join(tmp, "sigstore"))
        # one-time codegen/JIT bootstrap at stream start (r9, VERDICT
        # r8 #5): off the per-batch latency path by design — a real
        # deployment pays it once at processor construction, not per
        # micro-batch
        dd.warm_up()
        dedup_lat: list[float] = []
        dedup_kept = 0
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for b in range(10):
            bdf = docs.filter(F.col("doc_id") % 10 == b)
            t0 = time.perf_counter()
            dedup_kept += dd.process_batch(bdf, b).count()
            dedup_lat.append((time.perf_counter() - t0) * 1000.0)

        # CDC log drain: synthetic ADD-vertex rows written as the log's
        # parquet append stream, drained through a counting processor
        n_changes = int(os.environ.get("SPARK_GRAFT_STREAM_CHANGES", "200000"))
        log_dir = os.path.join(tmp, "changelog")
        spark.range(n_changes).select(
            F.lit("ADD").alias("op"),
            F.lit("vertex").alias("element_kind"),
            F.col("id").alias("element_id"),
            F.to_json(F.struct(F.col("id").alias("key"))).alias("payload"),
            (F.col("id") % 64).alias("tx_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        ).write.mode("overwrite").parquet(log_dir)
        seen: list[int] = []
        fw = LogProcessorFramework(spark, log_dir).add_processor(
            lambda b, _i: seen.append(b.count())
        )
        t0 = time.perf_counter()
        cq = fw.process_stream(os.path.join(tmp, "ckpt_log"))
        cq.awaitTermination(300)
        log_wall = time.perf_counter() - t0
        return {
            "events_rows": n_events,
            "session_sink_seconds": round(sess_wall, 3),
            "session_rows_per_sec": int(n_events / sess_wall) if sess_wall else None,
            "session_out_rows": sess_rows,
            "session_batches": len(lat),
            "session_batch_latency_ms": {
                "p50": _pctile(lat, 50),
                "p95": _pctile(lat, 95),
                "mean": round(sum(lat) / len(lat), 1) if lat else None,
                "max": max(lat) if lat else None,
            },
            "session_state_rows": state_rows,
            "dedup_batches": len(dedup_lat),
            "dedup_batch_latency_ms": {
                "p50": round(_pctile(dedup_lat, 50), 1) if dedup_lat else None,
                "p95": round(_pctile(dedup_lat, 95), 1) if dedup_lat else None,
                "max": round(max(dedup_lat), 1) if dedup_lat else None,
            },
            # batch 0 pays one-time plan codegen + Arrow warmup for the
            # minhash expression chain (profiled: ~10s cold vs 3.3-4.4s
            # for every later batch, compaction batch included) — the
            # steady-state row is the per-trigger latency a long-running
            # stream actually sees
            "dedup_steady_state_ms": {
                "p50": round(_pctile(dedup_lat[1:], 50), 1)
                if len(dedup_lat) > 1
                else None,
                "p95": round(_pctile(dedup_lat[1:], 95), 1)
                if len(dedup_lat) > 1
                else None,
                "max": round(max(dedup_lat[1:]), 1)
                if len(dedup_lat) > 1
                else None,
            },
            "dedup_kept_rows": dedup_kept,
            "changelog_rows": sum(seen),
            "changelog_drain_seconds": round(log_wall, 3),
            "changelog_rows_per_sec": int(sum(seen) / log_wall) if log_wall else None,
            "note": "events: 12 source files streamed 1 file/trigger "
            "(availableNow) -> watermarked session_window groupBy -> memory "
            "sink; latency percentiles are per-trigger execution over the "
            "multi-batch run, state rows from the last progress. dedup: 10 "
            "document micro-batches through IncrementalDedup (persistent "
            "banded-signature store). changelog: parquet CDC log -> "
            "foreachBatch processor dispatch.",
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def smoke() -> int:
    """Per-query time-budget smoke (VERDICT r10 #3): every headline
    query once at sf0.01 (override with SPARK_GRAFT_SF_DIR), flagging
    any query over SPARK_GRAFT_SMOKE_CEILING_S (default 3 s — the r10
    node2vec bug measured 5.5 s at sf0.01 vs ~0.2 s typical, so the
    ceiling catches that class before the driver ever sees it).
    Exit 1 when anything is over budget. Run this whenever a query is
    added to HEADLINE. Iterative fixture-loop queries whose cost is
    round-count-bound (not data-bound) get a documented higher ceiling
    rather than a pass — they are slow at EVERY sf, which is exactly
    what the reader should see."""
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.environ["SPARK_GRAFT_BENCH_REPS"] = "1"
    ceiling = float(os.environ.get("SPARK_GRAFT_SMOKE_CEILING_S", "3.0"))
    # round-count-bound loops (peels / BSP rounds / FW-BW / Borůvka /
    # banded LSH compaction): dominated by per-round fixed cost at
    # small sf, so they carry a higher documented ceiling; their DATA
    # scaling is measured by the sf1/sf10 blocks instead
    loop_ceiling = float(
        os.environ.get("SPARK_GRAFT_SMOKE_LOOP_CEILING_S", "12.0")
    )
    loop_bound = {
        "scc_blocks", "condensation_dag", "k_core", "k_truss",
        "dedup_clusters", "dedup_weights", "louvain_cliques",
        "graph_diameter", "betweenness", "minimum_spanning_tree",
        "label_propagation", "closeness_centrality",
        "harmonic_centrality", "semantic_dedup", "repeat_emit_bfs",
        "shortest_distance", "weighted_distance", "mis_geo",
        "personalized_pagerank", "node2vec_corpus", "random_walk_corpus",
        "skew_two_hop",
        # bidirectional BFS is a frontier loop too
        "point_distance",
        # constant-bound at small sf (measured on a clean tree at
        # sf0.01): graph_build_count pays the whole JVM + parquet-read
        # warmup as the suite's first timing (8.0 s); transitivity /
        # embed_topk_pairs / ivfpq_ann pay heavy one-time codegen +
        # Arrow warmup (3.8-4.2 s) that does not grow with sf
        "graph_build_count", "transitivity", "embed_topk_pairs",
        "ivfpq_ann",
    }
    res = run_suite()
    over = {
        q: t
        for q, t in res["queries"].items()
        if t > (loop_ceiling if q in loop_bound else ceiling)
    }
    out = {
        "metric": "smoke_suite_seconds",
        "value": res["value"],
        "unit": "sec",
        "sf": res["sf"],
        "ceiling_s": ceiling,
        "loop_ceiling_s": loop_ceiling,
        "over_budget": {q: round(t, 2) for q, t in sorted(over.items())},
        "queries": res["queries"],
    }
    print(json.dumps(out), flush=True)
    return 1 if over else 0


def main() -> None:
    if "--smoke" in sys.argv:
        raise SystemExit(smoke())
    if "--single" in sys.argv:
        print(json.dumps(run_suite()))
        return

    # Timeout-proofing (VERDICT r10 #1/#2 — the r10 driver bench was
    # killed at rc=124 with ZERO output because nothing flushed until
    # every block finished): the merged suite JSON is printed+flushed
    # the moment the two suite passes complete, and RE-printed after
    # every optional block — the driver's tail parse takes the last
    # complete line, so every prefix is a valid result. A wall-clock
    # budget (SPARK_GRAFT_BENCH_BUDGET_S, default 3000 s) is checked
    # between blocks; on expiry the remaining blocks are recorded under
    # "skipped" instead of dying silently. Blocks run cheap-first:
    # vs_prev (flagged-subset re-runs only), streaming (one JVM, sf0.1),
    # then sf1 (fixture gen + full suite), then sf10 (fixture gen +
    # 2 flagship JVMs).
    t_start = time.monotonic()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "3000"))
    skipped: list[str] = []

    def emit() -> None:
        merged["elapsed_s"] = round(time.monotonic() - t_start, 1)
        if skipped:
            merged["skipped"] = list(skipped)
        print(json.dumps(merged), flush=True)

    def over_budget(block: str) -> bool:
        if budget > 0 and time.monotonic() - t_start > budget:
            skipped.append(block)
            return True
        return False

    # two fresh JVMs; per-query min-of-2 separates env drift from code drift
    results = [r for _ in range(2) if (r := _run_single()) is not None]
    if not results:
        raise SystemExit("bench: no successful runs")

    merged = dict(results[0])
    queries = {
        q: min(r["queries"][q] for r in results if q in r["queries"])
        for q in results[0]["queries"]
    }
    merged["queries"] = queries
    merged["value"] = round(sum(queries.values()), 3)
    # raw totals labeled with query counts (r10, VERDICT r9 #6): every
    # entry states what it covered, so a partial flagged-query re-run
    # merged in later can never read like a full suite pass
    merged["runs"] = [
        {"seconds": r["value"], "n_queries": len(r["queries"])} for r in results
    ]
    merged["config_note"] = (
        "minhash_lsh_pairs is timed with the production hash_fn=xxhash64; "
        "the correctness catalog pins the portable md5 hash so DuckDB can "
        "reproduce signatures — bench and CORRECTNESS rows differ in hash "
        "backend only. skew_two_hop is timed on a 1M-edge supernode "
        "fixture (10x the oracle fixture). pq_codes is timed with the "
        "production kernel=arrow (numpy matmul); the correctness row "
        "pins the oracle-bit-identical JVM fold. r8: the CC loop inside "
        "dedup_clusters contracts edges into label space per round "
        "(correctness fix + scale fix: sf10 232.4s -> 67.4s, sf10/sf1 "
        "ratio 11.2x -> 4.6x in the committed runs); the contraction "
        "dedup adds a small constant cost at sf0.1."
    )
    emit()  # first valid result line: suite min-of-2

    if not over_budget("vs_prev_round"):
        vs_prev, queries = _vs_prev_block(queries)
        if vs_prev is not None:
            merged["queries"] = queries
            merged["value"] = round(sum(queries.values()), 3)
            merged["vs_prev_round"] = vs_prev
        emit()

    if not over_budget("streaming"):
        streaming = _streaming_block()
        if streaming is not None:
            merged["streaming"] = streaming
        emit()

    scaling = None
    if not over_budget("scaling_sf1"):
        scaling = _scaling_block(queries)
        if scaling is not None:
            merged["scaling"] = scaling
        emit()

    if scaling is None:
        if "scaling_sf1" in skipped:
            skipped.append("core_scaling")
            skipped.append("scaling_sf10")
    else:
        if not over_budget("core_scaling"):
            core = _core_scaling_block(scaling.get("queries"))
            if core is not None:
                merged["core_scaling"] = core
            emit()
        if not over_budget("scaling_sf10"):
            sf10 = _sf10_block(scaling.get("queries"))
            if sf10 is not None:
                merged["scaling_sf10"] = sf10
    emit()


if __name__ == "__main__":
    main()
