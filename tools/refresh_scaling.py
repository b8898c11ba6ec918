"""Regenerate the measured scale-up table in SCALING.md §9 from a bench
JSON (the output of `python bench.py`). Keeps the section's prose;
replaces only the markdown table between the header row and the first
non-table line after it.

Usage: python tools/refresh_scaling.py bench.json
"""

from __future__ import annotations

import json
import re
import sys

NOTES = {
    "degree_part": "one groupBy over 10× edges; sub-second, overhead-bound",
    "k_core": "peel rounds over a 26M-row symmetric edge set; per-round disk cut, cost tracks surviving edges",
    "events_hourly": "window agg over 10× events; overhead still dominates",
    "embed_topk_pairs": "adaptive LSH width: candidates stay linear in n",
    "semantic_dedup": "adaptive-width LSH candidates → exact cosine → CC (size-clamped flat rounds)",
    "tfidf_top_terms": "explode + two aggs, linear in corpus tokens",
    "lm_perplexity": "unigram agg + token⋈count join, corpus-linear",
    "two_hop_revenue": "hop joins, AQE-sized exchanges",
    "pagerank_full_graph": "one shuffle per round, linear in |E|",
    "weighted_distance": "Pregel frontier rounds; the size clamp keeps late rounds flat",
    "dedup_clusters": "prefix-filter candidates + pointer-jumping CC — candidate-bound, not n²",
    "minhash_lsh_pairs": "banded join: corpus + true-dup volume",
    "line_dedup": "hash-first winner election (~32B/line shuffled) + one text rewrite pass",
    "closeness_centrality": "multi-source BFS, frontier-bound rounds",
    "embed_covariance": "O(batches·dim²) partial-Gram shuffle, corpus-linear scan",
    "shard_layout": "distributed prefix sum over the hash order",
    "user_activity_stats": "per-user windows, one shuffle on user_id",
    "asof_view_before_purchase": "union + carry-forward window, one shuffle",
    "range_join_clicks": "bucketed equi-join, interval replication × span/bucket",
    "bpe_pair_counts": "word-freq table + pair explode, corpus-linear once",
    "cms_heavy_hitters": "fixed d·w mergeable counters + distinct-candidate probe",
    "mix_corpus": "per-source agg + narrow hash filters",
    "skew_two_hop": "AQE skew-split supernode hop (fixture-sized)",
    "harmonic_centrality": "same multi-source BFS as closeness",
    "mis_geo": "Luby rounds, frontier-proportional",
    "topo_levels": "max-plus rounds = DAG depth",
    "betweenness": "forward \u03c3 + backward \u03b4 level rounds, O(|V|\u00b7k) state",
    "event_funnel": "three conditional-min aggs, AQE-sized anchor joins",
    "cube_order_stats": "one Expand + hash agg",
    "ivfpq_ann": "coarse probe + code-only ADC ranking",
    "weighted_sample": "hash-draw keys, TakeOrdered top-n",
    "pq_codes": "Arrow matmul argmin per subspace (bench kernel)",
    "json_props_agg": "JVM-side JSON extraction + hash agg",
    "rollup_revenue": "join + one Expand + hash agg",
}


def main() -> None:
    bench = json.load(open(sys.argv[1]))
    sc = bench.get("scaling")
    if not sc:
        raise SystemExit("bench JSON has no scaling block")
    base = bench["queries"]
    ratios = sc["ratio_vs_sf0.1"]
    sf1 = sc["queries"]
    rows = sorted(ratios.items(), key=lambda kv: -kv[1])
    lines = [
        "| Query | sf0.1 s | sf1 s | ratio | why it scales this way |",
        "|---|---|---|---|---|",
    ]
    for q, r in rows:
        note = NOTES.get(q, "")
        lines.append(f"| {q} | {base.get(q)} | {sf1.get(q)} | {r} | {note} |")
    table = "\n".join(lines)

    text = open("SCALING.md").read()
    # replace the existing table (first table after the §9 header)
    m = re.search(
        r"\| Query \| sf0\.1 s \| sf1 s \| ratio \|[^\n]*\n(\|[^\n]*\n)+",
        text,
    )
    if not m:
        raise SystemExit("could not locate the §9 table in SCALING.md")
    text = text[: m.start()] + table + "\n" + text[m.end():]
    open("SCALING.md", "w").write(text)
    print(
        f"refreshed: {len(rows)} queries, max ratio "
        f"{rows[0][1] if rows else None}, flagged={sc['flagged_superlinear']}"
    )


if __name__ == "__main__":
    main()
