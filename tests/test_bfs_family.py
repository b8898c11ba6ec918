"""The BFS family on the frontier driver: closeness and harmonic
(landmark distances), sampled betweenness, k_hop_subgraph,
bidirectional_distance and topological_levels.

Ghost-vertex rule (an edge endpoint with no vertex row): the BFS loops
expand over the edge relation alone, so a ghost is a vertex of the
traversal — it is reached, counted in closeness/harmonic rows and lies
on shortest paths. Seeds that are filtered from the vertex table
(landmarks, betweenness sources) must be vertex rows; outputs joined to
the vertex table (betweenness, k_hop_subgraph's vertices) list vertex
rows only. topological_levels layers vertex rows only: an edge with a
ghost endpoint takes no part in it.
"""

import random
from fractions import Fraction

import networkx as nx
import pyarrow as pa
import pytest

from titan_spark.compute import (
    betweenness_centrality,
    bidirectional_distance,
    closeness_centrality,
    harmonic_centrality,
    k_hop_subgraph,
    topological_levels,
)
from titan_spark.graph import PropertyGraph


def _property_graph(spark, ids, edges):
    cols = list(zip(*edges)) or [(), (), (), ()]
    v = spark.createDataFrame(
        pa.table({"id": pa.array(ids, pa.int64()), "label": ["n"] * len(ids)})
    )
    e = spark.createDataFrame(
        pa.table(
            {
                "edge_id": pa.array(cols[0], pa.int64()),
                "src": pa.array(cols[1], pa.int64()),
                "dst": pa.array(cols[2], pa.int64()),
                "label": pa.array(cols[3], pa.string()),
            }
        )
    )
    return PropertyGraph(v, e)


def _random_case(rng, base):
    """Vertex ids, two ghost ids and edges with self-loops, parallel
    edges, ghost endpoints and two labels, all ids in [base, base+60);
    isolated vertices occur."""
    ids = [base + x for x in rng.sample(range(60), rng.randint(1, 25))]
    ghosts = rng.sample([base + x for x in range(60) if base + x not in ids], 2)
    pool = ids + ghosts
    edges = []
    for k in range(rng.randint(0, 40)):
        r = rng.random()
        if r < 0.05:
            src = dst = rng.choice(ids)
        elif edges and r < 0.12:
            src, dst = edges[-1][1:3]
        else:
            src, dst = rng.choice(pool), rng.choice(pool)
        edges.append((base + k, src, dst, rng.choice("ab")))
    return ids, ghosts, edges


def _digraph(edges, labels):
    g = nx.DiGraph()
    g.add_edges_from((s, d) for _, s, d, lab in edges if not labels or lab in labels)
    return g


def _undirected(dg):
    und = dg.to_undirected()
    und.remove_edges_from(list(nx.selfloop_edges(und)))
    return und


def _bfs(g, sources):
    g = g.copy()
    g.add_nodes_from(sources)
    return nx.multi_source_dijkstra_path_length(g, set(sources))


def _brandes(und, sources):
    """Σ over sources of each vertex's dependency, v ≠ source, exact."""
    bc = {}
    for s in sources:
        sigma, dist, order, queue = {s: 1}, {s: 0}, [], [s]
        while queue:
            v = queue.pop(0)
            order.append(v)
            for w in und.neighbors(v) if v in und else ():
                if w not in dist:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[v]
        delta = dict.fromkeys(order, Fraction(0))
        for w in reversed(order):
            for v in und.neighbors(w) if w in und else ():
                if dist.get(v) == dist[w] - 1:
                    delta[v] += Fraction(sigma[v], sigma[w]) * (1 + delta[w])
            if w != s:
                bc[w] = bc.get(w, 0) + delta[w]
    return bc


def _close(a, b):
    return abs(a - b) <= 2e-6


def test_bfs_family_matches_independent_oracles(spark):
    """30 seeded random graphs, checked against networkx and pure-Python
    replays. The graphs sit in disjoint id ranges and run as one
    disjoint union, per edge-label filter, so that each loop runs a few
    times instead of once per graph; no BFS crosses from one graph to
    another. The point query runs once per graph."""
    rng = random.Random(20261019)
    cases = [_random_case(rng, 100 * c) for c in range(30)]
    ids = [v for c in cases for v in c[0]]
    ghosts = [v for c in cases for v in c[1]]
    edges = [x for c in cases for x in c[2]]
    g = _property_graph(spark, ids, edges)
    # a ghost landmark is not a vertex row, so it seeds nothing
    lms = [v for c in cases for v in rng.sample(c[0], min(3, len(c[0]))) + c[1][:1]]
    srcs = [v for c in cases for v in rng.sample(c[0], min(3, len(c[0])))]
    seeds = [v for c in cases for v in rng.sample(c[0] + c[1], 2)]
    # topological levels run on the DAG view (each edge from its smaller
    # endpoint, self-loops dropped)
    dag = [(i, min(s, d), max(s, d), lab) for i, s, d, lab in edges if s != d]
    dag_g = _property_graph(spark, ids, dag)
    for labels in ((), ("a",)):
        dg = _digraph(edges, labels)
        und = _undirected(dg)

        # landmark distances through closeness and harmonic
        reached = {}
        for lm in (x for x in lms if x not in ghosts):
            for v, d in _bfs(und, [lm]).items():
                reached.setdefault(v, []).append(d)
        close = closeness_centrality(g, lms, edge_labels=labels).collect()
        assert {r["id"] for r in close} == set(reached)
        for r in close:
            ds = reached[r["id"]]
            assert r["n_reached"] == len(ds), r
            want = (len(ds) - (0 in ds)) / sum(ds) if sum(ds) else 0.0
            assert _close(r["closeness"], want), r
        harm = harmonic_centrality(g, lms, edge_labels=labels).collect()
        assert {r["id"] for r in harm} == set(reached)
        for r in harm:
            want = sum(1 / d for d in reached[r["id"]] if d > 0)
            assert _close(r["harmonic"], want), r

        # sampled betweenness against a Brandes replay over the same
        # sources; only vertex rows are listed
        want = _brandes(und, srcs)
        got = betweenness_centrality(g, srcs, edge_labels=labels).collect()
        assert sorted(r["id"] for r in got) == sorted(ids)
        for r in got:
            assert _close(r["betweenness"], float(want.get(r["id"], 0))), r

        # the k-hop ball in each direction; induced edges keep the filter
        views = {"out": dg, "in": dg.reverse(), "both": dg.to_undirected()}
        for direction, view in views.items():
            ball = {v for v, d in _bfs(view, seeds).items() if d <= 2}
            ego = k_hop_subgraph(g, seeds, k=2, edge_labels=labels, direction=direction)
            assert sorted(r["id"] for r in ego.vertices.collect()) == sorted(
                set(ids) & ball
            ), direction
            assert sorted(r["edge_id"] for r in ego.edges.collect()) == sorted(
                i for i, s, d, lab in edges
                if s in ball and d in ball and (not labels or lab in labels)
            ), direction

        # longest-path depth over a topological sort of the vertex rows
        inside = _digraph([x for x in dag if x[1] in ids and x[2] in ids], labels)
        inside.add_nodes_from(ids)
        level = {}
        for v in nx.topological_sort(inside):
            level[v] = max((level[p] + 1 for p in inside.predecessors(v)), default=0)
        got = topological_levels(dag_g, edge_labels=labels)
        assert {r["id"]: r["level"] for r in got.collect()} == level

    # point-to-point distance, undirected and directed, one graph each
    for c, (c_ids, c_ghosts, c_edges) in enumerate(cases):
        labels = rng.choice([(), ("a",)])
        direction = ("both", "out")[c % 2]
        dg = _digraph(c_edges, labels)
        view = _undirected(dg) if direction == "both" else dg
        a, b = rng.choice(c_ids + c_ghosts), rng.choice(c_ids + c_ghosts)
        want = _bfs(view, [a]).get(b)
        got = bidirectional_distance(g, a, b, edge_labels=labels, direction=direction)
        assert [tuple(r) for r in got.collect()] == [(a, b, want)], c


def test_capped_bfs_loops_warn(spark):
    g = _property_graph(spark, list(range(25)), [(i, i, i + 1, "e") for i in range(24)])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        closeness_centrality(g, [0], max_iterations=3).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        harmonic_centrality(g, [0], max_iterations=3).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        betweenness_centrality(g, [0], max_iterations=3).collect()


def test_bfs_family_rows_do_not_depend_on_the_partition_count(spark, sf_dir):
    import __spark_entry__ as entry

    queries = entry.queries()
    names = (
        "closeness_centrality",
        "harmonic_centrality",
        "betweenness",
        "topo_levels",
        "k_hop_ego",
        "point_distance",
    )
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    runs = []
    try:
        for parts in ("1", "32"):
            spark.conf.set(key, parts)
            runs.append(
                {n: sorted(tuple(r) for r in queries[n](spark, sf_dir).collect()) for n in names}
            )
    finally:
        spark.conf.set(key, old)
    for n in names:
        assert runs[0][n] == runs[1][n], n


def _jobs(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bfs_loop_job_counts_are_pinned(spark):
    # one action per round: a second action per round (an eager cut
    # before the emptiness count) raises these counts. A 6-path 0→…→5
    # with a branch 1→6: the k-hop ball from 0 grows one ring per
    # round, and the levels settle in five rounds
    edges = [(i, i, i + 1, "e") for i in range(5)] + [(5, 1, 6, "e")]
    g = _property_graph(spark, list(range(7)), edges)
    ego, jobs = _jobs(
        spark,
        "bfs-pin-k-hop",
        lambda: sorted(r["id"] for r in k_hop_subgraph(g, [0], k=3).vertices.collect()),
    )
    assert ego == [0, 1, 2, 3, 6]
    assert jobs == 21
    levels, jobs = _jobs(
        spark,
        "bfs-pin-topo",
        lambda: {r["id"]: r["level"] for r in topological_levels(g).collect()},
    )
    assert levels == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 2}
    assert jobs == 45
