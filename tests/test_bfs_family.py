"""The loop families on the two drivers, against independent oracles.
On the frontier driver: closeness and harmonic (landmark distances),
sampled betweenness, k_hop_subgraph, bidirectional_distance,
topological_levels, shortest_distance, strongly_connected_components,
k_truss, and random_walks and node2vec_walks (pinned for their job
counts only). On the whole-state fixpoint driver: ``pregel()``'s fixed
rounds (pagerank, personalized_pagerank and label_propagation), k_core,
maximal_independent_set, greedy_coloring, connected_components'
distributed label loop, minimum_spanning_forest and louvain's move
rounds (pinned for their job counts only).

Ghost-vertex rule (an edge endpoint with no vertex row): the BFS loops
expand over the edge relation alone, so a ghost is a vertex of the
traversal — it is reached, counted in closeness/harmonic rows and lies
on shortest paths. Seeds that are filtered from the vertex table
(landmarks, betweenness sources) must be vertex rows; outputs joined to
the vertex table (betweenness, k_hop_subgraph's vertices) list vertex
rows only. topological_levels layers vertex rows only: an edge with a
ghost endpoint takes no part in it. shortest_distance likewise: a ghost
neither gets a distance nor relays one, so the oracle runs on the
vertex-row subgraph. strongly_connected_components drops every edge
with a ghost endpoint, so its oracle also runs on the vertex-row
subgraph. k_truss peels the edge relation alone, so a ghost endpoint is
a truss vertex, and k_core likewise peels the edge relation alone.
maximal_independent_set and greedy_coloring list vertex rows only and
ignore every edge with a ghost endpoint. label_propagation: a ghost
neither sends nor receives a label. pagerank and personalized_pagerank:
N counts vertex rows, an edge to a ghost counts in its source's outdeg
but delivers nothing (its mass is lost), a ghost source sends nothing,
and a ghost seed counts in |S| but holds no mass.
"""

import random
import warnings
from collections import Counter
from fractions import Fraction

import networkx as nx
import numpy as np
import pyarrow as pa
import pytest

from titan_spark.compute import (
    betweenness_centrality,
    bidirectional_distance,
    closeness_centrality,
    connected_components,
    greedy_coloring,
    harmonic_centrality,
    k_core,
    k_hop_subgraph,
    k_truss,
    label_propagation,
    louvain,
    maximal_independent_set,
    pagerank,
    personalized_pagerank,
    shortest_distance,
    strongly_connected_components,
    topological_levels,
)
from titan_spark.compute.algorithms import minimum_spanning_forest, node2vec_walks, random_walks
from titan_spark.graph import PropertyGraph


def _property_graph(spark, ids, edges, weights=None):
    cols = list(zip(*edges)) or [(), (), (), ()]
    v = spark.createDataFrame(
        pa.table({"id": pa.array(ids, pa.int64()), "label": ["n"] * len(ids)})
    )
    columns = {
        "edge_id": pa.array(cols[0], pa.int64()),
        "src": pa.array(cols[1], pa.int64()),
        "dst": pa.array(cols[2], pa.int64()),
        "label": pa.array(cols[3], pa.string()),
    }
    if weights is not None:
        columns["w"] = pa.array(weights, pa.float64())
    return PropertyGraph(v, spark.createDataFrame(pa.table(columns)))


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


def _vertex_rows(dg, ids):
    """``dg`` restricted to the vertex rows, every row a node."""
    sub = dg.subgraph(ids).copy()
    sub.add_nodes_from(ids)
    return sub


def _widest_seed(view, ids):
    """The vertex row that reaches the most vertices, ties to the
    smallest id."""
    return min(ids, key=lambda v: (-len(nx.descendants(view, v)), v))


def _label_replay(ids, edges, labels, rounds):
    """Synchronous label propagation replayed in pure Python: each
    vertex row takes the modal label of its distinct undirected
    neighbours (a self-loop makes it its own neighbour), ties to the
    smallest label; no neighbour keeps the label. Ghosts take no part."""
    rows = set(ids)
    nbrs = {v: set() for v in ids}
    for _, s, d, lab in edges:
        if (not labels or lab in labels) and s in rows and d in rows:
            nbrs[d].add(s)
            nbrs[s].add(d)
    community = {v: v for v in ids}
    for _ in range(rounds):
        new = {}
        for v in ids:
            votes = Counter(community[u] for u in nbrs[v])
            top = max(votes.values(), default=0)
            new[v] = min((c for c, k in votes.items() if k == top), default=community[v])
        community = new
    return community


def _truss_replay(edges, labels, k, rounds):
    """The k-truss peel replayed in pure Python over the undirected
    simple edge set (a < b), ghosts included: each of at most
    ``rounds`` rounds drops every edge in fewer than k−2 triangles of
    the surviving edges, stopping early once a round drops nothing;
    support is then counted on the edges left."""
    kept = {
        (min(s, d), max(s, d))
        for _, s, d, lab in edges
        if s != d and (not labels or lab in labels)
    }

    def support():
        nbrs = {}
        for a, b in kept:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        return {(a, b): len(nbrs[a] & nbrs[b]) for a, b in kept}

    for _ in range(rounds):
        weak = {e for e, n in support().items() if n < k - 2}
        if not weak:
            break
        kept -= weak
    return support()


def _core_replay(edges, labels, k, rounds):
    """The k-core peel replayed in pure Python over the undirected
    simple edge set, ghosts included (the catalog oracle's rule): each
    of at most ``rounds`` rounds drops every vertex of degree below k
    and its edges, stopping early once a round drops nothing; the rows
    are the vertices left with degree at least k."""
    kept = {
        (min(s, d), max(s, d))
        for _, s, d, lab in edges
        if s != d and (not labels or lab in labels)
    }
    for _ in range(rounds):
        low = {v for v, n in Counter(v for e in kept for v in e).items() if n < k}
        if not low:
            break
        kept = {(a, b) for a, b in kept if a not in low and b not in low}
    return {v: n for v, n in Counter(v for e in kept for v in e).items() if n >= k}


def _rank_replay(ids, edges, labels, alpha, rounds, seeds=None):
    """PageRank (``seeds`` None) or personalized PageRank replayed with
    numpy: x' = restart + α·M·x, M[d, s] = (#edges s→d)/outdeg(s), with
    outdeg over every kept edge of s, ghost targets included."""
    idx = {v: i for i, v in enumerate(ids)}
    kept = [(s, d) for _, s, d, lab in edges if not labels or lab in labels]
    outdeg = Counter(s for s, _ in kept)
    m = np.zeros((len(ids), len(ids)))
    for s, d in kept:
        if s in idx and d in idx:
            m[idx[d], idx[s]] += 1.0 / outdeg[s]
    if seeds is None:
        x = np.full(len(ids), 1.0 / len(ids))
        restart = np.full(len(ids), (1.0 - alpha) / len(ids))
    else:
        x = np.zeros(len(ids))
        for s in seeds:
            if s in idx:
                x[idx[s]] = 1.0 / len(seeds)
        restart = (1.0 - alpha) * x
    for _ in range(rounds):
        x = restart + alpha * (m @ x)
    return {v: x[i] for v, i in idx.items()}


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

        # single-source distance in each direction, from the vertex row
        # that reaches the most, over the vertex-row subgraph
        sub = _vertex_rows(dg, ids)
        views = {"out": sub, "in": sub.reverse(), "both": sub.to_undirected()}
        for direction, view in views.items():
            src = _widest_seed(view, ids)
            want = nx.single_source_shortest_path_length(view, src)
            got = shortest_distance(g, src, direction=direction, edge_labels=labels)
            assert {r["id"]: r["distance"] for r in got.collect()} == {
                v: want.get(v) for v in ids
            }, direction
        with pytest.raises(ValueError, match=r"direction must be out\|in\|both"):
            shortest_distance(g, src, direction="sideways")

        # strongly connected components of the vertex-row subgraph,
        # each named by its min id
        want = {v: min(c) for c in nx.strongly_connected_components(sub) for v in c}
        got = strongly_connected_components(g, edge_labels=labels)
        assert {r["id"]: r["component"] for r in got.collect()} == want

        # Luby's set is independent and maximal on the vertex-row
        # subgraph, and greedy coloring colours it properly, each vertex
        # with at most its degree (a vertex left out of a colour's MIS
        # has a neighbour in it)
        simple = _undirected(sub)
        got = maximal_independent_set(g, edge_labels=labels).collect()
        assert sorted(r["id"] for r in got) == sorted(ids)
        mis = {r["id"] for r in got if r["in_mis"]}
        assert not any(a in mis and b in mis for a, b in simple.edges)
        assert all(v in mis or mis & set(simple[v]) for v in ids)
        color = {r["id"]: r["color"] for r in greedy_coloring(g, edge_labels=labels).collect()}
        assert color.keys() == set(ids)
        assert all(color[a] != color[b] for a, b in simple.edges)
        assert all(color[v] <= simple.degree(v) for v in ids)

        # the 2-core peel, cut short after one and two rounds and run to
        # its fixpoint
        for rounds in (1, 2, 20):
            got = k_core(g, k=2, rounds=rounds, edge_labels=labels)
            assert {r["id"]: r["core_degree"] for r in got.collect()} == (
                _core_replay(edges, labels, 2, rounds)
            ), rounds

        # the 4-truss peel, cut short after one and two rounds and run to
        # its fixpoint
        for rounds in (1, 2, 20):
            got = k_truss(g, k=4, rounds=rounds, edge_labels=labels)
            assert {(r["a"], r["b"]): r["support"] for r in got.collect()} == (
                _truss_replay(edges, labels, 4, rounds)
            ), rounds

        # label propagation against a synchronous replay
        got = label_propagation(g, iterations=3, edge_labels=labels)
        assert {r["id"]: r["community"] for r in got.collect()} == _label_replay(
            ids, edges, labels, 3
        )

        # pagerank and personalized pagerank against a numpy replay; the
        # personalized seeds include ghosts
        for got, col, want in (
            (pagerank(g, 0.85, 10, labels), "pagerank",
             _rank_replay(ids, edges, labels, 0.85, 10)),
            (personalized_pagerank(g, seeds, 0.85, 10, labels), "ppr",
             _rank_replay(ids, edges, labels, 0.85, 10, seeds)),
        ):
            rows = {r["id"]: r[col] for r in got.collect()}
            assert rows.keys() == want.keys(), col
            assert max(abs(rows[v] - want[v]) for v in ids) <= 1e-12, col

    # weighted distance against Dijkstra: parallel edges of different
    # weights (the lightest counts) and one NULL weight, which carries
    # nothing, on an edge leaving the source
    weights = [rng.choice([0.5, 1.0, 1.5, 2.0, 3.0]) for _ in edges]
    und = _vertex_rows(_digraph(edges, ()), ids).to_undirected()
    src = _widest_seed(und, ids)
    null = next(
        k for k, (_, s, d, _) in enumerate(edges)
        if src in (s, d) and s != d and {s, d} <= set(ids)
    )
    weights[null] = None
    wg = nx.Graph()
    wg.add_nodes_from(ids)
    for (_, s, d, _), w in zip(edges, weights):
        if w is not None and s in ids and d in ids:
            lightest = min(w, wg.edges[s, d]["weight"]) if wg.has_edge(s, d) else w
            wg.add_edge(s, d, weight=lightest)
    reach = nx.node_connected_component(und, src)
    assert any(
        len({w for (_, s, d, _), w in zip(edges, weights) if {s, d} == pair}) > 1
        for pair in ({s, d} for _, s, d, _ in edges if s in reach and d in reach)
    ), "no parallel edges of different weights in the source's component"
    want = nx.single_source_dijkstra_path_length(wg, src)
    got = shortest_distance(
        _property_graph(spark, ids, edges, weights), src, weight_col="w", direction="both"
    )
    assert {r["id"]: r["distance"] for r in got.collect()} == {v: want.get(v) for v in ids}

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


def test_capped_bfs_loops_warn(spark, sf_dir):
    import __spark_entry__ as entry

    g = _property_graph(spark, list(range(25)), [(i, i, i + 1, "e") for i in range(24)])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        closeness_centrality(g, [0], max_iterations=3).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        harmonic_centrality(g, [0], max_iterations=3).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        betweenness_centrality(g, [0], max_iterations=3).collect()
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = shortest_distance(g, 0, max_iterations=3).collect()
    assert {r["id"]: r["distance"] for r in got} == {
        i: float(i) if i <= 3 else None for i in range(25)
    }
    # Luby's first round on the path leaves 21 and 22 active, so a
    # one-round set is not maximal
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = maximal_independent_set(g, max_iterations=1).collect()
    assert not any(r["in_mis"] for r in got if r["id"] in (20, 21, 22, 23))
    # a search that settles within its cap, and the fixed-round
    # programs, whose rounds are what they compute, do not warn
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert shortest_distance(g, 0).filter("distance = 24").count() == 1
        # the 24th round settles the last vertex: the cap is met exactly
        assert shortest_distance(g, 0, max_iterations=24).filter("distance = 24").count() == 1
        # the second round empties the active set: the cap is met
        maximal_independent_set(g, max_iterations=2).collect()
        entry.queries()["mis_geo"](spark, sf_dir).collect()
        label_propagation(g, iterations=1).collect()
        pagerank(g, iterations=1).collect()
        personalized_pagerank(g, [0], iterations=1).collect()


def test_capped_scc_inner_fixpoint_raises_or_warns(spark):
    # colour 9 needs nine forward rounds to travel round a directed
    # 10-cycle, and a tenth to find it has settled, so two inner rounds
    # would leave it split into singletons
    cycle = _property_graph(spark, list(range(10)), [(i, i, (i + 1) % 10, "e") for i in range(10)])
    with pytest.raises(ValueError, match="did not converge"):
        strongly_connected_components(cycle, max_inner=2)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        strongly_connected_components(cycle, max_inner=2, strict=False)
    # nine rounds settle both fixpoints, so a cap of nine is met exactly
    for max_inner in (9, 10):
        got = strongly_connected_components(cycle, max_inner=max_inner).collect()
        assert {r["id"]: r["component"] for r in got} == dict.fromkeys(range(10), 0), max_inner


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
        "shortest_distance",
        "weighted_distance",
        "graph_diameter",
        "pagerank",
        "personalized_pagerank",
        "label_propagation",
        "scc_blocks",
        "condensation_dag",
        "k_truss",
        "k_core",
        "mis_geo",
        "minimum_spanning_tree",
        "louvain_cliques",
        "dedup_clusters",
        "random_walk_corpus",
        "node2vec_corpus",
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
    # one counted cut per round: a count run apart from the round's cut
    # (a lazy cut plus count()) raises these counts. A 6-path 0→…→5
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
    assert jobs == 18
    levels, jobs = _jobs(
        spark,
        "bfs-pin-topo",
        lambda: {r["id"]: r["level"] for r in topological_levels(g).collect()},
    )
    assert levels == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 2}
    assert jobs == 35
    dist, jobs = _jobs(
        spark,
        "bfs-pin-distance",
        lambda: {r["id"]: r["distance"] for r in shortest_distance(g, 0).collect()},
    )
    assert dist == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0, 5: 5.0, 6: 2.0}
    assert jobs == 34
    # colour invasion: the cycle {10, 11} floods {1, 2} with colour 11,
    # so SCC takes two outer rounds of both fixpoints
    inv = [(10, 11), (11, 10), (11, 1), (1, 2), (2, 1)]
    ig = _property_graph(spark, [1, 2, 10, 11], [(i, a, b, "x") for i, (a, b) in enumerate(inv)])
    scc, jobs = _jobs(
        spark,
        "bfs-pin-scc",
        lambda: {r["id"]: r["component"] for r in strongly_connected_components(ig).collect()},
    )
    assert scc == {1: 1, 2: 1, 10: 10, 11: 10}
    assert jobs == 65
    # K4 plus a tail triangle: the 4-truss peels the tail in one round
    # and the second round drops nothing
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs = k4 + [(3, 4), (4, 5), (3, 5)]
    kg = _property_graph(spark, list(range(6)), [(i, a, b, "l") for i, (a, b) in enumerate(pairs)])
    truss, jobs = _jobs(
        spark,
        "bfs-pin-truss",
        lambda: {(r["a"], r["b"]): r["support"] for r in k_truss(kg, k=4).collect()},
    )
    assert truss == dict.fromkeys(k4, 2)
    assert jobs == 21
    # fixed rounds: the initial cut, one cut per round and the collect
    ranks, jobs = _jobs(
        spark, "bfs-pin-pagerank", lambda: pagerank(g, iterations=3).collect()
    )
    assert len(ranks) == 7
    assert jobs == 20
    # walks: one cut per step; the out-walk from 2 follows the path
    for walk in (random_walks, node2vec_walks):
        corpus, jobs = _jobs(
            spark,
            f"bfs-pin-{walk.__name__}",
            lambda: walk(g, length=3, direction="out", start_ids=[2]).collect(),
        )
        assert sorted((r["step"], r["id"]) for r in corpus) == [(0, 2), (1, 3), (2, 4), (3, 5)]
        assert jobs == {random_walks: 11, node2vec_walks: 37}[walk], walk.__name__
    communities, jobs = _jobs(
        spark,
        "bfs-pin-lpa",
        lambda: {r["id"]: r["community"] for r in label_propagation(g).collect()},
    )
    assert communities == {0: 1, 1: 0, 2: 1, 3: 0, 4: 1, 5: 2, 6: 1}
    assert jobs == 17
    # k_core's peel on a 5-path hanging off a 4-cycle: five rounds of
    # drops, each counted once, and the round that drops nothing
    tail = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (8, 5)]
    cg = _property_graph(spark, list(range(9)), [(i, a, b, "l") for i, (a, b) in enumerate(tail)])
    core, jobs = _jobs(
        spark,
        "bfs-pin-k-core",
        lambda: {r["id"]: r["core_degree"] for r in k_core(cg, k=2).collect()},
    )
    assert core == dict.fromkeys(range(5, 9), 2)
    assert jobs == 25
    path = _property_graph(spark, list(range(25)), [(i, i, i + 1, "e") for i in range(24)])
    mis, jobs = _jobs(
        spark,
        "bfs-pin-mis",
        lambda: sorted(r["id"] for r in maximal_independent_set(path).collect() if r["in_mis"]),
    )
    assert mis == [0, 2, 4, 6, 8, 11, 14, 17, 19, 22, 24]
    assert jobs == 31
    # an odd cycle plus a pendant needs three colours
    c5 = [(i, i, (i + 1) % 5, "e") for i in range(5)] + [(5, 0, 5, "e")]
    c5g = _property_graph(spark, list(range(6)), c5)
    colors, jobs = _jobs(
        spark,
        "bfs-pin-coloring",
        lambda: {r["id"]: r["color"] for r in greedy_coloring(c5g).collect()},
    )
    assert colors == {0: 1, 1: 2, 2: 0, 3: 1, 4: 0, 5: 0}
    assert jobs == 50
    # with the broadcast threshold off, connected_components runs its
    # distributed label loop
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        comp, jobs = _jobs(
            spark,
            "bfs-pin-cc",
            lambda: {r["component"] for r in connected_components(path).collect()},
        )
    finally:
        spark.conf.set(key, old)
    assert comp == {0}
    assert jobs == 57
    # Borůvka's rounds and its pointer-jump passes, and louvain's move
    # rounds, each take one counted cut per round. These two counts
    # moved by up to two jobs between runs of the same code, so they
    # are bounds: the largest count measured (46 and 119) plus two
    rng = random.Random(7)
    chain = [(i, i + 1, float(w)) for i, w in enumerate(rng.sample(range(1, 1000), 39))]
    d = spark.createDataFrame(chain, "src long, dst long, weight double")
    forest, jobs = _jobs(
        spark,
        "bfs-pin-msf",
        lambda: sorted(tuple(r) for r in minimum_spanning_forest(d).collect()),
    )
    assert forest == chain
    assert jobs <= 48
    two = [0, 2, 4, 6], [1, 3, 5, 7]
    cliques = [(a, b) for cl in two for i, a in enumerate(cl) for b in cl[i + 1 :]] + [(0, 1)]
    lg = _property_graph(spark, list(range(8)), [(i, a, b, "x") for i, (a, b) in enumerate(cliques)])
    comm, jobs = _jobs(
        spark,
        "bfs-pin-louvain",
        lambda: {r["id"]: r["community"] for r in louvain(lg).collect()},
    )
    assert comm == {v: v % 2 for v in range(8)}
    assert jobs <= 121
