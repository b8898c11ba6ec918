"""Connected components, triangle counting, near-dup clustering."""

from contextlib import contextmanager

from pyspark.sql import functions as F

from titan_spark.compute import connected_components, triangle_count
from titan_spark.graph import PropertyGraph
from titan_spark.pipeline.dedup import dedup_clusters


def test_connected_components_disconnected(spark):
    # components: {1,2,3} chain, {4,5}, {6} isolated
    v = spark.createDataFrame([(i, "n") for i in range(1, 7)], "id long, label string")
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 2, 3), (3, 5, 4)], "edge_id long, src long, dst long"
    ).withColumn("label", F.lit("x"))
    g = PropertyGraph(v, e)
    cc = {r["id"]: r["component"] for r in connected_components(g).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_connected_components_long_chain(spark):
    # diameter > checkpoint interval: 40-node path
    n = 40
    v = spark.createDataFrame([(i, "n") for i in range(n)], "id long, label string")
    e = spark.createDataFrame(
        [(i, i, i + 1) for i in range(n - 1)], "edge_id long, src long, dst long"
    ).withColumn("label", F.lit("x"))
    cc = connected_components(PropertyGraph(v, e), max_iterations=50)
    assert cc.select("component").distinct().count() == 1


def test_triangle_count_gods(gods):
    # jupiter-neptune-pluto brother edges form ONE undirected triangle
    tri = triangle_count(gods, edge_labels=("brother",))
    rows = {r["id"]: r["triangles"] for r in tri.collect()}
    assert rows[4] == 1 and rows[5] == 1 and rows[8] == 1  # the three gods
    assert sum(rows.values()) == 3  # one triangle touches 3 vertices
    # full graph adds the pluto-cerberus-tartarus triangle
    # (pet 8→11, lives 11→12, lives 8→12): two triangles total
    tri_all = triangle_count(gods)
    assert tri_all.agg(F.sum("triangles")).first()[0] == 6


def test_triangle_degree_orientation_bounds_hub_wedges(spark):
    # supernode fixture: hub id 0 (the LOWEST id — the worst case for
    # id-ordering, which would enumerate ~C(200,2)=19900 wedges at it)
    # with 200 leaves, plus a 1-2-3 triangle among the first leaves
    from titan_spark.compute.algorithms import degree_oriented_edges

    n = 200
    v = spark.createDataFrame([(i, "n") for i in range(n + 1)], "id long, label string")
    edges = [(i, 0, i) for i in range(1, n + 1)] + [(n + 1, 1, 2), (n + 2, 2, 3), (n + 3, 1, 3)]
    e = spark.createDataFrame(edges, "edge_id long, src long, dst long").withColumn(
        "label", F.lit("x")
    )
    g = PropertyGraph(v, e)
    rows = {r["id"]: r["triangles"] for r in triangle_count(g).collect()}
    # triangles: (0,1,2),(0,2,3),(0,1,3),(1,2,3)
    assert rows[0] == 3 and rows[1] == 3 and rows[2] == 3 and rows[3] == 3
    assert sum(rows.values()) == 12 and rows[7] == 0
    # the degree orientation points every hub edge INTO the hub: the
    # hub enumerates zero wedges and total wedge work stays bounded by
    # arboricity, not hub-degree²
    und = (
        g.edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    outdeg = {r["u"]: r["n"] for r in
              degree_oriented_edges(und).groupBy("u").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0 not in outdeg  # hub is never a wedge source
    wedges = sum(d * (d - 1) // 2 for d in outdeg.values())
    assert wedges <= 4  # vs ~19900 under id-ordering


def test_dedup_clusters_transitive(spark):
    # pairs (1,2),(2,3) and (7,9): clusters {1,2,3}->1 and {7,9}->7
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_rep"] for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_label_propagation_clique_converges(spark):
    from titan_spark.compute.algorithms import label_propagation
    from titan_spark.graph import PropertyGraph

    # triangle {1,2,3} + isolated vertex 9: the clique converges to the
    # min-id community in 3 sync rounds; the isolate keeps its own label
    v = spark.createDataFrame([(1, "n"), (2, "n"), (3, "n"), (9, "n")], "id long, label string")
    e = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 2, 3, "x"), (3, 1, 3, "x")],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r["community"] for r in label_propagation(g, iterations=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_label_propagation_modal_beats_min(spark):
    from titan_spark.compute.algorithms import label_propagation
    from titan_spark.graph import PropertyGraph

    # vertex 5's neighbors: {1, 2, 3} all pre-labeled... after round 1,
    # hub 4 sees three spokes labeled 4 vs one neighbor labeled 0 — the
    # MODAL label (4) must win over the smaller label (0)
    v = spark.createDataFrame(
        [(0, "n"), (4, "n"), (7, "n"), (8, "n"), (9, "n")], "id long, label string"
    )
    e = spark.createDataFrame(
        [(1, 4, 7, "x"), (2, 4, 8, "x"), (3, 4, 9, "x"), (4, 0, 4, "x")],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    # round 1: spokes 7/8/9 adopt 4; hub 4 adopts min neighbor 0; 0 adopts 4
    # round 2: hub's neighbors are labeled {4,4,4,4} -> modal 4 (not min 0)
    got = {r["id"]: r["community"] for r in label_propagation(g, iterations=2).collect()}
    assert got[4] == 4
    assert got[7] == got[8] == got[9] == 0  # spokes see only the hub's r1 label


def test_connected_components_warns_when_capped(spark):
    # a 12-node path needs several rounds; capping at 1 must not return
    # silently under-merged components without saying so. Only the
    # distributed loop has a round cap, so force it.
    import warnings as w

    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import connected_components
    from titan_spark.graph import PropertyGraph

    v = spark.range(12).select(F.col("id"), F.lit("n").alias("label"))
    e = spark.createDataFrame(
        [(i, i, i + 1, "l") for i in range(11)],
        "edge_id long, src long, dst long, label string",
    )
    with w.catch_warnings(record=True) as caught, _broadcast_threshold(spark, "-1"):
        w.simplefilter("always")
        connected_components(PropertyGraph(v, e), max_iterations=1).collect()
    assert any("did not converge" in str(c.message) for c in caught)


@contextmanager
def _broadcast_threshold(spark, value):
    """Set ``spark.sql.autoBroadcastJoinThreshold`` for the block; ``-1``
    forces connected_components' distributed arm."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _random_graph(spark, rng):
    """A small random graph with isolated vertices, duplicate vertex
    rows, self-loops, parallel edges, ghost and null endpoints, and two
    edge labels. Arrow-built, so both frames are local relations."""
    import pyarrow as pa

    ids = rng.sample(range(-20, 200), rng.randint(0, 30))
    vids = ids + rng.sample(ids, min(len(ids), rng.randint(0, 3)))
    pool = ids + [rng.randint(-30, 250) for _ in range(3)] + [None]
    edges = []
    for k in range(rng.randint(0, 40)):
        if ids and rng.random() < 0.05:
            src = dst = rng.choice(ids)
        elif edges and rng.random() < 0.05:
            src, dst = edges[-1][1:3]
        else:
            src, dst = rng.choice(pool), rng.choice(pool)
        edges.append((k, src, dst, rng.choice("ab")))
    v = spark.createDataFrame(
        pa.table({"id": pa.array(vids, pa.int64()), "label": ["n"] * len(vids)})
    )
    cols = list(zip(*edges)) or [(), (), (), ()]
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


def test_connected_components_driver_arm_matches_distributed(spark, monkeypatch):
    import random

    from titan_spark.compute import algorithms

    arms = []
    driver_arm = algorithms._cc_on_driver

    def recording(*args):
        out = driver_arm(*args)
        arms.append(out is not None)
        return out

    monkeypatch.setattr(algorithms, "_cc_on_driver", recording)

    def rows(g, labels):
        out = connected_components(g, edge_labels=labels).collect()
        return sorted((tuple(r) for r in out), key=repr)

    rng = random.Random(20261017)
    for _ in range(50):
        g = _random_graph(spark, rng)
        labels = rng.choice([(), ("a",)])
        driver = rows(g, labels)
        with _broadcast_threshold(spark, "-1"):
            distributed = rows(g, labels)
        assert driver == distributed
    assert arms == [True, False] * 50


def test_connected_components_driver_arm_capped_whatever_the_threshold(spark, gods, monkeypatch):
    # a broadcast threshold raised for joins must not pull a graph over
    # the driver arm's own ceiling onto the driver
    from titan_spark.compute import algorithms

    arms = []
    driver_arm = algorithms._cc_on_driver

    def recording(*args):
        out = driver_arm(*args)
        arms.append(out is not None)
        return out

    monkeypatch.setattr(algorithms, "_cc_on_driver", recording)
    # gods: 12 vertex rows + 2 x 17 edge endpoints = 46 ids
    monkeypatch.setattr(algorithms, "_CC_DRIVER_MAX_IDS", 45)
    with _broadcast_threshold(spark, "1g"):
        over = {r["component"] for r in connected_components(gods).collect()}
    monkeypatch.setattr(algorithms, "_CC_DRIVER_MAX_IDS", 46)
    with _broadcast_threshold(spark, "1g"):
        under = {r["component"] for r in connected_components(gods).collect()}
    assert over == under == {1}
    assert arms == [False, True]


def test_connected_components_driver_arm_job_count(spark, gods):
    # the distributed loop made 42-48 jobs on this graph
    sc = spark.sparkContext
    group = "cc-driver-arm-job-count"
    sc.setJobGroup(group, group)
    try:
        got = {r["component"] for r in connected_components(gods).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert got == {1}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_k_core_cascading_peel(spark, monkeypatch):
    # path 0-1-2-3-4 hanging off a 4-cycle (5,6,7,8): the 2-core is the
    # cycle alone, found only after the tail peels one layer per round
    from pyspark.sql import functions as F

    from titan_spark.compute import algorithms
    from titan_spark.compute.algorithms import k_core
    from titan_spark.graph import PropertyGraph

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (8, 5)]
    v = spark.range(9).select("id", F.lit("n").alias("label"))
    e = spark.createDataFrame(
        [(i, a, b, "l") for i, (a, b) in enumerate(edges)],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    # the second pass sets the broadcast cap to 0, which leaves the
    # drop set's broadcast hint off: the planner's joins give the
    # same rows
    for cap in (algorithms._PEEL_BROADCAST_MAX_ROWS, 0):
        monkeypatch.setattr(algorithms, "_PEEL_BROADCAST_MAX_ROWS", cap)
        core2 = {r["id"]: r["core_degree"] for r in k_core(g, k=2).collect()}
        assert core2 == {5: 2, 6: 2, 7: 2, 8: 2}, cap
        # and an unconverged fixed-round prefix is still deterministic:
        # round 1 peels the degree-1 endpoint 0; the output filter then
        # also hides vertex 1, whose degree fell below k in the
        # restricted edge set (it would be peeled next round)
        one = {r["id"] for r in k_core(g, k=2, rounds=1).collect()}
        assert one == {2, 3, 4, 5, 6, 7, 8}, cap
        # 3-core is empty (max degree in the 2-core is 2)
        assert k_core(g, k=3).count() == 0, cap


def test_clustering_coefficient_closed_forms(spark):
    # triangle with a pendant vertex: the apex (0) has d=3, T=1 -> 1/3;
    # the two other triangle corners have d=2, T=1 -> 1.0; the pendant
    # (3) has d=1 -> 0.0
    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import clustering_coefficient
    from titan_spark.graph import PropertyGraph

    edges = [(0, 1), (1, 2), (2, 0), (0, 3)]
    v = spark.range(4).select("id", F.lit("n").alias("label"))
    e = spark.createDataFrame(
        [(i, a, b, "l") for i, (a, b) in enumerate(edges)],
        "edge_id long, src long, dst long, label string",
    )
    got = {r["id"]: round(r["coefficient"], 6)
           for r in clustering_coefficient(PropertyGraph(v, e)).collect()}
    assert got == {0: round(1 / 3, 6), 1: 1.0, 2: 1.0, 3: 0.0}


def test_k_truss_peels_to_k4(spark):
    # K4 on {0,1,2,3} (every edge in 2 triangles) plus a triangle
    # {3,4,5} hanging off it (each of its edges in exactly 1 triangle):
    # the 4-truss is K4 alone; the 3-truss keeps both
    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import k_truss
    from titan_spark.graph import PropertyGraph

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(3, 4), (4, 5), (3, 5)]
    edges = k4 + tail
    v = spark.range(6).select("id", F.lit("n").alias("label"))
    e = spark.createDataFrame(
        [(i, a, b, "l") for i, (a, b) in enumerate(edges)],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    t4 = {(r["a"], r["b"]): r["support"] for r in k_truss(g, k=4).collect()}
    assert set(t4) == set(k4) and all(s == 2 for s in t4.values())
    t3 = {(r["a"], r["b"]) for r in k_truss(g, k=3).collect()}
    assert t3 == set(edges)
    # 5-truss of this graph is empty (K4 supports at most k=4)
    assert k_truss(g, k=5).count() == 0


def test_closeness_centrality_path_graph(spark):
    """Closed form on a 4-path 1-2-3-4 with landmarks {1, 4}:
    d(1)={0,3}, d(2)={1,2}, d(3)={2,1}, d(4)={3,0}. Landmarks
    exclude their own d=0 row: (2-1)/3 = 0.333333; non-landmarks
    keep both reached landmarks: 2/3 = 0.666667."""
    from titan_spark.compute import closeness_centrality
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 2, 3, "e"), (12, 3, 4, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r for r in closeness_centrality(g, [1, 4]).collect()}
    assert set(got) == {1, 2, 3, 4}
    for i in range(1, 5):
        assert got[i]["n_reached"] == 2
    assert got[1]["closeness"] == got[4]["closeness"] == round(1 / 3, 6)
    assert got[2]["closeness"] == got[3]["closeness"] == round(2 / 3, 6)


def test_closeness_centrality_disconnected_landmark(spark):
    """A vertex out of reach of every landmark gets no row; a lone
    landmark island keeps closeness 0 (sum d = 0 guard)."""
    from titan_spark.compute import closeness_centrality
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "n") for i in range(1, 6)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 4, 5, "e")], ["edge_id", "src", "dst", "label"]
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r for r in closeness_centrality(g, [1, 3]).collect()}
    # island {4,5} unreachable from any landmark -> absent
    assert set(got) == {1, 2, 3}
    assert got[3]["n_reached"] == 1 and got[3]["closeness"] == 0.0
    # non-landmark vertex 2 reaches landmark 1 at d=1: closeness 1/1
    assert got[2]["n_reached"] == 1 and got[2]["closeness"] == 1.0
    # landmark 1 excludes its own d=0 row and reaches no other: 0
    assert got[1]["n_reached"] == 1 and got[1]["closeness"] == 0.0


def test_harmonic_centrality_path_graph(spark):
    """4-path 1-2-3-4, landmarks {1, 4}: harmonic(v) = sum 1/d to the
    OTHER landmark(s): h(1)=1/3, h(2)=1+1/2, h(3)=1/2+1, h(4)=1/3."""
    from titan_spark.compute import harmonic_centrality
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 2, 3, "e"), (12, 3, 4, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r["harmonic"] for r in harmonic_centrality(g, [1, 4]).collect()}
    assert got[1] == round(1 / 3, 6) and got[4] == round(1 / 3, 6)
    assert got[2] == round(1 + 1 / 2, 6) and got[3] == round(1 / 2 + 1, 6)


def test_maximal_independent_set_properties(spark):
    """Independence + maximality on a small deterministic graph."""
    from titan_spark.compute import maximal_independent_set
    from titan_spark.graph import PropertyGraph

    # 8-cycle plus a chord and an isolated vertex
    n = 8
    v = spark.createDataFrame([(i, "n") for i in range(n + 1)], ["id", "label"])
    edges = [(100 + i, i, (i + 1) % n, "e") for i in range(n)] + [(200, 0, 4, "e")]
    e = spark.createDataFrame(edges, ["edge_id", "src", "dst", "label"])
    g = PropertyGraph(v, e)
    res = {r["id"]: r["in_mis"] for r in maximal_independent_set(g).collect()}
    assert set(res) == set(range(n + 1))
    mis = {i for i, in_ in res.items() if in_}
    adj = {}
    for _, s, d, _ in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # independence: no two MIS vertices adjacent
    for a in mis:
        assert not (adj.get(a, set()) & mis)
    # maximality: every non-MIS vertex has a MIS neighbor
    for b in set(range(n + 1)) - mis:
        assert adj.get(b, set()) & mis, f"vertex {b} could join the MIS"
    # isolated vertex is always in
    assert res[n] is True
    # deterministic across runs; different seed may differ
    again = {r["id"]: r["in_mis"] for r in maximal_independent_set(g).collect()}
    assert again == res


def test_topological_levels_diamond_and_cycle(spark):
    from titan_spark.compute import topological_levels
    from titan_spark.graph import PropertyGraph

    # diamond 1->2, 1->3, 2->4, 3->4, plus a long arm 1->5->4:
    # longest path to 4 has length 2 either way; 5 at level 1
    v = spark.createDataFrame([(i, "n") for i in range(1, 6)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 1, 3, "e"), (12, 2, 4, "e"), (13, 3, 4, "e"), (14, 1, 5, "e"), (15, 5, 4, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    got = {r["id"]: r["level"] for r in topological_levels(PropertyGraph(v, e)).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 5: 1, 4: 2}
    # a cycle raises instead of silently looping
    import pytest

    ec = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 2, 3, "e"), (12, 3, 1, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    vc = spark.createDataFrame([(i, "n") for i in range(1, 4)], ["id", "label"])
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(PropertyGraph(vc, ec), max_iterations=8)


def test_betweenness_path_graph(spark):
    """1-2-3-4, sources {1,4}: b(2)=b(3)=3 (Brandes deltas 2+1), ends 0."""
    from titan_spark.compute import betweenness_centrality
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 2, 3, "e"), (12, 3, 4, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    got = {r["id"]: r["betweenness"] for r in betweenness_centrality(PropertyGraph(v, e), [1, 4]).collect()}
    assert got == {1: 0.0, 2: 3.0, 3: 3.0, 4: 0.0}


def test_betweenness_diamond_split_paths(spark):
    """Diamond 1-(2|3)-4, source {1}: sigma(4)=2 so each middle vertex
    carries half a dependency."""
    from titan_spark.compute import betweenness_centrality
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], ["id", "label"])
    e = spark.createDataFrame(
        [(10, 1, 2, "e"), (11, 1, 3, "e"), (12, 2, 4, "e"), (13, 3, 4, "e")],
        ["edge_id", "src", "dst", "label"],
    )
    got = {r["id"]: r["betweenness"] for r in betweenness_centrality(PropertyGraph(v, e), [1]).collect()}
    assert got == {1: 0.0, 2: 0.5, 3: 0.5, 4: 0.0}


def test_greedy_coloring_proper_and_bounded(spark):
    from titan_spark.compute import greedy_coloring
    from titan_spark.graph import PropertyGraph

    # 5-cycle (odd: needs 3 colors, Δ+1 = 3) plus a pendant vertex
    v = spark.createDataFrame([(i, "n") for i in range(6)], ["id", "label"])
    edges = [(10 + i, i, (i + 1) % 5, "e") for i in range(5)] + [(20, 0, 5, "e")]
    e = spark.createDataFrame(edges, ["edge_id", "src", "dst", "label"])
    g = PropertyGraph(v, e)
    got = {r["id"]: r["color"] for r in greedy_coloring(g).collect()}
    assert set(got) == set(range(6))
    for _, s, d, _ in edges:
        assert got[s] != got[d], f"edge {s}-{d} monochromatic"
    assert max(got.values()) <= 3  # <= Delta + 1 = 4 colors (ids 0..3)
    again = {r["id"]: r["color"] for r in greedy_coloring(g).collect()}
    assert again == got
    # no vertex rows: an empty (id, color) frame
    none = greedy_coloring(PropertyGraph(v.limit(0), e))
    assert none.collect() == [] and none.dtypes == [("id", "bigint"), ("color", "int")]


def test_random_walks_semantics(spark, gods):
    """Deterministic hash-argmin walks: reproducible, dead ends stop,
    distinct walks from one start diverge, every step follows an edge."""
    from titan_spark.compute import random_walks

    g = gods.graph if hasattr(gods, "graph") else gods
    w = random_walks(g, length=3, direction="both", walks_per_start=2)
    rows = w.collect()
    assert len(rows) == 12 * 2 * 4  # every vertex has a neighbor (connected fixture)
    again = random_walks(g, length=3, direction="both", walks_per_start=2)
    assert {(r["walk_id"], r["step"], r["id"]) for r in rows} == {
        (r["walk_id"], r["step"], r["id"]) for r in again.collect()
    }
    # each step moves along a real (undirected) edge
    adj = set()
    for e in g.edges.select("src", "dst").collect():
        adj.add((e["src"], e["dst"]))
        adj.add((e["dst"], e["src"]))
    walks = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["id"]
    for steps in walks.values():
        for t in range(3):
            assert (steps[t], steps[t + 1]) in adj
    # two walks per start: at least half diverge on this fixture
    starts = {wid // 2 for wid in walks}
    diverging = sum(
        1 for s in starts if walks[2 * s] != walks.get(2 * s + 1, {})
    )
    assert diverging >= len(starts) // 2

    # directed walks stop at dead ends: hercules -father-> jupiter
    # -father-> saturn (no outgoing 'father') => 3 rows, steps 0..2
    herc = {r["name"]: r["id"] for r in g.vertices.select("id", "name").collect()}[
        "hercules"
    ]
    dw = random_walks(
        g, length=5, direction="out", edge_labels=("father",), start_ids=[herc]
    ).collect()
    got = sorted((r["step"], r["id"]) for r in dw)
    assert [s for s, _ in got] == [0, 1, 2]

    # every walk dead-ends before its length on a directed path
    # 0→1→2→3→4: the walk from i is i, i+1, ..., 4 for both walkers
    from titan_spark.compute.algorithms import node2vec_walks

    path = PropertyGraph(
        spark.createDataFrame([(i, "n") for i in range(5)], "id long, label string"),
        spark.createDataFrame(
            [(i, i, i + 1, "e") for i in range(4)],
            "edge_id long, src long, dst long, label string",
        ),
    )
    want = {(i, t, i + t) for i in range(5) for t in range(5 - i)}
    for walk in (random_walks, node2vec_walks):
        rows = walk(path, length=8, direction="out").collect()
        assert {(r["walk_id"], r["step"], r["id"]) for r in rows} == want, walk
        assert len(rows) == len(want)


def test_scc_closed_forms(spark):
    """SCC on handcrafted digraphs: cycles, singleton chains, and the
    color-invasion case that needs a second peeling round (upstream
    cycle {10,11} shadows downstream cycle {1,2})."""
    from titan_spark.compute import strongly_connected_components

    def scc_of(edges, ids):
        v = spark.createDataFrame([(i, "n") for i in ids], "id long, label string")
        e = spark.createDataFrame(
            [(k, a, b, "x") for k, (a, b) in enumerate(edges)],
            "edge_id long, src long, dst long, label string",
        )
        return {
            r["id"]: r["component"]
            for r in strongly_connected_components(PropertyGraph(v, e)).collect()
        }

    # directed triangle + a tail: {1,2,3} one SCC, 4 singleton
    got = scc_of([(1, 2), (2, 3), (3, 1), (3, 4)], [1, 2, 3, 4])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}

    # a directed path is all singletons (no mutual reachability)
    got = scc_of([(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4])
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}

    # color invasion: cycle {10,11} feeds cycle {1,2}; forward max
    # color 11 floods {1,2}, so their root check fails in round 1 and
    # they resolve only after {10,11} retires — two outer rounds
    got = scc_of([(10, 11), (11, 10), (11, 1), (1, 2), (2, 1)], [1, 2, 10, 11])
    assert got == {10: 10, 11: 10, 1: 1, 2: 1}

    # figure-eight sharing vertex 5: one SCC (mutual through 5)
    got = scc_of([(5, 6), (6, 5), (5, 7), (7, 5)], [5, 6, 7])
    assert got == {5: 5, 6: 5, 7: 5}

    # self-loop-only and isolated vertices are singletons
    got = scc_of([(1, 1)], [1, 2])
    assert got == {1: 1, 2: 2}


def test_scc_agrees_with_weak_cc_on_symmetric_graph(spark):
    """On a symmetric (bidirectional) graph SCC must equal weak CC."""
    from titan_spark.compute import strongly_connected_components

    v = spark.createDataFrame([(i, "n") for i in range(1, 7)], "id long, label string")
    pairs = [(1, 2), (2, 3), (5, 4)]
    e = spark.createDataFrame(
        [(k, a, b, "x") for k, (a, b) in enumerate(pairs + [(b, a) for a, b in pairs])],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    scc = {r["id"]: r["component"] for r in strongly_connected_components(g).collect()}
    wcc = {r["id"]: r["component"] for r in connected_components(g).collect()}
    assert scc == wcc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_link_prediction_closed_forms(spark):
    """4-cycle 1-2-3-4: opposite corners share both neighbors."""
    import math

    import pytest

    from titan_spark.compute import link_prediction

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], "id long, label string")
    e = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 2, 3, "x"), (3, 3, 4, "x"), (4, 4, 1, "x")],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    got = {(r["id_a"], r["id_b"]): r for r in link_prediction(g).collect()}
    # wedge-generated candidates: the two diagonals only (adjacent
    # corners share no neighbor on a 4-cycle)
    assert set(got) == {(1, 3), (2, 4)}
    r = got[(1, 3)]
    assert r["common_neighbors"] == 2
    assert r["jaccard"] == 1.0  # 2 / (2 + 2 - 2)
    assert r["adamic_adar"] == pytest.approx(2 / math.log(2), abs=1e-6)
    assert r["resource_allocation"] == pytest.approx(1.0, abs=1e-6)
    # explicit candidate pairs: a no-common-neighbor pair scores zeros
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    z = link_prediction(g, pairs=pairs).collect()[0]
    assert z["common_neighbors"] == 0 and z["jaccard"] == 0.0
    # hub cap: center degree 2 excludes every center on the square
    assert link_prediction(g, max_center_degree=1).count() == 0


def test_condensation_and_khop(spark):
    """SCC condensation of the block-cycle fixture is a DAG whose
    topological levels match block order; k-hop extraction returns the
    induced ball."""
    from titan_spark.compute import (
        condensation,
        k_hop_subgraph,
        strongly_connected_components,
        topological_levels,
    )
    from titan_spark.sources.fixtures import block_cycle_digraph

    g = block_cycle_digraph(spark, n_blocks=6, block=4)
    scc = strongly_connected_components(g)
    cond = condensation(g, components=scc)
    # cyclic blocks (idx % 3 != 2) contract to 1 vertex of 4 members;
    # chain blocks contribute 4 singletons: 4 blocks x 1 + 2 x 4 = 12
    sizes = {r["id"]: r["n_members"] for r in cond.vertices.collect()}
    assert len(sizes) == 12 and sorted(sizes.values())[-4:] == [4, 4, 4, 4]
    # the condensation is a DAG: topological layering converges, and
    # block heads appear in block order
    lv = {r["id"]: r["level"] for r in topological_levels(cond).collect()}
    assert lv[0] < lv[4] < lv[12]  # heads of blocks 0, 1, 3
    # 1-hop ball around vertex 0: its cycle neighbors {1, 3} + cross head 4
    sub = k_hop_subgraph(g, [0], k=1)
    assert {r["id"] for r in sub.vertices.collect()} == {0, 1, 3, 4}
    # induced edges only (both endpoints inside)
    pairs = {(r["src"], r["dst"]) for r in sub.edges.collect()}
    assert (0, 1) in pairs and (3, 0) in pairs and (0, 4) in pairs
    assert all(a in {0, 1, 3, 4} and b in {0, 1, 3, 4} for a, b in pairs)


def test_degree_assortativity_closed_forms(spark):
    """Star = perfectly disassortative (-1); a single edge between
    equal-degree endpoints has zero variance -> 0 by convention."""
    from titan_spark.compute import degree_assortativity

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], "id long, label string")
    e = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 1, 3, "x"), (3, 1, 4, "x")],
        "edge_id long, src long, dst long, label string",
    )
    row = degree_assortativity(PropertyGraph(v, e)).collect()[0]
    assert row["n_edges"] == 3 and row["assortativity"] == -1.0
    v2 = spark.createDataFrame([(1, "n"), (2, "n")], "id long, label string")
    e2 = spark.createDataFrame(
        [(1, 1, 2, "x")], "edge_id long, src long, dst long, label string"
    )
    row2 = degree_assortativity(PropertyGraph(v2, e2)).collect()[0]
    assert row2["n_edges"] == 1 and row2["assortativity"] == 0.0


def test_transitivity_closed_forms(spark):
    """K4: every wedge closes (transitivity 1); star: none close."""
    from titan_spark.compute import transitivity

    v = spark.createDataFrame([(i, "n") for i in range(1, 5)], "id long, label string")
    k4 = spark.createDataFrame(
        [(k, a, b, "x") for k, (a, b) in enumerate(
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])],
        "edge_id long, src long, dst long, label string",
    )
    row = transitivity(PropertyGraph(v, k4)).collect()[0]
    assert row["n_triangles"] == 4 and row["n_wedges"] == 12
    assert row["transitivity"] == 1.0
    star = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 1, 3, "x"), (3, 1, 4, "x")],
        "edge_id long, src long, dst long, label string",
    )
    row2 = transitivity(PropertyGraph(v, star)).collect()[0]
    assert row2["n_triangles"] == 0 and row2["n_wedges"] == 3
    assert row2["transitivity"] == 0.0


def test_dedup_weights_soft_mass(spark):
    """Cluster {1,2,3} and {10,11} under alpha=1: members weigh 1/size
    so each cluster sums to one document of mass; 99 is untouched and
    keeps weight 1 with itself as rep."""
    from titan_spark.pipeline.dedup import dedup_weights

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    rows = {r["doc_id"]: r for r in dedup_weights(docs, pairs).collect()}
    assert {k: v["cluster_rep"] for k, v in rows.items()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99
    }
    assert {k: v["cluster_size"] for k, v in rows.items()} == {
        1: 3, 2: 3, 3: 3, 10: 2, 11: 2, 99: 1
    }
    assert abs(sum(v["weight"] for v in rows.values()) - 3.0) < 1e-5
    # alpha=0.5 interpolates toward keeping everything
    half = {r["doc_id"]: r["weight"] for r in dedup_weights(docs, pairs, alpha=0.5).collect()}
    assert abs(half[1] - 3 ** -0.5) < 1e-6 and half[99] == 1.0


def test_approximate_diameter_closed_forms(spark):
    """Path P5: double sweep is exact (diameter 4, start = an interior
    max-degree vertex, far = an endpoint). Star: diameter_lb 2.
    Edgeless: empty result."""
    from titan_spark.compute import approximate_diameter
    from titan_spark.graph import PropertyGraph

    def g(vids, pairs):
        v = spark.createDataFrame([(i, "x") for i in vids], ["id", "label"])
        e = spark.createDataFrame(
            [(0, a, b, "e") for a, b in pairs],
            "edge_id long, src long, dst long, label string",
        )
        return PropertyGraph(v, e)

    path = g(range(5), [(0, 1), (1, 2), (2, 3), (3, 4)])
    row = approximate_diameter(path).collect()[0]
    # degree-2 tie at vertices 1,2,3 -> min id 1; ecc(1)=3 to vertex 4;
    # second sweep from 4 finds the true diameter 4
    assert (row["start_id"], row["ecc_start"], row["far_id"], row["diameter_lb"]) == (1, 3, 4, 4)

    star = g(range(6), [(0, i) for i in range(1, 6)])
    row = approximate_diameter(star).collect()[0]
    assert row["start_id"] == 0 and row["ecc_start"] == 1 and row["diameter_lb"] == 2

    empty = g([1, 2], [])
    assert approximate_diameter(empty).count() == 0

    # a ghost hub (99, no vertex row) is not picked: both sweeps run on
    # vertex rows, so with no edge between them the result is empty
    hub = [(99, 1), (99, 2), (99, 3)]
    assert approximate_diameter(g([1, 2, 3], hub)).count() == 0
    row = approximate_diameter(g([1, 2, 3], hub + [(2, 3)])).collect()[0]
    assert (row["start_id"], row["ecc_start"], row["far_id"], row["diameter_lb"]) == (2, 1, 3, 1)


def test_cc_pruned_bridge_regression(spark):
    """Regression for the r8 settled-edge-drop bug: triangle {1,2,3}
    plus chain 2-9-0. Round 1 labels 2 and 3 with 1 (pruning the
    triangle edges as 'settled'); round 2 teaches 2 the true min 0 via
    9 — with a plain DROP, vertices 1 and 3 are cut off and stick at
    component 1. Edge CONTRACTION keeps the (1,0) quotient edge alive
    and merges everything to 0."""
    from titan_spark.compute.algorithms import connected_components
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(i, "n") for i in (0, 1, 2, 3, 9)], "id long, label string"
    )
    e = spark.createDataFrame(
        [(0, 1, 2, "x"), (1, 1, 3, "x"), (2, 2, 3, "x"), (3, 2, 9, "x"), (4, 9, 0, "x")],
        "edge_id long, src long, dst long, label string",
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(PropertyGraph(v, e)).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 9: 0}
