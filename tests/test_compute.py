"""BSP compute tests against the reference's closed-form oracles.

Fixtures follow FIXTURES.md F4 / OLAPTest.java:
- PageRank: complete 6-ary tree of depth 5 (9331 vertices), edges
  child→parent, closed-form per-depth PR (OLAPTest.java:511-535).
- Shortest distance: deterministic weighted tree, expected distances
  computed during generation.
- Degree counting: vertex i has out-degree uid=i+1
  (OLAPTest.java:61-89, 194-219).
"""

import pytest
from pyspark.sql import functions as F

from titan_spark.compute import aggregate_messages, degree_count, pagerank, shortest_distance
from titan_spark.graph import PropertyGraph

BRANCH, DIAMETER = 6, 5


@pytest.fixture(scope="module")
def pr_tree(spark):
    vertices = [(0, 0)]  # (id, depth)
    edges = []
    frontier = [0]
    next_id = 1
    for depth in range(1, DIAMETER + 1):
        new_frontier = []
        for parent in frontier:
            for _ in range(BRANCH):
                vid = next_id
                next_id += 1
                vertices.append((vid, depth))
                edges.append((len(edges) + 1, vid, parent))  # child -> parent
                new_frontier.append(vid)
        frontier = new_frontier
    v = spark.createDataFrame(vertices, "id long, distance int").withColumn(
        "label", F.lit("node")
    )
    e = spark.createDataFrame(edges, "edge_id long, src long, dst long").withColumn(
        "label", F.lit("knows")
    )
    return PropertyGraph(v, e)


def test_pagerank_closed_form(pr_tree):
    n = (BRANCH ** (DIAMETER + 1) - 1) // (BRANCH - 1)
    assert pr_tree.vertices.count() == n
    alpha = 0.85
    correct = [0.0] * (DIAMETER + 1)
    for i in range(DIAMETER, -1, -1):
        pr = (1.0 - alpha) / n
        if i < DIAMETER:
            pr += alpha * BRANCH * correct[i + 1]
        correct[i] = pr

    ranks = pagerank(pr_tree, alpha=alpha, iterations=10)
    got = (
        ranks.join(pr_tree.vertices.select("id", "distance"), "id")
        .groupBy("distance")
        .agg(F.avg("pagerank").alias("pr"), F.sum("pagerank").alias("s"))
        .collect()
    )
    by_depth = {r["distance"]: r for r in got}
    computed_sum = sum(r["s"] for r in got)
    correct_sum = sum(
        correct[d] * (BRANCH**d) for d in range(DIAMETER + 1)
    )
    assert abs(computed_sum - correct_sum) < 1e-3  # OLAPTest tolerance
    for d in range(DIAMETER + 1):
        assert by_depth[d]["pr"] == pytest.approx(correct[d], rel=1e-2)


@pytest.fixture(scope="module")
def sssp_tree(spark):
    # deterministic weighted tree: node k's weight to parent = (k % 3) + 1
    vertices = [(0,)]
    edges = []
    expected = {0: 0.0}
    frontier = [0]
    next_id = 1
    for _depth in range(4):
        new_frontier = []
        for parent in frontier:
            for _ in range(3):
                vid = next_id
                next_id += 1
                w = (vid % 3) + 1
                vertices.append((vid,))
                edges.append((len(edges) + 1, parent, vid, float(w)))  # parent -> child
                expected[vid] = expected[parent] + w
                new_frontier.append(vid)
        frontier = new_frontier
    v = spark.createDataFrame(vertices, "id long").withColumn("label", F.lit("node"))
    e = spark.createDataFrame(edges, "edge_id long, src long, dst long, weight double").withColumn(
        "label", F.lit("connect")
    )
    return PropertyGraph(v, e), expected


def test_shortest_distance_exact(sssp_tree):
    g, expected = sssp_tree
    dist = shortest_distance(g, seed_id=0, weight_col="weight", direction="out")
    got = {r["id"]: r["distance"] for r in dist.collect()}
    assert got == expected


def test_shortest_distance_unreachable(spark):
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long").withColumn("label", F.lit("n"))
    e = spark.createDataFrame([(1, 1, 2)], "edge_id long, src long, dst long").withColumn(
        "label", F.lit("x")
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r["distance"] for r in shortest_distance(g, seed_id=1).collect()}
    assert got[1] == 0.0 and got[2] == 1.0 and got[3] is None


@pytest.fixture(scope="module")
def degree_graph(spark):
    # vertex i (0-based) has uid=i+1 and exactly i+1 out edges (OLAPTest F4a)
    num_v = 50
    vertices = [(i, i + 1) for i in range(num_v)]
    edges = []
    eid = 0
    for i in range(num_v):
        for k in range(i + 1):
            eid += 1
            edges.append((eid, i, (i * 7 + k * 13) % num_v))  # deterministic targets
    v = spark.createDataFrame(vertices, "id long, uid int").withColumn("label", F.lit("node"))
    e = spark.createDataFrame(edges, "edge_id long, src long, dst long").withColumn(
        "label", F.lit("knows")
    )
    return PropertyGraph(v, e)


def test_degree_counting(degree_graph):
    num_v = 50
    out = degree_count(degree_graph, "out")
    rows = out.join(degree_graph.vertices, "id").select("uid", "degree").collect()
    for r in rows:
        assert r["degree"] == r["uid"]  # out-degree(v) == uid(v)
    total = out.agg(F.sum("degree")).collect()[0][0]
    assert total == num_v * (num_v + 1) // 2


def test_aggregate_messages_weighted_sum(degree_graph):
    # messages: every edge sends uid(src) to dst; agg = sum
    msgs = aggregate_messages(
        degree_graph.vertices,
        degree_graph.edges,
        agg=F.sum("msg").alias("total"),
        msg_to_dst=F.col("src.uid").cast("long"),
    )
    # cross-check against a plain relational formulation
    expected = (
        degree_graph.edges.join(
            degree_graph.vertices.select(F.col("id").alias("src"), "uid"), "src"
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("uid").alias("total"))
    )
    got = {r["id"]: r["total"] for r in msgs.collect()}
    exp = {r["id"]: r["total"] for r in expected.collect()}
    assert got == exp


def test_cut_lineage_keeps_long_loops_flat(spark):
    # Regression for the chained-checkpoint blowup (r5): a loop whose
    # round references the previous checkpointed state twice shows
    # per-round cost DOUBLING from ~the 17th chained localCheckpoint
    # (measured: 0.4s rounds hit 100s+ by round 23) with flat plans,
    # flat RDD lineage, flat rows, and flat heap. The cause is the
    # carried Catalyst size estimate, which the joins multiply;
    # cut_lineage clamps it to defaultSizeInBytes every round. This
    # runs 26 chained rounds, checks the clamp each round, and asserts
    # the tail rounds stay in the same cost regime as the warm early
    # rounds (the broken behavior is ~50-200x, so a 10x bound is a wide
    # margin, not a flaky timing assert).
    import time

    from pyspark.sql import functions as F

    from titan_spark.compute.checkpointing import cut_lineage

    edges = spark.createDataFrame([(i, i + 1) for i in range(50)], "u long, v long")
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).cache()
    und.count()
    state = und.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    state = cut_lineage(state, eager=True)
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    times = []
    for i in range(26):
        t0 = time.perf_counter()
        nbr = (
            und.join(state, und["v"] == state["id"])
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        ptr = state.select(F.col("id").alias("component"), F.col("component").alias("jump"))
        state = cut_lineage(
            state.join(nbr, "id", "left")
            .join(ptr, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                    F.coalesce(F.col("jump"), F.col("component")),
                ).alias("component"),
            ),
            eager=True,
        )
        times.append(time.perf_counter() - t0)
        size = state._jdf.queryExecution().logical().stats().sizeInBytes()
        assert size <= default, f"round {i}: carried estimate of {size.bit_length()} bits"
    warm = sorted(times[2:8])[len(times[2:8]) // 2]
    assert max(times[-4:]) < 10 * warm, f"late rounds blew up: {times}"
    # and the loop still computes the right thing: one 50-node chain
    comps = {r["component"] for r in state.collect()}
    assert comps == {0}


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import personalized_pagerank
    from titan_spark.graph import PropertyGraph

    # two disjoint 2-chains: 0->1, 2->3; seeding {0} must leave the
    # {2,3} component at exactly zero mass, with closed-form values on
    # the seeded chain
    v = spark.range(4).select("id", F.lit("n").alias("label"))
    e = spark.createDataFrame(
        [(0, 0, 1, "l"), (1, 2, 3, "l")],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: round(r["ppr"], 9)
           for r in personalized_pagerank(g, [0], alpha=0.85, iterations=3).collect()}
    # fixpoint on the chain: ppr(0) = 0.15, ppr(1) = 0.85 * ppr(0)
    assert got[0] == 0.15
    assert got[1] == round(0.85 * 0.15, 9)
    assert got[2] == 0.0 and got[3] == 0.0
    # a repeated seed counts once in |S|
    ppr = [
        sorted(tuple(r) for r in personalized_pagerank(g, seeds, alpha=0.85, iterations=3).collect())
        for seeds in ([0, 0, 3], [0, 3])
    ]
    assert ppr[0] == ppr[1]


def test_bidirectional_distance_closed_forms(spark):
    """Meet-in-the-middle distance equals the classical BFS on chains,
    cycles, and disconnected pairs; directed mode respects direction."""
    from titan_spark.compute import bidirectional_distance
    from titan_spark.graph import PropertyGraph

    # path 1-2-3-4-5-6 plus isolated 9
    v = spark.createDataFrame(
        [(i, "n") for i in [1, 2, 3, 4, 5, 6, 9]], "id long, label string"
    )
    e = spark.createDataFrame(
        [(i, i, i + 1, "x") for i in range(1, 6)],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e)
    assert bidirectional_distance(g, 1, 6).collect()[0]["distance"] == 5
    assert bidirectional_distance(g, 4, 4).collect()[0]["distance"] == 0
    assert bidirectional_distance(g, 1, 9).collect()[0]["distance"] is None
    # directed: 6 -> 1 unreachable with direction="out", 5 hops back
    assert bidirectional_distance(g, 6, 1, direction="out").collect()[0]["distance"] is None
    assert bidirectional_distance(g, 1, 6, direction="out").collect()[0]["distance"] == 5
    # early-terminate correctness: cycle of 8 — opposite vertices at 4
    ec = spark.createDataFrame(
        [(i, i, (i + 1) % 8, "x") for i in range(8)],
        "edge_id long, src long, dst long, label string",
    )
    gc = PropertyGraph(
        spark.createDataFrame([(i, "n") for i in range(8)], "id long, label string"), ec
    )
    assert bidirectional_distance(gc, 0, 4).collect()[0]["distance"] == 4
    assert bidirectional_distance(gc, 0, 3).collect()[0]["distance"] == 3


def test_feature_propagation_closed_forms(spark):
    """SGC-style smoothing on a 3-path with f = (10, 20, 40)."""
    import pytest

    from titan_spark.compute import feature_propagation
    from titan_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "n", 10.0), (2, "n", 20.0), (3, "n", 40.0)], "id long, label string, f double"
    )
    e = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 2, 3, "x")], "edge_id long, src long, dst long, label string"
    )
    g = PropertyGraph(v, e)
    got = {r["id"]: r for r in feature_propagation(g, "f", hops=2).collect()}
    # hop1 self-augmented means: (20+10)/2, (10+40+20)/3, (20+40)/2
    assert got[1]["f1"] == 15.0 and got[3]["f1"] == 30.0
    assert got[2]["f1"] == pytest.approx(23.33, abs=0.01)
    # hop2 consumes hop1 (endpoint 1 sees only vertex 2)
    assert got[1]["f2"] == pytest.approx((got[2]["f1"] + 15.0) / 2, abs=0.01)
    # sum aggregation without self-mixing
    s = {r["id"]: r for r in
         feature_propagation(g, "f", hops=1, agg="sum", include_self=False).collect()}
    assert s[2]["f1"] == 50.0 and s[1]["f1"] == 20.0
    # NULL feature takes the neighbor aggregate; isolated NULL stays NULL
    v2 = spark.createDataFrame(
        [(1, "n", None), (2, "n", 8.0), (9, "n", None)], "id long, label string, f double"
    )
    e2 = spark.createDataFrame(
        [(1, 1, 2, "x")], "edge_id long, src long, dst long, label string"
    )
    n = {r["id"]: r for r in feature_propagation(PropertyGraph(v2, e2), "f", hops=1).collect()}
    assert n[1]["f1"] == 8.0 and n[9]["f1"] is None


def test_feature_propagation_ignores_shuffle_partitions(spark, sf_dir):
    """The cent-rounded hop means do not depend on the shuffle's
    partition count. On sf0.001 one nation's hop-1 mean sits on a
    half-cent, so a sum whose order follows the partitioning moves it
    (and its customers' hop-2 values) by a cent."""
    from titan_spark.plans.catalog import QUERIES

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = {}
    try:
        for n in ("1", "4"):
            spark.conf.set(key, n)
            got[n] = sorted(QUERIES["feature_smooth"](spark, sf_dir).collect())
    finally:
        spark.conf.set(key, old)
    assert got["1"] == got["4"]


def test_hits_closed_form(spark):
    """HITS on a 2-hub/1-authority star: hubs split, authority 1."""
    import pytest

    from titan_spark.compute import hits
    from titan_spark.graph import PropertyGraph

    # 1 -> 3, 2 -> 3: vertex 3 is the sole authority; 1 and 2 equal hubs
    v = spark.createDataFrame([(i, "n") for i in (1, 2, 3)], "id long, label string")
    e = spark.createDataFrame(
        [(1, 1, 3, "x"), (2, 2, 3, "x")], "edge_id long, src long, dst long, label string"
    )
    got = {r["id"]: r for r in hits(PropertyGraph(v, e), iterations=2).collect()}
    assert got[3]["authority"] == 1.0 and got[3]["hub"] == 0.0
    assert got[1]["hub"] == got[2]["hub"] == pytest.approx(1 / 2**0.5, abs=1e-6)
    assert got[1]["authority"] == 0.0


def _py_kruskal(n_vertices, edges):
    """Union-find Kruskal reference: edges as (u, v, w) with u < v,
    taken in (w, u, v) order, so tied weights give one forest."""
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for u, v, w in sorted(edges, key=lambda e: (e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.append((min(u, v), max(u, v), w))
    return sorted(out)


def test_boruvka_msf_matches_kruskal_random(spark):
    """Borůvka equals union-find Kruskal on seeded random graphs with
    distinct weights (unique MSF), including disconnected ones — the
    forest has V - #components edges and the exact same edge set —
    and with weights tied from {1, 2, 3}, where both break ties on the
    (w, u, v) order."""
    import itertools
    import random

    from titan_spark.compute.algorithms import minimum_spanning_forest

    rng = random.Random(20260815)
    for trial in range(10):
        n = rng.randint(2, 12)
        pairs = list(itertools.combinations(range(n), 2))
        rng.shuffle(pairs)
        m = rng.randint(1, len(pairs))
        # the last trials tie weights, which break on (w, u, v) order
        if trial < 6:
            weights = rng.sample(range(1, 10_000), m)
        else:
            weights = [rng.choice((16, 32, 48)) for _ in range(m)]
        edges = [
            (u, v, w / 16.0) for (u, v), w in zip(pairs[:m], weights)
        ]
        expected = _py_kruskal(n, edges)
        d = spark.createDataFrame(edges, "src long, dst long, weight double")
        got = sorted(
            (r["u"], r["v"], r["weight"])
            for r in minimum_spanning_forest(d).collect()
        )
        assert got == expected, (trial, n, edges)


def test_boruvka_msf_long_chain(spark):
    """A 40-vertex path with shuffled distinct weights: the MSF is the
    path itself (every edge is a bridge) — exercises many contraction
    rounds and deep pointer-jump chains."""
    import random

    from titan_spark.compute.algorithms import minimum_spanning_forest

    rng = random.Random(7)
    ws = rng.sample(range(1, 1000), 39)
    edges = [(i, i + 1, float(w)) for i, w in enumerate(ws)]
    d = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = sorted(
        (r["u"], r["v"], r["weight"])
        for r in minimum_spanning_forest(d).collect()
    )
    assert got == sorted(edges)


def test_boruvka_msf_parallel_and_reversed_edges(spark):
    """Orientation and parallel duplicates normalize away: both
    orientations of an edge plus a heavier parallel copy yield the
    single min-weight canonical edge."""
    from titan_spark.compute.algorithms import minimum_spanning_forest

    edges = [(2, 1, 5.0), (1, 2, 3.0), (2, 3, 4.0), (3, 2, 4.0)]
    d = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = sorted(
        (r["u"], r["v"], r["weight"])
        for r in minimum_spanning_forest(d).collect()
    )
    assert got == [(1, 2, 3.0), (2, 3, 4.0)]



def test_boruvka_msf_empty_input(spark):
    """No edges: an empty forest with the (u, v, weight) schema, as a
    zero-partition frame (no Python RDD behind it)."""
    from titan_spark.compute.algorithms import minimum_spanning_forest

    d = spark.createDataFrame([], "src long, dst long, weight double")
    got = minimum_spanning_forest(d)
    assert got.columns == ["u", "v", "weight"]
    assert got.collect() == []
    assert got.rdd.getNumPartitions() == 0

def _py_h60(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_node2vec(vertices, edges, length, seed, wr, wi, wo, trials=16):
    """Pure-Python reference for node2vec_walks' deterministic
    contract: rejection sampling (uniform candidate by hash index,
    accept iff an independent hash mod wmax is below the candidate's
    weight class; lowest accepted trial wins), with the exact
    class-ordered cumulative pick as the all-rejected fallback."""
    ns = {}
    for u, v in edges:
        if u != v:
            ns.setdefault(u, set()).add(v)
            ns.setdefault(v, set()).add(u)
    ns = {u: sorted(vs) for u, vs in ns.items()}
    wmax = max(wr, wi, wo)
    rows = []
    for w in vertices:
        prev, cur = None, w
        rows.append((w, 0, w))
        for t in range(length):
            cand = ns.get(cur)
            if not cand:
                break
            if t == 0:
                h = _py_h60(f"n2v{seed}:{w}:{t}")
                nxt = cand[h % len(cand)]
            else:
                pn = set(ns.get(prev, []))

                def weight(x):
                    return wr if x == prev else wi if x in pn else wo

                nxt = None
                for j in range(trials):
                    hj = _py_h60(f"n2v{seed}:{w}:{t}:{j}")
                    x = cand[hj % len(cand)]
                    u = _py_h60(f"n2va{seed}:{w}:{t}:{j}") % wmax
                    if u < weight(x):
                        nxt = x
                        break
                if nxt is None:
                    # exact class-ordered fallback
                    ordered = sorted(cand, key=lambda x: (
                        0 if x == prev else 1 if x in pn else 2, x
                    ))
                    total = sum(weight(x) for x in ordered)
                    r = _py_h60(f"n2v{seed}:{w}:{t}") % total
                    cum = 0
                    for x in ordered:
                        cum += weight(x)
                        if r < cum:
                            nxt = x
                            break
            prev, cur = cur, nxt
            rows.append((w, t + 1, cur))
    return sorted(rows)


def test_node2vec_matches_python_reference(spark):
    """Seeded random graphs: the Spark biased walk (rejection trials +
    class-ordered exact fallback) equals the brute-force Python
    reference step for step, including dead-end stops."""
    import random

    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import node2vec_walks
    from titan_spark.graph import PropertyGraph

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(3, 10)
        m = rng.randint(1, n * 2)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        expected = _py_node2vec(range(n), edges, 3, 7, 2, 2, 1)
        v = spark.createDataFrame(
            [(i,) for i in range(n)], "id long"
        ).withColumn("label", F.lit("v"))
        e = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(edges)],
            "edge_id long, src long, dst long",
        ).withColumn("label", F.lit("e"))
        got = sorted(
            (r["walk_id"], r["step"], r["id"])
            for r in node2vec_walks(
                PropertyGraph(v, e), length=3, seed=7
            ).collect()
        )
        assert got == expected, (trial, edges)


def test_node2vec_fallback_arm_matches_reference(spark):
    """Weights 1:1:99 on a complete graph leave every candidate at
    weight 1 with wmax 99, so ~85% of biased picks exhaust all 16
    rejection trials and take the exact class-ordered fallback — this
    pins the fallback arm (rows-based cumulative pick) against the
    Python reference, not just the accept path."""
    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import node2vec_walks
    from titan_spark.graph import PropertyGraph

    n = 6
    edges = [(a, b) for a in range(n) for b in range(a + 1, n)]
    expected = _py_node2vec(range(n), edges, 3, 11, 1, 1, 99)
    v = spark.createDataFrame([(i,) for i in range(n)], "id long").withColumn(
        "label", F.lit("v")
    )
    e = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(edges)],
        "edge_id long, src long, dst long",
    ).withColumn("label", F.lit("e"))
    got = sorted(
        (r["walk_id"], r["step"], r["id"])
        for r in node2vec_walks(
            PropertyGraph(v, e),
            length=3,
            seed=11,
            weight_return=1,
            weight_in=1,
            weight_out=99,
        ).collect()
    )
    assert got == expected


def test_node2vec_return_bias_oscillates(spark):
    """Bias sanity: with weight_return >> others on a cycle, nearly
    every step-2 position returns to the start (the 1/p 'return'
    parameter doing its job); with weight_out >> others, returns are
    rare."""
    from pyspark.sql import functions as F

    from titan_spark.compute.algorithms import node2vec_walks
    from titan_spark.graph import PropertyGraph

    n = 40
    v = spark.createDataFrame([(i,) for i in range(n)], "id long").withColumn(
        "label", F.lit("v")
    )
    e = spark.createDataFrame(
        [(i, i, (i + 1) % n) for i in range(n)],
        "edge_id long, src long, dst long",
    ).withColumn("label", F.lit("e"))
    g = PropertyGraph(v, e)

    def returns(wr, wo):
        rows = {
            (r["walk_id"], r["step"]): r["id"]
            for r in node2vec_walks(
                g, length=2, seed=3, weight_return=wr, weight_in=wo,
                weight_out=wo,
            ).collect()
        }
        return sum(
            1 for w in range(n) if rows[(w, 2)] == rows[(w, 0)]
        )

    assert returns(99, 1) >= n * 0.9
    assert returns(1, 99) <= n * 0.2


def test_loop_operators_leave_shuffle_partitions_to_aqe(
    spark, gods, sssp_tree, monkeypatch
):
    """Loop operators never change ``spark.sql.shuffle.partitions``:
    every lineage cut they take runs under the session's value. AQE's
    partition coalescing is what sizes each round's shuffle to the
    round's data, and the last block pins that premise."""
    import sys

    from titan_spark.compute import algorithms
    from titan_spark.compute.algorithms import connected_components, k_core, louvain
    from titan_spark.compute.checkpointing import cut_lineage

    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    seen = []

    def recording_cut(df, *args, **kwargs):
        seen.append(spark.conf.get(key))
        return cut_lineage(df, *args, **kwargs)

    monkeypatch.setattr(algorithms, "cut_lineage", recording_cut)
    monkeypatch.setattr(
        sys.modules["titan_spark.compute.pregel"], "cut_lineage", recording_cut
    )
    tree, expected = sssp_tree
    assert {r["component"] for r in connected_components(gods).collect()} == {1}
    got = {r["id"]: r["distance"] for r in shortest_distance(tree, seed_id=0).collect()}
    assert got.keys() == expected.keys()
    k_core(gods, k=2).collect()
    louvain(gods).collect()
    assert seen and set(seen) == {session_value}

    tiny = (
        spark.range(100)
        .groupBy((F.col("id") % 3).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert session_value == "8"
    assert cut_lineage(tiny, eager=True).rdd.getNumPartitions() == 1
