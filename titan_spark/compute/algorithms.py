"""Library vertex programs: PageRank, single-source shortest distance,
degree counting.

Semantics match the reference test programs so results validate
against the same closed-form oracles:

- PageRank (``titan-test/.../olap/PageRankVertexProgram.java:75-95``):
  PR_{t+1}(v) = (1-α)/N + α·Σ_{u→v} PR_t(u)/outdeg(u); no dangling
  redistribution; validated by ``OLAPTest.java:511-535`` (per-depth
  closed form on a b-ary tree, sum tolerance 1e-3).
- Shortest distance (``ShortestDistanceVertexProgram.java``): seed=0,
  message = dist + weight, min-combiner, fixpoint with frontier
  early-stop (the reference's Memory ``incr`` flag).
- Degree counting (``OLAPTest.java:194-219``): per-vertex edge count.
"""

from __future__ import annotations

import warnings
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from titan_spark.compute.pregel import Fixpoint, Frontier, pregel
from titan_spark.graph import PropertyGraph
from titan_spark.compute.checkpointing import counted_cut, cut_lineage
from titan_spark.session import local_relation

# k_core broadcasts each round's dropped-vertex set (and the degree
# loss it causes) when it fits: 8 M ids ≈ 64 MB serialized — well inside
# executor/driver headroom on any sane cluster profile, far beyond the
# typical per-round drop (sf10 co-lineitem 8-core drops ~6.5 M vertices
# in round 0 and ~0 after). The cap is a BYTE budget expressed in rows
# (ids are 8-byte longs, so rows × 8 B bounds the serialized relation;
# the built hash side is ~2-3× that). Above it the planner picks the
# joins.
_PEEL_BROADCAST_MAX_ROWS = 8_000_000


def _edges(graph: PropertyGraph, edge_labels: tuple[str, ...] = ()) -> DataFrame:
    """The graph's edges, restricted to ``edge_labels`` when any are given."""
    if edge_labels:
        return graph.edges.filter(F.col("label").isin(list(edge_labels)))
    return graph.edges


def _sym_adjacency(e: DataFrame, drop_loops: bool = True) -> DataFrame:
    """(u, v) for both orientations of every edge, deduped; self-loops
    are dropped unless ``drop_loops`` is False."""
    ue = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    if drop_loops:
        ue = ue.filter(F.col("u") != F.col("v"))
    return ue.dropDuplicates(["u", "v"])


def _adjacency(e: DataFrame, direction: str) -> DataFrame:
    """(u, v) for every edge followed in ``direction`` — out: src→dst,
    in: dst→src, both: :func:`_sym_adjacency` — deduped, self-loops
    dropped."""
    if direction == "both":
        return _sym_adjacency(e)
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    u, v = ("src", "dst") if direction == "out" else ("dst", "src")
    return (
        e.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _undirected_pairs(e: DataFrame) -> DataFrame:
    """The undirected simple edge set (a, b) with a < b: orientation,
    self-loops and parallel edges dropped."""
    return (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _inside(e: DataFrame, ids: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """The rows of ``e`` whose ``a`` and ``b`` columns are both ids in ``ids``."""
    return e.join(ids.withColumnRenamed("id", a), a, "left_semi").join(
        ids.withColumnRenamed("id", b), b, "left_semi"
    )


def _contract(
    e: DataFrame, labels: DataFrame, a: str = "u", b: str = "v", loops: bool = False
) -> DataFrame:
    """Edge contraction, GRADOOP's grouping of edges by (key(src),
    key(dst)): the ``a`` and ``b`` columns of ``e`` relabel through an
    ``(id, component)`` map by two inner joins, and every other column
    of ``e`` carries through unchanged. A pair whose endpoints fall in
    one component drops unless ``loops``. Callers dedup or aggregate the
    quotient edges themselves; an endpoint missing from ``labels``
    drops its pair, so the map must cover every endpoint."""
    out = e.join(
        labels.select(F.col("id").alias(a), F.col("component").alias("_ca")), a
    ).join(labels.select(F.col("id").alias(b), F.col("component").alias("_cb")), b)
    if not loops:
        out = out.filter(F.col("_ca") != F.col("_cb"))
    rest = [c for c in e.columns if c not in (a, b)]
    return out.select(F.col("_ca").alias(a), F.col("_cb").alias(b), *rest)


def _warn_unconverged(what: str, max_iterations: int, result: str) -> None:
    warnings.warn(
        f"{what} did not converge within {max_iterations} rounds; {result}",
        RuntimeWarning,
        stacklevel=3,
    )


def _rank_rounds(
    graph: PropertyGraph, col: str, initial: Column, restart: Column, alpha: float,
    iterations: int, edge_labels: tuple[str, ...],
) -> DataFrame:
    """The power iteration behind :func:`pagerank` and
    :func:`personalized_pagerank`: ``iterations`` pregel rounds of
    col' = restart + α·Σ_{u→v} col(u)/outdeg(u) over (src, dst, outdeg)
    contribution edges. outdeg counts every edge of the source, ghost
    targets included, so mass sent to a ghost is lost; a ghost source
    sends nothing."""
    e = _edges(graph, edge_labels).select("src", "dst")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return pregel(
        graph.vertices,
        e.join(outdeg, "src"),
        initial={col: initial},
        agg=F.sum("msg").alias("s"),
        update={col: restart + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))},
        msg_to_dst=F.col(f"src.{col}") / F.col("edge.outdeg"),
        max_iterations=iterations,
    )


def pagerank(
    graph: PropertyGraph,
    alpha: float = 0.85,
    iterations: int = 10,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Returns DataFrame(id, pagerank).

    The degree pre-round of the reference (messages over inE at
    iteration 0) is a plain aggregation here. Edges+degrees are
    computed once and cached by :func:`pregel`; each round is one
    shuffle on dst.

    Ghost endpoints: N counts vertex rows only; an edge to a ghost
    counts in its source's outdeg but delivers nothing, and a ghost
    source sends nothing.

    Lineage is cut every round because each round references the state
    twice (message join + rank join): an unmaterialized state doubles
    the physical plan per round (2^N base scans), while materializing
    one row per vertex per round is cheap at any scale.
    """
    n = graph.num_vertices()
    return _rank_rounds(
        graph, "pagerank", F.lit(1.0 / n), F.lit((1.0 - alpha) / n),
        alpha, iterations, edge_labels,
    )


def shortest_distance(
    graph: PropertyGraph,
    seed_id: int,
    weight_col: str | None = None,
    direction: str = "out",
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 50,
) -> DataFrame:
    """Single-source shortest distance → DataFrame(id, distance);
    unreachable vertices have NULL distance. ``direction`` follows
    edges src→dst (out), dst→src (in) or both ways (both); an edge
    whose weight is NULL carries nothing.

    Frontier iteration over one state row per vertex: only vertices
    improved in the previous round send messages, so a round's message
    cost tracks the frontier, not |E| — the scalable form of the
    reference's fixpoint-with-incr-flag loop. A search still improving
    after ``max_iterations`` rounds warns.

    Ghost endpoints: an edge with an endpoint that has no vertex row is
    dropped, so a ghost neither gets a distance nor relays one.
    """
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    e = _edges(graph, edge_labels)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    fwd = e.select(F.col("src").alias("u"), F.col("dst").alias("v"), w.alias("w"))
    back = e.select(F.col("dst").alias("u"), F.col("src").alias("v"), w.alias("w"))
    uvw = {"out": fwd, "in": back, "both": fwd.unionByName(back)}[direction].cache()
    seed = graph.vertices.select(
        "id", F.when(F.col("id") == seed_id, F.lit(0.0)).alias("distance")
    )

    def expand(frontier: DataFrame, dist: DataFrame) -> DataFrame:
        # the seed frontier is every vertex row, and only the source has
        # a distance to send; the inner join with the state (the vertex
        # rows) drops ghost recipients
        return (
            frontier.filter(F.col("distance").isNotNull())
            .join(uvw.withColumnRenamed("u", "id"), "id")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("distance") + F.col("w")).alias("_nd"))
            .join(dist, "id")
            .filter(F.col("_nd") < F.coalesce(F.col("distance"), F.lit(float("inf"))))
            .select("id", F.col("_nd").alias("distance"))
        )

    def lower(dist: DataFrame, better: DataFrame) -> DataFrame:
        return dist.unionByName(better).groupBy("id").agg(F.min("distance").alias("distance"))

    sssp = Frontier(seed, expand, lower).run(max_iterations)
    uvw.unpersist()
    if not sssp.converged:
        _warn_unconverged(
            "shortest_distance", max_iterations, "distances may be too long or missing."
        )
    return sssp.state


def connected_components(
    graph: PropertyGraph,
    max_iterations: int = 60,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Weakly-connected components → DataFrame(id, component) where
    component = min vertex id in the component.

    Two arms, one result. When the vertex ids and edge endpoints fit
    Spark's own ``spark.sql.autoBroadcastJoinThreshold`` at 8 B per id
    (10 MB by default; ``-1`` turns the arm off), capped at
    ``_CC_DRIVER_MAX_IDS`` (~1.3 M ids) whatever the threshold, one
    distributed sum decides and one Arrow collect brings them to the
    driver, where :func:`_cc_on_driver` finishes with numpy union-find —
    the in-memory executor for graphs that fit (Titan's Fulgora next to
    its Hadoop/Spark computer). A handful of jobs instead of ~45 on an
    18.6 k-vertex graph. Above the budget the distributed loop below
    runs on the same cached edge relation; ``max_iterations`` only
    bounds that loop, since the driver arm always converges.

    Min-label propagation **with pointer jumping**: each round a vertex
    takes the min over (its label, neighbors' labels, its label's
    label). The extra self-join on the label relation doubles the
    propagation distance per round, so convergence is O(log diameter)
    rounds instead of O(diameter) — the difference between 40 and 7
    rounds on a 100-length chain, and the reason this survives
    real-world graph diameters at scale. The live edge set contracts
    into label space each round (quotient-graph edges, same-label
    pairs dropped, deduped), so per-round cost shrinks geometrically
    instead of staying |E| while preserving connectivity exactly (see
    _cc_loop).
    """
    e = _edges(graph, edge_labels)
    # r11: the DIRECTED edge relation feeds the loop — the old
    # symmetrize + dropDuplicates materialized a 2|E| relation and paid
    # a full-width dedup shuffle that, on dedup pair graphs (pairs
    # already unique with id_a < id_b), removed exactly zero rows.
    # Duplicates and direction cannot change any result: the round-0
    # neighbor-min aggregates BOTH endpoint directions (duplicate-
    # insensitive), and the round-1 contraction symmetrizes AND dedups
    # in label space, where the relation is already tiny. Parallel
    # edges only linearly inflate the one contraction join they pass
    # through.
    de = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).cache()
    state = graph.vertices.select("id", F.col("id").alias("component"))
    state = cut_lineage(state, eager=True)
    try:
        local = _cc_on_driver(state, de)
        if local is not None:
            return local
        return _cc_loop(state, de, max_iterations)
    finally:
        de.unpersist(blocking=False)


# The driver arm's ceiling in ids, whatever the broadcast threshold:
# Spark's 10 MB default at 8 B per id (~1.3 M ids). Raising the
# threshold for joins must not pull a bigger graph onto the driver.
_CC_DRIVER_MAX_IDS = (10 << 20) // 8

_INT_WIDTH = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _cc_on_driver(vertices: DataFrame, de: DataFrame) -> DataFrame | None:
    """connected_components' driver arm → DataFrame(id, component), or
    None when the graph does not fit the budget (or its ids are not
    integral) and the distributed loop must run.

    The budget counts 8 B per vertex row and per edge endpoint against
    Spark's ``autoBroadcastJoinThreshold``, read once through the
    session's SQLConf so Spark parses it (``-1`` = never), and is capped
    at ``_CC_DRIVER_MAX_IDS``. One distributed sum decides; only a graph
    under the budget is collected, through Arrow. ``vertices`` is the
    loop's cut round-0 state and ``de`` its cached edge relation, so the
    sum fills the cache the loop reads and neither arm re-runs the
    vertex lineage.

    Returns exactly what :func:`_cc_loop` converges to: the round-0
    label min(id, every raw neighbour id) — ghost endpoints included —
    then components of the label graph over the edges whose endpoints
    are both vertices, each labelled by its minimum label. Edges with a
    null endpoint are skipped, as the loop's joins skip them. One row
    per collected vertex row, built on the driver from that same
    collect, so the result re-runs no lineage and always agrees with
    the ids it was computed from."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import IntegralType

    types = [vertices.schema["id"].dataType, de.schema["u"].dataType, de.schema["v"].dataType]
    if not all(isinstance(t, IntegralType) for t in types):
        return None
    spark = vertices.sparkSession
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold < 0:
        return None
    rows = vertices.select(
        F.col("id").cast("long").alias("u"),
        F.lit(None).cast("long").alias("v"),
        F.lit(True).alias("vertex"),
    ).unionByName(
        de.select(F.col("u").cast("long"), F.col("v").cast("long"), F.lit(False).alias("vertex"))
    )
    n_ids = rows.select(F.sum(F.when(F.col("vertex"), 1).otherwise(2))).first()[0] or 0
    if n_ids > min(threshold // 8, _CC_DRIVER_MAX_IDS):
        return None
    rows = rows.toArrow()
    vid = rows.filter(rows.column("vertex")).column("u")
    erows = rows.filter(pc.invert(rows.column("vertex"))).drop_null()
    eu, ev = erows.column("u").to_numpy(), erows.column("v").to_numpy()
    present = vid.drop_null().to_numpy()

    # ranks in sorted-id order: the min rank is the min id
    ids, rank = np.unique(np.concatenate([present, eu, ev]), return_inverse=True)
    vr, a, b = np.split(rank, [len(present), len(present) + len(eu)])
    label = np.arange(len(ids))
    np.minimum.at(label, a, b)
    np.minimum.at(label, b, a)
    is_vertex = np.zeros(len(ids), dtype=bool)
    is_vertex[vr] = True
    both = is_vertex[a] & is_vertex[b]
    root = _min_roots(len(ids), label[a[both]], label[b[both]])
    # a null vertex id keeps a null component, as in the loop's state
    component = np.zeros(len(vid), dtype=np.int64)
    valid = vid.is_valid().to_numpy(zero_copy_only=False)
    component[valid] = ids[root[label[vr]]]
    result = spark.createDataFrame(
        pa.table({"id": vid, "component": pa.array(component, mask=~valid)})
    )
    ctype = max(types, key=lambda t: _INT_WIDTH[t.typeName()])
    return result.select(F.col("id").cast(types[0]), F.col("component").cast(ctype))


def _min_roots(n, a, b):
    """Union-find over nodes 0..n-1 and edges (a[i], b[i]) → each node's
    root, the smallest node of its component. Vectorised: every round
    hooks each root with a crossing edge onto the smallest root across
    one, then pointer-jumps until every node points at a root. A root
    with a crossing edge is hooked or is hooked onto, so the roots still
    crossing an edge at least halve per round."""
    import numpy as np

    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        crossing = ra != rb
        if not crossing.any():
            return parent
        a, b, ra, rb = a[crossing], b[crossing], ra[crossing], rb[crossing]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


_CC_UNCONVERGED = (
    "components may be under-merged. Raise max_iterations "
    "(rounds needed track the pair-graph diameter)."
)


def _cc_loop(state, und, max_iterations):
    """One round = (1) EDGE CONTRACTION into label space: every live
    edge relabels to (label(u), label(v)), same-label pairs drop, and
    the result dedups — the quotient-graph edge set of the current
    label partition. This preserves connectivity exactly (an edge
    between two label regions survives AS the contracted pair, the
    large-star/small-star idea) while shrinking the per-round relation
    geometrically as components coalesce — the old loop re-shuffled
    the FULL edge set every round, which is what made dedup_clusters
    superlinear at sf10: round count grows with the pair-graph
    diameter AND each extra round cost full |E|. NOTE a plain DROP of
    same-label edges (without contraction) is INCORRECT: if x's edges
    to a d-labeled region prune while x later learns a smaller label
    e elsewhere, the d—e connection is lost and the d region never
    merges (counterexample in test_cc_pruned_bridge_regression);
    (2) neighbor-min over the CONTRACTED edges, keyed by label — every
    vertex of a label class inherits its class's min in the same round
    via the component-keyed join; (3) pointer jump — single for the
    cheap early rounds, CHAINED (label of label of label) from round 3
    on, so deep label chains compress ~4× per round once the tail is
    pointer-depth bound.

    r11: rounds ≥ 1 iterate on the LABEL MAP, not the vertex state.
    Every term of the per-vertex update — nbr_min(label), jump(label)
    — is a function of the vertex's CURRENT label alone, so all
    vertices of a label class move identically and the whole iteration
    factors through label space: iterate (label → label) against the
    contracted edges, then compose onto the vertex state ONCE at the
    end. The corpus-sized state relation is joined max twice total
    (round 0 + final compose) instead of once per round — at sf10 the
    semantic-dedup pair graph converged in 8 rounds with the quotient
    at 8 k edges from round 1 on, while each extra round still paid a
    200 k-row state join; at corpus scale those per-round joins are
    billions of rows each."""
    if max_iterations <= 0:
        _warn_unconverged("connected_components", max_iterations, _CC_UNCONVERGED)
        return state
    # ---- round 0 on the full graph: labels ARE vertex ids at entry,
    # so contraction is the identity and the pointer jump is a no-op —
    # the update reduces to min(id, min neighbor id). ``und`` is the
    # DIRECTED edge relation; both endpoint directions feed one
    # map-side-combinable aggregation (the union is narrow — two scans
    # of the cached relation, no symmetrized materialization).
    nbr = (
        und.select("u", "v")
        .unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy(F.col("u").alias("component"))
        .agg(F.min("v").alias("nbr_min"))
    )
    state0 = (
        state.join(nbr, "component", "left")
        .select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_min"), F.col("component")),
            ).alias("component"),
            F.col("component").alias("_old"),
        )
    )
    state0, changed = counted_cut(state0, F.col("component") < F.col("_old"))
    state = state0.select("id", "component")
    if changed == 0:
        return state
    # ---- label-space loop: lmap maps each round-0 label to its
    # current component; live is the contracted edge set in that space.
    # The directed relation contracts in ONE pass and symmetrizes in
    # LABEL space (explode of both orientations), where the relation is
    # already quotient-sized — never materializing 2|E| vertex-space
    # rows. Relabeling commutes with the swap, so this equals
    # contracting a symmetrized edge set exactly.
    live = (
        _contract(und.select("u", "v"), state)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .dropDuplicates(["u", "v"])
    )
    live = cut_lineage(live, eager=False)

    def relabel(lmap: DataFrame, r: int) -> DataFrame:
        nonlocal live
        if r > 0:
            live = cut_lineage(_contract(live, lmap).dropDuplicates(["u", "v"]), eager=False)
        # neighbor min on the quotient graph, keyed by LABEL (live is
        # symmetric in label space, so grouping on u covers both
        # directions)
        nbr = live.groupBy(F.col("u").alias("component")).agg(F.min("v").alias("nbr_min"))
        # pointer jump: component of my component
        ptr = lmap.select(
            F.col("id").alias("component"), F.col("component").alias("jump")
        )
        if r > 0:
            # chain a second jump (labels are always live vertex ids,
            # so the hop join is total; left+coalesce is belt-and-braces)
            hop = ptr.select(
                F.col("component").alias("jump"), F.col("jump").alias("jump2")
            )
            ptr = ptr.join(hop, "jump", "left").select(
                "component", F.coalesce("jump2", "jump").alias("jump")
            )
        return (
            lmap.join(nbr, "component", "left")
            .join(ptr, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                    F.coalesce(F.col("jump"), F.col("component")),
                ).alias("component"),
                F.col("component").alias("_old"),
            )
        )

    # round 0's changed count is the driver's first size, so the label
    # map's first round takes no extra count
    lmap = state.select(F.col("component").alias("id")).dropDuplicates(["id"])
    lmap = cut_lineage(lmap.select("id", F.col("id").alias("component")), eager=False)
    moved = F.col("component") < F.col("_old")
    labels = Fixpoint(lmap, relabel, flag=moved, size=changed).run(max_iterations - 1)
    # ---- compose once: vertex label → its label's final component.
    # Every round-0 label is an lmap key by construction, so the inner
    # join is total; lmap is label-sized (small), typically broadcast.
    state = (
        state.join(
            labels.state.select(
                F.col("id").alias("component"), F.col("component").alias("_final")
            ),
            "component",
        )
        .select("id", F.col("_final").alias("component"))
    )
    if not labels.converged:
        # labels were still moving when the cap hit: the returned
        # components are an UNDER-merged partition of the true ones.
        # Silent truncation here poisons every dedup-cluster consumer
        # downstream, so say so loudly. (The sf1 near-dup pair graph
        # converged at exactly round 30 — the old default cap.)
        _warn_unconverged("connected_components", max_iterations, _CC_UNCONVERGED)
    return state


def degree_oriented_edges(und: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Orient each undirected edge (a, b) from its (degree, id)-smaller
    endpoint to the larger → (u, v, dv) with dv = degree of the head.

    This is the orientation that makes wedge enumeration
    arboricity-bounded: out-degree under (degree, id) order is at most
    O(sqrt(m)) on ANY graph (a vertex with out-degree d has d neighbors
    of degree >= its own), so a hub with a million incident edges has
    out-degree ~0 — all its edges point INTO it and no wedges are
    enumerated there. Plain id-ordering gives the hub ~d²/2 wedges
    whenever its id happens to sort low.

    ``deg`` lets a caller that already aggregated (id, d) over the same
    edge set share it instead of paying the degree shuffle twice.
    """
    if deg is None:
        deg = (
            und.select(F.col("a").alias("id"))
            .unionAll(und.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    und_d = (
        und.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return und_d.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def _enumerate_triangles(oriented: DataFrame) -> DataFrame:
    """Each undirected triangle exactly once → (v1, v2, v3), where v1
    is the wedge source and (v2, v3) the heads in (degree, id) order,
    over a :func:`degree_oriented_edges` edge set.

    Edge-iterator formulation: collect each source's out-neighbor
    array (bounded by the orientation at O(sqrt m) elements), join it
    onto both endpoints of every oriented edge, and explode the array
    intersection — for edge u→v, every common out-neighbor w closes
    the triangle (u, v, w) with heads in (degree, id) order, since
    w ∈ N+(v) means the closing edge is oriented v→w under the same
    total order. Identical rows to the wedge-join formulation it
    replaced, but shuffle volume is O(|E|) edge rows + O(|E|) array
    payload instead of materializing every oriented wedge (a
    co-membership graph here measured 1.8 M edges but 14 M wedges —
    the wedge semi-join was ~2× slower end-to-end)."""
    nbrs = oriented.groupBy("u").agg(F.collect_list("v").alias("ns"))
    return (
        oriented.select("u", "v")
        .join(
            nbrs.select(F.col("u").alias("_su"), F.col("ns").alias("nu")),
            F.col("u") == F.col("_su"),
        )
        .join(
            nbrs.select(F.col("u").alias("_sv"), F.col("ns").alias("nv")),
            F.col("v") == F.col("_sv"),
        )
        .select(
            F.col("u").alias("v1"),
            F.col("v").alias("v2"),
            F.explode(F.array_intersect("nu", "nv")).alias("v3"),
        )
    )


def triangle_count(graph: PropertyGraph, edge_labels: tuple[str, ...] = ()) -> DataFrame:
    """Undirected triangle count per vertex → (id, triangles).

    Degree-ordered ("compact-forward") formulation: orient every
    deduplicated undirected edge from its (degree, id)-smaller endpoint
    to the larger (:func:`degree_oriented_edges`), enumerate wedges
    only at the orientation source with the two heads in (degree, id)
    order, and close each wedge with a semi-join against the oriented
    edge set. Each triangle is counted exactly once (its three edges
    form exactly one source-plus-ordered-heads pattern under a total
    order), and wedge work per vertex is oriented-out-degree², which
    the orientation bounds by graph arboricity — feasible on power-law
    graphs where id-ordering explodes at hubs.

    Reference shape: degree-style OLAP aggregation of
    olap/OLAPTest.java:194-219.
    """
    und = _undirected_pairs(_edges(graph, edge_labels))
    oriented = degree_oriented_edges(und).cache()
    tri = _enumerate_triangles(oriented)
    per_vertex = (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        graph.vertices.select("id")
        .join(per_vertex, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )
    # materialize before releasing the cached edge set (lazy plans
    # would re-scan after unpersist — still correct, just slower)
    out = cut_lineage(out, eager=True)
    oriented.unpersist(blocking=False)
    return out


def degree_count(graph: PropertyGraph, direction: str = "both") -> DataFrame:
    """Per-vertex degree including zero-degree vertices (A4)."""
    deg = graph.degrees(direction)
    return (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select("id", F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
    )


def label_propagation(
    graph: PropertyGraph,
    iterations: int = 3,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Synchronous label-propagation community detection →
    DataFrame(id, community).

    Init: every vertex labels itself with its own id. Per round, each
    vertex adopts the MODAL label among its (undirected) neighbors,
    ties broken to the smallest label; vertices with no neighbors keep
    their label. Fully deterministic — the async/random variants of
    LPA are not reproducible across runs, which disqualifies them for
    an oracle-checked engine (reference parity: Titan runs LPA-style
    programs through FulgoraGraphComputer's BSP rounds; the sync
    schedule is the BSP one).

    A self-loop votes for the vertex's own label, parallel edges vote
    once, and a ghost endpoint (no vertex row) neither sends nor
    receives a label.

    One :func:`pregel` round: one edges⋈state join (message send), one
    per-vertex ``mode`` (ties to the smallest label) keyed on vertex
    id; lineage cut per round like every other BSP loop here.
    """
    und = _sym_adjacency(_edges(graph, edge_labels), drop_loops=False)
    return pregel(
        graph.vertices,
        und.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        initial={"community": F.col("id")},
        agg=F.mode("msg", deterministic=True).alias("_new"),
        update={"community": F.coalesce("_new", "community")},
        msg_to_dst=F.col("src.community"),
        max_iterations=iterations,
    )


def k_core(
    graph: PropertyGraph,
    k: int,
    rounds: int = 20,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph where every vertex
    has degree ≥ k) → DataFrame(id, core_degree).

    Iterative peeling: each round drops vertices whose degree within
    the surviving subgraph is < k and restricts the edge set to
    survivors; the fixpoint is the k-core (Matula & Beck 1983 — the
    BSP form peels one "shell layer" per round). ``rounds`` bounds the
    loop and is part of the operator's reproducible contract (an
    unconverged prefix is still deterministic, which is what lets a
    fixed-round SQL oracle replay it verbatim); the loop early-stops
    the cheap way — when a round removes no edges the remaining rounds
    are no-ops in both engines.

    Scale shape: the loop holds the NORMALIZED (a < b) undirected edge
    set — half the rows of the symmetric form it previously carried, so
    the build dedup shuffles half the pairs (sf10 A/B,
    933fa73:tools/prof_kcore2.py: build 32.6 → 20.5 s). Degrees come from ONE
    endpoint-union aggregation at build time (each undirected edge
    credits both ends exactly once — identical to the symmetric
    groupBy) and are then maintained INCREMENTALLY (r12, guide §2.1):
    a peel round subtracts the dropped endpoints' credits — computable
    from the round's dropped set × the edge relation — instead of
    re-aggregating the 2|E|-row endpoint union, and the edge relation
    itself is never rewritten, so after the build there is no
    edge-set-sized shuffle OR write at all. The subtraction is exact
    (d_new(v) = d_old(v) − #removed edges incident to v; vertices
    reaching d=0 leave the table exactly as the endpoint-union form
    forgets them), so drops, rounds and output replay identically —
    sf10 A/B (374d0e5:tools/prof_kcore3.py): 53.1 → 35.5 s with 0 row
    mismatches. It needs no cumulative drop set and no fallback at any
    drop size: a credit to an id dropped in this round or earlier is
    discarded by the left join from the survivors. The peel is a
    :class:`Fixpoint` over the degree table whose flag is ``d < k``, so
    the count on each round's cut is the next round's drop size. One
    gate: a drop set of at most ``_PEEL_BROADCAST_MAX_ROWS`` ids is
    broadcast into the loss scan, and a larger one is left to the
    planner.
    """
    und = _undirected_pairs(_edges(graph, edge_labels))
    # the edge relation is cut once at build, on disk: it is
    # edge-set-sized and held for the whole loop; rounds only SCAN it,
    # never rewrite it
    und = cut_lineage(und, eager=True, disk=True)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )

    def peel(deg: DataFrame, _round: int) -> DataFrame:
        # each removed edge credits its loss to its OTHER endpoint; und
        # still holds long-dead edges, whose credits the left join from
        # the survivors discards
        hint = F.broadcast if core.size <= _PEEL_BROADCAST_MAX_ROWS else (lambda df: df)
        gone = hint(deg.filter(F.col("d") < k).select("id"))
        loss = (
            und.join(gone.withColumnRenamed("id", "a"), "a", "left_semi")
            .select(F.col("b").alias("id"))
            .unionAll(
                und.join(gone.withColumnRenamed("id", "b"), "b", "left_semi")
                .select(F.col("a").alias("id"))
            )
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("_l"))
        )
        return (
            deg.filter(F.col("d") >= k)
            .join(hint(loss), "id", "left")
            .select("id", (F.col("d") - F.coalesce("_l", F.lit(0))).alias("d"))
            .filter(F.col("d") > 0)
        )

    # the flag is the drop set: "no vertex below k" ⇔ "no edge removed"
    # (every id in deg has d ≥ 1), so the round that finds no drop ends
    # the loop and its state IS the answer
    core = Fixpoint(deg, peel, flag=F.col("d") < k)
    core.run(rounds)
    return core.state.filter(F.col("d") >= k).select(
        "id", F.col("d").alias("core_degree")
    )


def clustering_coefficient(
    graph: PropertyGraph, edge_labels: tuple[str, ...] = ()
) -> DataFrame:
    """Local clustering coefficient → (id, coefficient) = 2·T(v) /
    (d(v)·(d(v)−1)) over the deduplicated undirected neighborhood;
    degree-0/1 vertices get 0.0. Composition of the degree-ordered
    triangle count and one degree aggregation — no new shuffle shape.
    """
    # ONE deduplicated undirected edge set and ONE degree aggregation,
    # shared between the coefficient denominator and the degree
    # orientation (the previous composition with triangle_count built
    # both a second time from the raw edges — a full scan + dedup
    # shuffle and a degree shuffle computed twice per query)
    und = _undirected_pairs(_edges(graph, edge_labels)).cache()
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .cache()
    )
    oriented = degree_oriented_edges(und, deg).cache()
    per_vertex = (
        _enumerate_triangles(oriented)
        .select(F.explode(F.array("v1", "v2", "v3")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(per_vertex, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce(F.col("d"), F.lit(0)) >= 2,
                2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )
    # materialize before releasing the cached relations
    out = cut_lineage(out, eager=True)
    oriented.unpersist(blocking=False)
    deg.unpersist(blocking=False)
    und.unpersist(blocking=False)
    return out


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a normalized (a < b) undirected
    edge set → (a, b, support). Triangles enumerate degree-oriented
    (hub-safe); each triangle credits its three normalized edges."""
    tri = _enumerate_triangles(degree_oriented_edges(und))
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("v1", "v2").alias("a"), F.greatest("v1", "v2").alias("b")
                ),
                F.struct(
                    F.least("v1", "v3").alias("a"), F.greatest("v1", "v3").alias("b")
                ),
                F.struct(
                    F.least("v2", "v3").alias("a"), F.greatest("v2", "v3").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return edges3.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


def k_truss(
    graph: PropertyGraph,
    k: int,
    rounds: int = 20,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Edges of the k-truss (the maximal subgraph where every edge lies
    in ≥ k−2 triangles) → DataFrame(a, b, support), a < b, support
    within the truss.

    Edge-support peeling (Cohen 2008): each round recounts per-edge
    triangle support over the surviving edges and drops edges below
    k−2; the fixpoint is the k-truss. Like :func:`k_core`, ``rounds``
    is part of the reproducible contract — a fixed-round prefix is
    deterministic, so a generated SQL oracle replays it verbatim —
    and the loop early-stops once a round removes nothing. The peel
    runs on the frontier driver: a round's delta is the set of edges it
    drops, so the count on each round's cut ends the loop. The
    per-round triangle pass reuses the degree-ordered enumeration, so
    wedge work stays arboricity-bounded on every round (the edge set
    only shrinks). Ghost endpoints (no vertex row) are
    truss vertices: the peel reads the edge relation alone.
    """
    und = _undirected_pairs(_edges(graph, edge_labels))
    # The triangle pass (_edge_support) dominates every round, so each
    # round's support is cut lazily (on disk, like the edge set, to keep
    # executor memory flat) and filled by the round's counted cut. A
    # converged peel dropped nothing in its last round, so that round's
    # support is the final one ("no edge dropped" means every triangle
    # is unchanged); a peel cut short by ``rounds`` recounts.
    last: dict[str, DataFrame] = {}

    def weak(_dropped: DataFrame, edges: DataFrame) -> DataFrame:
        last["sup"] = cut_lineage(_edge_support(edges), eager=False, disk=True)
        return (
            edges.join(last["sup"], ["a", "b"], "left")
            .filter(F.coalesce("support", F.lit(0)) < k - 2)
            .select("a", "b")
        )

    def peel(edges: DataFrame, dropped: DataFrame) -> DataFrame:
        return edges.join(dropped, ["a", "b"], "left_anti")

    truss = Frontier(und, weak, peel, disk=True).run(rounds)
    sup = last["sup"] if truss.converged else _edge_support(truss.state)
    return (
        truss.state.join(sup, ["a", "b"], "left")
        .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
    )


def personalized_pagerank(
    graph: PropertyGraph,
    seed_ids,
    alpha: float = 0.85,
    iterations: int = 10,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Personalized PageRank → DataFrame(id, ppr): the random walk
    restarts into the seed set instead of the uniform vector —
    PR_{t+1}(v) = (1−α)·1[v ∈ S]/|S| + α·Σ_{u→v} PR_t(u)/outdeg(u),
    initial mass 1/|S| on each seed. Same rounds as :func:`pagerank`
    (cached contribution edges, one shuffle per round, lineage cut per
    round); the restart vector is a broadcast ``isin`` literal — fine
    for seed sets up to thousands, beyond that pass seeds as a
    DataFrame join instead. Ghost endpoints as in :func:`pagerank`; a
    ghost seed counts in |S| but holds no mass. A repeated seed counts
    once.
    """
    seeds = list(dict.fromkeys(int(s) for s in seed_ids))
    if not seeds:
        raise ValueError("personalized_pagerank requires at least one seed")
    seed_mass = 1.0 / len(seeds)
    is_seed = F.col("id").isin(seeds)
    return _rank_rounds(
        graph, "ppr", F.when(is_seed, F.lit(seed_mass)).otherwise(F.lit(0.0)),
        F.when(is_seed, F.lit((1.0 - alpha) * seed_mass)).otherwise(F.lit(0.0)),
        alpha, iterations, edge_labels,
    )


def peer_pressure(
    graph: "PropertyGraph",
    iterations: int = 3,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """TinkerPop's ``peerPressure()`` community step
    (PeerPressureVertexProgram; Titan runs it through its
    GraphComputer — olap/OLAPTest.java exercises the same BSP path):
    cluster by iterated neighbor voting. This engine's deterministic
    synchronous variant IS ``label_propagation`` — modal neighbor
    label, smallest-label ties — so the step is a documented alias;
    the output column keeps the step's ``cluster`` name."""
    return label_propagation(graph, iterations, edge_labels).withColumnRenamed(
        "community", "cluster"
    )


def _landmark_distances(
    graph: PropertyGraph,
    landmark_ids: list[int],
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, landmark, dist) BFS fixpoint — the shared state behind
    closeness and harmonic centrality.

    One multi-source BFS carries every landmark at once: state rows are
    (vertex, landmark, dist) so the whole sample costs the same number
    of rounds as a single BFS, and per-round work tracks the FRONTIER
    (newly-reached pairs) — settled pairs are anti-joined out and never
    re-expand. At 100 TB the landmark set is the scale knob: state is
    O(|V|·k) and exact all-pairs closeness (k = |V|) is quadratic by
    definition; k in the hundreds is the published accuracy/cost
    tradeoff, and shuffles stay proportional to frontier × degree. Runs
    on the frontier driver; a BFS still growing after ``max_iterations``
    rounds warns, since pairs beyond that depth are missing.
    """
    ue = _sym_adjacency(_edges(graph, edge_labels)).cache()
    seed = graph.vertices.filter(F.col("id").isin([int(x) for x in landmark_ids])).select(
        F.col("id"), F.col("id").alias("lm"), F.lit(0).cast("long").alias("d")
    )

    def expand(frontier: DataFrame, state: DataFrame) -> DataFrame:
        return (
            frontier.join(ue, frontier["id"] == ue["u"])
            .select(F.col("v").alias("id"), "lm", (F.col("d") + 1).alias("d"))
            .groupBy("id", "lm")
            .agg(F.min("d").alias("d"))
            .join(state, ["id", "lm"], "left_anti")
        )

    bfs = Frontier(seed, expand).run(max_iterations)
    ue.unpersist()
    if not bfs.converged:
        _warn_unconverged(
            "landmark BFS", max_iterations, "vertices beyond that depth are missing."
        )
    return bfs.state


def closeness_centrality(
    graph: PropertyGraph,
    landmark_ids: list[int],
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 20,
) -> DataFrame:
    """Landmark-approximate closeness centrality → (id, n_reached,
    closeness), the standard landmark estimator k / Σ d(v, landmark)
    (Eppstein & Wang, "Fast approximation of centrality", SODA 2001)
    where k counts the REACHED landmarks that are not v itself: a
    landmark vertex's own d=0 row is excluded from k (the classic
    (n−1)/Σd self-exclusion) while a non-landmark vertex keeps every
    reached landmark — its reached set never contains itself, so
    nothing is discarded. See :func:`_landmark_distances` for the
    multi-source-BFS cost model. Ghost endpoints (no vertex row) are
    traversed and get rows; a ghost landmark seeds nothing.
    """
    state = _landmark_distances(graph, landmark_ids, edge_labels, max_iterations)
    is_lm = F.max(F.when(F.col("d") == 0, F.lit(1)).otherwise(F.lit(0)))
    return state.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_reached"),
        F.when(
            F.sum("d") > 0,
            F.round(
                (F.count(F.lit(1)) - is_lm).cast("double") / F.sum("d").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )


def harmonic_centrality(
    graph: PropertyGraph,
    landmark_ids: list[int],
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 20,
) -> DataFrame:
    """Landmark harmonic centrality → (id, harmonic) with
    harmonic = Σ_{d(v,l) > 0} 1/d(v,l) (Boldi & Vigna, "Axioms for
    Centrality", Internet Math. 2014 — the closeness variant that
    stays well-defined on disconnected graphs: unreachable landmarks
    contribute 0 instead of poisoning the sum). Same one multi-source
    BFS as closeness, ghosts included; only the final aggregation
    differs."""
    state = _landmark_distances(graph, landmark_ids, edge_labels, max_iterations)
    return state.groupBy("id").agg(
        F.round(
            F.sum(F.when(F.col("d") > 0, F.lit(1.0) / F.col("d")).otherwise(F.lit(0.0))),
            6,
        ).alias("harmonic")
    )


def maximal_independent_set(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
    seed: int = 0,
    max_iterations: int = 30,
) -> DataFrame:
    """Luby's maximal independent set (Luby, "A Simple Parallel
    Algorithm for the Maximal Independent Set Problem", SIAM J.
    Comput. 1986) → (id, in_mis), deterministically: each round's
    "random" priority is the portable hash of (seed, round, id) — the
    engine's standard reproducible-randomness contract — and a vertex
    enters the MIS when its (priority, id) beats every ACTIVE
    neighbor's. Winners' neighbors retire; expected O(log n) rounds.

    Per round: one join of active vertices with the cached symmetric
    edge list + one max-combiner agg + two anti-joins — all
    frontier-proportional; the active set only shrinks. The rounds run
    on :class:`Fixpoint` with the active set as the state, so the count
    that fills a round's cut also ends the loop once nothing is active
    (no extra empty round). MIS at scale is
    the classic building block for graph coloring / parallel
    scheduling / diversity sampling over near-dup graphs.
    """
    # self-loops never block MIS entry
    ue = _sym_adjacency(_edges(graph, edge_labels)).cache()
    mis = _luby(ue, graph.vertices.select("id"), seed, max_iterations)
    ue.unpersist()
    return graph.vertices.select("id").join(
        mis.withColumn("_in", F.lit(True)), "id", "left"
    ).select("id", F.coalesce(F.col("_in"), F.lit(False)).alias("in_mis"))


def _luby(
    ue: DataFrame, ids: DataFrame, seed: int, max_iterations: int, size: int | None = None
) -> DataFrame:
    """Luby's rounds over the active ``ids`` and the symmetric edge
    list ``ue`` (u, v) → the MIS winners (id). ``size`` is the number of
    ids when the caller knows it. Only edges with both endpoints active
    take part, so ``ue`` may hold edges to retired or ghost ids. Warns
    when active ids remain after ``max_iterations`` rounds."""
    from titan_spark.functions.hashing import portable_hash64

    won: list[DataFrame] = []

    def round_(active: DataFrame, r: int) -> DataFrame:
        pr = portable_hash64(
            F.concat(F.lit(f"mis{seed}:{r}:"), F.col("id").cast("string"))
        )
        ap = active.select("id", pr.alias("p"))
        nbr_max = (
            ue.join(ap.select(F.col("id").alias("v"), F.struct("p", "id").alias("vs")), "v")
            .join(ap.select(F.col("id").alias("u")), "u")
            .groupBy("u")
            .agg(F.max("vs").alias("mx"))
            .withColumnRenamed("u", "id")
        )
        winners = (
            ap.join(nbr_max, "id", "left")
            .filter(F.col("mx").isNull() | (F.struct("p", "id") > F.col("mx")))
            .select("id")
        )
        # filled by the cut of the next active set, which reads it
        won.append(cut_lineage(winners, eager=False))
        losers = (
            ue.join(won[-1].withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(active, "id", "left_semi")
        )
        return active.join(won[-1].unionByName(losers), "id", "left_anti")

    luby = Fixpoint(ids, round_, size=size).run(max_iterations)
    if not luby.converged:
        _warn_unconverged("maximal_independent_set", max_iterations, "it may not be maximal.")
    return reduce(DataFrame.unionByName, won, ids.select("id").limit(0))


def topological_levels(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 100,
) -> DataFrame:
    """DAG layering → (id, level): level 0 = no incoming edges, else
    1 + max level over predecessors — the longest-path-from-source
    depth, i.e. the earliest parallel-execution wave of a scheduling
    DAG. Max-plus fixpoint with a true changed-vertex frontier: round
    1 expands every vertex, later rounds expand ONLY the out-edges of
    vertices whose level rose last round — a level can rise only when
    a predecessor's did, so the merge `max(old, bumped)` over the
    frontier's successors is exact. Per-round cost is
    O(out-edges(frontier) + |bumped|) plus one grouped-max merge into
    the state, not O(|E|)·depth. Raises on non-convergence (a cycle:
    topological layering is undefined — the reference failure mode,
    not a silent wrong answer). Only vertex rows are layered: an edge
    with a ghost endpoint (no vertex row) takes no part.
    """
    ed = (
        _edges(graph, edge_labels)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .dropDuplicates()
        .cache()
    )

    def expand(frontier: DataFrame, lvl: DataFrame) -> DataFrame:
        cand = (
            ed.join(frontier.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg((F.max("level") + 1).alias("_nl"))
        )
        return (
            cand.join(lvl, "id")
            .filter(F.col("_nl") > F.col("level"))
            .select("id", F.col("_nl").alias("level"))
        )

    def rise(lvl: DataFrame, bumped: DataFrame) -> DataFrame:
        return lvl.unionByName(bumped).groupBy("id").agg(F.max("level").alias("level"))

    seed = graph.vertices.select("id", F.lit(0).cast("long").alias("level"))
    layers = Frontier(seed, expand, rise).run(max_iterations)
    ed.unpersist()
    if not layers.converged:
        raise ValueError(
            f"topological_levels did not converge in {max_iterations} rounds — "
            "the graph has a cycle (layering undefined)"
        )
    return layers.state


def betweenness_centrality(
    graph: PropertyGraph,
    source_ids: list[int],
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 20,
) -> DataFrame:
    """Source-sampled betweenness centrality (Brandes, "A Faster
    Algorithm for Betweenness Centrality", J. Math. Sociol. 2001;
    sampling per Brandes–Pich 2007) → (id, betweenness): how much
    shortest-path traffic from the sample flows THROUGH each vertex.

    Two phases over the undirected graph, both level-synchronous so
    every round is one join + one map-side-combinable agg:

    - forward: multi-source BFS carrying (vertex, source, dist, σ) —
      σ = number of shortest source→vertex paths, accumulated as the
      sum of the previous level's σ over edges (all shortest-path
      predecessors of a depth-d+1 vertex sit at depth d, so the
      level-synchronous sum is exact);
    - backward: dependency accumulation by DESCENDING level,
      δ(u) += Σ_w σ(u)/σ(w) · (1 + δ(w)) over successor edges —
      rounds = graph depth, state = the same (vertex, source) pairs.

    betweenness(v) = Σ_sources δ(v, s), v ∉ sources. State is
    O(|V|·k) like the closeness/harmonic landmark family — k is the
    published accuracy/cost knob; exact betweenness (k = |V|) is the
    quadratic ceiling this sampling exists to avoid. Per-round
    lineage cuts throughout. Ghost endpoints (no vertex row) are
    traversed and lie on paths, but only vertex rows are listed.

    Error bound (Brandes–Pich, "Centrality Estimation in Large
    Networks", IJBC 2007): the population estimate (n/k)·Σ_{s∈S}
    δ(v, s) over k uniformly chosen sources deviates from exact
    betweenness by more than ε·n(n−1) with probability at most
    2·exp(−2kε²) per vertex (Hoeffding on the per-source dependency
    δ(v,s)/(n−1) ∈ [0,1]); :func:`auto_num_sources` inverts this to
    pick k for a target (ε, δ) with a union bound over all vertices,
    giving the published k = Θ(log n / ε²). Measured on the 200-vertex
    ring+chord fixture: max scaled error falls ~2× from k=4 to k=16
    (tests/test_betweenness_error.py).
    """
    ue = _sym_adjacency(_edges(graph, edge_labels)).cache()
    seed = graph.vertices.filter(F.col("id").isin([int(x) for x in source_ids])).select(
        "id",
        F.col("id").alias("lm"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("double").alias("sigma"),
    )

    def expand(frontier: DataFrame, visited: DataFrame) -> DataFrame:
        # every frontier row sits at the same depth, so min(dist) + 1 is
        # the round's depth
        return (
            frontier.join(ue, frontier["id"] == ue["u"])
            .groupBy(F.col("v").alias("id"), "lm")
            .agg(F.sum("sigma").alias("sigma"), (F.min("dist") + 1).alias("dist"))
            .join(visited.select("id", "lm"), ["id", "lm"], "left_anti")
        )

    forward = Frontier(seed, expand).run(max_iterations)
    if not forward.converged:
        _warn_unconverged(
            "betweenness_centrality", max_iterations, "paths beyond that depth are missing."
        )
    visited, depth = forward.state, forward.rounds
    # backward: delta per (id, lm), accumulated from depth down to 1.
    # In the level-synchronous BFS DAG every (vertex, source) pair's
    # dependency is finalized in exactly ONE round — the round that
    # processes its depth+1 successors — so each round touches only
    # the two adjacent LEVELS instead of rewriting the full
    # O(|V|·k) delta state (the old loop eagerly re-materialized
    # every pair every round; at sf10 that was depth × 8 M-row
    # rewrites for the same arithmetic). Finalized levels stack up
    # in ``parts`` and union once at the end — same additions, same
    # values, depth× less rewrite volume.
    dprev = visited.filter(F.col("dist") == depth).select(
        "id", "lm", "sigma", F.lit(0.0).alias("delta")
    )
    dprev = cut_lineage(dprev, eager=True)
    parts = [dprev.select("id", "lm", "delta")]
    for d in range(depth, 0, -1):
        w_nodes = dprev.select(
            F.col("id").alias("_w"), "lm",
            F.col("sigma").alias("_sw"), F.col("delta").alias("_dw"),
        )
        preds = visited.filter(F.col("dist") == d - 1).select(
            F.col("id").alias("_u"), "lm", F.col("sigma").alias("_su")
        )
        contrib = (
            ue.join(w_nodes, ue["v"] == w_nodes["_w"])
            .join(preds, (F.col("u") == F.col("_u")) & (w_nodes["lm"] == preds["lm"]))
            .select(
                F.col("_u").alias("id"),
                w_nodes["lm"].alias("lm"),
                (F.col("_su") / F.col("_sw") * (1.0 + F.col("_dw"))).alias("_c"),
            )
            .groupBy("id", "lm")
            .agg(F.sum("_c").alias("_add"))
        )
        dprev = cut_lineage(
            visited.filter(F.col("dist") == d - 1)
            .select("id", "lm", "sigma")
            .join(contrib, ["id", "lm"], "left")
            .select(
                "id", "lm", "sigma",
                F.coalesce(F.col("_add"), F.lit(0.0)).alias("delta"),
            ),
            eager=True,
        )
        parts.append(dprev.select("id", "lm", "delta"))
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    ue.unpersist()
    bc = (
        delta.filter(F.col("id") != F.col("lm"))  # a source's own BFS contributes no self-dependency
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )
    return graph.vertices.select("id").join(bc, "id", "left").select(
        "id", F.coalesce(F.col("betweenness"), F.lit(0.0)).alias("betweenness")
    )


def auto_num_sources(
    n_vertices: int, eps: float = 0.1, delta: float = 0.1
) -> int:
    """Sample size for source-sampled betweenness (Brandes–Pich 2007,
    via Hoeffding + union bound): with k = ⌈ln(2n/δ) / (2ε²)⌉ uniform
    sources, every vertex's population-scaled estimate is within
    ε·n(n−1) of its exact betweenness with probability ≥ 1−δ — the
    published Θ(log n / ε²) sources, independent of edge count. Capped
    at n (k = n IS exact Brandes)."""
    import math

    if n_vertices <= 1:
        return 1
    k = math.ceil(math.log(2 * n_vertices / delta) / (2 * eps * eps))
    return max(1, min(int(k), int(n_vertices)))


def greedy_coloring(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
    seed: int = 0,
    max_colors: int = 64,
) -> DataFrame:
    """Distributed graph coloring by iterated Luby MIS (the classic
    Jones–Plassmann family: color c = the maximal independent set of
    the residual graph after colors 0..c−1 retire) → (id, color).

    Guarantees a PROPER coloring (an MIS is independent, so no
    monochromatic edge) with at most Δ+1 colors (every vertex joins
    an MIS once all neighbors of lower colors are gone). Rounds =
    colors used × Luby rounds — both logarithmic-ish on sparse
    graphs. The color passes run on :class:`Fixpoint` with the
    uncolored ids as the state; each pass is the Luby loop of
    :func:`maximal_independent_set` on those ids, over one cached
    symmetric edge list. Coloring
    feeds conflict-free parallel scheduling (e.g. batching DML on a
    dependency graph) and diversity batching over near-dup graphs.
    """
    ue = _sym_adjacency(_edges(graph, edge_labels)).cache()
    colored: list[DataFrame] = []

    def color(uncolored: DataFrame, c: int) -> DataFrame:
        # Luby's joins skip every edge with a coloured endpoint, so the
        # residual graph is never built; 30 rounds is MIS's default cap
        mis = _luby(ue, uncolored, seed + c, 30, size=coloring.size)
        colored.append(mis.select("id", F.lit(c).cast("int").alias("color")))
        return uncolored.join(mis, "id", "left_anti")

    coloring = Fixpoint(graph.vertices.select("id"), color)
    coloring.run(max_colors)
    ue.unpersist()
    if not coloring.converged:
        raise ValueError(f"coloring did not finish within {max_colors} colors")
    if not colored:  # no vertex rows
        return local_relation(graph.vertices.sparkSession, [], "id long, color int")
    return reduce(DataFrame.unionByName, colored)


def _walk_graph(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...],
    direction: str,
    max_neighbors: int | None,
    start_ids: list[int] | None,
    salt: str,
) -> tuple[DataFrame, DataFrame]:
    """What :func:`random_walks` and :func:`node2vec_walks` step over:
    the (u, v) adjacency in ``direction`` with each vertex's neighbours
    capped at ``max_neighbors`` (the first by a hash keyed on ``salt``:
    a sampling bias on vertices above the cap, so no hub row outgrows
    memory), and the start ids (``start_ids``, else every vertex row)."""
    from pyspark.sql import Window

    from titan_spark.functions.hashing import portable_hash64

    ad = _adjacency(_edges(graph, edge_labels), direction)
    if max_neighbors is not None:
        pick = portable_hash64(F.concat(F.lit(salt), F.col("v").cast("string")))
        w = Window.partitionBy("u").orderBy(pick.asc(), F.col("v").asc())
        ad = (
            ad.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_neighbors)
            .drop("_rn")
        )
    starts = graph.vertices.select("id")
    if start_ids is not None:
        starts = starts.filter(F.col("id").isin([int(x) for x in start_ids]))
    return ad, starts


def random_walks(
    graph: PropertyGraph,
    length: int = 3,
    seed: int = 0,
    edge_labels: tuple[str, ...] = (),
    direction: str = "both",
    start_ids: list[int] | None = None,
    walks_per_start: int = 1,
    max_neighbors: int | None = None,
) -> DataFrame:
    """Deterministic random walks → (walk_id, step, id): the corpus
    generator for DeepWalk/node2vec-style graph embeddings (Perozzi
    2014, Grover–Leskovec 2016) and for graph-sampled training-data
    augmentation.

    Each walk takes ``length`` steps; the step from vertex v in walk w
    at step t moves to ``neighbors(v)[h(seed, w, t) mod degree(v)]``
    over v's SORTED neighbor array — the engine's standard
    reproducible-randomness contract (same hash family as
    sample_/coin_/weighted_sample), which makes every walk replayable
    in the SQL oracle and identical across engines and runs.
    ``walk_id = start_id * walks_per_start + j`` so distinct walks
    from one start diverge (the hash keys on walk_id). Walks at a
    dead-end vertex stop (no rows for later steps), matching the
    standard walk-corpus convention.

    The walk is a :class:`Frontier` over (walk_id, step, id) rows: a
    round's delta is the next step of every walk still moving, and the
    union state is the corpus, so the loop ends early once every walk
    has dead-ended.

    Scale shape: neighbor arrays are built ONCE (one groupBy over the
    edges); each step is then one frontier⋈neighbor-array join
    emitting exactly ONE row per walk — O(frontier) per step
    regardless of degree. The earlier candidate-enumeration design
    (argmin of a per-neighbor hash) was measured 80× superlinear on
    the sf1 geography graph: every walk sitting on a 64k-degree
    nation hub expanded its whole adjacency per step. Index-by-hash
    keeps supernodes O(1) per visiting walk. ``max_neighbors`` caps a
    hub's stored array (hash-selected subset, documented sampling
    bias on vertices above the cap) so no single row exceeds memory
    at true-supernode scale; None stores exact adjacency.
    """
    from titan_spark.functions.hashing import portable_hash64

    ad, starts = _walk_graph(
        graph, edge_labels, direction, max_neighbors, start_ids, f"rwn{seed}:"
    )
    nbrs = ad.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("_ns")).cache()

    def step(walks: DataFrame, _corpus: DataFrame) -> DataFrame:
        draw = portable_hash64(
            F.concat(
                F.lit(f"rw{seed}:"),
                F.col("walk_id").cast("string"),
                F.lit(":"),
                F.col("step").cast("string"),
            )
        )
        idx = (F.pmod(draw, F.size("_ns")) + F.lit(1)).cast("int")
        return walks.join(nbrs, walks["id"] == nbrs["u"]).select(
            "walk_id", (F.col("step") + 1).alias("step"), F.element_at("_ns", idx).alias("id")
        )

    legs = [
        starts.select(
            (F.col("id") * walks_per_start + F.lit(j)).alias("walk_id"),
            F.lit(0).alias("step"),
            "id",
        )
        for j in range(walks_per_start)
    ]
    corpus = Frontier(reduce(DataFrame.unionByName, legs), step).run(length).state
    nbrs.unpersist()
    return corpus


def strongly_connected_components(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
    max_outer: int = 25,
    max_inner: int = 80,
    strict: bool = True,
) -> DataFrame:
    """Strongly connected components of the DIRECTED graph →
    (id, component) with component = the min vertex id of the SCC —
    the directed complement of :func:`connected_components` (which
    ignores edge direction).

    Forward-max coloring with backward collection (the classic
    Pregel-family SCC of Orzan 2004 / FW-BW peeling): per outer round,

    1. forward fixpoint: color(v) = max(id(v), colors of in-neighbors)
       over the remaining subgraph — every vertex learns the largest
       ancestor id in its color region;
    2. roots: vertices with color(v) == id(v) (their own id beat every
       ancestor). Each root r's SCC is exactly the vertices of color r
       that can reach r BACKWARD inside the color class (mutual
       reachability: forward via the color, backward via the BFS);
    3. the collected SCCs retire from the remaining subgraph; a color
       region that straddled two SCCs (an upstream cycle invading a
       downstream one) resolves in a later round once the invader is
       gone.

    Outer rounds = SCC-DAG peeling depth of the color structure
    (1 on graphs whose cycles don't shadow each other, ≤ SCC-chain
    length worst case); inner rounds track region diameter, with the
    standard per-round lineage cuts. Every join is frontier- or
    remaining-subgraph-sized; nothing is quadratic in |V|.

    r12 state representation (guide §2.3/§2.4 — identical rounds,
    delta-sized state): the color table is never carried whole.
    color(v) = id(v) until first bump, so the forward fixpoint carries
    only the CHANGED colors — per-round bump parts, each checkpointed,
    resolved once after convergence to cmap = (id, max color over
    accepted bumps; colors only increase, so the max IS the converged
    color). r11's form rewrote and re-shuffled the full |V|-row color
    relation every inner round of both fixpoints. The backward phase
    keeps the same delta discipline: candidates inner-join a SHRINKING
    ``uncolmap`` (uncollected id→color; roots and singletons start
    collected, so uncollected ≡ cmap minus collected), which replaces
    the old cmap-lookup + growing-members anti-join pair, and whatever
    is left of it at convergence IS the next outer round's remaining
    set — no |V|-sized retire anti-join. Measured on the 960k-block
    sf10 bench fixture: 67.9 s (r11 form, same JVM/protocol) → 36.2 s
    warm, bit-identical assignments (374d0e5:tools/prof_scc2.py).

    ``strict=True`` (default) raises ``ValueError`` if ``max_outer``
    rounds run out before every vertex is assigned, or if an inner
    fixpoint is still moving after ``max_inner`` rounds — a partial
    assignment would turn leftover vertices into fake singleton SCCs,
    and :func:`condensation` built on it would silently emit a cyclic
    "DAG" (matching :func:`topological_levels`' raise-on-cycle
    contract). ``strict=False`` restores the old warn-and-return-
    partial behavior for exploratory use.
    """
    def capped(rounds: str, knob: str, result: str) -> None:
        msg = f"strongly_connected_components did not converge in {rounds}"
        if strict:
            raise ValueError(f"{msg}; raise {knob} or pass strict=False to accept {result}")
        warnings.warn(f"{msg}; returning {result}", RuntimeWarning, stacklevel=3)

    ed_all = _adjacency(_edges(graph, edge_labels), "out")
    remaining, n_rem = counted_cut(graph.vertices.select("id"))
    done = remaining.select("id", F.col("id").alias("component")).limit(0)
    for _outer in range(max_outer):
        if n_rem == 0:
            break
        sub_e = _inside(ed_all, remaining, "u", "v").cache()
        n_sub = sub_e.count()
        # r11: big-state rounds keep EVERY lineage cut on disk. The
        # per-round localCheckpoint blocks of the two fixpoints are
        # reclaimed only after driver GC (ContextCleaner), so at the
        # sf10 960k-block fixture one SCC run leaves ~26 persistent
        # RDDs (~GBs) in the block manager and a SECOND SCC-family
        # query in the same JVM measured +36% from the residue alone
        # (67.7 s fresh -> 92.3 s following; clearing the leaked blocks
        # restored 60.9 s). Same executor-memory reasoning as k_core's
        # disk cut. Small graphs keep memory-backed cuts.
        big_state = n_sub > 2_000_000

        # count-known relations at or under this many rows get an
        # explicit broadcast hint: the steady frontier (640 k rows ×
        # 16 B at the sf10 fixture) sits EXACTLY at AQE's 10 MB
        # threshold boundary, and a missed broadcast re-shuffles the
        # cached edge relation every round
        bcast_cap = 4_000_000

        # 1. forward max-color fixpoint (changed-frontier
        # expansion), delta state only. Pointer jumping on colors
        # (the WCC loop's O(log diameter) doubling) was tried here
        # and measured SLOWER on the bench fixture (13.1 s vs
        # 9.0 s warm): on cycle blocks most vertices re-color
        # every round, so the two extra frontier-sized joins per
        # round cost more than the saved rounds — reverted, noted
        # so it is not re-tried.
        def bump(frontier: DataFrame, bumps: DataFrame) -> DataFrame:
            fr = frontier.select(F.col("id").alias("u"), "color")
            if fwd.size is not None and fwd.size <= bcast_cap:
                fr = F.broadcast(fr)
            # current color = max over accepted bumps (colors only
            # increase), default id — the union of checkpointed bump
            # parts needs no per-round dedup/rewrite
            return (
                sub_e.join(fr, "u")
                .groupBy(F.col("v").alias("id"))
                .agg(F.max("color").alias("_nc"))
                .join(bumps, "id", "left")
                .groupBy("id", "_nc")
                .agg(F.max("color").alias("_cur"))
                .filter(F.col("_nc") > F.coalesce(F.col("_cur"), F.col("id")))
                .select("id", F.col("_nc").alias("color"))
            )

        own = remaining.select("id", F.col("id").alias("color"))
        fwd = Frontier(own, bump, state=own.limit(0), disk=big_state)
        fwd.run(max_inner)
        # converged colors, resolved ONCE: cmap holds only vertices
        # whose color exceeds their id; everyone else's color is
        # their id (those are the roots and the singletons)
        cmap = fwd.state.groupBy("id").agg(F.max("color").alias("color"))
        cmap = cut_lineage(cmap, eager=True, disk=big_state)

        # 2. backward collection from roots within each color
        # class. members starts as every vertex whose color == id
        # (root of its class or trivial class); the uncollected
        # rest is exactly cmap, carried as the shrinking uncolmap
        def reach_back(bfront: DataFrame, uncolmap: DataFrame) -> DataFrame:
            # predecessors u of collected v, same color class, not
            # yet collected — "u uncollected AND color(u) == class"
            # is ONE inner join against uncolmap
            return (
                sub_e.join(bfront.select(F.col("id").alias("v"), "color"), "v")
                .select(F.col("u").alias("id"), "color")
                .join(uncolmap.withColumnRenamed("color", "_uc"), "id")
                .filter(F.col("_uc") == F.col("color"))
                .select("id", "color")
                .dropDuplicates(["id"])
            )

        def drop_collected(uncolmap: DataFrame, new: DataFrame) -> DataFrame:
            # members = the roots plus every round's cut delta
            collected.append(new)
            gone = new.select("id")
            if bwd.size <= bcast_cap:
                gone = F.broadcast(gone)
            return uncolmap.join(gone, "id", "left_anti")

        members0 = remaining.join(cmap, "id", "left_anti").withColumn("color", F.col("id"))
        bwd = Frontier(members0, reach_back, drop_collected, state=cmap, disk=big_state)
        collected = [bwd.frontier]
        bwd.run(max_inner)
        if not (fwd.converged and bwd.converged):
            # a capped fixpoint splits an SCC into fake singletons
            capped(f"{max_inner} inner rounds", "max_inner (long cycles)", "split components")
        members = reduce(DataFrame.unionByName, collected)
        # 3. retire: rep = min id of each collected SCC; the
        # still-uncollected leftover of uncolmap IS the next
        # round's remaining set (remaining = members ⊎ uncolmap)
        rep = members.groupBy("color").agg(F.min("id").alias("component"))
        assigned = members.join(rep, "color").select("id", "component")
        done = cut_lineage(done.unionByName(assigned), eager=True, disk=big_state)
        remaining, n_rem = counted_cut(bwd.state.select("id"), disk=big_state)
        sub_e.unpersist()
    if n_rem > 0:
        capped(f"{max_outer} outer rounds", "max_outer (deep SCC chains)", "a partial assignment")
        done = done.unionByName(remaining.select("id", F.col("id").alias("component")))
    return done


def bidirectional_distance(
    graph: PropertyGraph,
    src_id: int,
    dst_id: int,
    edge_labels: tuple[str, ...] = (),
    direction: str = "both",
    max_iterations: int = 30,
) -> DataFrame:
    """Point-to-point unweighted distance by bidirectional BFS →
    one row (src, dst, distance; NULL when unreachable).

    Meet-in-the-middle: expand the SMALLER frontier each round
    (forward from src, backward from dst — reversed edges when
    ``direction='out'``), track the best meeting distance, stop once
    level_f + level_b ≥ best (any later meeting is no shorter) or a
    side exhausts. On a graph with branching factor b and distance d,
    explored volume is O(b^(d/2)) per side instead of O(b^d) — the
    standard big-graph point-query optimization over a full SSSP
    (:func:`shortest_distance` remains the all-destinations form).
    Frontier-sized joins + per-round lineage cuts throughout.

    Raises ``ValueError`` if ``max_iterations`` combined frontier
    expansions run out before either a side exhausts or the
    ``level_f + level_b ≥ best`` optimality proof holds — an
    unterminated search must not masquerade as "unreachable" (NULL)
    or return a possibly non-minimal meeting distance on
    high-diameter graphs.
    """
    if direction not in ("out", "both"):
        raise ValueError(f"direction must be out|both, got {direction!r}")
    spark = graph.vertices.sparkSession
    e = _edges(graph, edge_labels)
    if direction == "both":
        # one cached symmetric closure serves both sides (the backward
        # expansion over a symmetric edge set is the forward one)
        fwd_e = bwd_e = _sym_adjacency(e).cache()
    else:
        fwd_e, bwd_e = _adjacency(e, "out").cache(), _adjacency(e, "in").cache()

    def one_row(dist):
        return local_relation(
            spark,
            [(int(src_id), int(dst_id), dist)],
            "src bigint, dst bigint, distance bigint",
        )

    if int(src_id) == int(dst_id):
        fwd_e.unpersist(), bwd_e.unpersist()
        return one_row(0)

    def search(start: int, edges: DataFrame) -> Frontier:
        def expand(frontier: DataFrame, visited: DataFrame) -> DataFrame:
            return (
                frontier.join(edges, frontier["id"] == edges["u"])
                .select(F.col("v").alias("id"), (F.col("d") + 1).alias("d"))
                .groupBy("id").agg(F.min("d").alias("d"))
                .join(visited.select("id"), "id", "left_anti")
            )

        seed = local_relation(spark, [(int(start), 0)], "id bigint, d bigint")
        return Frontier(seed, expand, size=1)

    fwd, bwd = search(src_id, fwd_e), search(dst_id, bwd_e)
    best: int | None = None
    for _i in range(max_iterations):
        if best is not None and fwd.rounds + bwd.rounds >= best:
            break
        side, other = (fwd, bwd) if fwd.size <= bwd.size else (bwd, fwd)
        if not side.advance():
            break  # side exhausted: no shorter path remains
        meet = (
            side.frontier.join(other.state.withColumnRenamed("d", "d2"), "id")
            .agg(F.min(F.col("d") + F.col("d2")).alias("m"))
            .collect()[0]["m"]
        )
        if meet is not None:
            best = int(meet) if best is None else min(best, int(meet))
    fwd_e.unpersist(), bwd_e.unpersist()
    exhausted = fwd.converged or bwd.converged
    if not exhausted and not (best is not None and fwd.rounds + bwd.rounds >= best):
        raise ValueError(
            f"bidirectional_distance did not converge within "
            f"{max_iterations} frontier expansions (neither side "
            f"exhausted, optimality bound not reached); raise "
            f"max_iterations for high-diameter graphs"
        )
    return one_row(best)


def feature_propagation(
    graph: PropertyGraph,
    feature_col: str,
    hops: int = 2,
    agg: str = "mean",
    edge_labels: tuple[str, ...] = (),
    direction: str = "both",
    include_self: bool = True,
) -> DataFrame:
    """k-hop neighborhood feature smoothing → (id, f0, f1, ..., fk):
    the preprocessing of simplified/scalable GNNs (SGC, Wu 2019; SIGN,
    Frasca 2020) — hop t+1's feature is the neighbor ``agg`` of hop
    t's, every hop kept as its own column so a downstream model (or
    mixture) picks its receptive field without re-running the graph.

    ``agg``: mean | sum | min | max. ``include_self`` mixes the
    vertex's own hop-t value into hop t+1 (self-loop-augmented
    smoothing, the GCN convention); vertices with no neighbors carry
    their value forward either way (NULL-safe).

    One shuffle per hop (edges ⋈ features + map-side-combinable agg),
    adjacency cached across hops, k is small by construction — the
    same per-round economics as PageRank, with features instead of
    mass.
    """
    aggs = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
    if agg not in aggs:
        raise ValueError(f"agg must be one of {sorted(aggs)}, got {agg!r}")
    # message flows v -> u (u aggregates its neighbors' values)
    ad = _adjacency(_edges(graph, edge_labels), direction).cache()
    state = graph.vertices.select(
        "id", F.col(feature_col).cast("double").alias("f0")
    )
    state = cut_lineage(state, eager=True)
    for t in range(hops):
        prev, nxt = f"f{t}", f"f{t + 1}"
        msgs = (
            ad.join(state.select(F.col("id").alias("v"), F.col(prev).alias("_x")), "v")
            # a double sum depends on its order, and the cent rounding
            # below turns a 1-ulp difference into a 1-cent one: each
            # vertex sums its neighbors in v order inside one partition,
            # whatever the shuffle's partition count
            .repartition("u")
            .sortWithinPartitions("u", "v")
            .groupBy(F.col("u").alias("id"))
            .agg(aggs[agg]("_x").alias("_agg"), F.count("_x").alias("_n"))
        )
        if not include_self:
            with_self = F.col("_agg")
        elif agg == "mean":
            with_self = (F.col("_agg") * F.col("_n") + F.col(prev)) / (F.col("_n") + 1)
        elif agg == "sum":
            with_self = F.col("_agg") + F.col(prev)
        elif agg == "min":
            with_self = F.least("_agg", prev)
        else:
            with_self = F.greatest("_agg", prev)
        # NULL handling: no neighbor signal carries the own value
        # forward; a NULL own value (e.g. a label without the feature)
        # takes the neighbor aggregate alone instead of poisoning it
        mixed = (
            F.when(F.col("_agg").isNull(), F.col(prev))
            .when(F.col(prev).isNull(), F.col("_agg"))
            .otherwise(with_self)
        )
        state = cut_lineage(
            state.join(msgs, "id", "left")
            .select(
                "id",
                *[f"f{j}" for j in range(t + 1)],
                # floor-based cent rounding, NOT F.round: Spark rounds
                # via the decimal string (HALF_UP) while SQL engines
                # round the binary double, and self-mix averages land
                # exactly on half-cents — floor(x*100+0.5)/100 is pure
                # double arithmetic, bit-identical on identical inputs
                (F.floor(mixed * 100.0 + F.lit(0.5)) / 100.0).alias(nxt),
            )
            ,
            eager=True,
        )
    ad.unpersist()
    return state


def link_prediction(
    graph: PropertyGraph,
    pairs: DataFrame | None = None,
    edge_labels: tuple[str, ...] = (),
    max_center_degree: int | None = None,
) -> DataFrame:
    """Topological link-prediction scores → (id_a, id_b,
    common_neighbors, jaccard, adamic_adar, resource_allocation) —
    the classic similarity indices (Liben-Nowell & Kleinberg 2003;
    Adamic–Adar 2003; Zhou 2009 RA) over the undirected graph.

    ``pairs`` (id_a, id_b) drives scoring — the scale-safe form: feed
    candidates from LSH buckets, sampled wedges, or a business list,
    and the scoring join shuffles Σ|Γ(a)|+|Γ(b)| over the candidate
    set only. With ``pairs=None`` candidates are ALL wedge-connected
    pairs (a < b sharing a neighbor) — O(Σ deg²) pair volume, the
    supernode trap; ``max_center_degree`` excludes hub centers from
    candidate GENERATION (a 10⁶-degree hub would emit 10¹² pairs, and
    hub-mediated similarity carries little signal — the standard cap),
    while scoring still counts every common neighbor including hubs.
    """
    ad = _sym_adjacency(_edges(graph, edge_labels)).cache()
    ad.count()
    # the degree table feeds four consumers (center cap, the common-
    # neighbor weight, and both endpoint joins) and the generated pair
    # relation two (scoring + the left-join spine) — materialize each
    # once instead of re-running the aggregation / wedge self-join per
    # consumer (guide §2.4; the wedge join is the operator's most
    # expensive stage)
    deg = cut_lineage(
        ad.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg")),
        eager=True,
    )
    if pairs is None:
        centers = ad.select(F.col("v").alias("w"), F.col("u").alias("n"))
        if max_center_degree is not None:
            ok = deg.filter(F.col("deg") <= max_center_degree).select(
                F.col("id").alias("w")
            )
            centers = centers.join(ok, "w", "left_semi")
        a = centers.select("w", F.col("n").alias("id_a"))
        b = centers.select("w", F.col("n").alias("id_b"))
        pairs = (
            a.join(b, "w")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates()
        )
    pairs = cut_lineage(pairs, eager=True)
    # common neighbors w of (a, b) with their degree-derived weights
    na = ad.select(F.col("u").alias("id_a"), F.col("v").alias("w"))
    nb = ad.select(F.col("u").alias("id_b"), F.col("v").alias("w"))
    commons = (
        pairs.join(na, "id_a")
        .join(nb, ["id_b", "w"])
        .join(deg.select(F.col("id").alias("w"), F.col("deg").alias("dw")), "w")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log("dw")), 6).alias("adamic_adar"),
            F.round(F.sum(1.0 / F.col("dw")), 6).alias("resource_allocation"),
        )
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("db"))
    out = (
        pairs.join(commons, ["id_a", "id_b"], "left")
        .join(da, "id_a", "left")
        .join(db, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce("common_neighbors", F.lit(0)).alias("common_neighbors"),
            F.round(
                F.coalesce("common_neighbors", F.lit(0)).cast("double")
                / F.greatest(
                    F.coalesce("da", F.lit(0))
                    + F.coalesce("db", F.lit(0))
                    - F.coalesce("common_neighbors", F.lit(0)),
                    F.lit(1),
                ),
                6,
            ).alias("jaccard"),
            F.coalesce("adamic_adar", F.lit(0.0)).alias("adamic_adar"),
            F.coalesce("resource_allocation", F.lit(0.0)).alias("resource_allocation"),
        )
    )
    out = cut_lineage(out, eager=True)
    ad.unpersist()
    return out


def condensation(
    graph: PropertyGraph,
    components: DataFrame | None = None,
    edge_labels: tuple[str, ...] = (),
) -> PropertyGraph:
    """SCC condensation → the DAG of strongly connected components as
    a new :class:`PropertyGraph`: one vertex per component (id = the
    component rep, label ``scc``, property ``n_members``), one
    ``link`` edge per distinct inter-component edge. The classical
    cycle-free view every dependency/scheduling analysis runs on —
    and, being a PropertyGraph, :func:`topological_levels` /
    traversals apply directly.

    ``components`` defaults to running
    :func:`strongly_connected_components`; pass a precomputed
    (id, component) frame to reuse one. Edge contraction is two
    broadcast-or-shuffle joins + a distinct — |E|-proportional. The
    contracted edge relation is materialized before returning:
    condensation consumers typically probe it several times (out/in
    DAG degrees), and a lazy plan would re-run the |E|-sized
    contraction per consumer (it also pins ``edge_id``, which
    ``monotonically_increasing_id`` would otherwise re-draw on every
    recomputation).
    """
    if components is None:
        components = strongly_connected_components(graph, edge_labels=edge_labels)
    verts = (
        components.groupBy(F.col("component").alias("id"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_members"))
        .withColumn("label", F.lit("scc"))
        .select("id", "label", "n_members")
    )
    ce = (
        _contract(_edges(graph, edge_labels).select("src", "dst"), components, "src", "dst")
        .dropDuplicates()
        .select(
            F.monotonically_increasing_id().alias("edge_id"),
            "src",
            "dst",
            F.lit("link").alias("label"),
        )
    )
    return PropertyGraph(verts, cut_lineage(ce, eager=True))


def k_hop_subgraph(
    graph: PropertyGraph,
    seed_ids: list[int],
    k: int = 2,
    edge_labels: tuple[str, ...] = (),
    direction: str = "both",
) -> PropertyGraph:
    """Ego-network extraction: the subgraph induced by every vertex
    within ``k`` hops of the seeds → a new :class:`PropertyGraph`
    carrying full vertex/edge properties (GNN mini-batch neighborhoods,
    case-investigation views, debugging slices).

    k frontier-sized expansion joins collect the vertex set; edges are
    those with BOTH endpoints inside (induced-subgraph convention,
    matching ``subgraph_``'s edge-induced dual). Never materializes
    anything larger than the k-hop ball.
    """
    e = _edges(graph, edge_labels)
    ad = _adjacency(e, direction).cache()

    def expand(frontier: DataFrame, seen: DataFrame) -> DataFrame:
        return (
            frontier.join(ad, frontier["id"] == ad["u"])
            .select(F.col("v").alias("id"))
            .dropDuplicates()
            .join(seen, "id", "left_anti")
        )

    seed = local_relation(
        graph.vertices.sparkSession, [(int(s),) for s in seed_ids], "id bigint"
    )
    seen = Frontier(seed, expand).run(k).state
    ad.unpersist()
    v = graph.vertices.join(seen, "id", "left_semi")
    ee = _inside(e, seen)
    vp = graph.vertex_properties
    if vp is not None:
        vp = vp.join(seen.withColumnRenamed("id", "vertex_id"), "vertex_id", "left_semi")
    return PropertyGraph(v, ee.select(*graph.edges.columns), vp, schema=graph.schema)


def hits(
    graph: PropertyGraph,
    iterations: int = 3,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    Hyperlinked Environment", JACM 1999) → (id, hub, authority).

    Per iteration: authority(v) = Σ_{u→v} hub(u), L2-normalized;
    then hub(u) = Σ_{u→v} authority(v), L2-normalized — the classic
    mutually-recursive power iteration. Each half-step is one edge
    join + one map-side-combinable sum (PageRank economics); each L2
    norm rides INSIDE the plan as a broadcast one-row aggregate join
    (zero per-iteration driver collects — r6's version collected two
    scalars per round; VERDICT r6 nit #3). Scores round to 6 so the
    fixed-round SQL replay (same normalize-authority-before-hub
    order) matches.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    ed = _edges(graph, edge_labels).select("src", "dst").dropDuplicates().cache()

    def _l2_normalize(raw: DataFrame, col: str) -> DataFrame:
        norm = raw.agg(
            F.when(
                F.sum(F.col(col) * F.col(col)) > 0,
                F.sqrt(F.sum(F.col(col) * F.col(col))),
            )
            .otherwise(F.lit(1.0))
            .alias("_n")
        )
        return raw.crossJoin(F.broadcast(norm)).select(
            "id", (F.col(col) / F.col("_n")).alias(col)
        )

    hub = graph.vertices.select("id", F.lit(1.0).alias("h"))
    hub = cut_lineage(hub, eager=True)
    auth = None
    for t in range(iterations):
        araw = (
            ed.join(hub.select(F.col("id").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        # half-step cuts are lazy: the round's single eager hub cut
        # materializes the whole round (3 jobs/round -> 1)
        araw = cut_lineage(araw, eager=False)
        auth = _l2_normalize(araw, "a")
        hraw = (
            ed.join(auth.select(F.col("id").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        hraw = cut_lineage(hraw, eager=False)
        hub = cut_lineage(_l2_normalize(hraw, "h"), eager=True)
    ed.unpersist()
    return (
        graph.vertices.select("id")
        .join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.round(F.coalesce("h", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("a", F.lit(0.0)), 6).alias("authority"),
        )
    )


def degree_assortativity(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Degree assortativity coefficient (Newman, "Assortative mixing
    in networks", PRL 2002) → one row (n_edges, assortativity): the
    Pearson correlation of (degree(u), degree(v)) over the undirected
    edge set, each edge counted in both orientations (the standard
    symmetric estimator). Positive = hubs link hubs (social), negative
    = hubs link leaves (technological/star).

    One degree aggregation + one edge join + a five-sum reduce — all
    map-side-combinable; the coefficient itself is a single-row
    closed form, so the SQL oracle replays it exactly.
    """
    ue = _sym_adjacency(_edges(graph, edge_labels))
    deg = ue.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        ue.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.col("du").cast("double"), F.col("dv").cast("double"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("du").alias("sx"),
        F.sum("dv").alias("sy"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).alias("syy"),
    )
    m = F.col("m").cast("double")
    num = F.col("sxy") / m - (F.col("sx") / m) * (F.col("sy") / m)
    den = F.sqrt(
        (F.col("sxx") / m - (F.col("sx") / m) * (F.col("sx") / m))
        * (F.col("syy") / m - (F.col("sy") / m) * (F.col("sy") / m))
    )
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6).alias(
            "assortativity"
        ),
    )


def transitivity(
    graph: PropertyGraph, edge_labels: tuple[str, ...] = ()
) -> DataFrame:
    """Global clustering coefficient (transitivity) → one row
    (n_triangles, n_wedges, transitivity = 3·T/W): the graph-level
    closed-triangle fraction (Newman 2003), complementing the
    per-vertex :func:`clustering_coefficient`. Triangles come from
    the degree-ordered (hub-safe) enumeration; wedges are
    Σ d(d−1)/2 from one degree aggregation — two single-row
    aggregates joined broadcast-of-one-row.

    Unlike :func:`clustering_coefficient` this never needs per-vertex
    triangle rows, so the whole per-vertex tail of
    :func:`triangle_count` (explode to 3 rows/triangle, vertex groupBy,
    join back to the vertex table, eager materialization) is skipped:
    the enumerated triangle stream feeds ONE count aggregate, and the
    (id, d) degree table is shared between the wedge sum and the
    degree orientation instead of being aggregated twice."""
    und = _undirected_pairs(_edges(graph, edge_labels)).cache()
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    w = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    oriented = degree_oriented_edges(und, deg).cache()
    t = _enumerate_triangles(oriented).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    out = t.crossJoin(w).select(
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
        F.round(
            F.when(
                F.coalesce("n_wedges", F.lit(0)) > 0,
                3.0 * F.coalesce("n_triangles", F.lit(0)) / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )
    out = cut_lineage(out, eager=True)
    oriented.unpersist(blocking=False)
    und.unpersist(blocking=False)
    return out


def approximate_diameter(
    graph: PropertyGraph,
    edge_labels: tuple[str, ...] = (),
    max_iterations: int = 40,
) -> DataFrame:
    """Double-sweep BFS diameter estimate (Magnien, Latapy & Habib
    2009) → one row (start_id, ecc_start, far_id, diameter_lb).

    Sweep 1 runs an undirected BFS from the max-degree vertex (ties →
    min id) and takes its eccentricity; sweep 2 re-runs BFS from the
    farthest vertex found (ties → min id) — that second eccentricity
    is a LOWER bound on the true diameter, exact on trees and within a
    small additive error on most real graphs (the standard cheap
    alternative to the all-pairs computation, which is quadratic and
    off the table at scale).

    Scale shape: two frontier BFS passes (round cost tracks the
    frontier, like :func:`shortest_distance`) plus three 1-row driver
    lookups (start pick, farthest pick, final max) — nothing
    corpus-sized ever reaches the driver.

    Ghost endpoints (no vertex row): both sweeps run on vertex rows
    only, as :func:`shortest_distance` does, so the start pick counts
    only edges between vertex rows; with none, the result is empty.

    Reference analog: eccentricity-style OLAP jobs run as repeated
    scan rounds over the full graph (FulgoraGraphComputer's
    iteration loop); the double sweep needs exactly two of them.
    """
    e = _inside(_edges(graph, edge_labels), graph.vertices.select("id"))
    deg = _sym_adjacency(e).groupBy(F.col("u").alias("id")).count()
    start = deg.orderBy(F.col("count").desc(), F.col("id").asc()).first()
    if start is None:  # no edge between vertex rows
        return local_relation(
            graph.vertices.sparkSession,
            [],
            "start_id long, ecc_start long, far_id long, diameter_lb long",
        )
    start_id = start["id"]
    d1 = shortest_distance(
        graph, start_id, direction="both", edge_labels=edge_labels,
        max_iterations=max_iterations,
    )
    far = (
        d1.filter(F.col("distance").isNotNull())
        .orderBy(F.col("distance").desc(), F.col("id").asc())
        .first()
    )
    ecc_start, far_id = int(far["distance"]), far["id"]
    d2 = shortest_distance(
        graph, far_id, direction="both", edge_labels=edge_labels,
        max_iterations=max_iterations,
    )
    lb = d2.agg(F.max("distance").alias("m")).first()["m"]
    return local_relation(
        graph.vertices.sparkSession,
        [(int(start_id), ecc_start, int(far_id), int(lb))],
        "start_id long, ecc_start long, far_id long, diameter_lb long",
    )


def modularity(
    graph: PropertyGraph,
    assignment: DataFrame,
    weight_col: str | None = None,
    edge_labels: tuple[str, ...] = (),
) -> DataFrame:
    """Newman modularity Q of a community assignment → one row
    (n_communities, m_edges, modularity).

    Q = Σ_c [ e_c/m − (d_c/2m)² ] over communities c, where e_c is the
    weight of intra-community edges, d_c the total weighted degree of
    the community's members, and m the total edge weight — computed on
    the deduplicated undirected edge set (self-loops dropped). The
    quality functional Louvain maximizes, exposed separately so ANY
    partition (Louvain, LPA, an external labeling) can be scored, and
    because Q of a deterministic partition is plain SQL — the oracle
    replays it value-exactly even when the partitioner itself isn't
    SQL-expressible.

    Scale shape: one join of the edge list against the assignment on
    each endpoint, one community aggregate, one 1-row reduce — no
    iteration, nothing driver-sized beyond the final row.
    """
    e = _edges(graph, edge_labels)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    und = (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        # parallel edges (multigraph, or both orientations of a directed
        # pair carrying different weights) SUM — the standard weighted-Q
        # treatment, and consistent with the contraction step in louvain
        # which sums supervertex edge weights
        .agg(F.sum("w").alias("w"))
    )
    # (a, b) relabelled to the endpoints' communities: per-community
    # intra weight and total degree (each edge adds its weight to both
    # endpoints' communities)
    labeled = _contract(
        und, assignment.select("id", F.col("community").alias("component")), "a", "b", loops=True
    )
    intra = (
        labeled.filter(F.col("a") == F.col("b"))
        .groupBy(F.col("a").alias("community"))
        .agg(F.sum("w").alias("e_c"))
    )
    deg_c = (
        labeled.select(F.col("a").alias("community"), "w")
        .unionAll(labeled.select(F.col("b").alias("community"), "w"))
        .groupBy("community")
        .agg(F.sum("w").alias("d_c"))
    )
    m = und.agg(F.sum("w").alias("m"))
    per_c = deg_c.join(intra, "community", "left").select(
        "community", F.coalesce("e_c", F.lit(0.0)).alias("e_c"), "d_c"
    )
    return (
        per_c.crossJoin(F.broadcast(m))
        .select(
            (F.col("e_c") / F.col("m")
             - F.pow(F.col("d_c") / (2.0 * F.col("m")), 2)).alias("q"),
            "m",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.round(F.first("m"), 6).alias("m_edges"),
            F.round(F.sum("q"), 6).alias("modularity"),
        )
    )


def louvain(
    graph: PropertyGraph,
    weight_col: str | None = None,
    edge_labels: tuple[str, ...] = (),
    levels: int = 2,
    rounds_per_level: int = 4,
) -> DataFrame:
    """Louvain community detection (Blondel et al. 2008), synchronous
    distributed variant → DataFrame(id, community) with community =
    min member id of the final cluster.

    Per level: every vertex simultaneously evaluates moving to each
    neighboring community, taking the modularity gain
    ΔQ ∝ k_in(v,c) − k(v)·Σ_tot(c)/(2m) and moving to the best
    strictly-positive gain (ties → smaller community id); after
    ``rounds_per_level`` synchronous rounds, or sooner once a round
    moves no vertex (the rounds run on :class:`Fixpoint`, and a
    deterministic round that moves nothing would only repeat itself),
    the graph is contracted by :func:`_contract` (communities become
    supervertices, parallel edge weights sum, intra-community weight
    folds into self-loops) and the next level repeats on the coarsened
    graph. Deterministic: no random vertex
    order — simultaneous moves with a total tie order, the
    batch-friendly formulation used by distributed Louvain
    implementations (vs the inherently sequential original).

    Scale shape: each round is one join of the edge triplets against
    the current assignment, one (vertex, neighbor-community) aggregate,
    and one argmax window per vertex — all keyed shuffles on frontier-
    independent, linear-in-|E| relations; contraction shrinks |V| and
    |E| geometrically across levels. One scalar collect per level (the
    total weight m).
    """
    from pyspark.sql import Window

    e = _edges(graph, edge_labels)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # undirected weighted edge list, deduped; self-loops carry intra
    # weight at coarser levels (loop weight counts ONCE in k(v))
    cur = (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("w"),
        )
        .groupBy("a", "b")
        # parallel edge weights SUM (multigraph semantics) — matching
        # the contraction step below, which also sums
        .agg(F.sum("w").alias("w"))
    )
    # mapping from original vertex id to current-level supervertex
    mapping = graph.vertices.select(F.col("id"), F.col("id").alias("node"))

    for _level in range(levels):
        cur = cut_lineage(cur, eager=True)
        total_w = cur.agg(F.sum("w")).first()[0]
        if not total_w:
            break
        m2 = 2.0 * float(total_w)

        nodes = (
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .dropDuplicates(["node"])
        )
        # weighted degree: proper edges count at both ends; a self-loop
        # (the contracted intra-community weight) counts TWICE, so a
        # supervertex's k equals the d_c of the community it replaced
        # and Q is preserved across levels
        proper = cur.filter(F.col("a") != F.col("b"))
        loops = cur.filter(F.col("a") == F.col("b"))
        k = (
            proper.select(F.col("a").alias("node"), "w")
            .unionAll(proper.select(F.col("b").alias("node"), "w"))
            .unionAll(loops.select(F.col("a").alias("node"), (2.0 * F.col("w")).alias("w")))
            .groupBy("node")
            .agg(F.sum("w").alias("k"))
        )
        half = proper.select("a", "b", "w").unionAll(
            proper.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )

        def move(comm: DataFrame, _r: int) -> DataFrame:
            sig_tot = (
                k.join(comm, "node")
                .groupBy("community")
                .agg(F.sum("k").alias("sig"))
            )
            # k_in(v, c): weight from v to neighbors currently in c
            kin = (
                half.join(
                    comm.select(F.col("node").alias("b"), F.col("community").alias("c")),
                    "b",
                )
                .groupBy(F.col("a").alias("node"), "c")
                .agg(F.sum("w").alias("kin"))
            )
            # every vertex must have its OWN community as a candidate
            # even when it has no intra-community edges (kin 0) —
            # without the explicit stay row a vertex with only
            # cross-community neighbors is forced into its best
            # neighbor at NEGATIVE gain (observed: contracted
            # supervertices pairwise-merging across bridges)
            stay = comm.select(
                "node", F.col("community").alias("c"), F.lit(0.0).alias("kin")
            )
            kin = (
                kin.unionByName(stay)
                .groupBy("node", "c")
                .agg(F.max("kin").alias("kin"))
            )
            csize = comm.groupBy("community").agg(
                F.count(F.lit(1)).alias("csize")
            )
            cand = (
                kin.join(comm, "node")
                .join(k, "node")
                .join(sig_tot.select(F.col("community").alias("c"), "sig"), "c")
                .join(csize.select(F.col("community").alias("c"), F.col("csize").alias("size_c")), "c")
                .join(csize.withColumnRenamed("csize", "size_own"), "community")
                .select(
                    "node",
                    "community",
                    "c",
                    # gain of v sitting in c, with v's own mass removed
                    (
                        F.col("kin")
                        - F.col("k")
                        * (F.col("sig") - F.when(F.col("c") == F.col("community"), F.col("k")).otherwise(F.lit(0.0)))
                        / F.lit(m2)
                    ).alias("gain"),
                    "size_c",
                    "size_own",
                )
                # Grappolo's singleton minimum-label heuristic: two
                # singleton vertices whose best moves target each other
                # would swap communities every synchronous round forever;
                # allowing only the smaller-id direction breaks the
                # symmetry (the larger id joins, the smaller stays)
                .filter(
                    (F.col("c") == F.col("community"))
                    | ~(
                        (F.col("size_own") == 1)
                        & (F.col("size_c") == 1)
                        & (F.col("c") > F.col("community"))
                    )
                )
            )
            # ties: prefer staying put (damps synchronous churn), then
            # the smaller community id for determinism
            wnd = Window.partitionBy("node").orderBy(
                F.col("gain").desc(),
                (F.col("c") != F.col("community")).asc(),
                F.col("c").asc(),
            )
            best = (
                cand.withColumn("rn", F.row_number().over(wnd))
                .filter(F.col("rn") == 1)
                .select("node", F.col("c").alias("new_community"))
            )
            return comm.join(best, "node", "left").select(
                "node",
                F.coalesce("new_community", "community").alias("community"),
                F.col("community").alias("_old"),
            )

        # a round is deterministic, so one that moves no vertex would
        # repeat itself: stop there. _old starts NULL, so every node is
        # flagged, and total_w > 0 means there is one: no count needed
        comm = nodes.select(
            "node", F.col("node").alias("community"), F.lit(None).cast("long").alias("_old")
        )
        moved = ~F.col("community").eqNullSafe(F.col("_old"))
        comm = Fixpoint(comm, move, flag=moved, size=1).run(rounds_per_level).state

        # canonical community id = min member node id at this level
        canon = comm.groupBy("community").agg(F.min("node").alias("canon"))
        comm = comm.join(canon, "community").select("node", F.col("canon").alias("community"))
        # LEFT join: comm only covers edge endpoints, so a vertex with
        # no (label-filtered) edges would vanish under an inner join —
        # isolated vertices stay as their own singleton community,
        # matching standard community-detection output contracts
        mapping = (
            mapping.join(
                comm.withColumnRenamed("node", "_n"),
                mapping.node == F.col("_n"),
                "left",
            )
            .select("id", F.coalesce("community", "node").alias("node"))
        )
        # contract: communities become vertices, edge weights sum
        cur = (
            _contract(
                cur,
                comm.select(F.col("node").alias("id"), F.col("community").alias("component")),
                "a", "b", loops=True,
            )
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), "w")
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )

    return mapping.select("id", F.col("node").alias("community"))


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_iterations: int = 30,
) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — the classic
    DISTRIBUTED MST (every component picks its lightest incident edge
    simultaneously, so each round is a handful of set-oriented joins
    and the component count at least halves → ≤ log₂V rounds; Prim
    and Kruskal are inherently sequential and do not distribute).
    Input is an undirected weighted edge list; orientation and
    parallel duplicates are normalized away (parallel edges keep
    their min weight — the standard MST-preserving reduction). With
    distinct weights the MSF is unique; ties break on the canonical
    (weight, u, v) order, which makes the output deterministic either
    way. Returns (u, v, weight) with u < v, one row per forest edge
    (V - #components rows).

    Mechanics per round, all in component-label space: (1) each
    component elects its min (weight, u, v) incident edge, carrying
    the ORIGINAL endpoint ids so the emitted forest edge is the real
    one, not a contracted pair; (2) the elected edges form a
    functional graph whose only cycles are mutual-choice 2-cycles
    (distinct-weight argument: the lightest edge inside any would-be
    longer cycle is chosen by BOTH endpoints); the smaller label of
    each 2-cycle becomes the root, and pointer jumping flattens every
    election tree onto its root — CHAINED four-deep per
    materialization (parent⁴ in one plan), so a depth-D tree needs
    ~log₄D materializations, not D; (3) live quotient edges relabel
    to the new roots and same-component pairs drop (:func:`_contract`,
    as in _cc_loop — the relation shrinks geometrically). Rounds run
    on :class:`Fixpoint` until no live edge is left; jump passes on an
    inner one until a pass's fourth jump moves no row. Sources —
    Borůvka 1926 via the textbook parallel formulation; the reference
    engine ships no MST (its OLAP layer delegates global algorithms
    to external graph computers), so this fills that gap as a
    first-class operator.

    Scale shape at 100 TB: round relations are (component, label)
    tables and quotient edges, both shrinking at least geometrically;
    the election is one symmetrized min-agg keyed by component (map-
    side combinable); pointer jumping joins label-sized tables only.
    Forest edges accumulate distributed (a union of the per-round
    elected relations, each already lineage-cut), never on the
    driver.
    """
    live = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        # live quotient edges carry original endpoints (oa, ob) forever
        .select(F.col("a").alias("ca"), F.col("b").alias("cb"), "w",
                F.col("a").alias("oa"), F.col("b").alias("ob"))
    )

    def flatten(par: DataFrame, _r: int) -> DataFrame:
        # four chained jumps against this pass's table (parent⁴), each
        # keeping the parent it replaced as _old: if the fourth moved no
        # row, every row already points at a root
        base = par.select("c", "parent")
        j = base
        for _ in range(4):
            j = (
                j.alias("x")
                .join(base.alias("y"), F.col("x.parent") == F.col("y.c"), "left")
                .select(
                    F.col("x.c").alias("c"),
                    F.coalesce(F.col("y.parent"), F.col("x.parent")).alias("parent"),
                    F.col("x.parent").alias("_old"),
                )
            )
        return j

    forest_rounds = []

    def boruvka(live: DataFrame, _r: int) -> DataFrame:
        # (1) election: min (w, oa, ob) incident edge per component,
        # remembering the component on the far side for contraction
        pick = F.struct("w", "oa", "ob", "other")
        inc = live.select(
            F.col("ca").alias("c"), "w", "oa", "ob",
            F.col("cb").alias("other"),
        ).unionByName(
            live.select(
                F.col("cb").alias("c"), "w", "oa", "ob",
                F.col("ca").alias("other"),
            )
        )
        elected = (
            inc.groupBy("c")
            .agg(F.min(pick).alias("e"))
            .select("c", "e.w", "e.oa", "e.ob", F.col("e.other").alias("parent"))
        )
        # lazy cut: the rooting pass's first cut materializes it
        elected = cut_lineage(elected, eager=False)
        # a 2-cycle elects its edge twice: the final dedup drops it
        forest_rounds.append(elected.select("oa", "ob", "w"))
        # (2) break mutual-choice 2-cycles: the smaller label roots
        par = elected.select("c", "parent")
        pp = par.select(
            F.col("c").alias("parent"), F.col("parent").alias("gp")
        )
        par = par.join(pp, "parent", "left").select(
            "c",
            F.when(
                (F.col("gp") == F.col("c"))
                & (F.col("c") < F.col("parent")),
                F.col("c"),
            )
            .otherwise(F.col("parent"))
            .alias("parent"),
        )
        # pointer-jump to the roots, exponential across passes; a live
        # edge leaves at least one non-root pointer, so the first pass
        # always runs and needs no count of its own
        moved = F.col("parent") != F.col("_old")
        par = Fixpoint(par, flatten, flag=moved, size=1).run(max_iterations).state
        # (3) relabel live edges to the new roots and contract; par
        # covers every live endpoint, so the inner joins keep every
        # edge that crosses two components
        roots = par.select(F.col("c").alias("id"), F.col("parent").alias("component"))
        return _contract(live, roots, "ca", "cb")

    msf = Fixpoint(live, boruvka).run(max_iterations)
    if not msf.converged:
        _warn_unconverged(
            "minimum_spanning_forest", max_iterations, "the forest may be incomplete."
        )
    if not forest_rounds:
        return local_relation(edges.sparkSession, [], "u long, v long, weight double")
    return reduce(DataFrame.unionByName, forest_rounds).select(
        F.col("oa").alias("u"), F.col("ob").alias("v"),
        F.col("w").alias("weight"),
    ).dropDuplicates(["u", "v"])


def node2vec_walks(
    graph: PropertyGraph,
    length: int = 3,
    seed: int = 0,
    edge_labels: tuple[str, ...] = (),
    direction: str = "both",
    weight_return: int = 2,
    weight_in: int = 2,
    weight_out: int = 1,
    start_ids: list[int] | None = None,
    max_neighbors: int | None = None,
    trials: int = 16,
) -> DataFrame:
    """Deterministic node2vec walks → (walk_id, step, id): the
    second-order BIASED walk of Grover–Leskovec 2016 §3.2, upgrading
    :func:`random_walks`' first-order uniform step. From edge
    (prev → cur), candidate x ∈ N(cur) is weighted by its distance to
    prev — α = 1/p for x = prev (return), 1 for x ∈ N(prev) (stay
    local), 1/q otherwise (explore) — which interpolates BFS-like and
    DFS-like exploration. Weights are INTEGERS
    (``weight_return : weight_in : weight_out``, defaults 2:2:1 ≡
    p=1, q=2).

    The biased step is REJECTION sampling (the scale trick of
    KnightKing, Yang et al. SOSP'19 — public paper): trial j draws a
    uniform candidate ``x = N(cur)[h(seed, walk, t, j) mod deg]`` and
    accepts it iff ``h'(seed, walk, t, j) mod wmax < w(x)``; the pick
    is the lowest-j accepted trial. Conditioned on acceptance the
    pick is exactly ∝ w(x), so the node2vec distribution is exact;
    acceptance probability is ≥ wmin/wmax per trial (≥ 1/2 at the
    2:2:1 defaults), so all ``trials`` (default 16) rejecting has
    probability ≤ 2⁻¹⁶ per step. Those rare walks fall back to an
    EXACT bounded escape: the class-ordered cumulative pick (return
    edge, then N(cur) ∩ N(prev) sorted, then the rest sorted) with
    ``r = h(seed, walk, t) mod Σw`` — also ∝ w(x), so the overall
    distribution stays exact. All arithmetic is 64-bit integer hash →
    mod, so the oracle replays every trial and every fallback pick
    bit-for-bit (a float-keyed draw would flip picks on cross-engine
    ulp differences). Step 0 has no prev and draws uniformly over the
    rank-indexed adjacency, the standard convention. Walks stop at
    dead ends. As in :func:`random_walks`, the walk is a
    :class:`Frontier` whose union state is the corpus; a round reads
    its step number from the driver's ``rounds``.

    Scale shape — the whole step is ROW-based; neighbor ARRAYS are
    never built or shipped. The rank-indexed adjacency (u, rn, v)
    builds once (one window shuffle, reused by every step); per step
    each walk emits ``trials`` constant-width rows: the candidate
    lookup is an equi-join on the COMPOSITE key (u, rn) — rn varies
    per trial, so even a 10M-degree hub's lookups spread across
    partitions instead of hashing to one — and the w(x) class test is
    one (prev, x) pair join. Cost per step is Θ(walks · trials)
    joined rows, INDEPENDENT of degree. The fallback arm explodes
    N(cur) as rows for only the ≤ 2⁻ᵗʳⁱᵃˡˢ fraction of walks that
    exhausted their trials. History of why: the r10 array formulation
    aggregated per-candidate weights inside an F.aggregate lambda —
    Θ(deg²·deg_prev) per hub row from Spark's per-element re-eval of
    non-lambda subtrees (170.9 s at sf0.1); carrying row-constants in
    the accumulator (r11 fix #1) still scanned the intersection per
    candidate (648.7 s at sf1, 69× on 10× data — the geo hub degree
    grows ~linearly with sf); even a closed-form array pick is
    Θ(Σ_walks deg(cur)) element-touches just to ship and read hub
    arrays. Rejection + indexed lookup is the only shape whose
    per-step cost does not grow with hub degree — at 100 TB it is the
    difference between seconds and never finishing. node2vec's own
    alias tables cost O(Σ_e deg) MEMORY and famously do not scale;
    ``max_neighbors`` still caps supernode adjacency with the same
    documented sampling bias as random_walks.
    """
    for nm, w in (
        ("weight_return", weight_return),
        ("weight_in", weight_in),
        ("weight_out", weight_out),
    ):
        if int(w) != w or w < 1:
            raise ValueError(f"{nm} must be a positive integer, got {w!r}")
    if int(trials) != trials or trials < 1:
        raise ValueError(f"trials must be a positive integer, got {trials!r}")
    from pyspark.sql import Window

    from titan_spark.functions.hashing import portable_hash64

    wr, wi, wo = int(weight_return), int(weight_in), int(weight_out)
    wmax = max(wr, wi, wo)
    wr_l, wi_l, wo_l = (F.lit(w).cast("long") for w in (wr, wi, wo))

    ad, starts = _walk_graph(
        graph, edge_labels, direction, max_neighbors, start_ids, f"n2vn{seed}:"
    )
    # rank-indexed adjacency: rn = 1-based rank of v in sorted N(u).
    # element_at(sort_array(collect_list(v)), rn) ≡ join on (u, rn) —
    # the row-based equivalent of the sorted neighbor array, built by
    # ONE window shuffle and reused (cached) by every step.
    adr = ad.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("u").orderBy(F.col("v").asc())),
    ).cache()
    degs = adr.groupBy("u").agg(F.max("rn").cast("long").alias("_deg")).cache()

    adx = adr.select(F.col("u").alias("_xu"), F.col("rn").alias("_xrn"), F.col("v").alias("_xv"))
    prs = adr.select(F.col("u").alias("_pu"), F.col("v").alias("_pv"))

    def step(walks: DataFrame, _corpus: DataFrame) -> DataFrame:
        t = n2v.rounds
        frontier = walks.select("walk_id", "prev", F.col("id").alias("cur"))
        base_draw = portable_hash64(
            F.concat(
                F.lit(f"n2v{seed}:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{t}"),
            )
        )
        if t == 0:
            # uniform first step: one indexed lookup, no arrays
            f1 = frontier.join(degs, frontier["cur"] == degs["u"]).select(
                "walk_id", "cur", "_deg"
            )
            idx = (F.pmod(base_draw, F.col("_deg")) + F.lit(1)).cast("int")
            nxt = (
                f1.withColumn("_idx", idx)
                .join(
                    adx,
                    (F.col("cur") == F.col("_xu"))
                    & (F.col("_idx") == F.col("_xrn")),
                )
                .select("walk_id", F.col("cur").alias("_p"), F.col("_xv").alias("_c"))
            )
        else:
            f1 = frontier.join(degs, frontier["cur"] == degs["u"]).select(
                "walk_id", "prev", "cur", "_deg"
            )
            # --- rejection trials: constant-width rows per walk;
            # candidate by composite-key (u, rn) lookup, acceptance
            # by an independent hash vs the weight class. r11 prune:
            # a trial whose acceptance draw falls under wmin accepts
            # ANY candidate class (every class weight is >= wmin), so
            # the first such trial j0 — computable from hashes alone,
            # before any join — always wins over later trials in the
            # min-j pick. Explode only j <= j0: expected wmax/wmin
            # rows per walk (2 at the 2:2:1 defaults) instead of
            # `trials` (16), an 8x cut in both per-step join volumes.
            # Picks are bit-identical: discarded trials provably
            # cannot win; walks with no auto-accepting trial keep all
            # `trials` rows, so the fallback arm is reached exactly
            # as before.
            wmin = min(wr, wi, wo)
            acc_mods = F.array(
                *[
                    F.pmod(
                        portable_hash64(
                            F.concat(
                                F.lit(f"n2va{seed}:"),
                                F.col("walk_id").cast("string"),
                                F.lit(f":{t}:{j}"),
                            )
                        ),
                        F.lit(wmax).cast("long"),
                    )
                    for j in range(int(trials))
                ]
            )
            j0 = F.array_position(
                F.transform(acc_mods, lambda x: x < F.lit(wmin).cast("long")),
                True,
            )
            j_hi = F.when(j0 > 0, (j0 - 1).cast("int")).otherwise(
                F.lit(int(trials) - 1)
            )
            tr = f1.withColumn("_jhi", j_hi).select(
                "walk_id",
                "prev",
                "cur",
                "_deg",
                F.explode(F.sequence(F.lit(0), F.col("_jhi"))).alias("_j"),
            )
            h_pick = portable_hash64(
                F.concat(
                    F.lit(f"n2v{seed}:"),
                    F.col("walk_id").cast("string"),
                    F.lit(f":{t}:"),
                    F.col("_j").cast("string"),
                )
            )
            h_acc = portable_hash64(
                F.concat(
                    F.lit(f"n2va{seed}:"),
                    F.col("walk_id").cast("string"),
                    F.lit(f":{t}:"),
                    F.col("_j").cast("string"),
                )
            )
            tr = tr.withColumn(
                "_idx", (F.pmod(h_pick, F.col("_deg")) + F.lit(1)).cast("int")
            ).withColumn("_u", F.pmod(h_acc, F.lit(wmax).cast("long")))
            cand = tr.join(
                adx,
                (tr["cur"] == adx["_xu"]) & (tr["_idx"] == adx["_xrn"]),
            ).select(
                "walk_id", "prev", "cur", "_j", "_u",
                F.col("_xv").alias("_x"),
            )
            cand = cand.join(
                prs,
                (cand["prev"] == prs["_pu"]) & (cand["_x"] == prs["_pv"]),
                "left",
            ).select(
                "walk_id", "prev", "cur", "_j", "_u", "_x",
                F.col("_pv").isNotNull().alias("_inp"),
            )
            w_x = (
                F.when(F.col("_x") == F.col("prev"), wr_l)
                .when(F.col("_inp"), wi_l)
                .otherwise(wo_l)
            )
            accepted = (
                cand.filter(F.col("_u") < w_x)
                .groupBy("walk_id", "cur")
                .agg(F.min(F.struct("_j", "_x")).alias("_w"))
                .select(
                    "walk_id",
                    F.col("cur").alias("_p"),
                    F.col("_w._x").alias("_c"),
                )
            )
            # --- exact bounded escape for walks whose every trial
            # rejected (probability ≤ (1 − wmin/wmax)^trials per
            # step): class-ordered cumulative pick, replayed as ROWS
            # (explode N(cur), classify each candidate by one pair
            # join, rank by (class, id), take the candidate whose
            # cumulative-weight window brackets r) — exact ∝ w(x), no
            # neighbor arrays anywhere.
            fb = f1.join(
                accepted.select("walk_id"), "walk_id", "left_anti"
            )
            fbc = fb.join(adx, fb["cur"] == adx["_xu"]).select(
                "walk_id", "prev", "cur",
                F.col("_xv").alias("_x"),
            )
            fbc = fbc.join(
                prs,
                (fbc["prev"] == prs["_pu"]) & (fbc["_x"] == prs["_pv"]),
                "left",
            ).select(
                "walk_id", "prev", "cur", "_x",
                F.col("_pv").isNotNull().alias("_inp"),
            )
            fbc = fbc.withColumn(
                "_cls",
                F.when(F.col("_x") == F.col("prev"), F.lit(0))
                .when(F.col("_inp"), F.lit(1))
                .otherwise(F.lit(2)),
            ).withColumn(
                "_w",
                F.when(F.col("_cls") == 0, wr_l)
                .when(F.col("_cls") == 1, wi_l)
                .otherwise(wo_l),
            )
            w_ord = Window.partitionBy("walk_id").orderBy("_cls", "_x")
            w_all = Window.partitionBy("walk_id")
            fbc = fbc.withColumn(
                "_cum",
                F.sum("_w").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ).withColumn("_tot", F.sum("_w").over(w_all))
            r = F.pmod(base_draw, F.col("_tot"))
            fallback = fbc.filter(
                (r >= F.col("_cum") - F.col("_w")) & (r < F.col("_cum"))
            ).select(
                "walk_id",
                F.col("cur").alias("_p"),
                F.col("_x").alias("_c"),
            )
            nxt = accepted.unionByName(fallback)
        return nxt.select(
            "walk_id", F.lit(t + 1).alias("step"), F.col("_c").alias("id"), F.col("_p").alias("prev")
        )

    walks = starts.select(
        F.col("id").alias("walk_id"),
        F.lit(0).alias("step"),
        "id",
        F.lit(None).cast("long").alias("prev"),
    )
    n2v = Frontier(walks, step)
    corpus = n2v.run(length).state.select("walk_id", "step", "id")
    adr.unpersist()
    degs.unpersist()
    return corpus
