"""DataFrame-Pregel: the BSP vertex-program engine (Fulgora analog).

Reference model (``olap/computer/FulgoraGraphComputer.java:142-211``):
each BSP round scans the whole edgestore, runs
``execute(vertex, messenger, memory)`` per vertex, combines messages
(``MessageCombiner``), barriers, and checks ``terminate(memory)``.

Spark mapping (SURVEY §2.9 C2): one round =

    messages = vertices ⋈ edges → groupBy(recipient).agg(combiner)
    vertices = vertices ⟕ messages → update expressions

The per-round full scan becomes a cached DataFrame; the message
combiner is the ``agg`` (partial aggregation runs map-side); the
``Memory`` counter that ends a fixpoint is a row count reduced during
the round's own lineage cut
(:func:`~titan_spark.compute.checkpointing.counted_cut`), kept as the
``size``/``converged``/``rounds`` record of :class:`Frontier` and
:class:`Fixpoint`. Lineage is cut every round — without it the
iterated plan grows without bound and the driver stack-overflows
(SURVEY §7, correctness-adjacent).

Scale notes: edges are cached across rounds; each round shuffles only
on vertex id. Message expressions are inspected so that a round joins
only the vertex sides it actually references (a src-only program does
one join per round, not two). AQE handles skewed (supernode)
recipients — the analog of Titan's PartitionedVertexProgramExecutor
(C9).

Two loop drivers. Each cuts a round eagerly once, and the count that
decides the loop rides on that cut's job, so it costs no job of its own.

- :class:`Frontier` runs a loop whose state changes only by what each
  round newly finds, so only the changed set does work: landmark
  distances, betweenness's forward phase, k-hop balls, bidirectional
  BFS, DAG layering, shortest distance (only a vertex whose distance
  fell can lower a neighbour's), both fixpoints of SCC, the k-truss
  peel (a delta is what a round removes) and the random and node2vec
  walks (a delta is the next step of every walk still moving; the
  state is the walk corpus). The caller's expand step
  (frontier, state) → delta settles against the state itself; the
  driver owns the cuts, the merge of the delta into the state (a union,
  left uncut, unless the caller passes a max, a min or an anti-join),
  the round cap and the ``converged``/``rounds`` record.
  :meth:`Frontier.advance` runs one round, so bidirectional BFS can
  step the side with the smaller frontier.
- :class:`Fixpoint` runs a loop that rewrites one whole relation per
  round and stops when a count of it is 0: the k-core peel (the degree
  table, flagged ``d < k``), Luby's MIS (the active set), greedy
  coloring (the uncoloured ids), connected components' label map
  (flagged where a label fell), Borůvka's live quotient edges, its
  pointer jumps (flagged where the last jump moved a row), Louvain's
  move rounds (flagged where a vertex changed community) and the
  fixed-round vertex programs of :func:`pregel` — PageRank,
  personalized PageRank, label propagation (and so peer pressure and
  the traversal ``page_rank`` / ``peer_pressure`` steps) — which count
  every vertex row and so stop at their round cap. GraphX's Pregel has
  this shape: vertex state in one relation and a count of the active
  set.

A union merge is left uncut because a union of cut deltas is already a
flat plan whose ``UnionRDD`` has the sum of its children's partitions
either way; a cut would only copy every accumulated row again.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from titan_spark.compute.checkpointing import counted_cut, cut_lineage


def _sides_referenced(*exprs: Column | None) -> set[str]:
    """Which triplet sides (src/dst) the message expressions touch.

    Inspects the expression string; over-approximating is safe (an
    unnecessary join), under-approximating is not — so any mention
    counts.
    """
    sides = set()
    for e in exprs:
        if e is None:
            continue
        s = str(e)
        if "src." in s:
            sides.add("src")
        if "dst." in s:
            sides.add("dst")
    return sides


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    agg: Column,
    msg_to_dst: Column | None = None,
    msg_to_src: Column | None = None,
) -> DataFrame:
    """One message round: returns DataFrame(id, <agg columns>).

    ``msg_to_dst`` / ``msg_to_src`` are expressions over the triplet
    view — vertex state as ``src.<col>`` / ``dst.<col>``, edge
    properties as ``edge.<col>``; ``agg`` aggregates ``msg``.

    This is C2/C3: the join is the message send, the agg is the
    MessageCombiner.
    """
    if msg_to_dst is None and msg_to_src is None:
        raise ValueError("at least one of msg_to_dst / msg_to_src required")
    vstruct = F.struct(*[F.col(c) for c in vertices.columns])
    estruct = F.struct(*[F.col(c) for c in edges.columns])
    sides = _sides_referenced(msg_to_dst, msg_to_src)

    parts = []
    for direction, expr in (("dst", msg_to_dst), ("src", msg_to_src)):
        if expr is None:
            continue
        t = edges.select(
            F.col("src").alias("_esrc"), F.col("dst").alias("_edst"), estruct.alias("edge")
        )
        if "src" in sides:
            t = t.join(
                vertices.select(F.col("id").alias("_sid"), vstruct.alias("src")),
                F.col("_esrc") == F.col("_sid"),
            )
        if "dst" in sides:
            t = t.join(
                vertices.select(F.col("id").alias("_did"), vstruct.alias("dst")),
                F.col("_edst") == F.col("_did"),
            )
        recipient = "_edst" if direction == "dst" else "_esrc"
        parts.append(t.select(F.col(recipient).alias("id"), expr.alias("msg")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("id").agg(agg)


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    initial: dict[str, Column],
    agg: Column,
    update: dict[str, Column],
    msg_to_dst: Column | None = None,
    msg_to_src: Column | None = None,
    max_iterations: int = 10,
) -> DataFrame:
    """Run a vertex program for ``max_iterations`` rounds, as a
    :class:`Fixpoint` whose count is every vertex row.

    - ``initial``: state columns added to ``vertices`` before round 1.
    - ``msg_to_*``: triplet message expressions.
    - ``agg``: the combiner over ``msg``; its alias becomes a column
      visible to ``update`` (NULL where a vertex got no messages).
    - ``update``: new state expressions over current state + agg
      output.

    An edge endpoint with no vertex row never receives (the update is a
    left join from the vertex rows), and sends only from a message that
    reads no vertex state (the triplet join drops it otherwise). Returns
    the vertex DataFrame with ``id`` + state columns.
    """

    def step(v: DataFrame, _round: int) -> DataFrame:
        msgs = aggregate_messages(v, edges, agg, msg_to_dst=msg_to_dst, msg_to_src=msg_to_src)
        return v.join(msgs, "id", "left").select(
            "id", *[update.get(n, F.col(n)).alias(n) for n in initial]
        )

    v = vertices.select("id", *[e.alias(n) for n, e in initial.items()])
    edges.cache()
    try:
        return Fixpoint(v, step).run(max_iterations).state
    finally:
        edges.unpersist(blocking=False)


class Frontier:
    """A frontier loop whose state grows by each round's delta.

    ``expand(frontier, state)`` returns the round's delta: what the
    frontier newly reaches, already settled against ``state``. An empty
    delta ends the loop. ``merge(state, delta)`` folds the delta in
    (default: union, left uncut). ``state`` is the initial state when it
    is not the seed. ``disk`` is passed to every cut. ``size`` is the
    last delta's row count; pass it for the seed when the caller knows
    it, since no job is run to find it. ``rounds`` counts the rounds
    that found something; ``converged`` says a round came back empty.
    When :meth:`run` stops at its cap, the round that would come back
    empty was never run, so ``converged`` runs one more expand and
    counts it (not merged) the first time it is read.
    """

    def __init__(
        self,
        seed: DataFrame,
        expand: Callable[[DataFrame, DataFrame], DataFrame],
        merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        size: int | None = None,
        state: DataFrame | None = None,
        disk: bool = False,
    ):
        self.frontier = cut_lineage(seed, eager=True, disk=disk)
        self.state = self.frontier if state is None else state
        self.size = size
        self.rounds = 0
        self._converged: bool | None = False
        self._expand, self._merge, self._disk = expand, merge, disk

    @property
    def converged(self) -> bool:
        if self._converged is None:
            self._converged = self._expand(self.frontier, self.state).count() == 0
        return self._converged

    def advance(self) -> bool:
        """Run one round; False once the delta is empty."""
        delta, self.size = counted_cut(self._expand(self.frontier, self.state), disk=self._disk)
        if self.size == 0:
            self._converged = True
            return False
        self.rounds += 1
        if self._merge is None:
            self.state = self.state.unionByName(delta)
        else:
            self.state = cut_lineage(self._merge(self.state, delta), eager=False, disk=self._disk)
        self.frontier = delta
        return True

    def run(self, max_rounds: int) -> "Frontier":
        """Advance until converged or ``max_rounds`` rounds found
        something."""
        while not self._converged and self.rounds < max_rounds:
            self.advance()
        self._converged = self._converged or None
        return self


class Fixpoint:
    """A loop that rewrites its whole state each round.

    ``step(state, round)`` returns the next state (``round`` counts
    from 0). The driver cuts it and counts its ``flag`` rows, or every
    row when ``flag`` is None, on the cut's job; a count of 0 ends the
    loop. ``size`` is that count for the initial state, or any positive
    number when the caller knows only that it is not 0; when the caller
    does not know it, the initial state is cut and counted too.
    ``rounds`` counts the steps taken; ``converged`` says the last count
    was 0.
    """

    def __init__(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        flag: Column | None = None,
        size: int | None = None,
    ):
        self._step, self._flag = step, flag
        self.state, self.size, self.rounds, self.converged = state, size, 0, size == 0
        if size is None:
            self._settle(state)

    def _settle(self, state: DataFrame) -> None:
        self.state, self.size = counted_cut(state, self._flag)
        self.converged = self.size == 0

    def run(self, max_rounds: int) -> "Fixpoint":
        """Step until converged or after ``max_rounds`` steps."""
        while not self.converged and self.rounds < max_rounds:
            self._settle(self._step(self.state, self.rounds))
            self.rounds += 1
        return self
