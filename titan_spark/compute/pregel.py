"""DataFrame-Pregel: the BSP vertex-program engine (Fulgora analog).

Reference model (``olap/computer/FulgoraGraphComputer.java:142-211``):
each BSP round scans the whole edgestore, runs
``execute(vertex, messenger, memory)`` per vertex, combines messages
(``MessageCombiner``), barriers, and checks ``terminate(memory)``.

Spark mapping (SURVEY §2.9 C2): one round =

    messages = vertices ⋈ edges → groupBy(recipient).agg(combiner)
    vertices = vertices ⟕ messages → update expressions

The per-round full scan becomes a cached DataFrame; the message
combiner is the ``agg`` (partial aggregation runs map-side); ``Memory``
counters are driver-side aggs. Lineage is truncated with
``localCheckpoint`` every round — without it the iterated plan
grows without bound and the driver stack-overflows (SURVEY §7,
correctness-adjacent).

Scale notes: edges are cached across rounds; each round shuffles only
on vertex id. Message expressions are inspected so that a round joins
only the vertex sides it actually references (a src-only program does
one join per round, not two). AQE handles skewed (supernode)
recipients — the analog of Titan's PartitionedVertexProgramExecutor
(C9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from titan_spark.compute.checkpointing import cut_lineage


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


def _messages(
    vertices: DataFrame,
    edges: DataFrame,
    msg_to_dst: Column | None,
    msg_to_src: Column | None,
    sender_ids: DataFrame | None = None,
) -> DataFrame:
    """Build the un-aggregated message stream DataFrame(id, msg).

    ``sender_ids`` (optional, column ``id``) restricts which vertices
    *send* — a left-semi join on the sending endpoint, so receivers are
    never filtered (frontier iteration stays correct).
    """
    vstruct = F.struct(*[F.col(c) for c in vertices.columns])
    estruct = F.struct(*[F.col(c) for c in edges.columns])
    sides = _sides_referenced(msg_to_dst, msg_to_src)

    parts = []
    for direction, expr in (("dst", msg_to_dst), ("src", msg_to_src)):
        if expr is None:
            continue
        sender_key = "src" if direction == "dst" else "dst"
        e = edges.select(
            F.col("src").alias("_esrc"), F.col("dst").alias("_edst"), estruct.alias("edge")
        )
        if sender_ids is not None:
            e = e.join(
                sender_ids.select(F.col("id").alias(f"_e{sender_key}")),
                f"_e{sender_key}",
                "left_semi",
            )
        t = e
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
    return out


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
    return _messages(vertices, edges, msg_to_dst, msg_to_src).groupBy("id").agg(agg)


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    initial: dict[str, Column],
    agg: Column,
    update: dict[str, Column],
    msg_to_dst: Column | None = None,
    msg_to_src: Column | None = None,
    max_iterations: int = 10,
    active_col: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Run a vertex program to fixpoint or ``max_iterations``.

    - ``initial``: state columns added to ``vertices`` before round 1.
    - ``msg_to_*``: triplet message expressions; when ``active_col``
      is set only edges whose *sender* is active participate.
    - ``agg``: the combiner over ``msg``; its alias becomes a column
      visible to ``update`` (NULL where a vertex got no messages).
    - ``update``: new state expressions over current state + agg
      output.
    - ``active_col``: boolean state column enabling frontier
      early-stop: the loop ends when no vertex is active (the
      reference's Memory ``incr``-flag fixpoint); round cost tracks
      the frontier, not |V|.

    Returns the vertex DataFrame with ``id`` + state columns.
    """
    v = vertices.select("id", *keep_cols, *[e.alias(n) for n, e in initial.items()])
    edges.cache()
    v = cut_lineage(v, eager=True)
    for i in range(max_iterations):
        sender_ids = None
        if active_col is not None:
            sender_ids = v.filter(F.col(active_col)).select("id")
        msgs = aggregate_messages(
            v, edges, agg, msg_to_dst=msg_to_dst, msg_to_src=msg_to_src
        ) if sender_ids is None else _messages(
            v, edges, msg_to_dst, msg_to_src, sender_ids
        ).groupBy("id").agg(agg)
        joined = v.join(msgs, "id", "left")
        v = joined.select(
            "id",
            *keep_cols,
            *[update.get(n, F.col(n)).alias(n) for n in initial.keys()],
        )
        if active_col is not None:
            # lazy cut + one full count: a single job materializes
            # the checkpoint AND answers the frontier-empty test
            # (eager cut + limit(1).count() was two jobs per round)
            v = cut_lineage(v, eager=False)
            if v.filter(F.col(active_col)).count() == 0:
                break
        else:
            v = cut_lineage(v, eager=True)
    edges.unpersist(blocking=False)
    return v
