"""GraphTraversal — the traversal→DataFrame compiler.

This is the engine's product: Titan folds Gremlin steps into logical
queries (``TitanGraphStepStrategy.java:29-55``, ``HasStepFolder.java:
65-133``, ``TitanVertexStep.java:34-100``) and runs them against KCVS
slices; here every step *declares* a DataFrame transformation and
Catalyst performs the physical optimization Titan hand-rolled:

- has/hasLabel folding            → filter pushdown to the parquet scan
- index selection (set-cover)     → Catalyst scan planning + file skipping
- MultiQuery batching (de-N+1)    → a hop IS a set-oriented join
- smart-limit escalation          → exact limits, nothing to escalate

Traverser semantics are bag semantics: joins preserve multiplicity, no
implicit dedup (Gremlin contract; SURVEY §7 "hard parts"). A traversal
holds:

- a frontier DataFrame whose columns are the *current element's*
  columns (vertex: id/label/props; edge: edge_id/src/dst/label/props
  plus ``_origin``/``_other``/``_dir`` hop metadata),
- tag columns ``_t_<name>`` (structs) recorded by ``as_()`` for
  path back-reference (``select``) — SURVEY §2.10.

Hop compilation (SURVEY §2.4): ``out(l)`` is
``frontier ⋈ edges[label=l] ⋈ vertices`` — when the frontier is small
Catalyst/AQE broadcasts it, reproducing Titan's point-slice reads;
when it is large the join hash-partitions on vertex id, which is the
100-TB-safe plan.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from titan_spark.functions.predicates import P, Pred, as_pred
from titan_spark.operators.topk import _order_cols, top_k_per_group
from titan_spark.compute.checkpointing import cut_lineage
from titan_spark.session import local_relation

_NOTSET = object()

# repeat_until cuts lineage every round; every this-many-th cut is eager
_REPEAT_EAGER_CUT_EVERY = 5

_META_COLS = ("_origin", "_other", "_dir")


class TimeLimitExceeded(RuntimeError):
    """Raised by a terminal action when a ``time_limit(max_ms)`` budget
    expires before the Spark job finishes (the job group is cancelled)."""

# implicit keys backed by writer-populated metadata columns
# (graphdb/types/system/ImplicitKey.java:28-46)
_IMPLICIT_META = {"~timestamp": "_ts", "~ttl": "_ttl", "~visibility": "_vis"}


class GraphTraversal:
    """Immutable traversal; every step returns a new GraphTraversal."""

    def __init__(
        self, graph, df: DataFrame, kind: str, order_specs=(), edge_labels=None,
        vertex_labels: tuple[str, ...] | None = None, edge_dir: str | None = None,
        side_effects: dict[str, DataFrame] | None = None,
        pristine: bool = False,
        lazy_v: bool = False,
    ):
        self.graph = graph
        self._df = df
        self.kind = kind  # 'V' | 'E'
        self._order_specs = tuple(order_specs)
        # on an E frontier: the label restriction + direction of the
        # expansion, used with schema endpoint metadata to prune
        # vertex-side hop scans
        self._edge_labels = edge_labels
        self._edge_dir = edge_dir
        # on a V frontier: known label restriction of the current
        # vertices (None = unknown) — used to prune edge-union branches
        # via the src_label/dst_label metadata columns
        self._vertex_labels = vertex_labels
        # Gremlin aggregate()/store() side-effect sets: name -> id set
        self._side_effects: dict[str, DataFrame] = side_effects or {}
        # pristine = the frontier is exactly "all vertices of
        # _vertex_labels" (a full V() scan restricted only by label):
        # edge expansion can then skip the frontier⋈edges join entirely
        # (Titan's direct edge-store scan). Cleared by any other step.
        self._pristine = pristine
        # lazy_v = the V frontier holds only (id, tags): the vertex
        # table join is deferred until a property is touched (Titan's
        # TitanVertexStep fold — out().outE() chains and hop counts
        # never materialize intermediate vertices). _ensure_cols()
        # performs the join in place on first property access.
        self._lazy_v = lazy_v
        # provenance for automatic path(): (parent, step_name, args,
        # kwargs) recorded by the @-applied _chained wrappers below.
        # None on roots and on traversals built outside the public
        # chaining surface.
        self._step_src = None
        # local(subtraversal) scope (set by local_): the grouping
        # column of the per-origin sub-traversal — order-dependent and
        # reducing steps compile per-scope while this is non-None.
        self._local_scope: str | None = None
        # time_limit(max_ms) budget honored by terminal actions
        self._time_budget_ms: int | None = None

    # ------------------------------------------------------------------ ctor
    @staticmethod
    def _vertices(graph) -> "GraphTraversal":
        return GraphTraversal(graph, graph.vertices, "V", pristine=True)

    @staticmethod
    def _edges(graph) -> "GraphTraversal":
        e = graph.edges.withColumn("_origin", F.col("src")).withColumn(
            "_other", F.col("dst")
        ).withColumn("_dir", F.lit("OUT"))
        return GraphTraversal(graph, e, "E")

    # ------------------------------------------------------------- utilities
    def _with(
        self,
        df: DataFrame,
        kind: str | None = None,
        order_specs=None,
        edge_labels=_NOTSET,
        vertex_labels=_NOTSET,
        edge_dir=_NOTSET,
        side_effects=None,
        pristine: bool = False,
        lazy_v=_NOTSET,
    ) -> "GraphTraversal":
        # lazy_v inherits by default so a step that only touches
        # id/tag/meta columns can never strand an unmaterialized
        # frontier with the flag cleared (every property access would
        # silently read NULL). Steps that materialize call
        # _ensure_cols() first (which clears self._lazy_v in place);
        # steps that change element kind pass lazy_v=False explicitly.
        t = GraphTraversal(
            self.graph,
            df,
            kind or self.kind,
            self._order_specs if order_specs is None else order_specs,
            self._edge_labels if edge_labels is _NOTSET else edge_labels,
            self._vertex_labels if vertex_labels is _NOTSET else vertex_labels,
            self._edge_dir if edge_dir is _NOTSET else edge_dir,
            self._side_effects if side_effects is None else side_effects,
            pristine,
            self._lazy_v if lazy_v is _NOTSET else lazy_v,
        )
        t._local_scope = self._local_scope
        t._time_budget_ms = self._time_budget_ms
        return t

    def _ensure_cols(self) -> None:
        """Materialize a lazy V frontier in place (semantics-preserving
        cache mutation): inner-join the vertex table on id, pruned to
        the known endpoint labels, carrying tags through. Vertices are
        unique by id, so traverser multiplicity is preserved."""
        if not self._lazy_v:
            return
        tags = self._tag_cols()
        v = self.graph.vertices
        vl = self._vertex_labels
        if vl:
            v = v.filter(
                F.col("label") == vl[0] if len(vl) == 1 else F.col("label").isin(list(vl))
            )
        j = self._df.alias("f").join(v.alias("v"), F.col("f.id") == F.col("v.id"))
        self._df = j.select("v.*", *[F.col(f"f.{t}") for t in tags])
        self._lazy_v = False

    def _tag_cols(self) -> list[str]:
        return [c for c in self._df.columns if c.startswith("_t_")]

    def _id_col(self) -> str:
        return "id" if self.kind == "V" else "edge_id"

    def col(self, key: str) -> Column:
        """Column of the current element; 'id' on an edge frontier means
        the edge id (RelationIdentifier analog); missing keys are NULL
        (Titan: querying an undefined key matches nothing).

        Implicit keys (graphdb/types/system/ImplicitKey.java:28-46) map
        to metadata columns: ``~nid`` → internal long id, ``~adjacent``
        → other endpoint of the hop, ``~timestamp``/``~ttl``/
        ``~visibility`` → the writer-populated ``_ts``/``_ttl``/
        ``_vis`` columns when present.
        """
        if key in ("id", "~nid"):
            return F.col(self._id_col())
        if key == "~adjacent":
            return F.col("_other") if "_other" in self._df.columns else F.lit(None)
        target = _IMPLICIT_META.get(key, key)
        if self._lazy_v and target not in self._df.columns:
            # materializing pays a vertex join — skip it when the vertex
            # table cannot supply the column anyway (NULL either way)
            if target not in self.graph.vertices.columns:
                return F.lit(None)
            self._ensure_cols()
        if target in self._df.columns:
            return F.col(target)
        return F.lit(None)

    def tag(self, name: str, field: str) -> Column:
        """Back-reference a field of an ``as_()``-tagged element."""
        return F.col(f"_t_{name}.{field}")

    @property
    def df(self) -> DataFrame:
        """Escape hatch: the frontier as a plain DataFrame."""
        self._ensure_cols()
        return self._df

    def to_df(self, *cols: Column | str) -> DataFrame:
        """Terminal projection (``values``/``select`` analog)."""
        self._ensure_cols()
        if not cols:
            return self._df
        return self._df.select(*cols)

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def profile(self) -> dict:
        """TraversalMetrics analog (§2.10 ``profile()``; TitanGraphTest.
        java:3439-3456): execute the traversal and report wall time,
        result count, and physical-plan statistics (scans / joins /
        shuffles) from the executed plan."""
        import contextlib
        import io
        import time

        t0 = time.perf_counter()
        # profile() is a documented terminal action of the time_limit
        # watchdog — the executing count runs under the guard
        n = self._guarded(self._df.count)
        elapsed = time.perf_counter() - t0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self._df.explain("formatted")
        plan = buf.getvalue()
        return {
            "rows": n,
            "seconds": round(elapsed, 4),
            "scans": plan.count("Scan parquet"),
            "broadcast_joins": plan.count("BroadcastHashJoin"),
            "sortmerge_joins": plan.count("SortMergeJoin"),
            "shuffles": plan.count("Exchange"),
            "plan": plan,
        }

    def explain_(self, mode: str = "formatted") -> str:
        """Gremlin ``explain()`` (TraversalExplanation;
        ProcessStandardSuite membership
        BerkeleyTitanProcessTest.java:12-15): the compiled physical
        plan as text WITHOUT executing — the reference prints the
        strategy-rewritten traversal, here the Catalyst plan IS the
        rewritten form. ``mode``: simple | extended | formatted | cost.
        :meth:`profile` is the executing sibling."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self._df.explain(mode)
        return buf.getvalue()

    def time_limit(
        self, max_ms: int | None = None, max_rows: int | None = None
    ) -> "GraphTraversal":
        """Gremlin ``timeLimit(ms)`` (TimeLimitStep;
        ProcessStandardSuite membership
        BerkeleyTitanProcessTest.java:12-15): bound the work a
        traversal may do.

        DIVERGENCE (documented): the reference's TimeLimitStep is a
        cooperative per-traverser cutoff that returns whatever partial
        result the iterator produced before the deadline; a
        set-oriented Spark plan either commits or aborts, so ``max_ms``
        arms a watchdog on the terminal actions (:meth:`count_value`,
        :meth:`to_rows`, :meth:`profile`) that cancels the job group at
        the deadline and raises :class:`TimeLimitExceeded` — no partial
        rows. ``max_rows`` is the deterministic partial-result form
        (LIMIT n), matching the reference's smart-limit bound
        (LimitAdjustingIterator)."""
        t = self
        if max_rows is not None:
            t = t._with(t._df.limit(int(max_rows)))
        if max_ms is not None:
            t = t._with(t._df)
            t._time_budget_ms = int(max_ms)
        return t

    def _guarded(self, action):
        """Run a driver-side action under the time_limit watchdog."""
        ms = self._time_budget_ms
        if not ms:
            return action()
        import threading
        import uuid

        sc = self._df.sparkSession.sparkContext
        group = f"timelimit-{uuid.uuid4().hex[:8]}"
        fired = threading.Event()
        done = threading.Event()

        def _watchdog():
            if done.wait(ms / 1000.0):
                return
            fired.set()
            # a job may be submitted AFTER the deadline (plan analysis
            # happens first) — keep cancelling until the action returns
            while not done.is_set():
                sc.cancelJobGroup(group)
                done.wait(0.05)

        sc.setJobGroup(group, f"time_limit({ms}ms)", interruptOnCancel=True)
        watchdog = threading.Thread(target=_watchdog, daemon=True)
        watchdog.start()
        try:
            return action()
        except Exception as exc:
            if fired.is_set():
                raise TimeLimitExceeded(
                    f"traversal exceeded time_limit({ms} ms); job group "
                    f"cancelled"
                ) from exc
            raise
        finally:
            done.set()
            for prop in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(prop, None)

    def to_rows(self) -> list:
        """Terminal collect of the frontier (honors ``time_limit``)."""
        return self._guarded(self._df.collect)

    # ------------------------------------------------------------ filter ops
    def has(self, key: str, value: Any = _NOTSET) -> "GraphTraversal":
        """``has(k)`` = key present; ``has(k, v)`` = EQUAL (null → absent);
        ``has(k, P.xx(...))`` = predicate. SURVEY §2.2 P1/P4."""
        self._ensure_cols()
        if value is _NOTSET:
            return self._with(self._df.filter(self.col(key).isNotNull()))
        pred: Pred = as_pred(value)
        # Mapping legality shim (core/schema/Mapping.java:16-21): warn
        # when a declared TEXT/STRING mapping would reject this
        # predicate on a reference mixed index (porting hazard)
        self.graph.schema.warn_mapping_legality(key, pred.name)
        # query.force-index guard: raise instead of scanning when set
        # and no ENABLED index covers the key (Titan's production
        # contract against accidental graph scans)
        self.graph.schema.check_force_index(
            key, "vertex" if self.kind == "V" else "edge"
        )
        if (
            self.kind == "V"
            and self.graph.schema.cardinality_of(key).value != "single"
        ):
            return self._has_collection(key, pred)
        return self._with(self._df.filter(pred(self.col(key))))

    def _has_collection(self, key: str, pred: Pred) -> "GraphTraversal":
        """Collection-field predicate on a SET/LIST-cardinality key
        (docs/searchpredicates.txt:131-149): the vertex matches when ANY
        of its property values satisfies the scalar predicate — the
        reference's ES array-field semantics, where e.g. Text.CONTAINS
        over a SET<String> key matches if any member contains the
        tokens. An array-typed vertex column compiles to ``exists()``
        (element-wise, stays inside codegen); the long-format
        vertex_properties encoding compiles to a semi-join of vertices
        owning a matching property row (set-oriented; the property scan
        carries the predicate as a pushed filter)."""
        self._ensure_cols()
        if key in self._df.columns:
            from pyspark.sql.types import ArrayType

            if isinstance(self._df.schema[key].dataType, ArrayType):
                return self._with(
                    self._df.filter(F.exists(F.col(key), lambda el: pred(el)))
                )
            return self._with(self._df.filter(pred(self.col(key))))
        vp = self.graph.vertex_properties
        if vp is None:
            # no storage for the declared multi-card key: matches nothing
            return self._with(self._df.filter(F.lit(False)))
        matches = vp.filter((F.col("key") == key) & pred(F.col("value"))).select(
            F.col("vertex_id").alias("id")
        )
        return self._with(self._df.join(matches, "id", "left_semi"))

    def has_not(self, key: str) -> "GraphTraversal":
        self._ensure_cols()
        return self._with(self._df.filter(self.col(key).isNull()))

    def has_label(self, *labels: str) -> "GraphTraversal":
        """Label restriction — OR over types (P7).

        On a lazy frontier the (id, tags) projection has no ``label``
        column, and filtering it would let Spark's missing-attribute
        resolution bind ``label`` to the *edge* table underneath the
        projection — wrong results. If the schema's endpoint metadata
        already guarantees every frontier label is among the requested
        ones the filter is a no-op and the frontier stays lazy;
        otherwise materialize first.
        """
        if self._lazy_v:
            vl_known = self._vertex_labels
            if vl_known and set(vl_known) <= set(labels):
                # guaranteed subset: filter adds nothing, keep the fold
                return self._with(self._df)
            self._ensure_cols()
        cond = (
            F.col("label") == labels[0]
            if len(labels) == 1
            else F.col("label").isin(list(labels))
        )
        vl = tuple(sorted(labels)) if self.kind == "V" else _NOTSET
        # a label-only restriction of a pristine scan is still pristine
        return self._with(self._df.filter(cond), vertex_labels=vl, pristine=self._pristine)

    def has_id(self, *ids: int) -> "GraphTraversal":
        idc = F.col(self._id_col())
        if len(ids) == 1:
            return self._with(self._df.filter(idc == ids[0]))
        return self._with(self._df.filter(idc.isin(list(ids))))

    def filter_(self, condition: Column) -> "GraphTraversal":
        """Raw Column condition (And/Or/Not trees, text/geo predicates)."""
        self._ensure_cols()
        return self._with(self._df.filter(condition))

    def is_(self, value: Any) -> "GraphTraversal":
        """Gremlin ``is``: predicate on the current element id."""
        pred = as_pred(value)
        return self._with(self._df.filter(pred(F.col(self._id_col()))))

    def adjacent(self, vertex_id: int) -> "GraphTraversal":
        """Restrict edges to those whose other endpoint is the given
        vertex — the ``~adjacent`` implicit key (P6/J4,
        BaseVertexQuery.java:34-40). Edge frontier only."""
        self._require("E", "adjacent")
        return self._with(self._df.filter(F.col("_other") == vertex_id))

    def simple_path_excluding(self, *tag_names: str) -> "GraphTraversal":
        """Drop traversers whose current vertex equals a tagged vertex
        (cycle guard for multi-hop walks)."""
        self._require("V", "simple_path_excluding")
        cond = F.lit(True)
        for t in tag_names:
            cond = cond & (F.col("id") != F.col(f"_t_{t}.id"))
        return self._with(self._df.filter(cond))

    # --------------------------------------------------------------- hop ops
    def _require(self, kind: str, op: str) -> None:
        if self.kind != kind:
            raise ValueError(f"{op}() requires a {kind} frontier, have {self.kind}")

    def _edge_expand(self, direction: str, labels: tuple[str, ...]) -> DataFrame:
        """frontier(V) ⋈ edges → edge frontier with _origin/_other/_dir.

        The batched-adjacency read (MultiQuery, SURVEY §2.4 J3) is this
        join's set-orientation; Titan needed ``query.batch`` to avoid
        N+1 backend calls, a join is batched by construction.

        Pristine-frontier elision: when the frontier is exactly "all
        vertices of label L" (no property filters, no tags) and the
        edge schema carries endpoint-label metadata, the join adds no
        information — every qualifying edge's endpoint is in the
        frontier by construction — so the hop compiles to a bare
        label-filtered edge scan (Titan's direct edge-store scan,
        SURVEY §2.1 S4). Assumes store referential integrity: dangling
        (ghost) edges are a maintenance-job concern
        (``repair_ghost_edges``), exactly as in the reference.
        """
        self._require("V", direction)
        tags = self._tag_cols()
        # elision is per-orientation: it additionally needs the matching
        # endpoint-label metadata column (or an unrestricted frontier)
        elide_ok = self._pristine and not tags
        fr = self._df.select(F.col("id").alias("_origin"), *tags).alias("f")
        e = self.graph.edges
        if labels:
            if len(labels) == 1:
                e = e.filter(F.col("label") == labels[0])
            else:
                e = e.filter(F.col("label").isin(list(labels)))
        e = e.alias("e")
        # frontier-label pruning: if the current vertex labels are known
        # and edges carry endpoint-label metadata columns, branches whose
        # sender side cannot match constant-fold away at plan time
        vl = self._vertex_labels
        ecols = self.graph.edges.columns
        parts = []
        if direction in ("out", "both"):
            e_out = e
            if vl and "src_label" in ecols:
                e_out = e.filter(F.col("src_label").isin(list(vl))).alias("e")
            if elide_ok and (vl is None or "src_label" in ecols):
                parts.append(
                    e_out.select("e.*")
                    .withColumn("_origin", F.col("src"))
                    .withColumn("_other", F.col("dst"))
                    .withColumn("_dir", F.lit("OUT"))
                )
            else:
                parts.append(
                    fr.join(e_out, F.col("f._origin") == F.col("e.src"))
                    .select("e.*", "f._origin", *[F.col(f"f.{t}") for t in tags])
                    .withColumn("_other", F.col("dst"))
                    .withColumn("_dir", F.lit("OUT"))
                )
        if direction in ("in", "both"):
            e_in = e
            if vl and "dst_label" in ecols:
                e_in = e.filter(F.col("dst_label").isin(list(vl))).alias("e")
            if elide_ok and (vl is None or "dst_label" in ecols):
                parts.append(
                    e_in.select("e.*")
                    .withColumn("_origin", F.col("dst"))
                    .withColumn("_other", F.col("src"))
                    .withColumn("_dir", F.lit("IN"))
                )
            else:
                parts.append(
                    fr.join(e_in, F.col("f._origin") == F.col("e.dst"))
                    .select("e.*", "f._origin", *[F.col(f"f.{t}") for t in tags])
                    .withColumn("_other", F.col("src"))
                    .withColumn("_dir", F.lit("IN"))
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def outE(self, *labels: str) -> "GraphTraversal":
        return self._with(
            self._edge_expand("out", labels), "E",
            edge_labels=labels or None, edge_dir="out", lazy_v=False,
        )

    def inE(self, *labels: str) -> "GraphTraversal":
        return self._with(
            self._edge_expand("in", labels), "E",
            edge_labels=labels or None, edge_dir="in", lazy_v=False,
        )

    def bothE(self, *labels: str) -> "GraphTraversal":
        """Self-loops appear once per orientation → twice total (U4)."""
        return self._with(
            self._edge_expand("both", labels), "E",
            edge_labels=labels or None, edge_dir="both", lazy_v=False,
        )

    def _endpoint_step(self, endpoint_col: str) -> "GraphTraversal":
        """E frontier → lazy V frontier of the chosen endpoint.

        Only (id, tags) materialize here; the vertex-table join defers
        to the first property access (``_ensure_cols``) — Titan's
        TitanVertexStep fold, so ``out(l1).outE(l2)`` chains and hop
        counts never join the intermediate vertex table. Endpoint-label
        pruning metadata (SURVEY §4.2: the vertex labels this edge
        label can reach on this side) is carried for the deferred join.
        Assumes store referential integrity, as the direct hop does —
        a dangling endpoint would surface in an unmaterialized count
        where the old eager join dropped it (ghost repair's domain).
        """
        self._require("E", endpoint_col)
        tags = self._tag_cols()
        if endpoint_col == "dst":
            side = "dst"
        elif endpoint_col == "src":
            side = "src"
        elif endpoint_col == "_other" and self._edge_dir in ("out", "in"):
            side = "dst" if self._edge_dir == "out" else "src"
        elif endpoint_col == "_origin" and self._edge_dir in ("out", "in"):
            side = "src" if self._edge_dir == "out" else "dst"
        else:
            side = "both"
        cand = self.graph.schema.endpoint_labels(self._edge_labels, side)
        df = self._df.select(F.col(endpoint_col).alias("id"), *tags)
        return self._with(
            df, "V", edge_labels=None, vertex_labels=cand, edge_dir=None, lazy_v=True
        )

    def inV(self) -> "GraphTraversal":
        return self._endpoint_step("dst")

    def outV(self) -> "GraphTraversal":
        return self._endpoint_step("src")

    def otherV(self) -> "GraphTraversal":
        return self._endpoint_step("_other")

    def originV(self) -> "GraphTraversal":
        """Back to the hop's origin vertex (Titan keeps the incident
        vertex implicitly; useful after edge-level filtering)."""
        return self._endpoint_step("_origin")

    def bothV(self) -> "GraphTraversal":
        self._require("E", "bothV")
        tags = self._tag_cols()
        df = self._df.select(F.col("src").alias("id"), *tags).unionByName(
            self._df.select(F.col("dst").alias("id"), *tags)
        )
        return self._with(
            df, "V", edge_labels=None, vertex_labels=None, edge_dir=None, lazy_v=True
        )

    def out(self, *labels: str) -> "GraphTraversal":
        return self.outE(*labels).inV()

    def in_(self, *labels: str) -> "GraphTraversal":
        return self.inE(*labels).outV()

    def both(self, *labels: str) -> "GraphTraversal":
        return self.bothE(*labels).otherV()

    def repeat(self, step: Callable[["GraphTraversal"], "GraphTraversal"], times: int) -> "GraphTraversal":
        """``repeat(...).times(n)`` with a static loop count — unrolled
        into n joins (one Catalyst plan, no driver iteration)."""
        t = self
        for _ in range(times):
            t = step(t)
        return t

    def repeat_until(
        self,
        step: Callable[["GraphTraversal"], "GraphTraversal"],
        until: Callable[["GraphTraversal"], Column],
        max_times: int = 20,
        emit: bool = False,
    ) -> "GraphTraversal":
        """``repeat(...).until(pred)`` with a dynamic termination check.

        Each round: traversers satisfying ``until`` (a Column predicate
        over the current frontier) exit the loop; the rest take another
        ``step``. Iteration ends when no traversers remain active or
        ``max_times`` is hit (remaining actives exit unemitted unless
        ``emit``). ``emit=True`` also collects every intermediate
        frontier (Gremlin ``emit()``), including the pre-step one.

        The loop runs driver-side with localCheckpoint lineage cuts —
        the BFS-style pattern whose per-round cost tracks the frontier.
        """
        act = self
        outputs = []
        if emit:
            outputs.append(act)
        for i in range(max_times):
            cond = until(act)
            done = act.filter_(cond)
            if not emit:
                # emit mode already collected this frontier wholesale
                outputs.append(done)
            # NULL predicate (e.g. missing key) means "not done" — keep
            # looping rather than silently dropping the traverser
            remaining = act.filter_(~cond | cond.isNull())
            if remaining._df.limit(1).count() == 0:
                break
            act = step(remaining)
            # checkpoint preserves the lazy flag: the checkpointed df is
            # still the (id, tags) projection when the step ended lazily
            act = act._with(
                cut_lineage(
                    act._df,
                    eager=(i + 1) % _REPEAT_EAGER_CUT_EVERY == 0,
                ),
                lazy_v=act._lazy_v,
            )
            if emit:
                outputs.append(act)
        else:
            # max_times exhausted: traversers still in the loop exit too
            # (already collected when emit=True)
            if not emit:
                outputs.append(act)
        out = outputs[0]
        if len(outputs) > 1:
            out = outputs[0].union_(*outputs[1:])
        return out

    # --------------------------------------------------- branch/filter steps
    def union_(self, *others: "GraphTraversal") -> "GraphTraversal":
        """Gremlin ``union``: bag-union of traverser streams (§2.10)."""
        self._ensure_cols()
        df = self._df
        for o in others:
            if o.kind != self.kind:
                raise ValueError("union_ requires same-kind traversals")
            o._ensure_cols()
            df = df.unionByName(o._df, allowMissingColumns=True)
        return self._with(df, edge_labels=None, vertex_labels=None, edge_dir=None)

    def choose(
        self,
        condition: Column,
        if_true: Callable[["GraphTraversal"], "GraphTraversal"],
        if_false: Callable[["GraphTraversal"], "GraphTraversal"] | None = None,
    ) -> "GraphTraversal":
        """Gremlin ``choose(pred, a, b)``: route each traverser through
        one branch; compiled as union of the two filtered branches
        (when/otherwise at plan level)."""
        t = if_true(self.filter_(condition))
        f = (
            if_false(self.filter_(~condition | condition.isNull()))
            if if_false
            else self.filter_(~condition | condition.isNull())
        )
        if t.kind != f.kind:
            raise ValueError("choose branches must end on the same element kind")
        return t.union_(f)

    def branch_(
        self,
        selector: Column,
        options: dict[Any, Callable[["GraphTraversal"], "GraphTraversal"]],
        none: Callable[["GraphTraversal"], "GraphTraversal"] | None = None,
        any_: Callable[["GraphTraversal"], "GraphTraversal"] | None = None,
    ) -> "GraphTraversal":
        """Gremlin ``branch(selector).option(v, sub)…`` — the N-way
        generalization of ``choose`` (BranchStep of the
        ProcessStandardSuite, BerkeleyTitanProcessTest.java:12-15).

        ``selector`` is a Column evaluated per traverser; the traverser
        routes through ``options[value]`` when the selector equals that
        option key, through ``none`` when no key matches (Pick.none,
        incl. NULL selectors), and additionally through ``any_``
        regardless (Pick.any). Compiled as a union of predicate-filtered
        branches — each branch's filter pushes into its own copy of the
        plan, so unreachable branches prune exactly like ``choose``'s.
        """
        outs = []
        for val, fn in options.items():
            outs.append(fn(self.filter_(selector.eqNullSafe(F.lit(val)))))
        if none is not None:
            # A None option key claims the NULL selectors (eqNullSafe
            # above), so they must NOT also route through the `none`
            # branch — Gremlin's Pick dispatch sends each traverser to
            # exactly one option (plus any_).
            non_null_keys = [k for k in options if k is not None]
            unmatched = ~selector.isin(non_null_keys) if non_null_keys else F.lit(True)
            if None in options:
                unmatched = unmatched & selector.isNotNull()
            else:
                unmatched = unmatched | selector.isNull()
            outs.append(none(self.filter_(unmatched)))
        if any_ is not None:
            outs.append(any_(self))
        if not outs:
            raise ValueError("branch_ needs at least one option")
        kinds = {o.kind for o in outs}
        if len(kinds) != 1:
            raise ValueError("branch_ options must end on the same element kind")
        out = outs[0]
        if len(outs) > 1:
            out = outs[0].union_(*outs[1:])
        return out

    # ------------------------------------------------------------------- sack
    # The sack rides as a tag-struct column (_t___sack.val) so every hop
    # join and union carries it exactly like as_() tags — no special
    # casing in the hop compiler, and it shuffles with the traverser row
    # (Gremlin: one sack per traverser, split on flatMap, SackStep of
    # the ProcessStandardSuite).
    _SACK = "_t___sack"

    def with_sack(self, init) -> "GraphTraversal":
        """``withSack(init)``: give every traverser a carried value."""
        c = init if isinstance(init, Column) else F.lit(init)
        return self._with(self._df.withColumn(self._SACK, F.struct(c.alias("val"))))

    def sack_(self, op: str, value: Column | str | None = None) -> "GraphTraversal":
        """``sack(op).by(value)``: fold ``value`` (a property key of the
        current element, or any Column) into each traverser's sack.
        Ops: assign, sum, minus, mult, div, min, max."""
        if self._SACK not in self._df.columns:
            raise ValueError("sack_() requires with_sack() earlier in the traversal")
        if value is None:
            # every sack op folds an operand; a missing .by() would
            # silently fold NULL into every traverser's sack
            raise ValueError(f"sack_({op!r}) requires a value (property key or Column)")
        v = self.col(value) if isinstance(value, str) else value
        cur = F.col(f"{self._SACK}.val")
        ops = {
            "assign": v,
            "sum": cur + v,
            "minus": cur - v,
            "mult": cur * v,
            "div": cur / v,
            "min": F.least(cur, v),
            "max": F.greatest(cur, v),
        }
        if op not in ops:
            raise ValueError(f"unknown sack op {op!r} (have {sorted(ops)})")
        return self._with(
            self._df.withColumn(self._SACK, F.struct(ops[op].alias("val")))
        )

    def sack_values(self, *keys: str) -> DataFrame:
        """Terminal ``sack()``: one row per traverser with its sack value
        (plus optional element property columns for context)."""
        if self._SACK not in self._df.columns:
            raise ValueError("sack_values() requires with_sack() earlier in the traversal")
        cols = [self.col(k).alias(k) for k in keys]
        return self._df.select(*cols, F.col(f"{self._SACK}.val").alias("sack"))

    def coalesce_(
        self, *branches: Callable[["GraphTraversal"], "GraphTraversal"]
    ) -> "GraphTraversal":
        """Gremlin ``coalesce(a, b, ...)``: per traverser, the first
        branch that yields any result wins; later branches only see
        traversers with no earlier result.

        Compiled without driver loops: branch k applies to the residual
        frontier (anti-join of origins that produced rows in branches
        < k); results union. All semi/anti joins are on origin ids, so
        the plan is k scans + k anti-joins — no per-row Python.
        """
        self._require("V", "coalesce_")
        if not branches:
            raise ValueError("coalesce_ needs at least one branch")
        residual = self
        outs = []
        for fn in branches:
            sub = fn(residual.as_("__co"))
            outs.append(sub)
            matched = sub._df.select(F.col("_t___co.id").alias("id")).dropDuplicates()
            residual = residual._with(residual._df.join(matched, "id", "left_anti"))
        kinds = {o.kind for o in outs}
        if len(kinds) != 1:
            raise ValueError("coalesce_ branches must end on the same element kind")
        out = outs[0]
        for o in outs[1:]:
            out = out.union_(o)
        # drop the internal origin tag from the result frontier
        return out._with(out._df.drop("_t___co"))

    def optional_(
        self, fn: Callable[["GraphTraversal"], "GraphTraversal"]
    ) -> "GraphTraversal":
        """Gremlin ``optional(sub)``: traversers with a sub-result move
        there; the rest stay put — ``coalesce(sub, identity)``."""
        return self.coalesce_(fn, lambda t: t)

    def where_(self, fn: Callable[["GraphTraversal"], "GraphTraversal"]) -> "GraphTraversal":
        """Gremlin ``where(subtraversal)``: keep traversers whose
        subtraversal is non-empty — a left-semi join (§2.10)."""
        self._require("V", "where_")
        sub = fn(self.as_("__w"))
        keep = sub._df.select(F.col("_t___w.id").alias("id")).dropDuplicates()
        return self._with(self._df.join(keep, "id", "left_semi"))

    def not_(self, fn: Callable[["GraphTraversal"], "GraphTraversal"]) -> "GraphTraversal":
        """Gremlin ``not(subtraversal)``: anti-join complement of where_."""
        self._require("V", "not_")
        sub = fn(self.as_("__w"))
        drop = sub._df.select(F.col("_t___w.id").alias("id")).dropDuplicates()
        return self._with(self._df.join(drop, "id", "left_anti"))

    def aggregate_(self, name: str) -> "GraphTraversal":
        """Gremlin ``aggregate(name)`` / ``store(name)``: collect the
        current frontier's element ids into a named side-effect set for
        later ``where_within``/``where_without`` membership tests
        (ProcessStandardSuite surface, SURVEY §2.10).

        Batch evaluation makes the eager (aggregate) and lazy (store)
        variants indistinguishable: the set is the frontier at this
        step, and membership tests compile to semi/anti joins — no
        driver-side collection at any scale.
        """
        ids = self._df.select(F.col(self._id_col()).alias("_se_id")).dropDuplicates()
        se = dict(self._side_effects)
        se[name] = ids
        return self._with(self._df, side_effects=se)

    store_ = aggregate_

    def _side_effect_set(self, name: str) -> DataFrame:
        if name not in self._side_effects:
            raise KeyError(
                f"no side-effect set {name!r}; call .aggregate_({name!r}) earlier "
                f"in the traversal (have: {sorted(self._side_effects)})"
            )
        return self._side_effects[name]

    def where_within(self, name: str) -> "GraphTraversal":
        """Keep traversers whose element id is in the named side-effect
        set (Gremlin ``where(within(name))``) — a left-semi join."""
        ids = self._side_effect_set(name)
        return self._with(
            self._df.join(ids, F.col(self._id_col()) == F.col("_se_id"), "left_semi"),
        )

    def where_without(self, name: str) -> "GraphTraversal":
        """Drop traversers whose element id is in the named side-effect
        set (Gremlin ``where(without(name))``) — a left-anti join."""
        ids = self._side_effect_set(name)
        return self._with(
            self._df.join(ids, F.col(self._id_col()) == F.col("_se_id"), "left_anti"),
        )

    def path_ids(self, *tag_names: str) -> Column:
        """Path back-reference: array of element ids along tagged hops +
        the current element (§2.10 ``path``)."""
        cols = [F.col(f"_t_{t}.id") for t in tag_names] + [F.col(self._id_col())]
        return F.array(*cols)

    def _tag_id(self, name: str) -> "GraphTraversal":
        """Id-only tag (used by automatic path()): unlike ``as_`` it
        never materializes a lazy frontier — the id is always present,
        so hop counts keep the vertex-join fold."""
        return self._with(
            self._df.withColumn(
                f"_t_{name}", F.struct(F.col(self._id_col()).alias("id"))
            )
        )

    def _path_replay(self) -> tuple["GraphTraversal", list[str]]:
        """Replay the traversal's provenance chain from the root,
        inserting an id-only tag before each element step — the shared
        machinery behind automatic ``path()``/``tree()``/
        ``simple_path()``/``cyclic_path()``. Returns the replayed
        traversal and the ordered tag names; ``path_ids(*tags)`` on the
        result is the per-traverser element-id sequence."""
        chain: list[tuple[str, tuple, dict]] = []
        t = self
        while t._step_src is not None:
            parent, name, a, kw = t._step_src
            chain.append((name, a, kw))
            t = parent
        chain.reverse()
        cur, tags = t, []
        for name, a, kw in chain:
            if name in _PATH_ELEMENT_STEPS and cur.kind == "V":
                # decompose the hop and tag the origin off the EDGE
                # frontier's _origin (= edge.src/dst) instead of
                # pre-tagging the vertex frontier: the pristine-frontier
                # elision and the lazy vertex fold both survive, so a
                # path query still reads only edge sources
                e_step, v_step = _V_HOP_DECOMP.get(name, (name, None))
                cur = getattr(cur, e_step)(*a, **kw)
                tag = f"__p{len(tags)}"
                cur = cur._with(
                    cur._df.withColumn(
                        f"_t_{tag}", F.struct(F.col("_origin").alias("id"))
                    )
                )
                tags.append(tag)
                if v_step:
                    cur = getattr(cur, v_step)()
                continue
            if name in _PATH_ELEMENT_STEPS:
                # element step on an edge frontier: the edge id joins
                # the path (explicit outE().inV() chains)
                tag = f"__p{len(tags)}"
                cur = cur._tag_id(tag)
                tags.append(tag)
            cur = getattr(cur, name)(*a, **kw)
        return cur, tags

    def path(self) -> DataFrame:
        """Automatic TinkerPop ``path()`` — no ``as_()`` tags required
        (PathStep of the ProcessStandardSuite the reference certifies,
        BerkeleyTitanProcessTest.java:12-15).

        Every public step records its provenance (parent, step, args);
        ``path()`` replays that chain from the root, inserting an
        id-only tag before each element step, and returns one row per
        traverser with the element-id sequence as ``path``
        (array<long>). Composite steps record once — ``out()`` adds
        only the arriving vertex, matching Gremlin, while an explicit
        ``outE().inV()`` records the edge too. The replay re-declares
        the same lazy plan (no extra execution), and traversals that
        never call path() pay nothing.
        """
        cur, tags = self._path_replay()
        # project off the (possibly lazy) frontier directly — ids and
        # tags are always present, so no vertex materialization here
        return cur._df.select(cur.path_ids(*tags).alias("path"))

    def path_by(self, key: str) -> DataFrame:
        """``path().by(key)`` — the PathStep's by() modulator: each
        path element rendered as its ``key`` property value (NULL when
        the element lacks the key, e.g. edge ids or label mismatches —
        Gremlin throws there; a relational engine degrades to NULL and
        the docstring says so).

        Plan: one posexplode over the (short) path arrays, one join
        against the id→value projection of the vertex table, one
        re-assembly aggregation ordered by position. Work is
        Σ path-length rows — the same volume path() itself carries.
        """
        cur, tags = self._path_replay()
        paths = cur._df.select(
            F.monotonically_increasing_id().alias("_row"),
            cur.path_ids(*tags).alias("_p"),
        )
        pos = paths.select("_row", F.posexplode("_p").alias("_pos", "id"))
        vmap = self.graph.vertices.select("id", F.col(key).alias("_val"))
        joined = pos.join(vmap, "id", "left")
        return (
            joined.groupBy("_row")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_val"))).alias("_s"))
            .select(F.col("_s._val").alias("path"))
        )

    def tree(self) -> DataFrame:
        """TinkerPop ``tree()`` (TreeStep of the ProcessStandardSuite,
        BerkeleyTitanProcessTest.java:12-15) in relational form.

        Gremlin's tree collapses the traversers' paths by shared
        prefix into a nested map; the DataFrame encoding is one row
        per tree NODE = one distinct path prefix:

          (depth, node_id, parent_id, path, n_traversers)

        ``parent_id`` is NULL at the roots; ``n_traversers`` counts
        how many traverser paths pass through the node (the traverser
        bag under the subtree — Gremlin's duplicate-path merging).
        The nested map is recoverable by grouping on ``parent_id``;
        keeping it flat keeps the result a first-class DataFrame
        (joinable, aggregable) instead of a driver-side object.

        Plan shape: path replay (same joins as the traversal itself) →
        one explode over per-path prefixes → one hash aggregation.
        Scales with Σ path-length, never materializes the nested
        structure driver-side.
        """
        cur, tags = self._path_replay()
        paths = cur._df.select(cur.path_ids(*tags).alias("_p"))
        prefixes = paths.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_p")),
                    lambda i: F.slice("_p", F.lit(1), i),
                )
            ).alias("path")
        )
        return (
            prefixes.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_traversers"))
            .select(
                F.size("path").alias("depth"),
                F.element_at("path", -1).alias("node_id"),
                F.when(F.size("path") > 1, F.element_at("path", -2)).alias("parent_id"),
                "path",
                "n_traversers",
            )
        )

    def _path_filter(self, cyclic: bool) -> "GraphTraversal":
        cur, tags = self._path_replay()
        p = cur.path_ids(*tags)
        dup = F.size(F.array_distinct(p)) < F.size(p)
        out = cur._with(cur._df.filter(dup if cyclic else ~dup))
        # drop the internal replay tags; user-visible state is unchanged
        out = out._with(out._df.drop(*[f"_t_{t}" for t in tags]))
        out._step_src = (self, "_path_filter", (cyclic,), {})
        return out

    def simple_path(self) -> "GraphTraversal":
        """Automatic ``simplePath()``: keep traversers whose path has no
        repeated element (PathFilterStep; element-id ranges are disjoint
        per kind, so vertex/edge ids can't falsely collide)."""
        return self._path_filter(cyclic=False)

    def cyclic_path(self) -> "GraphTraversal":
        """Automatic ``cyclicPath()``: the complement of simple_path —
        keep traversers that revisit an element (CyclicPathStep of the
        ProcessStandardSuite)."""
        return self._path_filter(cyclic=True)

    # ------------------------------------------------------------- tags/path
    def as_(self, name: str) -> "GraphTraversal":
        """Tag the current element for later back-reference (§2.10
        as/select). The tag is a struct column carried through hops."""
        self._ensure_cols()
        cols = [c for c in self._df.columns if not c.startswith("_t_") and c not in _META_COLS]
        return self._with(
            self._df.withColumn(f"_t_{name}", F.struct(*[F.col(c) for c in cols]))
        )

    def select_(self, *items) -> DataFrame:
        """Terminal select of tagged fields and/or current columns.

        Items: ``(tag, field)`` tuples, ``(tag, field, alias)``, or
        plain current-frontier column names.
        """
        cols = []
        for it in items:
            if isinstance(it, tuple):
                if len(it) == 3:
                    cols.append(self.tag(it[0], it[1]).alias(it[2]))
                else:
                    cols.append(self.tag(it[0], it[1]).alias(f"{it[0]}_{it[1]}"))
            else:
                cols.append(self.col(it).alias(it))
        return self._df.select(*cols)

    # ------------------------------------------------------- order/limit ops
    def order_by(self, *specs) -> "GraphTraversal":
        """Global order (O1). Specs: "col", "-col", ("col","desc"), Column.
        Inside ``local_`` the sort is deferred: the specs are recorded
        and the following slice step's per-origin window applies them —
        a scoped order has no global row order to materialize."""
        self._ensure_cols()
        if self._local_scope:
            return self._with(self._df, order_specs=specs)
        return self._with(self._df.orderBy(*_order_cols(specs)), order_specs=specs)

    def limit(self, n: int) -> "GraphTraversal":
        if self._local_scope:
            specs = self._order_specs or (self._id_col(),)
            return self._scoped_slice(specs, 0, n)
        return self._with(self._df.limit(n))

    def range_(self, lo: int, hi: int, *specs) -> "GraphTraversal":
        """RangeGlobalStep [lo, hi) — needs an order; uses the last
        ``order_by`` specs unless given explicitly (O4).

        Planned as ``orderBy().offset(lo).limit(hi-lo)``: Catalyst
        compiles offset+limit to a GlobalLimit over per-partition
        TakeOrdered partials — no single-partition window shuffle, so
        the plan survives 100× the rows (only lo+hi rows ever
        concentrate, not the whole frontier).
        """
        self._ensure_cols()
        specs = specs or self._order_specs
        if not specs:
            raise ValueError("range_() requires order specs for determinism")
        if self._local_scope:
            return self._scoped_slice(specs, lo, hi)
        # degenerate range [lo, hi) with hi <= lo is an empty frontier
        # (Spark rejects negative limits)
        df = self._df.orderBy(*_order_cols(specs)).offset(lo).limit(max(0, hi - lo))
        return self._with(df)

    @staticmethod
    def _flip_specs(specs):
        """Reverse the direction of order specs (for tail_)."""
        out = []
        for s in specs:
            if isinstance(s, Column):
                raise ValueError("tail_() cannot flip a raw Column spec; use 'col'/'-col'")
            if isinstance(s, tuple):
                name, direction = s
                asc = not str(direction).lower().startswith("desc")
                out.append((name, "desc" if asc else "asc"))
            elif isinstance(s, str) and s.startswith("-"):
                out.append(s[1:])
            else:
                out.append("-" + s)
        return out

    def tail_(self, n: int, *specs) -> "GraphTraversal":
        """Gremlin ``tail(n)``: the LAST n traversers of the order.
        Planned as top-n over the REVERSED order specs — TakeOrdered
        partials merge n·partitions rows, never a global sort, so the
        step costs the same as ``limit(n)`` at any scale."""
        self._ensure_cols()
        specs = specs or self._order_specs
        if not specs:
            raise ValueError("tail_() requires order specs for determinism")
        if self._local_scope:
            return self._with(
                self._scoped_slice(specs, 0, n, flip=True)._df, order_specs=specs
            )
        flipped = self._flip_specs(specs)
        df = self._df.orderBy(*_order_cols(flipped)).limit(n)
        return self._with(df, order_specs=specs)

    def skip_(self, n: int, *specs) -> "GraphTraversal":
        """Gremlin ``skip(n)`` (= ``range(n, -1)``): drop the first n of
        the order, keep the unbounded rest. The open upper bound forces
        a total order (orderBy + offset) — unlike :meth:`range_` there
        is no limit to turn it into TakeOrdered partials, so prefer
        ``range_(lo, hi)`` when a bound exists."""
        self._ensure_cols()
        specs = specs or self._order_specs
        if not specs:
            raise ValueError("skip_() requires order specs for determinism")
        if self._local_scope:
            return self._scoped_slice(specs, n, None)
        df = self._df.orderBy(*_order_cols(specs)).offset(n)
        return self._with(df, order_specs=specs)

    def math_(self, expr: str, name: str = "math", **bindings) -> "GraphTraversal":
        """Gremlin ``math(expr)``: evaluate an arithmetic expression
        over bound variables. Bindings map each variable name to a
        tag reference ("tagname.field"), a current-element property
        key, or a Column; the expression itself is compiled by
        Catalyst (``F.expr``), so it stays JVM-side whole-stage
        codegen like the reference's on-heap MathStep evaluator."""
        self._ensure_cols()
        cols = []
        for var, ref in bindings.items():
            if isinstance(ref, Column):
                cols.append(ref.alias(var))
            elif isinstance(ref, str) and "." in ref:
                tag, field = ref.split(".", 1)
                cols.append(self.tag(tag, field).alias(var))
            else:
                cols.append(self.col(ref).alias(var))
        df = self._df.select("*", *cols).withColumn(name, F.expr(expr))
        return self._with(df.drop(*[c for c in bindings]))

    def barrier_(self) -> "GraphTraversal":
        """Gremlin ``barrier()``: force the traversal up to here to
        materialize before later steps run. Relationally a lineage cut
        (eager persist + plan truncation) — the same mechanism the BSP
        loops use; Gremlin's bulking optimization is the dedup/groupBy
        the adjacent steps already express."""
        from titan_spark.compute.checkpointing import cut_lineage

        return self._with(cut_lineage(self._df, eager=True))

    def local_top_k(self, k: int, *specs, by: str = "_origin") -> "GraphTraversal":
        """Per-origin-vertex order+limit — ``local(order().limit(k))``
        (O5, TitanGraphTest.java:3393-3398). The specialization of
        :meth:`local_` kept for direct hop-metadata use."""
        if by not in self._df.columns:
            raise ValueError(f"local_top_k needs hop metadata column {by!r}")
        return self._with(top_k_per_group(self._df, [by], list(specs), k))

    def local_(self, fn):
        """Gremlin ``local(subTraversal)`` — run an arbitrary
        sub-traversal scoped per current traverser (LocalStep;
        TitanGraphTest.java:3393-3398 ``local(outE.order.by(weight).
        limit(10))``, planned by TitanLocalQueryOptimizerStrategy.
        java:46-66 as one vertex-centric query; here the relational
        equivalent is a window/groupBy over the origin, never a global
        sort).

        ``fn`` receives a traversal rooted at this frontier whose
        origin rides along as a reserved ``_t_local`` tag; while the
        scope is active, order-dependent steps (``order_by``/``limit``/
        ``range_``/``tail_``/``skip_``/``sample_``/``dedup``) compile
        as rank-filter windows partitioned by the origin, and reducing
        terminals (``count``/``sum_``/``min_``/``max_``/``mean_``/
        ``fold``/``group_count``) compile as a groupBy over the origin
        emitting one row per origin with its id as ``local_id``.

        Returns whatever ``fn`` returns: a traversal (the main
        traversal continues with the sub-traversal's emitted
        traversers, scope cleared) or a DataFrame (a reducing terminal
        keyed by ``local_id``). Subsumes :meth:`local_top_k` —
        ``t.local_(lambda s: s.outE().order_by('-w').limit(k))``.
        """
        if self._local_scope:
            raise ValueError("local_() cannot nest inside another local_()")
        sub = self._with(
            self._df.withColumn(
                "_t_local", F.struct(F.col(self._id_col()).alias("id"))
            )
        )
        sub._local_scope = "_t_local.id"
        out = fn(sub)
        if isinstance(out, DataFrame):
            return out
        if not isinstance(out, GraphTraversal):
            raise TypeError(f"local_ subtraversal returned {type(out).__name__}")
        res = out._with(out._df.drop("_t_local"))
        res._local_scope = None
        return res

    def map_(self, fn, name: str = "value"):
        """Gremlin ``map(...)`` — the generic per-traverser transform
        of the ProcessStandardSuite the reference certifies
        (BerkeleyTitanProcessTest.java:12-15). Two forms:

        - Column / property-key: compute the expression JVM-side and
          attach it as column ``name`` (the traverser keeps its
          element; extract with ``values(name)``) — the relational
          form of a value-mapped traverser, same contract as
          :meth:`math_`.
        - callable: run the sub-traversal per origin and keep its
          FIRST result per origin (Gremlin's map takes one result
          from the child traversal; "first" = the sub-traversal's
          recorded order, id-tiebroken). All-results form is
          :meth:`flat_map_`.
        """
        if callable(fn):
            def first(t):
                out = fn(t)
                return out.limit(1) if isinstance(out, GraphTraversal) else out

            return self.local_(first)
        self._ensure_cols()
        c = self.col(fn) if isinstance(fn, str) else fn
        return self._with(self._df.withColumn(name, c))

    def flat_map_(self, fn):
        """Gremlin ``flatMap(subTraversal)``: every sub-result becomes
        a continuing traverser. Relationally identical to
        :meth:`local_` — in a set-oriented engine the Gremlin
        lazy-iterator vs barrier-scope distinction between flatMap and
        local does not arise (documented divergence; both compile to
        per-origin windows/groupBys)."""
        return self.local_(fn)

    def side_effect_(self, fn) -> "GraphTraversal":
        """Gremlin ``sideEffect(subTraversal)``: run ``fn`` on the
        current frontier for its effect (sink write, metric, external
        accumulator) and continue with the traverser stream unchanged.
        The named accumulation forms remain :meth:`aggregate_` /
        ``store``; this is the generic escape hatch.

        DIVERGENCE (documented): ``fn`` executes EAGERLY, once, at
        chain-construction time on the driver — any Spark action it
        triggers (``count()``, a sink write) runs even if the
        traversal is never materialized, and it does NOT re-run per
        execution or per traverser as Gremlin's lazy per-iterator
        sideEffect does. In a set-oriented plan-building engine there
        is no per-traverser execution point to hook; callers needing
        effects tied to materialization should write the returned
        DataFrame through :class:`PropertyGraph` sinks instead."""
        fn(self._with(self._df))
        return self._with(self._df)

    def _scoped_window(self, specs, *, flip: bool = False):
        """Row-number window of the active local scope: partition by
        the origin, order by the given specs (+ the element id as a
        deterministic tiebreak)."""
        from pyspark.sql import Window

        cols = _order_cols(self._flip_specs(specs) if flip else specs)
        return Window.partitionBy(F.col(self._local_scope)).orderBy(
            *cols, F.col(self._id_col()).asc()
        )

    def _scoped_slice(self, specs, lo: int, hi: int | None, *, flip=False) -> "GraphTraversal":
        """Keep per-origin rows with rank in (lo, hi] under specs."""
        ranked = self._df.withColumn("_rn", F.row_number().over(self._scoped_window(specs, flip=flip)))
        cond = F.col("_rn") > lo if hi is None else (
            (F.col("_rn") > lo) & (F.col("_rn") <= hi)
        )
        return self._with(ranked.filter(cond).drop("_rn"))

    def page_rank(
        self,
        alpha: float = 0.85,
        iterations: int = 10,
        out_col: str = "pagerank",
        edge_labels: tuple[str, ...] = (),
    ) -> "GraphTraversal":
        """TinkerPop computer-traversal sugar ``g.V().pageRank()``
        (PageRankVertexProgram via ``g.traversal(computer())``,
        FulgoraGraphComputer.java:21,53-54): run PageRank over the
        WHOLE graph — VertexProgram semantics, independent of the
        current frontier — and annotate each frontier vertex with its
        score as a property column, so subsequent ``order_by``/
        ``values_``/``has`` steps treat it like any vertex property
        (the reference stores it as the element's
        'gremlin.pageRankVertexProgram.pageRank' property)."""
        from titan_spark.compute.algorithms import pagerank as _pagerank

        if self.kind != "V":
            raise ValueError("pageRank() is a vertex step — call on a V frontier")
        self._ensure_cols()
        ranks = _pagerank(
            self.graph, alpha=alpha, iterations=iterations, edge_labels=edge_labels
        ).withColumnRenamed("pagerank", out_col)
        return self._with(self._df.join(ranks, "id", "left"))

    def peer_pressure(
        self,
        iterations: int = 3,
        out_col: str = "cluster",
        edge_labels: tuple[str, ...] = (),
    ) -> "GraphTraversal":
        """TinkerPop ``g.V().peerPressure()`` (PeerPressureVertexProgram
        — synchronous label-propagation clustering): annotate each
        frontier vertex with its full-graph community id (the
        reference's 'gremlin.peerPressureVertexProgram.cluster'
        property)."""
        from titan_spark.compute.algorithms import label_propagation

        if self.kind != "V":
            raise ValueError("peerPressure() is a vertex step — call on a V frontier")
        self._ensure_cols()
        comm = label_propagation(
            self.graph, iterations=iterations, edge_labels=edge_labels
        ).withColumnRenamed("community", out_col)
        return self._with(self._df.join(comm, "id", "left"))

    def sample_(self, n: int, seed: int = 0) -> "GraphTraversal":
        """Gremlin ``sample(n)``, deterministically: keep the n
        traversers whose element id hashes lowest (portable h60 of
        (seed, id), ties broken by id). Gremlin's SampleStep draws
        RANDOM traversers; a reproducible engine can't do that and stay
        oracle-checkable, so this is the same deterministic-hash
        contract as pipeline/sampling.py — uniform-ish, stable across
        runs and engines. Compiles to TakeOrdered (per-partition top-n,
        merge n·p rows) — no global sort at any scale."""
        from titan_spark.functions.hashing import portable_hash64

        h = portable_hash64(
            F.concat(F.lit(f"{seed}:"), F.col(self._id_col()).cast("string"))
        )
        if self._local_scope:
            return self._scoped_slice((h.asc(),), 0, n)
        return self._with(
            self._df.orderBy(h.asc(), F.col(self._id_col()).asc()).limit(n),
            order_specs=(),
        )

    def shuffle_(self, seed: int = 0) -> "GraphTraversal":
        """Gremlin ``order().by(Order.shuffle)``: a pseudo-random total
        order — deterministically, via the portable hash of the element
        id (the same reproducibility contract, and the same documented
        divergence from Gremlin's RNG draw, as :meth:`sample_` /
        :meth:`coin_`). Sets the order specs so a following
        ``limit``/``range_``/``tail_`` slices the shuffled stream."""
        from titan_spark.functions.hashing import portable_hash64

        h = portable_hash64(
            F.concat(F.lit(f"{seed}:"), F.col(self._id_col()).cast("string"))
        ).alias("_shuf")
        df = self._df.select("*", h)
        return self._with(
            df.orderBy(F.col("_shuf").asc(), F.col(self._id_col()).asc()),
            order_specs=("_shuf", self._id_col()),
        )

    def coin_(self, p: float, seed: int = 0) -> "GraphTraversal":
        """Gremlin ``coin(p)``, deterministically: keep a traverser iff
        its element id's hash bucket falls below ``p`` — the same
        closed-form hash (and the same documented divergence from
        Gremlin's random draw) as :meth:`sample_` and
        pipeline/sampling.py. A narrow filter: no shuffle, evaluated at
        the scan, prunes early at any scale."""
        from titan_spark.pipeline.sampling import _BUCKETS, hash_bucket

        return self._with(
            self._df.filter(
                hash_bucket(F.col(self._id_col()), seed) < F.lit(int(p * _BUCKETS))
            )
        )

    def constant_(self, value, name: str = "constant") -> DataFrame:
        """Gremlin ``constant(v)``: map every traverser to ``v`` —
        one literal column per surviving traverser."""
        return self._df.select(F.lit(value).alias(name))

    def ids(self) -> DataFrame:
        """Gremlin ``id()``: the current element id per traverser."""
        self._ensure_cols()
        return self._df.select(F.col(self._id_col()).alias("id"))

    def labels(self) -> DataFrame:
        """Gremlin ``label()``: the current element label per traverser."""
        self._ensure_cols()
        return self._df.select(self.col("label").alias("label"))

    def dedup(self, *cols: str) -> "GraphTraversal":
        """Dedup traversers by current element id (U1/U2); inside
        ``local_`` per origin — the same element may survive under
        two different origins (DedupLocalStep semantics)."""
        if cols and any(c not in self._df.columns for c in cols):
            self._ensure_cols()
        keys = list(cols) if cols else [self._id_col()]
        if self._local_scope:
            flat = self._df.withColumn("_lid", F.col(self._local_scope))
            return self._with(flat.dropDuplicates(["_lid", *keys]).drop("_lid"))
        return self._with(self._df.dropDuplicates(keys))

    # ------------------------------------------------------------- terminals
    def values(self, *keys: str) -> DataFrame:
        """Project property values (P10). LIST/SET-cardinality keys are
        served from the long-format vertex_properties table (explode
        semantics) when one key is requested."""
        card_keys = [
            k
            for k in keys
            if self.graph.schema.cardinality_of(k).value != "single"
            and self.graph.vertex_properties is not None
        ]
        if card_keys:
            if len(keys) != 1:
                raise ValueError("multi-cardinality values(): one key at a time")
            key = keys[0]
            self._require("V", "values(multi-cardinality)")
            vp = self.graph.vertex_properties.filter(F.col("key") == key)
            ids = self._df.select(F.col("id").alias("vertex_id"))
            return ids.join(vp, "vertex_id").select(F.col("value").alias(key))
        self._ensure_cols()
        return self._df.select(*[self.col(k).alias(k) for k in keys])

    def properties_(self, *keys: str, has_value=None, meta=None) -> DataFrame:
        """Vertex-property rows for the current frontier (Gremlin
        ``properties()``): long-format rows ``(vertex_id, key, value,
        prop_id, <meta columns>)`` from the vertex_properties table —
        meta-properties (properties on properties, docs/advschema.
        txt:72) are ordinary columns here.
        ``keys`` is Gremlin's ``hasKey()`` restriction; ``has_value``
        is ``hasValue(v)`` (value or ``P.xx`` predicate); ``meta`` is
        mid-traversal meta-property filtering —
        ``properties().has(metaKey, pred)`` in the reference
        (ProcessStandardSuite shape,
        BerkeleyTitanProcessTest.java:12-15) — as a dict of
        meta-column → value-or-predicate.
        """
        self._require("V", "properties_")
        vp = self.graph.vertex_properties
        if vp is None:
            raise ValueError("graph has no vertex_properties table")
        if keys:
            vp = vp.filter(
                F.col("key") == keys[0] if len(keys) == 1 else F.col("key").isin(list(keys))
            )
        if has_value is not None:
            vp = vp.filter(as_pred(has_value)(F.col("value")))
        for mk, mv in (meta or {}).items():
            if mk not in vp.columns:
                raise ValueError(
                    f"meta-property {mk!r} not present on the "
                    f"vertex_properties table (columns: {vp.columns})"
                )
            vp = vp.filter(as_pred(mv)(F.col(mk)))
        ids = self._df.select(F.col("id").alias("vertex_id"))
        return ids.join(vp, "vertex_id")

    def value_map(self, *keys: str, with_tokens: bool = False) -> DataFrame:
        """Gremlin ``valueMap()``; ``with_tokens=True`` is
        ``valueMap(true)`` — the id and label tokens ride along as
        columns (T.id / T.label in the reference's ElementValueMap)."""
        self._ensure_cols()
        keys = keys or tuple(
            c for c in self._df.columns if not c.startswith("_") and c not in ("id", "edge_id")
        )
        lead = [self.col("id").alias("id")]
        if with_tokens:
            lead.append(self.col("label").alias("label"))
        return self._df.select(*lead, *[self.col(k).alias(k) for k in keys if k != "label" or not with_tokens])

    def _scoped_group(self):
        """groupBy handle of the active local scope, keyed local_id."""
        return self._df.groupBy(F.col(self._local_scope).alias("local_id"))

    def count(self) -> DataFrame:
        """Traverser count (A1/A2) as a 1-row DataFrame; inside
        ``local_`` one row per origin (``local_id``)."""
        if self._local_scope:
            return self._scoped_group().agg(F.count(F.lit(1)).alias("count"))
        return self._df.agg(F.count(F.lit(1)).alias("count"))

    def count_value(self) -> int:
        return self._guarded(lambda: self.count().collect()[0][0])

    def group_count(self, *keys) -> DataFrame:
        """``groupCount().by(key)`` → groupBy + count (§2.10); inside
        ``local_`` the origin (``local_id``) joins the grouping keys."""
        self._ensure_cols()
        cols = [F.col(k) if isinstance(k, str) else k for k in keys]
        if self._local_scope:
            cols = [F.col(self._local_scope).alias("local_id"), *cols]
        return self._df.groupBy(*cols).agg(F.count(F.lit(1)).alias("count"))

    # ------------------------------------------- generic collection steps
    # GroupStep / FoldStep / UnfoldStep / ProjectStep / InjectStep /
    # SideEffectCapStep of the ProcessStandardSuite, which the reference
    # passes wholesale (BerkeleyTitanProcessTest.java:12-15). Collected
    # lists are emitted SORTED: Gremlin's list order is traversal
    # iteration order, which no distributed engine reproduces — the
    # sorted form is the deterministic, oracle-comparable equivalent
    # (documented divergence, same policy as sample_()).

    _GROUP_AGGS = ("list", "set", "count", "sum", "min", "max", "mean")

    def group_(self, key, value=None, agg: str = "list") -> DataFrame:
        """Gremlin ``group().by(key).by(value)`` → (key, value) rows.

        ``key``/``value`` are property-key names or Columns; ``value``
        defaults to the element id (Gremlin groups the elements
        themselves). ``agg`` is the reduction the second ``by()``
        applies: ``list`` (Gremlin's default traverser fold), ``set``,
        ``count``, ``sum``, ``min``, ``max``, ``mean``.
        """
        self._ensure_cols()
        kc = (self.col(key) if isinstance(key, str) else key).alias("key")
        if value is None:
            vc = F.col(self._id_col())
        else:
            vc = self.col(value) if isinstance(value, str) else value
        aggs = {
            "list": F.sort_array(F.collect_list(vc)),
            "set": F.sort_array(F.collect_set(vc)),
            "count": F.count(vc),
            "sum": F.sum(vc),
            "min": F.min(vc),
            "max": F.max(vc),
            "mean": F.avg(vc),
        }
        if agg not in aggs:
            raise ValueError(f"unknown group agg {agg!r} (have {self._GROUP_AGGS})")
        return self._df.groupBy(kc).agg(aggs[agg].alias("value"))

    def fold(self, key: str | Column | None = None) -> DataFrame:
        """Gremlin ``fold()``: collect every traverser's value into ONE
        list row (column ``folded``); ``unfold`` reverses it. Inside
        ``local_``: one list per origin (``local_id``)."""
        if key is None:
            vc = F.col(self._id_col())
        else:
            vc = self.col(key) if isinstance(key, str) else key
        expr = F.sort_array(F.collect_list(vc)).alias("folded")
        if self._local_scope:
            return self._scoped_group().agg(expr)
        return self._df.agg(expr)

    def project_(self, **cols) -> DataFrame:
        """Gremlin ``project('a', 'b').by(x).by(y)``: one row per
        traverser with each named sub-projection as a column — the
        relational form of ProjectStep's per-traverser map. Values are
        property-key names or Columns (tag columns reachable via
        ``self.col``/``select_``-style expressions)."""
        self._ensure_cols()
        out = []
        for name, spec in cols.items():
            c = self.col(spec) if isinstance(spec, str) else spec
            out.append(c.alias(name))
        return self._df.select(*out)

    def inject_(self, *vertex_ids: int) -> "GraphTraversal":
        """Gremlin ``inject(...)`` on an element frontier: append the
        given vertices as extra traversers (bag semantics — a vertex
        already in the frontier appears twice, as InjectStep does).
        Arbitrary non-element objects cannot live in an element
        frontier; use :func:`inject_values` on a projected value
        DataFrame for the scalar form."""
        self._require("V", "inject_")
        extra = GraphTraversal._vertices(self.graph).has_id(*vertex_ids)
        return self.union_(extra)

    def cap_(self, name: str) -> DataFrame:
        """Gremlin ``cap(name)``: emit the side-effect set collected by
        ``aggregate_``/``store_`` as one folded list row (column named
        after the set)."""
        ids = self._side_effect_set(name)
        return ids.agg(F.sort_array(F.collect_list("_se_id")).alias(name))

    def subgraph_(self):
        """Gremlin ``subgraph(name)`` terminal on an EDGE frontier: the
        edge-induced subgraph as a new ``PropertyGraph`` (SubgraphStep;
        the side-effect-name indirection is dropped — the graph is
        returned directly, ready for further traversals/algorithms).
        Vertices are the retained edges' endpoints with all their
        properties; vertex_properties rows are restricted to them.
        """
        from titan_spark.graph import PropertyGraph

        self._require("E", "subgraph_")
        e = self._df.select(*self.graph.edges.columns).dropDuplicates(["edge_id"])
        ids = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .dropDuplicates()
        )
        v = self.graph.vertices.join(ids, "id", "left_semi")
        vp = self.graph.vertex_properties
        if vp is not None:
            vp = vp.join(ids.select(F.col("id").alias("vertex_id")), "vertex_id", "left_semi")
        return PropertyGraph(v, e, vp, schema=self.graph.schema)

    def agg(self, *exprs: Column, group_by: Iterable = ()) -> DataFrame:
        self._ensure_cols()
        gb = [F.col(g) if isinstance(g, str) else g for g in group_by]
        if gb:
            return self._df.groupBy(*gb).agg(*exprs)
        return self._df.agg(*exprs)

    def _reduce(self, agg_fn, key: str, name: str) -> DataFrame:
        """Shared reducing terminal: global 1-row agg, or per-origin
        rows (``local_id``) inside ``local_``."""
        self._ensure_cols()
        expr = agg_fn(self.col(key)).alias(name)
        if self._local_scope:
            return self._scoped_group().agg(expr)
        return self._df.agg(expr)

    def sum_(self, key: str) -> DataFrame:
        return self._reduce(F.sum, key, "sum")

    def min_(self, key: str) -> DataFrame:
        return self._reduce(F.min, key, "min")

    def max_(self, key: str) -> DataFrame:
        return self._reduce(F.max, key, "max")

    def mean_(self, key: str) -> DataFrame:
        return self._reduce(F.avg, key, "mean")


# ---------------------------------------------------------------- provenance
# Steps that move the traverser to a new element — automatic path()
# inserts an id tag before each of these during replay.
_PATH_ELEMENT_STEPS = frozenset(
    {"out", "in_", "both", "outE", "inE", "bothE",
     "inV", "outV", "otherV", "originV", "bothV"}
)

# vertex-frontier hops decomposed by path() so the origin tag can be
# taken from the edge frontier (preserving the pristine elision)
_V_HOP_DECOMP = {"out": ("outE", "inV"), "in_": ("inE", "outV"), "both": ("bothE", "otherV")}

# Public chaining surface instrumented for path() provenance. The depth
# guard makes composite steps (out = outE + inV, repeat = n × step)
# record as ONE step: inner decorated calls run at depth > 0 and skip
# recording, so replay matches Gremlin path semantics.
_CHAINING_METHODS = (
    "has", "has_not", "has_label", "has_id", "filter_", "is_", "adjacent",
    "simple_path_excluding", "out", "in_", "both", "outE", "inE", "bothE",
    "inV", "outV", "otherV", "originV", "bothV", "repeat", "repeat_until",
    "union_", "choose", "branch_", "coalesce_", "where_", "not_", "aggregate_",
    "where_within", "where_without", "as_", "order_by", "limit", "range_",
    "local_top_k", "local_", "map_", "flat_map_", "side_effect_",
    "dedup", "with_sack", "sack_", "sample_", "page_rank", "peer_pressure",
)

_REC_DEPTH = 0


def _chained(fn):
    import functools

    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        global _REC_DEPTH
        _REC_DEPTH += 1
        try:
            out = fn(self, *a, **kw)
        finally:
            _REC_DEPTH -= 1
        if _REC_DEPTH == 0 and isinstance(out, GraphTraversal):
            out._step_src = (self, fn.__name__, a, kw)
        return out

    return wrapper


for _m in _CHAINING_METHODS:
    setattr(GraphTraversal, _m, _chained(getattr(GraphTraversal, _m)))


def unfold(df: DataFrame, column: str = "folded", alias: str = "value") -> DataFrame:
    """Gremlin ``unfold()``: explode a collected list column back into
    one row per element (inverse of ``GraphTraversal.fold`` /
    ``group_(agg='list')`` values)."""
    return df.select(F.explode(F.col(column)).alias(alias))


def inject_values(df: DataFrame, *values, column: str | None = None) -> DataFrame:
    """Scalar InjectStep: append constant rows to a single-column value
    stream (the non-element form of ``GraphTraversal.inject_``)."""
    if len(df.columns) != 1:
        raise ValueError("inject_values needs a single-column DataFrame")
    col = column or df.columns[0]
    extra = local_relation(df.sparkSession, [(v,) for v in values], df.schema)
    return df.withColumnRenamed(df.columns[0], col).unionByName(
        extra.withColumnRenamed(extra.columns[0], col)
    )


__all__ = ["GraphTraversal", "P", "Pred", "unfold", "inject_values"]
