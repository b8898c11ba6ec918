"""Schema registry: property keys, edge labels, vertex labels.

Mirrors Titan's management surface (reference:
``titan-core/src/main/java/com/thinkaurelius/titan/core/schema/TitanManagement.java``,
``PropertyKeyMaker.java:22,38``, ``EdgeLabelMaker.java:22-42``,
``VertexLabelMaker.java:31-39``, ``core/Cardinality.java:17-28``,
``core/Multiplicity.java:12-41``) as a light-weight declarative
registry. In Titan, multiplicity/cardinality violations throw
``SchemaViolationException`` at write time; here the checks are
set-oriented DataFrame validations run over a whole batch — the
idiomatic Spark equivalent (one aggregation instead of per-row locks).

TTL (``TitanManagement.setTTL``, ``docs/advschema.txt:20-67``) maps to
a retention predicate applied at read time, see
:meth:`GraphSchema.ttl_filter`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titan_spark.session import local_relation


class Cardinality(Enum):
    """Vertex-property cardinality (reference core/Cardinality.java:17-28)."""

    SINGLE = "single"
    LIST = "list"
    SET = "set"


class Multiplicity(Enum):
    """Edge multiplicity in the UML sense (reference core/Multiplicity.java:12-41)."""

    MULTI = "multi"
    SIMPLE = "simple"  # at most one edge per (src, dst) pair
    ONE2MANY = "one2many"  # in-degree <= 1 per vertex (e.g. "fatherOf")
    MANY2ONE = "many2one"  # out-degree <= 1 per vertex (e.g. "father")
    ONE2ONE = "one2one"


class Mapping(Enum):
    """Mixed-index field mapping (core/schema/Mapping.java:16-21).

    On Spark every predicate is always computable — there is no index
    backend to reject a query — so the mapping is an API-fidelity shim:
    a predicate that a reference mixed index would REJECT for this
    mapping (ElasticSearchIndex.java:957-984) raises a UserWarning, so
    a query ported from the reference surfaces its latent porting bug
    instead of silently "working" here and failing there.
    """

    DEFAULT = "default"
    TEXT = "text"          # tokenized: Text.CONTAINS* legal; Cmp/PREFIX/REGEX not
    STRING = "string"      # untokenized: Cmp/PREFIX/REGEX legal; CONTAINS* not
    TEXTSTRING = "textstring"  # dual-indexed: everything legal


@dataclass(frozen=True)
class PropertyKeyDef:
    name: str
    data_type: str  # Spark simpleString, e.g. "long", "string", "array<int>"
    cardinality: Cardinality = Cardinality.SINGLE
    # mgmt.setTTL on a property key (TitanManagement.java:290,
    # docs/advschema.txt:20-67): values older than this expire at read
    ttl_seconds: int | None = None
    mapping: Mapping = Mapping.DEFAULT


@dataclass(frozen=True)
class EdgeLabelDef:
    name: str
    multiplicity: Multiplicity = Multiplicity.MULTI
    unidirected: bool = False
    ttl_seconds: int | None = None
    sort_key: tuple[str, ...] = ()
    sort_desc: bool = False
    # endpoint vertex-label constraints (empty = unconstrained). The
    # traversal compiler uses these to prune the vertex-side scan of a
    # hop join to the reachable labels — the plan-time analog of
    # Titan's per-label adjacency slices (a hop over label L only
    # touches the vertex tables L can reach, instead of every vertex).
    src_labels: tuple[str, ...] = ()
    dst_labels: tuple[str, ...] = ()


@dataclass(frozen=True)
class VertexLabelDef:
    name: str
    partitioned: bool = False  # no-op on Spark (no supernode-row problem)
    static: bool = False
    ttl_seconds: int | None = None


class SchemaViolation(ValueError):
    """Write rejected by the schema (Titan SchemaViolationException)."""


@dataclass
class GraphSchema:
    """Registry of schema elements; Titan's ``TitanManagement`` analog.

    ``maker`` is the DefaultSchemaMaker policy (reference
    ``core/schema/DefaultSchemaMaker.java``; behavior test
    ``TitanGraphTest.java:1163 testAutomaticTypeCreation``):
    ``"default"`` auto-registers undeclared property keys / labels on
    first write with Titan's defaults (SINGLE cardinality, MULTI
    multiplicity); ``"none"`` (the ``schema.default=none`` config)
    raises :class:`SchemaViolation` instead.
    """

    property_keys: dict[str, PropertyKeyDef] = field(default_factory=dict)
    edge_labels: dict[str, EdgeLabelDef] = field(default_factory=dict)
    vertex_labels: dict[str, VertexLabelDef] = field(default_factory=dict)
    maker: str = "default"
    graph_indexes: dict[str, "GraphIndexDef"] = field(default_factory=dict)
    # query.force-index (docs/config-ref.txt): when True, a has()
    # predicate on a key with no ENABLED index coverage raises instead
    # of falling back to a full scan — Titan's production guard against
    # accidental graph scans
    force_index: bool = False
    # per-element ConsistencyModifier declarations (mgmt.setConsistency)
    consistency: dict[str, "ConsistencyModifier"] = field(default_factory=dict)

    # -- definition API (PropertyKeyMaker / EdgeLabelMaker / VertexLabelMaker) --
    def make_property_key(
        self,
        name: str,
        data_type: str = "string",
        cardinality: Cardinality = Cardinality.SINGLE,
        ttl_seconds: int | None = None,
        mapping: Mapping = Mapping.DEFAULT,
    ) -> PropertyKeyDef:
        pk = PropertyKeyDef(name, data_type, cardinality, ttl_seconds, mapping)
        self.property_keys[name] = pk
        return pk

    # predicate families per Mapping.java legality
    # (ElasticSearchIndex.java:957-984): a TEXT (tokenized) field
    # supports only the token predicates; a STRING (untokenized) field
    # supports only whole-string comparison/prefix/regex
    _FULLTEXT_PREDS = frozenset({"textContains", "textContainsPrefix", "textContainsRegex"})
    _STRING_PREDS = frozenset({"textPrefix", "textRegex", "eq", "neq", "within", "without"})
    # Cmp order predicates (and their interval composites) are legal on
    # NEITHER string mapping: ElasticSearchIndex.supports() admits only
    # EQUAL/NOT_EQUAL/PREFIX/REGEX for STRING and CONTAINS* for TEXT
    _ORDER_PREDS = frozenset({"lt", "lte", "gt", "gte", "between", "inside", "outside"})

    def warn_mapping_legality(self, key: str, pred_name: str) -> None:
        """Warn when ``pred_name`` applied to ``key`` would be rejected
        by a reference mixed index with the key's declared mapping.
        Spark computes it anyway (every predicate is a plain Column
        expression here) — the warning flags a porting hazard, not an
        execution error."""
        pk = self.property_keys.get(key)
        if pk is None or pk.mapping in (Mapping.DEFAULT, Mapping.TEXTSTRING):
            return
        base = pred_name.split("(", 1)[0]
        illegal = (
            base in self._ORDER_PREDS
            or (pk.mapping is Mapping.TEXT and base in self._STRING_PREDS)
            or (pk.mapping is Mapping.STRING and base in self._FULLTEXT_PREDS)
        )
        if illegal:
            import warnings

            warnings.warn(
                f"predicate {base!r} on key {key!r} is not supported by a "
                f"reference mixed index with Mapping.{pk.mapping.name} "
                f"(Mapping.java:16-21, ElasticSearchIndex.java:957-984); "
                f"computed here anyway — a port back to the reference would fail",
                UserWarning,
                stacklevel=4,
            )

    # -- consistency declarations (mgmt.setConsistency,
    # docs/eventualconsistency.txt) --
    def set_consistency(self, element_name: str, modifier: "ConsistencyModifier"):
        """``mgmt.setConsistency(element, modifier)`` — records the
        contract for a property key, edge label, or graph index. FORK
        is only legal on edge labels (ConsistencyModifier.java forbids
        FORK on properties/indexes). A batch engine has no commit-time
        locks; LOCK maps to gating a batch on the violation relations
        (`unique_violations` / `cardinality_violations` /
        `multiplicity_violations`) and FORK to append-only edge writes
        (`add_edges` already is)."""
        is_edge = element_name in self.edge_labels
        known = (
            is_edge
            or element_name in self.property_keys
            or element_name in self.graph_indexes
        )
        if not known:
            raise SchemaViolation(f"unknown schema element {element_name!r}")
        if modifier is ConsistencyModifier.FORK and not is_edge:
            raise SchemaViolation("FORK consistency is only legal on edge labels")
        self.consistency[element_name] = modifier
        return modifier

    def consistency_of(self, element_name: str) -> "ConsistencyModifier":
        return self.consistency.get(element_name, ConsistencyModifier.DEFAULT)

    # -- graph-index management (TitanManagement.buildIndex/updateIndex,
    # SchemaStatus lifecycle, docs/indexes.txt) --
    def build_index(
        self,
        name: str,
        keys,
        element: str = "vertex",
        composite: bool = True,
        unique: bool = False,
        label_constraint: str | None = None,
    ) -> "GraphIndexDef":
        """``mgmt.buildIndex(name, Vertex.class).addKey(k)...
        .buildCompositeIndex()`` — starts INSTALLED like the reference;
        ENABLE it before force-index queries count it as coverage."""
        if unique and not composite:
            raise SchemaViolation("unique() requires a composite index")
        idx = GraphIndexDef(
            name, tuple(keys), element, composite, unique, label_constraint
        )
        self.graph_indexes[name] = idx
        return idx

    def update_index(self, name: str, action: "SchemaAction") -> "GraphIndexDef":
        """``mgmt.updateIndex(index, SchemaAction...)`` with the
        reference's legal-transition checks."""
        idx = self.graph_indexes[name]
        expected, target = _INDEX_TRANSITIONS[action]
        if expected is not None and idx.status is not expected:
            raise SchemaViolation(
                f"index {name!r} is {idx.status.name}; "
                f"{action.name} requires {expected.name}"
            )
        idx.status = target
        return idx

    def await_index_status(self, name: str, status: "IndexStatus") -> "GraphIndexDef":
        """``ManagementSystem.awaitGraphIndexStatus`` — the reference
        polls cluster-wide type propagation; a single-registry engine
        is immediately consistent, so this is an assertion kept for
        API parity."""
        idx = self.graph_indexes[name]
        if idx.status is not status:
            raise SchemaViolation(
                f"index {name!r} is {idx.status.name}, not {status.name}"
            )
        return idx

    def enabled_index_for(self, key: str, element: str = "vertex"):
        """First ENABLED index whose key set contains ``key`` — the
        coverage rule behind the force-index guard (single-key
        coverage, like Titan's index selection)."""
        for idx in self.graph_indexes.values():
            if (
                idx.status is IndexStatus.ENABLED
                and idx.element == element
                and key in idx.keys
            ):
                return idx
        return None

    def check_force_index(self, key: str, element: str = "vertex") -> None:
        """Raise when ``query.force-index`` is set and no ENABLED index
        covers ``key`` (Titan: GraphQueryException 'Could not find a
        suitable index to answer graph query and graph scans are
        disabled'). On Spark the scan would succeed — this guard
        preserves the reference's production contract that unindexed
        predicates must not silently become full scans."""
        if self.force_index and self.enabled_index_for(key, element) is None:
            raise SchemaViolation(
                f"query.force-index is set and no ENABLED index covers "
                f"{element} key {key!r} — declare one with build_index() "
                f"+ update_index(ENABLE_INDEX) or unset force_index"
            )

    def unique_violations(self, vertices: DataFrame, name: str) -> DataFrame:
        """Rows violating a unique composite index (the reference
        throws SchemaViolationException per write; the batch engine
        returns violating key tuples with counts — one aggregation)."""
        idx = self.graph_indexes[name]
        if not idx.unique:
            raise SchemaViolation(f"index {name!r} is not unique")
        return (
            vertices.groupBy(*list(idx.keys))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )

    def make_edge_label(
        self,
        name: str,
        multiplicity: Multiplicity = Multiplicity.MULTI,
        unidirected: bool = False,
        ttl_seconds: int | None = None,
        sort_key: tuple[str, ...] = (),
        sort_desc: bool = False,
        src_labels: tuple[str, ...] = (),
        dst_labels: tuple[str, ...] = (),
    ) -> EdgeLabelDef:
        el = EdgeLabelDef(
            name,
            multiplicity,
            unidirected,
            ttl_seconds,
            sort_key,
            sort_desc,
            tuple(src_labels),
            tuple(dst_labels),
        )
        self.edge_labels[name] = el
        return el

    def endpoint_labels(
        self, edge_labels: tuple[str, ...] | None, side: str
    ) -> tuple[str, ...] | None:
        """Vertex labels reachable on ``side`` ('src'/'dst'/'both') of
        the given edge labels, or None if any is unconstrained."""
        if not edge_labels:
            return None
        out: set[str] = set()
        for el_name in edge_labels:
            el = self.edge_labels.get(el_name)
            if el is None:
                return None
            sides = []
            if side in ("src", "both"):
                sides.append(el.src_labels)
            if side in ("dst", "both"):
                sides.append(el.dst_labels)
            for s in sides:
                if not s:
                    return None
                out.update(s)
        return tuple(sorted(out))

    def make_vertex_label(
        self,
        name: str,
        partitioned: bool = False,
        static: bool = False,
        ttl_seconds: int | None = None,
    ) -> VertexLabelDef:
        vl = VertexLabelDef(name, partitioned, static, ttl_seconds)
        self.vertex_labels[name] = vl
        return vl

    def cardinality_of(self, key: str) -> Cardinality:
        pk = self.property_keys.get(key)
        return pk.cardinality if pk else Cardinality.SINGLE

    # -- DefaultSchemaMaker (auto type creation on first write) --
    def register_from(
        self, vertices: DataFrame | None = None, edges: DataFrame | None = None
    ) -> None:
        """Register the schema elements a DML batch introduces.

        Property keys come from the DataFrame schema (free — no scan);
        labels need one distinct() over the narrow label column of the
        batch. In ``maker="none"`` mode any undeclared element raises
        :class:`SchemaViolation` before the write lands, matching
        Titan's ``schema.default=none`` rejection.
        """
        strict = self.maker == "none"

        def _keys(df: DataFrame, reserved: tuple[str, ...]) -> None:
            for f_ in df.schema.fields:
                name = f_.name
                if name in reserved or name.startswith("_") or name in self.property_keys:
                    continue
                if strict:
                    raise SchemaViolation(f"undefined property key {name!r} (schema.default=none)")
                self.make_property_key(name, f_.dataType.simpleString())

        if vertices is not None:
            _keys(vertices, ("id", "label"))
            for (lbl,) in vertices.select("label").distinct().collect():
                if lbl in self.vertex_labels:
                    continue
                if strict:
                    raise SchemaViolation(f"undefined vertex label {lbl!r} (schema.default=none)")
                self.make_vertex_label(lbl)
        if edges is not None:
            _keys(edges, ("edge_id", "src", "dst", "label", "src_label", "dst_label"))
            for (lbl,) in edges.select("label").distinct().collect():
                if lbl in self.edge_labels:
                    continue
                if strict:
                    raise SchemaViolation(f"undefined edge label {lbl!r} (schema.default=none)")
                self.make_edge_label(lbl)

    # -- batch validation (write-path SchemaViolationException analog) --
    def multiplicity_violations(self, edges: DataFrame) -> DataFrame:
        """Return edge groups violating declared multiplicity.

        Output: (label, src, dst, n, rule). Empty DataFrame == valid.
        One aggregation per constraint class; all are map-side
        combinable groupBys, so this scales linearly with edge count.
        """
        out = None
        checks: list[tuple[list[str], str, list[str]]] = []
        simple = [l.name for l in self.edge_labels.values() if l.multiplicity == Multiplicity.SIMPLE]
        m2o = [
            l.name
            for l in self.edge_labels.values()
            if l.multiplicity in (Multiplicity.MANY2ONE, Multiplicity.ONE2ONE)
        ]
        o2m = [
            l.name
            for l in self.edge_labels.values()
            if l.multiplicity in (Multiplicity.ONE2MANY, Multiplicity.ONE2ONE)
        ]
        if simple:
            checks.append((simple, "SIMPLE", ["src", "dst"]))
        if m2o:
            checks.append((m2o, "MANY2ONE", ["src"]))
        if o2m:
            checks.append((o2m, "ONE2MANY", ["dst"]))
        for labels, rule, keys in checks:
            grouped = (
                edges.filter(F.col("label").isin(labels))
                .groupBy("label", *keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
            )
            part = grouped.select(
                "label",
                (F.col("src") if "src" in keys else F.lit(None).cast("long")).alias("src"),
                (F.col("dst") if "dst" in keys else F.lit(None).cast("long")).alias("dst"),
                "n",
                F.lit(rule).alias("rule"),
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            return local_relation(
                edges.sparkSession,
                [],
                "label string, src long, dst long, n long, rule string",
            )
        return out

    def cardinality_violations(self, vertex_properties: DataFrame) -> DataFrame:
        """SINGLE-cardinality keys with >1 value per vertex (long-format table)."""
        single = [k.name for k in self.property_keys.values() if k.cardinality == Cardinality.SINGLE]
        return (
            vertex_properties.filter(F.col("key").isin(single))
            .groupBy("vertex_id", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )

    def ttl_filter(self, df: DataFrame, label_col: str, ts_col: str, now_expr=None):
        """Retention predicate for TTL'd labels (read-time expiry).

        Titan expires cells via store TTL; at read time on Spark the
        equivalent is ``ts + ttl > now``. Labels without TTL pass.
        """
        now_expr = now_expr if now_expr is not None else F.current_timestamp()
        cond = F.lit(True)
        items = list(self.edge_labels.values()) + list(self.vertex_labels.values())
        for el in items:
            if el.ttl_seconds is not None:
                cond = cond & (
                    (F.col(label_col) != el.name)
                    | (F.col(ts_col) + F.expr(f"INTERVAL {el.ttl_seconds} SECOND") > now_expr)
                )
        return df.filter(cond)

    def property_ttl_filter(self, vertex_properties: DataFrame, ts_col: str = "_ts", now_expr=None):
        """Read-time expiry for TTL'd property KEYS over the long-format
        vertex_properties table (TitanManagement.java:290 setTTL covers
        property keys; docs/advschema.txt:20-67). Rows whose ``key`` has
        a TTL and whose write timestamp is too old drop; keys without a
        TTL — and rows without a timestamp — pass."""
        now_expr = now_expr if now_expr is not None else F.current_timestamp()
        cond = F.lit(True)
        for pk in self.property_keys.values():
            if pk.ttl_seconds is not None:
                cond = cond & (
                    (F.col("key") != pk.name)
                    | F.col(ts_col).isNull()
                    | (F.col(ts_col) + F.expr(f"INTERVAL {pk.ttl_seconds} SECOND") > now_expr)
                )
        if ts_col not in vertex_properties.columns:
            return vertex_properties
        return vertex_properties.filter(cond)


    # -- inspection API (ManagementSystem.printSchema / getVertexLabels /
    # getRelationTypes analog, docs/schema.txt) --
    def describe(self) -> str:
        """Human-readable schema dump — the ``mgmt.printSchema()``
        analog: one section per element kind, deterministic order."""
        lines = ["--- Vertex Labels ---"]
        lines += [
            f"{v.name}: partitioned={v.partitioned}, static={v.static}, "
            f"ttl={v.ttl_seconds}"
            for v in (self.vertex_labels[k] for k in sorted(self.vertex_labels))
        ] or ["(none)"]
        lines.append("--- Edge Labels ---")
        for e in (self.edge_labels[k] for k in sorted(self.edge_labels)):
            endp = ""
            if e.src_labels or e.dst_labels:
                endp = f", {list(e.src_labels)} -> {list(e.dst_labels)}"
            sk = f", sortKey={list(e.sort_key)}" if e.sort_key else ""
            lines.append(
                f"{e.name}: {e.multiplicity.name}, unidirected={e.unidirected}, "
                f"ttl={e.ttl_seconds}{sk}{endp}"
            )
        lines.append("--- Property Keys ---")
        lines += [
            f"{p.name}: {p.data_type}, {p.cardinality.name}, "
            f"mapping={p.mapping.name}, ttl={p.ttl_seconds}"
            for p in (self.property_keys[k] for k in sorted(self.property_keys))
        ]
        if self.graph_indexes:
            lines.append("--- Graph Indexes ---")
            lines += [
                f"{i.name}: {i.element}{'/composite' if i.composite else '/mixed'}"
                f"{'/unique' if i.unique else ''} on {list(i.keys)}, "
                f"status={i.status.name}"
                + (f", label={i.label_constraint}" if i.label_constraint else "")
                for i in (self.graph_indexes[k] for k in sorted(self.graph_indexes))
            ]
        if self.consistency:
            lines.append("--- Consistency ---")
            lines += [
                f"{k}: {self.consistency[k].name}" for k in sorted(self.consistency)
            ]
        return "\n".join(lines)


class IndexStatus(Enum):
    """Graph-index lifecycle states (reference
    ``core/schema/SchemaStatus.java``: INSTALLED → REGISTERED →
    ENABLED, with DISABLED for retirement; docs/indexes.txt walks the
    ``mgmt.buildIndex`` / ``updateIndex`` / ``awaitGraphIndexStatus``
    flow)."""

    INSTALLED = "installed"
    REGISTERED = "registered"
    ENABLED = "enabled"
    DISABLED = "disabled"


class SchemaAction(Enum):
    """``core/schema/SchemaAction.java`` actions for updateIndex."""

    REGISTER_INDEX = "register"
    ENABLE_INDEX = "enable"
    DISABLE_INDEX = "disable"


@dataclass
class GraphIndexDef:
    """A declared graph index (reference ``TitanGraphIndex``):
    composite = exact-match index over the key set; mixed = per-key
    predicate index. On Spark the 'index' is plan-time knowledge —
    Catalyst pushdown serves every predicate — so the definition
    carries API semantics (lifecycle, uniqueness, force-index
    coverage) and layout hints, not a physical structure."""

    name: str
    keys: tuple[str, ...]
    element: str = "vertex"  # "vertex" | "edge"
    composite: bool = True
    unique: bool = False
    label_constraint: str | None = None
    status: IndexStatus = IndexStatus.INSTALLED


_INDEX_TRANSITIONS = {
    SchemaAction.REGISTER_INDEX: (IndexStatus.INSTALLED, IndexStatus.REGISTERED),
    SchemaAction.ENABLE_INDEX: (IndexStatus.REGISTERED, IndexStatus.ENABLED),
    SchemaAction.DISABLE_INDEX: (None, IndexStatus.DISABLED),
}




class ConsistencyModifier(Enum):
    """``core/schema/ConsistencyModifier.java`` — per-schema-element
    consistency on eventually-consistent backends
    (docs/eventualconsistency.txt): DEFAULT (no guard), LOCK (acquire
    + re-read + verify at commit), FORK (edge updates fork a new edge
    instead of contending).

    A batch Spark engine has no transactional commit to guard; the
    contracts map to set-oriented equivalents, applied per batch:
    LOCK on a property key / unique index → the violation relations
    (`unique_violations`, `cardinality_violations`) gate the batch
    before publish; FORK → append-only edge writes (every update is a
    new edge row — the engine's `add_edges` is already append-only).
    The registry records the declared modifier so a port keeps its
    intent and `describe()` surfaces it.
    """

    DEFAULT = "default"
    LOCK = "lock"
    FORK = "fork"


