"""PropertyGraph: the vertices/edges/vertex_properties DataFrame triple.

Titan stores a property graph as row-oriented adjacency lists over a
BigTable model (reference ``docs/datamodel.txt:5-46``); the idiomatic
Spark encoding is two columnar DataFrames —

    vertices(id: long, label: string, <property columns>)
    edges(edge_id: long, src: long, dst: long, label: string, <props>)

plus an optional long-format ``vertex_properties(vertex_id, key,
value, prop_id, <meta columns>)`` for LIST/SET-cardinality properties
and meta-properties (SURVEY.md §1.1).

Titan's doubled edge storage (each edge stored at both endpoints,
``docs/datamodel.txt:7``) becomes a *view* — :meth:`both_adjacency`
unions the two orientations when a query must see edges from either
endpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from titan_spark.schema import GraphSchema
from titan_spark.session import local_relation

VERTEX_COLS = ("id", "label")
EDGE_COLS = ("edge_id", "src", "dst", "label")


class PropertyGraph:
    """A property graph over DataFrames with Titan's query surface."""

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        vertex_properties: DataFrame | None = None,
        schema: GraphSchema | None = None,
    ):
        for c in VERTEX_COLS:
            if c not in vertices.columns:
                raise ValueError(f"vertices missing required column {c!r}")
        for c in EDGE_COLS:
            if c not in edges.columns:
                raise ValueError(f"edges missing required column {c!r}")
        self.vertices = vertices
        self.edges = edges
        self.vertex_properties = vertex_properties
        self.schema = schema or GraphSchema()
        self._n_vertices: int | None = None
        self._n_edges: int | None = None

    @property
    def spark(self) -> SparkSession:
        return self.vertices.sparkSession

    def num_vertices(self) -> int:
        """|V|, memoized per instance (DML builds new instances, so the
        memo can't go stale)."""
        if self._n_vertices is None:
            self._n_vertices = self.vertices.count()
        return self._n_vertices

    def num_edges(self) -> int:
        """|E|, memoized per instance."""
        if self._n_edges is None:
            self._n_edges = self.edges.count()
        return self._n_edges

    # -- traversal entry points (Titan: g.V() / g.E() / tx.query()) --
    def V(self, *ids: int):
        """Global vertex traversal; with ids = point fetch
        (StandardTitanTx.java:383 getVertices)."""
        from titan_spark.operators.traversal import GraphTraversal

        t = GraphTraversal._vertices(self)
        if ids:
            t = t.has_id(*ids)
        return t

    def E(self, *ids: int):
        from titan_spark.operators.traversal import GraphTraversal

        t = GraphTraversal._edges(self)
        if ids:
            t = t.has_id(*ids)
        return t

    # -- adjacency views --
    def both_adjacency(self) -> DataFrame:
        """Edges seen from both endpoints: union of the two orientations
        with a direction marker. Self-loops appear twice — Titan's BOTH
        semantics (StandardTitanTx.java:1053-1071, SURVEY §2.7 U4)."""
        e = self.edges
        out = e.withColumn("_dir", F.lit("OUT")).withColumn("_origin", F.col("src")).withColumn(
            "_other", F.col("dst")
        )
        inn = e.withColumn("_dir", F.lit("IN")).withColumn("_origin", F.col("dst")).withColumn(
            "_other", F.col("src")
        )
        return out.unionByName(inn)

    def degrees(self, direction: str = "both") -> DataFrame:
        """Per-vertex degree (SURVEY §2.5 A4 degree counting).

        Map-side-combinable groupBy on the edge table; BOTH counts
        self-loops twice by construction of the union.
        """
        if direction == "out":
            return self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
        if direction == "in":
            return self.edges.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
        return (
            self.both_adjacency()
            .groupBy(F.col("_origin").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    # -- DML (batch; SURVEY §2.7 U3) --
    def add_vertices(self, new_vertices: DataFrame) -> "PropertyGraph":
        # DefaultSchemaMaker: auto-register (or, in maker="none" mode,
        # reject) undeclared labels/keys before the write lands
        self.schema.register_from(vertices=new_vertices)
        return PropertyGraph(
            self.vertices.unionByName(new_vertices, allowMissingColumns=True),
            self.edges,
            self.vertex_properties,
            self.schema,
        )

    def add_edges(self, new_edges: DataFrame, validate: bool = False) -> "PropertyGraph":
        self.schema.register_from(edges=new_edges)
        edges = self.edges.unionByName(new_edges, allowMissingColumns=True)
        if validate:
            bad = self.schema.multiplicity_violations(edges)
            if bad.limit(1).count() > 0:
                rows = bad.limit(5).collect()
                raise ValueError(f"SchemaViolation: multiplicity violated: {rows}")
        return PropertyGraph(self.vertices, edges, self.vertex_properties, self.schema)

    def remove_vertices(self, ids: DataFrame | list[int]) -> "PropertyGraph":
        """Remove vertices and their incident edges (anti-join; Titan
        remove() cascades to incident relations). A list of ids becomes a
        local relation the planner broadcasts into the anti-joins;
        ``None`` entries match nothing and are dropped."""
        if isinstance(ids, list):
            ids = local_relation(
                self.spark, [(i,) for i in ids if i is not None], "id bigint"
            )
        ids = ids.select(F.col(ids.columns[0]).alias("id"))
        vertices = self.vertices.join(ids, "id", "left_anti")
        edges = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select(self.edges.columns)
        )
        vp = self.vertex_properties
        if vp is not None:
            vp = vp.join(ids.withColumnRenamed("id", "vertex_id"), "vertex_id", "left_anti")
        return PropertyGraph(vertices, edges, vp, self.schema)

    def remove_edges(self, edge_ids: DataFrame | list[int]) -> "PropertyGraph":
        if isinstance(edge_ids, list):
            edge_ids = local_relation(
                self.spark, [(i,) for i in edge_ids if i is not None], "id bigint"
            )
        edge_ids = edge_ids.select(F.col(edge_ids.columns[0]).alias("edge_id"))
        return PropertyGraph(
            self.vertices,
            self.edges.join(edge_ids, "edge_id", "left_anti"),
            self.vertex_properties,
            self.schema,
        )

    def repair_ghost_edges(self) -> "PropertyGraph":
        """Maintenance job (SURVEY §2.9 C8, olap/job/GhostVertexRemover.
        java:32): drop edges whose endpoints no longer exist — two
        left-semi joins against the vertex ids."""
        ids = self.vertices.select("id")
        edges = (
            self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select(self.edges.columns)
        )
        return PropertyGraph(self.vertices, edges, self.vertex_properties, self.schema)

    def ghost_edges(self) -> DataFrame:
        """Edges referencing missing vertices (the repair candidates)."""
        ids = self.vertices.select("id")
        bad_src = self.edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
        bad_dst = self.edges.join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
        return bad_src.unionByName(bad_dst).dropDuplicates(["edge_id"])

    def persist_vertex_properties(self, computed: DataFrame) -> "PropertyGraph":
        """OLAP writeback (SURVEY §2.1 S11, FulgoraGraphComputer.java:
        250-295 Persist.VERTEX_PROPERTIES): merge computed per-vertex
        columns (keyed by ``id``) into the vertex table. Existing
        columns of the same name are replaced; other vertices keep
        NULL. One left join — the Delta-MERGE analog."""
        new_cols = [c for c in computed.columns if c != "id"]
        base = self.vertices.drop(*[c for c in new_cols if c in self.vertices.columns])
        return PropertyGraph(
            base.join(computed, "id", "left"), self.edges, self.vertex_properties, self.schema
        )

    def vertex_scan(
        self,
        fn,
        output_schema: str,
        edge_labels: tuple[str, ...] = (),
        direction: str = "out",
    ) -> DataFrame:
        """Map-only VertexScanJob (SURVEY §2.9 C6; olap/VertexScanJob.
        java:16-58 + QueryContainer.java declared preload queries).

        Each group handed to ``fn`` is a pandas DataFrame of one
        vertex's row replicated per incident edge of the declared
        labels/direction (edge columns prefixed ``e_``; vertices with
        no matching edges get one row with NULL edge columns).
        ``fn(pdf) -> pdf`` with ``output_schema``. Runs as
        applyInPandas — one shuffle on vertex id, Arrow-batched.
        """
        e = self.edges
        if edge_labels:
            e = e.filter(F.col("label").isin(list(edge_labels)))
        if direction == "out":
            key = e["src"]
        elif direction == "in":
            key = e["dst"]
        else:
            raise ValueError("direction must be 'out' or 'in'")
        e_pref = e.select(
            key.alias("_vid"), *[F.col(c).alias(f"e_{c}") for c in e.columns]
        )
        joined = self.vertices.join(e_pref, self.vertices["id"] == e_pref["_vid"], "left").drop(
            "_vid"
        )
        return joined.groupBy("id").applyInPandas(fn, output_schema)

    # -- persistence --
    def write(self, path: str, mode: str = "overwrite") -> None:
        """Persist as parquet, edges range-partitioned AND sorted by
        (label, src) — the columnar analog of Titan's sorted adjacency
        lists (docs/datamodel.txt:21,42-46): parquet row-group min/max
        stats skip on label/src exactly like a sort-key slice.

        ``repartitionByRange`` (not ``repartition("label")``): a hash
        partition per label would write the dominant label — often >50%
        of all edges — as ONE task and one file, a straggler and a
        downstream single-split read at scale. Range partitioning on
        (label, src) splits each label across contiguous src ranges, so
        tasks stay balanced while every file still covers one label and
        a narrow src band (AQE coalesces the small tail labels)."""
        self.vertices.write.mode(mode).parquet(f"{path}/vertices")
        (
            self.edges.repartitionByRange("label", "src")
            .sortWithinPartitions("label", "src")
            .write.mode(mode)
            .parquet(f"{path}/edges")
        )
        if self.vertex_properties is not None:
            self.vertex_properties.write.mode(mode).parquet(f"{path}/vertex_properties")

    def write_bucketed(
        self, name: str, n_buckets: int = 32, mode: str = "overwrite"
    ) -> None:
        """Persist as bucketed tables (``<name>_vertices`` bucketed by
        id, ``<name>_edges`` by src): repeated hop joins on the stored
        graph co-locate without a shuffle — Titan's id-placement
        locality (VertexIDAssigner, SURVEY §4.2) as physical layout.
        """
        for suffix in ("vertices", "edges"):
            self._drop_table(f"{name}_{suffix}")
        (
            self.vertices.write.mode(mode)
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .saveAsTable(f"{name}_vertices")
        )
        (
            self.edges.write.mode(mode)
            .bucketBy(n_buckets, "src")
            .sortBy("src", "label")
            .saveAsTable(f"{name}_edges")
        )

    def _drop_table(self, table: str) -> None:
        """Drop a managed table AND its physical location (a location
        left behind by a previous session's in-memory catalog blocks
        re-creation)."""
        spark = self.spark
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{table}")
        fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)

    @staticmethod
    def read_bucketed(
        spark: SparkSession, name: str, schema: GraphSchema | None = None
    ) -> "PropertyGraph":
        return PropertyGraph(
            spark.table(f"{name}_vertices"), spark.table(f"{name}_edges"), None, schema
        )

    @staticmethod
    def read(spark: SparkSession, path: str, schema: GraphSchema | None = None) -> "PropertyGraph":
        import os

        vp = None
        if os.path.isdir(f"{path}/vertex_properties"):
            vp = spark.read.parquet(f"{path}/vertex_properties")
        return PropertyGraph(
            spark.read.parquet(f"{path}/vertices"),
            spark.read.parquet(f"{path}/edges"),
            vp,
            schema,
        )

    def cache(self) -> "PropertyGraph":
        self.vertices.cache()
        self.edges.cache()
        return self
