"""Streaming window aggregations, graph DML, ghost-edge repair, profile."""

import pytest
from pyspark.sql import functions as F

from titan_spark.graph import PropertyGraph
from titan_spark.schema import GraphSchema, Multiplicity
from titan_spark.streaming.windows import (
    read_events_stream,
    run_to_memory_sink,
    session_windows,
    windowed_counts,
)


def test_streaming_windowed_counts(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    agg = windowed_counts(ev, window="1 hour")
    run_to_memory_sink(agg, "win_counts", str(tmp_path / "ck1"))
    got = spark.sql("SELECT * FROM win_counts")
    # must equal the batch rollup over the same data
    from titan_spark.sources.tpch import load_tables

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("win_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    g = {(r["win_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in got.collect()}
    b = {(r["win_start"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_streaming_session_windows(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    sess = session_windows(ev, gap="30 minutes")
    run_to_memory_sink(sess, "sess_win", str(tmp_path / "ck2"))
    got = spark.sql("SELECT user_id, count(*) AS n_sessions FROM sess_win GROUP BY 1")
    # session-window count per user equals the batch lag-gap formulation
    from titan_spark.plans.catalog import q_sessionize_events

    batch = q_sessionize_events(spark, sf_dir).select("user_id", "n_sessions")
    g = {r["user_id"]: r["n_sessions"] for r in got.collect()}
    b = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert g == b


def test_streaming_dedup_bounded_state(spark, tmp_path):
    from titan_spark.streaming.windows import dedup_stream

    # at-least-once delivery: every event re-delivered, some thrice
    rows = [(i, 1_700_000_000 + i * 60, i % 7, float(i)) for i in range(200)]
    dup = rows + rows + rows[:50]
    src = str(tmp_path / "dup_src")
    spark.createDataFrame(
        [(e, __import__("datetime").datetime.utcfromtimestamp(t), u, v) for e, t, u, v in dup],
        "event_id long, ts timestamp, user_id long, value double",
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .parquet(src)
    )
    out = dedup_stream(stream, keys=("event_id",), watermark="1 hour")
    run_to_memory_sink(out, "dedup_ev", str(tmp_path / "ck3"), output_mode="append")
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_ev"
    ).collect()[0]
    assert got["n"] == 200 and got["d"] == 200


def test_dml_add_remove(spark, gods):
    new_v = spark.createDataFrame(
        [(100, "god", "janus", 1000)], "id long, label string, name string, age int"
    )
    new_e = spark.createDataFrame(
        [(100, 100, 4, "brother", None, None, None, None)],
        "edge_id long, src long, dst long, label string, time int, "
        "reason string, place_lat double, place_lon double",
    )
    g2 = gods.add_vertices(new_v).add_edges(new_e)
    assert g2.V().count_value() == 13
    assert g2.V().has("name", "janus").out("brother").values("name").collect()[0][0] == "jupiter"
    g3 = g2.remove_vertices([100])
    assert g3.V().count_value() == 12
    assert g3.E().count_value() == 17  # incident edge cascaded


def test_dml_id_lists_are_literal_relations(spark):
    # an id list must not become a Python-RDD scan: its size is unknown
    # to the planner (no broadcast into the anti-joins) and every later
    # action re-runs the Python tasks
    v = spark.range(10).select("id", F.lit("n").alias("label"))
    e = spark.range(9).select(
        F.col("id").alias("edge_id"),
        F.col("id").alias("src"),
        (F.col("id") + 1).alias("dst"),
        F.lit("x").alias("label"),
    )
    g = PropertyGraph(v, e)

    def plan(df):
        return df._jdf.queryExecution().toString()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for ids in ([3, None, 7], [None], []):
        by_list = g.remove_vertices(ids)
        by_frame = g.remove_vertices(spark.createDataFrame([(i,) for i in ids], "id long"))
        for got, want in ((by_list.vertices, by_frame.vertices), (by_list.edges, by_frame.edges)):
            assert "ExistingRDD" not in plan(got)
            assert rows(got) == rows(want)
        by_list = g.remove_edges(ids).edges
        by_frame = g.remove_edges(spark.createDataFrame([(i,) for i in ids], "edge_id long")).edges
        assert "ExistingRDD" not in plan(by_list)
        assert rows(by_list) == rows(by_frame)
    assert rows(g.remove_vertices([3, None, 7]).vertices) == [
        (i, "n") for i in range(10) if i not in (3, 7)
    ]
    # a long list stays one local relation (a literal array would plan
    # one expression per id)
    many = g.remove_vertices(list(range(5, 100_000)))
    assert "ExistingRDD" not in plan(many.edges)
    assert rows(many.vertices) == [(i, "n") for i in range(5)]
    assert rows(many.edges) == [(i, i, i + 1, "x") for i in range(4)]



def test_driver_side_lists_are_local_relations(spark, monkeypatch):
    # seeds, single result rows, injected values and the mix rates table
    # are driver-side lists too: none may become a Python-RDD relation
    # (unknown size, Python tasks on every action). Rows are the ones
    # the Python-list form gave.
    from titan_spark.compute.algorithms import bidirectional_distance, k_hop_subgraph
    from titan_spark.operators.traversal import inject_values
    from titan_spark.pipeline.sampling import mix_corpus

    cls = type(spark)
    create = cls.createDataFrame

    def no_lists(self, data, *args, **kwargs):
        assert not isinstance(data, (list, tuple)), "Python-list relation"
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(cls, "createDataFrame", no_lists)
    v = spark.range(10).select("id", F.lit("n").alias("label"))
    e = spark.range(9).select(
        F.col("id").alias("edge_id"),
        F.col("id").alias("src"),
        (F.col("id") + 1).alias("dst"),
        F.lit("x").alias("label"),
    )
    g = PropertyGraph(v, e)

    def plan(df):
        return df._jdf.queryExecution().toString()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    sub = k_hop_subgraph(g, [0], k=2)
    assert rows(sub.vertices) == [(0, "n"), (1, "n"), (2, "n")]
    assert rows(sub.edges) == [(0, 0, 1, "x"), (1, 1, 2, "x")]

    for (a, b, direction), want in (
        ((1, 6, "both"), 5),
        ((4, 4, "both"), 0),
        ((6, 1, "out"), None),
    ):
        got = bidirectional_distance(g, a, b, direction=direction)
        assert "ExistingRDD" not in plan(got)
        assert rows(got) == [(a, b, want)]

    names = spark.range(3).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("name")
    )
    got = inject_values(names, "zeus")
    assert "ExistingRDD" not in plan(got)
    assert rows(got) == [("v0",), ("v1",), ("v2",), ("zeus",)]

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5, "s_up").otherwise("s_down").alias("source"),
    )
    mixed = mix_corpus(docs, {"s_up": 3.0, "s_down": 1.0}, 200, F.lit(10))
    assert "ExistingRDD" not in plan(mixed)
    assert rows(mixed.select("doc_id", "epoch")) == [
        (i, ep) for i in range(5) for ep in range(3)
    ] + [(5, 0), (6, 0), (19, 0)]

def test_dml_multiplicity_rejected(spark, gods):
    # second father edge for hercules violates MANY2ONE
    bad = spark.createDataFrame(
        [(999, 6, 5, "father", None, None, None, None)],
        "edge_id long, src long, dst long, label string, time int, "
        "reason string, place_lat double, place_lon double",
    )
    with pytest.raises(ValueError, match="SchemaViolation"):
        gods.add_edges(bad, validate=True)


def test_ghost_edge_repair(spark):
    v = spark.createDataFrame([(1, "n"), (2, "n")], "id long, label string")
    e = spark.createDataFrame(
        [(1, 1, 2, "x"), (2, 1, 99, "x"), (3, 98, 2, "x")],
        "edge_id long, src long, dst long, label string",
    )
    g = PropertyGraph(v, e, schema=GraphSchema())
    assert {r["edge_id"] for r in g.ghost_edges().collect()} == {2, 3}
    assert g.repair_ghost_edges().E().count_value() == 1


def test_profile_metrics(gods):
    prof = gods.V().has("name", "hercules").out("battled").profile()
    assert prof["rows"] == 3
    assert prof["seconds"] > 0
    # gods is an in-memory fixture: no parquet scans, but the hop joins show
    assert "Join" in prof["plan"]


def test_stream_static_enrichment_matches_batch_join(spark, sf_dir, tmp_path):
    from titan_spark.sources.tpch import load_tables
    from titan_spark.streaming.windows import enrich_stream

    ev = read_events_stream(spark, sf_dir)
    # static dim: a derived user attribute table
    dim = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    out = enrich_stream(ev, dim, "user_id").select("event_id", "user_id", "user_events")
    run_to_memory_sink(out, "enriched", str(tmp_path / "ck_enr"), output_mode="append")
    got = spark.sql("SELECT * FROM enriched")
    batch = (
        load_tables(spark, sf_dir)["events"]
        .join(dim, "user_id")
        .select("event_id", "user_id", "user_events")
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_stream_stream_correlation_bounded_interval(spark, sf_dir, tmp_path):
    from titan_spark.sources.tpch import load_tables
    from titan_spark.streaming.windows import correlate_streams

    ev1 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    ev2 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    out = correlate_streams(ev1, ev2, key="user_id", within="10 minutes").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("r_ts").alias("view_ts"),
    )
    run_to_memory_sink(out, "corr", str(tmp_path / "ck_corr"), output_mode="append")
    got = spark.sql("SELECT * FROM corr")
    # batch oracle: same interval self-join over the static table
    e = load_tables(spark, sf_dir)["events"]
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("view_ts")
    )
    batch = c.join(
        v,
        (F.col("user_id") == F.col("u2"))
        & (F.col("click_ts") >= F.col("view_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 minutes")),
    )
    assert got.count() == batch.count()
    assert got.count() > 0
