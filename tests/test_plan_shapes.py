"""Plan-shape assertions — the reference's test model (SURVEY §5.2:
``evaluateQuery`` asserts result count AND isFitted/isOrdered plan
flags; TitanGraphTest.java:3227-3296). Here: assert scans prune,
filters push down, and hop joins broadcast."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def n_scans(plan: str) -> int:
    import re

    # formatted plans name each node once in the tree and once in the
    # detail section — count the detail headers only
    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def round_plans(monkeypatch, run) -> list[str]:
    """The plan of every round a loop driver cuts while ``run()`` runs.
    A loop's result is itself a cut, whose plan is one RDD scan, so a
    loop's plan shape is asserted on what its rounds cut."""
    import importlib

    # the package re-exports the function ``pregel``, which shadows the
    # submodule as an attribute of ``titan_spark.compute``
    pregel = importlib.import_module("titan_spark.compute.pregel")
    real, plans = pregel.counted_cut, []

    def recording(df, *args, **kwargs):
        plans.append(plan_of(df))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(pregel, "counted_cut", recording)
    run()
    return plans


def scanned_files(plan: str) -> set[str]:
    return {
        line.split("/")[-1].rstrip("]")
        for line in plan.splitlines()
        if "Location" in line and ".parquet" in line
    }


def test_label_filter_prunes_to_single_scan(tpch):
    p = plan_of(tpch.V().has_label("customer").has("mktsegment", "BUILDING").df)
    assert scanned_files(p) == {"customer.parquet"}
    assert n_scans(p) == 1


def test_predicate_pushdown_reaches_scan(tpch):
    p = plan_of(tpch.V().has_label("customer").has("mktsegment", "BUILDING").df)
    assert "PushedFilters" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_hop_scans_only_reachable_tables(tpch):
    # customer -placed-> order -contains-> part: never touches
    # supplier/nation/region vertex files — and the pristine-frontier
    # elision drops the customer scan too (the first hop is a direct
    # edge scan; the full customer set adds nothing to it)
    t = tpch.V().has_label("customer").out("placed").out("contains")
    files = scanned_files(plan_of(t.df))
    assert files == {"orders.parquet", "lineitem.parquet", "part.parquet"}


def test_edge_branch_pruning_by_frontier_label(tpch):
    # nations' in_region hop must not scan the customer/supplier
    # in_nation edge branches
    t = tpch.V().has_label("nation").out("in_region")
    files = scanned_files(plan_of(t.df))
    assert files == {"nation.parquet", "region.parquet"}


def test_hop_join_broadcasts_small_frontier(tpch):
    # point-lookup frontier joined to edges: AQE/static planning should
    # broadcast, never sort-merge
    t = tpch.V().has_label("customer").has("key", 1).out("placed")
    p = plan_of(t.df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topk_window_partitions_without_global_sort(tpch):
    t = tpch.V().has_label("order").outE("contains").local_top_k(2, "-extendedprice", "linenumber")
    p = plan_of(t.df)
    # per-group window: partial sort inside partitions, no global range
    # exchange (rangepartitioning only appears for global orderBy)
    assert "rangepartitioning" not in p.lower()
    assert "hashpartitioning(_origin" in p


def test_column_pruning_projection(tpch):
    # a 2-column projection must not read all lineitem columns
    df = tpch.E().has_label("contains").values("quantity", "extendedprice")
    p = plan_of(df)
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema, p
    line = read_schema[0]
    assert "l_quantity" in line and "l_extendedprice" in line
    assert "l_comment" not in line and "l_tax" not in line


@pytest.mark.parametrize("direction,expected", [("out", 1), ("in", 2)])
def test_count_plans_are_partial_aggregates(tpch, direction, expected):
    # degree aggregation: map-side partial agg before the shuffle
    deg = tpch.degrees(direction)
    p = plan_of(deg)
    assert p.count("HashAggregate") >= 2  # partial + final
    _ = expected


def test_pristine_elision_equivalence(tpch):
    # the elided plan (pristine label scan) and the join plan (same
    # semantics, pristine broken by a tautological property filter)
    # must return identical bags
    from titan_spark.functions.predicates import P

    elided = tpch.V().has_label("customer").out("placed")
    joined = tpch.V().has_label("customer").has("key", P.gte(0)).out("placed")
    a = sorted(r["id"] for r in elided.to_df("id").collect())
    b = sorted(r["id"] for r in joined.to_df("id").collect())
    assert a == b
    # and the elided plan really does skip the customer scan
    assert "customer.parquet" not in scanned_files(plan_of(elided.df))
    assert "customer.parquet" in scanned_files(plan_of(joined.df))


def test_vertex_step_fold_skips_intermediate_vertices(tpch):
    # customer -placed-> order -contains-> lineitem edges: the
    # intermediate order VERTEX table is never scanned (lazy endpoint
    # frontier feeds the next edge expansion directly); only the final
    # inV() materializes part vertices
    t = (
        tpch.V().has_label("customer").has("mktsegment", "BUILDING")
        .out("placed").outE("contains")
    )
    files = scanned_files(plan_of(t.df))
    assert files == {"customer.parquet", "orders.parquet", "lineitem.parquet"}
    # a full-label hop count compiles to ONE scan of the edge source:
    # the customer frontier is elided (pristine) and the order vertex
    # join is deferred (lazy) — counting a hop reads one table
    c = tpch.V().has_label("customer").out("placed").count()
    assert scanned_files(plan_of(c)) == {"orders.parquet"}


def test_range_offset_has_no_global_window_exchange(tpch):
    # RangeGlobalStep compiles to offset+limit (GlobalLimit over
    # per-partition partials), never a row_number over an unpartitioned
    # window — the single-partition Exchange would die at 100× the rows
    t = tpch.V().has_label("customer").order_by("-acctbal", "key").range_(10, 20)
    p = plan_of(t.df)
    assert "Window" not in p, p
    assert "GlobalLimit" in p or "TakeOrderedAndProject" in p, p
    rows = t.values("key").collect()
    assert len(rows) == 10


def test_raw_query_offset_has_no_global_window(gods):
    from titan_spark.operators.rawquery import raw_index_query

    df = raw_index_query(gods, "v.age:[30 TO 5000]", limit=2, offset=1)
    p = plan_of(df)
    assert "Window" not in p, p


def test_jaccard_pairs_has_no_cross_join(spark, sf_dir):
    # exact n-gram Jaccard must plan as a prefix-filtered equi-join on
    # the shingle key — the naive all-pairs cross product is O(n²)
    from titan_spark.plans.catalog import QUERIES

    p = plan_of(QUERIES["jaccard_dup_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embed_topk_pairs_has_no_cross_join(tables):
    # the catalog's embedding near-dup query must plan as an equi-join
    # on (table, bucket) — never a cartesian/nested-loop all-pairs
    from titan_spark.pipeline.similarity import lsh_topk_pairs

    p = plan_of(lsh_topk_pairs(tables["embeddings"], k=20))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_local_scoped_limit_uses_window_group_limit(tpch):
    """Generic local(order.limit) must push a per-partition partial
    top-k (WindowGroupLimit) below the exchange and never plan a
    global sort (RangePartitioning) — the shape that keeps a
    supernode origin from shipping its whole adjacency."""
    t = tpch.V().has_label("supplier").local_(
        lambda s: s.inE("supplied_by").order_by("-extendedprice").limit(3)
    )
    p = plan_of(t.df)
    assert "WindowGroupLimit" in p
    assert "rangepartitioning" not in p.lower()


def test_random_walk_step_joins_one_row_per_walk(spark, tpch, monkeypatch):
    """The walk step must join the frontier against the ONE-row-per-
    vertex neighbor-array table (no per-candidate expansion: zero
    Expand/Generate nodes, no cross join) — the fix for the measured
    79.9x superlinear candidate-enumeration design."""
    from titan_spark.compute import random_walks

    plans = round_plans(
        monkeypatch,
        lambda: random_walks(
            tpch, length=2, direction="both", edge_labels=("in_nation", "in_region")
        ),
    )
    assert len(plans) == 2
    for p in plans:
        assert "Join" in p and "element_at" in p, p
        assert "CartesianProduct" not in p and "Generate" not in p, p


def test_jl_projection_zero_shuffle_plan(spark):
    """JL random projection must compile to scan -> project with the
    sign matrix as plan literals: no Exchange (zero shuffle), no
    Python/Arrow eval node, no broadcast — the shape that makes the
    64->16 reduction a free pre-pass at any corpus size."""
    from titan_spark.pipeline.similarity import random_project

    df = spark.createDataFrame(
        [(i, [float(j) for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    p = plan_of(random_project(df, out_dim=4, in_dim=8))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Broadcast" not in p


def test_nb_classifier_broadcast_inference_plan(spark, sf_dir):
    """The classifier's scoring join must broadcast the bounded weight
    table (n_buckets rows) — map-side inference, no shuffle of the
    corpus-sized gram relation against the model, no cartesian, no
    per-row Python."""
    from titan_spark.plans.catalog import q_quality_classifier

    p = plan_of(q_quality_classifier(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_boilerplate_removal_no_cartesian(spark, sf_dir):
    """The winner election and threshold count key on the passage md5 —
    never a cross join, never per-row Python."""
    from titan_spark.plans.catalog import q_boilerplate_removal

    p = plan_of(q_boilerplate_removal(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_phash_dup_pairs_no_cross_join(spark, sf_dir):
    """Perceptual image dedup must plan as the banded equi-join on
    (band, key) — never a cartesian/nested-loop all-pairs over the
    signatures. (The Arrow decode kernel is the one intended Python
    stage; the JOIN itself must stay JVM-side.)"""
    from titan_spark.plans.catalog import q_phash_dup_pairs

    p = plan_of(q_phash_dup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_exact_substring_dedup_no_cartesian(spark, sf_dir):
    """ExactSubstr: duplicate count + winner election key on the
    window md5 (never window text), the interval union is one window
    function over the loser set — no cross join, no Python eval."""
    from titan_spark.plans.catalog import q_exact_substring_dedup

    p = plan_of(q_exact_substring_dedup(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_kmv_intersection_no_python_eval(spark, sf_dir):
    """KMV: distinct + window + hash-keyed joins only — no per-row
    Python anywhere; the only nested-loop join allowed is the
    intentional theta pair product (<= n_sets² rows of 2 ints)."""
    from titan_spark.plans.catalog import q_kmv_user_days

    p = plan_of(q_kmv_user_days(spark, sf_dir))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_node2vec_no_python_no_degree_explosion(spark, sf_dir, monkeypatch):
    """node2vec (rejection formulation): no Python eval nodes, no
    cartesian product, and the only explodes are the CONSTANT-width
    trial sequences (sequence(0, trials−1) — degree-independent); no
    neighbor-array explode (posexplode / explode over a collected
    list) may appear, and no collect_list/sort_array array build at
    all — the walk is row-based end to end."""
    import re

    from titan_spark.plans.catalog import q_node2vec_corpus

    plans = round_plans(monkeypatch, lambda: q_node2vec_corpus(spark, sf_dir))
    assert len(plans) == 3
    # steps after the first run the rejection trials
    assert all("explode(sequence(" in p for p in plans[1:])
    for p in plans:
        assert "Join" in p, p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
        assert "CartesianProduct" not in p
        # every explode must be the constant trial sequence, never an
        # array-column explode
        for m in re.findall(r"(\w*explode)\(([^)]*)", p):
            kind, arg = m
            assert kind == "explode" and arg.startswith("sequence("), m
        assert "sort_array" not in p and "collect_list" not in p


def test_url_dedup_single_shuffle_no_text(spark, sf_dir):
    """url_dedup: ONE exchange (the groupBy on the canonical string)
    and the text column never enters the plan — the scan reads only
    the columns the canonical key needs."""
    from titan_spark.plans.catalog import q_url_dedup_groups

    p = plan_of(q_url_dedup_groups(spark, sf_dir))
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert n_scans(p) == 1
    # column pruning: the documents scan must not read text
    assert "text" not in [
        c.strip()
        for line in p.splitlines()
        if "ReadSchema" in line
        for c in re.findall(r"struct<([^>]*)>", line)
        for c in c.split(",")
        for c in [c.split(":")[0]]
    ]


def test_kn_perplexity_no_cartesian_no_python(spark, sf_dir):
    """Kneser-Ney: every join is keyed (no CartesianProduct except the
    broadcast one-row total), no Python/Arrow eval in the plan — the
    trigram stream and all statistics stay JVM-side."""
    from titan_spark.plans.catalog import q_kn_perplexity

    p = plan_of(q_kn_perplexity(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ngram_novelty_hash_keyed_shuffles(spark, sf_dir):
    """ngram_novelty: the corpus-wide doc-frequency agg and the join
    back are keyed by the 64-bit gram HASH (_h), never by gram text —
    every exchange partitions on _h or on the doc id, and no Python
    eval appears."""
    import re

    from titan_spark.plans.catalog import q_ngram_novelty

    p = plan_of(q_ngram_novelty(spark, sf_dir))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "hashpartitioning(_h" in p
    # no exchange may carry a string gram key: every hashpartitioning
    # key is _h or doc_id
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", p):
        first = keys.split(",")[0].strip()
        assert first.startswith("_h") or first.startswith("doc_id"), keys
