"""The benchmark's two workloads, built from the seeded inputs.

A workload is a list of ``Op`` objects in a seeded order. Each op calls
``titan_spark`` only through its public functions, materializes its
result into Python inside the timed region, and is checked afterwards
(outside the timed region) against an answer the engine did not compute:
DuckDB over the same parquet, or a direct Python recomputation.

- ``graph``: short traversals on the TPC-H graph, pagerank and connected
  components, and one DML cycle with a store write and readback.
  Overhead-bound: Spark's per-job cost and the drivers of the iterative
  loops dominate.
- ``curate``: the batch near-dup pipeline on a seeded 90% document sample,
  then micro-batches through ``IncrementalDedup``, which append to and
  probe the persistent signature store.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from itertools import combinations
from typing import Any, Callable

import duckdb
import numpy as np

from pyspark.sql import functions as F

from titan_spark import P, PropertyGraph
from titan_spark.compute import algorithms as A
from titan_spark.compute.checkpointing import cut_lineage
from titan_spark.pipeline.dedup import jaccard_pairs, prefix_filter_candidates, shingles
from titan_spark.sources import load_tpch_graph
from titan_spark.sources.tpch import EOFF, OFF
from titan_spark.streaming.ingest import IncrementalDedup

# how much work one run does, per input size; the two sizes differ only
# in how much data each op sees. The number of light ops (traversal
# rounds, ingest micro-batches) comes from ``--seconds``.
PLAN = {
    "bench": {"pagerank_iters": 2, "docs": 5000, "jaccard_t": 0.5,
              "batch_docs": 200, "dml_new": 200, "dml_removed": 50},
    "smoke": {"pagerank_iters": 2, "docs": 400, "jaccard_t": 0.5,
              "batch_docs": 50, "dml_new": 20, "dml_removed": 5},
}


def light_rounds(seconds: int, seconds_per_round: int) -> int:
    """Rounds of light ops a run makes for ``--seconds``."""
    return max(1, seconds // seconds_per_round)


TRAVERSE_KINDS = ("lookup", "batch_lookup", "hop1", "hop2_agg", "hop3", "scan_topn", "local_topk")
GRAPH_CALLS = ("add_vertices", "add_edges", "remove_vertices", "write", "readback")
_TOKEN = re.compile(r"[^a-z0-9]+")


@dataclass
class Op:
    """One timed public call (or short chain of calls) and its check.

    ``run(call)`` executes the op; ``call(name, fn, *args)`` wraps each
    public call so the tracer can put a span around it. ``check(result)``
    returns an error string, or None when the result is right.
    ``light`` ops are the many-and-alike ones whose latency distribution
    is reported (traversals, ingest micro-batches)."""

    name: str
    light: bool
    run: Callable[[Callable], Any]
    check: Callable[[Any], str | None]
    info: dict = field(default_factory=dict)


def _tokens(text: str) -> list[str]:
    return [t for t in _TOKEN.split(text.lower()) if t]


def _shingle_set(text: str, n: int = 3) -> set[str]:
    toks = _tokens(text)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _min_label_components(ids, edges) -> dict[int, int]:
    """Union-find: vertex -> min vertex id of its (undirected) component."""
    parent = {v: v for v in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in ids}


def _diff(name: str, got, want) -> str | None:
    if got == want:
        return None
    return f"{name}: got {str(got)[:160]} want {str(want)[:160]}"


class Inputs:
    """Seed-independent handles on the generated inputs: parquet paths, a
    DuckDB connection over them, and plain-Python copies the checks use."""

    def __init__(self, in_dir: str):
        self.dir = in_dir
        self.db = duckdb.connect()
        for name in os.listdir(in_dir):
            if name.endswith(".parquet"):
                table = name[: -len(".parquet")]
                self.db.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{in_dir}/{name}')"
                )
        self.n_cust = self.scalar("SELECT count(*) FROM customer")
        self.n_ord = self.scalar("SELECT count(*) FROM orders")

    def scalar(self, sql: str):
        return self.db.execute(sql).fetchone()[0]

    def rows(self, sql: str) -> list[tuple]:
        return self.db.execute(sql).fetchall()

    def path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def graph_edges(self) -> list[tuple[int, int]]:
        """The TPC-H graph's (src, dst) list, mapped with the engine's
        public id offsets (sources/tpch.py) but computed by DuckDB."""
        o = OFF
        return self.rows(f"""
            SELECT {o['customer']} + o_custkey, {o['order']} + o_orderkey FROM orders
            UNION ALL SELECT {o['order']} + l_orderkey, {o['part']} + l_partkey FROM lineitem
            UNION ALL SELECT {o['part']} + l_partkey, {o['supplier']} + l_suppkey FROM lineitem
            UNION ALL SELECT {o['customer']} + c_custkey, {o['nation']} + c_nationkey FROM customer
            UNION ALL SELECT {o['supplier']} + s_suppkey, {o['nation']} + s_nationkey FROM supplier
            UNION ALL SELECT {o['nation']} + n_nationkey, {o['region']} + n_regionkey FROM nation
        """)

    def graph_vertices(self) -> list[int]:
        o = OFF
        return [r[0] for r in self.rows(f"""
            SELECT {o['customer']} + c_custkey FROM customer
            UNION ALL SELECT {o['supplier']} + s_suppkey FROM supplier
            UNION ALL SELECT {o['part']} + p_partkey FROM part
            UNION ALL SELECT {o['order']} + o_orderkey FROM orders
            UNION ALL SELECT {o['nation']} + n_nationkey FROM nation
            UNION ALL SELECT {o['region']} + r_regionkey FROM region
        """)]


# ---------------------------------------------------------------- traverse


def _collect(call, name: str, build: Callable, timings: dict):
    """Traversal op phases: build the traversal (compile), force the
    physical plan (plan), run the action (exec)."""

    def run():
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t3 = time.perf_counter()
        timings.update(compile_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, rows=len(rows))
        return rows

    return call(name, run)


def traverse_op(kind: str, g: PropertyGraph, inp: Inputs, rng: random.Random) -> Op:
    """One seeded traversal of ``kind`` and its DuckDB twin."""
    timings: dict = {}
    oo = OFF["order"]
    if kind == "lookup":
        k = rng.randint(1, inp.n_cust)
        build = lambda: g.V().has_label("customer").has("key", k).values("name", "acctbal")  # noqa: E731
        sql = f"SELECT c_name, c_acctbal FROM customer WHERE c_custkey = {k}"
    elif kind == "batch_lookup":
        keys = sorted(rng.sample(range(1, inp.n_cust + 1), min(200, inp.n_cust)))
        build = lambda: (  # noqa: E731
            g.V().has_label("customer").has("key", P.within(keys)).values("key", "name", "acctbal")
        )
        sql = f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey IN ({','.join(map(str, keys))})"
    elif kind == "hop1":
        keys = sorted(rng.sample(range(1, inp.n_cust + 1), 20))
        lo = rng.choice((20_000.0, 50_000.0, 80_000.0))
        build = lambda: (  # noqa: E731
            g.V().has_label("customer").has("key", P.within(keys)).out("placed")
            .has("totalprice", P.between(lo, lo + 150_000.0)).values("key")
        )
        sql = (f"SELECT o_orderkey FROM orders WHERE o_custkey IN ({','.join(map(str, keys))})"
               f" AND o_totalprice >= {lo} AND o_totalprice < {lo + 150_000.0}")
    elif kind == "hop2_agg":
        seg = rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        y = rng.randint(1993, 1997)
        build = lambda: (  # noqa: E731
            g.V().has_label("customer").has("mktsegment", seg).out("placed").outE("contains")
            .has("shipdate", P.between(f"{y}-01-01", f"{y + 1}-01-01"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("extendedprice") * (1 - F.col("discount"))), 2).alias("rev"),
                group_by=["returnflag"],
            )
        )
        sql = f"""SELECT l_returnflag, count(*), round(sum(l_extendedprice * (1 - l_discount)), 2)
            FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = '{seg}' AND l_shipdate >= TIMESTAMP '{y}-01-01'
              AND l_shipdate < TIMESTAMP '{y + 1}-01-01' GROUP BY 1"""
    elif kind == "hop3":
        lo = rng.choice((-500.0, 1000.0, 2500.0, 4000.0))
        build = lambda: (  # noqa: E731
            g.V().has_label("customer").has("acctbal", P.between(lo, lo + 5000.0))
            .out("in_nation").out("in_region").group_count("name")
        )
        sql = f"""SELECT r_name, count(*) FROM customer JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE c_acctbal >= {lo} AND c_acctbal < {lo + 5000.0} GROUP BY 1"""
    elif kind == "scan_topn":
        x = rng.choice((50_000.0, 100_000.0, 150_000.0))
        build = lambda: (  # noqa: E731
            g.V().has_label("order").has("totalprice", P.gt(x))
            .order_by("-totalprice", "key").limit(10).values("key", "totalprice")
        )
        sql = (f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > {x}"
               " ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")
    elif kind == "local_topk":
        a = rng.randint(1, max(1, inp.n_ord - 300))
        build = lambda: (  # noqa: E731
            g.V().has_label("order").has("key", P.between(a, a + 300)).outE("contains")
            .local_top_k(2, "-extendedprice", "linenumber").to_df("_origin", "linenumber")
        )
        sql = f"""SELECT {oo} + l_orderkey, l_linenumber FROM (
            SELECT *, row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
            FROM lineitem WHERE l_orderkey >= {a} AND l_orderkey < {a + 300}) WHERE rn <= 2"""
    else:
        raise ValueError(kind)
    ordered = kind == "scan_topn"

    def check(rows):
        want = [tuple(r) for r in inp.rows(sql)]
        got = rows if ordered else sorted(rows)
        want = want if ordered else sorted(want)
        if kind == "hop2_agg":  # sums may differ in the last cent by summation order
            got_k = {r[0]: (r[1], r[2]) for r in got}
            want_k = {r[0]: (r[1], r[2]) for r in want}
            ok = got_k.keys() == want_k.keys() and all(
                got_k[k][0] == want_k[k][0] and abs(got_k[k][1] - want_k[k][1]) <= 0.02
                for k in got_k
            )
            return None if ok else _diff(kind, got, want)
        return _diff(kind, got, want)

    return Op(f"operators.{kind}", True, lambda call: _collect(call, f"operators.{kind}", build, timings),
              check, timings)


# ----------------------------------------------------------------- compute


def _collect_df(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def compute_ops(g: PropertyGraph, inp: Inputs, plan: dict) -> list[Op]:
    """``pagerank`` and ``connected_components`` on the whole graph."""
    edges = inp.graph_edges()
    verts = inp.graph_vertices()
    # pagerank is checked against a numpy replay of the same update rule
    # (dangling mass is dropped, as in the engine)
    iters = plan["pagerank_iters"]

    def pr_check(rows):
        idx = {v: i for i, v in enumerate(verts)}
        src = np.array([idx[s] for s, _ in edges])
        dst = np.array([idx[d] for _, d in edges])
        n = len(verts)
        outdeg = np.bincount(src, minlength=n).astype(float)
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            r = 0.15 / n + 0.85 * np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        got = dict(rows)
        if len(got) != n:
            return f"pagerank: {len(got)} rows, want {n}"
        err = max(abs(got[v] - r[i]) for v, i in idx.items())
        return None if err <= 1e-9 else f"pagerank: max abs error {err}"

    def cc_check(rows):
        return _diff("connected_components", dict(rows), _min_label_components(verts, edges))

    return [
        Op("compute.pagerank", False, lambda call: call(
            "compute.pagerank", lambda: _collect_df(A.pagerank(g, iterations=iters))), pr_check),
        Op("compute.connected_components", False, lambda call: call(
            "compute.connected_components", lambda: _collect_df(A.connected_components(g))),
           cc_check),
    ]


def dml_op(spark, g: PropertyGraph, inp: Inputs, plan: dict, rng: random.Random,
           path: str) -> Op:
    """One graph DML cycle on ``g``: add customers and their edges (with
    schema validation), remove seeded customers, write the store, read it
    back and traverse it. Checked against DuckDB counts of the store."""
    n_new, n_rm = plan["dml_new"], plan["dml_removed"]
    base = inp.n_cust + 1 + rng.randrange(0, 10_000) * n_new
    new_keys = list(range(base, base + n_new))
    new_nat = [rng.randrange(25) for _ in new_keys]
    new_orders = [rng.randint(1, inp.n_ord) for _ in new_keys]
    removed = sorted(rng.sample(range(1, inp.n_cust + 1), n_rm))
    info = {"path": path}

    def run(call):
        nv = spark.createDataFrame(
            [(OFF["customer"] + k, "customer", k, f"Customer#{k:09d}") for k in new_keys],
            "id long, label string, key long, name string")
        ne = spark.createDataFrame(
            [(EOFF["cust_nation"] + k, OFF["customer"] + k, OFF["nation"] + n, "in_nation",
              "customer", "nation") for k, n in zip(new_keys, new_nat)]
            + [(EOFF["placed"] + 10**9 + k, OFF["customer"] + k, OFF["order"] + o, "placed",
                "customer", "order") for k, o in zip(new_keys, new_orders)],
            "edge_id long, src long, dst long, label string, src_label string, dst_label string")
        g1 = call("graph.add_vertices", g.add_vertices, nv)
        g2 = call("graph.add_edges", g1.add_edges, ne, validate=True)
        g3 = call("graph.remove_vertices", g2.remove_vertices,
                  [OFF["customer"] + k for k in removed])
        call("graph.write", g3.write, path)

        def readback():
            g4 = PropertyGraph.read(spark, path)
            per_nation = g4.V().has_label("customer").out("in_nation").group_count("name")
            return sorted(tuple(r) for r in per_nation.collect())

        return call("graph.readback", readback)

    def check(res):
        rm = ",".join(map(str, removed))
        n_v = len(inp.graph_vertices())
        n_e = len(inp.graph_edges())
        lost = inp.scalar(f"SELECT count(*) FROM orders WHERE o_custkey IN ({rm})") + n_rm
        want_v, want_e = n_v + n_new - n_rm, n_e + 2 * n_new - lost
        nat = defaultdict(int)
        for name, cnt in inp.rows(f"SELECT n_name, count(*) FROM customer JOIN nation ON"
                                  f" n_nationkey = c_nationkey WHERE c_custkey NOT IN ({rm}) GROUP BY 1"):
            nat[name] += cnt
        names = dict(inp.rows("SELECT n_nationkey, n_name FROM nation"))
        for n in new_nat:
            nat[names[n]] += 1
        # the store's row counts, read back by DuckDB
        got_v = inp.scalar(f"SELECT count(*) FROM read_parquet('{path}/vertices/*.parquet')")
        got_e = inp.scalar(f"SELECT count(*) FROM read_parquet('{path}/edges/*.parquet')")
        return _diff("graph readback", (got_v, got_e, res), (want_v, want_e, sorted(nat.items())))

    return Op("graph.dml", False, run, check, info)


class GraphWorkload:
    """Workload ``graph``: the traversal mix, the loop calls, then one
    graph DML cycle with a store write and readback."""

    name = "graph"

    def __init__(self, spark, inp: Inputs, plan: dict):
        self.spark, self.inp, self.plan = spark, inp, plan

    def setup(self):
        """Load the graph."""
        self.g = load_tpch_graph(self.spark, self.inp.dir)
        self.g.V().count_value()

    def ops(self, seed: int, work_dir: str, seconds: int) -> list[Op]:
        rng = random.Random(seed)
        out = []
        # one round of the 7 kinds per 15 nominal seconds
        for _ in range(light_rounds(seconds, 15)):
            kinds = list(TRAVERSE_KINDS)
            rng.shuffle(kinds)
            out += [traverse_op(k, self.g, self.inp, rng) for k in kinds]
        out += compute_ops(self.g, self.inp, self.plan)
        return out + [dml_op(self.spark, self.g, self.inp, self.plan, rng,
                             os.path.join(work_dir, "graph-store"))]


# ----------------------------------------------------------------- curate

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_MINHASH_PRIME = 2_147_483_647  # the engine's minhash modulus (pipeline/dedup.py)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it (seed 42, little-endian
    lanes), returned as a signed 64-bit value like the SQL function."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _xxh64_round(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _xxh64_round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _band_keys(text: str, bands: int = 8, num_hashes: int = 32) -> set[tuple[int, int]]:
    """The (band, band_hash) keys ``IncrementalDedup`` files a document
    under with its default settings: xxhash64 minhash over 3-shingles,
    then one xxhash64 per band of ``num_hashes // bands`` values."""
    sig = [_MINHASH_PRIME] * num_hashes
    for sh in _shingle_set(text):
        h = _xxh64(sh.encode()) % _MINHASH_PRIME
        for i in range(num_hashes):
            sig[i] = min(sig[i], (h * (2 * i + 1) + 7919 * (i + 1)) % _MINHASH_PRIME)
    rows = num_hashes // bands
    return {(b, _xxh64(",".join(map(str, sig[b * rows : (b + 1) * rows])).encode()))
            for b in range(bands)}


def _replay_ingest(texts: dict[int, str], batches: list[list[int]]) -> list[list[int]]:
    """Survivors of each micro-batch, replayed in Python from the rules
    ``IncrementalDedup.process_batch`` states: a document that shares a
    band key with the store (survivors of earlier batches) is dropped;
    of the rest, a document sharing a band key with a lower-id one of the
    same batch is dropped; the survivors' keys join the store."""
    store: set[tuple[int, int]] = set()
    out = []
    for ids in batches:
        keys = {d: _band_keys(texts[d]) for d in ids}
        fresh = [d for d in ids if not keys[d] & store]
        first: dict[tuple[int, int], int] = {}
        for d in sorted(fresh):
            for k in keys[d]:
                first.setdefault(k, d)
        kept = [d for d in sorted(fresh) if all(first[k] == d for k in keys[d])]
        for d in kept:
            store |= keys[d]
        out.append(kept)
    return out


def _similar_pairs(sets: dict[int, set], t: float) -> dict[tuple[int, int], float]:
    """Every pair (a < b) with Jaccard >= ``t``, by an inverted index over
    the shingles."""
    postings = defaultdict(list)
    for i in sorted(sets):
        for sh in sets[i]:
            postings[sh].append(i)
    shared = Counter(pair for ids in postings.values() for pair in combinations(ids, 2))
    out = {}
    for (a, b), c in shared.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= t:
            out[(a, b)] = j
    return out


class CurateWorkload:
    """Workload ``curate``: the batch near-dup pipeline, then ingest
    micro-batches through the persistent signature store."""

    name = "curate"

    def __init__(self, spark, inp: Inputs, plan: dict):
        self.spark, self.inp, self.plan = spark, inp, plan
        self.docs_py = dict(inp.rows("SELECT doc_id, text FROM documents"))
        self.stream_py = dict(inp.rows("SELECT doc_id, text FROM stream"))

    def setup(self):
        """Open the corpus and the stream."""
        sp = self.spark
        self.docs = sp.read.parquet(self.inp.path("documents")).select("doc_id", "text")
        self.stream = sp.read.parquet(self.inp.path("stream"))
        self.docs.count(), self.stream.count()

    def ops(self, seed: int, work_dir: str, seconds: int) -> list[Op]:
        rng = random.Random(seed)
        # one micro-batch per 15 nominal seconds, at least two so the
        # second probes a store the first appended to
        batches = max(2, light_rounds(seconds, 15))
        return self._curate_ops(rng) + self._ingest_ops(rng, work_dir, batches)

    # -- curate ---------------------------------------------------------
    def _curate_ops(self, rng: random.Random) -> list[Op]:
        """shingles -> prefix_filter_candidates -> jaccard_pairs. The
        expected answer is every pair with Jaccard >= t, found in Python;
        the candidates must include all of them (recall 1.0)."""
        t = self.plan["jaccard_t"]
        ids = sorted(self.docs_py)[: self.plan["docs"]]
        keep = sorted(rng.sample(ids, int(0.9 * len(ids))))
        docs = self.docs.filter(F.col("doc_id").isin(keep))
        want: dict = {}
        state: dict = {}

        def expected() -> dict[tuple[int, int], float]:
            if not want:
                want.update(_similar_pairs({i: _shingle_set(self.docs_py[i]) for i in keep}, t))
            return want

        def s_shingles(call):
            state["sh"] = call("pipeline.shingles", lambda: cut_lineage(
                docs.select(F.col("doc_id").alias("_id"), shingles(F.col("text"), 3).alias("_sh"))
                .withColumn("_sz", F.size("_sh")), eager=True))
            return state["sh"].count()

        def s_prefix(call):
            state["cand"] = call("pipeline.prefix_filter_candidates", lambda: cut_lineage(
                prefix_filter_candidates(docs, threshold=t, shingle_df=state["sh"]), eager=True))
            return state["cand"].count()

        def s_jaccard(call):
            state["pairs"] = call("pipeline.jaccard_pairs", lambda: cut_lineage(
                jaccard_pairs(docs, state["cand"], shingle_df=state["sh"])
                .filter(F.col("jaccard") >= t), eager=True))
            return _collect_df(state["pairs"].select("id_a", "id_b", "jaccard"))

        def prefix_check(n):
            cand = {(min(a, b), max(a, b)) for a, b in _collect_df(state["cand"])}
            missed = sorted(set(expected()) - cand)
            if missed or len(cand) != n:
                return f"prefix_filter_candidates: {n} rows, missed true pairs {missed[:5]}"
            return None

        def jaccard_check(rows):
            got = {(min(a, b), max(a, b)): j for a, b, j in rows}
            want = expected()
            if len(got) != len(rows) or got.keys() != want.keys():
                return _diff("jaccard_pairs", sorted(got), sorted(want))
            bad = [p for p in got if abs(got[p] - want[p]) > 1e-9]
            return f"jaccard_pairs: wrong score for {bad[:5]}" if bad else None

        return [
            Op("pipeline.shingles", False, s_shingles, lambda n: _diff("shingles", n, len(keep))),
            Op("pipeline.prefix_filter_candidates", False, s_prefix, prefix_check),
            Op("pipeline.jaccard_pairs", False, s_jaccard, jaccard_check),
        ]

    # -- ingest ---------------------------------------------------------
    def _ingest_ops(self, rng: random.Random, work_dir: str, n_batches: int) -> list[Op]:
        """Consecutive micro-batches of the stream from a seeded start,
        checked against a Python replay of the store's rules."""
        size = self.plan["batch_docs"]
        store = os.path.join(work_dir, "signature-store")
        shutil.rmtree(store, ignore_errors=True)
        ing = IncrementalDedup(self.spark, store)
        ids = sorted(self.stream_py)
        start = rng.randrange(0, len(ids) - n_batches * size + 1)
        batches = [ids[start + i * size : start + (i + 1) * size] for i in range(n_batches)]
        want: list = []
        ingest_info = {"store_dir": store, "input_mb": sum(
            len(self.stream_py[i]) + 8 for b in batches for i in b) / 2**20}

        def batch_op(b: int, batch_ids: list[int]) -> Op:
            lo, hi = batch_ids[0], batch_ids[-1]

            def run(call):
                df = self.stream.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
                return call("streaming.process_batch",
                            lambda: sorted(r[0] for r in ing.process_batch(df, b).select("doc_id").collect()))

            def check(survivors):
                if not want:
                    want.extend(_replay_ingest(self.stream_py, batches))
                return _diff(f"process_batch {b}", survivors, want[b])

            return Op("streaming.process_batch", True, run, check, ingest_info)

        return [batch_op(b, ids_b) for b, ids_b in enumerate(batches)]


WORKLOADS = {w.name: w for w in (GraphWorkload, CurateWorkload)}
