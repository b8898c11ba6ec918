"""Per-layer metrics of a traced run, named after the engine's modules.

Every traced run reports the full list; a layer the workload does not
run reads 0 (it ran no jobs and took no time)."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from measure import latency_summary
from workloads import GRAPH_CALLS, TRAVERSE_KINDS

COMPUTE_CALLS = ("pagerank", "connected_components")
PIPELINE_STAGES = ("shingles", "prefix_filter_candidates", "jaccard_pairs")

MB = 1024.0 * 1024.0


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / MB


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    out = [("session.start_s", "s"), ("sources.load_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s")]
    for k in TRAVERSE_KINDS:
        out += [(f"operators.{k}.compile_s", "s"), (f"operators.{k}.plan_s", "s"),
                (f"operators.{k}.exec_s", "s"), (f"operators.{k}.jobs", "count"),
                (f"operators.{k}.rows_read_per_row", "ratio")]
    for a in COMPUTE_CALLS:
        out += [(f"compute.{a}.wall_s", "s"), (f"compute.{a}.jobs", "count"),
                (f"compute.{a}.driver_gap_s", "s"), (f"compute.{a}.executor_cpu_s", "s"),
                (f"compute.{a}.shuffle_write_mb", "MB"), (f"compute.{a}.spill_mb", "MB")]
    for s in PIPELINE_STAGES:
        out += [(f"pipeline.{s}.wall_s", "s"), (f"pipeline.{s}.jobs", "count"),
                (f"pipeline.{s}.executor_cpu_s", "s"), (f"pipeline.{s}.shuffle_write_mb", "MB")]
    out += [("pipeline.jaccard_pairs.yield", "ratio"), ("pipeline.spill_mb", "MB")]
    out += [("streaming.process_batch.wall_s", "s"), ("streaming.process_batch.jobs", "count"),
            ("streaming.process_batch.shuffle_write_mb", "MB"),
            ("streaming.store_mb_per_input_mb", "ratio")]
    out += [(f"graph.{c}.wall_s", "s") for c in GRAPH_CALLS]
    out += [("graph.add_edges.jobs", "count"), ("graph.write.jobs", "count"),
            ("graph.store_mb_per_input_mb", "ratio")]
    out += [("host.steal_s", "s"), ("trace.overhead", "ratio")]
    return out


def per_layer(records, delta, tracer, session_s, load_s, in_dir):
    """Returns ({name: (value, unit)}, details) for one traced phase."""
    units = dict(names())
    m = {name: 0.0 for name in units}
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    m["session.start_s"] = session_s
    m["sources.load_s"] = load_s
    m["op_p50_s"], m["op_tail_s"], _ = latency_summary(
        [r["latency_s"] for r in records if r["op"].light])

    per_kind = defaultdict(list)
    for rec, span in zip((r for r in records if r["op"].name.startswith("operators.")),
                         (s for s in tracer.spans if s.name.startswith("operators."))):
        per_kind[rec["op"].name.split(".")[1]].append((rec["op"].info, span))
    for k, items in per_kind.items():
        p = f"operators.{k}"
        m[f"{p}.compile_s"] = _med(i.get("compile_s", 0.0) for i, _ in items)
        m[f"{p}.plan_s"] = _med(i.get("plan_s", 0.0) for i, _ in items)
        m[f"{p}.exec_s"] = _med(i.get("exec_s", 0.0) for i, _ in items)
        m[f"{p}.jobs"] = _med(s.jobs for _, s in items)
        m[f"{p}.rows_read_per_row"] = _med(s.input_records / max(1, i.get("rows", 0)) for i, s in items)

    for a in COMPUTE_CALLS:
        for s in by_name.get(f"compute.{a}", ()):
            p = f"compute.{a}"
            m[f"{p}.wall_s"] += s.end - s.start
            m[f"{p}.jobs"] += s.jobs
            m[f"{p}.driver_gap_s"] += s.driver_gap_s
            m[f"{p}.executor_cpu_s"] += s.executor_cpu_s
            m[f"{p}.shuffle_write_mb"] += s.shuffle_write_mb
            m[f"{p}.spill_mb"] += s.spill_mb

    for st in PIPELINE_STAGES:
        for s in by_name.get(f"pipeline.{st}", ()):
            p = f"pipeline.{st}"
            m[f"{p}.wall_s"] += s.end - s.start
            m[f"{p}.jobs"] += s.jobs
            m[f"{p}.executor_cpu_s"] += s.executor_cpu_s
            m[f"{p}.shuffle_write_mb"] += s.shuffle_write_mb
            m["pipeline.spill_mb"] += s.spill_mb
    info = {r["op"].name: r for r in records}
    if "pipeline.jaccard_pairs" in info:
        pairs = info["pipeline.jaccard_pairs"]["result"] or []
        cand = info["pipeline.prefix_filter_candidates"]["result"] or 0
        m["pipeline.jaccard_pairs.yield"] = len(pairs) / max(1, cand)

    batches = by_name.get("streaming.process_batch", [])
    if batches:
        m["streaming.process_batch.wall_s"] = _med(s.end - s.start for s in batches)
        m["streaming.process_batch.jobs"] = _med(s.jobs for s in batches)
        m["streaming.process_batch.shuffle_write_mb"] = _med(s.shuffle_write_mb for s in batches)
        ing = info["streaming.process_batch"]["op"].info
        m["streaming.store_mb_per_input_mb"] = _dir_mb(ing["store_dir"]) / ing["input_mb"]

    for c in GRAPH_CALLS:
        m[f"graph.{c}.wall_s"] = _med(s.end - s.start for s in by_name.get(f"graph.{c}", ()))
    m["graph.add_edges.jobs"] = _med(s.jobs for s in by_name.get("graph.add_edges", ()))
    m["graph.write.jobs"] = _med(s.jobs for s in by_name.get("graph.write", ()))
    if "graph.dml" in info:
        graph_in = sum(
            os.path.getsize(os.path.join(in_dir, f"{t}.parquet"))
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
        store = info["graph.dml"]["op"].info["path"]
        m["graph.store_mb_per_input_mb"] = _dir_mb(store) / (graph_in / MB)

    m["host.steal_s"] = delta["steal_s"]
    m["trace.overhead"] = tracer.self_s / (delta["wall_s"] - tracer.self_s)
    covered = sum(s.end - s.start for s in tracer.spans)
    details = {"trace.uncovered_s": delta["wall_s"] - covered - tracer.self_s,
               "trace.spans": len(tracer.spans), "trace.self_s": tracer.self_s}
    return {k: (v, units[k]) for k, v in m.items()}, details
