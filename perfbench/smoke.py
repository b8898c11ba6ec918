"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload on the small ``smoke`` inputs (the same ops as the
benchmark, on less data), once untraced and twice traced with the same
seed. Asserts that:

- every metric named in ``BENCHMARK.json`` is emitted with its unit;
- no op fails and every output check passes;
- the same seed gives the same op sequence and identical per-call Spark
  job counts.

Checks every workload and then exits non-zero if any assertion failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SECONDS = 15


def run(workload: str, trace: int) -> tuple[dict, dict, list[tuple[str, int]]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace),
           "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
    result, details = json.loads(lines[-1]), json.loads(lines[-2])["details"]
    spans = []
    if trace:
        with open(os.path.join(HERE, ".work", "spans.jsonl")) as f:
            spans = [(s["name"], s["jobs"]) for s in map(json.loads, f)]
    return result, details, spans


FAILURES: list[str] = []


def check(cond: bool, msg: str) -> bool:
    if not cond:
        FAILURES.append(msg)
        print(f"FAIL: {msg}", flush=True)
    return cond


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in [w["name"] for w in bench["workloads"]]:
        runs = {}
        for trace, key in ((0, "plain"), (1, "traced"), (1, "traced_again")):
            runs[key] = run(wl, trace)
            result, details, _ = runs[key]
            check(result["correct"] and result["failed"] == 0,
                  f"{wl} {key}: failed ops {details['errors']}")
            check(result["attempted"] >= 1, f"{wl} {key}: no ops attempted")
            wanted = bench["per_layer"] if trace else bench["end_to_end"]
            for m in wanted:
                got = result["metrics"].get(m["name"])
                check(got is not None, f"{wl} {key}: metric {m['name']} missing")
                check(got["unit"] == m["unit"], f"{wl} {key}: {m['name']} unit {got['unit']}")
                check(isinstance(got["value"], (int, float)), f"{wl} {key}: {m['name']} not a number")
        ops = [[op for op, _ in runs[k][1]["ops"]] for k in runs]
        check(ops[0] == ops[1] == ops[2], f"{wl}: op sequence differs between same-seed runs")
        a, b = runs["traced"][2], runs["traced_again"][2]
        check(a == b, f"{wl}: per-call job counts differ: {[(x, y) for x, y in zip(a, b) if x != y]}")
        print(f"{wl}: {len(ops[0])} ops, {len(a)} spans, {sum(j for _, j in a)} jobs", flush=True)
    if FAILURES:
        raise SystemExit(f"{len(FAILURES)} smoke check(s) failed")
    print("ok")


if __name__ == "__main__":
    main()
