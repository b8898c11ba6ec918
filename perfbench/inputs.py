"""Deterministic benchmark inputs: TPC-H-shaped graph tables plus a
near-duplicate text corpus and an ingest stream.

The corpus is fixed (one generator seed for every run); the run seed only
picks parameters, samples and relabelings on top of it, so a given size
always yields byte-identical parquet files. ``prepare`` writes them once
under ``perfbench/.inputs/<size>/`` and checks their SHA-256 against
``inputs.lock.json``: a changed input stops the run instead of being
measured.

Usage: python3 perfbench/inputs.py [--size bench|smoke] [--lock]
  ``--lock`` rewrites ``inputs.lock.json`` from the generated files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
LOCK = os.path.join(HERE, "inputs.lock.json")
CORPUS_SEED = 20141006

# graph scale factor (TPC-H row counts) and corpus sizes per input size
SIZES = {
    "bench": {"sf": 0.01, "docs": 5000, "ingest_docs": 4000},
    "smoke": {"sf": 0.002, "docs": 400, "ingest_docs": 400},
}

# The corpus follows the shape of the documents table the repository's
# TPC-H data sets ship (``documents.parquet`` at sf0.001, sf0.01 and
# sf0.1; measured with DuckDB, see README "Inputs"):
# - the 30 words below, drawn uniformly;
# - 10 to 99 tokens per document, uniformly (plus " dup" on a copy);
# - exactly 5% of documents are another (non-copy) document with " dup"
#   appended, which puts their 3-shingle Jaccard at 0.9 or more; two
#   copies of the same document are exact duplicates of each other.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
TOKENS = (10, 99)
COPY_FRAC = 0.05
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime(1992, 1, 1)
DAYS = 2400  # order dates span 1992-01-01 .. ~1998-07


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array([EPOCH + timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _graph_tables(rng: np.random.Generator, sf: float, out_dir: str) -> None:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(1, n_cust + 1)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(1, n_supp + 1)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(1, n_part + 1)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"part {VOCAB[k % len(VOCAB)]} {k}" for k in pk],
        "p_brand": [f"Brand#{i}{j}" for i, j in rng.integers(1, 6, (n_part, 2))],
        "p_type": [f"TYPE {VOCAB[i]}" for i in rng.integers(0, 10, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + pk / 10 % 1000 + 100 * rng.random(n_part), 2),
    })
    ok = np.arange(1, n_ord + 1)
    odays = rng.integers(0, DAYS, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(float)
    l_part = rng.integers(1, n_part + 1, n_li)
    price = np.round(qty * (900 + l_part / 10 % 1000) / 10, 2)
    ship = np.repeat(odays, n_lines) + rng.integers(1, 122, n_li)
    total = np.bincount(np.repeat(np.arange(n_ord), n_lines), weights=price, minlength=n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(1, n_supp + 1, n_li),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of the measured corpus shape (see ``VOCAB``): the
    copies sit at random positions and copy a random original, so a copy
    may come before its original."""
    vocab = np.array(VOCAB)
    lo, hi = TOKENS
    out = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))])
           for _ in range(n)]
    copies = rng.choice(n, int(n * COPY_FRAC), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for i, j in zip(copies, rng.choice(originals, len(copies))):
        out[i] = out[j] + " dup"
    return out


def _corpus(rng: np.random.Generator, size: dict, out_dir: str) -> None:
    n_docs = size["docs"]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": _texts(rng, n_docs),
    })
    # the ingest stream: more documents of the same shape, with ids above
    # the batch corpus
    _write(out_dir, "stream", {
        "doc_id": np.arange(n_docs, n_docs + size["ingest_docs"], dtype=np.int64),
        "text": _texts(rng, size["ingest_docs"]),
    })


def _checksums(out_dir: str) -> dict[str, str]:
    sums = {}
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(out_dir, name), "rb") as f:
                sums[name] = hashlib.sha256(f.read()).hexdigest()
    return sums


def generate(size_name: str, out_dir: str) -> None:
    size = SIZES[size_name]
    rng = np.random.default_rng(CORPUS_SEED)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _graph_tables(rng, size["sf"], tmp)
    _corpus(rng, size, tmp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def prepare(size_name: str, root: str) -> tuple[str, dict[str, str]]:
    """Generate the inputs for ``size_name`` under ``root`` unless present,
    then verify them against the lock file. Returns (dir, checksums)."""
    out_dir = os.path.join(root, size_name)
    if not os.path.isdir(out_dir):
        generate(size_name, out_dir)
    sums = _checksums(out_dir)
    with open(LOCK) as f:
        expected = json.load(f)[size_name]
    if sums != expected:
        bad = sorted(k for k in set(sums) | set(expected) if sums.get(k) != expected.get(k))
        raise RuntimeError(f"inputs under {out_dir} differ from inputs.lock.json: {bad}")
    return out_dir, sums


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", choices=sorted(SIZES), action="append")
    ap.add_argument("--root", default=os.path.join(HERE, ".inputs"))
    ap.add_argument("--lock", action="store_true")
    args = ap.parse_args()
    lock = {}
    for name in args.size or sorted(SIZES):
        out_dir = os.path.join(args.root, name)
        generate(name, out_dir)
        lock[name] = _checksums(out_dir)
        print(name, out_dir, lock[name])
    if args.lock:
        with open(LOCK, "w") as f:
            json.dump(lock, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
