"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: one scan, a dot
product in built-in array algebra, and a global top-k (Spark's
TakeOrdered — no full sort). The LSH-bucketed variant is the scale
path: random-hyperplane signatures (deterministic seeds) so only
same-bucket vectors are compared.

Scored dot products (cosine values that appear in results) are
computed in float64 with strict left-to-right accumulation
(F.aggregate), which makes them bit-reproducible and
oracle-comparable. Hyperplane bucketing dots — where only the sign is
consumed — go through an Arrow-batched numpy matmul instead (see
``plane_dots``), trading ulp-level reproducibility nobody reads for a
~20× throughput win on the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from titan_spark.compute.checkpointing import cut_lineage
from titan_spark.pipeline.dedup import verify_broadcast_fits
from titan_spark.session import local_relation

try:  # optional fast path for plane_dots; the JVM fold needs neither
    import numpy as np
    import pandas as pd
except ImportError:  # pragma: no cover - both are baked into the env
    np = None
    pd = None


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a, b):
    """Fused single-fold cosine: one pass accumulating (a·b, a·a, b·b)
    lanes; each lane sums strictly left-to-right, bit-identical to
    ``_dot``/``_norm`` but walking the arrays once instead of three
    times (HOF folds are interpreted per-row — the pass count is the
    cost)."""
    s = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.array(
                x.cast("double") * y.cast("double"),
                x.cast("double") * x.cast("double"),
                y.cast("double") * y.cast("double"),
            ),
        ),
        F.array_repeat(F.lit(0.0), 3),
        lambda acc, e: F.zip_with(acc, e, lambda p, q: p + q),
    )
    return s[0] / (F.sqrt(s[1]) * F.sqrt(s[2]))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.

    Ordering ties break on id for determinism. Similarity is rounded so
    independently-computed oracles agree.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def cosine_topk_pairs(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs exact top-k neighbors per vector (small-N baseline).

    O(n²) — only for validation corpora; at scale use
    :func:`lsh_bucketed_topk`.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("cosine")
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def embedding_topk_pairs(
    df: DataFrame,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "fold",
) -> DataFrame:
    """Globally most-similar vector pairs (embedding-cosine near-dup
    detection): exact all-pairs scoring, global top-k under a total
    order. Validation-scale; the LSH/IVF paths below are the 100-TB
    route.

    ``kernel="fold"`` (default) scores pairs with JVM column folds —
    bit-identical to the SQL oracle, the verification path.
    ``kernel="arrow"`` broadcasts the normalized matrix and scores
    each partition's block against it with one numpy matmul
    (per-block top-k, then a global TakeOrdered merge) — the same
    production/oracle split as pq_encode; measured ~50x at sf0.1
    (5k vectors: 69 s -> under 2 s). Scores can differ at ulp
    distance on near-ties (BLAS accumulation order)."""
    if kernel == "arrow":
        return _embedding_topk_pairs_arrow(df, k, vec_col, id_col)
    if kernel != "fold":
        raise ValueError(f"kernel must be fold|arrow, got {kernel!r}")
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()).limit(k)


def _embedding_topk_pairs_arrow(df, k, vec_col, id_col) -> DataFrame:
    """Arrow/BLAS kernel for the exact all-pairs baseline: broadcast
    the (n, d) normalized matrix (validation-scale by contract — the
    all-pairs baseline only exists where n² is feasible), block-matmul
    per partition, keep each row's top-k (i < j), merge globally."""
    import numpy as np
    import pandas as pd

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def kernel(batches):
        all_ids, m = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a = np.stack(pdf[vec_col].to_numpy())
            a = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300)
            sims = a @ m.T
            out_a, out_b, out_c = [], [], []
            for i, aid in enumerate(a_ids):
                row = sims[i]
                mask = all_ids > aid  # pair orientation id_a < id_b
                if not mask.any():
                    continue
                cand = np.where(mask)[0]
                top = cand[np.argsort(-row[cand], kind="stable")[:k]]
                out_a.extend([aid] * len(top))
                out_b.extend(all_ids[top].tolist())
                out_c.extend(row[top].tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    out = df.mapInPandas(kernel, "id_a long, id_b long, cosine double")
    return (
        out.select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def adaptive_planes(n_rows: int, target_occupancy: int = 16, floor: int = 8) -> int:
    """Hash width that holds expected bucket occupancy ~``target_occupancy``
    as the corpus grows: ``max(floor, ceil(log2(n / target)))``.

    With a FIXED plane count, candidate volume is L·n²/2^planes —
    latent-quadratic no matter how the constant is tuned (the r5 sf1
    measurement made this visible: 100× candidate growth hiding under
    job overhead). Width ∝ log₂(n) is the classic Indyk–Motwani scaling:
    occupancy, and therefore candidates per vector, stays constant and
    total candidate volume is linear in n. The trade-off is per-table
    recall at the similarity threshold; the candidate stage is part of
    these operators' contracts (see semantic_dedup_clusters), so the
    width — like the plane seeds — is simply part of the reproducible
    definition, and pinning ``n_planes`` explicitly recovers any fixed
    geometry.
    """
    import math

    if n_rows <= target_occupancy:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / target_occupancy)))


def _resolve_planes(n_rows: int, n_planes: int | None) -> int:
    if n_planes is not None:
        return n_planes
    # At the oracle-checked scales (2k vectors) this resolves to the
    # historical 8, so pinned oracles stay bit-identical; growth only
    # kicks in where it matters.
    return adaptive_planes(n_rows)


def _pair_vector_join(
    cand: DataFrame,
    va: DataFrame,
    vb: DataFrame,
    n_rows: int,
    dim: int,
) -> DataFrame:
    """Attach both endpoints' vectors to candidate pairs; ``n_rows`` is
    the vector frame's row count, counted once by the caller.

    Same join-strategy choice as the Jaccard verify
    (pipeline/dedup.py::jaccard_pairs, guide §3): the per-vector
    relation is ~pairs-per-vector times smaller than the pair-attached
    intermediate that the shuffle form re-shuffles for the second join,
    so when its estimated bytes fit the shared verify byte budget
    (default 512 MB, conf ``spark.titan.verifyBroadcastMb`` / env
    SPARK_GRAFT_VERIFY_BC_MB) both joins broadcast it and the pair
    relation never shuffles (sf10, 20.2 M candidates × 64-dim: 27.9 s
    shuffle vs 8.8 s broadcast, identical rows). Above the budget the
    shuffle form is kept — the 100 TB path.
    """
    est_mb = n_rows * (dim * 8 + 24) / 1e6
    if verify_broadcast_fits(cand.sparkSession, est_mb):
        return cand.join(F.broadcast(va), "id_a").join(F.broadcast(vb), "id_b")
    return cand.join(va, "id_a").join(vb, "id_b")


def lsh_topk_pairs(
    df: DataFrame,
    k: int = 20,
    n_tables: int = 8,
    n_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Globally most-similar pairs via multi-table LSH + exact re-score
    — the 100-TB path for embedding near-dup detection.

    ``n_tables`` independent hyperplane tables of ``n_planes`` bits
    each; a pair is a candidate iff it shares a bucket in ANY table
    (explode → one equi-join on (table, bucket), shuffle volume ~
    L·n·occupancy with the default adaptive width — see
    :func:`adaptive_planes` — never the O(n²) cross join). Candidates
    are re-scored with the exact cosine and the global top-k is taken
    under a total order. Deterministic planes (xorshift) make the
    candidate set — and therefore the result — exactly reproducible in
    the SQL oracle (plane-literal generation, same pattern as
    lsh_ann/ivf_ann).
    """
    n_rows = df.count()
    n_planes = _resolve_planes(n_rows, n_planes)
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    cand = _lsh_candidates(df, n_tables, n_planes, vec_col, id_col, dim)
    # norms are per-vector: compute once on the (small) vector side of
    # the join instead of once per candidate pair
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    scored = (
        _pair_vector_join(cand, va, vb, n_rows, dim)
        .select(
            "id_a",
            "id_b",
            F.round(_dot("va", "vb") / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()).limit(k)


def _lsh_candidates(
    df: DataFrame,
    n_tables: int,
    n_planes: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Multi-table LSH candidate pairs (id_a < id_b, deduped): a pair
    is a candidate iff it shares a bucket in ANY of the ``n_tables``
    independent hyperplane tables. One fold computes every table's
    plane dots; the join key is (table, bucket), so shuffle volume is
    ~L·n²/2^planes, never the O(n²) cross join. ``n_planes`` should
    grow with log₂(corpus) to hold per-bucket occupancy constant."""
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    planes = _det_planes(dim, n_tables * n_planes)
    # all tables' dot products in one fold over the vector, then each
    # table's bucket is a bit-pack over its slice of the dots array
    dots = df.select(
        F.col(id_col).alias("_id"), plane_dots(F.col(vec_col), planes).alias("_d")
    )
    sig = dots.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _pack_bits(F.col("_d"), t * n_planes, n_planes).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("_id", "tb.t", "tb.bucket")
    # signatures are tiny (id, table, bucket); cut the lineage so the
    # self-join doesn't re-evaluate n_tables×n_planes dot products twice
    sig = cut_lineage(sig, eager=True)
    return (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def semantic_dedup_clusters(
    df: DataFrame,
    threshold: float = 0.35,
    n_tables: int = 8,
    n_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup clusters (SemDeDup-style: Abbas et al.
    2023): multi-table LSH buckets propose candidates, the exact cosine
    keeps pairs with rounded similarity ≥ ``threshold``, and connected
    components collapse them into clusters → (vec_id, cluster_rep)
    with rep = min id per component; keep rows where vec_id ==
    cluster_rep to dedup.

    The candidate stage is part of the operator's contract (pairs in
    no common bucket are not near-dups by definition — the same
    cluster-then-compare shape SemDeDup uses with k-means), which makes
    the operator fully deterministic and oracle-reproducible from the
    plane literals. Scale: bucketed join + pair-volume-proportional CC;
    nothing O(n²) — the default hash width grows with log₂(corpus)
    (:func:`adaptive_planes`) so candidate volume stays linear.
    """
    n_rows = df.count()
    n_planes = _resolve_planes(n_rows, n_planes)
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    cand = _lsh_candidates(df, n_tables, n_planes, vec_col, id_col, dim)
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), _norm(F.col(vec_col)).alias("_na")
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), _norm(F.col(vec_col)).alias("_nb")
    )
    pairs = (
        _pair_vector_join(cand, va, vb, n_rows, dim)
        .select(
            "id_a",
            "id_b",
            F.round(_dot("va", "vb") / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    from titan_spark.pipeline.dedup import dedup_clusters

    return dedup_clusters(pairs, out_id=id_col)


def ivf_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic coarse centroids (data-independent; xorshift)."""
    return _det_planes(dim, n_cells)


# Above this k the centroid matrix stops being plan literals: k × dim
# literal constants serialize into every plan fragment and task binary
# (fine at benchmark k ~ 100s of cells, plan-bloat at k in the
# thousands) — the broadcast-row path keeps plan size O(1) in k.
LITERAL_CENTROID_MAX = 256


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    literal_max: int = LITERAL_CENTROID_MAX,
) -> DataFrame:
    """Assign each vector to its nearest coarse centroid (IVF cell).

    One pass, no shuffle, by either of two identical-result strategies:
    argmin over K plan-literal (distance, cell) structs when
    ``k <= literal_max``, else the centroids ride as ONE broadcast row
    (array of structs) cross-joined onto the scan — same argmin
    expression over the joined array, plan size independent of k.
    """
    if len(centroids) <= literal_max:
        # all K centroid dots from ONE multi-lane fold, distances from
        # one zip_with (||v-c||² − ||v||² — same argmin, v-term
        # constant), argmin via array_min + array_position (first match
        # = lowest cell, identical ties to the former (d, cell) struct
        # sort). The K-struct sort_array form compiled a K× larger
        # expression tree — plan analysis dominated small-k assigns.
        dots = _plane_dots_fold(F.col(vec_col), centroids)
        cc = F.array(*[F.lit(float(sum(x * x for x in c))) for c in centroids])
        d2 = F.zip_with(dots, cc, lambda d, c: c - 2.0 * d)
        return df.withColumn(
            "_cell", (F.array_position(d2, F.array_min(d2)) - 1).cast("int")
        )
    return _ivf_assign_broadcast(df, centroids, vec_col)


def _ivf_assign_broadcast(df: DataFrame, centroids, vec_col: str) -> DataFrame:
    """Large-k assignment path: the centroid matrix as a single
    broadcast row. The cross join against one row is a broadcast
    nested loop that adds a column without moving data (no shuffle);
    ties on distance break to the smaller cell id exactly like the
    literal path (struct sort on (d, cell))."""
    rows = [
        (i, [float(x) for x in c], float(sum(x * x for x in c)))
        for i, c in enumerate(centroids)
    ]
    cent_df = (
        local_relation(df.sparkSession, rows, "cell int, c array<double>, c2 double")
        .agg(F.collect_list(F.struct("cell", "c", "c2")).alias("_cents"))
    )
    scored = F.transform(
        F.col("_cents"),
        lambda s: F.struct(
            (F.lit(-2.0) * _dot(F.col(vec_col), s["c"]) + s["c2"]).alias("d"),
            s["cell"].alias("cell"),
        ),
    )
    return (
        df.join(F.broadcast(cent_df))
        .withColumn("_cell", F.sort_array(scored)[0]["cell"])
        .drop("_cents")
    )


def ivf_search(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    centroids=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: probe the nprobe cells nearest the query, brute-force
    inside them. At scale the assignment is precomputed and the table
    is partitioned by cell, so a query reads nprobe/K of the data."""
    dim = len(query_vec)
    centroids = centroids or ivf_centroids(dim, 16)

    def d2(c):
        return sum((a - b) ** 2 for a, b in zip(query_vec, c))

    probe = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))[:nprobe]
    assigned = ivf_assign(df, centroids, vec_col)
    cand = assigned.filter(F.col("_cell").isin(probe))
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def plane_dots(vec_col, planes: list[list[float]]):
    """All plane·vec dot products in one pass → array<double>.

    Dispatches to an Arrow-batched numpy matmul (``_plane_dots_arrow``)
    when numpy+pyarrow are importable, else the pure-JVM HOF fold
    (``_plane_dots_fold``). Every consumer uses only the SIGNS of the
    dots (bucket packing in ``_pack_bits``), so the ulp-level
    accumulation-order difference between the two backends can only
    matter for a dot within float error of zero — zero sign flips
    observed across the test corpora, and the sf0.01 value-hash gate
    re-verifies on every run.

    Measured on 100k rows × 64 planes × dim 64 (local[32], sf0.1
    vectors replicated): matmul 1.8–4.6 s, fold ~40 s (interpreted HOF
    eval is per-element), fully unrolled codegen expression 84–130 s
    (the 4096-term generated method exceeds JIT limits and runs in the
    bytecode interpreter). The matmul path is the 100-TB route: one
    BLAS call per Arrow batch.
    """
    if np is None:  # pragma: no cover - numpy/pandas are baked in
        return _plane_dots_fold(vec_col, planes)
    return _plane_dots_arrow(vec_col, planes)


def _plane_dots_arrow(vec_col, planes: list[list[float]]):
    """Plane dots as a vectorized Pandas UDF: batch matrix multiply."""
    from pyspark.sql.types import ArrayType, DoubleType

    tp = np.array(planes, dtype=np.float64).T  # (dim, n_planes)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _dots(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.isna()
        if mask.any():
            safe = v.copy()
            safe[mask] = pd.Series([[0.0] * tp.shape[0]] * int(mask.sum()), index=v.index[mask])
            d = np.vstack(safe.to_numpy()).astype(np.float64) @ tp
            out = pd.Series(list(d), index=v.index)
            out[mask] = None
            return out
        d = np.vstack(v.to_numpy()).astype(np.float64) @ tp
        return pd.Series(list(d), index=v.index)

    return _dots(vec_col)


def _plane_dots_fold(vec_col, planes: list[list[float]]):
    """Pure-JVM fallback: single aggregate fold with one accumulator
    lane per plane; lane i sums positions strictly left-to-right,
    bit-identical to ``_dot(vec, planes[i])``. (The per-plane
    formulation — one ``F.aggregate`` per plane — re-walks the row per
    plane: measured 7× slower for 64 planes.)"""
    n = len(planes)
    dim = len(planes[0])
    # transposed plane matrix: position j -> its n per-plane coefficients
    tp = F.array(
        *[F.array(*[F.lit(float(planes[i][j])) for i in range(n)]) for j in range(dim)]
    )
    return F.aggregate(
        F.zip_with(vec_col, tp, lambda v, row: F.transform(row, lambda c: c * v.cast("double"))),
        F.array_repeat(F.lit(0.0), n),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )


def _pack_bits(dots_col, offset: int, n_bits: int):
    """Bucket id from the signs of ``n_bits`` dots starting at offset."""
    out = None
    for b in range(n_bits):
        term = F.when(dots_col[offset + b] >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        out = term if out is None else out + term
    return out


def hyperplane_signature(vec_col, planes: list[list[float]]):
    """Sign pattern of the vector against fixed hyperplanes → bucket id."""
    return _pack_bits(plane_dots(vec_col, planes), 0, len(planes))


def _det_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no RNG state)."""
    planes = []
    state = 88172645463325252
    for _ in range(n_planes):
        p = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            p.append(((state % 2001) - 1000) / 1000.0)
        planes.append(p)
    return planes


def lsh_bucketed_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate per-vector top-k: compare only within an LSH bucket.

    The bucket join shuffles on the signature, so cost tracks bucket
    occupancy (n²/2^planes per bucket in expectation), not n².
    ``dim`` defaults to the actual vector length (a wrong dim would
    NULL every hyperplane dot product and collapse all vectors into
    one bucket — silently degenerating to the O(n²) cross join).
    """
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    planes = _det_planes(dim, n_planes)
    sig = df.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_signature(F.col(vec_col), planes).alias("_bucket"),
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "_bucket")
    b = sig.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "_bucket")
    pairs = a.join(b, ["_bucket"]).filter(F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("cosine")
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def kmeans_assignments(df: DataFrame, centroids, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, cell) for a fixed centroid list — one narrow argmin pass
    (shared with IVF: -2<v,c> + ||c||², ties to the lowest cell)."""
    return ivf_assign(df, centroids, vec_col).select(
        F.col(id_col), F.col("_cell").cast("int").alias("cell")
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    init: list[list[float]] | None = None,
):
    """Distributed Lloyd's k-means over an embedding column; returns
    (assignments DataFrame (id, cell), final centroid list).

    Deterministic end to end: init centroids come from the engine's
    xorshift plane generator (`_det_planes` — no RNG state, no fitted
    model), and every iteration's means are rounded to 9 decimals
    before re-injection so independent engines reproduce the same
    trajectory bit-for-bit (the same trick the IVF/LSH oracles use).

    Scale shape per iteration:
    - assignment: argmin over K literal centroids — a narrow scan
      projection, no shuffle (ivf_assign);
    - update: per-cell elementwise mean via posexplode + hash agg on
      (cell, pos) — map-side combinable, so the shuffle carries at most
      K × dim partial rows per task, NOT n × dim;
    - the K × dim mean matrix collects to the driver (a scalar at any
      corpus size) and becomes the next iteration's literals — the
      standard broadcast-centroid loop every distributed k-means uses.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    cents = [list(c) for c in (init if init is not None else _det_planes(dim, k))]
    for _ in range(n_iter):
        assigned = ivf_assign(df, cents, vec_col)
        means = (
            assigned.select(
                "_cell", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val")
            )
            .groupBy("_cell", "pos")
            .agg(F.avg("val").alias("mu"))
            .groupBy("_cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("m"))
            .select("_cell", F.col("m.mu").alias("mu"))
            .collect()
        )
        got = {r["_cell"]: [round(float(x), 9) for x in r["mu"]] for r in means}
        cents = [got.get(i, cents[i]) for i in range(k)]
    return kmeans_assignments(df, cents, vec_col, id_col), cents


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    (id, scale, qvec) with qvec[i] = round(v[i] / scale) ∈ [-127, 127]
    and scale = max|v| / 127 (zero vectors get scale 0 and all-zero
    codes). 4× smaller than float32 at ~0.4% cosine error — the
    standard memory layout for billion-vector ANN serving.

    Pure array algebra (one fold for the max, one transform to emit
    codes); the inverse is ``dequantize_int8``. Rounding is
    HALF_AWAY_FROM_ZERO via floor(x + 0.5) on the magnitude so SQL
    oracles agree (Spark's bround/java Math.round differ between
    engines on exact .5)."""
    v = F.col(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = (amax / F.lit(127.0)).alias("scale")
    code = lambda x: F.when(  # noqa: E731
        amax == 0.0, F.lit(0)
    ).otherwise(
        F.signum(x.cast("double"))
        * F.floor(F.abs(x.cast("double")) / (amax / 127.0) + F.lit(0.5))
    ).cast("int")
    return df.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        F.transform(v, code).alias("qvec"),
    )


def dequantize_int8(
    df: DataFrame, q_col: str = "qvec", scale_col: str = "scale"
) -> DataFrame:
    """Inverse of quantize_int8: embedding ≈ qvec * scale (float array)."""
    return df.withColumn(
        "embedding",
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Distributed covariance of an embedding column: (i, j, cov) rows
    for every i <= j (the upper triangle of the dim×dim matrix).

    Scale shape: an Arrow-batched kernel reduces each partition batch
    to its partial Gram sums — ``n_b``, ``Σx_i`` and ``Σx_i·x_j`` as
    dim(dim+1)/2 rows — so the shuffle carries O(partitions · dim²)
    rows regardless of corpus size (a mapInPandas combiner; the
    row-level explode alternative shuffles corpus·dim² rows). One
    final groupBy(i,j) sum, then cov = E[xy] − E[x]E[y] in full
    precision, rounded at the edge for engine-portable comparison.
    """
    from pyspark.sql.types import StructType, StructField, IntegerType, DoubleType, LongType

    out_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("sxy", DoubleType()),
            StructField("sx", DoubleType()),  # Σx_i, only on diagonal rows
            StructField("n", LongType()),
        ]
    )

    def _partials(batches):
        for pdf in batches:
            v = pdf[vec_col].dropna()
            if len(v) == 0:
                continue
            x = np.vstack(v.to_numpy()).astype(np.float64)  # (n_b, dim)
            dim = x.shape[1]
            gram = x.T @ x  # (dim, dim)
            sx = x.sum(axis=0)
            iu, ju = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "sxy": gram[iu, ju],
                    "sx": np.where(iu == ju, sx[iu], 0.0),
                    "n": np.full(len(iu), len(x), dtype=np.int64),
                }
            )

    part = df.select(vec_col).mapInPandas(_partials, schema=out_schema)
    agg = part.groupBy("i", "j").agg(
        F.sum("sxy").alias("S"), F.sum("sx").alias("SX"), F.sum("n").alias("N")
    )
    mu = agg.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("_d"), (F.col("SX") / F.col("N")).alias("mu")
    )
    return (
        agg.join(F.broadcast(mu).withColumnRenamed("_d", "i").withColumnRenamed("mu", "mu_i"), "i")
        .join(F.broadcast(mu).withColumnRenamed("_d", "j").withColumnRenamed("mu", "mu_j"), "j")
        .select(
            "i",
            "j",
            # + 0.0 folds IEEE −0.0 into +0.0 (engines disagree on the
            # sign of a rounded-away negative) — same for the oracle
            (F.round(F.col("S") / F.col("N") - F.col("mu_i") * F.col("mu_j"), 6) + F.lit(0.0)).alias("cov"),
        )
    )


def pca_components(
    df: DataFrame, k: int, vec_col: str = "embedding"
) -> tuple[list[list[float]], list[float], list[float]]:
    """Top-k principal axes of the embedding column.

    Builds the covariance matrix with ``embedding_covariance`` (the
    collect is dim² scalars — a constant independent of corpus size),
    eigendecomposes on the driver (numpy), and canonicalizes each
    eigenvector's sign (largest-|component| entry made positive) so
    the axes are deterministic. Returns (components[k][dim],
    means[dim], explained_variance[k]).
    """
    rows = embedding_covariance(df, vec_col=vec_col).collect()
    dim = max(r["j"] for r in rows) + 1
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    mu_rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("mu"))
        .collect()
    )
    means = [0.0] * dim
    for r in mu_rows:
        means[r["i"]] = float(r["mu"])
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(c) for c in v])
    return comps, means, [float(vals[i]) for i in order]


def pca_project(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    components: list[list[float]] | None = None,
    means: list[float] | None = None,
) -> DataFrame:
    """Project embeddings onto their top-k principal axes → (id, pc).

    The projection itself is the same Arrow-batched matmul as the LSH
    plane dots (one scan, no shuffle); pass precomputed
    ``components``/``means`` to skip the covariance pass (e.g. axes
    fitted on a sample — the standard move at 100 TB, where a 1%
    hash-sample pins the axes and the full corpus only pays the scan).
    """
    if components is None or means is None:
        components, means, _ = pca_components(df, k, vec_col=vec_col)
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in means]),
        lambda x, m: x.cast("double") - m,
    )
    return df.select(
        F.col(id_col),
        F.transform(
            _plane_dots_arrow(centered, components) if np is not None
            else _plane_dots_fold(centered, components),
            lambda d: F.round(d, 6),
        ).alias("pc"),
    )


def pq_codebooks(dim: int, m: int, k: int) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: m sub-codebooks of
    k centroids over dim/m-wide subspaces (one xorshift stream chunked
    per subspace, so each subspace gets distinct centroids). The
    data-independent book is the oracle-replayable baseline; fit with
    ``pq_fit`` for data-adapted centroids."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    flat = _det_planes(sub, m * k)
    return [flat[s * k : (s + 1) * k] for s in range(m)]


def pq_fit(
    df: DataFrame,
    m: int,
    k: int,
    vec_col: str = "embedding",
    iterations: int = 5,
) -> list[list[list[float]]]:
    """Data-adapted PQ codebooks: Lloyd's k-means per subspace, seeded
    from the deterministic book. m small driver-side iterations, each
    collecting k × (dim/m) scalars — constant in corpus size."""
    dim = df.select(F.size(F.col(vec_col))).first()[0]
    books = pq_codebooks(dim, m, k)
    sub = dim // m
    out = []
    for s in range(m):
        sliced = df.select(
            F.monotonically_increasing_id().alias("_sid"),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("_sub"),
        )
        _, cents = kmeans_lloyd(
            sliced, k, n_iter=iterations, vec_col="_sub", id_col="_sid",
            dim=sub, init=books[s],
        )
        out.append(cents)
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kernel: str = "fold",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): each
    vector → m one-byte codes (argmin centroid per subspace, ties to
    the lowest code) + the total squared reconstruction error.

    One scan, zero shuffle. ``kernel``: ``"fold"`` (default) computes
    every distance with strict left-to-right JVM folds — bit-identical
    to the SQL oracle, the verification path; ``"arrow"`` runs the
    same argmin as a batched numpy matmul per subspace (BLAS
    accumulation order, so near-tie code picks can differ at ulp
    distance — the production path, ~5× at dim 64 / m 8 / k 16; the
    same production/oracle split as the MinHash ``hash_fn``).
    64×-compression path for 100-TB ANN: store codes, search with
    asymmetric distance over the codebook."""
    if kernel == "arrow":
        return _pq_encode_arrow(df, codebooks, vec_col, id_col)
    if kernel != "fold":
        raise ValueError(f"kernel must be fold|arrow, got {kernel!r}")
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # ONE multi-lane fold per subspace gives all k centroid dots
    # (lane i sums strictly left-to-right, bit-identical to
    # _dot(subv, c_i) — see _plane_dots_fold); distances come from one
    # zip_with over that array and argmin from array_min +
    # array_position (first match = lowest code, the same tie rule as
    # the oracle's (d, code) ordering). The earlier k-struct sort_array
    # form compiled a k× larger expression tree — Catalyst analysis,
    # not row work, dominated the encode pass (measured 2.2× at k=16,
    # m=8). r12: the folds, norms and distance arrays are LET-BOUND to
    # intermediate columns in separate projections — the single-select
    # form re-evaluated each subspace's interpreted HOF fold through
    # every downstream reference (argmin + position + error), and HOFs
    # are CodegenFallback so codegen-level subexpression elimination
    # never sees them; measured 9.4 → 4.0 s on the 116 k-row sf10
    # IVF-PQ candidate set, output bit-identical.
    tmp = df
    for s in range(m):
        subv = F.transform(
            F.slice(F.col(vec_col), s * sub + 1, sub), lambda x: x.cast("double")
        )
        tmp = tmp.withColumn(f"_pqdots{s}", _plane_dots_fold(subv, codebooks[s]))
    for s in range(m):
        subv = F.transform(
            F.slice(F.col(vec_col), s * sub + 1, sub), lambda x: x.cast("double")
        )
        tmp = tmp.withColumn(f"_pqn{s}", _dot(subv, subv))
    for s in range(m):
        cc = F.array(*[F.lit(float(sum(x * x for x in c))) for c in codebooks[s]])
        tmp = tmp.withColumn(
            f"_pqd2{s}",
            F.zip_with(
                F.col(f"_pqdots{s}"), cc, lambda d, c: F.col(f"_pqn{s}") - 2.0 * d + c
            ),
        )
        tmp = tmp.withColumn(f"_pqb{s}", F.array_min(F.col(f"_pqd2{s}")))
    codes = [
        (F.array_position(F.col(f"_pqd2{s}"), F.col(f"_pqb{s}")) - 1).cast("int")
        for s in range(m)
    ]
    err = F.col("_pqb0")
    for s in range(1, m):
        err = err + F.col(f"_pqb{s}")
    return tmp.select(
        F.col(id_col),
        F.array(*codes).alias("codes"),
        (F.round(err, 6) + F.lit(0.0)).alias("recon_err"),
    )


def _pq_encode_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Production PQ encode: per-batch numpy argmin over all subspaces.
    ||v_s − c||² = ||v_s||² − 2·v_s·Cᵀ + ||c||² computed as one matmul
    per subspace per Arrow batch; codes/min-distances read off with
    argmin/min (first-match ties, like the fold path)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cc = [np.sum(b * b, axis=1) for b in books]

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("recon_err", DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            err = np.zeros(len(x))
            for s in range(m):
                xs = x[:, s * sub : (s + 1) * sub]
                d2 = (xs * xs).sum(axis=1, keepdims=True) - 2.0 * xs @ books[s].T + cc[s]
                codes[:, s] = d2.argmin(axis=1)
                err += d2.min(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": list(codes),
                    "recon_err": np.round(err, 6) + 0.0,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema=out_schema)


def pq_decode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    codes_col: str = "codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """Reconstruct the PQ approximation: concatenate each subspace's
    selected centroid. Codebook rides as plan literals (m·k·dim/m =
    dim·k doubles — same budget as the encode pass)."""
    m = len(codebooks)
    parts = []
    for s in range(m):
        book = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in codebooks[s]]
        )
        parts.append(F.element_at(book, F.col(codes_col)[s] + 1))
    return df.select(F.col(id_col), F.flatten(F.array(*parts)).alias("approx"))


def whiten_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-6,
    components: list[list[float]] | None = None,
    means: list[float] | None = None,
) -> DataFrame:
    """ZCA-whiten the embedding column: y = E diag(1/√(λ+eps)) Eᵀ (x−μ),
    so the output has (approximately) identity covariance — the
    standard conditioning pass before cosine ANN or clustering when
    dimensions are correlated.

    Same cost model as PCA: dim² covariance collect + driver eigh once,
    then a single Arrow matmul scan (no shuffle). Pass precomputed
    ``components``/``means`` (rows of the whitening matrix W) to skip
    the fit, e.g. axes from a 1% sample at 100 TB.
    """
    if components is None or means is None:
        rows = embedding_covariance(df, vec_col=vec_col).collect()
        dim = max(r["j"] for r in rows) + 1
        cov = np.zeros((dim, dim))
        for r in rows:
            cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
        mu_rows = (
            df.select(F.posexplode(F.col(vec_col)).alias("i", "x"))
            .groupBy("i")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        means = [0.0] * dim
        for r in mu_rows:
            means[r["i"]] = float(r["mu"])
        vals, vecs = np.linalg.eigh(cov)
        w = (vecs * (1.0 / np.sqrt(np.clip(vals, 0.0, None) + eps))) @ vecs.T
        components = [[float(c) for c in row] for row in w]
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in means]),
        lambda x, m: x.cast("double") - m,
    )
    return df.select(
        F.col(id_col),
        F.transform(
            _plane_dots_arrow(centered, components) if np is not None
            else _plane_dots_fold(centered, components),
            lambda d: F.round(d, 6),
        ).alias("white"),
    )


def ivfpq_search(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    centroids=None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ANN (Jégou 2011 §IV): probe the nprobe nearest coarse
    cells, then rank candidates by ASYMMETRIC distance — the query
    stays exact while each candidate is its PQ code, so the distance
    is m table lookups instead of a dim-length dot product.

    The per-subspace lookup tables (k × m query-to-centroid squared
    distances) are computed driver-side from the query (a constant)
    and ride as plan literals; ranking is Σ_s LUT_s[code_s] — pure
    array algebra over the codes column, no vector reads in the
    ranking path. At scale the codes table is 64× smaller than the
    vectors; only the coarse assignment (precomputed, partition key)
    and the code scan remain. Ties break (adc, id) ascending.
    """
    dim = len(query_vec)
    centroids = centroids or ivf_centroids(dim, 16)

    def d2(c):
        return sum((a - b) ** 2 for a, b in zip(query_vec, c))

    probe = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))[:nprobe]
    assigned = ivf_assign(df, centroids, vec_col)
    # materialize the probed candidates before encoding: otherwise the
    # per-subspace argmin folds compile STACKED on the coarse-argmin
    # expression tree (one giant codegen unit, ~2× the wall time); the
    # cut also mirrors the real deployment, where assignment is a
    # precomputed partition key and the search never re-derives it
    cand = cut_lineage(
        assigned.filter(F.col("_cell").isin(probe)).select(id_col, vec_col), eager=True
    )
    codes = pq_encode(cand, codebooks, vec_col=vec_col, id_col=id_col)

    m = len(codebooks)
    sub = len(codebooks[0][0])

    def _seqdot(a, b):
        # strict left-to-right accumulation — bit-identical to the
        # engine's _dot fold and DuckDB's list_dot_product, so the
        # oracle's SQL-computed LUT matches these literals exactly
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    luts = []
    for s in range(m):
        q_sub = [float(x) for x in query_vec[s * sub : (s + 1) * sub]]
        qq = _seqdot(q_sub, q_sub)
        luts.append(
            [
                qq - 2.0 * _seqdot(q_sub, c) + float(sum(x * x for x in c))
                for c in codebooks[s]
            ]
        )
    adc = None
    for s in range(m):
        term = F.element_at(
            F.array(*[F.lit(x) for x in luts[s]]), F.col("codes")[s] + 1
        )
        adc = term if adc is None else adc + term
    return (
        codes.select(F.col(id_col), F.round(adc, 6).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------- random projection (JL)
#
# Johnson & Lindenstrauss (1984) via Achlioptas (2003): projecting onto
# k random +-1 directions scaled by 1/sqrt(k) preserves all pairwise
# Euclidean distances within (1 +- eps) for k = O(log n / eps^2),
# independent of the INPUT dimension. The standard pre-step before
# clustering / ANN / dedup over high-dimensional embeddings: a 1024-d
# corpus projects to 64-d once, and every downstream distance
# computation gets 16x cheaper with bounded distortion.
#
# Scale shape: the sign matrix is in_dim x out_dim literals compiled
# into the plan (a few KB even at 4096x128 — broadcast-free), each row
# is out_dim zip_with/aggregate dot products in whole-stage codegen —
# ONE scan, ZERO shuffle, no Python per row. Signs derive from the
# portable h60 hash of "jl:<seed>:<i>:<j>", so the exact matrix — and
# therefore every projected value — replays in ANSI SQL.


def jl_sign_matrix(in_dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic Achlioptas +-1/sqrt(k) matrix, (in_dim, out_dim).

    Entry (i, j) = +-1/sqrt(out_dim) with the sign taken from the low
    bit of h60(md5("jl:<seed>:<i>:<j>")) — the same digest
    :func:`titan_spark.functions.hashing.portable_hash64` computes, so
    a DuckDB oracle regenerates the identical matrix."""
    import hashlib

    scale = 1.0 / (out_dim ** 0.5)
    mat = []
    for i in range(in_dim):
        row = []
        for j in range(out_dim):
            h = int(hashlib.md5(f"jl:{seed}:{i}:{j}".encode()).hexdigest()[:15], 16)
            row.append(scale if h % 2 == 1 else -scale)
        mat.append(row)
    return mat


def random_project(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "jl",
    in_dim: int | None = None,
) -> DataFrame:
    """JL random projection → (id_col, proj: array<double> of out_dim).

    Each output coordinate is a strict left-to-right float64 fold over
    zip_with(vec, sign_column) — bit-reproducible, matching DuckDB's
    list_dot_product for the oracle. ``in_dim`` defaults to the length
    of the first vector (one tiny driver lookup)."""
    if in_dim is None:
        in_dim = len(df.select(vec_col).first()[0])
    mat = jl_sign_matrix(in_dim, out_dim, seed)
    cols = []
    for j in range(out_dim):
        sign_col = F.array(*[F.lit(mat[i][j]) for i in range(in_dim)])
        cols.append(F.round(_dot(F.col(vec_col), sign_col), 6))
    return df.select(F.col(id_col), F.array(*cols).alias("proj"))
