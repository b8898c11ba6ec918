"""Deterministic sampling for reproducible training-data pipelines.

``rand()``-based sampling is not reproducible across retries, partition
counts, or engine versions; hash-based sampling keys the decision on
the row's identity, so a row's fate is a pure function of (id, seed) —
stable under re-execution, resumable, and expressible in ANSI SQL for
oracle checks. This is the standard corpus-split/subsample primitive
(the reference has no sampling surface; this is engine-charter
pipeline machinery).

The hash is two rounds of Knuth multiplicative hashing with the
operands mod-reduced first so no step exceeds 2^63-1: identical
closed-form arithmetic in Spark and DuckDB (and safe under Spark's
ANSI overflow checking), non-negative throughout so ``pmod`` and SQL
``%`` agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from titan_spark.session import local_relation

_P31 = 2_147_483_647  # 2^31 - 1
_KNUTH1 = 2_654_435_761
_KNUTH2 = 2_246_822_519
_BUCKETS = 1 << 30


def hash_bucket(col: Column, seed: int = 0) -> Column:
    """Deterministic bucket in [0, 2^30) from an integral id column.

    max intermediate: (2^31-1) * KNUTH2 < 2^63-1 — never overflows.
    """
    h = F.pmod(col.cast("long") + F.lit(seed).cast("long"), F.lit(_P31))
    h = F.pmod(h * F.lit(_KNUTH1), F.lit(_P31))
    return F.pmod(h * F.lit(_KNUTH2), F.lit(_BUCKETS))


def bucket_sql(col: str, seed: int = 0) -> str:
    """The identical bucket expression in ANSI SQL (oracle twin)."""
    return (
        f"(((({col} + {seed}) % {_P31}) * {_KNUTH1} % {_P31}) "
        f"* {_KNUTH2} % {_BUCKETS})"
    )


def hash_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Keep ~rate of rows, decided by the id's hash bucket.

    No shuffle, no state: a narrow filter evaluated at the scan, so at
    any scale sampling costs one pass and prunes early.
    """
    threshold = int(rate * _BUCKETS)
    return df.filter(hash_bucket(F.col(id_col), seed) < threshold)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum hash sampling (e.g. per-language corpus balancing).

    ``rates`` maps stratum value -> keep rate; unlisted strata keep
    ``default_rate``. Same narrow-filter plan as ``hash_sample`` — the
    per-stratum threshold is a CASE expression, not a join.
    """
    threshold = F.lit(int(default_rate * _BUCKETS))
    for value, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(rate * _BUCKETS))
        ).otherwise(threshold)
    return df.filter(hash_bucket(F.col(id_col), seed) < threshold)


def hash_split(
    df: DataFrame,
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    id_col: str = "doc_id",
    seed: int = 0,
) -> list[DataFrame]:
    """Disjoint deterministic train/val/test splits covering the corpus."""
    total = sum(weights)
    bounds = []
    acc = 0.0
    for w in weights:
        acc += w / total
        bounds.append(int(acc * _BUCKETS))
    b = hash_bucket(F.col(id_col), seed)
    out = []
    lo = 0
    for hi in bounds:
        out.append(df.filter((b >= F.lit(lo)) & (b < F.lit(hi))))
        lo = hi
    return out


_EPOCH_STRIDE = 1_000_000_007  # decorrelates per-epoch keep decisions


def mix_corpus(
    df: DataFrame,
    proportions: dict[str, float],
    total_tokens: int,
    token_count: Column,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    norm: float | None = None,
) -> DataFrame:
    """Deterministic training-mixture sampling: hit a token budget with
    target source proportions, up- OR down-sampling each source.
    ``norm`` overrides the weight normalizer (sum of weights) — used by
    :func:`temperature_mix` to pass a ROUNDED total so the SQL oracle's
    independently-summed normalizer lands on the identical double.

    For each source s with weight w_s, the target is
    ``total_tokens * w_s / sum(w)``; with ``T_s`` tokens available the
    required multiplicity is ``n_s = target_s / T_s`` — e.g. 2.35
    epochs. Every document of s appears in floor(n_s) full epochs plus
    a fractional epoch that keeps ~frac(n_s) of documents, decided by
    the same closed-form hash as :func:`hash_sample` keyed on
    (id + epoch·stride), so the sampled mixture is a pure function of
    (corpus, weights, seed): re-runs, retries, and the SQL oracle all
    produce the identical multiset. Output rows carry ``epoch`` so
    downstream packing treats repetitions as distinct sequences.

    Scale shape: one tiny per-source aggregate (collected — one row per
    source), then a narrow explode+filter pass; no corpus-sized
    shuffle. Unlisted sources are dropped (weight 0).
    """
    totw = norm if norm is not None else sum(proportions.values())
    stats = {
        r["s"]: r["toks"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(token_count).alias("toks"))
        .collect()
    }
    # per-source (full epochs, fractional threshold), shipped as a
    # BROADCAST rates table rather than a per-source CASE chain — a CASE
    # grows the plan (and every task binary) linearly in the number of
    # sources, which bloats at the tens of thousands of domains a web
    # corpus has; the join keeps plan size O(1) in sources
    rates = [
        (s, int(n), int((n - int(n)) * _BUCKETS))
        for s, w in sorted(proportions.items())
        if stats.get(s)
        for n in [(total_tokens * w / totw) / stats[s]]
    ]
    if not rates:
        return df.filter(F.lit(False)).withColumn("epoch", F.lit(0))
    rates_df = local_relation(
        df.sparkSession, rates, f"{source_col} string, _k int, _th long"
    )
    b = lambda epoch: hash_bucket(  # noqa: E731
        F.col(id_col) + epoch.cast("long") * F.lit(_EPOCH_STRIDE), seed
    )
    return (
        df.join(F.broadcast(rates_df), source_col)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_k"))))
        .filter((F.col("epoch") < F.col("_k")) | (b(F.col("epoch")) < F.col("_th")))
        .drop("_k", "_th")
    )


def mix_rates_sql(
    proportions: dict[str, float], total_tokens: int, token_len_sql: str
) -> str:
    """Oracle twin of the driver-side rate arithmetic in
    :func:`mix_corpus`: a CTE yielding (source, k, th) with the same
    double-precision expression order so floor/threshold agree bit-for-bit."""
    totw = sum(proportions.values())
    rows = ", ".join(
        f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in sorted(proportions.items())
    )
    return f"""
        weights(source, w) AS (VALUES {rows}),
        stats AS (
            SELECT source, CAST(sum({token_len_sql}) AS DOUBLE) AS toks
            FROM documents GROUP BY source
        ),
        rates AS (
            -- floor(), not CAST: DuckDB CAST(double AS INT) rounds
            -- half-even while the driver-side Python int() truncates
            SELECT s.source,
                   CAST(floor(({total_tokens} * w.w / {totw!r}) / s.toks) AS INT) AS k,
                   CAST(floor(((({total_tokens} * w.w / {totw!r}) / s.toks)
                        - floor(({total_tokens} * w.w / {totw!r}) / s.toks))
                        * {_BUCKETS}) AS BIGINT) AS th
            FROM stats s JOIN weights w USING (source)
        )
    """


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement, deterministically —
    Efraimidis & Spirakis, "Weighted random sampling with a
    reservoir", IPL 2006: draw u ~ U(0,1) per row, keep the n largest
    keys k = u^(1/w). Rows with weight w are then included with the
    exact WRS-without-replacement probabilities.

    The uniform draw is the portable h60 of (seed, id) scaled to
    (0, 1] — the engine's standard deterministic-randomness contract
    (same as hash_sample/sample_/coin_), which also makes the draw
    reproducible in the SQL oracle. Selection compiles to TakeOrdered
    (per-partition top-n; no global sort): the classic A-ES reservoir
    without any sequential reservoir state. Non-positive weights are
    excluded (their key would be 0). Comparison uses ln(u)/w rather
    than u^(1/w) — same order, no underflow at large weights."""
    from titan_spark.functions.hashing import portable_hash64

    h = portable_hash64(
        F.concat(F.lit(f"ws{seed}:"), F.col(id_col).cast("string"))
    )
    # u in (0, 1]: (h + 1) / 2^60 — h is a 60-bit non-negative int
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col).cast("double")  # maximize u^(1/w) == maximize ln(u)/w
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_wkey", F.round(key, 12))
        .orderBy(F.col("_wkey").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("_wkey")
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Per-group document quota: keep at most ``n_per_group`` rows of
    each group, chosen deterministically by the portable hash of
    (seed, id) — the standard curation guard against source/domain
    domination of a training mix (cap docs per domain/crawl host
    before mixing; C4-style per-source balance).

    Compiles to a rank-filter window partitioned by the group:
    WindowGroupLimit pushes a per-partition partial top-n below the
    shuffle, so only ~n·partitions rows move per group and no global
    sort exists at any corpus size. Skewed groups (one giant domain)
    are exactly the rows the partial pass prunes before the exchange.
    """
    from pyspark.sql import Window

    from titan_spark.functions.hashing import portable_hash64

    h = portable_hash64(
        F.concat(F.lit(f"q{seed}:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_qrn", F.row_number().over(w))
        .filter(F.col("_qrn") <= n_per_group)
        .drop("_qrn")
    )


def temperature_proportions(
    df: DataFrame,
    token_count: Column,
    alpha: float = 0.5,
    source_col: str = "source",
) -> tuple[dict[str, float], float]:
    """mT5/PaLM-style temperature (alpha) source weights (Xue et al.
    2021 §3.2, after mBERT's exponentiated smoothing): the sampling
    weight of source s is ``T_s^alpha`` over its token count T_s —
    alpha = 1 reproduces natural proportions, alpha → 0 approaches
    uniform-over-sources, values in between upweight low-resource
    sources. One per-source aggregate (one collected row per source).

    Returns ``(weights, norm)`` where norm is the weight sum ROUNDED to
    6 decimals: summation order differs between engines at the ulp
    level, and the rounded normalizer is what makes the SQL oracle's
    independently-computed rates land on bit-identical doubles.
    ``alpha=0.5`` computes ``sqrt`` (correctly-rounded IEEE in every
    engine — exact cross-engine agreement); other alphas use ``pow``,
    whose last-ulp behavior is libm-specific (documented tolerance)."""
    import math

    stats = (
        df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(token_count).alias("toks"))
        .collect()
    )
    weights = {
        r["s"]: (
            math.sqrt(float(r["toks"]))
            if alpha == 0.5
            else float(r["toks"]) ** alpha
        )
        for r in stats
        if r["toks"]
    }
    norm = round(sum(weights[s] for s in sorted(weights)), 6)
    return weights, norm


def temperature_mix(
    df: DataFrame,
    total_tokens: int,
    token_count: Column,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-balanced training mixture: :func:`mix_corpus` with
    the mT5 alpha-weights computed from the corpus itself — the
    standard multilingual/multi-domain rebalancing recipe (sample
    source s with probability ∝ T_s^alpha). Same scale shape as
    mix_corpus: two tiny per-source aggregates + a narrow
    explode+filter pass, nothing corpus-sized shuffles."""
    weights, norm = temperature_proportions(df, token_count, alpha, source_col)
    return mix_corpus(
        df,
        weights,
        total_tokens,
        token_count,
        source_col=source_col,
        id_col=id_col,
        seed=seed,
        norm=norm,
    )


def temperature_rates_sql(
    total_tokens: int, token_len_sql: str, alpha: float = 0.5
) -> str:
    """Oracle twin of :func:`temperature_mix`'s rate arithmetic: the
    weights come from the corpus (sqrt/pow of per-source token sums)
    instead of literals, the normalizer is ROUND(SUM(w), 6) to match
    the driver-side rounded norm, and the epoch/threshold expressions
    keep :func:`mix_rates_sql`'s exact double-precision order.
    Zero-token sources are excluded (``WHERE toks > 0``) exactly as
    :func:`temperature_proportions` drops them — keeping them would
    make ``k = floor(0/0)`` NaN in the rates CTE instead of the
    source being absent."""
    w_expr = "sqrt(toks)" if alpha == 0.5 else f"power(toks, {alpha!r})"
    return f"""
        stats AS (
            SELECT source, CAST(sum({token_len_sql}) AS DOUBLE) AS toks
            FROM documents GROUP BY source
        ),
        weights AS (SELECT source, {w_expr} AS w, toks FROM stats
                    WHERE toks > 0),
        norm AS (SELECT ROUND(SUM(w), 6) AS totw FROM weights),
        rates AS (
            SELECT w.source,
                   CAST(floor(({total_tokens} * w.w / n.totw) / w.toks) AS INT) AS k,
                   CAST(floor(((({total_tokens} * w.w / n.totw) / w.toks)
                        - floor(({total_tokens} * w.w / n.totw) / w.toks))
                        * {_BUCKETS}) AS BIGINT) AS th
            FROM weights w, norm n
        )
    """
