"""Deduplication operators for document corpora.

Exact dedup is a hash-groupBy (map-side combinable, scales linearly);
near-dup (MinHash/LSH, SimHash, n-gram Jaccard) avoids the O(n²)
pair comparison by banding signatures so only same-bucket candidates
join — the standard shingle→minhash→band→bucket-join pipeline, all
expressed with built-in column functions (hashes run JVM-side).
"""

from __future__ import annotations

import math
import os
import warnings

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from titan_spark.functions.hashing import portable_hash64, resolve_hash_fn
from titan_spark.functions.text import tokenize
from titan_spark.compute.checkpointing import counted_cut, cut_lineage

# deterministic minhash parameters (fixed seeds; Mersenne prime modulus)
_MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (rep_id, n_dups).

    One shuffle on the 64-bit content hash; the text column itself never
    shuffles (hash first, group on the hash) — at 100 TB this moves 8
    bytes/doc instead of the document bodies.
    """
    return (
        df.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select("rep_id", "n_dups")
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_distinct) — the dedup-rate summary."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col(text_col)).alias("n_distinct"),
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles from the Titan tokenizer's token stream.

    Built with ``zip_with`` over shifted copies of the token array so
    the token stream is evaluated once per row — an index-based
    ``transform(sequence(...), i -> slice(toks, i, n))`` re-evaluates
    the tokenizer per element (O(tokens²) per row; measured 100×
    slow-down at sf0.1). Shorter-than-n docs yield one whole-doc
    shingle (same contract as the SQL oracle's clamped slice).
    """
    toks = tokenize(col)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(1)))
        # zip_with pads the shorter side with NULL; concat propagates the
        # NULL so trailing partial grams drop in the filter below
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.filter(grams, lambda g: g.isNotNull())
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(full)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc minhash signature: array of num_hashes min-values (see
    :func:`minhash_column`)."""
    return df.select(
        F.col(id_col),
        minhash_column(text_col, num_hashes, shingle_n, hash_fn).alias("signature"),
    )


def minhash_column(
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> Column:
    """The minhash signature expression: array of num_hashes min-values.

    h_i(x) = (a_i * x + b_i) mod p over 64-bit shingle hashes, with
    fixed per-i coefficients — fully deterministic, no fitted model.
    Everything is built-in array algebra; no Python executes per row.

    ``hash_fn``: ``'xxhash64'`` (production default — JVM intrinsic,
    several× cheaper per shingle) or ``'portable'`` (md5-derived, has a
    bit-identical DuckDB twin so the whole pipeline is oracle-checkable
    — see functions/hashing.py). Either is a valid MinHash base hash;
    only determinism and spread matter.

    Building the expression costs hundreds of py4j calls in Python
    (num_hashes lanes inside two lambdas; ~0.4 s measured on a 4-core
    host), so a caller that applies it batch after batch can build it
    once and reuse the Column.
    """
    h64 = resolve_hash_fn(hash_fn)
    sh = shingles(F.col(text_col), shingle_n)
    hashed = F.transform(sh, lambda s: F.pmod(h64(s), F.lit(_MINHASH_PRIME)))

    def _perms(h):
        # all num_hashes permutations of one shingle hash; h is a bound
        # lambda variable (already evaluated), so this is pure arithmetic
        return F.array(
            *[
                F.pmod(h * F.lit(2 * i + 1) + F.lit(7919 * (i + 1)), F.lit(_MINHASH_PRIME))
                for i in range(num_hashes)
            ]
        )

    # one pass over the shingle hashes: fold elementwise-min across the
    # permutation lanes (the input array is evaluated exactly once)
    init = F.array_repeat(F.lit(_MINHASH_PRIME).cast("long"), num_hashes)
    return F.aggregate(
        hashed, init, lambda acc, h: F.zip_with(acc, _perms(h), lambda a, b: F.least(a, b))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    num_hashes: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band the signatures and self-join per bucket → candidate pairs.

    The join key is (band_index, band_hash): only docs agreeing on a
    whole band meet, so the shuffle is proportional to corpus size +
    true-duplicate volume, never O(n²). Output: (id_a, id_b) with
    id_a < id_b, deduplicated across bands. ``hash_fn``: see
    ``minhash_signatures`` (use the same mode as the signature stage so
    an oracle can reproduce the band buckets).
    """
    h64 = resolve_hash_fn(hash_fn)
    n = num_hashes if num_hashes is not None else signatures.select(F.size("signature")).first()[0]
    rows_per_band = max(1, n // bands)
    banded = signatures.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        h64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    # materialize the banded table before the self-join: both join sides
    # would otherwise re-evaluate the full minhash expression tree (the
    # most expensive stage of the pipeline) — the banded rows are just
    # (id, band, bucket), tiny relative to the corpus at any scale
    banded = cut_lineage(banded, eager=True)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_filter_candidates(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT candidate generation for a Jaccard-threshold join without
    the O(n²) cross product — prefix filtering over an inverted index
    (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity Search",
    WWW'07; the PPJoin family).

    Guarantee: every pair with n-gram Jaccard >= ``threshold`` is
    emitted (recall 1.0), so an exact verify over these candidates
    equals the all-pairs answer. Mechanism: order each doc's shingle
    set by a global canonical order (corpus frequency asc, shingle
    asc), keep only the first ``|S| - ceil(t*|S|) + 1`` shingles (any
    qualifying pair must collide inside these prefixes), and self-join
    the exploded prefixes on the shingle. A size filter
    (``min >= t * max``, implied by J >= t) prunes the rest.

    Scale: two shuffles on the shingle key (frequency count + prefix
    join) and one per-doc window over ~|S| rows — everything is
    proportional to corpus + collision volume, never n². Rare shingles
    lead the order, so hot templated shingles stay out of the prefixes
    and the join key distribution is anti-skewed by construction.

    Postings carry the shingle's xxhash64 long, not the ~30-byte
    trigram string: the frequency agg, the per-doc window sort and the
    prefix self-join all key on the shingle, so bytes-per-posting is
    this stage's shuffle cost (measured at sf10: the string-keyed
    candidate stage was 56 s of the 500 k-doc pipeline). The recall
    guarantee is order-agnostic — any GLOBAL canonical order gives
    recall 1.0; (frequency asc, hash asc) keeps the anti-skew property.
    The emitted candidate SET can differ from the string-ordered
    variant (different prefixes), but downstream exact verification
    (:func:`jaccard_pairs`, which hashes with the same xxhash64) makes
    the threshold-filtered result identical — the same ~n²/2⁶⁵
    collision caveat documented there applies.

    ``shingle_df``: optional precomputed ``(_id, _sh, _sz)`` table
    (avoids re-shingling when the caller verifies afterwards).

    ``hash_shingles`` (default on, r12 — mirrors :func:`jaccard_pairs`
    so a caller wanting the bit-exact string path end-to-end can
    disable hashing in BOTH stages): ``False`` keys the postings on the
    shingle strings themselves, restoring the pre-hashing (frequency
    asc, shingle asc) canonical order with zero collision caveat, at
    ~4× the posting bytes.
    """
    from pyspark.sql import Window

    sh = shingle_df
    if sh is None:
        sh = df.select(
            F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_n).alias("_sh")
        ).withColumn("_sz", F.size("_sh"))
    # (doc, shingle-key, set size) postings — materialized once; both
    # the frequency agg and the ranked prefix read from it
    gkey = F.xxhash64("_gs") if hash_shingles else F.col("_gs")
    posts = cut_lineage(
        sh.select("_id", "_sz", F.explode("_sh").alias("_gs")).select(
            "_id", "_sz", gkey.alias("_g")
        ),
        eager=True,
    )
    freq = posts.groupBy("_g").agg(F.count(F.lit(1)).alias("_f"))
    ranked = (
        posts.join(freq, "_g")
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("_id").orderBy("_f", "_g")),
        )
        # prefix length |S| - ceil(t|S|) + 1
        .filter(F.col("_r") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
        .select("_id", "_sz", "_g", "_r")
    )
    # the gate's row count rides on the cut's own job (no extra count)
    ranked, n_ranked = counted_cut(ranked)
    # SHUFFLE_HASH above the broadcast regime: the prefix self-join is
    # a collision join on the shingle key whose sort order is never
    # reused downstream (the output feeds a pair-dedup hash aggregate),
    # so SMJ's two full sorts of the posting relation are pure overhead
    # (sf10 A/B: 7.1-8.4 s SMJ vs 4.4-5.9 s hash, identical pairs).
    # Size-gated because a join hint SUPPRESSES the optimizer's
    # broadcast selection — at small scale the planner broadcasts this
    # join and must keep doing so; the hint only fires where the
    # relation is far past any broadcast threshold and SMJ was the
    # alternative. Per-partition build size stays bounded: the posting
    # relation shuffles at the session's corpus-scaled partition count.
    if n_ranked > 2_000_000:
        ranked = ranked.hint("SHUFFLE_HASH")
    a, b = ranked.alias("a"), ranked.alias("b")
    # positional filter (PPJoin): a collision at prefix ranks (ra, rb)
    # bounds the overlap by 1 + min(|A|-ra, |B|-rb); J >= t needs
    # overlap >= t/(1+t) * (|A|+|B|). The FIRST collision of a
    # qualifying pair always satisfies the bound, so keeping pairs
    # where ANY collision passes preserves recall 1.0.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a._sz") + F.col("b._sz"))
    )
    return (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id"))
            # size filter: J(A,B) >= t  =>  min(|A|,|B|) >= t * max(|A|,|B|)
            & (
                F.least("a._sz", "b._sz").cast("double")
                >= F.lit(threshold) * F.greatest("a._sz", "b._sz")
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("a._sz") - F.col("a._r"), F.col("b._sz") - F.col("b._r")
                )
                >= alpha
            ),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


_VERIFY_BC_DEFAULT_MB = 512.0


def verify_broadcast_fits(
    spark: SparkSession, est_mb: float, budget_mb: float | None = None
) -> bool:
    """Whether a verify join broadcasts its per-item side of ``est_mb``
    estimated MB — the one budget the Jaccard and cosine verify joins
    share. ``budget_mb`` overrides the budget, else conf
    ``spark.titan.verifyBroadcastMb``, else env SPARK_GRAFT_VERIFY_BC_MB,
    else 512. A value that is not a number of MB (``512m``, ``auto``)
    falls back to 512 with a warning instead of failing the join. A
    budget <= 0 always takes the shuffle arm, even for an empty side."""
    if budget_mb is None:
        raw = spark.conf.get(
            "spark.titan.verifyBroadcastMb",
            os.environ.get("SPARK_GRAFT_VERIFY_BC_MB", str(_VERIFY_BC_DEFAULT_MB)),
        )
        try:
            budget_mb = float(raw)
        except (TypeError, ValueError):
            budget_mb = math.nan
        if math.isnan(budget_mb):
            warnings.warn(
                f"verify broadcast budget {raw!r} is not a number of MB; "
                f"using {_VERIFY_BC_DEFAULT_MB:g}",
                RuntimeWarning,
            )
            budget_mb = _VERIFY_BC_DEFAULT_MB
    return 0 < budget_mb and est_mb <= budget_mb


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
    hash_shingles: bool = True,
    broadcast_budget_mb: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).

    Only documents that appear in a candidate pair are shingled: a
    semi-join against the candidate id set runs first, so the verify
    stage costs O(candidates), not two full-corpus shingle passes —
    at 100 TB the candidate set is orders of magnitude smaller than
    the corpus. ``shingle_df``: optional precomputed ``(_id, _sh)``
    table (skips re-shingling when the candidate stage already did).

    ``hash_shingles`` (default on): map each shingle string to its
    xxhash64 long BEFORE the pair joins. Every candidate pair ships
    both documents' full shingle sets through two shuffle joins, so
    bytes-per-shingle is THE verify-stage cost at scale — an ~30-byte
    trigram string becomes an 8-byte long (measured 196 s → well under
    half on the 15 M-candidate sf10 verify, where the string arrays
    spilled the 32-partition shuffle). Intersection and union COUNTS —
    hence the Jaccard value — are identical unless two distinct
    shingles collide in 64 bits (p ≈ n²/2⁶⁵; ~3e-6 for 10 M distinct
    shingles). Pass ``False`` for the bit-exact string path.

    Join strategy: the per-doc shingle relation is ~pairs-per-doc times
    SMALLER than the pair-attached intermediate (each doc's array would
    otherwise ship once per partner through the second join's shuffle —
    at sf10 that wide shuffle alone measured 77 s of the 92 s verify,
    vs 2.7 s for the first join whose output never re-shuffles). When
    its estimated size fits a byte budget (default 512 MB, conf
    ``spark.titan.verifyBroadcastMb`` / env SPARK_GRAFT_VERIFY_BC_MB),
    both joins broadcast the shingle side and the pair relation never
    shuffles at all; above the budget the shuffle path with pair-volume
    partition sizing is kept unchanged.

    ``broadcast_budget_mb``: explicit override of that budget (0 forces
    the shuffle path; tests A/B the two arms with it).
    """
    # (id_a, id_b) pairs only — materialized once because the plan
    # references the candidate set four times (id union + two joins)
    candidates, n_cand = counted_cut(candidates)
    cand_ids = (
        candidates.select(F.col("id_a").alias("_jid"))
        .unionByName(candidates.select(F.col("id_b").alias("_jid")))
        .distinct()
    )
    if shingle_df is not None:
        sh = shingle_df.select(F.col("_id").alias("_jid"), "_sh").join(
            cand_ids, "_jid", "left_semi"
        )
    else:
        sh = df.select(F.col(id_col).alias("_jid"), F.col(text_col)).join(
            cand_ids, "_jid", "left_semi"
        )
        sh = sh.select("_jid", shingles(F.col(text_col), shingle_n).alias("_sh"))
    if hash_shingles:
        sh = sh.select(
            "_jid", F.transform("_sh", lambda g: F.xxhash64(g)).alias("_sh")
        )
    # materialize the per-doc shingle relation once: both join sides
    # read it (the un-cut form re-ran the semi-join + hash transform
    # per side); the byte estimate below is observed on the cut's job
    size = Observation()
    sh = cut_lineage(
        sh.observe(
            size, F.count(F.lit(1)).alias("docs"), F.sum(F.size("_sh")).alias("elems")
        ),
        eager=True,
    )
    elem_bytes = 8 if hash_shingles else 40
    est_mb = ((size.get["elems"] or 0) * elem_bytes + size.get["docs"] * 24) / 1e6
    sess = candidates.sparkSession
    sh_a = sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "sh_a")
    sh_b = sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "sh_b")
    if verify_broadcast_fits(sess, est_mb, broadcast_budget_mb):
        # broadcast arm: each doc's array ships once per executor, and
        # the pair relation streams through two map-side hash joins
        # with NO shuffle — the alternative re-shuffles the pair rows
        # with the first side's array already attached (~pairs-per-doc
        # × the relation size; 77 s of the 92 s sf10 verify)
        j = candidates.join(F.broadcast(sh_a), "id_a").join(
            F.broadcast(sh_b), "id_b"
        )
    else:
        # Shuffle arm (above the broadcast budget — the 100 TB path).
        # Size the verify-join parallelism to the PAIR volume, not the
        # session default: each joined row carries two full shingle
        # arrays, so at the corpus-tuned partition count a 15 M-pair
        # verify packs ~GB payloads per task and spills (measured at
        # sf10). Repartitioning the SMALL shingle side on each join key
        # makes the join co-partition the pair side to the same count —
        # no extra shuffle of the wide intermediate. Never lowers the
        # session setting; capped so a huge candidate set cannot
        # explode the task count past scheduler sanity.
        try:
            # the conf may be non-numeric on some platforms (e.g.
            # "auto" under AQE-managed shuffles) — fall back to the
            # cluster's default parallelism rather than crashing
            base_part = int(sess.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            base_part = sess.sparkContext.defaultParallelism or 200
        n_part = max(base_part, min(2048, n_cand // 50_000 + 1))
        j = candidates.join(sh_a.repartition(n_part, "id_a"), "id_a").join(
            sh_b.repartition(n_part, "id_b"), "id_b"
        )
    # shingle arrays are sets (array_distinct upstream), so the union
    # size derives from the sizes: |A∪B| = |A|+|B|−|A∩B| — skipping the
    # array_union walk halves the per-pair array work (measured −27%
    # on the verify stage at sf0.1, identical results)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / F.when(union > 0, union).otherwise(F.lit(1))).alias("jaccard"),
    )


def dedup_clusters(pairs: DataFrame, out_id: str = "doc_id") -> DataFrame:
    """Collapse near-dup pairs into clusters: (out_id, cluster_rep)
    with rep = min doc id in the connected component of the pair graph.

    The canonical dedup finish: LSH/jaccard emits pairwise matches;
    transitive closure groups them so one representative survives per
    cluster. Runs as connected components over the pair graph — scales
    with pair volume, not corpus size. A pair graph whose ids and
    endpoints fit Spark's ``autoBroadcastJoinThreshold`` (8 B per id,
    capped at ~1.3 M ids) is finished on the driver with union-find in
    a few jobs; above it,
    min-label propagation runs on the cluster (see
    compute.algorithms.connected_components).
    """
    from titan_spark.compute.algorithms import connected_components
    from titan_spark.graph import PropertyGraph

    # the pair pipeline upstream (LSH / prefix-filter + verify) is the
    # expensive part; materialize it once — the id union and the edge
    # relation below would otherwise each re-run it
    pairs = cut_lineage(pairs, eager=True)
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .dropDuplicates(["id"])
        .withColumn("label", F.lit("doc"))
    )
    edges = pairs.select(
        F.monotonically_increasing_id().alias("edge_id"),
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.lit("dup").alias("label"),
    )
    g = PropertyGraph(ids, edges)
    cc = connected_components(g)
    return cc.select(F.col("id").alias(out_id), F.col("component").alias("cluster_rep"))


def dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Soft dedup: instead of dropping near-dup losers, down-weight
    every member of a duplicate cluster → (id_col, cluster_rep,
    cluster_size, weight) with weight = cluster_size^-alpha.

    alpha=1 makes each cluster contribute one document's worth of
    sampling mass in total (the sum of its member weights is 1) — the
    standard alternative to hard dedup when duplicates carry signal
    (popular pages, boilerplate variants) that exact removal would
    erase; alpha<1 interpolates toward keeping everything. Documents
    in no pair are singleton clusters at weight 1.

    Scale shape: the pair graph is tiny next to the corpus (dup volume,
    not corpus volume); cluster sizes are one aggregate over the CC
    output, and the corpus-sized join is a left join on the doc id —
    no per-document work beyond it.
    """
    clusters = dedup_clusters(pairs, out_id=id_col)
    sizes = clusters.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        docs.select(F.col(id_col))
        .join(clusters.join(sizes, "cluster_rep"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_rep", F.col(id_col)).alias("cluster_rep"),
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
            F.round(
                F.pow(F.coalesce("cluster_size", F.lit(1)).cast("double"), F.lit(-float(alpha))),
                6,
            ).alias("weight"),
        )
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over 64-bit token hashes (default 32 bits so the
    signature fits a signed long without overflow).

    For each bit: sum(+1/-1 weighted by token presence) → sign. Built
    from array algebra over the token stream; deterministic.
    ``hash_fn='portable'`` selects the md5-derived hash reproducible in
    DuckDB so the signature itself is value-checked by the oracle (see
    functions/hashing.py); ``'xxhash64'`` (default) is the cheaper
    production hash.
    """
    h64 = resolve_hash_fn(hash_fn)
    toks = F.array_distinct(tokenize(F.col(text_col)))
    hashes = F.transform(toks, lambda t: h64(t))

    def _votes(h):
        # ±1 vote per bit for one token hash (h is already evaluated)
        return F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
                for b in range(bits)
            ]
        )

    # single fold over the token hashes → per-bit vote totals
    totals = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _votes(h), lambda a, b: a + b),
    )
    weights = F.array(*[F.lit(2**b).cast("long") for b in range(bits)])
    sig = F.aggregate(
        F.zip_with(totals, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming <= max_hamming).

    Banded pigeonhole join — the classic Manku/Jain/Sarma trick
    (WWW'07, "Detecting Near-Duplicates for Web Crawling"): split the
    signature into ``max_hamming + 1`` bit-bands; a pair within the
    hamming radius differs in at most ``max_hamming`` bits, so at
    least one band matches EXACTLY. Join on (band, band bits) —
    recall 1.0, shuffle proportional to band-collision volume, never
    the O(n²) signature cross product — then verify with the exact
    ``bit_count(xor)``.
    """
    sig = cut_lineage(
        simhash(df, text_col, id_col, bits, hash_fn=hash_fn).select(
            F.col(id_col).alias("_id"), "simhash"
        ),
        eager=True,
    )
    return hamming_banded_pairs(sig, bits, max_hamming, sig_col="simhash")


def hamming_banded_pairs(
    sig: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Generic Manku/Jain/Sarma banded pigeonhole join over any
    fixed-width bit signature (WWW'07): split ``bits`` into
    ``max_hamming + 1`` bands — a pair within the Hamming radius
    differs in at most ``max_hamming`` bits, so at least one band
    matches EXACTLY (recall 1.0 by pigeonhole). Join on (band, band
    bits), verify with the exact ``bit_count(xor)``. The shuffle is
    proportional to band-collision volume, never the O(n²) signature
    cross product — the shared engine under SimHash text near-dup and
    dHash perceptual image near-dup. Returns (id_a, id_b, hamming)
    with id_a < id_b, deduplicated across bands."""
    nb = max_hamming + 1
    w = bits // nb
    bands = []
    for i in range(nb):
        lo = i * w
        width = bits - lo if i == nb - 1 else w
        bands.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("_sig"), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
        )
    banded = (
        sig.select(
            F.col(id_col).alias("_id"), F.col(sig_col).cast("long").alias("_sig")
        )
        .select("_id", "_sig", F.explode(F.array(*bands)).alias("bb"))
        .select("_id", "_sig", "bb.band", "bb.key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def phash_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    grid_w: int = 8,
    grid_h: int = 8,
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual image near-dup pairs (r10): dHash signatures over
    each payload's decoded luminance grid, then the same banded
    pigeonhole join as SimHash — (id_a, id_b, hamming <= max_hamming).

    The image-dedup member of the near-dup family (text has
    MinHash/SimHash/Jaccard; this is the pixel-space analog): uniform
    brightness shifts hash identically, small edits and 1-px shifts of
    smooth content land within a small Hamming radius, unrelated
    images sit ~bits/2 apart. Scale shape: the decode kernel is one
    shuffle-free mapInPandas pass (image bytes never leave their scan
    partitions); only the 8-byte signatures enter the banded self-join,
    whose shuffle is band-collision-bounded — nothing all-pairs.

    Reference parity: the reference's external mixed indexes answer
    image-similarity style queries only by delegating to the provider
    (diskstorage/indexing/IndexProvider.java); this engine makes the
    fingerprint+join a first-class distributed operator instead."""
    from titan_spark.pipeline.multimodal import image_dhash

    bits = grid_h * (grid_w - 1)
    sig = cut_lineage(
        image_dhash(media, grid_w, grid_h).select(
            F.col(id_col).alias("_id"), "sig"
        ),
        eager=True,
    )
    return hamming_banded_pairs(sig, bits, max_hamming)


def segment_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "delimiter",
    delimiter: str = "\n",
    tokens_per_line: int = 10,
) -> DataFrame:
    """Explode documents into ordered segments → (id, pos, line).

    ``mode='delimiter'`` splits on a literal separator (the C4 contract:
    a "line" is a newline-delimited span). ``mode='tokens'`` windows the
    Titan tokenizer's stream into fixed ``tokens_per_line`` spans — the
    fallback for corpora without layout structure (the synthetic test
    corpus has no newlines). Empty segments are dropped, so empty
    documents contribute no rows. Pure per-row array algebra; the only
    wide op is the caller's.
    """
    if mode == "delimiter":
        import re as _re

        lines = F.split(F.col(text_col), _re.escape(delimiter), -1)
    elif mode == "tokens":
        toks = tokenize(F.col(text_col))
        k = tokens_per_line
        n_lines = F.greatest(F.ceil(F.size(toks) / k).cast("int"), F.lit(1))
        lines = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
        )
    else:
        raise ValueError(f"unknown segmentation mode: {mode!r}")
    return (
        df.select(F.col(id_col).alias("id"), F.posexplode(lines).alias("pos", "line"))
        .filter(F.length("line") > 0)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "delimiter",
    delimiter: str = "\n",
    tokens_per_line: int = 10,
) -> DataFrame:
    """Corpus-level exact line deduplication (the C4 cleanup: Raffel et
    al. 2020 keep one occurrence of every three-sentence span; here the
    unit is a line/segment): every distinct line survives only at its
    FIRST occurrence in (doc id, position) order; later occurrences —
    across documents or within one — are removed and the documents are
    reassembled from their surviving lines.

    Returns (id_col, kept_lines, text) for documents with ≥1 surviving
    line; ``text`` is the surviving lines joined with the segment
    separator.

    Shuffle profile at 100 TB: (1) winner election groups ~32
    bytes/line — (md5, id, pos), never the line text (hash-first, the
    same trick as exact_duplicate_groups; md5 rather than xxhash64 so
    the DuckDB oracle reproduces the election exactly, with 128-bit
    collision odds); (2) the keep semi-join and (3) the reassembly both
    shuffle surviving text once on (id, pos) / id — the irreducible
    cost of rewriting the corpus, and the same passes a C4-style
    map-reduce implementation pays.
    """
    from titan_spark.compute.checkpointing import cut_lineage

    seg = segment_lines(df, text_col, id_col, mode, delimiter, tokens_per_line)
    # segmentation + md5 feeds the election and the keep semi-join —
    # materialized once instead of running the corpus pass twice
    hashed = cut_lineage(
        seg.select("id", "pos", "line", F.md5("line").alias("_h")), eager=True
    )
    winners = hashed.groupBy("_h").agg(
        F.min(F.struct("id", "pos")).alias("_first")
    ).select("_h", F.col("_first.id").alias("id"), F.col("_first.pos").alias("pos"))
    kept = hashed.join(winners, ["_h", "id", "pos"], "left_semi")
    sep = delimiter if mode == "delimiter" else " "
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("kept_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
        )
        .select(F.col("id").alias(id_col), "kept_lines", "text")
    )


def repeated_passage_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact repeated-passage statistics — the windowed form of exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): every distinct ``window``-token
    rolling window of every document is hashed; a window appearing in
    ≥ ``min_docs`` distinct documents is REPEATED, and each document
    reports how much of itself is repeated elsewhere →
    (id_col, n_windows, n_repeated, repeat_frac). Consumers cut or
    down-weight high-repeat_frac documents (verbatim boilerplate,
    license blocks, templated pages) — the passage-level signal that
    whole-document MinHash similarity cannot see. Documents shorter
    than ``window`` tokens contribute one whole-doc window (the same
    clamp as :func:`shingles`, replayed by the SQL oracle).

    Scale shape: windows explode to one row per (doc, distinct
    window), but each row carries an 8-byte hash — never text — and
    both aggregates are map-side combinable; the repeated-set join
    keys on the hash. The window stream is deliberately recomputed for
    the two passes instead of cached: at corpus scale the exploded
    relation dwarfs memory, and two scans of columnar text beat
    spilling a 100×-inflated cache.
    """
    h64 = resolve_hash_fn(hash_fn)
    wins = shingles(F.col(text_col), window)
    rows = df.select(F.col(id_col), F.explode(wins).alias("_w")).select(
        id_col, h64(F.col("_w")).alias("_h")
    )
    # windows are distinct per doc, so the count per hash IS the
    # distinct-document count
    rep = (
        rows.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h", F.lit(1).alias("_rep"))
    )
    return (
        rows.join(rep, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("_rep").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_repeated"),
        )
        .select(
            id_col,
            "n_windows",
            "n_repeated",
            F.round(
                F.col("n_repeated").cast("double") / F.col("n_windows"), 6
            ).alias("repeat_frac"),
        )
    )


def exact_substring_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Exact-substring deduplication — the full ExactSubstr transform
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", §3.1): any span of ≥ ``k`` tokens that occurs more
    than once in the corpus (across documents OR within one) is
    removed everywhere except its corpus-first occurrence. Unlike
    :func:`boilerplate_passage_removal` (disjoint fixed passages),
    the windows here OVERLAP — every token position starts one — so a
    shared span of any length ≥ k is detected at token granularity and
    the overlapping duplicated windows merge into one maximal removed
    span, exactly the suffix-array semantics of the paper without the
    suffix array.

    Mechanics: each k-token rolling window is keyed by md5 of its
    space-joined text (md5 so the DuckDB oracle replays the election
    bit-for-bit); a window hash with ≥ 2 occurrences is duplicated;
    per hash the corpus-first occurrence by (id, start) keeps its
    tokens, every other occurrence marks [start, start+k) for
    removal; per-document interval union (gaps-and-islands over a
    running max) merges overlapping marks into maximal spans; the doc
    reassembles from tokens outside every span. Documents shorter
    than k tokens carry no window and pass through verbatim (they
    cannot share a k-token span). Documents whose every token is
    removed disappear from the output, like
    :func:`boilerplate_passage_removal`.

    Returns (id_col, n_tokens, removed_tokens, text).

    Shuffle profile at 100 TB: the duplicate count and the winner
    election group on the 16-byte window hash — window text never
    shuffles; the interval union partitions by document id (one
    window-function pass over the loser set, which duplicate
    filtering keeps small); the removed-position explode emits
    exactly the removed-token count because spans are merged first
    (unmerged, overlapping windows would inflate it k-fold); the
    reassembly shuffles surviving tokens once on id — the
    irreducible corpus rewrite, same as line_dedup. Hashing each
    window by concat+md5 costs O(k) per position; a Rabin-Karp
    rolling hash (the fingerprint machinery) drops that to O(1) but
    is not oracle-replayable, so the portable form stays md5.
    """
    from pyspark.sql import Window

    from titan_spark.compute.checkpointing import cut_lineage

    # tokenized corpus is read by the position explode, the window
    # pass, and the length table — materialized once (three tokenize
    # scans otherwise)
    base = cut_lineage(
        df.select(
            F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("_toks")
        )
        .filter(F.size("_toks") > 0),
        eager=True,
    )
    toks = base.select("id", F.posexplode("_toks").alias("pos", "tok"))
    # the rolling-window md5 pass is O(k) per token position — the
    # single most expensive stage; it feeds both the duplicate count
    # and the occurrence join, so materialize it once. It is also the
    # pipeline's WIDEST intermediate (one md5 string per token
    # position); above ~30M positions the one-shot cut goes to disk
    # instead of pinning gigabytes of MEMORY_AND_DISK
    # localCheckpoint blocks in the executors (r12,
    # ADVICE r11 — the count is one agg over the already-checkpointed
    # base, not a second tokenize pass)
    n_positions = base.agg(F.sum(F.size("_toks"))).first()[0] or 0
    big = n_positions > 30_000_000
    wins = cut_lineage(
        base.filter(F.size("_toks") >= k).select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda s: F.md5(F.concat_ws(" ", F.slice("_toks", s + 1, k))),
                )
            ).alias("start", "_h"),
        ),
        eager=True,
        disk=big,
    )
    dup = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
    )
    # duplicated occurrences only (small next to the corpus): the
    # winner election and the loser anti-join both read it
    occ = cut_lineage(wins.join(dup, "_h", "left_semi"), eager=True)
    winners = (
        occ.groupBy("_h")
        .agg(F.min(F.struct("id", "start")).alias("_first"))
        .select(
            "_h",
            F.col("_first.id").alias("id"),
            F.col("_first.start").alias("start"),
        )
    )
    iv = occ.join(winners, ["_h", "id", "start"], "left_anti").select(
        "id", "start", (F.col("start") + F.lit(k)).alias("end")
    )
    w = Window.partitionBy("id").orderBy("start", "end")
    merged = (
        iv.withColumn(
            "_maxend",
            F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "_new",
            F.when(
                F.col("_maxend").isNull() | (F.col("start") > F.col("_maxend")), 1
            ).otherwise(0),
        )
        .withColumn("_grp", F.sum("_new").over(w))
        .groupBy("id", "_grp")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
    )
    removed = merged.select(
        "id", F.explode(F.sequence("start", F.col("end") - 1)).alias("pos")
    )
    kept = toks.join(removed, ["id", "pos"], "left_anti")
    n_tokens = base.select("id", F.size("_toks").alias("n_tokens"))
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
        )
        .join(n_tokens, "id")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.col("_kept")).cast("long").alias(
                "removed_tokens"
            ),
            "text",
        )
    )


def boilerplate_passage_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "tokens",
    delimiter: str = "\n",
    window: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """Cross-document boilerplate passage REMOVAL — the transform form
    of :func:`repeated_passage_stats` (Lee et al. 2022: repeated spans
    are cut from the corpus, not just counted). Documents are
    segmented into consecutive ``window``-token passages (or
    delimiter-split lines, ``mode='delimiter'``); a passage whose text
    occurs in MORE than ``max_docs`` distinct documents is boilerplate
    (license blocks, templated headers, navigation chrome). Every
    boilerplate occurrence is dropped except the corpus-first one in
    (doc id, position) order — the same winner-election machinery as
    :func:`line_dedup` — while passages within the threshold keep all
    their occurrences. Documents are reassembled from their surviving
    passages → (id_col, n_passages, kept_passages, text); documents
    whose every passage was cut disappear from the output (fully
    boilerplate).

    Shuffle profile at 100 TB: the distinct-doc count and the winner
    election both group on (md5, id, pos) — never passage text (md5
    rather than xxhash64 so the DuckDB oracle replays the election
    exactly); the election itself runs only on the boilerplate subset,
    which threshold-filtering keeps tiny relative to the corpus; the
    reassembly shuffles surviving text once on id — the irreducible
    cost of rewriting the corpus, identical to line_dedup's.
    """
    from titan_spark.compute.checkpointing import cut_lineage

    seg = segment_lines(df, text_col, id_col, mode, delimiter, window)
    # segmentation + md5 feeds FOUR consumers (boilerplate count,
    # winner election, both kept branches) plus the passage count —
    # materialized once instead of re-running the corpus pass per
    # consumer
    hashed = cut_lineage(
        seg.select("id", "pos", "line", F.md5("line").alias("_h")), eager=True
    )
    boiler = (
        hashed.groupBy("_h")
        .agg(F.count_distinct("id").alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("_h")
    )
    winners = (
        hashed.join(boiler, "_h", "left_semi")
        .groupBy("_h")
        .agg(F.min(F.struct("id", "pos")).alias("_first"))
        .select(
            "_h",
            F.col("_first.id").alias("id"),
            F.col("_first.pos").alias("pos"),
        )
    )
    kept = hashed.join(boiler, "_h", "left_anti").unionByName(
        hashed.join(winners, ["_h", "id", "pos"], "left_semi")
    )
    n_passages = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_passages"))
    sep = delimiter if mode == "delimiter" else " "
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("kept_passages"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
        )
        .join(n_passages, "id")
        .select(
            F.col("id").alias(id_col), "n_passages", "kept_passages", "text"
        )
    )
