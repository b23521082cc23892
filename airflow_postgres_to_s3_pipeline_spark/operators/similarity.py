"""Similarity search over embedding columns (SURVEY.md §2B E26).

Three tiers, all over ``embeddings.embedding`` (array<float>):

- ``knn_bruteforce``: exact top-k cosine for a small query set — broadcast
  the queries against the corpus scan (no shuffle of the corpus), per-query
  top-k via window.  The corpus side streams; this is the correct exact
  baseline even at 100 TB when the query set is small.
- ``embedding_near_dup``: exact all-pairs above a cosine threshold —
  quadratic, only for modest corpus slices; the scale path is the LSH tier.
- ``knn_ivf`` / ``embedding_lsh_near_dup``: sub-linear approximate variants
  (IVF cluster probing, random-hyperplane LSH bucketing) whose candidate
  generation is an equi-join on bucket ids — the 100 TB shape.

All vector math is fp64 and comes from functions/vector.py in two tiers.
The higher-order-function folds run JVM-side and are the reference
semantics.  Their numpy twins (``np_dot``, ``np_cosine``, ``np_sq_l2``) run
in Python workers over Arrow batches and are the default for the GEMM
tiers.  Both accumulate dimension by dimension, left to right, so their
outputs are bit-identical to each other and to the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.cache import tracked_persist
from airflow_postgres_to_s3_pipeline_spark.catalog import table, table_rows
from airflow_postgres_to_s3_pipeline_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_norm,
    np_cosine,
    np_dot,
    np_sq_l2,
    np_sq_norm,
    sq_l2,
    to_double_array,
)
from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
    LSH_MAX_BUCKET,
    _cap_buckets,
    spread_input,
)

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


N_QUERIES = 10
TOP_K = 5


def _ieee_norm(col):
    """IEEE-normalize a double array for use as a HASH input: -0.0 →
    +0.0 (x + 0.0) and every NaN payload → one canonical NaN (nanvl).
    Spark's NormalizeFloatingNumbers rule does this automatically for
    join/group/window KEYS, but NOT for a precomputed ``hash(...)``
    column — hashing the raw array lets a 0.0-vs--0.0 bitwise-variant
    pair hash apart and silently miss an equi-join the row-local
    equality would have accepted (r10 ADVICE)."""
    return F.transform(
        col, lambda x: F.nanvl(x + F.lit(0.0), F.lit(float("nan")))
    )


def _salt_shards(df: DataFrame, n_shards: int) -> DataFrame:
    """Hash-salt a corpus frame into ``n_shards`` cogroup buckets — one
    half of the GEMM distribution pattern shared by every numpy tier
    (ivf/kmeans assign, knn, PQ encode, ADC scoring); single-sourced so
    the sharding scheme cannot drift between tiers."""
    return df.withColumn(
        "shard", F.pmod(F.hash("vec_id"), F.lit(n_shards)).cast("int")
    )


def _replicate_per_shard(df: DataFrame, n_shards: int) -> DataFrame:
    """Replicate a broadcast-sized frame once per shard — the cogroup
    partner of ``_salt_shards``.  The range side is broadcast, so the
    crossJoin is a metadata-sized BroadcastNestedLoopJoin, never a
    cartesian (plan-lint enforced per entry)."""
    spark = df.sparkSession
    return df.crossJoin(
        F.broadcast(
            spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
        )
    )


def _cogroup_np(left: DataFrame, right: DataFrame, key: str, kernel,
                schema: str) -> DataFrame:
    """Run ``kernel(left_pdf, right_pdf)`` on each ``key`` group of a
    cogroup — the plumbing of every numpy GEMM tier.  A group with an
    empty side returns a column-less ``pd.DataFrame()``, which Spark reads
    as zero rows of any schema; with queries or codebooks replicated to
    every shard, each shard that got no corpus rows lands there, so a
    kernel only ever sees two non-empty frames."""
    def run(left_pdf, right_pdf):
        import pandas as pd

        if left_pdf.empty or right_pdf.empty:
            return pd.DataFrame()
        return kernel(left_pdf, right_pdf)

    return (
        left.groupBy(key).cogroup(right.groupBy(key)).applyInPandas(run, schema)
    )


# rows per GEMM cogroup shard below which the per-task Python-worker /
# Arrow round-trip costs more than the numpy kernel it feeds (the kernel
# on a 256 x 64 fp64 chunk is sub-millisecond; a Python task's fixed cost
# is ~60ms under the engine daemon, ~310ms before it: 4-core host,
# docs/SCALE.md "Python-worker task start").  Only a lower bound on
# rows-per-shard — the shard count is still capped at defaultParallelism,
# so big corpora keep every core busy.
GEMM_SHARD_TARGET_ROWS = 256


def _gemm_shards(spark: SparkSession, n_rows: int) -> int:
    """Scale-adaptive cogroup shard count for the numpy GEMM tiers:
    min(defaultParallelism, ceil(n_rows / GEMM_SHARD_TARGET_ROWS)).
    At corpus scale this is defaultParallelism unchanged; on a small
    corpus it stops the fixed 32-way salt from paying 32 Python-worker
    round-trips per stage for sub-millisecond kernels (r13 measured at
    sf0.1, 2,000 vectors: knn_ivfpq 4.35 -> 3.20s warm min with 8
    shards).  Results are shard-independent — every kernel is row-local
    with row-wise dimension-ordered accumulation, pinned by the
    GEMM-vs-fold parity tests — so this is purely a scheduling knob.
    The count() a caller feeds this is the same collection statistic the
    adaptive-stride/derived-k paths already maintain."""
    par = spark.sparkContext.defaultParallelism
    return max(1, min(par, -(-n_rows // GEMM_SHARD_TARGET_ROWS)))


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10).

    Broadcast(queries) x corpus scan -> cosine -> per-query top-k window.
    Ranking uses (rounded sim DESC, vec_id ASC) so ordering is deterministic
    and engine-independent.

    Zero-norm vectors (dead encoder rows — what ``embedding_dim_stats``
    exists to detect) are **not neighbors**, enforced identically on all
    three paths (r9 review finding): ``cosine_similarity`` yields NULL
    for them via try_divide (a plain ``/`` THROWS under Spark 4's
    default ANSI mode — one bad corpus row killed the whole job),
    filtered before ranking here; knn_gemm's kernel maps its 0/0 NaNs to
    -inf so they can neither win a slot nor poison a shard's k-th
    threshold; and the SQL oracle excludes them by a norm-product > 0
    predicate (DuckDB's list_cosine_similarity returns -1.0 for them,
    which would otherwise fill slots on a sparse corpus).  Pinned by
    tests/test_similarity.py::test_knn_zero_norm_vectors_are_not_neighbors.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = spread_input(e).join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(cosine_similarity(F.col("qv"), F.col("v")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


_oracle(
    "knn_bruteforce",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), pairs AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS sim,
               list_dot_product(q.qv, q.qv)
                   * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])) AS nn
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), finite_pairs AS (
        -- zero-norm rows are not neighbors (shared semantics; see the
        -- Spark docstring): Spark's try_divide yields NULL exactly when
        -- this norm product is 0, and DuckDB's list_cosine_similarity
        -- would otherwise return -1.0 for them
        SELECT query_id, neighbor_id, sim FROM pairs WHERE nn > 0
    )
    SELECT query_id, neighbor_id, sim, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rnk
        FROM finite_pairs
    ) WHERE rnk <= {TOP_K}
    """,
)


NEAR_DUP_THRESHOLD = 0.4  # testdata vectors are near-random (max pairwise
# cosine ~0.51 at sf0.01), so 0.4 yields a non-vacuous oracle check; a real
# dedup corpus uses ~0.9.


def embedding_near_dup(spark: SparkSession, sf_dir: str,
                       threshold: float = NEAR_DUP_THRESHOLD) -> DataFrame:
    """Exact near-duplicate pairs: cosine >= threshold over all pairs.

    **Oracle-baseline only — not a scale operator.**  The all-pairs join is
    O(n^2) by construction; it exists so the sub-quadratic scale path
    (``embedding_lsh_near_dup``, ``knn_ivf``) has an exact reference to be
    verified against.  Exclude it from any 100 TB claim.

    The streamed side is widened (``spread_input``) so the O(n^2) pair
    loop spreads over every core — a single-file corpus otherwise runs the
    nested-loop join in ONE task (measured 10x: 52s -> 5s at sf0.1 on
    local[32]).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    a = spread_input(e).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine_similarity(F.col("va"), F.col("vb")), 4)
    return pairs.select("id_a", "id_b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


_oracle(
    "embedding_near_dup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4)
          >= {NEAR_DUP_THRESHOLD}
    """,
)


def _centroids(e: DataFrame, every: int = 50) -> DataFrame:
    """Deterministic pseudo-centroids: every Nth vector is a centroid.

    A real deployment would run k-means (pyspark.ml) once per corpus build;
    the IVF *query* path below is identical either way, so the index shape
    is what's exercised here.
    """
    return e.filter(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") / every).cast("long").alias("centroid_id"),
        F.col("v").alias("cv"),
    )


def ivf_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid via the packed-
    centroid broadcast argmax: the centroid set evaluates row-locally
    inside the scan, so NO (corpus x cells) row explosion or shuffle ever
    materializes (the join+window-argmin formulation shuffles n*cells
    rows — 353M at 500k vectors x 707 cells).  Honest cost accounting at
    that size: join+window 340s, this HOF formulation 444s (higher-order
    lambdas are CodegenFallback, so per-element cost dominates once cells
    grow), ``ivf_assign_gemm`` 23s — use the GEMM tier for real index
    builds; this tier exists for small cell counts and as the
    shuffle-free reference semantics."""
    packed = centroids.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("centroid_id", "cv"))).alias("_cs")
    )
    # Each cosine evaluates ONCE into a materialized array (own projection,
    # multi-referenced so CollapseProject keeps the barrier); the winner is
    # the FIRST array_max position = lowest centroid_id on ties, identical
    # to ORDER BY csim DESC, centroid_id ASC and to the SQL oracle.  The
    # v-norm is hoisted into its own column so the per-centroid work is one
    # dot + one centroid norm (nv * l2(cv) multiplies in the same order as
    # cosine_similarity's l2(a) * l2(b), so values stay bit-identical).
    sims = F.transform(
        F.col("_cs"),
        lambda c: dot(F.col("v"), c["cv"]) / (F.col("_nv") * l2_norm(c["cv"])),
    )
    best_idx = F.array_position(F.col("_sims"), F.array_max(F.col("_sims")))
    return (
        spread_input(e).crossJoin(F.broadcast(packed))
        .withColumn("_nv", l2_norm(F.col("v")))
        .withColumn("_sims", sims)
        .withColumn(
            "centroid_id",
            F.element_at(F.col("_cs"), best_idx.cast("int"))["centroid_id"],
        )
        .select("vec_id", "v", "centroid_id")
    )


def ivf_probe_fold(q: DataFrame, centroids: DataFrame,
                   n_probe: int) -> DataFrame:
    """Row-local top-``n_probe`` probe cells per query via the packed-
    centroid HOF fold — the kernel a SERVING path runs per incoming
    query (one query vector against the broadcast centroid table; no
    join, no shuffle, no window).  This is the scale-honest home for the
    interpreted fold demonstration: its cost is O(queries x cells x dim)
    — bounded by the query set — where the corpus-wide ``ivf_assign``
    fold was O(n x cells x dim) = n^1.5 with the sqrt stride (the r12
    verdict's one weak item).

    Bit-identical to the join+window probe :func:`_probe_cells`: sims use
    the same ``try_divide(dot, l2(q) * l2(cv))`` fp64 grouping as
    ``cosine_similarity``; ranking sorts ``struct(-sim, centroid_id)``
    ascending == ``sim DESC, centroid_id ASC``; a NULL sim (zero-norm
    vector, never present in this corpus) coalesces to +inf so it sorts
    last, matching the window tier's DESC NULLS LAST."""
    packed = centroids.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("centroid_id", "cv"))).alias("_cs")
    )
    sims = F.transform(
        F.col("_cs"),
        lambda c: F.try_divide(
            dot(F.col("qv"), c["cv"]), F.col("_nq") * l2_norm(c["cv"])
        ),
    )
    ranked = F.zip_with(
        F.col("_sims"),
        F.col("_cs"),
        lambda s, c: F.struct(
            F.coalesce(-s, F.lit(float("inf"))).alias("negsim"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    return (
        q.crossJoin(F.broadcast(packed))
        .withColumn("_nq", l2_norm(F.col("qv")))
        .withColumn("_sims", sims)
        .withColumn("_cells", F.slice(F.array_sort(ranked), 1, n_probe))
        .select("query_id", "qv", F.explode(F.col("_cells")).alias("_pc"))
        .select(
            "query_id", "qv", F.col("_pc.centroid_id").alias("centroid_id")
        )
    )


def ivf_assign_gemm(e: DataFrame, centroids: DataFrame,
                    n_shards: int) -> DataFrame:
    """``ivf_assign`` at GEMM speed: the corpus is salted into shards and
    cogrouped with the engine-replicated centroid set (the ``knn_gemm``
    distribution pattern — no driver collect); each Arrow batch computes
    the (chunk x centroids) similarity matrix in numpy with
    DIMENSION-ORDERED accumulation, which is bit-identical to the HOF fold
    and to DuckDB's sequential list arithmetic — so the argmax picks the
    SAME centroid as the fold tier and the result shares the same exact
    oracle.  np.argmax keeps the first maximum over the centroid_id-sorted
    matrix = ties to the lowest centroid_id, the shared tie rule.

    Measured at 500k vectors x 707 centroids: 443s (fold) -> ~25s."""
    def assign(corpus_pdf, c_pdf):
        import numpy as np
        import pandas as pd

        c_pdf = c_pdf.sort_values("centroid_id")
        A = np.stack(corpus_pdf["v"].to_numpy())       # (n, dim)
        C = np.stack(c_pdf["cv"].to_numpy())           # (c, dim)
        idx = np_cosine(A, C).argmax(axis=1)
        cids = c_pdf["centroid_id"].to_numpy()
        return pd.DataFrame(
            {"vec_id": corpus_pdf["vec_id"].to_numpy(),
             "v": corpus_pdf["v"],
             "centroid_id": cids[idx]}
        )

    return _cogroup_np(
        _salt_shards(e, n_shards), _replicate_per_shard(centroids, n_shards),
        "shard", assign, "vec_id long, v array<double>, centroid_id long",
    )


# Module defaults for the IVF tier.  The registered oracle is GENERATED
# from these same constants (_knn_ivf_oracle below), so signature defaults
# and oracle can never drift apart; non-default invocations (e.g.
# tools/scale_smoke.py with every ~ sqrt(n)) are NOT covered by the
# registered oracle — regenerate with _knn_ivf_oracle(every, n_probe) to
# verify those.
IVF_EVERY = 50
IVF_N_PROBE = 2


def _adaptive_every(n: int, floor: int = IVF_EVERY) -> int:
    """Corpus-adaptive centroid stride: max(floor, isqrt(n)) — the
    classic sqrt cell balance the knn_ivf docstring derives.  isqrt, not
    floor(sqrt()): the oracle mirrors this as FLOOR(SQRT(n)) in fp64,
    and the two agree exactly for every corpus below 2^52 rows (IEEE
    sqrt is exact on that range's perfect squares; off perfect squares
    both truncate the same irrational)."""
    import math

    return max(floor, math.isqrt(n))


def knn_ivf(spark: SparkSession, sf_dir: str, n_probe: int = IVF_N_PROBE,
            every: int | None = None,
            probe_tier: str = "join") -> DataFrame:
    """Approximate top-5 neighbors via IVF: probe the n_probe nearest
    centroid cells per query instead of the whole corpus.  Recall is
    approximate by design, but the COMPUTATION is fully deterministic
    (pseudo-centroids, sequential-fold fp64 cosines — bit-identical in
    DuckDB — and (sim, id) tie-broken ranks), so the exact output carries
    a full SQL oracle.

    Scale shape: cluster assignment is a broadcast argmin over the corpus
    scan; the search join hits only matching cells via an equi-join on
    centroid_id, so the per-query work drops from O(corpus) to
    O(corpus / n_cells * n_probe).  ``every`` (centroid stride) must SCALE
    with the corpus: the one-off index build (assignment) costs
    O(n * n/every) distance folds, so a fixed stride makes the build
    quadratic — at 500k vectors stride-50 means 10k cells and 5B folds
    (measured: >10 min, unusable) vs ~350M at the classic sqrt balance
    (every ~ sqrt(n), n_cells ~ sqrt(n)).  The build amortizes over every
    future query; the per-query probe is what a serving path pays.
    The index build is the numpy cogroup GEMM tier (``ivf_assign_gemm``
    — the plan you'd ship at 100x corpus size).  ``probe_tier`` picks
    how each query finds its n_probe cells: ``"join"`` (default) is the
    shared coarse probe :func:`_probe_cells` (broadcast join of queries
    x centroids, ranked with a window); ``"fold"`` runs the row-local
    packed-centroid fold (:func:`ivf_probe_fold`) — bit-identical
    output, zero shuffle, and O(queries x cells) cost, the kernel a
    serving path runs per incoming query.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # collection statistic (stride + shard derivation) from the parquet
    # footers — equals e.count() by parquet contract, zero Spark jobs
    n_vecs = table_rows(sf_dir, "embeddings")
    if every is None:
        # default stride SCALES with the corpus (r12 sf1 probe: the
        # fixed-50 default made the fold tier's index build quadratic —
        # 16.7x wall at 10x data); one count() scan per build, amortized
        # over every query the index serves.  The registered oracle
        # derives the identical stride in SQL (params CTE), so the
        # mirror holds at ANY scale factor; at the driver's sf0.001-0.1
        # the floor keeps every=50 — bit-identical to the old default.
        every = _adaptive_every(n_vecs)
    # two consumers (the assign cogroup and the probe) — persist so the
    # embeddings scan that derives the centroids runs once, as in
    # _ivfpq_index
    cents = tracked_persist(_centroids(e, every))
    assigned = ivf_assign_gemm(e, cents, _gemm_shards(spark, n_vecs))
    if probe_tier == "fold":
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        probe = ivf_probe_fold(q, cents, n_probe)
    else:
        probe = _probe_cells(e, cents, n_probe).select(
            "query_id", "qv", "centroid_id"
        )
    cand = probe.join(assigned, "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(cosine_similarity(F.col("qv"), F.col("v")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


def _knn_ivf_oracle(every: int | None = None,
                    n_probe: int = IVF_N_PROBE) -> str:
    """Exact SQL mirror of ``knn_ivf(every=every, n_probe=n_probe)`` —
    generated from the SAME parameters as the Spark signature defaults so
    the registered oracle cannot silently diverge from the code path the
    driver runs (ADVICE r4: a hard-coded stride invalidates non-default
    calls; callers with custom strides regenerate their own mirror).
    ``every=None`` (the default, matching the Spark signature) derives
    the corpus-adaptive stride IN SQL — GREATEST(floor, FLOOR(SQRT(n)))
    — so the mirror holds at any scale factor; see _adaptive_every for
    the isqrt/FLOOR(SQRT()) agreement argument."""
    ev = (str(every) if every is not None
          else "(SELECT ev FROM params)")
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), params AS (
        SELECT GREATEST({IVF_EVERY},
                        CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS ev
        FROM e
    ), cents AS (
        SELECT vec_id // {ev} AS centroid_id, v AS cv
        FROM e WHERE vec_id % {ev} = 0
    ), assigned AS (
        SELECT vec_id, v, centroid_id FROM (
            SELECT e.vec_id, e.v, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                c.centroid_id ASC) AS crnk
            FROM e, cents c
        ) WHERE crnk = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv
        FROM assigned WHERE vec_id < {N_QUERIES}
    ), probe AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT q.query_id, q.qv, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                c.centroid_id ASC) AS prnk
            FROM q, cents c
        ) WHERE prnk <= {n_probe}
    ), cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(p.qv, a.v), 4) AS sim
        FROM probe p JOIN assigned a USING (centroid_id)
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {TOP_K}
    """


_oracle("knn_ivf", _knn_ivf_oracle())


def knn_ivf_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_ivf`` with the PER-QUERY fold kernel: the probe step runs
    the row-local packed-centroid HOF fold (:func:`ivf_probe_fold`) —
    shuffle-free, O(queries x cells x dim) — while the one-off index
    build stays on the vectorized GEMM tier."""
    return knn_ivf(spark, sf_dir, probe_tier="fold")


ORACLES["knn_ivf_fold"] = ORACLES["knn_ivf"]


def embedding_lsh_near_dup(spark: SparkSession, sf_dir: str,
                           n_planes: int = 24, n_bands: int = 4,
                           threshold: float = NEAR_DUP_THRESHOLD,
                           max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Random-hyperplane LSH near-dup: banded sign-pattern buckets, exact
    cosine verified only on candidates.  Fully DuckDB-oracle-checked: the
    plane matrix is md5-derived exact rationals ((h % 20001 - 10000)/1e4 —
    the same double in any IEEE engine), the sign-bit dot products are
    left-to-right fp64 folds (bit-identical to list_reduce), and the
    candidate→cosine verify stage reuses the cross-engine-proven
    ``embedding_near_dup`` arithmetic; planted-pair consistency vs the
    exact baseline is additionally pinned in tests/test_similarity.py.

    Scale shape:
    - Candidate generation is an equi-join on (band, band bucket) —
      Leskovec et al.'s banding trick: per-band collision p =
      cos-agreement^bits, overall 1-(1-p)^bands.  bits_per_band tunes the
      candidate-volume/recall trade: candidates ~ n^2/2^bits per band, so
      the default 4x6 bits suits the moderate 0.4 testdata threshold;
      a production near-dup corpus (threshold ~0.9) uses 8x16-bit bands,
      where candidates collapse to genuine near-dups only.
    - Band buckets larger than ``max_bucket`` are dropped before the
      self-join (shared ``_cap_buckets`` on the join's own (band_idx,
      band_val) shuffle key; 0/None disables): a bucket of b identical or
      near-identical vectors — the dead-encoder-rows case the zero-norm
      work already met — emits C(b,2) candidate rows, so ONE Θ(n) bucket
      makes the stage Θ(n²) exactly as in the MinHash/SimHash/n-gram
      chains (measured r10 session 3: a 10% constant-vector hub at 500k
      vectors is a 5.0B-pair bound — docs/SCALE.md).  QUALIFY-mirrored in
      the oracle; never binds on testdata.  A BINDING cap silently drops
      an over-cap bitwise-identical class from this pair output entirely
      (all its bands cap away); that class's existence is reported by
      ``embedding_exact_dedup`` — the linear groupBy identity tier — not
      by pair enumeration here, which is the same division of labor as
      the text chain's md5 tier vs its LSH cap (r10 ADVICE).
    - Pair dedup across bands is an explicit DISTINCT of the thin
      (id_a, id_b) candidates — the oracle's formulation, and the same
      choice as ``dedup_incremental_minhash``.  (The previous
      first-match-band predicate was row-local but is semantically
      incompatible with bucket capping: a pair whose FIRST matching band
      is capped away would be wrongly suppressed at every later band,
      since the earlier bands still agree.)
    - The hyperplane matrix is generated ENGINE-side as one flat
      pseudo-random array (hash(plane*1000+dim) scaled to [-1,1]) on a
      broadcast 1-row frame, evaluated once — the round-1 version built
      n_planes x dim literal expressions on the driver, costing ~6s of
      pure plan construction per call.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # GEMM signature tier (bit-identical to the expression tier and the
    # oracle — see _lsh_band_signatures_gemm; parity pinned by test)
    sig = tracked_persist(
        _lsh_band_signatures_gemm(spark, e, n_planes, n_bands)
    )
    exploded = sig.select(
        "vec_id", F.posexplode("bands").alias("band_idx", "band_val")
    )
    if max_bucket:
        # the cap's window exchange hash-partitions on the join key, which
        # also spreads a single-file corpus (the one-task trap below)
        exploded = _cap_buckets(
            exploded, max_bucket, keys=("band_idx", "band_val")
        )
    else:
        # A single-file corpus arrives as ONE partition and would run
        # candidate generation in one task (same trap as
        # embedding_near_dup).
        exploded = exploded.repartition(
            spark.sparkContext.defaultParallelism
        )
    a = exploded.select(
        F.col("vec_id").alias("id_a"), "band_idx", "band_val"
    )
    b = exploded.select(
        F.col("vec_id").alias("id_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    sim = F.round(cosine_similarity(F.col("va"), F.col("vb")), 4)
    return pairs.select("id_a", "id_b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


def embedding_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side EXACT identity dedup: one row per bitwise-identical
    vector class with the keep-first (lowest-vec_id) representative and
    the class size — the embedding analog of the text chain's md5 exact
    tier (dedup.dedup_exact), and the operator the LSH chains delegate
    over-cap identity classes to (r10 ADVICE): a duplicate class larger
    than ``LSH_MAX_BUCKET`` is deliberately absent from the capped
    ``embedding_lsh_near_dup`` pair output (C(b,2) pairs IS the
    quadratic hub shape the cap exists to kill), so its existence is
    reported here by a LINEAR group-by instead.

    Scale shape: one hash exchange on the value array with map-side
    partial aggregation (HashAggregate → Exchange → HashAggregate;
    plan-verified).  Spark inserts NormalizeFloatingNumbers on the
    grouping key, so -0.0/+0.0 and NaN-payload variants collapse into
    one class without manual normalization.  At 100 TB the ~512-byte
    array shuffle key is the cost; a pre-hash cut (group by hash(v)
    first) would shrink the exchange but needs a collision-confirm
    second pass — the one-exchange form is the right default and the
    dedup-report shape (n_members > 1) prunes nothing upstream anyway.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    return e.groupBy("v").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_members"),
    ).select("rep_id", "n_members")


_oracle(
    "embedding_exact_dedup",
    """
    SELECT MIN(vec_id) AS rep_id, COUNT(*) AS n_members
    FROM (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    GROUP BY v
    """,
)


def _lsh_band_signatures(spark: SparkSession, e: DataFrame,
                         n_planes: int = 24, n_bands: int = 4,
                         dim: int = 64) -> DataFrame:
    """(vec_id, bands) hyperplane-LSH band signatures — the shared index
    stage of embedding_lsh_near_dup and embedding_incremental_dedup.
    Callers persist the result (an unmaterialized HOF tree re-evaluates
    the 24 plane-dots per CANDIDATE row — see embedding_lsh_near_dup)."""
    bits_per_band = n_planes // n_bands
    # flat plane matrix, element [p*dim + j] = (md5_60bit("p:j:plane")
    # % 20001 - 10000) / 10000.0 in [-1, 1]; integer-derived, so both
    # engines round the SAME rational to the SAME double.  Materialized
    # once on a broadcast single-row frame.
    flat = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes * dim - 1)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.floor(i / dim).cast("string"),
                            F.lit(":"),
                            (i % dim).cast("string"),
                            F.lit(":plane"),
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 20001
            - 10000
        )
        / F.lit(10000.0),
    )
    planes_df = spark.range(1).select(flat.alias("_planes"))
    with_planes = e.crossJoin(F.broadcast(planes_df))
    # sign bit per plane: dot(v, plane_p) >= 0
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(F.col("v"), j + 1)
                * F.element_at(F.col("_planes"), p * dim + j + 1),
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    # band b value = its bits folded MSB-first (acc*2 + bit)
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.aggregate(
            F.slice(bits, b * bits_per_band + 1, bits_per_band),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        ),
    )
    # Candidate generation downstream runs on THIN rows (id + band array
    # only): a raw hash-join match that still carries both 64-dim vectors
    # materializes ~1 KB per match before any filter runs — on
    # n^2/2^bits matches that row-copy traffic dominated the whole query
    # (measured 4.7s -> ~1s at sf0.1).  Vectors are re-attached by
    # equi-join only for the surviving candidate pairs.
    return with_planes.select("vec_id", bands.alias("bands"))


def _lsh_band_signatures_gemm(spark: SparkSession, e: DataFrame,
                              n_planes: int = 24, n_bands: int = 4,
                              dim: int = 64) -> DataFrame:
    """``_lsh_band_signatures`` at GEMM speed — the index-build tier the
    serving entries use (r13 optimization, guide §4.2).

    The expression tier's sign bits are interpreted HOF folds:
    n_planes x dim lambda steps per vector (1,536 at the 24x64 default),
    CodegenFallback per element — the same class of cost the knn_ivf /
    kmeans / PQ families already moved to numpy (ivf_assign_gemm,
    pq_encode_gemm).  Here each Arrow batch computes the (chunk x planes)
    dot-product matrix with ``np_dot`` — dimension-ordered accumulation
    that replays the HOF fold's exact fp64 op sequence
    ``(...(0 + v0*w0) + v1*w1)...``, so
    every sign bit, and therefore every band value, is bit-identical to
    the expression tier and to DuckDB's list_reduce (parity pinned by
    tests/test_similarity.py).  The plane matrix is re-derived inside the
    task from the same md5 rationals (hashlib md5 == Spark md5 == DuckDB
    md5; (h % 20001 - 10000)/1e4 is the same exact double in any IEEE
    engine) — a few KB recomputed once per task, nothing broadcast or
    shipped per row.

    Input must carry (vec_id, v); ``spread_input`` protects the single-file
    corpus from the one-task trap.  Output: (vec_id, bands) exactly like
    the expression tier.
    """
    bits_per_band = n_planes // n_bands

    def sign_bands(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        W = np.empty((n_planes, dim), dtype=np.float64)
        for p in range(n_planes):
            for j in range(dim):
                h = hashlib.md5(f"{p}:{j}:plane".encode()).hexdigest()
                W[p, j] = (int(h[:15], 16) % 20001 - 10000) / 10000.0
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (np_dot(A, W) >= 0).astype(np.int64)     # (n, planes)
            bands = np.zeros((A.shape[0], n_bands), dtype=np.int64)
            for b in range(n_bands):
                for k in range(bits_per_band):
                    bands[:, b] = bands[:, b] * 2 + bits[:, b * bits_per_band + k]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "bands": list(bands)}
            )

    return spread_input(e.select("vec_id", "v")).mapInPandas(
        sign_bands, "vec_id long, bands array<long>"
    )


def _embedding_lsh_oracle(max_bucket: int = LSH_MAX_BUCKET) -> str:
    """embedding_lsh_near_dup's oracle, parameterized on the bucket cap so
    the binding-cap parity test can run both engines at a cap that binds;
    0/None disables (no QUALIFY), matching the Spark builder."""
    cap_cte = (
        f"""bv AS (
        SELECT vec_id, band_idx, band_val FROM bandvals
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val)
                <= {max_bucket}
    )"""
        if max_bucket
        else "bv AS (SELECT vec_id, band_idx, band_val FROM bandvals)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), pj AS (
        SELECT p.p, j.j,
               ((('0x' || substring(md5(
                    p.p::VARCHAR || ':' || j.j::VARCHAR || ':plane'
                ), 1, 15))::BIGINT % 20001) - 10000) / 10000.0 AS w
        FROM generate_series(0, 23) p(p), generate_series(0, 63) j(j)
    ), planes AS (
        SELECT p, list(w ORDER BY j) AS pv FROM pj GROUP BY p
    ), bits AS (
        SELECT e.vec_id, pl.p,
               CASE WHEN list_reduce(
                        list_transform(generate_series(1, 64),
                                       k -> e.v[k] * pl.pv[k]),
                        (a, b) -> a + b) >= 0
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM e, planes pl
    ), bandvals AS (
        SELECT vec_id, p // 6 AS band_idx,
               list_reduce(list(bit ORDER BY p),
                           (acc, b) -> acc * 2 + b) AS band_val
        FROM bits GROUP BY vec_id, p // 6
    ), {cap_cte}, cand AS (
        -- Spark dedups pairs with an explicit DISTINCT over any-band
        -- collisions among sub-cap buckets; same formulation here
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bv a JOIN bv b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(x.v, y.v), 4) AS sim
    FROM cand
    JOIN e x ON x.vec_id = id_a
    JOIN e y ON y.vec_id = id_b
    WHERE ROUND(list_cosine_similarity(x.v, y.v), 4) >= {NEAR_DUP_THRESHOLD}
    """


_oracle("embedding_lsh_near_dup", _embedding_lsh_oracle())


def embedding_incremental_dedup(spark: SparkSession, sf_dir: str,
                                n_planes: int = 24, n_bands: int = 4,
                                threshold: float = NEAR_DUP_THRESHOLD,
                                max_bucket: int = LSH_MAX_BUCKET
                                ) -> DataFrame:
    """Embedding-side ADMISSION dedup: a new batch of vectors is checked
    against the EXISTING corpus, and only vectors with no near-duplicate
    already indexed are admitted — the daily-crawl ingestion shape
    (the SemDeDup/near-dup analog of dedup_incremental_minhash, which does
    the same for text).

    Membership is a deterministic content split (md5(vec_id || '-adm')
    prefix, ~1/16 new) so the oracle can regenerate it.  Candidates come
    from the shared hyperplane-LSH band index (_lsh_band_signatures):
    the join is new-side bands vs old-side bands — at steady state the old
    corpus signatures are a PRECOMPUTED index (100 TB posture: the batch
    only pays signatures for its own rows + an equi-join against the
    index), and crucially new x new pairs never form (within-batch dedup
    is a separate concern, handled by embedding_lsh_near_dup).

    The admission shape caps by REPRESENTATIVES, not by dropping buckets
    (r10 ADVICE): the new side keeps every band row, the old side keeps
    the ``max_bucket`` lowest-vec_id members per bucket.  Dropping whole
    over-cap buckets — the symmetric chains' discipline — would ADMIT
    every member of an over-cap duplicate class whose arrays differ
    slightly (a dead encoder plus noise: identical sign patterns, so all
    bands cap away, but no bitwise identity for the exact tier to catch).
    With representative keeping, every new vector still meets up to
    ``max_bucket`` old witnesses per band, while join fan-out stays
    bounded by batch x bands x cap (never C(bucket, 2)).  A hub bucket
    still lands its new-side rows in one shuffle task; AQE skew-split
    handles that residual, and the OUTPUT bound is what matters.  The
    residual approximation: a new vector whose true near-dups all sit
    beyond the representative set of every shared band can still be
    falsely admitted — that requires ``max_bucket`` closer-by-vec_id
    false-positive collisions in every band, and is the measured-recall
    territory ``lsh_recall_eval`` reports on.

    An EXACT identity tier additionally backstops bitwise-identical
    vectors independent of LSH parameters: new vectors equi-join old
    vectors on the raw value array.  No bucket cap applies there and
    none is needed — new x new pairs never form on the cross-set shape,
    so an identity class of k old + m new members emits k*m rows bounded
    by the BATCH's dup count, not C(k+m,2); at steady state this is the
    hash-index lookup every admission system runs first.  Exact + LSH
    candidates union, then exact cosine verifies once (zero-norm rows
    stay non-neighbors, the module-wide rule); one groupBy per new id
    counts confirmed duplicates.

    Returns (vec_id, n_dups, admitted) for every NEW vector.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    is_new = F.md5(
        F.concat(F.col("vec_id").cast("string"), F.lit("-adm")).cast("binary")
    ).like("0%")
    sig = tracked_persist(
        _lsh_band_signatures_gemm(spark, e, n_planes, n_bands).withColumn(
            "is_new", is_new
        )
    )
    exploded = sig.select(
        "vec_id", "is_new",
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    if max_bucket:
        # representative cap (see docstring): keep ALL new-side rows,
        # keep the max_bucket lowest-vec_id OLD rows per bucket.  The
        # row_number window partitions on EXACTLY the join key — is_new
        # lives in the ORDER clause (false sorts first, so old rows
        # still rank 1..k and the filter keeps the same rows) — so the
        # window's hashpartitioning(band_idx, band_val) satisfies the
        # downstream join's clustering and the cap adds no extra
        # exchange; partitioning on (key..., is_new) instead was
        # plan-verified to re-shuffle BOTH join sides (r11 review).
        # The window exchange also spreads a single-file corpus.
        wrep = Window.partitionBy("band_idx", "band_val").orderBy(
            "is_new", "vec_id"
        )
        exploded = (
            exploded.withColumn("brn", F.row_number().over(wrep))
            .filter(F.col("is_new") | (F.col("brn") <= max_bucket))
            .drop("brn")
        )
    else:
        exploded = exploded.repartition(
            spark.sparkContext.defaultParallelism
        )
    new_side = exploded.filter(F.col("is_new")).select(
        F.col("vec_id").alias("id_new"), "band_idx", "band_val"
    )
    old_side = exploded.filter(~F.col("is_new")).select(
        F.col("vec_id").alias("id_old"), "band_idx", "band_val"
    )
    # The identity join's EQUI key is hash(v) — an 8-byte murmur3 the
    # planner hash-partitions and hash-joins — with the raw array
    # equality confirmed row-locally on the (rare) hash matches.  Joining
    # on the array directly is output-identical but planned as a
    # nested-loop (array keys don't hash-join): measured 310s vs 30s for
    # the whole query at 500k vectors.  The elements are IEEE-normalized
    # before hashing (-0.0 -> +0.0 via x + 0.0, NaN payloads -> one
    # canonical NaN via nanvl) because NormalizeFloatingNumbers rewrites
    # comparison/join KEYS, not a precomputed hash column — without it a
    # 0.0-vs--0.0 identical pair hashes apart and is silently missed
    # while the oracle's ``n.v = o.v`` matches (r10 ADVICE).  The oracle
    # keeps the pure equality form — the hash narrows candidates, never
    # changes the match set.
    vnorm = _ieee_norm(F.col("v"))
    ev = e.withColumn("is_new", is_new)
    exact_cand = (
        ev.filter(F.col("is_new"))
        .select(
            F.col("vec_id").alias("id_new"),
            F.col("v").alias("nv"),
            F.hash(vnorm).alias("vh"),
        )
        .join(
            ev.filter(~F.col("is_new")).select(
                F.col("vec_id").alias("id_old"),
                F.col("v").alias("ov"),
                F.hash(vnorm).alias("vh"),
            ),
            "vh",
        )
        .filter(F.col("nv") == F.col("ov"))
        .select("id_new", "id_old")
    )
    cand = (
        new_side.join(old_side, ["band_idx", "band_val"])
        .select("id_new", "id_old")
        .unionByName(exact_cand)
        .distinct()
    )
    vn = e.select(F.col("vec_id").alias("id_new"), F.col("v").alias("vn"))
    vo = e.select(F.col("vec_id").alias("id_old"), F.col("v").alias("vo"))
    dups = (
        cand.join(vn, "id_new")
        .join(vo, "id_old")
        .filter(
            F.round(cosine_similarity(F.col("vn"), F.col("vo")), 4)
            >= threshold
        )
        .groupBy("id_new")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        sig.filter(F.col("is_new"))
        .select(F.col("vec_id"))
        .join(dups.withColumnRenamed("id_new", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias("n_dups"),
            (F.coalesce(F.col("n_dups"), F.lit(0)) == 0).alias("admitted"),
        )
    )


def _embedding_incremental_oracle(max_bucket: int = LSH_MAX_BUCKET) -> str:
    """embedding_incremental_dedup's oracle, parameterized on the bucket
    cap (representative keep: new side uncapped, old side keeps the
    max_bucket lowest-vec_id members per bucket, as in the Spark
    builder); 0/None disables."""
    cap_cte = (
        f"""bv AS (
        SELECT vec_id, is_new, band_idx, band_val FROM bandvals
        QUALIFY is_new OR ROW_NUMBER() OVER (
            PARTITION BY band_idx, band_val ORDER BY is_new, vec_id)
                <= {max_bucket}
    )"""
        if max_bucket
        else "bv AS (SELECT vec_id, is_new, band_idx, band_val FROM bandvals)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               md5(vec_id::VARCHAR || '-adm') LIKE '0%' AS is_new
        FROM embeddings
    ), pj AS (
        SELECT p.p, j.j,
               ((('0x' || substring(md5(
                    p.p::VARCHAR || ':' || j.j::VARCHAR || ':plane'
                ), 1, 15))::BIGINT % 20001) - 10000) / 10000.0 AS w
        FROM generate_series(0, 23) p(p), generate_series(0, 63) j(j)
    ), planes AS (
        SELECT p, list(w ORDER BY j) AS pv FROM pj GROUP BY p
    ), bits AS (
        SELECT e.vec_id, e.is_new, pl.p,
               CASE WHEN list_reduce(
                        list_transform(generate_series(1, 64),
                                       k -> e.v[k] * pl.pv[k]),
                        (a, b) -> a + b) >= 0
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM e, planes pl
    ), bandvals AS (
        SELECT vec_id, is_new, p // 6 AS band_idx,
               list_reduce(list(bit ORDER BY p),
                           (acc, b) -> acc * 2 + b) AS band_val
        FROM bits GROUP BY vec_id, is_new, p // 6
    ), {cap_cte}, cand AS (
        -- LSH candidates (DISTINCT over any-band collisions among
        -- sub-cap buckets) UNION the exact identity tier, which no
        -- bucket cap touches — mirrors the Spark builder
        SELECT DISTINCT id_new, id_old FROM (
            SELECT n.vec_id AS id_new, o.vec_id AS id_old
            FROM bv n JOIN bv o
              ON n.band_idx = o.band_idx AND n.band_val = o.band_val
            WHERE n.is_new AND NOT o.is_new
            UNION ALL
            SELECT n.vec_id AS id_new, o.vec_id AS id_old
            FROM e n JOIN e o ON n.v = o.v
            WHERE n.is_new AND NOT o.is_new
        )
    ), dups AS (
        SELECT id_new, COUNT(*) AS n_dups
        FROM cand
        JOIN e x ON x.vec_id = id_new
        JOIN e y ON y.vec_id = id_old
        WHERE ROUND(list_cosine_similarity(x.v, y.v), 4)
                  >= {NEAR_DUP_THRESHOLD}
        GROUP BY id_new
    )
    SELECT e.vec_id,
           COALESCE(d.n_dups, 0) AS n_dups,
           COALESCE(d.n_dups, 0) = 0 AS admitted
    FROM e LEFT JOIN dups d ON d.id_new = e.vec_id
    WHERE e.is_new
    """


_oracle("embedding_incremental_dedup", _embedding_incremental_oracle())


def kmeans_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to the nearest centroid by squared L2.

    The centroid set is packed into ONE broadcast row (sorted struct
    array), and the argmin is a row-local fold over it — no join
    row-explosion, no shuffle.  The naive broadcast-join + window-argmin
    alternative materializes k rows x ~1 KB (both vectors) per input vector
    through a vec_id-keyed shuffle: measured 49s vs 3s for 100k vectors x
    400 centroids at local[32].  Ties break to the lowest cluster_id (the
    strict ``<`` keeps the first, sort_array ordered) — identical to the
    window formulation and the DuckDB oracle's ORDER BY dist, cluster_id.

    The fold's squared distance uses the same left-to-right fp64 fold as
    every other vector op, so assignment is bit-deterministic.  The best
    struct lands in its own projection (withColumn) so CollapseProject
    cannot inline the fold once per consumed field.

    The kernel never repartitions ``e``: callers widen a narrow scan
    themselves (``spread_input``), once — the Lloyd loop before its
    iterations, since an in-call probe would force full physical planning
    through an RDD conversion and, on a narrow scan, a repartition
    shuffle per iteration (ADVICE r9).
    """
    packed = centroids.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("cluster_id", "cv"))).alias("_cs")
    )
    sqdist = lambda cv: F.aggregate(  # noqa: E731
        F.zip_with(F.col("v"), cv, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # F.least on (d, cid)-ordered structs: one sqdist evaluation per fold
    # step (the F.when formulation evaluated it twice — condition + kept
    # struct; r9 review).  Lexicographic struct comparison gives the
    # identical rule: strictly smaller d wins, equal d falls through to
    # the lower cluster_id — same as the old strict-< over the
    # cluster_id-sorted array and the oracle's ORDER BY dist, cluster_id.
    best = F.aggregate(
        F.col("_cs"),
        F.struct(
            F.lit(float("inf")).alias("d"),
            F.lit(-1).cast("long").alias("cid"),
        ),
        lambda acc, s: F.least(
            acc,
            F.struct(
                sqdist(s["cv"]).alias("d"),
                s["cluster_id"].cast("long").alias("cid"),
            ),
        ),
    )
    return (
        e.crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "v",
            F.col("_best.cid").alias("cluster_id"),
            F.col("_best.d").alias("dist"),
        )
    )


def kmeans_assign_gemm(e: DataFrame, centroids: DataFrame,
                       n_shards: int,
                       tile_elems: int = 4_000_000) -> DataFrame:
    """``kmeans_assign`` at numpy speed for LARGE centroid sets: the
    Catalyst HOF fold evaluates O(n x k x dim) lambda steps row-by-row
    (measured 443s at 500k vectors x 707 centroids — see ivf_assign_gemm),
    which stops scaling once k is derived from corpus size (SemDeDup's
    k ~= n/512).  Same sharded-cogroup distribution as ``ivf_assign_gemm``
    (corpus salted into shards, centroid set replicated per shard, no
    driver collect), but the distance matrix is accumulated in the SAME
    arithmetic as the fold: per dimension d ascending,
    ``acc += (A[:, d] - C[:, d])^2`` from a zero start — element-for-
    element the identical IEEE-754 operation sequence as
    ``aggregate(zip_with(v, cv, (a,b) -> (a-b)*(a-b)), 0.0, acc+x)`` —
    so distances are BIT-IDENTICAL to the fold tier and to DuckDB's
    ``list_sum(list_transform(...))`` oracle arithmetic (pinned by test).
    ``np.argmin`` keeps the first minimum over the cluster_id-sorted
    centroid columns = ties to the lowest cluster_id, the shared rule.

    Row-tiled like semantic_dedup's pair stage: one (tile_rows x k)
    ``np_sq_l2`` accumulator bounded by ``tile_elems`` floats at a time,
    so per-task memory stays constant however large a shard or the
    centroid set grows."""
    def assign(corpus_pdf, c_pdf):
        import numpy as np
        import pandas as pd

        c_pdf = c_pdf.sort_values("cluster_id")
        A = np.stack(corpus_pdf["v"].to_numpy())       # (n, dim)
        C = np.stack(c_pdf["cv"].to_numpy())           # (k, dim)
        cids = c_pdf["cluster_id"].to_numpy()
        n = A.shape[0]
        tile_rows = max(1, tile_elems // C.shape[0])
        idx = np.empty(n, dtype="int64")
        dmin = np.empty(n)
        for start in range(0, n, tile_rows):
            stop = min(start + tile_rows, n)
            acc = np_sq_l2(A[start:stop], C)
            local = acc.argmin(axis=1)
            idx[start:stop] = local
            dmin[start:stop] = acc[np.arange(stop - start), local]
        return pd.DataFrame(
            {"vec_id": corpus_pdf["vec_id"].to_numpy(),
             "v": corpus_pdf["v"],
             "cluster_id": cids[idx],
             "dist": dmin}
        )

    return _cogroup_np(
        _salt_shards(e, n_shards), _replicate_per_shard(centroids, n_shards),
        "shard", assign,
        "vec_id long, v array<double>, cluster_id long, dist double",
    )


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """Element-wise centroid mean via posexplode + per-(cluster, dim) agg.
    (Positions come from the data itself — no dimension parameter; a
    caller-supplied dim had no effect and only invited drift.)

    The shuffle carries (cluster, dim) keyed scalars — n_vectors x dim rows
    map-side-combined down to k x dim — then the new centroid arrays are
    reassembled with sort_array(collect_list(struct(pos, mean))).

    The mean is an exact-decimal sum divided by the count (NOT float avg):
    a float mean over a shuffled group is order-dependent in the last
    ULPs, which would make the refined centroids — and every downstream
    assignment — nondeterministic across runs and engines.  With the
    decimal mean the whole iterative loop is bit-stable and carries a full
    unrolled-CTE DuckDB oracle.
    """
    exploded = assigned.select(
        "cluster_id", F.posexplode("v").alias("pos", "x")
    )
    means = exploded.groupBy("cluster_id", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return means.groupBy("cluster_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str, k: int = 8,
                      iterations: int = 3) -> DataFrame:
    """Distributed Lloyd's k-means over embeddings, pure DataFrame ops.

    Deterministic init (the k lowest vec_ids); each iteration is one
    broadcast argmin + one (cluster, dim)-keyed shuffle.  Centroids stay
    DataFrames end-to-end — no driver materialization, so the same loop runs
    at 100 TB (with a localCheckpoint per iteration to truncate lineage on
    long runs).  Returns per-cluster size and mean squared distance
    (rows-only check: iterative refinement is not one SQL statement; the
    invariants are pinned in tests/test_similarity_iterative.py).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # Widen + persist ONCE before the loop (ADVICE r9): every iteration
    # re-scans the corpus frame for its assignment fold, so a spread
    # probe per iteration would re-pay the getNumPartitions probe (full
    # physical planning through an RDD conversion) and a repartition
    # shuffle of the narrow scan.  corpus=True: the frame carries the
    # full vectors, so its level honours SPARK_GRAFT_PERSIST_LEVEL
    # (DISK_ONLY at 100 TB; see cache.py).
    e = tracked_persist(spread_input(e), corpus=True)
    centroids = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )
    assigned = None
    for _ in range(iterations):
        assigned = kmeans_assign(e, centroids)
        centroids = kmeans_update(assigned)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("dist").cast("decimal(27,8)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_sq_dist"),
    )


def _kmeans_oracle(k: int = 8, iterations: int = 3, dim: int = 64) -> str:
    """Unrolled-CTE SQL mirror of ``kmeans_embeddings``: each Lloyd's
    iteration is one assignment CTE (argmin over per-cluster left-to-right
    squared-distance folds, ties to the lowest cluster_id) and one centroid
    CTE (exact-decimal element means) — bit-identical to the Spark loop
    because every float operation has a single deterministic order."""
    sqd = (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        "t -> (e.v[t] - c.cv[t]) * (e.v[t] - c.cv[t])), (a, b) -> a + b)"
    )
    parts = [
        f"""e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cent0 AS (
        SELECT vec_id AS cluster_id, v AS cv FROM e WHERE vec_id < {k}
    )"""
    ]
    for i in range(iterations):
        parts.append(f"""assign{i} AS (
        SELECT vec_id, v, cluster_id, d AS dist FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cluster_id ASC) AS rn
            FROM (
                SELECT e.vec_id, e.v, c.cluster_id, {sqd} AS d
                FROM e, cent{i} c
            )
        ) WHERE rn = 1
    )""")
        if i < iterations - 1:
            parts.append(f"""cent{i + 1} AS (
        SELECT cluster_id, list(m ORDER BY pos) AS cv FROM (
            SELECT cluster_id, t.t AS pos,
                   CAST(SUM(CAST(v[t.t] AS DECIMAL(27,12))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM assign{i}, generate_series(1, {dim}) t(t)
            GROUP BY cluster_id, t.t
        ) GROUP BY cluster_id
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT cluster_id, COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(dist AS DECIMAL(27,8))) AS DOUBLE)
                     / COUNT(*), 4) AS avg_sq_dist
    FROM assign{iterations - 1}
    GROUP BY cluster_id
    """


_oracle("kmeans_embeddings", _kmeans_oracle())


SEMDEDUP_K = 8          # minimum cluster count (floor of the derived k)
SEMDEDUP_TARGET = 512   # target vectors per cluster: k ~= n / TARGET
# centroid broadcast cap: 65536 x 64 dims x 8B = 32 MiB — beyond
# KMAX x TARGET (~33M) vectors expected cluster size grows again, but the
# tiled pair stage below keeps per-task memory bounded regardless
SEMDEDUP_KMAX = 65536
# per-tile accumulator budget for the within-cluster GEMM: rows-per-tile
# is chosen so one float64 (tile_rows x n) block stays <= ~32 MiB even if
# a cluster grows far past TARGET (skewed assignment, corpus growth)
SEMDEDUP_TILE_ELEMS = 4_000_000
# above this many centroids the Catalyst HOF fold assignment (O(n*k*dim)
# interpreted lambda steps) is replaced by the bit-identical numpy GEMM
# tier (kmeans_assign_gemm) — the fold measured 443s at 500k x 707 while
# the GEMM path holds tens of seconds; below it the fold keeps the plan
# join-free and the sf-scale bench comparable
SEMDEDUP_GEMM_MIN_K = 64


def semantic_dedup_k(n_vectors: int) -> int:
    """Cluster count scaled to corpus size: k ~= n / SEMDEDUP_TARGET,
    floored at SEMDEDUP_K and capped at SEMDEDUP_KMAX (centroid broadcast
    budget).  Mirrored exactly in the DuckDB oracle SQL, so the derived k
    stays hash-checkable."""
    return min(SEMDEDUP_KMAX, max(SEMDEDUP_K, n_vectors // SEMDEDUP_TARGET))


def semantic_dedup(spark: SparkSession, sf_dir: str,
                   k: int | None = None,
                   threshold: float = NEAR_DUP_THRESHOLD,
                   tile_elems: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embeddings, then compare pairs only WITHIN a cluster; the higher id
    of any above-threshold pair is marked removed.  Returns per-cluster
    (n_vectors, n_dup_pairs, n_removed).

    Scale shape: this is the production near-dup path for embedding
    corpora — the quadratic pair loop is confined to one cluster
    (n^2/k per cluster vs n^2 all-pairs), and clusters compare in parallel
    after one equi-join on cluster_id.  k is DERIVED from corpus size
    (semantic_dedup_k: n // SEMDEDUP_TARGET, floored/capped) so expected
    cluster cardinality stays ~SEMDEDUP_TARGET as the corpus grows — the
    r7 fixed-k shape made per-cluster work O((n/8)^2), a 100x-scale
    executor-OOM hazard.  Within a cluster the similarity matrix is
    computed in ROW TILES bounded by SEMDEDUP_TILE_ELEMS accumulator
    elements, so a skew-bloated cluster degrades to more tiles, never a
    bigger allocation.  Cluster assignment is the same broadcast argmin
    as the k-means/IVF tier (corpus never shuffles for it).  Recall is
    bounded by cluster purity — boundary-straddling pairs are missed by
    construction, the documented SemDeDup trade.

    Deterministic pseudo-centroids (k lowest vec_ids) keep the whole
    operator one SQL-expressible plan, so unlike most ANN tiers this one is
    hash-checked against DuckDB, not rows-only — including the derived k,
    which the oracle recomputes with the same LEAST/GREATEST formula.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # resolved ONCE, up front: the same budget bounds BOTH tiled GEMM
    # stages (centroid assignment and the within-cluster pair matrix), so
    # a caller shrinking tile_elems caps per-task memory everywhere
    tile_elems = tile_elems if tile_elems is not None else SEMDEDUP_TILE_ELEMS
    if k is None:
        # footer-statistics row count (== e.count(); zero Spark jobs) —
        # the oracle recomputes k from COUNT(*), identical by contract
        k = semantic_dedup_k(table_rows(sf_dir, "embeddings"))
    centroids = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )
    # persisted: the pair stage and the size count both consume it, and the
    # assignment fold is too expensive to re-evaluate per branch
    # corpus=True: the frame carries the full 64-dim vectors — at 100 TB
    # this cache is corpus-sized, so its level honours
    # SPARK_GRAFT_PERSIST_LEVEL (DISK_ONLY at scale; see cache.py)
    if k > SEMDEDUP_GEMM_MIN_K:
        # derived-k corpora: numpy GEMM assignment (bit-identical
        # distances and tie rule; see kmeans_assign_gemm docstring)
        assign_df = kmeans_assign_gemm(
            e, centroids, n_shards=spark.sparkContext.defaultParallelism,
            tile_elems=tile_elems,
        )
    else:
        assign_df = kmeans_assign(spread_input(e), centroids)
    assigned = tracked_persist(
        assign_df.select("vec_id", "v", "cluster_id"),
        corpus=True,
    )

    # Within-cluster pairwise compare as a per-cluster GEMM under
    # applyInPandas: each cluster's vectors cross the executor boundary
    # ONCE (O(n * dim) Arrow traffic), vs a cluster-keyed self-join that
    # materializes both vectors on every candidate pair (O(n^2/k * dim) —
    # measured 90s vs 9s for 100k vectors x 400 clusters at local[32]).
    # The UDF filters on a margin-safe superset (threshold - 1e-4, raw
    # sims); the EXACT HALF_UP rounding + threshold happen in Spark, so
    # results stay bit-identical to the SQL oracle.  Accumulation is
    # dimension-ordered (np_dot / np_sq_norm), same as knn_gemm.
    margin = threshold - 1e-4
    # tile_elems was resolved at function entry and is captured in the
    # closure (NOT read from the module global inside the UDF) so tests
    # can shrink it to force the multi-tile path

    def cluster_pairs(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame()
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        A = np.stack(pdf["v"].to_numpy())[order]
        rna = np.sqrt(np_sq_norm(A))
        # ROW-TILED accumulation: one (tile_rows x n) block at a time, so
        # per-call extra memory is bounded by SEMDEDUP_TILE_ELEMS floats
        # no matter how large a skewed cluster grows.  The per-element
        # dimension-ordered sum (d ascending) is identical to the dense
        # formulation, so results stay bit-for-bit equal to the oracle.
        tile_rows = max(1, tile_elems // n)
        out_a, out_b, out_s = [], [], []
        for start in range(0, n - 1, tile_rows):
            stop = min(start + tile_rows, n)
            sim = np_dot(A[start:stop], A) / (rna[start:stop, None] * rna)
            # global upper triangle: column index > absolute row index
            ia, ib = np.nonzero(
                np.arange(n)[None, :] > np.arange(start, stop)[:, None]
            )
            s = sim[ia, ib]
            keep = s >= margin
            out_a.append(ids[ia[keep] + start])
            out_b.append(ids[ib[keep]])
            out_s.append(s[keep])
        id_a = np.concatenate(out_a) if out_a else np.empty(0, dtype="int64")
        id_b = np.concatenate(out_b) if out_b else np.empty(0, dtype="int64")
        s = np.concatenate(out_s) if out_s else np.empty(0)
        return pd.DataFrame(
            {"cluster_id": np.full(len(id_a), pdf["cluster_id"].iloc[0]),
             "id_a": id_a, "id_b": id_b, "sim": s}
        )

    pairs = (
        assigned.groupBy("cluster_id")
        .applyInPandas(
            cluster_pairs, "cluster_id long, id_a long, id_b long, sim double"
        )
        .select("cluster_id", "id_a", "id_b", F.round("sim", 4).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    dup_stats = pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_removed"),
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return sizes.join(dup_stats, "cluster_id", "left").select(
        "cluster_id",
        "n_vectors",
        F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )


_oracle(
    "semantic_dedup",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), kk AS (
        -- same corpus-scaled k as semantic_dedup_k():
        -- min(KMAX, max(KMIN, n // TARGET))
        SELECT LEAST({SEMDEDUP_KMAX},
                     GREATEST({SEMDEDUP_K},
                              COUNT(*) // {SEMDEDUP_TARGET})) AS k
        FROM e
    ), c AS (
        SELECT vec_id AS cluster_id, v AS cv
        FROM e WHERE vec_id < (SELECT k FROM kk)
    ), d AS (
        SELECT e.vec_id, e.v, c.cluster_id,
               list_sum(list_transform(range(1, 65),
                   i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS dist
        FROM e CROSS JOIN c
    ), a AS (
        SELECT vec_id, v, cluster_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY dist ASC, cluster_id ASC) AS rn
            FROM d
        ) WHERE rn = 1
    ), p AS (
        SELECT x.cluster_id, x.vec_id AS id_a, y.vec_id AS id_b
        FROM a x JOIN a y
          ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        WHERE ROUND(list_cosine_similarity(x.v, y.v), 4) >= {NEAR_DUP_THRESHOLD}
    ), r AS (
        SELECT cluster_id, COUNT(*) AS n_dup_pairs,
               COUNT(DISTINCT id_b) AS n_removed
        FROM p GROUP BY cluster_id
    )
    SELECT a.cluster_id,
           COUNT(*) AS n_vectors,
           COALESCE(MAX(r.n_dup_pairs), 0) AS n_dup_pairs,
           COALESCE(MAX(r.n_removed), 0) AS n_removed
    FROM a LEFT JOIN r ON a.cluster_id = r.cluster_id
    GROUP BY a.cluster_id
    """,
)


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i * 127/max|x|).

    The storage/bandwidth play for 100 TB vector corpora (4x smaller than
    fp32, 8x than fp64); entirely row-local higher-order functions in the
    scan stage.  floor (not round) keeps the quantizer bit-deterministic
    across engines — round's half-way ties are the classic cross-engine
    divergence.
    """
    e = table(spark, sf_dir, "embeddings")
    # Each stage lands in its own multi-referenced projection so the HOF
    # subtrees evaluate ONCE (r9 review): inlined, every element of q
    # re-computed maxabs's 64-step transform (~4096 lambda steps/row for
    # the scaling alone) and the whole q tree evaluated twice (q_csv +
    # q_l1) — the same unmaterialized-HOF trap measured at 6.3s vs 1.3s
    # on the PQ codebook.
    staged = (
        e.withColumn("_v", to_double_array("embedding"))
        .withColumn(
            "_maxabs",
            F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))),
        )
        .withColumn(
            "_scale",
            F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_q",
            F.transform(
                F.col("_v"), lambda x: F.floor(x * F.col("_scale")).cast("int")
            ),
        )
    )
    # The contract surface serializes q to CSV (driver canonicalizer can't
    # hash array cells); downstream consumers compose on the array form.
    return staged.select(
        "vec_id",
        "label",
        F.col("_scale").alias("scale"),
        F.concat_ws(",", F.col("_q")).alias("q_csv"),
        F.aggregate(F.col("_q"), F.lit(0), lambda acc, x: acc + F.abs(x))
        .alias("q_l1"),
    )


_oracle(
    "embedding_quantize",
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       e -> abs(e))) AS maxabs
        FROM embeddings
    )
    SELECT vec_id, label,
           CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale,
           array_to_string(list_transform(x,
               e -> CAST(FLOOR(e * CASE WHEN maxabs > 0
                                        THEN 127.0 / maxabs
                                        ELSE 0.0 END) AS INTEGER)), ',') AS q_csv,
           CAST(list_sum(list_transform(x,
                e -> abs(CAST(FLOOR(e * CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                                             ELSE 0.0 END) AS INTEGER)))) AS INTEGER)
               AS q_l1
    FROM v
    """,
)


def knn_gemm(spark: SparkSession, sf_dir: str,
             n_shards: int | None = None) -> DataFrame:
    """Exact top-5 cosine neighbors via Arrow-batched numpy GEMM — the
    vectorized fast tier of ``knn_bruteforce`` (same semantics, same oracle).

    Collect-free distribution: the corpus is salted into ``n_shards``
    groups and COGROUPed with the query set, which is replicated to every
    shard ENGINE-side (crossJoin with a broadcast ``range(n_shards)`` —
    ~queries x shards rows, never the corpus).  Each cogroup task sees
    (corpus chunk, full query set) as pandas frames and runs one
    chunk x query multiply; a per-shard top-k prune (with a rounding-safe
    margin) bounds the shuffle to O(shards * queries * k) rows before the
    exact global window rank.

    Bit-determinism: the dot/norm accumulations loop dimension-by-dimension
    over fp64 numpy columns — the SAME left-to-right fold as the HOF tier
    (functions/vector.py) and DuckDB's list_cosine_similarity, so the raw
    sims are bit-identical and the entry shares ``knn_bruteforce``'s
    hash-checked oracle.  numpy's blocked matmul would be ~1 ulp off, which
    F.round could amplify at a rounding boundary.  Rounding itself happens
    in Spark (HALF_UP), never numpy (banker's).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    if n_shards is None:
        n_shards = _gemm_shards(spark, table_rows(sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    def gemm(corpus_pdf, q_pdf):
        import numpy as np
        import pandas as pd

        A = np.stack(corpus_pdf["v"].to_numpy())          # (n, dim)
        Q = np.stack(q_pdf["qv"].to_numpy())              # (q, dim)
        n, nq = A.shape[0], Q.shape[0]
        # dimension-ordered accumulation == the HOF/DuckDB sequential fold
        sim = np_cosine(A, Q)
        # zero-norm rows are not neighbors (shared semantics with
        # knn_bruteforce and the oracle): 0/0 = NaN would otherwise make
        # kth NaN and silently drop the WHOLE shard's candidates (every
        # 'col >= kth - margin' comparison is False against NaN)
        sim[~np.isfinite(sim)] = -np.inf
        ids = corpus_pdf["vec_id"].to_numpy()
        qids = q_pdf["query_id"].to_numpy()
        # self-pairs must not occupy a local top-k slot
        sim[np.equal.outer(ids, qids)] = -np.inf
        # per-shard prune: keep top-k by RAW sim plus every row within 1e-3
        # of the k-th — raw->rounded reordering moves a sim by < 1e-4, so
        # the margin provably covers anything the global rounded rank could
        # promote; exact ordering happens in Spark on F.round-ed values.
        out_q, out_n, out_s = [], [], []
        for j in range(nq):
            col = sim[:, j]
            k = min(TOP_K, n)
            kth = np.partition(col, -k)[-k]
            keep = np.flatnonzero(np.isfinite(col) & (col >= kth - 1e-3))
            out_q.append(np.full(keep.size, qids[j]))
            out_n.append(ids[keep])
            out_s.append(col[keep])
        return pd.DataFrame(
            {"query_id": np.concatenate(out_q),
             "neighbor_id": np.concatenate(out_n),
             "sim": np.concatenate(out_s)}
        )

    local = _cogroup_np(
        _salt_shards(e, n_shards), _replicate_per_shard(q, n_shards),
        "shard", gemm, "query_id long, neighbor_id long, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


_oracle("knn_gemm", ORACLES["knn_bruteforce"])


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: row counts and mean L2 norm (fp64 fold)."""
    e = table(spark, sf_dir, "embeddings")
    norm = l2_norm(to_double_array("embedding"))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.col("norm").cast("decimal(27,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_norm"),
        )
    )


_oracle(
    "embedding_norms",
    """
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                      x -> x * x))) AS DECIMAL(27,8))) AS DOUBLE)
               / COUNT(*) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)


RP_OUT_DIM = 16
_RP_MULT = 2654435761  # Knuth multiplicative-hash constant
_RP_MOD = 1000000007


def _rp_sign(j, d):
    """Deterministic ±1 plane entry from pure small-int arithmetic — both
    engines compute the identical value with exact int64 ops (max
    intermediate ~3e12, far from overflow), so the plane matrix needs no
    cross-engine hash function or driver-side materialization."""
    mix = ((j + 1).cast("bigint") * (d + 7).cast("bigint") * F.lit(_RP_MULT)) % F.lit(_RP_MOD)
    return F.when(mix % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def embedding_random_projection(spark: SparkSession, sf_dir: str,
                                out_dim: int = RP_OUT_DIM) -> DataFrame:
    """Achlioptas-style ±1 random projection: 64-dim embeddings down to
    ``out_dim`` components, one output row per (vector, component).

    Row-local and shuffle-free: each component is a sequential fp64 fold
    of v[d] * sign(j, d) over the dimensions — E[||Pv||^2] = out_dim *
    ||v||^2, the Johnson-Lindenstrauss contract (checked as a pytest
    property).  The sign matrix is generated INSIDE the expression from
    integer arithmetic (no literal blow-up — the measured
    embedding_lsh_near_dup trap), and the fold order matches DuckDB's
    list_reduce, so raw doubles are bit-identical and the entry is
    hash-checked.

    Scale: dimensionality reduction in front of the LSH/IVF tiers cuts
    their CPU by dim_in/dim_out with JL-bounded recall loss; this operator
    composes with them as a drop-in select.
    """
    e = table(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.struct(
            j.cast("int").alias("j"),
            F.aggregate(
                F.sequence(F.lit(0), F.size(F.col("v")) - 1),
                F.lit(0.0),
                lambda acc, d: acc
                + F.element_at(F.col("v"), d + 1) * _rp_sign(j, d),
            ).alias("p"),
        ),
    )
    return (
        e.select("vec_id", "label", v.alias("v"))
        .select("vec_id", "label", F.explode(comp).alias("s"))
        .select(
            "vec_id",
            "label",
            F.col("s.j").alias("component"),
            F.col("s.p").alias("proj"),
        )
    )


_oracle(
    "embedding_random_projection",
    f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        FROM embeddings
    ), c AS (
        SELECT vec_id, label, x,
               UNNEST(range(0, {RP_OUT_DIM})) AS component
        FROM v
    )
    SELECT vec_id, label,
           CAST(component AS INTEGER) AS component,
           list_reduce(
               list_prepend(0.0, list_transform(
                   range(0, len(x)),
                   d -> x[d + 1]
                        * (CASE WHEN ((((component + 1) * (d + 7)
                                        * {_RP_MULT}) % {_RP_MOD}) % 2) = 0
                                THEN 1.0 ELSE -1.0 END))),
               (a, b) -> a + b) AS proj
    FROM c
    """,
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) approximate k-NN — the memory-compression tier
# (Jégou, Douze, Schmid: "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011)
# ---------------------------------------------------------------------------

PQ_M = 16     # subspaces (64-dim vector -> 16 sub-vectors of 4 dims)
PQ_SUBD = 4   # dims per subspace
PQ_KSUB = 64  # centroids per sub-codebook (a code fits in 6 bits; 16
              # byte-codes = 16 bytes vs 512 bytes of fp64 — 32x memory
              # compression, 42x with bit-packing)
PQ_EVERY = 7   # codebook stride: sub-centroid c = slices of vector c*7
               # (deterministic pseudo-codebook, the _centroids pattern —
               # a real build runs k-means per subspace once per corpus;
               # parameter sweep on this near-random testdata: (m=16,
               # ksub=64) strided gives 0.40 top-5 recall vs exact L2 —
               # the same floor the IVF entry holds — vs 0.02 for
               # (m=8, ksub=16); 2 k-means iterations would lift it to
               # ~0.56 but cost a 16-subspace unrolled-CTE oracle)


def _pq_d2(a, b):
    """Squared L2 over a sub-vector as a SEQUENTIAL fp64 fold — the same
    left-to-right grouping DuckDB's list_reduce uses, so both engines get
    bit-identical distances."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_SUBD)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(a, i.cast("int")) - F.element_at(b, i.cast("int")))
        * (F.element_at(a, i.cast("int")) - F.element_at(b, i.cast("int"))),
    )



def _pq_codebook(e: DataFrame):
    """1-row packed sub-codebook frame (broadcastable, ~32 KB)."""
    cents = e.filter(
        (F.col("vec_id") % PQ_EVERY == 0)
        & (F.col("vec_id") / PQ_EVERY < PQ_KSUB)
    ).select(
        (F.col("vec_id") / PQ_EVERY).cast("long").alias("code"),
        F.col("v").alias("cv"),
    )
    return cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("code", "cv"))).alias("_cs")
    )


def _pq_codebook_nested(packed: DataFrame) -> DataFrame:
    """1-row frame holding the MATERIALIZED nested codebook ``_cb``.
    Building _cb inside a post-join withColumn re-evaluates the 16x64
    slice tree once per CONSUMER row (the repo-wide unmaterialized-HOF
    trap — measured 6.3s vs 1.3s for knn_pq at sf0.1); computing it on
    the broadcast side materializes it exactly once into the broadcast
    relation."""
    return packed.select(_pq_cb_col().alias("_cb"))


def _pq_cb_col():
    """_cb[s+1][c+1] = sub-centroid slice, from the packed ``_cs``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda s: F.transform(
            F.col("_cs"), lambda c: F.slice(c["cv"], s * PQ_SUBD + 1, PQ_SUBD)
        ),
    )


def _pq_codes_col():
    """Per-row code list: argmin sub-centroid per subspace (first position
    of the min -> lowest code on exact ties, the oracle's tie rule)."""
    def dists(s):
        return F.transform(
            F.element_at(F.col("_cb"), (s + 1).cast("int")),
            lambda cc: _pq_d2(
                F.slice(F.col("v"), s * PQ_SUBD + 1, PQ_SUBD), cc
            ),
        )

    # two-level transform: the inner one MATERIALIZES each subspace's
    # dists array as a value, so the outer lambda's two references (min +
    # position) read the bound element instead of re-evaluating the
    # O(ksub x subd) distance transform — halves this reference encode's
    # dominant step count (same fix class as ivf_assign's own-projection
    # sims barrier)
    return F.transform(
        F.transform(F.sequence(F.lit(0), F.lit(PQ_M - 1)), dists),
        lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("long"),
    )


def _pq_adist_col():
    """Asymmetric distance: sum over subspaces of d2(query sub-slice,
    coded sub-centroid) as a sequential fold (rounded to 4 for the
    deterministic rank key, the knn convention)."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + _pq_d2(
                F.slice(F.col("qv"), s * PQ_SUBD + 1, PQ_SUBD),
                F.element_at(
                    F.element_at(F.col("_cb"), (s + 1).cast("int")),
                    (F.element_at(F.col("codes"), (s + 1).cast("int")) + 1)
                    .cast("int"),
                ),
            ),
        ),
        4,
    )


def knn_pq(spark: SparkSession, sf_dir: str,
           score_tier: str = "gemm") -> DataFrame:
    """Approximate top-5 neighbors by squared-L2 over PQ codes: each
    corpus vector is encoded as ``PQ_M`` sub-codebook indices (argmin
    squared-L2 per subspace), and query-to-candidate distance is the
    asymmetric distance sum_s d2(query_sub_s, codebook[s][code_s]).

    WHY at 100 TB: IVF (``knn_ivf``) cuts the number of candidates; PQ
    cuts the BYTES per candidate — 16 codes (6 bits each here) stand in
    for 512 bytes of fp64, so a 100 TB embedding corpus scans as ~2.4 TB
    of codes + a broadcast codebook (16x64x4 doubles = 32 KB).  The two
    compose (IVF-PQ) by running this encoding inside each IVF cell.

    Approximate by design (quantization error moves neighbors), but the
    COMPUTATION is fully deterministic: pseudo-codebook from strided
    vectors, sequential fp64 folds bit-identical in DuckDB, ties broken
    by (code ASC) / (neighbor_id ASC) — so the output carries a full SQL
    oracle.  Everything after the one broadcast (32 KB codebook) is
    row-local; candidate scoring re-reads only (codes, id) — the fp64
    vectors never shuffle.

    The corpus encode is the numpy cogroup GEMM tier (``pq_encode_gemm``
    — measured 661.7s HOF vs 4.2s GEMM at 200k vectors, 156x: the
    n x m x ksub x subd fold lambdas are CodegenFallback, the knn_ivf r4
    lesson again); the HOF encode ``_pq_codes_col`` stays only as the
    reference the GEMM codes are tested against.

    Scoring DEFAULTS to the numpy LUT tier (``pq_score_gemm``): each
    query's 16x64 lookup table is built once per Arrow batch and
    candidates cost 16 table-gathers — measured 2.4x over the
    interpreted HOF fold at sf0.1 and growing with candidate count
    (~120us/candidate interpreted).  The LUT's per-subspace folds use
    the SAME fp grouping as the HOF tier — sum over s of
    d2(q_s, cb[s][c_s]) — so adist is bit-identical (verified under
    SPARK_GRAFT_STRICT_FLOATS=1); ``score_tier="fold"`` keeps the
    all-Catalyst reference path (``knn_pq_fold`` runs GEMM encode +
    fold scoring — the per-query kernel is the fold's honest home).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    shards = _gemm_shards(spark, table_rows(sf_dir, "embeddings"))
    packed = _pq_codebook(e)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    codes = pq_encode_gemm(e, packed, shards)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    if score_tier == "gemm":
        pairs = pq_score_gemm(codes, q, packed, shards)
    else:
        cand = (
            codes.crossJoin(F.broadcast(_pq_codebook_nested(packed)))
            .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        )
        pairs = cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_adist_col().alias("adist"),
        )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


def _knn_pq_oracle(m: int = PQ_M, subd: int = PQ_SUBD, ksub: int = PQ_KSUB,
                   every: int = PQ_EVERY) -> str:
    """Exact SQL mirror of ``knn_pq`` — generated from the same constants
    as the Spark signature (the knn_ivf anti-drift pattern)."""
    d2 = (
        "list_reduce(list_transform(range(1, {subd} + 1), i -> "
        "({a}[{off} + i] - {b}[i]) * ({a}[{off} + i] - {b}[i])), "
        "(x, y) -> x + y)"
    )
    enc_d2 = d2.format(subd=subd, a="v", off=f"s * {subd}",
                       b=f"cbn[s + 1][c + 1]")
    adc_d2 = d2.format(subd=subd, a="q.qv", off=f"s * {subd}",
                       b="cbn[s + 1][codes.codes[s + 1] + 1]")
    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cb AS (
        SELECT s.s AS sub, e.vec_id // {every} AS code,
               e.v[s.s * {subd} + 1 : s.s * {subd} + {subd}] AS cv
        FROM e, range(0, {m}) s(s)
        WHERE e.vec_id % {every} = 0 AND e.vec_id // {every} < {ksub}
    ), cbl AS (
        SELECT list(cl ORDER BY sub) AS cbn FROM (
            SELECT sub, list(cv ORDER BY code) AS cl FROM cb GROUP BY sub)
    ), codes AS (
        SELECT vec_id,
               list_transform(range(0, {m}), s ->
                   list_indexof(
                       list_transform(range(0, {ksub}), c -> {enc_d2}),
                       list_min(
                           list_transform(range(0, {ksub}), c -> {enc_d2})
                       )) - 1) AS codes
        FROM e, cbl
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
    ), cand AS (
        SELECT q.query_id, codes.vec_id AS neighbor_id,
               ROUND(list_reduce(
                   list_transform(range(0, {m}), s -> {adc_d2}),
                   (x, y) -> x + y), 4) AS adist
        FROM q, codes, cbl
        WHERE codes.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adist, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adist ASC, neighbor_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {TOP_K}
    """


_oracle("knn_pq", _knn_pq_oracle())


# ---------------------------------------------------------------------------
# IVF-PQ: both ANN levers composed (candidate count x bytes per candidate)
# ---------------------------------------------------------------------------

IVFPQ_EVERY = 50   # coarse stride -> corpus/50 cells (the knn_ivf index)
IVFPQ_N_PROBE = 3  # coarse cells probed per query


def _ivfpq_index(spark: SparkSession, sf_dir: str,
                 every: int = IVFPQ_EVERY) -> tuple:
    """The IVF-PQ index build — (vectors, centroids, packed codebook,
    coded corpus) — on the GEMM cogroup tiers.  Factored out so the eval
    gates (``knn_recall_eval``, ``knn_probe_sweep``) can build and persist
    it ONCE and share it across tiers/probe configs instead of paying one
    corpus-scale encode per grid point; ``carry=centroid_id`` threads the
    coarse cell through the PQ encode so the composition costs no extra
    vec_id shuffle join."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # the centroid frame is derived TWICE per knn_ivfpq call (replicated
    # into the assign cogroup here, broadcast by _probe_cells) — each
    # derivation re-scanning the embeddings parquet + re-running
    # to_double_array for a corpus/every-row frame.  Persist the tiny
    # frame once (r13 verdict task 4); released with the query's other
    # tracked persists.
    cents = tracked_persist(_centroids(e, every))
    shards = _gemm_shards(spark, table_rows(sf_dir, "embeddings"))
    assigned = ivf_assign_gemm(e, cents, shards)
    packed = _pq_codebook(e)
    coded = pq_encode_gemm(assigned, packed, shards, carry=("centroid_id",))
    return every, e, cents, packed, coded


def _probe_cells(e: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """The coarse probe: each query's ``n_probe`` nearest IVF cells by
    the index's own metric (cosine), with the probe rank ``prnk``
    retained — ``knn_ivfpq`` drops it, ``knn_probe_sweep`` keys its
    probe-prefix derivation on it."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qcsim").desc(), F.col("centroid_id").asc()
    )
    return (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "centroid_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("qcsim"),
        )
        .withColumn("prnk", F.row_number().over(wq))
        .filter(F.col("prnk") <= n_probe)
    )


def knn_ivfpq(spark: SparkSession, sf_dir: str,
              n_probe: int = IVFPQ_N_PROBE,
              every: int = IVFPQ_EVERY,
              top: int = TOP_K,
              index: tuple | None = None) -> DataFrame:
    """IVF-PQ: the coarse IVF index (``knn_ivf``'s cosine cells) prunes
    CANDIDATES to the ``n_probe`` nearest cells, and PQ codes
    (``knn_pq``'s 16-subspace codebook) shrink the BYTES scanned per
    surviving candidate — the two levers compose multiplicatively, which
    is how faiss-style billion-vector serving works: at 100 TB of fp64
    embeddings, IVF with sqrt-scaled cells cuts the scan ~sqrt(n)/probe,
    and the candidates stream as ~16-byte codes + one 32 KB broadcast
    codebook instead of 512-byte vectors.

    Measured top-5 recall vs exact L2 on the near-random testdata:
    0.44 at sf0.01 (3 of 10 cells probed), 0.20 at sf0.1 (3 of 40 —
    the probed FRACTION shrinks as cells grow, and unclustered data has
    no locality for the coarse quantizer to exploit; real embedding
    corpora cluster, and production fixes n_probe as a fraction of
    cells).  The composition multiplies both approximations' losses —
    the price of the multiplied savings.

    Simplification vs faiss: codes quantize the RAW vectors, not the
    per-cell residuals (residual codebooks need per-cell training; the
    plumbing — probe join + ADC over coded candidates — is identical).
    Coarse probing uses the IVF index's own metric (cosine); fine ranking
    is PQ asymmetric squared-L2.  Deterministic end-to-end, so the
    composed pipeline carries a full SQL oracle assembled from the same
    CTE generators as its two parents.
    """
    idx_every, e, cents, packed, coded = (
        index or _ivfpq_index(spark, sf_dir, every)
    )
    if idx_every != every:
        raise ValueError(
            f"index was built with every={idx_every}, call asked for "
            f"every={every} — rebuild the index or pass matching strides"
        )
    probe = _probe_cells(e, cents, n_probe).select(
        "query_id", "qv", "centroid_id"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        pq_score_cells(coded, probe, packed)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top)
    )


def pq_score_cells(coded: DataFrame, probe: DataFrame, packed: DataFrame,
                   with_cell: bool = False) -> DataFrame:
    """Cell-local ADC scoring for IVF-PQ: codes and probing queries
    cogroup on ``centroid_id``, so each Arrow batch scores exactly one
    cell's candidates against exactly the queries that probed it — the
    IVF pruning IS the cogroup key, no per-pair join row ever
    materializes in Catalyst.  Same numpy LUT arithmetic as
    ``pq_score_gemm`` (``_adc_batches`` — bit-identical to the HOF fold
    and the shared oracle)."""
    probe_cb = probe.crossJoin(F.broadcast(_pq_codebook_flat(packed)))

    def score(codes_pdf, q_pdf):
        import pandas as pd

        cell = {}
        if with_cell:
            # the cogroup key — constant per call, carried so probe
            # sweeps can attach per-config prnk without a corpus join
            cell["centroid_id"] = int(codes_pdf["centroid_id"].iloc[0])
        return pd.concat(
            [pd.DataFrame({"query_id": qid, "neighbor_id": nid,
                           "adist": adist, **cell})
             for qid, nid, adist in _adc_batches(codes_pdf, q_pdf)],
            ignore_index=True,
        )

    schema = "query_id long, neighbor_id long, adist double"
    if with_cell:
        schema += ", centroid_id long"
    return _cogroup_np(
        coded, probe_cb, "centroid_id", score, schema
    ).withColumn("adist", F.round("adist", 4))


def _knn_ivfpq_oracle(m: int = PQ_M, subd: int = PQ_SUBD,
                      ksub: int = PQ_KSUB, pq_every: int = PQ_EVERY,
                      every: int = IVFPQ_EVERY,
                      n_probe: int = IVFPQ_N_PROBE,
                      top: int = TOP_K) -> str:
    """Composed mirror: knn_ivf's coarse CTEs (cosine cells + probe) +
    knn_pq's code CTEs + ADC ranking, generated from the same constants
    as the Spark signature."""
    d2 = (
        "list_reduce(list_transform(range(1, {subd} + 1), i -> "
        "({a}[{off} + i] - {b}[i]) * ({a}[{off} + i] - {b}[i])), "
        "(x, y) -> x + y)"
    )
    enc_d2 = d2.format(subd=subd, a="v", off=f"s * {subd}",
                       b="cbn[s + 1][c + 1]")
    adc_d2 = d2.format(subd=subd, a="p.qv", off=f"s * {subd}",
                       b="cbn[s + 1][codes.codes[s + 1] + 1]")
    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), cents AS (
        SELECT vec_id // {every} AS centroid_id, v AS cv
        FROM e WHERE vec_id % {every} = 0
    ), assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                                c.centroid_id ASC) AS crnk
            FROM e, cents c
        ) WHERE crnk = 1
    ), cb AS (
        SELECT s.s AS sub, e.vec_id // {pq_every} AS code,
               e.v[s.s * {subd} + 1 : s.s * {subd} + {subd}] AS cv
        FROM e, range(0, {m}) s(s)
        WHERE e.vec_id % {pq_every} = 0 AND e.vec_id // {pq_every} < {ksub}
    ), cbl AS (
        SELECT list(cl ORDER BY sub) AS cbn FROM (
            SELECT sub, list(cv ORDER BY code) AS cl FROM cb GROUP BY sub)
    ), codes AS (
        SELECT vec_id,
               list_transform(range(0, {m}), s ->
                   list_indexof(
                       list_transform(range(0, {ksub}), c -> {enc_d2}),
                       list_min(
                           list_transform(range(0, {ksub}), c -> {enc_d2})
                       )) - 1) AS codes
        FROM e, cbl
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
    ), probe AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT q.query_id, q.qv, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                c.centroid_id ASC) AS prnk
            FROM q, cents c
        ) WHERE prnk <= {n_probe}
    ), cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_reduce(
                   list_transform(range(0, {m}), s -> {adc_d2}),
                   (x, y) -> x + y), 4) AS adist
        FROM probe p
        JOIN assigned a USING (centroid_id)
        JOIN codes ON codes.vec_id = a.vec_id
        CROSS JOIN cbl
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, adist, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adist ASC, neighbor_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {top}
    """


_oracle("knn_ivfpq", _knn_ivfpq_oracle())


REFINE_DEPTH = 20  # PQ-approximate candidates refined per query (4x TOP_K)


def knn_ivfpq_refine(spark: SparkSession, sf_dir: str,
                     depth: int = REFINE_DEPTH,
                     every: int = IVFPQ_EVERY,
                     n_probe: int = IVFPQ_N_PROBE,
                     index: tuple | None = None) -> DataFrame:
    """IVF-PQ with exact-distance refinement — the two-stage ANN serving
    shape (faiss ``IndexRefineFlat``): the compressed index nominates a
    candidate slate ``depth`` deep per query (cheap, lossy), then the RAW
    vectors of only those candidates are fetched and re-ranked by exact
    squared-L2, so the final top-k ordering carries no quantization error
    for any true neighbor the slate caught.  Recall then depends only on
    slate membership, not on PQ's distance distortion — the standard
    production fix for ADC mis-ranking near the top of the list.

    Scale shape: the slate is O(queries x depth) rows — broadcast to
    every executor, so the refine join is ONE map-side pass over the
    corpus parquet (no corpus shuffle, no second index); the final
    window ranks ~depth rows per query.  At 100 TB the candidate fetch
    is the same broadcast-semi-join pattern, optionally narrowed further
    by partition-pruning on the vector store's bucketing.

    Exactness: squared-L2 folds dimension-by-dimension left-to-right
    (functions/vector.py ``sq_l2``), matching DuckDB's ``list_reduce``
    fold bit-for-bit, so the composed pipeline keeps a full value-hash
    oracle — candidate slate and refined ordering both.
    """
    cand = knn_ivfpq(
        spark, sf_dir, n_probe=n_probe, every=every, top=depth, index=index
    ).select("query_id", "neighbor_id")
    return _refine_candidates(spark, sf_dir, cand)


def _refine_candidates(spark: SparkSession, sf_dir: str,
                       cand: DataFrame) -> DataFrame:
    """The refine stage proper: fetch the raw vectors of a (query_id,
    neighbor_id) candidate slate and re-rank by exact squared-L2 to
    TOP_K.  Shared by ``knn_ivfpq_refine`` and the eval gates (which
    derive the base tier and the refined tier from ONE slate)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    refined = (
        e.join(F.broadcast(cand), e.vec_id == cand.neighbor_id)
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(sq_l2(F.col("qv"), F.col("v")), 4).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


def _knn_ivfpq_refine_oracle(depth: int = REFINE_DEPTH) -> str:
    """Composed mirror: the parameterized IVF-PQ oracle at slate depth,
    then exact squared-L2 over the re-fetched raw vectors — the same
    left-to-right dimension fold as ``sq_l2``."""
    base = _knn_ivfpq_oracle(top=depth)
    return f"""
    WITH slate AS (
        {base}
    ), e2 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), refined AS (
        SELECT c.query_id, c.neighbor_id,
               ROUND(list_reduce(
                   list_transform(range(1, len(qe.v) + 1),
                                  i -> (qe.v[i] - ne.v[i])
                                       * (qe.v[i] - ne.v[i])),
                   (x, y) -> x + y), 4) AS d2
        FROM slate c
        JOIN e2 ne ON ne.vec_id = c.neighbor_id
        JOIN e2 qe ON qe.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, d2, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY d2 ASC, neighbor_id ASC) AS rnk
        FROM refined
    ) WHERE rnk <= {TOP_K}
    """


_oracle("knn_ivfpq_refine", _knn_ivfpq_refine_oracle())


def pq_encode_gemm(e: DataFrame, packed: DataFrame, n_shards: int,
                   carry: tuple = ()) -> DataFrame:
    """``_pq_codes_col`` at GEMM speed: the corpus is salted into shards
    and cogrouped with the engine-replicated flat codebook (the
    ``ivf_assign_gemm`` distribution pattern — no driver collect); each
    Arrow batch computes all (chunk x ksub) sub-distances per subspace
    with ``np_sq_l2`` — DIMENSION-ORDERED accumulation, bit-identical to
    the sequential HOF fold and to DuckDB's list_reduce, so the argmin
    (np.argmin keeps the FIRST minimum = lowest code, the shared tie
    rule) picks the same code and the result shares the same exact
    oracle.

    This is the index-build tier you'd ship at 100x corpus size: the HOF
    encode is n x m x ksub x subd interpreted lambda steps
    (CodegenFallback — the knn_ivf r4 lesson), the GEMM tier does the
    same arithmetic in vectorized batches.  Measured at 200k x 64-dim
    vectors: 661.7s (HOF) vs 4.2s (GEMM) — 156x (docs/SCALE.md).

    ``carry`` names extra LONG columns of ``e`` to pass through unchanged
    (e.g. a precomputed IVF centroid_id), so composed pipelines avoid a
    second vec_id shuffle join.
    """
    def encode(corpus_pdf, cb_pdf):
        import numpy as np
        import pandas as pd

        C = np.asarray(
            cb_pdf.iloc[0]["_cbflat"], dtype=np.float64
        ).reshape(-1, PQ_M * PQ_SUBD)
        A = np.stack(corpus_pdf["v"].to_numpy()).astype(np.float64)
        codes = np.zeros((A.shape[0], PQ_M), dtype=np.int64)
        for s in range(PQ_M):
            sub = slice(s * PQ_SUBD, (s + 1) * PQ_SUBD)
            codes[:, s] = np_sq_l2(A[:, sub], C[:, sub]).argmin(axis=1)
        return pd.DataFrame(
            {"vec_id": corpus_pdf["vec_id"].to_numpy(),
             **{c: corpus_pdf[c].to_numpy() for c in carry},
             "codes": list(codes)}
        )

    out_schema = "vec_id long, " + "".join(
        f"{c} long, " for c in carry
    ) + "codes array<long>"
    return _cogroup_np(
        _salt_shards(e, n_shards),
        _replicate_per_shard(_pq_codebook_flat(packed), n_shards),
        "shard", encode, out_schema,
    )


def knn_pq_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_pq`` with the PER-QUERY fold kernel: candidate scoring runs
    the all-Catalyst asymmetric-distance fold (``score_tier="fold"``,
    the sum-over-subspaces sequential fp64 fold the oracle mirrors),
    while the one-off corpus encode stays on the vectorized GEMM tier.
    Bit-identical output, same exact oracle.
    """
    return knn_pq(spark, sf_dir, score_tier="fold")


ORACLES["knn_pq_fold"] = ORACLES["knn_pq"]


def _pq_codebook_flat(packed: DataFrame) -> DataFrame:
    """1-row frame with the codebook as ONE flat array<double> (ksub x
    dim, row-major in code order) — the one codebook shape the numpy
    tiers (PQ encode and both ADC scorers) ship into Python.  The nested
    list<struct<code, cv:list<double>>> form segfaults pyarrow's
    arrow_to_pandas when shipped through a cogroup at some batch shapes
    (observed at sf0.1 in pq_score_cells; worker dies in
    serializers.arrow_to_pandas) — a flat double list round-trips safely
    and reshapes in one numpy call."""
    return packed.select(
        F.flatten(
            F.transform(F.col("_cs"), lambda c: c["cv"])
        ).alias("_cbflat")
    )


def _adc_scores(C, codes, qv):
    """Asymmetric distances of one query ``qv`` to every code row of
    ``codes`` (n x m) over the flat codebook ``C`` (ksub x m*subd): per
    subspace s, the LUT ``np_sq_l2(q_s, C_s)`` over the ksub
    sub-centroids, gathered at ``codes[:, s]`` and added in subspace
    order — the two-level grouping of the HOF fold
    ``sum_s d2(q_s, cb[s][c_s])``, so bit-identical to it."""
    import numpy as np

    qv = np.asarray(qv, dtype=np.float64)
    adist = np.zeros(codes.shape[0])
    for s in range(PQ_M):
        sub = slice(s * PQ_SUBD, (s + 1) * PQ_SUBD)
        adist += np_sq_l2(qv[None, sub], C[:, sub])[0][codes[:, s]]
    return adist


def _adc_batches(codes_pdf, q_pdf):
    """The ADC batch loop both numpy scorers share: decode the flat
    codebook the query rows carry (``_cbflat``), stack the batch's code
    matrix once, and yield ``(query_id, neighbor_ids, adist)`` per
    distinct query with the query itself excluded.  adist is RAW: the
    callers round in Spark (HALF_UP, the module rule) — np.round is
    banker's and can flip the rank key vs the fold tier/oracles at a
    .00005 boundary."""
    import numpy as np

    C = np.asarray(
        q_pdf.iloc[0]["_cbflat"], dtype=np.float64
    ).reshape(-1, PQ_M * PQ_SUBD)
    codes_mat = np.stack(codes_pdf["codes"].to_numpy()).astype(np.int64)
    vec_ids = codes_pdf["vec_id"].to_numpy()
    for _, qrow in q_pdf.drop_duplicates("query_id").iterrows():
        qid = qrow["query_id"]
        keep = vec_ids != qid
        yield qid, vec_ids[keep], _adc_scores(C, codes_mat, qrow["qv"])[keep]


def pq_score_gemm(codes: DataFrame, q: DataFrame, packed: DataFrame,
                  n_shards: int) -> DataFrame:
    """ADC scoring at GEMM speed: the REAL lookup-table serving path.
    Corpus codes are salted into shards and cogrouped with the
    engine-replicated query set (each query row carries the packed
    codebook via a broadcast crossJoin — ~32 KB x queries x shards, never
    the corpus); each Arrow batch builds the per-query 16x64 LUT in numpy
    with DIMENSION-ORDERED accumulation and scores candidates with m
    table-gathers accumulated IN SUBSPACE ORDER — the same two-level fp64
    grouping as the HOF fold ``sum_s d2(q_s, cb[s][c_s])`` (``_adc_batches``),
    so adist is bit-identical to the interpreted tier and the shared
    oracle.

    Per-candidate cost drops from ~120us of interpreted lambda steps
    (measured at sf0.1: ~2.4s for 20k pairs) to m numpy gathers — the
    difference between an ANN serving path and a demo.
    """
    q_rep = _replicate_per_shard(
        q.crossJoin(F.broadcast(_pq_codebook_flat(packed))), n_shards
    )

    def score(codes_pdf, q_pdf):
        import numpy as np
        import pandas as pd

        out = []
        for qid, nid, a in _adc_batches(codes_pdf, q_pdf):
            # per-shard prune (the knn_gemm pattern, r9 review): keep the
            # k smallest raw adists plus every row within 1e-3 of the
            # k-th — rounding to 4 decimals moves a value by <= 5e-5, so
            # the margin provably covers anything the global rounded rank
            # could promote.  Without it the shuffle into the global
            # window carries n_queries x n_corpus rows; with it,
            # n_queries x shards x ~k.
            if a.size > TOP_K:
                kth = np.partition(a, TOP_K - 1)[TOP_K - 1]
                sel = a <= kth + 1e-3
                a, nid = a[sel], nid[sel]
            out.append(pd.DataFrame(
                {"query_id": qid,
                 "neighbor_id": nid,
                 "adist": a}
            ))
        return pd.concat(out, ignore_index=True)

    return _cogroup_np(
        _salt_shards(codes, n_shards), q_rep, "shard", score,
        "query_id long, neighbor_id long, adist double",
    ).withColumn("adist", F.round("adist", 4))


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION corpus statistics over the embedding column — the
    vector-QA pass run before building any index: a dimension with ~zero
    variance is dead weight in every distance computation (and a symptom
    of a broken encoder export), and extreme per-dim ranges motivate
    per-dim scaling for quantizers (knn_pq's sub-codebooks).

    Determinism: the repetition_stats pattern — fixed-point integer sums
    with SINGLE divisions at the end.  x and x*x are quantized with
    ROUND(v * 10^k): the product is the identical double in both engines
    and round-half-away-from-zero agrees everywhere, unlike a
    double->DECIMAL cast, whose exact-expansion vs float-multiply
    rounding algorithms diverge by one unit-in-last-place on ~1/4000
    values (measured: a first decimal-cast version failed the
    STRICT_FLOATS gate by exactly 1e-12/n in one dim's mean).  The int64
    sums are exact (bound: n * 5e8 per shard — shard the pass beyond
    ~10^9 rows) and every emitted double is a fixed expression over them.

    Scale shape: posexplode to (dim, x) scalars, ONE map-side-combined
    groupBy on dim (64 groups) — the corpus never shuffles more than
    dim-keyed partial aggregates.
    """
    e = table(spark, sf_dir, "embeddings").select(
        to_double_array("embedding").alias("v")
    )
    exploded = e.select(F.posexplode("v").alias("pos", "x"))
    n = F.count(F.lit(1))
    s = F.sum(F.round(F.col("x") * F.lit(1e9)).cast("bigint"))
    ssq = F.sum(
        F.round(F.col("x") * F.col("x") * F.lit(1e12)).cast("bigint")
    )
    agg = exploded.groupBy("pos").agg(
        n.alias("n"),
        s.alias("s9"),
        ssq.alias("ssq12"),
        F.min("x").alias("min_v"),
        F.max("x").alias("max_v"),
    )
    mean = (F.col("s9").cast("double") / F.col("n")) / F.lit(1e9)
    var = (F.col("ssq12").cast("double") / F.col("n")) / F.lit(
        1e12
    ) - mean * mean
    return agg.select(
        "pos",
        "n",
        mean.alias("mean_v"),
        var.alias("var_v"),
        "min_v",
        "max_v",
        (var < F.lit(1e-6)).alias("is_degenerate"),
    ).orderBy("pos")


_oracle(
    "embedding_dim_stats",
    """
    WITH x AS (
        SELECT i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), agg AS (
        SELECT pos,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS BIGINT) AS s9,
               CAST(SUM(CAST(round(x * x * 1e12) AS BIGINT)) AS BIGINT)
                   AS ssq12,
               MIN(x) AS min_v,
               MAX(x) AS max_v
        FROM x GROUP BY pos
    )
    SELECT pos, n,
           (CAST(s9 AS DOUBLE) / n) / 1e9 AS mean_v,
           (CAST(ssq12 AS DOUBLE) / n) / 1e12
               - ((CAST(s9 AS DOUBLE) / n) / 1e9)
               * ((CAST(s9 AS DOUBLE) / n) / 1e9) AS var_v,
           min_v, max_v,
           ((CAST(ssq12 AS DOUBLE) / n) / 1e12
               - ((CAST(s9 AS DOUBLE) / n) / 1e9)
               * ((CAST(s9 AS DOUBLE) / n) / 1e9)) < 1e-6 AS is_degenerate
    FROM agg
    ORDER BY pos
    """,
)


N_NEGATIVES = 3


def contrastive_triplets(spark: SparkSession, sf_dir: str,
                         n_negatives: int = N_NEGATIVES,
                         threshold: float = NEAR_DUP_THRESHOLD) -> DataFrame:
    """Contrastive / triplet mining for embedding-model training: one
    (anchor, positive, negative) row per negative slot, where positives
    come from NEAR-DUP MINING (the hyperplane-LSH banded join) and
    negatives are deterministic uniform draws with collision exclusion.

    The training-data shape behind contrastive fine-tuning (SimCSE-style
    hard-positive pairs + random negatives): every anchor with at least
    one verified near-duplicate gets its minimum-id partner as the
    positive (deterministic), and ``n_negatives`` pseudo-random corpus
    ids drawn row-locally from md5(anchor || '-neg-' || slot) mod n.  A
    drawn negative that IS the anchor, the positive, or a true near-dup
    partner of the anchor is DROPPED rather than resampled — resampling
    loops are not SQL-mirrorable, and at corpus scale the collision
    probability is ~dup_degree/n, so the lost slots are negligible (and
    honest: a production miner filters, it does not loop either).

    Scale shape: positives ride the already-sublinear LSH banding; the
    negative draw is row-local hash arithmetic plus ONE anti-join of the
    (anchor, negative) candidates against the thin symmetric pair list.
    vec_ids are assumed dense 0..n-1 (the testdata layout); a sparse id
    space would draw via an id-rank dimension table instead.
    """
    pairs = embedding_lsh_near_dup(spark, sf_dir, threshold=threshold).select(
        "id_a", "id_b"
    )
    sym = tracked_persist(
        pairs.select(F.col("id_a").alias("anchor"),
                     F.col("id_b").alias("partner"))
        .unionByName(
            pairs.select(F.col("id_b").alias("anchor"),
                         F.col("id_a").alias("partner"))
        )
    )
    pos = sym.groupBy("anchor").agg(F.min("partner").alias("positive_id"))
    n_vecs = table(spark, sf_dir, "embeddings").agg(
        (F.max("vec_id") + 1).alias("n_vecs")
    )
    draws = (
        pos.crossJoin(F.broadcast(n_vecs))
        .select(
            "anchor",
            "positive_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_negatives - 1)),
                    lambda i: F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("anchor").cast("string"),
                                    F.lit("-neg-"),
                                    i.cast("string"),
                                ).cast("binary")
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.col("n_vecs"),
                )
            ).alias("neg_slot", "negative_id"),
        )
    )
    return (
        draws.filter(F.col("negative_id") != F.col("anchor"))
        .filter(F.col("negative_id") != F.col("positive_id"))
        .join(
            sym.select("anchor", F.col("partner").alias("negative_id")),
            ["anchor", "negative_id"],
            "left_anti",
        )
        .select(
            F.col("anchor").alias("anchor_id"),
            "positive_id",
            "negative_id",
            "neg_slot",
        )
    )


_oracle(
    "contrastive_triplets",
    f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), pj AS (
        SELECT p.p, j.j,
               ((('0x' || substring(md5(
                    p.p::VARCHAR || ':' || j.j::VARCHAR || ':plane'
                ), 1, 15))::BIGINT % 20001) - 10000) / 10000.0 AS w
        FROM generate_series(0, 23) p(p), generate_series(0, 63) j(j)
    ), planes AS (
        SELECT p, list(w ORDER BY j) AS pv FROM pj GROUP BY p
    ), bits AS (
        SELECT e.vec_id, pl.p,
               CASE WHEN list_reduce(
                        list_transform(generate_series(1, 64),
                                       k -> e.v[k] * pl.pv[k]),
                        (a, b) -> a + b) >= 0
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM e, planes pl
    ), bandvals AS (
        SELECT vec_id, p // 6 AS band_idx,
               list_reduce(list(bit ORDER BY p),
                           (acc, b) -> acc * 2 + b) AS band_val
        FROM bits GROUP BY vec_id, p // 6
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bandvals a JOIN bandvals b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id
    ), dup_pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b
        WHERE ROUND(list_cosine_similarity(x.v, y.v), 4)
                  >= {NEAR_DUP_THRESHOLD}
    ), sym AS (
        SELECT id_a AS anchor, id_b AS partner FROM dup_pairs
        UNION ALL
        SELECT id_b, id_a FROM dup_pairs
    ), pos AS (
        SELECT anchor, MIN(partner) AS positive_id FROM sym GROUP BY anchor
    ), n AS (
        SELECT MAX(vec_id) + 1 AS n_vecs FROM embeddings
    ), draws AS (
        SELECT pos.anchor, pos.positive_id, i AS neg_slot,
               ('0x' || substring(md5(
                   pos.anchor::VARCHAR || '-neg-' || i::VARCHAR
               ), 1, 15))::BIGINT % n.n_vecs AS negative_id
        FROM pos, n, UNNEST(generate_series(0, {N_NEGATIVES - 1})) AS t(i)
    )
    SELECT d.anchor AS anchor_id, d.positive_id,
           CAST(d.negative_id AS BIGINT) AS negative_id,
           CAST(d.neg_slot AS INTEGER) AS neg_slot
    FROM draws d
    WHERE d.negative_id <> d.anchor
      AND d.negative_id <> d.positive_id
      AND NOT EXISTS (
          SELECT 1 FROM sym s
          WHERE s.anchor = d.anchor AND s.partner = d.negative_id
      )
    """,
)


# ---------------------------------------------------------------------------
# E26 acceptance gates: measured recall of the approximate tiers
# ---------------------------------------------------------------------------

def _exact_l2_topk(spark: SparkSession, sf_dir: str,
                   top: int = TOP_K) -> DataFrame:
    """Exact squared-L2 top-k ground truth over the full corpus (self
    excluded) — the reference every ANN tier's recall is measured against.
    Broadcast-nested-loop of the bounded query set onto the corpus scan:
    O(n_queries x n), linear in corpus size, the same shape as
    ``knn_bruteforce``.  Rounding and tie rule match the serving tiers
    (d2 to 4 places, then neighbor_id ascending)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = spread_input(e).join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(sq_l2(F.col("qv"), F.col("v")), 4).alias("d2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top)
    )


def knn_recall_eval(spark: SparkSession, sf_dir: str,
                    every: int = IVFPQ_EVERY,
                    n_probe: int = IVFPQ_N_PROBE) -> DataFrame:
    """Measured recall@k of the compressed ANN serving tiers against the
    exact squared-L2 top-k — the acceptance gate an (every, n_probe,
    depth) index config must pass before it serves retrieval, promoted
    from docs/SCALE.md's ad-hoc measurement to an oracle-checked operator.

    One row per tier: ``ivfpq`` (pure compressed-domain ADC ranking) and
    ``ivfpq_refine`` (the two-stage slate + exact re-rank), each counting
    how many of the exact top-k pairs it reproduces.  ``recall =
    n_hits / (n_queries * k)`` is the standard macro recall@k (every
    query contributes exactly k truth pairs, so the mean-of-per-query
    ratios equals the pooled ratio).

    100 TB posture: the truth side is the linear brute-force pass (the
    eval-time cost you pay once per index config, on a query SAMPLE at
    full scale); the two tier builds are the production plans unchanged.
    """
    truth = tracked_persist(
        _exact_l2_topk(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # ONE index build, ONE ADC pass: the depth-REFINE_DEPTH slate is
    # ranked by the same (adist, neighbor_id) order the base tier uses,
    # so the ivfpq tier is exactly its rnk <= TOP_K prefix, and the
    # refine tier is the exact re-rank of the same slate — neither tier
    # pays a second corpus-scale encode/score.
    idx = _ivfpq_index(spark, sf_dir, every)
    slate = tracked_persist(
        knn_ivfpq(
            spark, sf_dir, n_probe=n_probe, every=every,
            top=REFINE_DEPTH, index=idx,
        ).select("query_id", "neighbor_id", "rnk")
    )
    tiers = (
        ("ivfpq", slate.filter(F.col("rnk") <= TOP_K)),
        ("ivfpq_refine",
         _refine_candidates(
             spark, sf_dir, slate.select("query_id", "neighbor_id")
         )),
    )
    parts = []
    for name, df in tiers:
        hits = df.select("query_id", "neighbor_id").join(
            truth, ["query_id", "neighbor_id"], "left_semi"
        )
        parts.append(
            hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits")).select(
                F.lit(name).alias("tier"), "n_hits"
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "tier",
        F.lit(N_QUERIES).cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits") / F.lit(N_QUERIES * TOP_K)).alias("recall"),
    )


def _knn_recall_eval_oracle() -> str:
    return f"""
    WITH e2 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       ROUND(list_reduce(
                           list_transform(range(1, len(q.v) + 1),
                               i -> (q.v[i] - n.v[i]) * (q.v[i] - n.v[i])),
                           (x, y) -> x + y), 4) ASC,
                       n.vec_id ASC) AS rnk
            FROM e2 q JOIN e2 n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {TOP_K}
    ), a1 AS (
        SELECT query_id, neighbor_id FROM ({_knn_ivfpq_oracle()})
    ), a2 AS (
        SELECT query_id, neighbor_id FROM ({_knn_ivfpq_refine_oracle()})
    ), hits AS (
        SELECT 'ivfpq' AS tier, COUNT(*) AS n_hits
        FROM a1 JOIN truth USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'ivfpq_refine' AS tier, COUNT(*) AS n_hits
        FROM a2 JOIN truth USING (query_id, neighbor_id)
    )
    SELECT tier,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS INTEGER) AS k,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS BIGINT) / CAST({N_QUERIES * TOP_K} AS BIGINT)
               AS recall
    FROM hits
    """


_oracle("knn_recall_eval", _knn_recall_eval_oracle())


def embedding_lsh_recall_eval(spark: SparkSession, sf_dir: str,
                              threshold: float = NEAR_DUP_THRESHOLD
                              ) -> DataFrame:
    """Recall of the hyperplane-LSH near-dup path against the exact
    all-pairs cosine baseline — the vector-modality twin of
    ``lsh_recall_eval``: a banding config that never collides on a true
    near-dup pair silently KEEPS that duplicate, so the measured recall
    is the number a dedup config ships with.

    ``n_approx`` counts the LSH pipeline's verified output pairs; since
    its verify stage applies the same rounded exact cosine >= threshold,
    every one is a true pair (n_hit == n_approx; the test pins it), so
    post-verify precision is 1.0 by construction and the interesting
    numbers are recall and n_missed.  The truth side is the
    deliberately-quadratic eval-scale baseline (``embedding_near_dup``) —
    at 100 TB the eval runs on a deterministic vec-hash sample, as with
    the text-modality eval.
    """
    truth = embedding_near_dup(spark, sf_dir, threshold).select("id_a", "id_b")
    approx = embedding_lsh_near_dup(spark, sf_dir, threshold=threshold).select(
        "id_a", "id_b"
    )
    t = truth.select(
        "id_a", "id_b", F.lit(1).alias("is_truth"), F.lit(0).alias("is_approx")
    )
    a = approx.select(
        "id_a", "id_b", F.lit(0).alias("is_truth"), F.lit(1).alias("is_approx")
    )
    marked = (
        t.unionByName(a)
        .groupBy("id_a", "id_b")
        .agg(F.max("is_truth").alias("it"), F.max("is_approx").alias("ia"))
    )
    # coalesce: SUM over an empty pair set is NULL; a clean corpus must
    # read as zeros in the gate table
    agg = marked.agg(
        F.coalesce(F.sum("it"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("ia"), F.lit(0)).cast("long").alias("n_approx"),
        F.coalesce(F.sum(F.col("it") * F.col("ia")), F.lit(0))
        .cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_truth",
        "n_approx",
        "n_hit",
        (F.col("n_truth") - F.col("n_hit")).alias("n_missed"),
        F.when(
            F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")
        ).alias("recall"),
    )


def _embedding_lsh_recall_eval_oracle() -> str:
    return f"""
    WITH truth AS (
        SELECT id_a, id_b FROM ({ORACLES["embedding_near_dup"]})
    ), approx AS (
        SELECT id_a, id_b FROM ({ORACLES["embedding_lsh_near_dup"]})
    ), marked AS (
        SELECT id_a, id_b, MAX(is_truth) AS it, MAX(is_approx) AS ia
        FROM (
            SELECT id_a, id_b, 1 AS is_truth, 0 AS is_approx FROM truth
            UNION ALL
            SELECT id_a, id_b, 0 AS is_truth, 1 AS is_approx FROM approx
        )
        GROUP BY id_a, id_b
    )
    SELECT CAST(COALESCE(SUM(it), 0) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(ia), 0) AS BIGINT) AS n_approx,
           CAST(COALESCE(SUM(it * ia), 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(SUM(it) - SUM(it * ia), 0) AS BIGINT) AS n_missed,
           CASE WHEN COALESCE(SUM(it), 0) > 0
                THEN CAST(SUM(it * ia) AS BIGINT)
                     / CAST(SUM(it) AS BIGINT) END AS recall
    FROM marked
    """


_oracle("embedding_lsh_recall_eval", _embedding_lsh_recall_eval_oracle())


PROBE_SWEEP_GRID = (1, 2, 4, 8)  # coarse cells probed per query


def knn_probe_sweep(spark: SparkSession, sf_dir: str,
                    probe_grid: tuple[int, ...] = PROBE_SWEEP_GRID
                    ) -> DataFrame:
    """Measured recall@k vs ``n_probe`` — the IVF tuning curve
    (faiss ``nprobe``), the ANN analog of ``lsh_band_sweep``: probing
    more coarse cells linearly raises the candidate scan and (usually)
    the recall, and THIS table, not the independence-assuming cell-count
    heuristic, is what a production config picks its operating point
    from.

    Unlike LSH banding, recall is NOT structurally monotone here: the
    fine ranking is the ADC approximation, so a larger candidate pool can
    displace a true top-k member with a closer-in-ADC impostor — a real
    effect this eval makes visible instead of assuming away.  One row per
    n_probe; truth is the exact squared-L2 top-k (shared with
    ``knn_recall_eval``); fully deterministic, fully oracled via the
    parameterized IVF-PQ mirror.
    """
    truth = tracked_persist(
        _exact_l2_topk(spark, sf_dir).select("query_id", "neighbor_id")
    )
    # ONE index build and ONE ADC scoring pass at max(grid) probes: the
    # candidate pool of n_probe = p is exactly the prnk <= p prefix of
    # the max-probe pool (ADC distance is per-pair, independent of which
    # cells were probed), so every config derives from the persisted
    # scored frame by a prnk filter + its own top-k window — no
    # per-config corpus encode or scoring
    _, e, cents, packed, coded = _ivfpq_index(spark, sf_dir)
    coded = tracked_persist(coded)
    probe = _probe_cells(e, cents, max(probe_grid))
    # with_cell=True carries the cogroup key through scoring, so the
    # per-config prnk attaches via one broadcast join of the tiny
    # (queries x probed-cells) frame — no corpus-sized cell lookup
    scored = pq_score_cells(
        coded, probe.select("query_id", "qv", "centroid_id"), packed,
        with_cell=True,
    )
    prnkmap = probe.select("query_id", "centroid_id", "prnk")
    enriched = tracked_persist(
        scored.join(F.broadcast(prnkmap), ["query_id", "centroid_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    parts = []
    for np_ in probe_grid:
        topk = (
            enriched.filter(F.col("prnk") <= np_)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )
        hits = topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        parts.append(
            hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits")).select(
                F.lit(np_).cast("int").alias("n_probe"), "n_hits"
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "n_probe",
        F.lit(N_QUERIES).cast("long").alias("n_queries"),
        F.lit(TOP_K).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits") / F.lit(N_QUERIES * TOP_K)).alias("recall"),
    )


def _knn_probe_sweep_oracle(probe_grid: tuple[int, ...] = PROBE_SWEEP_GRID
                            ) -> str:
    approx_ctes = ", ".join(
        f"a_{np_} AS (SELECT query_id, neighbor_id FROM "
        f"({_knn_ivfpq_oracle(n_probe=np_)}))"
        for np_ in probe_grid
    )
    hit_selects = "\n        UNION ALL\n        ".join(
        f"SELECT {np_} AS n_probe, COUNT(*) AS n_hits "
        f"FROM a_{np_} JOIN truth USING (query_id, neighbor_id)"
        for np_ in probe_grid
    )
    return f"""
    WITH e2 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       ROUND(list_reduce(
                           list_transform(range(1, len(q.v) + 1),
                               i -> (q.v[i] - n.v[i]) * (q.v[i] - n.v[i])),
                           (x, y) -> x + y), 4) ASC,
                       n.vec_id ASC) AS rnk
            FROM e2 q JOIN e2 n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {TOP_K}
    ), {approx_ctes}, hits AS (
        {hit_selects}
    )
    SELECT CAST(n_probe AS INTEGER) AS n_probe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS INTEGER) AS k,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS BIGINT) / CAST({N_QUERIES * TOP_K} AS BIGINT)
               AS recall
    FROM hits
    """


_oracle("knn_probe_sweep", _knn_probe_sweep_oracle())
