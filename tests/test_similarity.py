"""Similarity search vs a numpy reference implementation."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.catalog import table
from airflow_postgres_to_s3_pipeline_spark.operators import similarity


def _numpy_topk(sf_dir: str, n_queries: int, k: int):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    E = np.array([r[1] for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    out = {}
    for qi in range(n_queries):
        sims = En @ En[qi]
        sims[qi] = -np.inf
        # engine semantics: rank by (rounded sim DESC, vec_id ASC) — the
        # deterministic, engine-independent ordering knn_bruteforce uses
        ranked = sorted(
            (float(-round(sims[j], 4)), int(ids[j])) for j in range(len(ids)) if j != qi
        )[:k]
        out[qi] = [vid for _, vid in ranked]
    return out


def test_knn_bruteforce_matches_numpy(spark, sf_dir):
    got = {}
    for r in similarity.knn_bruteforce(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["neighbor_id"]))
    expected = _numpy_topk(sf_dir, similarity.N_QUERIES, similarity.TOP_K)
    for q, pairs in got.items():
        neighbors = [n for _, n in sorted(pairs)]
        assert neighbors == expected[q], f"query {q}"


def test_knn_ivf_recall_reasonable(spark, sf_dir):
    """IVF is approximate: require >= 40% top-5 recall vs exact (2 of 16
    cells probed on unclustered random data; real corpora cluster much
    better — this guards the plumbing, not the data distribution)."""
    exact = _numpy_topk(sf_dir, similarity.N_QUERIES, similarity.TOP_K)
    got = {}
    for r in similarity.knn_ivf(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & set(exact[q])) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, f"IVF recall {hits}/{total}"


def test_embedding_near_dup_detects_planted_duplicate(spark):
    import pyspark.sql.functions as F

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    df.createOrReplaceTempView("planted")
    from airflow_postgres_to_s3_pipeline_spark.functions.vector import (
        cosine_similarity,
        to_double_array,
    )

    a = df.select(F.col("vec_id").alias("id_a"), to_double_array("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), to_double_array("embedding").alias("vb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= 0.95)
        .collect()
    )
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_lsh_near_dup_planted_pair_and_subset_of_exact(spark, tmp_path):
    """A planted near-identical pair collides in every band (sign patterns
    agree), so LSH must report it; and every LSH pair must appear in the
    exact all-pairs baseline with the identical similarity (candidate
    generation may miss pairs, never invent or distort them)."""
    import random

    rnd = random.Random(42)
    base = [rnd.uniform(-1.0, 1.0) for _ in range(64)]
    near = [x * 1.001 + 0.0005 for x in base]
    rows = [(1, base, "a"), (2, near, "a")] + [
        (i, [rnd.uniform(-1.0, 1.0) for _ in range(64)], "b")
        for i in range(3, 60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = str(tmp_path / "emb")
    df.write.parquet(out + "/embeddings.parquet")

    lsh = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in similarity.embedding_lsh_near_dup(spark, out).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in similarity.embedding_near_dup(spark, out).collect()
    }
    assert (1, 2) in lsh and lsh[(1, 2)] > 0.99
    for pair, sim in lsh.items():
        assert exact.get(pair) == sim, pair


def test_knn_gemm_matches_hof_tier(spark):
    """The GEMM tier is a pure perf variant: identical rows (ids, rounded
    sims, ranks) to knn_bruteforce on the same corpus, including the
    dimension-ordered fp64 accumulation (bit-equal raw sims)."""
    sf = "/root/testdata/sf0.001"
    hof = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["sim"])
        for r in similarity.knn_bruteforce(spark, sf).collect()
    }
    gemm = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["sim"])
        for r in similarity.knn_gemm(spark, sf).collect()
    }
    assert hof == gemm and len(hof) == 50


def test_semantic_dedup_removes_planted_cluster_duplicate(spark, tmp_path):
    """A near-identical planted pair must land in one cluster and the
    higher id must be counted as removed; singleton-free clusters report
    zeros."""
    import random

    rnd = random.Random(7)
    base = [rnd.uniform(-1.0, 1.0) for _ in range(64)]
    near = [x * 1.001 + 0.0005 for x in base]
    rows = [(10, base, 0), (11, near, 0)] + [
        (i, [rnd.uniform(-1.0, 1.0) for _ in range(64)], 1)
        for i in range(12, 60)
    ] + [(i, [rnd.uniform(-1.0, 1.0) for _ in range(64)], 2) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = str(tmp_path / "emb")
    df.write.parquet(out + "/embeddings.parquet")

    stats = {
        r["cluster_id"]: (r["n_vectors"], r["n_dup_pairs"], r["n_removed"])
        for r in similarity.semantic_dedup(spark, out).collect()
    }
    assert sum(n for n, _, _ in stats.values()) == 58  # every vector assigned once
    assert sum(p for _, p, _ in stats.values()) >= 1   # planted pair found
    assert sum(m for _, _, m in stats.values()) >= 1


def test_semantic_dedup_tiled_gemm_matches_dense(spark, sf_dir):
    """The bounded-memory row-tiled pair stage (r8: tile_elems budget)
    must be bit-identical to the effectively-dense run: a tiny budget
    forces many tiles per cluster, results may not change."""
    dense = {
        tuple(r) for r in similarity.semantic_dedup(spark, sf_dir).collect()
    }
    # 64 accumulator elements -> tile_rows = max(1, 64 // n) = 1 for any
    # cluster with >64 vectors: the maximally-tiled path
    tiled = {
        tuple(r)
        for r in similarity.semantic_dedup(
            spark, sf_dir, tile_elems=64
        ).collect()
    }
    assert dense == tiled and len(dense) >= 1


def test_kmeans_assign_gemm_bit_identical_to_fold(spark, sf_dir):
    """The numpy GEMM assignment tier (used when k > SEMDEDUP_GEMM_MIN_K)
    must reproduce the HOF fold EXACTLY: same cluster ids (including the
    lowest-cluster-id tie rule) and bit-equal fp64 distances (same
    dimension-ordered accumulation), at several tile budgets."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table
    from airflow_postgres_to_s3_pipeline_spark.functions.vector import (
        to_double_array,
    )
    from pyspark.sql import functions as F

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    centroids = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )
    fold = {
        r["vec_id"]: (r["cluster_id"], r["dist"])
        for r in similarity.kmeans_assign(e, centroids).collect()
    }
    for tile in (4_000_000, 7):  # dense and maximally-tiled
        gemm = {
            r["vec_id"]: (r["cluster_id"], r["dist"])
            for r in similarity.kmeans_assign_gemm(
                e, centroids, n_shards=8, tile_elems=tile
            ).collect()
        }
        assert gemm == fold  # exact float equality, not approx


def test_semantic_dedup_k_scales_with_corpus():
    """k tracks corpus size at ~n/TARGET with the documented floor/cap."""
    assert similarity.semantic_dedup_k(0) == similarity.SEMDEDUP_K
    assert similarity.semantic_dedup_k(500) == similarity.SEMDEDUP_K
    assert (
        similarity.semantic_dedup_k(1_000_000)
        == 1_000_000 // similarity.SEMDEDUP_TARGET
    )
    assert similarity.semantic_dedup_k(10**12) == similarity.SEMDEDUP_KMAX


def test_random_projection_preserves_norms_in_expectation(spark, sf_dir):
    """JL contract for ±1 planes: ||Pv||^2 concentrates around
    out_dim * ||v||^2 — check the ratio lies in a generous band for every
    vector (tight concentration needs higher out_dim; the band just guards
    against sign-matrix bugs like all-equal signs, which give ratio ~0 or
    ~dim for correlated inputs)."""
    import math

    from airflow_postgres_to_s3_pipeline_spark.functions.vector import (
        to_double_array,
    )

    proj = similarity.embedding_random_projection(spark, sf_dir)
    pn = proj.groupBy("vec_id").agg(
        F.sum(F.col("proj") * F.col("proj")).alias("p2")
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.aggregate(
            to_double_array("embedding"), F.lit(0.0),
            lambda acc, x: acc + x * x,
        ).alias("v2"),
    )
    rows = pn.join(e, "vec_id").collect()
    assert rows
    ratios = [r["p2"] / (similarity.RP_OUT_DIM * r["v2"]) for r in rows]
    # per-vector band (loose) and population mean (tight)
    assert all(0.05 < r < 20.0 for r in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.5 < mean < 2.0, mean
    # components are balanced: each j appears once per vector
    counts = proj.groupBy("vec_id").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [similarity.RP_OUT_DIM]


def test_knn_pq_recall_reasonable(spark, sf_dir):
    """PQ is approximate: require >= 25% top-5 recall vs exact squared-L2
    (16x64 strided pseudo-codebooks on near-random data measure 0.30-0.40
    across SFs; a k-means-trained codebook would reach ~0.56 — this
    guards the encode/ADC plumbing, not the data distribution)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    E = np.array([r[1] for r in rows], dtype=np.float64)
    exact = {}
    for qi in range(similarity.N_QUERIES):
        d = ((E - E[qi]) ** 2).sum(axis=1)
        order = sorted(
            (round(float(d[j]), 4), int(ids[j]))
            for j in range(len(ids))
            if j != qi
        )[: similarity.TOP_K]
        exact[qi] = {v for _, v in order}
    got = {}
    for r in similarity.knn_pq(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.25, f"PQ recall {hits}/{total}"


def test_knn_pq_codebook_vectors_have_zero_self_distance(spark, sf_dir):
    """A codebook-source vector reconstructs exactly (each sub-slice IS a
    centroid), so querying it must rank other codebook-source vectors by
    their full quantized distance and, symmetrically, any candidate whose
    codes all match the query's own codes has adist 0.  Checked via the
    entry output: query vec_id=0 is a codebook source (0 % PQ_EVERY == 0),
    and no adist may be negative or NaN."""
    out = similarity.knn_pq(spark, sf_dir).collect()
    assert len(out) == similarity.N_QUERIES * similarity.TOP_K
    assert all(r["adist"] >= 0.0 for r in out)
    assert all(1 <= r["rnk"] <= similarity.TOP_K for r in out)


def test_knn_ivfpq_candidates_subset_of_probed_cells(spark, sf_dir):
    """Every IVF-PQ neighbor must come from one of the query's n_probe
    nearest coarse cells — recompute assignment + probe driver-side."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = [int(r[0]) for r in rows]
    E = np.array([r[1] for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    every = similarity.IVFPQ_EVERY
    cent_rows = [i for i, vid in enumerate(ids) if vid % every == 0]
    C = En[cent_rows]
    cell_of = {ids[i]: int(np.argmax(C @ En[i])) for i in range(len(ids))}
    out = similarity.knn_ivfpq(spark, sf_dir).collect()
    assert len(out) == similarity.N_QUERIES * similarity.TOP_K
    idx = {vid: i for i, vid in enumerate(ids)}
    for r in out:
        qsims = C @ En[idx[r["query_id"]]]
        probed = set(np.argsort(-qsims)[: similarity.IVFPQ_N_PROBE].tolist())
        assert cell_of[r["neighbor_id"]] in probed, (
            f"neighbor {r['neighbor_id']} outside probed cells of "
            f"query {r['query_id']}"
        )


def _embeddings(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.to_double_array("embedding").alias("v")
    )


def _rowset(df):
    return sorted(map(tuple, df.collect()))


def test_knn_pq_fold_bit_identical_to_gemm_tier(spark, sf_dir):
    """The GEMM tiers and their HOF fold references must agree byte for
    byte (dimension-ordered accumulation + first-min argmin are the
    equivalence contract): the full-GEMM knn_pq equals the registered
    knn_pq_fold (GEMM encode + fold scoring), and the GEMM corpus encode
    ``pq_encode_gemm`` equals the fold encode ``_pq_codes_col`` over the
    whole corpus."""
    assert _rowset(similarity.knn_pq(spark, sf_dir)) == _rowset(
        similarity.knn_pq_fold(spark, sf_dir)
    )
    e = _embeddings(spark, sf_dir)
    packed = similarity._pq_codebook(e)
    gemm_codes = _rowset(similarity.pq_encode_gemm(e, packed, 8))
    fold_codes = _rowset(
        e.crossJoin(F.broadcast(similarity._pq_codebook_nested(packed)))
        .select("vec_id", similarity._pq_codes_col().alias("codes"))
    )
    assert gemm_codes == fold_codes
    assert len(gemm_codes) == e.count()


def test_knn_ivf_tiers_bit_identical(spark, sf_dir):
    """The registered knn_ivf_fold (GEMM build + row-local fold probe)
    must equal the default join+window probe byte for byte, and the GEMM
    index build ``ivf_assign_gemm`` must assign every corpus vector to
    the same cell as the corpus fold ``ivf_assign``."""
    assert _rowset(similarity.knn_ivf(spark, sf_dir)) == _rowset(
        similarity.knn_ivf_fold(spark, sf_dir)
    )
    e = _embeddings(spark, sf_dir)
    cents = similarity._centroids(e, similarity.IVF_EVERY)
    gemm = _rowset(similarity.ivf_assign_gemm(e, cents, 8))
    assert gemm == _rowset(similarity.ivf_assign(e, cents))
    assert len(gemm) == e.count()


def test_knn_ivfpq_score_tiers_bit_identical(spark, sf_dir):
    """Cell-cogroup LUT scoring (``pq_score_cells``) must equal the
    interpreted ``_pq_adist_col`` fold over the same probe and coded
    frames byte for byte."""
    _, e, cents, packed, coded = similarity._ivfpq_index(spark, sf_dir)
    probe = similarity._probe_cells(
        e, cents, similarity.IVFPQ_N_PROBE
    ).select("query_id", "qv", "centroid_id")
    gemm = _rowset(similarity.pq_score_cells(coded, probe, packed))
    fold = _rowset(
        probe.join(
            coded.crossJoin(
                F.broadcast(similarity._pq_codebook_nested(packed))
            ),
            "centroid_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            similarity._pq_adist_col().alias("adist"),
        )
    )
    assert gemm and gemm == fold


def _executed_nodes(df) -> list:
    """Nodes of ``df``'s executed plan: AQE's final plan, with query
    stages and each cached relation's plan (once per relation) included —
    call after an action on ``df``."""
    plan = df._jdf.queryExecution().executedPlan()
    identity = df.sparkSession._jvm.System.identityHashCode
    seen, nodes = set(), []

    def walk(node):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.finalPhysicalPlan()
        nodes.append(node)
        kids = [node.children().apply(i)
                for i in range(node.children().size())]
        kind = node.getClass().getSimpleName()
        if "QueryStageExec" in kind:
            kids.append(node.plan())
        if kind == "InMemoryTableScanExec":
            cached = node.relation().cacheBuilder()
            if identity(cached) not in seen:
                seen.add(identity(cached))
                kids.append(cached.cachedPlan())
        for kid in kids:
            walk(kid)

    walk(plan)
    return nodes


def test_knn_ivf_runs_one_assign_cogroup(spark, sf_dir):
    """The IVF index build is one GEMM cogroup: the queries and the
    probe read the embeddings scan, not the assigned corpus, so neither
    the join probe nor the fold probe runs the assignment a second
    time.  The centroid frame feeds both the cogroup and the probe, and
    is persisted so one embeddings scan derives it."""
    for fn in (similarity.knn_ivf, similarity.knn_ivf_fold):
        df = fn(spark, sf_dir)
        df.collect()
        nodes = _executed_nodes(df)
        cogroups = [n for n in nodes
                    if n.nodeName() == "FlatMapCoGroupsInPandas"]
        centroid_scans = [
            n for n in nodes
            if n.nodeName().startswith("Scan")
            and "% 50) = 0)" in n.simpleString(400)
        ]
        assert len(cogroups) == 1, fn.__name__
        assert len(centroid_scans) == 1, fn.__name__


def test_knn_pq_stable_under_small_arrow_batches(spark, sf_dir):
    """Force multi-record-batch Arrow transfers through the GEMM/LUT
    cogroups (maxRecordsPerBatch=16): results must be identical — guards
    batch-shape assumptions like iloc[0] codebook reads and np.stack over
    re-assembled groups (and the pyarrow nested-struct segfault class the
    flat-codebook transfer works around)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    baseline_pq = sorted(map(tuple, similarity.knn_pq(spark, sf_dir).collect()))
    baseline_ivfpq = sorted(
        map(tuple, similarity.knn_ivfpq(spark, sf_dir).collect())
    )
    spark.conf.set(key, "16")
    try:
        small_pq = sorted(
            map(tuple, similarity.knn_pq(spark, sf_dir).collect())
        )
        small_ivfpq = sorted(
            map(tuple, similarity.knn_ivfpq(spark, sf_dir).collect())
        )
    finally:
        spark.conf.set(key, default)
    assert small_pq == baseline_pq
    assert small_ivfpq == baseline_ivfpq


def test_knn_ivfpq_recall_reasonable(spark, sf_dir):
    """IVF-PQ composes two approximations; require >= 15% top-5 recall vs
    exact squared-L2 (measured 0.44 at sf0.01 / 0.20 at sf0.1 on
    unclustered random data — this guards the plumbing, not the data
    distribution)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    E = np.array([r[1] for r in rows], dtype=np.float64)
    exact = {}
    for qi in range(similarity.N_QUERIES):
        d = ((E - E[qi]) ** 2).sum(axis=1)
        order = sorted(
            (round(float(d[j]), 4), int(ids[j]))
            for j in range(len(ids))
            if j != qi
        )[: similarity.TOP_K]
        exact[qi] = {v for _, v in order}
    got = {}
    for r in similarity.knn_ivfpq(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.15, f"IVF-PQ recall {hits}/{total}"


def test_incremental_dedup_ignores_new_new_pairs(spark, tmp_path):
    """A new vector whose only near-duplicate is ANOTHER NEW vector must
    still be admitted (within-batch dedup is embedding_lsh_near_dup's
    job); a new vector duplicating an OLD corpus vector is rejected."""
    import math

    # md5("<id>-adm") starts with '0' => NEW: 2, 37, 41 are new; 0, 1 old
    def unit(seed, dim=64):
        vals = [math.sin(seed * 97 + j) for j in range(dim)]
        n = math.sqrt(sum(x * x for x in vals))
        return [x / n for x in vals]

    va = unit(1)
    vb = unit(2)
    rows = [
        (2, va, "a"),     # NEW, duplicate of old vec 0 -> rejected
        (0, va, "a"),     # OLD
        (37, vb, "b"),    # NEW, duplicate of new vec 41 only -> admitted
        (41, vb, "b"),    # NEW
        (1, unit(3), "c"),  # OLD, unrelated
    ]
    out = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    ).write.parquet(out + "/embeddings.parquet")
    got = {
        r["vec_id"]: (r["n_dups"], r["admitted"])
        for r in similarity.embedding_incremental_dedup(spark, out).collect()
    }
    assert set(got) == {2, 37, 41}
    assert got[2][1] is False and got[2][0] >= 1
    assert got[37] == (0, True)
    assert got[41] == (0, True)


def test_contrastive_triplets_invariants(spark, sf_dir):
    """Every triplet: the positive is a verified near-dup partner (the
    minimum-id one), and the negative is neither the anchor, the
    positive, nor ANY near-dup partner of the anchor."""
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_lsh_near_dup(spark, sf_dir).collect()
    }
    partners = {}
    for a, b in pairs:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    rows = similarity.contrastive_triplets(spark, sf_dir).collect()
    assert rows
    for r in rows:
        a, p, n = r["anchor_id"], r["positive_id"], r["negative_id"]
        assert p == min(partners[a])
        assert n != a and n != p
        assert n not in partners[a]


def test_knn_ivfpq_refine_slate_membership_and_recall(spark, sf_dir):
    """Refine must return TOP_K densely-ranked rows per query drawn from
    the depth-REFINE_DEPTH PQ slate, ordered by EXACT squared-L2; and its
    recall vs exact top-5 can never be below plain knn_ivfpq's, because
    plain's picks are a subset of the slate refine re-ranks exactly."""
    import duckdb
    import math

    slate = {}
    for r in similarity.knn_ivfpq(
        spark, sf_dir, top=similarity.REFINE_DEPTH
    ).collect():
        slate.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    plain = {}
    for r in similarity.knn_ivfpq(spark, sf_dir).collect():
        plain.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    refined = {}
    rows_by_q = {}
    for r in similarity.knn_ivfpq_refine(spark, sf_dir).collect():
        refined.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rows_by_q.setdefault(r["query_id"], []).append(r)

    con = duckdb.connect()
    raw = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    vec = {r[0]: np.array(r[1], dtype=np.float64) for r in raw}
    exact = {}
    for q in range(similarity.N_QUERIES):
        d = sorted(
            (round(float(((vec[q] - v) ** 2).sum()), 4), i)
            for i, v in vec.items() if i != q
        )[: similarity.TOP_K]
        exact[q] = {i for _, i in d}

    for q, rs in rows_by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) == similarity.TOP_K
        assert refined[q] <= slate[q], "refine invented a candidate"
        d2s = [r["d2"] for r in rs]
        assert d2s == sorted(d2s), "not ordered by exact distance"
        for r in rs:
            want = round(float(((vec[q] - vec[r["neighbor_id"]]) ** 2).sum()), 4)
            assert math.isclose(r["d2"], want, abs_tol=2e-4)

    hits_plain = sum(len(plain.get(q, set()) & exact[q]) for q in exact)
    hits_ref = sum(len(refined.get(q, set()) & exact[q]) for q in exact)
    assert hits_ref >= hits_plain


def test_knn_recall_eval_refine_dominates_base_tier(spark, sf_dir):
    """Every true-top-k pair the slate catches survives exact re-ranking
    (a slate member in the true top-k cannot be displaced by >k closer
    slate members — those would be in the true top-k too), so the refine
    tier's recall is >= the pure compressed tier's."""
    rows = {r.tier: r for r in similarity.knn_recall_eval(spark, sf_dir).collect()}
    assert set(rows) == {"ivfpq", "ivfpq_refine"}
    for r in rows.values():
        assert r.n_hits <= r.n_queries * r.k
        assert abs(r.recall - r.n_hits / (r.n_queries * r.k)) < 1e-12
    assert rows["ivfpq_refine"].recall >= rows["ivfpq"].recall


def test_embedding_lsh_recall_eval_verify_subset(spark, sf_dir):
    """The LSH pipeline's verify stage applies the same rounded exact
    cosine threshold as the truth set, so every emitted approx pair is a
    true pair: n_hit == n_approx and post-verify precision is 1.0."""
    row = similarity.embedding_lsh_recall_eval(spark, sf_dir).collect()[0]
    assert row.n_hit == row.n_approx
    assert row.n_missed == row.n_truth - row.n_hit
    assert 0.0 <= row.recall <= 1.0
    assert row.n_truth > 0


def test_knn_probe_sweep_invariants(spark, sf_dir):
    """The probe sweep's counts stay bounded and probing more cells never
    hurts the CANDIDATE pool — but ADC ranking may still displace true
    hits, so only the weak envelope (best config >= the 1-probe floor) is
    structural; strict monotonicity is deliberately NOT asserted (the
    sf0.01 curve measures 0.26/0.34/0.46/0.44 — the 8-probe dip is real)."""
    rows = sorted(
        similarity.knn_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == sorted(similarity.PROBE_SWEEP_GRID)
    for r in rows:
        assert 0 <= r.n_hits <= r.n_queries * r.k
        assert abs(r.recall - r.n_hits / (r.n_queries * r.k)) < 1e-12
    assert max(r.recall for r in rows) >= rows[0].recall


def test_pq_score_gemm_handles_empty_corpus_shards(spark, sf_dir):
    """Queries, centroids and codebooks replicate to ALL n_shards, so any
    shard with no corpus rows takes the cogroup runner's empty-side
    branch.  A 3-row corpus over 8 shards guarantees several empty
    shards; every cogroup tier must still return its fold reference's
    rows."""
    e = _embeddings(spark, sf_dir)
    packed = similarity._pq_codebook(e)
    tiny = e.filter(F.col("vec_id") < 3)
    codes = similarity.pq_encode_gemm(tiny, packed, 2)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rows = similarity.pq_score_gemm(codes, q, packed, n_shards=8).collect()
    # 2 queries x (3 corpus rows - self) = 4 scored pairs
    assert len(rows) == 4
    assert {(r.query_id, r.neighbor_id) for r in rows} == {
        (0, 1), (0, 2), (1, 0), (1, 2)
    }

    # every other cogroup tier over the same 8 mostly-empty shards
    # returns the rows of its fold reference
    cents = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    assert _rowset(similarity.ivf_assign_gemm(tiny, cents, 8)) == _rowset(
        similarity.ivf_assign(tiny, cents)
    )
    clusters = cents.withColumnRenamed("centroid_id", "cluster_id")
    assert _rowset(similarity.kmeans_assign_gemm(tiny, clusters, 8)) == _rowset(
        similarity.kmeans_assign(tiny, clusters)
    )
    fold_codes = tiny.crossJoin(
        F.broadcast(similarity._pq_codebook_nested(packed))
    ).select("vec_id", similarity._pq_codes_col().alias("codes"))
    gemm_codes = _rowset(similarity.pq_encode_gemm(tiny, packed, 8))
    assert gemm_codes == _rowset(fold_codes) and len(gemm_codes) == 3


def test_numpy_twins_bit_identical_to_hof_folds(spark):
    """np_dot / np_sq_l2 and the cosine built from them equal the RAW,
    unrounded doubles of the HOF folds bit for bit — the entry-level
    parity tests compare rounded outputs and can miss a 1-ulp drift
    (a blocked ``A @ B.T`` is such a drift)."""
    from airflow_postgres_to_s3_pipeline_spark.functions import vector as V

    rnd = np.random.default_rng(11)
    scale = 10.0 ** rnd.integers(-3, 4, size=(12, 1))   # mixed magnitudes
    M = rnd.uniform(-1.0, 1.0, size=(12, 64)) * scale
    A, B = M[:5], M[5:]
    df = spark.createDataFrame(
        [(i, j, A[i].tolist(), B[j].tolist())
         for i in range(len(A)) for j in range(len(B))],
        "i int, j int, a array<double>, b array<double>",
    ).select(
        "i", "j",
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        V.sq_l2(F.col("a"), F.col("b")).alias("sq_l2"),
        V.cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
        V.l2_norm(F.col("a")).alias("norm_a"),
    )
    dot, sq, cos = V.np_dot(A, B), V.np_sq_l2(A, B), V.np_cosine(A, B)
    rows = df.collect()
    assert len(rows) == len(A) * len(B)
    for r in rows:
        assert r["dot"] == dot[r["i"], r["j"]]
        assert r["sq_l2"] == sq[r["i"], r["j"]]
        assert r["cos"] == cos[r["i"], r["j"]]
        assert r["norm_a"] == np.sqrt(V.np_sq_norm(A))[r["i"]]


def test_knn_zero_norm_vectors_are_not_neighbors(spark, tmp_path):
    """Zero-norm embeddings (dead encoder rows) make cosine 0/0 = NaN.
    The shared semantics across knn_bruteforce, knn_gemm, and the SQL
    oracle: such rows are NOT neighbors — they never occupy a top-k slot,
    and (the r9 review finding) they must not poison a GEMM shard's k-th
    threshold and silently drop the shard's real candidates."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1.0, 1.0) for _ in range(64)], "a")
        for i in range(40)
    ]
    # six dead rows — enough that some GEMM shard holds >= TOP_K of them
    rows += [(100 + z, [0.0] * 64, "dead") for z in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = str(tmp_path / "emb")
    df.write.parquet(out + "/embeddings.parquet")

    hof = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["sim"])
        for r in similarity.knn_bruteforce(spark, out).collect()
    }
    gemm = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["sim"])
        for r in similarity.knn_gemm(spark, out).collect()
    }
    assert hof == gemm
    neighbors = {n for n, _ in hof.values()}
    assert not (neighbors & {100, 101, 102, 103, 104, 105})
    # every query still gets its full top-k from the real corpus
    assert len(hof) == 10 * 5


def _lsh_hub_corpus(spark, tmp_path):
    """30 identical vectors (a dead-encoder hub: every band bucket they
    form is size 30) plus a distinct near pair whose buckets are size 2;
    returns the dir embedding_lsh_near_dup reads."""
    import random

    rnd = random.Random(7)
    hub = [0.5] * 64
    base = [rnd.uniform(-1.0, 1.0) for _ in range(64)]
    near = [x * 1.001 + 0.0005 for x in base]
    rows = [(i, hub) for i in range(30)]
    rows.append((100, base))
    rows.append((101, near))
    out = str(tmp_path / "lsh_hub")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(out + "/embeddings.parquet")
    return out


def test_embedding_lsh_bucket_cap_drops_hub_keeps_true_pairs(spark, tmp_path):
    """The embedding-LSH twin of the MinHash/SimHash/n-gram hub caps: 30
    identical vectors share every band bucket — C(30,2)=435 candidate
    (and, at sim 1.0, output) pairs uncapped — while the planted near
    pair's buckets are size 2 and must survive the cap."""
    d = _lsh_hub_corpus(spark, tmp_path)
    unc = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_lsh_near_dup(
            spark, d, max_bucket=0
        ).collect()
    }
    cap = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_lsh_near_dup(
            spark, d, max_bucket=10
        ).collect()
    }
    hub_pairs = {p for p in unc if p[0] < 30 and p[1] < 30}
    assert len(hub_pairs) == 435
    assert (100, 101) in unc
    assert (100, 101) in cap
    assert not (cap & hub_pairs)


def test_embedding_lsh_binding_cap_matches_oracle(spark, tmp_path):
    """Capped-path parity: with a max_bucket that BINDS, the Spark window
    cap and the oracle's QUALIFY mirror must drop the same buckets and
    agree on every surviving pair."""
    import duckdb

    d = _lsh_hub_corpus(spark, tmp_path)
    got = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in similarity.embedding_lsh_near_dup(
            spark, d, max_bucket=10
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(
            similarity._embedding_lsh_oracle(max_bucket=10)
        ).fetchall()
    )
    assert got == want
    assert len(got) > 0  # the surviving true pair, never vacuous


def test_embedding_incremental_binding_cap_matches_oracle(spark, tmp_path):
    """Same binding-cap parity for the cross-set admission path (cap over
    the union frame in both engines)."""
    import duckdb

    d = _lsh_hub_corpus(spark, tmp_path)
    got = sorted(
        (r.vec_id, r.n_dups, r.admitted)
        for r in similarity.embedding_incremental_dedup(
            spark, d, max_bucket=10
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(
            similarity._embedding_incremental_oracle(max_bucket=10)
        ).fetchall()
    )
    assert got == want


def test_embedding_lsh_oracle_zero_cap_means_disabled():
    """max_bucket=0 must mean cap DISABLED in both oracle builders exactly
    as in the Spark builders — never QUALIFY <= 0."""
    assert f"<= {similarity.LSH_MAX_BUCKET}" in similarity._embedding_lsh_oracle()
    assert "QUALIFY" not in similarity._embedding_lsh_oracle(0)
    assert (
        f"<= {similarity.LSH_MAX_BUCKET}"
        in similarity._embedding_incremental_oracle()
    )
    assert "QUALIFY" not in similarity._embedding_incremental_oracle(0)


def test_incremental_dedup_rejects_overcap_identity_class(spark, tmp_path):
    """The admission gate must NOT admit a vector just because its
    duplicate class is so big the LSH cap drops every shared bucket: the
    exact identity tier backstops the cap.  vec_id 2 is the one 'new'
    hub member (md5 split) among 30 identical vectors — with a binding
    cap its LSH candidates all vanish, and before the exact tier it was
    admitted with n_dups=0."""
    d = _lsh_hub_corpus(spark, tmp_path)
    rows = {
        r.vec_id: (r.n_dups, r.admitted)
        for r in similarity.embedding_incremental_dedup(
            spark, d, max_bucket=10
        ).collect()
    }
    assert rows[2] == (29, False)  # 29 identical OLD copies, rejected


def test_incremental_dedup_rejects_overcap_near_identical_class(
    spark, tmp_path
):
    """The r10 ADVICE false-admit: a NEAR-identical over-cap hub class
    (dead encoder + per-row noise too small to flip any hyperplane sign:
    identical band signatures, but arrays differ) has no bitwise identity
    for the exact tier to catch — under the old drop-whole-bucket cap its
    new member lost every LSH candidate and was admitted with n_dups=0.
    The representative cap keeps max_bucket OLD witnesses per bucket, so
    the new member must now be rejected."""
    rows = [(i, [0.5 + i * 1e-9] * 64) for i in range(30)]
    out = str(tmp_path / "near_hub")
    # array<double>: at float32 the 1e-9 noise rounds away and the class
    # becomes bitwise-identical (the OTHER test's scenario)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(out + "/embeddings.parquet")
    got = {
        r.vec_id: (r.n_dups, r.admitted)
        for r in similarity.embedding_incremental_dedup(
            spark, out, max_bucket=10
        ).collect()
    }
    n_dups, admitted = got[2]  # vec 2 is the md5-split 'new' member
    assert not admitted
    # witnesses = the 10 lowest-vec_id OLD representatives (all bands
    # share the same bucket membership, so the rep set is identical)
    assert n_dups == 10


def test_exact_identity_tier_hash_normalizes_negative_zero(spark, tmp_path):
    """-0.0 vs +0.0 bitwise variants of the same vector must meet in the
    exact identity tier: the hash key is IEEE-normalized before hashing
    (r10 ADVICE — murmur3 of the raw array hashes the two sign bits
    apart while both engines' row-local equality accepts the pair)."""
    neg = [1.0] + [-0.0] * 63
    pos = [1.0] + [0.0] * 63
    # vec 2 is 'new' under the md5 admission split; give it the -0.0
    # form and the old copy the +0.0 form
    rows = [(2, neg), (5, pos)]
    out = str(tmp_path / "negzero")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(out + "/embeddings.parquet")
    got = {
        r.vec_id: (r.n_dups, r.admitted)
        for r in similarity.embedding_incremental_dedup(
            spark, out
        ).collect()
    }
    assert got[2] == (1, False)
    # and the normalized hash itself is sign/payload-insensitive
    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [-0.0, 1.0])], "i long, v array<double>"
    ).select(F.hash(similarity._ieee_norm(F.col("v"))).alias("h"))
    assert df.distinct().count() == 1


def test_embedding_exact_dedup_reports_overcap_class(spark, tmp_path):
    """The linear identity tier the LSH bucket cap delegates to: the
    30-member identical hub class — absent from the capped
    embedding_lsh_near_dup pair output by design — is reported here as
    ONE row (rep_id = lowest member, n_members = 30), while the merely
    NEAR pair (100, 101) stays two singleton classes."""
    d = _lsh_hub_corpus(spark, tmp_path)
    got = {
        r.rep_id: r.n_members
        for r in similarity.embedding_exact_dedup(spark, d).collect()
    }
    assert got[0] == 30
    assert got[100] == 1 and got[101] == 1
    assert len(got) == 3


def test_embedding_exact_dedup_matches_oracle(spark, tmp_path):
    """Cross-engine parity for the identity groupBy on a corpus with a
    genuine duplicate class (the sf tables have none)."""
    import duckdb

    d = _lsh_hub_corpus(spark, tmp_path)
    got = sorted(
        (r.rep_id, r.n_members)
        for r in similarity.embedding_exact_dedup(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(
            similarity.ORACLES["embedding_exact_dedup"]
        ).fetchall()
    )
    assert got == want


def test_embedding_exact_dedup_collapses_ieee_variants(spark, tmp_path):
    """Spark's NormalizeFloatingNumbers on the grouping key makes
    -0.0/+0.0 bitwise variants one identity class (Spark-side pin only:
    DuckDB's GROUP BY hashing of -0.0 is its own business and the sf
    corpora contain no signed zeros)."""
    rows = [(1, [0.0, 1.0]), (2, [-0.0, 1.0]), (3, [2.0, 3.0])]
    out = str(tmp_path / "ieee")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(out + "/embeddings.parquet")
    got = {
        r.rep_id: r.n_members
        for r in similarity.embedding_exact_dedup(spark, out).collect()
    }
    assert got == {1: 2, 3: 1}


def test_lsh_band_signatures_gemm_bit_identical(spark, sf_dir):
    """The GEMM hyperplane-signature tier must be BIT-identical to the
    expression tier: dimension-ordered numpy accumulation replays the HOF
    fold's fp64 op sequence, and the task-local hashlib plane matrix is
    the same md5 rational as the Spark expression (r13 optimization)."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table
    from airflow_postgres_to_s3_pipeline_spark.operators import (
        similarity as S,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", S.to_double_array("embedding").alias("v")
    )
    expr = {
        r["vec_id"]: tuple(r["bands"])
        for r in S._lsh_band_signatures(spark, e).collect()
    }
    gemm = {
        r["vec_id"]: tuple(r["bands"])
        for r in S._lsh_band_signatures_gemm(spark, e).collect()
    }
    assert expr == gemm
    assert expr


def test_gemm_shards_scale_adaptive(spark):
    """Shard derivation: one shard per GEMM_SHARD_TARGET_ROWS rows,
    capped at defaultParallelism, floored at 1 — so tiny corpora stop
    paying a Python-worker round-trip per core while big corpora keep
    every core busy (r13 optimization)."""
    par = spark.sparkContext.defaultParallelism
    tgt = similarity.GEMM_SHARD_TARGET_ROWS
    assert similarity._gemm_shards(spark, 0) == 1
    assert similarity._gemm_shards(spark, 1) == 1
    assert similarity._gemm_shards(spark, tgt) == 1
    assert similarity._gemm_shards(spark, tgt + 1) == min(par, 2)
    assert similarity._gemm_shards(spark, tgt * par) == par
    assert similarity._gemm_shards(spark, tgt * par * 100) == par


def test_table_rows_matches_count(spark, sf_dir, tmp_path):
    """Footer-statistics row count == COUNT(*) for both layouts: the
    driver's single-file testdata and a Spark-written part-file
    directory (r13: replaces per-entry count() jobs in the GEMM
    shard/stride/derived-k derivations)."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import table_rows

    n_spark = table(spark, sf_dir, "embeddings").count()
    assert table_rows(sf_dir, "embeddings") == n_spark

    out = str(tmp_path)
    spark.range(123).selectExpr("id AS vec_id").repartition(3).write.parquet(
        out + "/embeddings.parquet"
    )
    assert table_rows(out, "embeddings") == 123

    # underscore/dot-prefixed paths are Spark metadata, not data: a
    # leftover _temporary part from an interrupted write must not count
    # (r13 ADVICE — mirror InMemoryFileIndex filtering)
    import os
    junk_dir = out + "/embeddings.parquet/_temporary/0"
    os.makedirs(junk_dir)
    spark.range(7).selectExpr("id AS vec_id").coalesce(1).write.parquet(
        junk_dir + "/stage"
    )
    src_part = next(
        f for f in os.listdir(junk_dir + "/stage") if f.endswith(".parquet")
    )
    os.rename(
        junk_dir + "/stage/" + src_part,
        out + "/embeddings.parquet/_hidden_copy.parquet",
    )
    assert table_rows(out, "embeddings") == 123
