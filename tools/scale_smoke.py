"""Scale headroom smoke: run core operator shapes at 100x the bench scale.

Generates synthetic fact data JVM-side (``spark.range`` + hash expressions —
no I/O bottleneck, no Python) and times the operator shapes that dominate at
100 TB: scan+filter+aggregate, two-key hash aggregate, broadcast join,
shuffle join, window rank, exact dedup.  Prints one JSON line with rows/sec
per shape.

    python tools/scale_smoke.py [n_rows] [shape ...]   # default 100_000_000, all shapes
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    only = set(sys.argv[2:])
    # The session factory's 8g default is sized for sf0.1 tests; this
    # harness runs 100-5000x that in ONE local JVM hosting all 32 task
    # slots (a real cluster gives each executor its own heap).  At 500M
    # rows the partial-distinct hash maps of events_k_anonymity overflow
    # 8g and kill the JVM mid-stage — default to 48g here, still
    # overridable via the same env var.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_postgres_to_s3_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    parallelism = spark.sparkContext.defaultParallelism

    def fact():
        # lineitem-ish synthetic fact: deterministic, generated in parallel
        return (
            spark.range(0, n, 1, parallelism)
            .select(
                F.col("id"),
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_500_000)).alias("custkey"),
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(200_000)).alias("partkey"),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5000)) / 100.0 + 1.0).alias("price"),
                F.pmod(F.xxhash64("id", F.lit(4)), F.lit(50)).alias("qty"),
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(3)).cast("string").alias("flag"),
            )
        )

    def run(label, df):
        if only and label not in only:
            return None
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        return label, round(dt, 2), int(n / dt)

    dim = spark.range(0, 200_000).select(
        F.col("id").alias("partkey"),
        F.pmod(F.xxhash64("id"), F.lit(25)).cast("string").alias("brand"),
    )

    results = []
    base_labels = {"filter_aggregate", "hash_aggregate_2key",
                   "broadcast_join_agg", "shuffle_join", "window_topk",
                   "exact_dedup"}
    if not only or (only & base_labels):
        # warm codegen — gated with the base shapes it warms (r10 review:
        # this is a real n-row job, wasted when `only` selects no base
        # shape; the other sections have their own first-query warm cost)
        fact().filter(F.col("qty") > 45).agg(F.count("*")).write.format(
            "noop"
        ).mode("overwrite").save()

        results.append(run("filter_aggregate", fact().filter(F.col("qty") > 25).agg(
            F.sum("price").alias("s"), F.count("*").alias("c"))))
        results.append(run("hash_aggregate_2key", fact().groupBy("flag", "qty").agg(
            F.sum("price").alias("s"), F.count("*").alias("c"))))
        results.append(run("broadcast_join_agg", fact().join(F.broadcast(dim), "partkey")
                           .groupBy("brand").agg(F.sum("price").alias("s"))))
        results.append(run("shuffle_join", fact().alias("a").join(
            fact().select(F.col("id"), F.col("custkey").alias("ck2")).alias("b"), "id")
            .agg(F.count("*").alias("c"))))
        w = Window.partitionBy("custkey").orderBy(F.col("price").desc())
        results.append(run("window_topk", fact().withColumn("rn", F.row_number().over(w))
                           .filter(F.col("rn") <= 3).agg(F.count("*").alias("c"))))
        results.append(run("exact_dedup", fact().dropDuplicates(["custkey", "qty"])
                           .agg(F.count("*").alias("c"))))

    # Vector shapes: run the REAL similarity operators against synthetic
    # embeddings written once to a temp dir (so catalog.table reads them
    # like any corpus).  Sizes are capped independently of n — the pairwise
    # shapes have their own scaling laws (see each operator's docstring).
    vector_labels = {"vector_knn_hof", "vector_knn_gemm",
                     "vector_lsh_near_dup", "vector_lsh_hub",
                     "vector_semantic_dedup",
                     "vector_kmeans", "vector_knn_ivf",
                     "vector_pq_encode_hof", "vector_pq_encode_gemm",
                     "vector_incremental_dedup", "vector_incremental_hub",
                     "vector_incremental_hub_near",
                     "vector_ivfpq_refine",
                     "vector_knn_recall_eval"}
    if not only or (only & vector_labels):
        import shutil
        import tempfile

        from airflow_postgres_to_s3_pipeline_spark.operators import similarity

        def write_vectors(nv: int) -> str:
            d = tempfile.mkdtemp(prefix="scale_vec_")
            emb = F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.hash((F.col("id") * 64 + j).cast("int")).cast("double")
                    / F.lit(2147483647.0)
                ).cast("float"),
            )
            spark.range(nv).select(
                F.col("id").alias("vec_id"),
                emb.alias("embedding"),
                F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
            ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
            return d

        # one write per distinct corpus size (r10 review: the 500k corpus
        # was written 4x, 2M 2x, 200k 2x); cached dirs die at section end
        # plus an atexit belt for JVM-killing ops
        _vec_cache: dict[int, str] = {}

        def vec_dir(nv: int) -> str:
            if nv not in _vec_cache:
                import atexit

                _vec_cache[nv] = write_vectors(nv)
                atexit.register(
                    shutil.rmtree, _vec_cache[nv], ignore_errors=True
                )
            return _vec_cache[nv]

        def run_vec(label, nv, fn):
            if only and label not in only:
                return None
            d = vec_dir(nv)
            t0 = time.time()
            fn(d).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            return label, round(dt, 2), int(nv / dt)

        nv_knn = min(n, 2_000_000)
        results.append(run_vec(
            "vector_knn_hof", nv_knn,
            lambda d: similarity.knn_bruteforce(spark, d)))
        results.append(run_vec(
            "vector_knn_gemm", nv_knn,
            lambda d: similarity.knn_gemm(spark, d)))
        # random data needs wide bands (16 bits -> 65k buckets) or the
        # candidate join explodes; production near-dup corpora are the same
        nv_lsh = min(n, 500_000)
        results.append(run_vec(
            "vector_lsh_near_dup", nv_lsh,
            lambda d: similarity.embedding_lsh_near_dup(
                spark, d, n_planes=64, n_bands=4)))
        # r10 session 3: the hub corpus — every 10th vector is the SAME
        # constant (dead encoder rows), so the hub's 4 band buckets each
        # hold nv/10 vectors and the uncapped candidate bound is
        # 4 x C(nv/10, 2) (5.0B at 500k — JVM death); LSH_MAX_BUCKET
        # drops those buckets and the job completes.  The hub vectors ARE
        # mutual duplicates, but at 50k copies pairwise output is itself
        # quadratic — dedup of an over-cap identity class is the exact
        # md5/keep-first tier's job, not the pair lister's.
        def write_hub_vectors(nv: int) -> str:
            d = tempfile.mkdtemp(prefix="scale_vechub_")
            emb = F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.hash((F.col("id") * 64 + j).cast("int")).cast("double")
                    / F.lit(2147483647.0)
                ).cast("float"),
            )
            hub = F.array_repeat(F.lit(0.5).cast("float"), 64)
            spark.range(nv).select(
                F.col("id").alias("vec_id"),
                F.when(F.pmod(F.col("id"), F.lit(10)) == 0, hub)
                    .otherwise(emb).alias("embedding"),
                F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
            ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
            return d

        # both hub rows share ONE write of the 10%-identical-hub corpus
        # (r11 review: the copy-pasted second block re-wrote the same
        # parquet), and the same timing shape via run_hub
        hub_rows = [
            ("vector_lsh_hub",
             lambda d: similarity.embedding_lsh_near_dup(
                 spark, d, n_planes=64, n_bands=4)),
            # admission dedup on the hub corpus (r11): the
            # representative cap's worst case — every hub band bucket
            # holds ~nv/10 rows, the new side keeps ALL its members and
            # meets max_bucket old representatives per band, so
            # candidate fan-out is bounded by batch x bands x cap
            # (~13M rows at 500k), never C(bucket, 2) (~5e9); the
            # dominant cost is the exact identity tier's k x m
            # batch-dup output (see docs/SCALE.md)
            ("vector_incremental_hub",
             lambda d: similarity.embedding_incremental_dedup(
                 spark, d, n_planes=64, n_bands=4)),
        ]
        wanted_hub = [r for r in hub_rows if not only or r[0] in only]
        if wanted_hub:
            dh = write_hub_vectors(nv_lsh)
            try:
                for label, fn in wanted_hub:
                    t0 = time.time()
                    fn(dh).write.format("noop").mode("overwrite").save()
                    dt = time.time() - t0
                    results.append((label, round(dt, 2), int(nv_lsh / dt)))
            finally:
                shutil.rmtree(dh, ignore_errors=True)

        # admission dedup at the lsh_near_dup scale: same wide-band
        # settings; the batch side is ~1/16 of the corpus
        results.append(run_vec(
            "vector_incremental_dedup", nv_lsh,
            lambda d: similarity.embedding_incremental_dedup(
                spark, d, n_planes=64, n_bands=4)))

        # r12 (r11 verdict task 5): the ADVERSARIAL admission hub at 10x —
        # every 10th vector is the dead-encoder constant PLUS tiny hash
        # noise (+-1e-3 per dim), i.e. NEAR-identical: the whole hub class
        # shares its hyperplane sign pattern (all its band buckets
        # over-cap) but carries NO bitwise identity for the exact tier to
        # catch — exactly the class that falsely admitted under the old
        # drop-over-cap-buckets design (r10 ADVICE).  Under the r11
        # representative cap every new hub vector must still meet
        # max_bucket old witnesses per band, so the ORACLE RULE is exact:
        # hub new rows all rejected, random new rows all admitted.  The
        # smoke asserts both counts and prints them for docs/SCALE.md.
        # threshold=0.9 (the production dedup point, NEAR_DUP_THRESHOLD
        # note), NOT the registry's oracle-friendly 0.4: at 0.4 a 5M
        # random corpus hands every vector ~3k GENUINE near-dups
        # (P[cos>=0.4] ~ 7e-4 x 4.7M olds — measured: 279k of 281k
        # random new vectors correctly rejected), so "random => admitted"
        # is only an exact rule at a threshold random pairs cannot clear
        # while near-identical hub members (cos ~ 1-1e-6) still trip it.
        if not only or "vector_incremental_hub_near" in only:
            nv_near = min(n, 5_000_000)
            dnear = tempfile.mkdtemp(prefix="scale_vecnearhub_")
            emb = F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.hash((F.col("id") * 64 + j).cast("int")).cast("double")
                    / F.lit(2147483647.0)
                ).cast("float"),
            )
            near_hub = F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.lit(0.5)
                    + F.hash((F.col("id") * 64 + j).cast("int"))
                    .cast("double") / F.lit(2147483647.0) / F.lit(1000.0)
                ).cast("float"),
            )
            spark.range(nv_near).select(
                F.col("id").alias("vec_id"),
                F.when(F.pmod(F.col("id"), F.lit(10)) == 0, near_hub)
                    .otherwise(emb).alias("embedding"),
                F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
            ).write.mode("overwrite").parquet(f"{dnear}/embeddings.parquet")
            try:
                t0 = time.time()
                out = similarity.embedding_incremental_dedup(
                    spark, dnear, n_planes=64, n_bands=4, threshold=0.9)
                counts = {
                    (bool(r["is_hub"]), bool(r["admitted"])): r["n"]
                    for r in out.groupBy(
                        (F.col("vec_id") % 10 == 0).alias("is_hub"),
                        "admitted",
                    ).agg(F.count(F.lit(1)).alias("n")).collect()
                }
                dt = time.time() - t0
                false_admits = counts.get((True, True), 0)
                false_rejects = counts.get((False, False), 0)
                print(
                    "vector_incremental_hub_near counts: "
                    f"hub_rejected={counts.get((True, False), 0)} "
                    f"rand_admitted={counts.get((False, True), 0)} "
                    f"false_admits={false_admits} "
                    f"false_rejects={false_rejects}",
                    file=sys.stderr,
                )
                assert false_admits == 0, (
                    f"near-identical hub FALSELY ADMITTED {false_admits} "
                    "vectors — the representative cap regressed to "
                    "drop-bucket behavior"
                )
                assert false_rejects == 0, (
                    f"{false_rejects} random vectors falsely rejected"
                )
                results.append(
                    ("vector_incremental_hub_near", round(dt, 2),
                     int(nv_near / dt))
                )
            finally:
                shutil.rmtree(dnear, ignore_errors=True)
        nv_sem = min(n, 100_000)
        results.append(run_vec(
            "vector_semantic_dedup", nv_sem,
            lambda d: similarity.semantic_dedup(spark, d, k=nv_sem // 250)))
        # r4: the newly fully-oracled iterative/index tiers at scale
        nv_km = min(n, 500_000)
        results.append(run_vec(
            "vector_kmeans", nv_km,
            lambda d: similarity.kmeans_embeddings(spark, d, k=64)))
        results.append(run_vec(
            "vector_knn_ivf", nv_km,
            lambda d: similarity.knn_ivf(
                spark, d, every=max(50, int(nv_km ** 0.5)))))
        # r8: the full two-stage serving path (IVF-PQ slate -> exact
        # refine); coarse stride scales ~sqrt(n) per the r4 finding
        results.append(run_vec(
            "vector_ivfpq_refine", nv_km,
            lambda d: similarity.knn_ivfpq_refine(
                spark, d, every=max(50, int(nv_km ** 0.5)))))
        # r8: the ANN acceptance gate at corpus scale — exact-L2 truth is
        # LINEAR (bounded query set broadcast onto the corpus scan), so
        # the eval itself survives the 100x corpus; sqrt-scaled stride
        results.append(run_vec(
            "vector_knn_recall_eval", nv_km,
            lambda d: similarity.knn_recall_eval(
                spark, d, every=max(50, int(nv_km ** 0.5)))))

        # r5: PQ corpus-encode build tiers — HOF fold (CodegenFallback,
        # n x m x ksub x subd interpreted steps) vs numpy cogroup GEMM
        # (bit-identical codes; the build you'd ship)
        from airflow_postgres_to_s3_pipeline_spark.catalog import (
            table as _table,
        )

        def _pq_vecs(d):
            return _table(spark, d, "embeddings").select(
                "vec_id", similarity.to_double_array("embedding").alias("v")
            )

        def pq_hof(d):
            e = _pq_vecs(d)
            packed = similarity._pq_codebook(e)
            return (
                e.repartition(spark.sparkContext.defaultParallelism)
                .crossJoin(F.broadcast(packed))
                .withColumn("_cb", similarity._pq_cb_col())
                .select("vec_id", similarity._pq_codes_col().alias("codes"))
            )

        def pq_gemm(d):
            e = _pq_vecs(d)
            packed = similarity._pq_codebook(e)
            return similarity.pq_encode_gemm(
                e, packed, spark.sparkContext.defaultParallelism
            )

        nv_pq = min(n, 200_000)
        results.append(run_vec("vector_pq_encode_hof", nv_pq, pq_hof))
        results.append(run_vec("vector_pq_encode_gemm", nv_pq, pq_gemm))

        for d in _vec_cache.values():
            shutil.rmtree(d, ignore_errors=True)
        _vec_cache.clear()

    # Skewed shuffle join: one key carries 10% of all rows (a hot customer /
    # null-ish key — the classic 100 TB killer).  Run the SAME sort-merge
    # join with AQE skew-split on vs off to quantify the runtime re-plan's
    # win; thresholds are lowered (64MB) so local data sizes trigger the
    # same OptimizeSkewedJoin rule tests/test_aqe_skew.py pins at plan
    # level.  Broadcast is disabled on both runs — the comparison is
    # split-vs-monolithic SMJ partition, nothing else.
    skew_labels = {"skew_join_split", "skew_join_nosplit"}
    if not only or (only & skew_labels):
        hot = F.pmod(F.xxhash64("id", F.lit(9)), F.lit(10)) == 0
        skew_fact = spark.range(0, n, 1, parallelism).select(
            F.when(hot, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_500_000)))
            .alias("custkey"),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5000)) / 100.0).alias(
                "price"
            ),
        )
        cust = spark.range(0, 1_500_000).select(
            F.col("id").alias("custkey"),
            F.concat(F.lit("seg-"), F.pmod(F.col("id"), F.lit(100))).alias(
                "segment"
            ),
        )
        skew_confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64MB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
        }

        def run_skew(label: str, split_enabled: bool):
            if only and label not in only:
                return None
            keys = list(skew_confs) + ["spark.sql.adaptive.skewJoin.enabled"]
            saved = {k: spark.conf.get(k, None) for k in keys}
            for k, v in skew_confs.items():
                spark.conf.set(k, v)
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled",
                "true" if split_enabled else "false",
            )
            try:
                t0 = time.time()
                skew_fact.join(cust, "custkey").write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                return label, round(dt, 2), int(n / dt)
            finally:
                for k, v in saved.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)

        results.append(run_skew("skew_join_split", True))
        results.append(run_skew("skew_join_nosplit", False))

    # Text + graph shapes: run the REAL text-pipeline and graph operators
    # against synthetic corpora written once to a temp dir (same
    # catalog.table path as production).  Sizes capped independently of n.
    text_labels = {"text_chunking", "text_lm_score", "text_bm25",
                   "text_winnow_fp", "text_winnow_dedup",
                   "entity_fuzzy_match", "graph_pagerank",
                   "graph_triangles", "graph_triangles_skew_degree",
                   "graph_triangles_skew_id", "graph_triangles_hub_order",
                   "graph_pagerank_hub_order",
                   "graph_bfs", "events_funnel",
                   "events_twap", "events_trend", "events_skew_profile",
                   "events_k_anonymity", "events_sessionize",
                   "events_hypertable", "events_asof_pandas",
                   "warehouse_merge_upsert", "warehouse_scd2",
                   "curation_packing", "stream_tumbling",
                   "stream_dedup_wm", "stream_session",
                   "stream_chained_rollup", "stream_ss_join",
                   "text_dedup_report", "text_dedup_report_5m",
                   "text_simhash_500k", "text_simhash_5m",
                   "text_dedup_components", "text_ngram_jaccard",
                   "text_ngram_jaccard_5m",
                   "sus_two_phase", "sus_global_window", "tile_near_dup"}
    if not only or (only & text_labels):
        import shutil
        import tempfile

        from airflow_postgres_to_s3_pipeline_spark.operators import graph, text

        VOCAB = [
            "batch", "small", "scan", "agg", "data", "customer", "slow",
            "join", "filter", "stream", "big", "hash", "row", "merge",
            "table", "index", "sort", "spill", "page", "cache",
        ]

        def write_docs(nd: int, words_per_doc: int = 40) -> str:
            d = tempfile.mkdtemp(prefix="scale_text_")
            vocab = F.array(*[F.lit(w) for w in VOCAB])
            body = F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
                    lambda w: F.element_at(
                        vocab,
                        F.pmod(F.hash(F.col("id").cast("int"), w.cast("int")),
                               F.lit(len(VOCAB))).cast("int") + 1,
                    ),
                ),
                " ",
            )
            spark.range(0, nd, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                body.alias("text"),
                F.lit("en").alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                F.length(body).alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
            return d

        # corpus writers are memoized by size: a family of rows over the
        # same synthetic dataset (3x 2M docs, 3x 500k docs, 4x 50M
        # events) pays ONE write instead of one per row; cached dirs are
        # deleted once at section end
        _dir_cache: dict = {}

        def _cached(factory, key):
            if key not in _dir_cache:
                _dir_cache[key] = factory()
                # belt for crashed runs: the section-end rmtree below is
                # skipped when an op kills the JVM (a 410 MB corpus
                # leaked exactly that way in round 9)
                import atexit

                atexit.register(
                    shutil.rmtree, _dir_cache[key], ignore_errors=True
                )
            return _dir_cache[key]

        def run_dir(label, nrows, write_fn, op):
            if only and label not in only:
                return None
            d = write_fn()
            cached = d in _dir_cache.values()
            try:
                t0 = time.time()
                op(d).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                return label, round(dt, 2), int(nrows / dt)
            finally:
                if not cached:
                    shutil.rmtree(d, ignore_errors=True)

        nd = min(n, 2_000_000)
        results.append(run_dir(
            "text_chunking", nd,
            lambda: _cached(lambda: write_docs(nd), ("docs", nd)),
            lambda d: text.doc_chunking(spark, d)))
        results.append(run_dir(
            "text_lm_score", nd,
            lambda: _cached(lambda: write_docs(nd), ("docs", nd)),
            lambda d: text.ngram_lm_score(spark, d)))
        results.append(run_dir(
            "text_bm25", nd,
            lambda: _cached(lambda: write_docs(nd), ("docs", nd)),
            lambda d: text.bm25_scoring(spark, d)))
        # winnowing: per-gram md5 map work (~5 chars/gram over the whole
        # corpus) + for the dedup tier the posting-key shuffles
        nw = min(n, 500_000)
        results.append(run_dir(
            "text_winnow_fp", nw,
            lambda: _cached(lambda: write_docs(nw), ("docs", nw)),
            lambda d: text.winnowing_fingerprint(spark, d)))
        results.append(run_dir(
            "text_winnow_dedup", nw,
            lambda: _cached(lambda: write_docs(nw), ("docs", nw)),
            lambda d: text.winnowing_dedup(spark, d)))
        # r8: per-source duplication accounting at the winnowing smoke
        # scale — the exact tier's 16-byte-key group-by + the production
        # MinHash-LSH chain + two doc_id membership joins
        from airflow_postgres_to_s3_pipeline_spark.operators import (
            dedup as dedup_ops,
        )
        results.append(run_dir(
            "text_dedup_report", nw,
            lambda: _cached(lambda: write_docs(nw), ("docs", nw)),
            lambda d: dedup_ops.corpus_dedup_report(spark, d)))
        # r9: the release-gate accounting at 10x its r8 smoke (5M docs,
        # 50x sf0.1) — the exact tier stays a 16-byte-key group-by and the
        # near tier the banded MinHash chain, so the profile should stay
        # linear; this row is the evidence
        ndr = min(n, 5_000_000)
        results.append(run_dir(
            "text_dedup_report_5m", ndr,
            lambda: _cached(lambda: write_docs(ndr), ("docs", ndr)),
            lambda d: dedup_ops.corpus_dedup_report(spark, d)))
        # r10: simhash near-dedup at 500k and 5M docs — runnable at all
        # ONLY because of the chunk-bucket cap (r9 verdict task 7): the
        # 20-word vocabulary drives near-constant per-bit votes, so single
        # 15-bit chunk values collect Θ(n) docs (measured: max bucket
        # 39,316 at 500k / 394,907 at 5M; uncapped candidate bound 6.7B ≈
        # n²/37 at 500k and 670B at 5M — certain JVM death; capped bound
        # 130M / 309M, growing 2.4x for 10x docs because more hub buckets
        # cross the cap and drop outright).
        results.append(run_dir(
            "text_simhash_500k", nw,
            lambda: _cached(lambda: write_docs(nw), ("docs", nw)),
            lambda d: dedup_ops.simhash_dedup(spark, d)))
        results.append(run_dir(
            "text_simhash_5m", ndr,
            lambda: _cached(lambda: write_docs(ndr), ("docs", ndr)),
            lambda d: dedup_ops.simhash_dedup(spark, d)))
        # r10: the ITERATIVE kernel at corpus scale — LSH pairs ->
        # connected components (small-star label propagation with
        # localCheckpoint per round).  The vocab corpus is useless here
        # (probed: its n-gram shingles distinguish every doc, so ALL
        # capped candidates fail Jaccard and the edge set is EMPTY — the
        # run would measure candidate rejection, not merging).  Instead a
        # planted-duplicates corpus: groups of 5 docs share a base text,
        # four verbatim + one with a tail token, the realistic
        # crawl-dedup input — ~nd/5 true clusters for the loop to merge.
        def write_dup_docs(nd: int, words_per_doc: int = 40) -> str:
            d2 = tempfile.mkdtemp(prefix="scale_dup_")
            vocab = F.array(*[F.lit(w) for w in VOCAB])
            base = (F.col("id") / 5).cast("long")
            body = F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
                    lambda w: F.element_at(
                        vocab,
                        F.pmod(F.hash(base.cast("int"), w.cast("int")),
                               F.lit(len(VOCAB))).cast("int") + 1,
                    ),
                ),
                " ",
            )
            body = F.when(
                F.pmod(F.col("id"), F.lit(5)) == 4,
                F.concat(body, F.lit(" trailer"), base.cast("string")),
            ).otherwise(body)
            spark.range(0, nd, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                body.alias("text"),
                F.lit("en").alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                F.length(body).alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
            return d2

        results.append(run_dir(
            "text_dedup_components", nw,
            lambda: _cached(lambda: write_dup_docs(nw), ("dupdocs", nw)),
            lambda d: dedup_ops.dedup_components(spark, d)))

        # r10 session 3: the EXACT posting join under a realistic hub —
        # 1M-token hash vocabulary (so base-text shingles have df ~= group
        # size 2) with one 6-token boilerplate sentence appended to every
        # 10th doc: each boilerplate shingle's posting is n/10 docs, so
        # the uncapped intersection bound is ~4 x C(n/10, 2) pairs
        # (5.0e9 at 500k docs — JVM death); NGRAM_DF_CAP drops exactly
        # those postings and the planted verbatim pairs survive on their
        # own df-2 shingles.
        def write_boiler_docs(nd_rows: int, words_per_doc: int = 30) -> str:
            d2 = tempfile.mkdtemp(prefix="scale_boiler_")
            base = (F.col("id") / 2).cast("long")
            body = F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
                    lambda w: F.concat(
                        F.lit("t"),
                        F.pmod(F.hash(base.cast("int"), w.cast("int")),
                               F.lit(1_000_000)).cast("string"),
                    ),
                ),
                " ",
            )
            body = F.when(
                F.pmod(F.col("id"), F.lit(10)) == 0,
                F.concat(body,
                         F.lit(" subscribe to our newsletter today please")),
            ).otherwise(body)
            spark.range(0, nd_rows, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                body.alias("text"),
                F.lit("en").alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                F.length(body).alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
            return d2

        results.append(run_dir(
            "text_ngram_jaccard", nw,
            lambda: _cached(lambda: write_boiler_docs(nw), ("boiler", nw)),
            lambda d: dedup_ops.ngram_jaccard_pairs(spark, d)))
        # 10x: the linearity evidence post-cap (boilerplate postings grow
        # to 500k docs each — uncapped bound 4 x C(500k,2) = 5e11 pairs)
        results.append(run_dir(
            "text_ngram_jaccard_5m", ndr,
            lambda: _cached(lambda: write_boiler_docs(ndr), ("boiler", ndr)),
            lambda d: dedup_ops.ngram_jaccard_pairs(spark, d)))

        # entity resolution: vocabulary-scale multi-pass blocking.  ~1M
        # records collapse to ~950k DISTINCT two-token names over a
        # 10k-token vocabulary, so each blocking pass shuffles ~95-name
        # blocks and the edit-distance filter runs on ~45M candidate pairs
        # per pass — the blocked-quadratic cost profile ER systems budget
        # for, with zero cartesian anywhere.
        from airflow_postgres_to_s3_pipeline_spark.operators import entity

        def write_names(nr: int, vocab: int = 10_000) -> str:
            d = tempfile.mkdtemp(prefix="scale_entity_")
            t1 = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(vocab))
            t2 = F.pmod(F.xxhash64("id", F.lit(8)), F.lit(vocab))
            spark.range(0, nr, 1, parallelism).select(
                F.col("id").alias("p_partkey"),
                F.concat(F.lit("w"), t1, F.lit(" x"), t2).alias("p_name"),
            ).write.mode("overwrite").parquet(f"{d}/part.parquet")
            return d

        ne = min(n, 1_000_000)
        results.append(run_dir(
            "entity_fuzzy_match", ne, lambda: write_names(ne),
            lambda d: entity.fuzzy_match_parts(spark, d)))

        # event-analytics shapes (funnel / TWAP / trend) over a synthetic
        # events table: 1M users x ~50 events, 2-decimal values, 30-day span
        from airflow_postgres_to_s3_pipeline_spark.operators import (
            advanced as adv_ops,
            windows as win_ops,
        )

        def write_events(ne: int) -> str:
            d = tempfile.mkdtemp(prefix="scale_events_")
            etype = F.element_at(
                F.array(*[F.lit(t) for t in
                          ("view", "click", "purchase", "signup", "error")]),
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)).cast("int") + 1,
            )
            ts = F.timestamp_seconds(
                F.lit(1704067200)
                + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(2_592_000))
            )
            value = (
                (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(49000)) + 1) / 100.0
            )
            spark.range(0, ne, 1, parallelism).select(
                F.col("id").alias("event_id"),
                ts.alias("ts"),
                F.pmod(F.xxhash64("id", F.lit(6)), F.lit(1_000_000)).alias(
                    "user_id"
                ),
                etype.alias("event_type"),
                value.alias("value"),
            ).write.mode("overwrite").parquet(f"{d}/events.parquet")
            return d

        nev = min(n, 50_000_000)
        results.append(run_dir(
            "events_funnel", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.funnel_ordered_3step(spark, d)))
        results.append(run_dir(
            "events_twap", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.time_weighted_average(spark, d)))
        results.append(run_dir(
            "events_trend", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.user_value_trend(spark, d)))
        # r8: the skew diagnostics op itself at event scale — two
        # map-side-combined key counts + 1-row aggregates, the cheapest
        # shape in the suite by construction (adv_ops imported above)
        results.append(run_dir(
            "events_skew_profile", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: adv_ops.key_skew_profile(spark, d)))
        # r9: the privacy release gate at full-corpus scale (500M events,
        # 5000x sf0.1).  The group-by domain is bounded by the quasi-id
        # cross product (5 types x 30 days x 10 buckets = 1500 groups), so
        # the whole job is one map-side-combined distinct-count pass — the
        # shape that must stay linear for the gate to run over 100 TB.
        nka = min(n, 500_000_000)
        results.append(run_dir(
            "events_k_anonymity", nka,
            lambda: _cached(lambda: write_events(nka), ("events", nka)),
            lambda d: adv_ops.k_anonymity_check(spark, d)))

        from airflow_postgres_to_s3_pipeline_spark.operators import (
            curation as curation_pack,
        )

        # r10 session 3: the time-series shapes that had no scale row.
        # sessionize = lag + running-sum + group-by, all on ONE user_id
        # shuffle (same window spec); hypertable = raw scan once, daily
        # tier re-aggregates hourly PARTIALS at bucket cardinality; the
        # as-of pandas tier moves the WHOLE corpus through Arrow in
        # ~ASOF_TARGET_ROWS_PER_BUCKET-row calls — this row prices that
        # Arrow round-trip against the pure-window twin at the same scale.
        results.append(run_dir(
            "events_sessionize", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.sessionize_events(spark, d)))
        results.append(run_dir(
            "events_hypertable", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.hypertable_rollup(spark, d)))
        results.append(run_dir(
            "events_asof_pandas", nev,
            lambda: _cached(lambda: write_events(nev), ("events", nev)),
            lambda d: win_ops.asof_join_pandas(spark, d)))

        # Structured Streaming throughput (first scale rows for E22/E23):
        # a TIME-ORDERED corpus written as 8 sequential chunk jobs (mtime
        # order = event-time order, 4 files each), driven with
        # maxFilesPerTrigger=4 + Trigger.availableNow => 8 genuine
        # micro-batches with the watermark advancing and evicting state
        # BETWEEN batches — the incremental execution a one-shot batch
        # replay would fake.  Timestamps are monotone ACROSS chunks and the
        # watermark only moves at batch end, so no row is ever
        # late-dropped: the measured rows/s is full-corpus processing, not
        # drop throughput.  Sink is noop, checkpoint a temp dir.
        from airflow_postgres_to_s3_pipeline_spark.streaming import (
            windows as stream_win,
        )

        def write_stream_events(ne_rows: int, n_chunks: int = 8,
                                files_per_chunk: int = 4) -> str:
            d = tempfile.mkdtemp(prefix="scale_stream_")
            etype = F.element_at(
                F.array(*[F.lit(t) for t in
                          ("view", "click", "purchase", "signup", "error")]),
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)).cast("int") + 1,
            )
            ts = F.timestamp_seconds(
                F.lit(1704067200)
                + (F.col("id") * F.lit(2_592_000) / F.lit(ne_rows)).cast(
                    "long")
            )
            value = (
                (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(49000)) + 1) / 100.0
            )
            # the file stream source (read_events_stream) globs flat
            # events*.parquet FILES like the testdata layout, so each
            # chunk's part files are renamed up out of the staging dir;
            # rename keeps mtime, preserving chunk order for the source's
            # mtime-sorted listing
            import glob as globmod
            import os

            for c in range(n_chunks):
                lo = ne_rows * c // n_chunks
                hi = ne_rows * (c + 1) // n_chunks
                staging = f"{d}/_staging"
                spark.range(lo, hi, 1, files_per_chunk).select(
                    F.col("id").alias("event_id"),
                    ts.alias("ts"),
                    F.pmod(F.xxhash64("id", F.lit(6)), F.lit(1_000_000))
                        .alias("user_id"),
                    etype.alias("event_type"),
                    value.alias("value"),
                ).write.mode("overwrite").parquet(staging)
                parts = sorted(globmod.glob(f"{staging}/part-*.parquet"))
                for i, p in enumerate(parts):
                    os.rename(p, f"{d}/events-{c:02d}-{i:02d}.parquet")
                shutil.rmtree(staging, ignore_errors=True)
            return d

        def run_stream(label, nrows, write_fn, build, mode):
            if only and label not in only:
                return None
            d = write_fn()
            cached = d in _dir_cache.values()
            ck = tempfile.mkdtemp(prefix="scale_ckpt_")
            try:
                src = stream_win.read_events_stream(
                    spark, d, max_files_per_trigger=4
                )
                t0 = time.time()
                q = (
                    build(src)
                    .writeStream.format("noop")
                    .outputMode(mode)
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                dt = time.time() - t0
                return label, round(dt, 2), int(nrows / dt)
            finally:
                shutil.rmtree(ck, ignore_errors=True)
                if not cached:
                    shutil.rmtree(d, ignore_errors=True)

        nst = min(n, 50_000_000)
        results.append(run_stream(
            "stream_tumbling", nst,
            lambda: _cached(lambda: write_stream_events(nst),
                            ("stream_events", nst)),
            lambda s: stream_win.tumbling_counts(s), "update"))
        results.append(run_stream(
            "stream_dedup_wm", nst,
            lambda: _cached(lambda: write_stream_events(nst),
                            ("stream_events", nst)),
            lambda s: stream_win.dedup_stream(s, within_watermark=True),
            "append"))
        results.append(run_stream(
            "stream_session", nst,
            lambda: _cached(lambda: write_stream_events(nst),
                            ("stream_events", nst)),
            lambda s: stream_win.session_counts(s), "append"))
        # two chained stateful aggregations in ONE query (hourly -> daily)
        results.append(run_stream(
            "stream_chained_rollup", nst,
            lambda: _cached(lambda: write_stream_events(nst),
                            ("stream_events", nst)),
            lambda s: stream_win.chained_hourly_daily(s), "append"))

        # stream-stream join: both sides derive from the same source
        # stream (filters split it), so one physical read feeds both join
        # inputs; the time-bound condition lets state evict per batch
        def _ss_join(s):
            return stream_win.click_purchase_stream_join(
                s.filter(F.col("event_type") == "click"),
                s.filter(F.col("event_type") == "purchase"),
            )

        results.append(run_stream(
            "stream_ss_join", nst,
            lambda: _cached(lambda: write_stream_events(nst),
                            ("stream_events", nst)),
            _ss_join, "append"))

        # warehouse-maintenance shapes at dimension scale: MERGE as a
        # keyed full-outer join + coalesce (one shuffle per side), SCD2 as
        # change-batch argmax + one dimension join + union.  Orders span
        # 1992-1998.5 so the post-cutoff SCD2 change batch is a sliver of
        # the dimension — the realistic daily-apply profile where AQE
        # broadcasts the batch.
        def write_orders_customers(no_rows: int, nc_rows: int) -> str:
            d = tempfile.mkdtemp(prefix="scale_wh_")
            status = F.element_at(
                F.array(F.lit("O"), F.lit("F"), F.lit("P")),
                F.pmod(F.xxhash64("id", F.lit(11)), F.lit(3)).cast("int") + 1,
            )
            odate = F.timestamp_seconds(
                F.lit(694224000)  # 1992-01-01
                + F.pmod(F.xxhash64("id", F.lit(12)), F.lit(205_000_000))
            )
            price = (
                (F.pmod(F.xxhash64("id", F.lit(13)), F.lit(9_000_000)) + 100)
                / 100.0
            )
            spark.range(0, no_rows, 1, parallelism).select(
                F.col("id").alias("o_orderkey"),
                F.pmod(F.xxhash64("id", F.lit(14)), F.lit(nc_rows)).alias(
                    "o_custkey"
                ),
                status.alias("o_orderstatus"),
                price.alias("o_totalprice"),
                odate.alias("o_orderdate"),
            ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
            spark.range(0, nc_rows, 1, parallelism).select(
                F.col("id").alias("c_custkey"),
                ((F.pmod(F.xxhash64("id", F.lit(15)), F.lit(1_099_999))
                  - 99_999) / 100.0).alias("c_acctbal"),
            ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
            return d

        nwh = min(n, 50_000_000)
        nwc = max(1, nwh // 10)
        results.append(run_dir(
            "warehouse_merge_upsert", nwh,
            lambda: _cached(lambda: write_orders_customers(nwh, nwc),
                            ("warehouse", nwh)),
            lambda d: adv_ops.merge_upsert(spark, d)))
        results.append(run_dir(
            "warehouse_scd2", nwh,
            lambda: _cached(lambda: write_orders_customers(nwh, nwc),
                            ("warehouse", nwh)),
            lambda d: adv_ops.scd2_apply(spark, d)))

        # contiguous packing: the per-lang window cumsum is the inherent
        # sequential cost of ordered packing — on a SINGLE-lang corpus it
        # is one task scanning everything, so the realistic smoke input is
        # multi-lang (32 langs => 32-way parallel scans, the "pack within
        # (lang, shard)" posture the docstring prescribes for 100 TB).
        def write_ml_docs(nd_rows: int, n_langs: int = 32) -> str:
            d = tempfile.mkdtemp(prefix="scale_mldocs_")
            vocab = F.array(*[F.lit(w) for w in VOCAB])
            body = F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(39)),
                    lambda w: F.element_at(
                        vocab,
                        F.pmod(F.hash(F.col("id").cast("int"), w.cast("int")),
                               F.lit(len(VOCAB))).cast("int") + 1,
                    ),
                ),
                " ",
            )
            spark.range(0, nd_rows, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                body.alias("text"),
                F.concat(F.lit("l"), F.pmod(F.col("id"), F.lit(n_langs)))
                    .alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                F.length(body).alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
            return d

        npk = min(n, 2_000_000)
        results.append(run_dir(
            "curation_packing", npk,
            lambda: _cached(lambda: write_ml_docs(npk), ("mldocs", npk)),
            lambda d: curation_pack.sequence_packing(spark, d)))

        def write_edges(no: int, lines_per_order: int = 4) -> str:
            d = tempfile.mkdtemp(prefix="scale_graph_")
            spark.range(0, no * lines_per_order, 1, parallelism).select(
                (F.col("id") % no).alias("l_orderkey"),
                F.pmod(F.xxhash64("id"), F.lit(200_000)).alias("l_partkey"),
            ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
            return d

        no = min(n, 2_000_000)
        results.append(run_dir(
            "graph_pagerank", no,
            lambda: _cached(lambda: write_edges(no), ("edges", no)),
            lambda d: graph.pagerank_parts(spark, d)))

        # triangles: at 500k orders the hash-random basket graph has ~3M
        # oriented edges, mean degree ~30 -> ~9e7 wedges through the
        # closure join — the quadratic-in-degree cost profile the
        # degree-orientation note in the docstring is about
        nb = min(n, 2_000_000)
        results.append(run_dir(
            "graph_bfs", nb,
            lambda: _cached(lambda: write_edges(nb), ("edges", nb)),
            lambda d: graph.bfs_hops(spark, d)))

        # 2M orders (r8): the edge-iterator kernel (r7 default) at 4x the
        # old 500k smoke — ~8M distinct oriented edges, which also crosses
        # TRI_ADJ_BROADCAST_MAX_BYTES (~5.3M-edge trip point), so this row
        # exercises the shuffle-join degradation path at scale, not just
        # the broadcast fast path the fixture tests cover
        nt = min(n, 2_000_000)
        results.append(run_dir(
            "graph_triangles", nt,
            lambda: _cached(lambda: write_edges(nt), ("edges", nt)),
            lambda d: graph.triangle_count(spark, d)))

        # skewed co-purchase graph: one MID-ID hub part appears in ~2% of
        # all lines.  Under id-orientation a mid-id hub has in-deg ~= out-deg
        # ~= deg/2, so the path join generates in*out ~= deg^2/4 wedges
        # through it; degree-orientation points every hub edge INTO the hub
        # (neighbors all have lower degree), making in*out ~= 0 — the
        # reason degree is the default at scale.  (A hub at id 0 or id max
        # is the accidental best case for id-orientation: one of in/out is
        # zero — measured 4.6s vs 9.4s the WRONG way before the hub id was
        # moved mid-range.)
        def write_skew_edges(no: int, lines_per_order: int = 4) -> str:
            d = tempfile.mkdtemp(prefix="scale_graph_skew_")
            base = F.pmod(F.xxhash64("id"), F.lit(200_000))
            hub = F.pmod(F.xxhash64("id", F.lit(9)), F.lit(50)) == 0
            spark.range(0, no * lines_per_order, 1, parallelism).select(
                (F.col("id") % no).alias("l_orderkey"),
                F.when(hub, F.lit(100_000)).otherwise(base).alias("l_partkey"),
            ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
            return d

        ns = min(n, 200_000)
        results.append(run_dir(
            "graph_triangles_skew_degree", ns,
            lambda: _cached(lambda: write_skew_edges(ns), ("skew_edges", ns)),
            lambda d: graph.triangle_count(spark, d, orient="degree")))
        results.append(run_dir(
            "graph_triangles_skew_id", ns,
            lambda: _cached(lambda: write_skew_edges(ns), ("skew_edges", ns)),
            lambda d: graph.triangle_count(spark, d, orient="id")))

        # planted Θ(n)-line HUB ORDER (r10 verdict task 5 — BASKET_CAP's
        # end-to-end wall-clock bound): one malformed order holding 100k
        # distinct parts, whose basket ALONE emits C(100k,2) ≈ 5.0e9 pair
        # rows uncapped — edge construction dies before degree
        # orientation can help.  BASKET_CAP (1024) drops the order at
        # _basket_pair_edges' size filter, so these rows must land within
        # noise of the clean-graph rows above; the hub's part ids live in
        # a disjoint range (1M+) so the clean subgraph's results are
        # untouched.
        def write_hub_order_edges(no: int, lines_per_order: int = 4,
                                  hub_lines: int = 100_000) -> str:
            d = tempfile.mkdtemp(prefix="scale_graph_huborder_")
            base = spark.range(0, no * lines_per_order, 1, parallelism).select(
                (F.col("id") % no).alias("l_orderkey"),
                F.pmod(F.xxhash64("id"), F.lit(200_000)).alias("l_partkey"),
            )
            hub = spark.range(0, hub_lines, 1, parallelism).select(
                F.lit(no + 1).cast("long").alias("l_orderkey"),
                (F.lit(1_000_000) + F.col("id")).alias("l_partkey"),
            )
            base.unionByName(hub).write.mode("overwrite").parquet(
                f"{d}/lineitem.parquet")
            return d

        nh = min(n, 2_000_000)
        results.append(run_dir(
            "graph_triangles_hub_order", nh,
            lambda: _cached(lambda: write_hub_order_edges(nh),
                            ("hub_order_edges", nh)),
            lambda d: graph.triangle_count(spark, d)))
        results.append(run_dir(
            "graph_pagerank_hub_order", nh,
            lambda: _cached(lambda: write_hub_order_edges(nh),
                            ("hub_order_edges", nh)),
            lambda d: graph.pagerank_parts(spark, d)))

        # SUS weighted sampling: the two-phase bucketed prefix sum (the
        # real operator) vs the naive single global-order window doing the
        # same cumsum — the difference IS the scale story (one task scans
        # the whole corpus in the naive tier).
        from airflow_postgres_to_s3_pipeline_spark.operators import curation

        def write_lean_docs(nd: int) -> str:
            d = tempfile.mkdtemp(prefix="scale_sus_")
            spark.range(0, nd, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                F.lit("").alias("text"),
                F.lit("en").alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                (F.pmod(F.xxhash64("id"), F.lit(500)) + 1)
                    .cast("int").alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
            return d

        def sus_naive(d: str):
            docs = spark.read.parquet(f"{d}/documents.parquet").select(
                "doc_id", F.col("n_chars").cast("long").alias("w")
            )
            cum = docs.withColumn(
                "c_hi",
                F.sum("w").over(
                    Window.orderBy("doc_id").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
            )
            totals = docs.agg(F.sum("w").alias("tw")).withColumn(
                "off",
                F.conv(F.substring(F.md5(F.lit("sus-offset-v1").cast(
                    "binary")), 1, 15), 16, 10).cast("long") % F.col("tw"),
            )
            k = curation.SUS_SAMPLES
            return (
                cum.crossJoin(F.broadcast(totals))
                .withColumn("n_copies", F.expr(
                    f"(({k} * c_hi - off + tw - 1) DIV tw)"
                    f" - (({k} * (c_hi - w) - off + tw - 1) DIV tw)"))
                .filter(F.col("n_copies") >= 1)
                .select("doc_id", "n_copies")
            )

        from airflow_postgres_to_s3_pipeline_spark.operators import multimodal

        ntile = min(n, 2_000_000)
        results.append(run_dir(
            "tile_near_dup", ntile,
            lambda: _cached(lambda: write_docs(ntile), ("docs", ntile)),
            lambda d: multimodal.multimodal_tile_near_dup(spark, d)))

        nsus = min(n, 50_000_000)
        results.append(run_dir(
            "sus_two_phase", nsus,
            lambda: _cached(lambda: write_lean_docs(nsus), ("lean", nsus)),
            lambda d: curation.weighted_sample_sus(spark, d)))
        results.append(run_dir(
            "sus_global_window", nsus,
            lambda: _cached(lambda: write_lean_docs(nsus), ("lean", nsus)),
            sus_naive))

        for d in _dir_cache.values():
            shutil.rmtree(d, ignore_errors=True)

    results = [r for r in results if r is not None]
    print(json.dumps({
        "n_rows": n,
        "parallelism": parallelism,
        "shapes": {lbl: {"sec": s, "rows_per_sec": rps} for lbl, s, rps in results},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
