"""Scale headroom smoke: run core operator shapes at 100x the bench scale.

Generates synthetic fact data JVM-side (``spark.range`` + hash expressions —
no I/O bottleneck, no Python) and times the operator shapes that dominate at
100 TB: scan+filter+aggregate, two-key hash aggregate, broadcast join,
shuffle join, window rank, exact dedup, and the real vector, text, graph,
event, streaming and warehouse operators over synthetic corpora.  Every
shape is timed by one runner with bench.py's method (``bench.timed_noop``).
Prints one JSON line with rows/sec per shape.

    python tools/scale_smoke.py [n_rows] [shape ...]   # default 100_000_000, all shapes
"""

from __future__ import annotations

import atexit
import glob
import json
import os
import shutil
import sys
import tempfile
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import forced_by, session_confs, timed_noop  # noqa: E402


def driver_mem() -> str:
    """Half of the host's MemAvailable as the driver heap.

    This harness runs 100-5000x the test scale in ONE local JVM that hosts
    every task slot (a real cluster gives each executor its own heap); the
    session factory's fixed 8g default overflows on the largest shapes
    (events_k_anonymity at 500M rows).  The other half is headroom for the
    Python workers (one per slot for the pandas/Arrow shapes), the JVM's
    off-heap memory and this process: a heap the host cannot back meets
    the kernel OOM killer, not a Java OutOfMemoryError.  MemAvailable is
    read by the benchmark's ``perfbench/run.py:host_settings``.
    """
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from run import host_settings

    return f"{host_settings()['mem_available_mb'] // 2}m"


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    only = set(sys.argv[2:])
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_postgres_to_s3_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    parallelism = spark.sparkContext.defaultParallelism

    # Synthetic corpora are written once per ``(writer, *args)`` key — a
    # family of shapes over the same dataset pays ONE write — and deleted
    # after the last shape that reads them, or at exit when an op kills the
    # JVM first (a 410 MB corpus once leaked exactly that way).
    corpora: dict = {}

    def corpus_dir(write, *args) -> str:
        key = (write, *args)
        if key not in corpora:
            corpora[key] = tempfile.mkdtemp(prefix=f"scale_{write.__name__}_")
            write(corpora[key], *args)
        return corpora[key]

    def drop_corpora(*keys):
        """Delete the corpora of ``keys``, or all of them."""
        for key in keys or list(corpora):
            d = corpora.pop(key, None)
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)

    atexit.register(drop_corpora)

    results = []

    def run(label, nrows, build, corpus=None, action=timed_noop):
        """Time shape ``label`` (skipped unless selected) and record its
        rows/sec over ``nrows``.  ``build()`` returns the shape's
        DataFrame; with ``corpus=(writer, *args)`` it is called with the
        corpus directory.  ``action(spark, build)`` returns the seconds."""
        if only and label not in only:
            return
        if corpus is not None:
            build = partial(build, corpus_dir(*corpus))
        dt = action(spark, build)
        results.append((label, round(dt, 2), int(nrows / dt)))

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

    dim = spark.range(0, 200_000).select(
        F.col("id").alias("partkey"),
        F.pmod(F.xxhash64("id"), F.lit(25)).cast("string").alias("brand"),
    )

    base_labels = {"filter_aggregate", "hash_aggregate_2key",
                   "broadcast_join_agg", "shuffle_join", "window_topk",
                   "exact_dedup"}
    if not only or (only & base_labels):
        # warm codegen — gated with the base shapes it warms: it is a real
        # n-row job, wasted when `only` selects no base shape (the other
        # sections have their own first-query warm cost)
        timed_noop(spark, lambda: fact().filter(F.col("qty") > 45).agg(
            F.count("*")))

        run("filter_aggregate", n, lambda: fact().filter(F.col("qty") > 25).agg(
            F.sum("price").alias("s"), F.count("*").alias("c")))
        run("hash_aggregate_2key", n, lambda: fact().groupBy("flag", "qty").agg(
            F.sum("price").alias("s"), F.count("*").alias("c")))
        run("broadcast_join_agg", n, lambda: fact().join(F.broadcast(dim), "partkey")
            .groupBy("brand").agg(F.sum("price").alias("s")))
        run("shuffle_join", n, lambda: fact().alias("a").join(
            fact().select(F.col("id"), F.col("custkey").alias("ck2")).alias("b"), "id")
            .agg(F.count("*").alias("c")))
        w = Window.partitionBy("custkey").orderBy(F.col("price").desc())
        run("window_topk", n, lambda: fact().withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3).agg(F.count("*").alias("c")))
        run("exact_dedup", n, lambda: fact().dropDuplicates(["custkey", "qty"])
            .agg(F.count("*").alias("c")))

    # Vector shapes: run the REAL similarity operators against synthetic
    # embeddings written to a corpus directory (so catalog.table reads them
    # like any corpus).  Sizes are capped independently of n — the pairwise
    # shapes have their own scaling laws (see each operator's docstring).
    vector_labels = {"vector_knn_hof", "vector_knn_gemm",
                     "vector_lsh_near_dup", "vector_lsh_hub",
                     "vector_semantic_dedup",
                     "vector_kmeans", "vector_knn_ivf",
                     "vector_pq_encode_gemm",
                     "vector_incremental_dedup", "vector_incremental_hub",
                     "vector_incremental_hub_near",
                     "vector_ivfpq_refine",
                     "vector_knn_recall_eval"}
    if not only or (only & vector_labels):
        from airflow_postgres_to_s3_pipeline_spark.operators import similarity

        def write_vectors(d: str, nv: int, hub: str | None = None) -> None:
            """64-dim hash embeddings; with ``hub`` every 10th vector is a
            dead-encoder constant: ``"identical"`` the same vector,
            ``"near"`` the constant plus +-1e-3 hash noise per dim."""
            def unit(j):
                return (F.hash((F.col("id") * 64 + j).cast("int")).cast("double")
                        / F.lit(2147483647.0))

            dims = F.sequence(F.lit(0), F.lit(63))
            emb = F.transform(dims, lambda j: unit(j).cast("float"))
            if hub == "identical":
                hub_emb = F.array_repeat(F.lit(0.5).cast("float"), 64)
            elif hub == "near":
                hub_emb = F.transform(
                    dims, lambda j: (F.lit(0.5) + unit(j) / F.lit(1000.0)).cast("float"))
            if hub is not None:
                emb = F.when(F.pmod(F.col("id"), F.lit(10)) == 0, hub_emb).otherwise(emb)
            spark.range(nv).select(
                F.col("id").alias("vec_id"),
                emb.alias("embedding"),
                F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
            ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

        nv_knn = min(n, 2_000_000)
        run("vector_knn_hof", nv_knn,
            lambda d: similarity.knn_bruteforce(spark, d),
            corpus=(write_vectors, nv_knn))
        run("vector_knn_gemm", nv_knn,
            lambda d: similarity.knn_gemm(spark, d),
            corpus=(write_vectors, nv_knn))
        # random data needs wide bands (16 bits -> 65k buckets) or the
        # candidate join explodes; production near-dup corpora are the same
        nv_lsh = min(n, 500_000)
        run("vector_lsh_near_dup", nv_lsh,
            lambda d: similarity.embedding_lsh_near_dup(
                spark, d, n_planes=64, n_bands=4),
            corpus=(write_vectors, nv_lsh))
        # the hub corpus — every 10th vector is the SAME constant (dead
        # encoder rows), so the hub's 4 band buckets each hold nv/10
        # vectors and the uncapped candidate bound is 4 x C(nv/10, 2)
        # (5.0B at 500k — JVM death); LSH_MAX_BUCKET drops those buckets
        # and the job completes.  The hub vectors ARE mutual duplicates,
        # but at 50k copies pairwise output is itself quadratic — dedup of
        # an over-cap identity class is the exact md5/keep-first tier's
        # job, not the pair lister's.
        hub = (write_vectors, nv_lsh, "identical")
        run("vector_lsh_hub", nv_lsh,
            lambda d: similarity.embedding_lsh_near_dup(
                spark, d, n_planes=64, n_bands=4),
            corpus=hub)
        # admission dedup on the hub corpus: the representative cap's
        # worst case — every hub band bucket holds ~nv/10 rows, the new
        # side keeps ALL its members and meets max_bucket old
        # representatives per band, so candidate fan-out is bounded by
        # batch x bands x cap (~13M rows at 500k), never C(bucket, 2)
        # (~5e9); the dominant cost is the exact identity tier's k x m
        # batch-dup output (see docs/SCALE.md)
        run("vector_incremental_hub", nv_lsh,
            lambda d: similarity.embedding_incremental_dedup(
                spark, d, n_planes=64, n_bands=4),
            corpus=hub)
        drop_corpora(hub)

        # admission dedup at the lsh_near_dup scale: same wide-band
        # settings; the batch side is ~1/16 of the corpus
        run("vector_incremental_dedup", nv_lsh,
            lambda d: similarity.embedding_incremental_dedup(
                spark, d, n_planes=64, n_bands=4),
            corpus=(write_vectors, nv_lsh))

        # The ADVERSARIAL admission hub at 10x — every 10th vector is the
        # dead-encoder constant PLUS tiny hash noise (+-1e-3 per dim), i.e.
        # NEAR-identical: the whole hub class shares its hyperplane sign
        # pattern (all its band buckets over-cap) but carries NO bitwise
        # identity for the exact tier to catch — exactly the class that
        # falsely admitted under a drop-over-cap-buckets design.  Under the
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
        def assert_hub_admission(out):
            counts = {
                (bool(r["is_hub"]), bool(r["admitted"])): r["n"]
                for r in out.groupBy(
                    (F.col("vec_id") % 10 == 0).alias("is_hub"),
                    "admitted",
                ).agg(F.count(F.lit(1)).alias("n")).collect()
            }
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

        nv_near = min(n, 5_000_000)
        near_hub = (write_vectors, nv_near, "near")
        run("vector_incremental_hub_near", nv_near,
            lambda d: similarity.embedding_incremental_dedup(
                spark, d, n_planes=64, n_bands=4, threshold=0.9),
            corpus=near_hub, action=forced_by(assert_hub_admission))
        drop_corpora(near_hub)
        nv_sem = min(n, 100_000)
        run("vector_semantic_dedup", nv_sem,
            lambda d: similarity.semantic_dedup(spark, d, k=nv_sem // 250),
            corpus=(write_vectors, nv_sem))
        # the fully-oracled iterative/index tiers at scale
        nv_km = min(n, 500_000)
        run("vector_kmeans", nv_km,
            lambda d: similarity.kmeans_embeddings(spark, d, k=64),
            corpus=(write_vectors, nv_km))
        run("vector_knn_ivf", nv_km,
            lambda d: similarity.knn_ivf(
                spark, d, every=max(50, int(nv_km ** 0.5))),
            corpus=(write_vectors, nv_km))
        # the full two-stage serving path (IVF-PQ slate -> exact refine);
        # coarse stride scales ~sqrt(n)
        run("vector_ivfpq_refine", nv_km,
            lambda d: similarity.knn_ivfpq_refine(
                spark, d, every=max(50, int(nv_km ** 0.5))),
            corpus=(write_vectors, nv_km))
        # the ANN acceptance gate at corpus scale — exact-L2 truth is
        # LINEAR (bounded query set broadcast onto the corpus scan), so
        # the eval itself survives the 100x corpus; sqrt-scaled stride
        run("vector_knn_recall_eval", nv_km,
            lambda d: similarity.knn_recall_eval(
                spark, d, every=max(50, int(nv_km ** 0.5))),
            corpus=(write_vectors, nv_km))

        # PQ corpus encode — the numpy cogroup GEMM build; its codes are
        # pinned bit-identical to the HOF fold encode by the unit tests
        # (tests/test_similarity.py), so the fold is not timed here
        from airflow_postgres_to_s3_pipeline_spark.catalog import (
            table as _table,
        )

        def pq_gemm(d):
            e = _table(spark, d, "embeddings").select(
                "vec_id", similarity.to_double_array("embedding").alias("v")
            )
            packed = similarity._pq_codebook(e)
            return similarity.pq_encode_gemm(
                e, packed, spark.sparkContext.defaultParallelism
            )

        nv_pq = min(n, 200_000)
        run("vector_pq_encode_gemm", nv_pq, pq_gemm,
            corpus=(write_vectors, nv_pq))

        drop_corpora()

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
        split = "spark.sql.adaptive.skewJoin.enabled"
        with session_confs(spark, {**skew_confs, split: "true"}):
            run("skew_join_split", n, lambda: skew_fact.join(cust, "custkey"))
        with session_confs(spark, {**skew_confs, split: "false"}):
            run("skew_join_nosplit", n, lambda: skew_fact.join(cust, "custkey"))

    # Text + graph shapes: run the REAL text-pipeline and graph operators
    # against synthetic corpora (same catalog.table path as production).
    # Sizes capped independently of n.
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
        from airflow_postgres_to_s3_pipeline_spark.operators import graph, text

        VOCAB = [
            "batch", "small", "scan", "agg", "data", "customer", "slow",
            "join", "filter", "stream", "big", "hash", "row", "merge",
            "table", "index", "sort", "spill", "page", "cache",
        ]

        def vocab_text(key, words: int):
            """``words`` VOCAB tokens, each picked by hashing (key, position)."""
            vocab = F.array(*[F.lit(w) for w in VOCAB])
            return F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(words - 1)),
                    lambda w: F.element_at(
                        vocab,
                        F.pmod(F.hash(key.cast("int"), w.cast("int")),
                               F.lit(len(VOCAB))).cast("int") + 1,
                    ),
                ),
                " ",
            )

        def write_documents(d: str, nd: int, body, lang=None, n_chars=None):
            spark.range(0, nd, 1, parallelism).select(
                F.col("id").alias("doc_id"),
                body.alias("text"),
                (F.lit("en") if lang is None else lang).alias("lang"),
                F.pmod(F.col("id"), F.lit(20)).cast("string").alias("source"),
                (F.length(body) if n_chars is None else n_chars).alias("n_chars"),
            ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

        def write_docs(d: str, nd: int, words_per_doc: int = 40) -> None:
            write_documents(d, nd, vocab_text(F.col("id"), words_per_doc))

        nd = min(n, 2_000_000)
        run("text_chunking", nd,
            lambda d: text.doc_chunking(spark, d),
            corpus=(write_docs, nd))
        run("text_lm_score", nd,
            lambda d: text.ngram_lm_score(spark, d),
            corpus=(write_docs, nd))
        run("text_bm25", nd,
            lambda d: text.bm25_scoring(spark, d),
            corpus=(write_docs, nd))
        # winnowing: per-gram md5 map work (~5 chars/gram over the whole
        # corpus) + for the dedup tier the posting-key shuffles
        nw = min(n, 500_000)
        run("text_winnow_fp", nw,
            lambda d: text.winnowing_fingerprint(spark, d),
            corpus=(write_docs, nw))
        run("text_winnow_dedup", nw,
            lambda d: text.winnowing_dedup(spark, d),
            corpus=(write_docs, nw))
        # per-source duplication accounting at the winnowing smoke scale —
        # the exact tier's 16-byte-key group-by + the production
        # MinHash-LSH chain + two doc_id membership joins
        from airflow_postgres_to_s3_pipeline_spark.operators import (
            dedup as dedup_ops,
        )
        run("text_dedup_report", nw,
            lambda d: dedup_ops.corpus_dedup_report(spark, d),
            corpus=(write_docs, nw))
        # the release-gate accounting at 10x (5M docs, 50x sf0.1) — the
        # exact tier stays a 16-byte-key group-by and the near tier the
        # banded MinHash chain, so the profile should stay linear; this
        # row is the evidence
        ndr = min(n, 5_000_000)
        run("text_dedup_report_5m", ndr,
            lambda d: dedup_ops.corpus_dedup_report(spark, d),
            corpus=(write_docs, ndr))
        # simhash near-dedup at 500k and 5M docs — runnable at all ONLY
        # because of the chunk-bucket cap: the 20-word vocabulary drives
        # near-constant per-bit votes, so single 15-bit chunk values
        # collect Θ(n) docs (measured: max bucket 39,316 at 500k / 394,907
        # at 5M; uncapped candidate bound 6.7B ≈ n²/37 at 500k and 670B at
        # 5M — certain JVM death; capped bound 130M / 309M, growing 2.4x
        # for 10x docs because more hub buckets cross the cap and drop
        # outright).
        run("text_simhash_500k", nw,
            lambda d: dedup_ops.simhash_dedup(spark, d),
            corpus=(write_docs, nw))
        run("text_simhash_5m", ndr,
            lambda d: dedup_ops.simhash_dedup(spark, d),
            corpus=(write_docs, ndr))

        # the ITERATIVE kernel at corpus scale — LSH pairs -> connected
        # components (small-star label propagation with a checkpoint per
        # round).  The vocab corpus is useless here (probed: its n-gram
        # shingles distinguish every doc, so ALL capped candidates fail
        # Jaccard and the edge set is EMPTY — the run would measure
        # candidate rejection, not merging).  Instead a planted-duplicates
        # corpus: groups of 5 docs share a base text, four verbatim + one
        # with a tail token, the realistic crawl-dedup input — ~nd/5 true
        # clusters for the loop to merge.
        def write_dup_docs(d: str, nd: int, words_per_doc: int = 40) -> None:
            base = (F.col("id") / 5).cast("long")
            body = vocab_text(base, words_per_doc)
            body = F.when(
                F.pmod(F.col("id"), F.lit(5)) == 4,
                F.concat(body, F.lit(" trailer"), base.cast("string")),
            ).otherwise(body)
            write_documents(d, nd, body)

        run("text_dedup_components", nw,
            lambda d: dedup_ops.dedup_components(spark, d),
            corpus=(write_dup_docs, nw))

        # the EXACT posting join under a realistic hub — 1M-token hash
        # vocabulary (so base-text shingles have df ~= group size 2) with
        # one 6-token boilerplate sentence appended to every 10th doc: each
        # boilerplate shingle's posting is n/10 docs, so the uncapped
        # intersection bound is ~4 x C(n/10, 2) pairs (5.0e9 at 500k docs —
        # JVM death); NGRAM_DF_CAP drops exactly those postings and the
        # planted verbatim pairs survive on their own df-2 shingles.
        def write_boiler_docs(d: str, nd_rows: int, words_per_doc: int = 30) -> None:
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
            write_documents(d, nd_rows, body)

        run("text_ngram_jaccard", nw,
            lambda d: dedup_ops.ngram_jaccard_pairs(spark, d),
            corpus=(write_boiler_docs, nw))
        # 10x: the linearity evidence post-cap (boilerplate postings grow
        # to 500k docs each — uncapped bound 4 x C(500k,2) = 5e11 pairs)
        run("text_ngram_jaccard_5m", ndr,
            lambda d: dedup_ops.ngram_jaccard_pairs(spark, d),
            corpus=(write_boiler_docs, ndr))

        # entity resolution: vocabulary-scale multi-pass blocking.  ~1M
        # records collapse to ~950k DISTINCT two-token names over a
        # 10k-token vocabulary, so each blocking pass shuffles ~95-name
        # blocks and the edit-distance filter runs on ~45M candidate pairs
        # per pass — the blocked-quadratic cost profile ER systems budget
        # for, with zero cartesian anywhere.
        from airflow_postgres_to_s3_pipeline_spark.operators import entity

        def write_names(d: str, nr: int, vocab: int = 10_000) -> None:
            t1 = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(vocab))
            t2 = F.pmod(F.xxhash64("id", F.lit(8)), F.lit(vocab))
            spark.range(0, nr, 1, parallelism).select(
                F.col("id").alias("p_partkey"),
                F.concat(F.lit("w"), t1, F.lit(" x"), t2).alias("p_name"),
            ).write.mode("overwrite").parquet(f"{d}/part.parquet")

        ne = min(n, 1_000_000)
        names = (write_names, ne)
        run("entity_fuzzy_match", ne,
            lambda d: entity.fuzzy_match_parts(spark, d),
            corpus=names)
        drop_corpora(names)

        # event-analytics shapes (funnel / TWAP / trend) over a synthetic
        # events table: 1M users x ~50 events, 2-decimal values, 30-day span
        from airflow_postgres_to_s3_pipeline_spark.operators import (
            advanced as adv_ops,
            windows as win_ops,
        )

        def event_cols(ts):
            etype = F.element_at(
                F.array(*[F.lit(t) for t in
                          ("view", "click", "purchase", "signup", "error")]),
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)).cast("int") + 1,
            )
            value = (
                (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(49000)) + 1) / 100.0
            )
            return (
                F.col("id").alias("event_id"),
                ts.alias("ts"),
                F.pmod(F.xxhash64("id", F.lit(6)), F.lit(1_000_000)).alias(
                    "user_id"
                ),
                etype.alias("event_type"),
                value.alias("value"),
            )

        def write_events(d: str, ne: int) -> None:
            ts = F.timestamp_seconds(
                F.lit(1704067200)
                + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(2_592_000))
            )
            spark.range(0, ne, 1, parallelism).select(
                *event_cols(ts)
            ).write.mode("overwrite").parquet(f"{d}/events.parquet")

        nev = min(n, 50_000_000)
        run("events_funnel", nev,
            lambda d: win_ops.funnel_ordered_3step(spark, d),
            corpus=(write_events, nev))
        run("events_twap", nev,
            lambda d: win_ops.time_weighted_average(spark, d),
            corpus=(write_events, nev))
        run("events_trend", nev,
            lambda d: win_ops.user_value_trend(spark, d),
            corpus=(write_events, nev))
        # the skew diagnostics op itself at event scale — two
        # map-side-combined key counts + 1-row aggregates, the cheapest
        # shape in the suite by construction
        run("events_skew_profile", nev,
            lambda d: adv_ops.key_skew_profile(spark, d),
            corpus=(write_events, nev))
        # the privacy release gate at full-corpus scale (500M events,
        # 5000x sf0.1).  The group-by domain is bounded by the quasi-id
        # cross product (5 types x 30 days x 10 buckets = 1500 groups), so
        # the whole job is one map-side-combined distinct-count pass — the
        # shape that must stay linear for the gate to run over 100 TB.
        nka = min(n, 500_000_000)
        run("events_k_anonymity", nka,
            lambda d: adv_ops.k_anonymity_check(spark, d),
            corpus=(write_events, nka))

        from airflow_postgres_to_s3_pipeline_spark.operators import curation

        # the time-series shapes.  sessionize = lag + running-sum +
        # group-by, all on ONE user_id shuffle (same window spec);
        # hypertable = raw scan once, daily tier re-aggregates hourly
        # PARTIALS at bucket cardinality; the as-of pandas tier moves the
        # WHOLE corpus through Arrow in ~ASOF_TARGET_ROWS_PER_BUCKET-row
        # calls — this row prices that Arrow round-trip against the
        # pure-window twin at the same scale.
        run("events_sessionize", nev,
            lambda d: win_ops.sessionize_events(spark, d),
            corpus=(write_events, nev))
        run("events_hypertable", nev,
            lambda d: win_ops.hypertable_rollup(spark, d),
            corpus=(write_events, nev))
        run("events_asof_pandas", nev,
            lambda d: win_ops.asof_join_pandas(spark, d),
            corpus=(write_events, nev))

        # Structured Streaming throughput: a TIME-ORDERED corpus written as
        # 8 sequential chunk jobs (mtime order = event-time order, 4 files
        # each), driven with maxFilesPerTrigger=4 + Trigger.availableNow =>
        # 8 genuine micro-batches with the watermark advancing and evicting
        # state BETWEEN batches — the incremental execution a one-shot
        # batch replay would fake.  Timestamps are monotone ACROSS chunks
        # and the watermark only moves at batch end, so no row is ever
        # late-dropped: the measured rows/s is full-corpus processing, not
        # drop throughput.  Sink is noop, checkpoint a temp dir.
        from airflow_postgres_to_s3_pipeline_spark.streaming import (
            windows as stream_win,
        )

        def write_stream_events(d: str, ne_rows: int, n_chunks: int = 8,
                                files_per_chunk: int = 4) -> None:
            ts = F.timestamp_seconds(
                F.lit(1704067200)
                + (F.col("id") * F.lit(2_592_000) / F.lit(ne_rows)).cast(
                    "long")
            )
            # the file stream source (read_events_stream) globs flat
            # events*.parquet FILES like the testdata layout, so each
            # chunk's part files are renamed up out of the staging dir;
            # rename keeps mtime, preserving chunk order for the source's
            # mtime-sorted listing
            for c in range(n_chunks):
                lo = ne_rows * c // n_chunks
                hi = ne_rows * (c + 1) // n_chunks
                staging = f"{d}/_staging"
                spark.range(lo, hi, 1, files_per_chunk).select(
                    *event_cols(ts)
                ).write.mode("overwrite").parquet(staging)
                parts = sorted(glob.glob(f"{staging}/part-*.parquet"))
                for i, p in enumerate(parts):
                    os.rename(p, f"{d}/events-{c:02d}-{i:02d}.parquet")
                shutil.rmtree(staging, ignore_errors=True)

        def stream_noop(mode: str):
            """Timed action running the streaming query to the end of its
            available input into the noop sink.  Its checkpoint dir is
            made before the clock starts and deleted after it stops."""

            def timed(spark, build):
                ck = tempfile.mkdtemp(prefix="scale_ckpt_")
                try:
                    return forced_by(
                        lambda stream: stream.writeStream.format("noop")
                        .outputMode(mode)
                        .option("checkpointLocation", ck)
                        .trigger(availableNow=True)
                        .start().awaitTermination()
                    )(spark, build)
                finally:
                    shutil.rmtree(ck, ignore_errors=True)

            return timed

        def events_stream(d):
            return stream_win.read_events_stream(spark, d, max_files_per_trigger=4)

        nst = min(n, 50_000_000)
        run("stream_tumbling", nst,
            lambda d: stream_win.tumbling_counts(events_stream(d)),
            corpus=(write_stream_events, nst), action=stream_noop("update"))
        run("stream_dedup_wm", nst,
            lambda d: stream_win.dedup_stream(events_stream(d),
                                              within_watermark=True),
            corpus=(write_stream_events, nst), action=stream_noop("append"))
        run("stream_session", nst,
            lambda d: stream_win.session_counts(events_stream(d)),
            corpus=(write_stream_events, nst), action=stream_noop("append"))
        # two chained stateful aggregations in ONE query (hourly -> daily)
        run("stream_chained_rollup", nst,
            lambda d: stream_win.chained_hourly_daily(events_stream(d)),
            corpus=(write_stream_events, nst), action=stream_noop("append"))

        # stream-stream join: both sides derive from the same source
        # stream (filters split it), so one physical read feeds both join
        # inputs; the time-bound condition lets state evict per batch
        def _ss_join(d):
            s = events_stream(d)
            return stream_win.click_purchase_stream_join(
                s.filter(F.col("event_type") == "click"),
                s.filter(F.col("event_type") == "purchase"),
            )

        run("stream_ss_join", nst, _ss_join,
            corpus=(write_stream_events, nst), action=stream_noop("append"))

        # warehouse-maintenance shapes at dimension scale: MERGE as a
        # keyed full-outer join + coalesce (one shuffle per side), SCD2 as
        # change-batch argmax + one dimension join + union.  Orders span
        # 1992-1998.5 so the post-cutoff SCD2 change batch is a sliver of
        # the dimension — the realistic daily-apply profile where AQE
        # broadcasts the batch.
        def write_orders_customers(d: str, no_rows: int, nc_rows: int) -> None:
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

        nwh = min(n, 50_000_000)
        nwc = max(1, nwh // 10)
        run("warehouse_merge_upsert", nwh,
            lambda d: adv_ops.merge_upsert(spark, d),
            corpus=(write_orders_customers, nwh, nwc))
        run("warehouse_scd2", nwh,
            lambda d: adv_ops.scd2_apply(spark, d),
            corpus=(write_orders_customers, nwh, nwc))

        # contiguous packing: the per-lang window cumsum is the inherent
        # sequential cost of ordered packing — on a SINGLE-lang corpus it
        # is one task scanning everything, so the realistic smoke input is
        # multi-lang (32 langs => 32-way parallel scans, the "pack within
        # (lang, shard)" posture the docstring prescribes for 100 TB).
        def write_ml_docs(d: str, nd_rows: int, n_langs: int = 32) -> None:
            write_documents(
                d, nd_rows, vocab_text(F.col("id"), 40),
                lang=F.concat(F.lit("l"), F.pmod(F.col("id"), F.lit(n_langs))),
            )

        npk = min(n, 2_000_000)
        run("curation_packing", npk,
            lambda d: curation.sequence_packing(spark, d),
            corpus=(write_ml_docs, npk))

        def write_edges(d: str, no: int, lines_per_order: int = 4) -> None:
            spark.range(0, no * lines_per_order, 1, parallelism).select(
                (F.col("id") % no).alias("l_orderkey"),
                F.pmod(F.xxhash64("id"), F.lit(200_000)).alias("l_partkey"),
            ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")

        no = min(n, 2_000_000)
        run("graph_pagerank", no,
            lambda d: graph.pagerank_parts(spark, d),
            corpus=(write_edges, no))
        nb = min(n, 2_000_000)
        run("graph_bfs", nb,
            lambda d: graph.bfs_hops(spark, d),
            corpus=(write_edges, nb))

        # triangles at 2M orders: the edge-iterator kernel over ~8M
        # distinct oriented edges, which also crosses
        # TRI_ADJ_BROADCAST_MAX_BYTES (~5.3M-edge trip point), so this row
        # exercises the shuffle-join degradation path at scale, not just
        # the broadcast fast path the fixture tests cover
        nt = min(n, 2_000_000)
        run("graph_triangles", nt,
            lambda d: graph.triangle_count(spark, d),
            corpus=(write_edges, nt))

        # skewed co-purchase graph: one MID-ID hub part appears in ~2% of
        # all lines.  Under id-orientation a mid-id hub has in-deg ~= out-deg
        # ~= deg/2, so the path join generates in*out ~= deg^2/4 wedges
        # through it; degree-orientation points every hub edge INTO the hub
        # (neighbors all have lower degree), making in*out ~= 0 — the
        # reason degree is the default at scale.  (A hub at id 0 or id max
        # is the accidental best case for id-orientation: one of in/out is
        # zero — measured 4.6s vs 9.4s the WRONG way before the hub id was
        # moved mid-range.)
        def write_skew_edges(d: str, no: int, lines_per_order: int = 4) -> None:
            base = F.pmod(F.xxhash64("id"), F.lit(200_000))
            hub = F.pmod(F.xxhash64("id", F.lit(9)), F.lit(50)) == 0
            spark.range(0, no * lines_per_order, 1, parallelism).select(
                (F.col("id") % no).alias("l_orderkey"),
                F.when(hub, F.lit(100_000)).otherwise(base).alias("l_partkey"),
            ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")

        ns = min(n, 200_000)
        run("graph_triangles_skew_degree", ns,
            lambda d: graph.triangle_count(spark, d, orient="degree"),
            corpus=(write_skew_edges, ns))
        run("graph_triangles_skew_id", ns,
            lambda d: graph.triangle_count(spark, d, orient="id"),
            corpus=(write_skew_edges, ns))

        # planted Θ(n)-line HUB ORDER (BASKET_CAP's end-to-end wall-clock
        # bound): one malformed order holding 100k distinct parts, whose
        # basket ALONE emits C(100k,2) ≈ 5.0e9 pair rows uncapped — edge
        # construction dies before degree orientation can help.
        # BASKET_CAP (1024) drops the order at _basket_pair_edges' size
        # filter, so these rows must land within noise of the clean-graph
        # rows above; the hub's part ids live in a disjoint range (1M+) so
        # the clean subgraph's results are untouched.
        def write_hub_order_edges(d: str, no: int, lines_per_order: int = 4,
                                  hub_lines: int = 100_000) -> None:
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

        nh = min(n, 2_000_000)
        run("graph_triangles_hub_order", nh,
            lambda d: graph.triangle_count(spark, d),
            corpus=(write_hub_order_edges, nh))
        run("graph_pagerank_hub_order", nh,
            lambda d: graph.pagerank_parts(spark, d),
            corpus=(write_hub_order_edges, nh))

        # SUS weighted sampling: the two-phase bucketed prefix sum (the
        # real operator) vs the naive single global-order window doing the
        # same cumsum — the difference IS the scale story (one task scans
        # the whole corpus in the naive tier).
        def write_lean_docs(d: str, nd: int) -> None:
            write_documents(
                d, nd, F.lit(""),
                n_chars=(F.pmod(F.xxhash64("id"), F.lit(500)) + 1).cast("int"),
            )

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
        run("tile_near_dup", ntile,
            lambda d: multimodal.multimodal_tile_near_dup(spark, d),
            corpus=(write_docs, ntile))

        nsus = min(n, 50_000_000)
        run("sus_two_phase", nsus,
            lambda d: curation.weighted_sample_sus(spark, d),
            corpus=(write_lean_docs, nsus))
        run("sus_global_window", nsus, sus_naive,
            corpus=(write_lean_docs, nsus))

        drop_corpora()

    print(json.dumps({
        "n_rows": n,
        "parallelism": parallelism,
        "shapes": {lbl: {"sec": s, "rows_per_sec": rps} for lbl, s, rps in results},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
