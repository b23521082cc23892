"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver materialization — the same shape a distributed write has at scale).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one per operator family, weighted toward the shuffle/join/
# window/LLM paths that dominate at scale.  Refreshed r5 so every
# expensive family has a driver-visible trend line: +knn_gemm,
# +semantic_dedup, +bm25_scoring, +pagerank_parts, +nation_market_share
# (TPC-H Q8 multi-join); -knn_bruteforce (same oracle as knn_gemm, slower
# tier by design), -tfidf_top_terms (cheap; covered by bm25's heavier
# superset plan).  Late r5: +knn_pq (GEMM encode + ADC), +knn_ivfpq
# (composed ANN), +winnowing_fingerprint (per-gram hash HOF chain) — the
# session's new expensive families, benched from their first driver
# round.  History per query: docs/SCALE.md bench-trend table.
# Session 3: +fuzzy_match_parts (entity resolution — multi-pass blocked
# levenshtein), +dedup_keep_best (clusters + quality survivorship chain,
# the heaviest new composition).
# Session 4: +embedding_incremental_dedup (batch-vs-corpus LSH admission —
# the new vector-ingestion family).
BENCH_QUERIES = [
    "pricing_summary",
    "join_broadcast_dims",
    "join_shuffle_multiway",
    "join_range",
    "nation_market_share",
    "window_topk_per_customer",
    "window_running_total",
    "tumbling_window_agg",
    "session_window_agg",
    "json_functions",
    "explode_word_freq",
    "dedup_exact",
    "minhash_lsh_dedup",
    "dedup_components",
    "simhash_dedup",
    "semantic_dedup",
    "knn_gemm",
    "knn_pq",
    "knn_ivfpq",
    "kmeans_embeddings",
    "doc_quality",
    "winnowing_fingerprint",
    "bm25_scoring",
    "pagerank_parts",
    "multimodal_decode",
    "salted_agg_hot_key",
    "window_lag_lead",
    "exact_percentiles",
    "fuzzy_match_parts",
    "dedup_keep_best",
    "embedding_incremental_dedup",
    # Round 6: the rotation's newly driver-promoted expensive families,
    # benched from their first driver round (graph triangle/BFS, hybrid
    # BM25+dense RRF retrieval, winnowing containment near-dup).
    "triangle_count",
    "bfs_hops",
    "hybrid_search_rrf",
    "winnowing_dedup",
    # Round 7: the rotation's newly driver-promoted non-trivial families
    # (sequence()-explode gap fill, SCD2 window merge, pandas as-of join,
    # ordered-event funnel), benched from their first driver round.
    "timeseries_gapfill",
    "scd2_apply",
    "asof_join_pandas",
    "funnel_ordered_3step",
    # Round 8: the rotation's newly driver-promoted non-trivial families
    # (iterative-join recursive chain, fold-pruned IVF/PQ ANN tiers,
    # cohort matrix), benched from their first driver round.
    "recursive_order_chain",
    "knn_ivf_fold",
    "knn_pq_fold",
    "cohort_retention",
    # Round 8 additions, benched from their first round: two-stage ANN
    # serving (PQ slate -> exact refine) and the retrieval rerank stage.
    "knn_ivfpq_refine",
    "rerank_cross_encoder",
    # Round 9: the rotation's newly driver-promoted non-trivial families —
    # the banding S-curve sweep (4 configs off one signature pass), the
    # ANN recall gate (exact top-k truth side), the corpus dedup
    # accounting report, and the recursive-CTE-oracled FFD packing.
    "lsh_band_sweep",
    "knn_recall_eval",
    "corpus_dedup_report",
    "sequence_packing_ffd",
    # Round 11: the two streaming-shaped batch rollups that earned 50M-row
    # scale rows in docs/SCALE.md (sessionize 660k ev/s, hypertable rollup
    # 3.84M ev/s) but had no per-round driver-visible trend line (r10
    # verdict task 6).
    "sessionize_events",
    "hypertable_rollup",
]


# Warm-up set: the JVM/codegen paths (scan, broadcast join, window) AND the
# Python-worker pool (pandas UDF + mapInPandas fork/Arrow setup), run once
# so per-query numbers measure the engine, not process spin-up.
# multimodal_decode / pandas_udf_score cover the two Python shapes —
# round-2 measured mapInPandas cold-start alone at ~6s vs 0.6s warm.
WARM_QUERIES = (
    "pricing_summary",
    "join_broadcast_dims",
    "window_topk_per_customer",
    "pandas_udf_score",
    "multimodal_decode",
)


def forced_by(force):
    """The timing method: returns ``timed(spark, build) -> float``, the
    wall seconds of ``build()`` plus ``force(df)`` on the DataFrame it
    returns.

    The clock starts before ``build`` is called, so eager build-layer
    jobs (iteration rounds, checkpoints, size probes) are counted.  After
    the clock stops, the persist tracker is drained (cache.py's policy:
    the terminal consumer releases) and the catalog cache cleared, so run
    N+1 cannot hit run N's cache; the unpersist RPCs are bookkeeping, not
    query time.
    """

    def timed(spark, build) -> float:
        from airflow_postgres_to_s3_pipeline_spark.cache import release_persisted

        t0 = time.time()
        try:
            force(build())
            return time.time() - t0
        finally:
            release_persisted()
            spark.catalog.clearCache()

    return timed


# Forced end to end through the noop sink: full computation, no driver
# materialization — the same shape a distributed write has at scale.
timed_noop = forced_by(lambda df: df.write.format("noop").mode("overwrite").save())


def warm_up(spark, sf_dir: str) -> None:
    """Run each of WARM_QUERIES once through :func:`timed_noop`."""
    from airflow_postgres_to_s3_pipeline_spark import registry

    for name in WARM_QUERIES:
        timed_noop(spark, partial(registry.QUERIES[name], spark, sf_dir))


@contextlib.contextmanager
def session_confs(spark, confs: dict[str, str]):
    """Set the SQL ``confs`` for the ``with`` block; on exit restore each
    key's previous value, unsetting the keys that were unset."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _host_epoch() -> str:
    """Host-epoch identifier: kernel release + an 8-hex hash of the CPU
    model line.  Cross-epoch bench totals are NOT comparable (docs/
    SCALE.md records ~40% drift between container hosts with identical
    idle gates), so every bench line and the idle baseline's
    recorded_from carry this marker — a phantom-regression debate
    resolves from the JSON alone by comparing epochs (r11 verdict
    task 7)."""
    import hashlib
    import platform

    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    cpu_hash = hashlib.sha256(model.encode()).hexdigest()[:8]
    return f"{platform.release()}/{cpu_hash}"


def _idle_threshold() -> float:
    """THE idle gate formula — the only definition; _await_idle_host's
    pass/fail decision and the bench JSON's idle_threshold/idle_margin
    fields all read it, so they cannot diverge."""
    n_cpus = os.cpu_count() or 1
    return max(2.0, n_cpus / 8)


# load5 must sit well below the load1 threshold for the host to count as
# idle: borderline-idle runs (load5 just under the threshold) measure
# 5-10%+ hot and have now minted phantom regressions three times (r6 load
# 3.91, r8 min-of-2 artifacts, r10 gate-passed at load5 1.98 and recorded
# a +30% cold total that a truly-idle re-run read back at parity —
# docs/SCALE.md).  0.45, not 0.5: r10's 1.98 vs a 4.0 threshold is the
# measured counter-example that a plain half-gate still passes.
LOAD5_IDLE_FRACTION = 0.45

# Absolute margin (percentage points) added on top of an entry's recorded
# idle-swing band before a per-query deviation is classified as a real
# regression (r12 verdict task 6).  Covers the sampling error of bands
# estimated from a handful of idle runs: a band measured at 10% from 3
# samples can easily read 20% on the 4th genuinely-idle run; what it
# cannot do is read 2x.  Totals have their own tighter gate
# (vs_idle_baseline_pct > 10 => hot_run_suspected).
BAND_MARGIN_PCT = 15.0


def _await_idle_host(max_wait_s: int | None = None) -> tuple[float, float, bool]:
    """Wait (bounded) for BOTH the 1-min and 5-min load averages to drop
    below the idle threshold, then report (load1, load5, idle?) — all
    sampled at gate-pass time, BEFORE Spark starts.  docs/SCALE.md
    records the same queries running 2.5x slower when a background
    verification gate shares the cores — totals are only comparable from
    an idle machine, so every headline run carries this marker instead of
    relying on the operator to remember.  The gate is max(load1, load5):
    a just-subsided CPU burst leaves load1 low while load5 is still high,
    and SCALE.md's r6 counter-example (load1 1.9 / recent-burst host →
    121.8s total vs 52.9s idle) shows runs in that state are NOT
    comparable — the r7 driver bench was stamped idle at load1 3.89 /
    load5 5.93 under the old 1-min-only rule, which is exactly the spoof
    this closes.  Set SPARK_GRAFT_SKIP_IDLE_WAIT=1 to skip the wait (the
    run is still marked non-idle if either load is high); waits are
    logged to stderr so a delayed run is explicable.

    r11 tightening (r10 verdict task 2): load5 must ALSO clear
    ``LOAD5_IDLE_FRACTION * threshold`` — expressed as the single gate
    metric ``max(load1, load5 / LOAD5_IDLE_FRACTION) <= threshold``.
    r10's driver bench gate-passed at load1 0.40 / load5 1.98 against a
    4.0 threshold and recorded a +30% hot total that a truly-idle re-run
    read back at 79.9s parity; under this gate that host waits."""
    if max_wait_s is None:
        # load5 decays with a 5-minute time constant, so a 90s cap can
        # never clear a recent burst — default to 6 min (env-tunable)
        max_wait_s = int(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "360"))
    n_cpus = os.cpu_count() or 1
    # single-sourced with the JSON's idle_threshold/idle_margin fields —
    # a tuning edit here must move both or the recorded margin lies
    threshold = _idle_threshold()
    # the wait loop aims for a STRICTER soft target first (cpus/16 —
    # r8's driver bench passed cpus/8 with only 0.23 to spare and ran
    # ~6% hotter than the builder's dual-idle runs); if the soft target
    # doesn't clear within the wait budget, the cpus/8 gate still decides
    soft_target = max(1.0, n_cpus / 16)

    def _gate_load() -> float:
        load1, load5, _ = os.getloadavg()
        return max(load1, load5 / LOAD5_IDLE_FRACTION)

    def _report() -> tuple[float, float, bool]:
        # BOTH markers are captured HERE, at gate-pass time, before any
        # Spark work: the bench itself drives 32 threads for minutes, so
        # sampling load5 at print time (the r8 bug this replaces) stamps
        # a genuinely idle run with its OWN load and makes the marker
        # unusable for cross-round idleness adjudication.
        load1, load5, _ = os.getloadavg()
        return (
            round(load1, 2),
            round(load5, 2),
            max(load1, load5 / LOAD5_IDLE_FRACTION) <= threshold,
        )

    load = _gate_load()
    if os.environ.get("SPARK_GRAFT_SKIP_IDLE_WAIT") == "1":
        return _report()
    deadline = time.time() + max_wait_s
    waited = False
    while load > soft_target and time.time() < deadline:
        if not waited:
            print(
                f"bench: waiting up to {max_wait_s}s for the gate metric "
                f"max(load1, load5/{LOAD5_IDLE_FRACTION}) = {load:.2f} "
                f"to drop below the soft target {soft_target:.2f} "
                f"(hard gate {threshold:.2f}; "
                "SPARK_GRAFT_SKIP_IDLE_WAIT=1 skips)",
                file=sys.stderr,
            )
            waited = True
        time.sleep(5)
        load = _gate_load()
    return _report()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    load_avg, load_avg_5m, idle_host = _await_idle_host()

    from airflow_postgres_to_s3_pipeline_spark.session import get_spark
    from airflow_postgres_to_s3_pipeline_spark import registry

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, sf_dir)

    # Each query runs N_RUNS times: report min (the plan's cost, cold-start
    # noise rejected) and the first run separately (cold, for spin-up
    # tracking).  The cache is cleared between runs so a persisted
    # intermediate from run 1 can't shortcut run 2 — min-of-N measures the
    # plan, not cache hits.
    # min-of-3 since r8: every query's run 1 is 1.5-2.5x its warm min
    # (persist materialization + Python-worker re-fork after the cache
    # clear), so min-of-2 records whatever run 2 hits and generated
    # phantom per-round regressions (docs/SCALE.md r8 adjudication:
    # dedup_keep_best "4.18s" was 2.75s measured min-of-3)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in BENCH_QUERIES:
        build = partial(registry.QUERIES[name], spark, sf_dir)
        runs = [round(timed_noop(spark, build), 3) for _ in range(n_runs)]
        cold[name] = runs[0]
        timings[name] = min(runs)

    total = round(sum(timings.values()), 3)
    # eval-vs-serving split (r11 verdict task 8): acceptance-gate entries
    # are deliberately expensive (exhaustive truth sides) — their cost
    # must not read as serving-path cost
    eval_queries = sorted(q for q in timings if q in registry.EVAL_TIERS)
    total_eval = round(sum(timings[q] for q in eval_queries), 3)
    total_serving = round(total - total_eval, 3)

    # Warm-total deviation vs the recorded idle baseline (r10 verdict
    # task 2): three rounds of phantom regressions came from gate-passed
    # borderline-idle hosts, each detected only by after-the-fact A/B
    # adjudication (docs/SCALE.md r6/r8/r10).  The baseline file holds
    # the per-query warm mins of the last truly-idle run
    # (tools/record_idle_baseline.py refreshes it); deviation is computed
    # over the COMMON query set so bench-set edits don't invalidate it.
    baseline_common_total = None
    vs_idle_baseline_pct = None
    baseline_host_epoch = None
    hot_run_suspected = not idle_host
    per_query_regressions = []
    try:
        with open(os.path.join(REPO, "docs", "BENCH_IDLE_BASELINE.json")) as f:
            base_doc = json.load(f)
        base = base_doc.get("queries", {})
        baseline_host_epoch = base_doc.get("recorded_from", {}).get(
            "host_epoch"
        )
        common = set(base) & set(timings)
        base_sum = sum(base[q] for q in common)
        if base_sum > 0 and len(common) >= 10:
            cur_sum = sum(timings[q] for q in common)
            baseline_common_total = round(base_sum, 3)
            vs_idle_baseline_pct = round(
                100.0 * (cur_sum - base_sum) / base_sum, 1
            )
            if vs_idle_baseline_pct > 10.0:
                hot_run_suspected = True
        # Per-entry noise-vs-real classification (r12 verdict task 6):
        # idle runs whose totals agree within ~4% still swing individual
        # entries by up to +-39.5% (the r12 five-run study), so a
        # per-query delta is only "real" when it exceeds the entry's OWN
        # observed idle-pair swing (bands, recorded by
        # record_idle_baseline.py --bands) plus a fixed margin.  Entries
        # without a band are judged against the widest recorded band —
        # conservative, never silently strict.
        bands = base_doc.get("bands", {})
        if bands:
            fallback = max(bands.values())
            for q in common:
                if base[q] <= 0:
                    continue
                dev = 100.0 * (timings[q] - base[q]) / base[q]
                band = bands.get(q, fallback)
                if dev > band + BAND_MARGIN_PCT:
                    per_query_regressions.append({
                        "query": q,
                        "vs_baseline_pct": round(dev, 1),
                        "band_pct": band,
                    })
            per_query_regressions.sort(
                key=lambda r: -r["vs_baseline_pct"]
            )
            # cap the printed list to the worst 5: the driver's capture of
            # this line is length-bounded, and BENCH_r12's round-over-round
            # comparison was lost to a JSON line that outgrew it (r13
            # verdict task — keep the contract line lean)
            per_query_regressions = per_query_regressions[:5]
    except (OSError, ValueError):
        pass

    # Diagnostics that are NOT part of the driver contract go to STDERR as
    # their own JSON line: the driver's stdout capture is length-bounded
    # (BENCH_r12's round-over-round comparison was lost when the growing
    # contract line outran the 2000-char tail — r13 verdict task 2), so
    # stdout carries exactly ONE lean JSON line and nothing after it.
    # r13 and earlier printed queries_cold / per_query_regressions /
    # eval_queries inline; their values live on in the old BENCH_r*.json
    # files and, from r14 on, in this stderr line.
    print(
        json.dumps(
            {
                "bench_diagnostics": {
                    "queries_cold": cold,
                    "eval_queries": eval_queries,
                    # entries whose warm-min deviation vs the idle
                    # baseline exceeds their recorded per-entry idle-swing
                    # band plus BAND_MARGIN_PCT — the mechanical
                    # noise-vs-real verdict for per-query deltas (empty =
                    # all inside their bands; only meaningful when the
                    # host epochs match), capped to the worst 5
                    "per_query_regressions": per_query_regressions,
                    "idle_baseline_host_epoch": baseline_host_epoch,
                }
            }
        ),
        file=sys.stderr,
        flush=True,
    )
    print(
        json.dumps(
            contract_payload(
                timings=timings,
                sf=sf,
                n_runs=n_runs,
                total_serving=total_serving,
                total_eval=total_eval,
                load_avg=load_avg,
                load_avg_5m=load_avg_5m,
                idle_host=idle_host,
                baseline_common_total=baseline_common_total,
                vs_idle_baseline_pct=vs_idle_baseline_pct,
                hot_run_suspected=hot_run_suspected,
            )
        ),
        # the contract line must be the LAST stdout line (the driver's
        # parser reads from the end; a buffered tail-flush after exit
        # reordered r12's capture) — flush it explicitly
        flush=True,
    )
    return 0


def contract_payload(
    *,
    timings: dict[str, float],
    sf: float | None,
    n_runs: int,
    total_serving: float,
    total_eval: float,
    load_avg: float,
    load_avg_5m: float,
    idle_host: bool,
    baseline_common_total: float | None,
    vs_idle_baseline_pct: float | None,
    hot_run_suspected: bool,
) -> dict:
    """The driver-contract JSON line, and ONLY it — every other
    measurement goes to the stderr diagnostics line.  Factored out so
    tests/test_bench_contract.py can pin the serialized length under the
    driver's tail capture."""
    return {
        "metric": "headline_query_total_runtime",
        "value": round(total_serving + total_eval, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": n_runs,
        # tier split: serving = per-batch production paths, eval =
        # acceptance gates with deliberate exhaustive truth sides
        # (registry.EVAL_TIERS; names in the stderr diagnostics line)
        "value_serving": total_serving,
        "value_eval": total_eval,
        "load_avg_at_start": load_avg,
        # 5-min average alongside the 1-min gate value: a burst that just
        # subsided shows low 1-min / high 5-min, so cross-round
        # comparisons can spot borderline-idle runs.  Sampled at
        # gate-pass time — sampling at print time would record the
        # bench's OWN 4-minute 32-thread load (the first dual-load run
        # read 0.08/4.51 that way on a provably idle host)
        "load_avg_5m_at_start": load_avg_5m,
        "idle_host": idle_host,
        # the gate's threshold and the margin it passed with — a
        # near-zero margin means the numbers likely ran ~5-10% hot vs a
        # dual-idle host (r8: margin 0.23, ~6% hot)
        "idle_threshold": round(_idle_threshold(), 2),
        "idle_margin": round(
            _idle_threshold()
            - max(load_avg, load_avg_5m / LOAD5_IDLE_FRACTION),
            2,
        ),
        # idle-baseline adjudication fields (r10 verdict task 2): warm
        # common-query total of the last truly-idle run, this run's %
        # deviation from it, and the composite flag — set when the gate
        # failed OR the warm total runs >10% over the idle baseline,
        # i.e. "treat these numbers as hot"
        "idle_baseline_common_total": baseline_common_total,
        "vs_idle_baseline_pct": vs_idle_baseline_pct,
        "hot_run_suspected": hot_run_suspected,
        # kernel + CPU-model hash: totals are only comparable within one
        # host epoch (r11 verdict task 7).  When the stderr diagnostics'
        # idle_baseline_host_epoch differs from host_epoch, the
        # vs_idle_baseline_pct deviation is cross-epoch and NOT evidence
        # of a plan regression.
        "host_epoch": _host_epoch(),
    }


if __name__ == "__main__":
    raise SystemExit(main())
