"""Property-based invariants (hypothesis): determinism under partitioning,
skew-rewrite equivalence, and component clustering vs a reference model.

Each example drives real Spark jobs, so example counts are kept small; the
properties (not the sample size) carry the guarantee: these are invariants
for ANY input, which fixed fixtures can't claim.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.functions.numeric import dsum
from airflow_postgres_to_s3_pipeline_spark.operators import skew
from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
    connected_components,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# 2-decimal "money" doubles — the column shape dsum exists for.
money = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
).map(float)


@given(values=st.lists(money, min_size=1, max_size=200), parts=st.integers(1, 16))
@settings(**_SETTINGS)
def test_dsum_partition_invariant(spark, values, parts):
    """dsum must equal the exact decimal total at ANY partition count."""
    df = spark.createDataFrame([(v,) for v in values], ["x"]).repartition(parts)
    got = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    expected = float(sum(Decimal(f"{v:.2f}") for v in values))
    assert got == expected


@given(
    keyed=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=120,
    ),
    n_salts=st.integers(2, 8),
)
@settings(**_SETTINGS)
def test_salted_aggregate_equivalence(spark, keyed, n_salts):
    """Salted two-phase aggregation == plain groupBy for any data/salt count."""
    df = spark.createDataFrame(keyed, ["k", "v"])
    plain = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in skew.salted_aggregate(
            df,
            ["k"],
            {
                "n": lambda: F.count(F.lit(1)),
                "s": lambda: F.sum("v"),
                "mx": lambda: F.max("v"),
            },
            n_salts=n_salts,
            salt_source="v",
        ).collect()
    }
    assert salted == plain


@given(
    splits=st.lists(st.integers(1, 20), min_size=1, max_size=4),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_streaming_tumbling_equals_batch_any_split(spark, tmp_path_factory, splits):
    """Tumbling-window streaming aggregation must equal the batch result no
    matter how the input is split into micro-batch files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from airflow_postgres_to_s3_pipeline_spark.streaming import windows as sw

    total = sum(splits)
    t0 = 1_700_000_000_000_000_000
    rows = [
        (i, t0 + i * 17 * 60 * 10**9, i % 3, "click" if i % 2 else "view",
         float(i), "{}")
        for i in range(total)
    ]
    src = str(tmp_path_factory.mktemp("split_src"))
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.int64()),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    start = 0
    for f_idx, n in enumerate(splits):
        chunk = rows[start:start + n]
        start += n
        cols = list(zip(*chunk))
        pq.write_table(
            pa.table(dict(zip(schema.names, cols)), schema=schema),
            os.path.join(src, f"events-{f_idx}.parquet"),
        )

    stream = sw.tumbling_counts(
        sw.read_events_stream(spark, src, max_files_per_trigger=1)
    )
    got = sorted(
        map(tuple, sw.run_stream_to_memory(stream, spark, "complete").collect())
    )
    from airflow_postgres_to_s3_pipeline_spark.catalog import normalize_events_ts

    batch = sorted(
        map(
            tuple,
            normalize_events_ts(spark.read.parquet(src))
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start"), F.col("w.end"), "event_type", "n_events"
            )
            .collect(),
        )
    )
    assert got == batch


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_connected_components_random_graphs(spark, edges):
    """Min-label propagation == union-find on arbitrary graphs over 25 nodes."""
    nodes = list(range(25))
    parent = dict.fromkeys(nodes)
    for n in nodes:
        parent[n] = n

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected_root = {}
    members: dict[int, list[int]] = {}
    for n in nodes:
        members.setdefault(find(n), []).append(n)
    for root, ms in members.items():
        canonical = min(ms)
        for m in ms:
            expected_root[m] = canonical

    nodes_df = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
    pairs_df = spark.createDataFrame(
        edges or [(0, 0)], ["doc_a", "doc_b"]
    ).filter(F.col("doc_a") != F.col("doc_b"))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs_df, nodes_df).collect()
    }
    assert got == expected_root


# lowercase-alnum docs so normalization is the identity — the guarantee
# statement is about the normalized stream
_alnum_text = st.text(alphabet="abcdefghij0123456789", min_size=0, max_size=60)


@given(
    shared=st.text(
        alphabet="qrstuvwxyz",  # disjoint alphabet from the padding
        min_size=11, max_size=25,  # >= WINNOW_K + WINNOW_W - 1
    ),
    pad_a=_alnum_text,
    pad_b=_alnum_text,
)
@settings(**_SETTINGS)
def test_winnowing_guarantee_property(spark, shared, pad_a, pad_b):
    """For ANY shared substring of >= k+w-1 normalized chars, the two
    documents share at least one selected fingerprint (Schleimer-Mount-
    Aiken theorem 1) — the planted-pair fixture generalized to random
    paddings and shared strings."""
    from airflow_postgres_to_s3_pipeline_spark.operators.text import (
        winnow_selected,
    )

    d = spark.createDataFrame(
        [(0, pad_a + shared + pad_a), (1, pad_b + shared + pad_b)],
        "doc_id: long, text: string",
    )
    sel = {r["doc_id"]: set(r["sel"]) for r in winnow_selected(d).collect()}
    assert sel[0] & sel[1], (
        f"guarantee violated for shared={shared!r} pads="
        f"({pad_a!r}, {pad_b!r})"
    )


# ---------------------------------------------------------------------------
# Entity-resolution blocking: the honest general property.  Multi-pass
# token blocking is NOT universally 100%-recall (a pair can differ in BOTH
# tokens with total edit distance <= 2 and slip every pass); what IS
# guaranteed, for any vocabulary: (a) every blocked match is a true match
# with the exact distance, and (b) every missed true pair differs in BOTH
# blocking tokens — single-token-divergent pairs are always caught.
# ---------------------------------------------------------------------------

_token = st.text(alphabet="abcd", min_size=1, max_size=4)


@given(
    vocab=st.lists(
        st.tuples(_token, _token).map(lambda t: f"{t[0]} {t[1]}"),
        min_size=2,
        max_size=24,
        unique=True,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_blocking_misses_only_both_token_divergent_pairs(
    spark, tmp_path_factory, vocab
):
    import uuid

    from airflow_postgres_to_s3_pipeline_spark.operators import entity

    d = str(tmp_path_factory.mktemp(f"er_{uuid.uuid4().hex[:8]}"))
    spark.createDataFrame(
        [(i, name) for i, name in enumerate(vocab)],
        "p_partkey long, p_name string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/part.parquet")

    blocked = {
        (r.name_a, r.name_b): r.edit_dist
        for r in entity.fuzzy_match_parts(spark, d).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    truth = {}
    names = sorted(set(vocab))
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            dist = lev(a, b)
            if 1 <= dist <= entity.MAX_DIST:
                truth[(a, b)] = dist

    # (a) soundness: exact subset with exact distances
    assert set(blocked) <= set(truth)
    for pair, dist in blocked.items():
        assert truth[pair] == dist
    # (b) completeness modulo the documented gap: a missed pair must
    # differ in BOTH tokens
    for (a, b) in set(truth) - set(blocked):
        ta, tb = a.split(" ", 1), b.split(" ", 1)
        assert ta[0] != tb[0] and ta[1] != tb[1], (
            f"pair {(a, b)} shares a blocking token but was missed"
        )


# Random word-sequence documents over a small vocabulary — enough shared
# 3-grams to produce real band collisions at every config.
_doc_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=3,
    max_size=12,
)


@given(docs=st.lists(_doc_words, min_size=2, max_size=12))
@settings(**_SETTINGS)
def test_lsh_band_refinement_subset_property(spark, docs):
    """Splitting every band in half can only ADD collisions: with aligned
    band boundaries (b divides b'), a pair agreeing on a full coarse band
    agrees on both its halves, so cand(b) ⊆ cand(b') for b < b' on ANY
    corpus — the structural fact behind lsh_band_sweep's monotone
    candidate counts, checked here on arbitrary documents rather than the
    fixture corpus."""
    from airflow_postgres_to_s3_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_md5,
        shingle_arrays,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["doc_id", "text"]
    )
    sh = shingle_arrays(df, "text", "doc_id", 3)
    sig = minhash_signatures_md5(sh, 32).persist()
    try:
        pair_sets = {}
        for bands in (2, 4, 8, 16):
            pair_sets[bands] = {
                (r.doc_a, r.doc_b)
                for r in lsh_candidate_pairs(sig, 32, bands).collect()
            }
        assert pair_sets[2] <= pair_sets[4] <= pair_sets[8] <= pair_sets[16]
    finally:
        sig.unpersist()


@given(
    seeds=st.lists(st.integers(0, 9), min_size=4, max_size=40),
    n_clones=st.integers(0, 12),
    cap=st.integers(2, 8),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lsh_bucket_cap_subset_laws(spark, seeds, n_clones, cap):
    """Cap laws that must hold on ANY corpus and ANY cap value:
    (1) capped candidates are a subset of uncapped candidates;
    (2) a cap at least the corpus's doc count changes nothing (no bucket
        can exceed it);
    (3) verified pairs of the capped set are a subset of the uncapped
        verified pairs (the cap can only lose recall, never invent
        pairs)."""
    from airflow_postgres_to_s3_pipeline_spark.operators import dedup

    words = ["alpha", "bravo", "charlie", "delta", "echo",
             "foxtrot", "golf", "hotel", "india", "juliet"]
    rows = []
    for i, s in enumerate(seeds):
        text = " ".join(words[(s + j) % 10] for j in range(12))
        rows.append((i, text))
    # clones of doc 0 manufacture an over-cap bucket when n_clones > cap
    for c in range(n_clones):
        rows.append((1000 + c, rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures_md5(dedup.shingle_arrays(df))

    def pairs(max_bucket):
        return {
            (r.doc_a, r.doc_b)
            for r in dedup.lsh_candidate_pairs(
                sig, max_bucket=max_bucket
            ).collect()
        }

    unc = pairs(0)
    capped = pairs(cap)
    assert capped <= unc
    assert pairs(len(rows)) == unc
    sh = dedup.shingle_arrays(df)
    ver_unc = {
        (r.doc_a, r.doc_b)
        for r in dedup.verify_jaccard(
            dedup.lsh_candidate_pairs(sig, max_bucket=0),
            sh, 0.6,
        ).collect()
    }
    ver_cap = {
        (r.doc_a, r.doc_b)
        for r in dedup.verify_jaccard(
            dedup.lsh_candidate_pairs(sig, max_bucket=cap),
            sh, 0.6,
        ).collect()
    }
    assert ver_cap <= ver_unc
