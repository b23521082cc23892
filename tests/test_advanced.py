"""Invariant checks for operators/advanced.py at sf0.001 (full oracle
coverage lives in tools/check_oracles.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.catalog import table
from airflow_postgres_to_s3_pipeline_spark.operators import advanced


def test_scalar_subquery_threshold_bound(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice")).collect()[0][0]
    rows = advanced.scalar_subquery_threshold(spark, sf_dir).collect()
    assert rows, "threshold filter should keep the max row itself"
    assert all(r["o_totalprice"] > 0.97 * mx for r in rows)


def test_correlated_agg_subquery_semantics(spark, sf_dir):
    rows = advanced.correlated_agg_subquery(spark, sf_dir).limit(50).collect()
    for r in rows:
        assert (r["last_ship"] - r["o_orderdate"]).days >= 60


def test_exact_percentiles_ordered(spark, sf_dir):
    for r in advanced.exact_percentiles(spark, sf_dir).collect():
        assert r["p25"] <= r["p50"] <= r["p75"]
        assert 1.0 <= r["p25"] and r["p75"] <= 50.0


def test_salted_join_matches_unsalted(spark, sf_dir):
    """The salted plan must be semantics-preserving vs the plain join."""
    salted = {
        r["p_brand"]: r["n_items"]
        for r in advanced.join_skew_salted(spark, sf_dir).collect()
    }
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    plain = {
        r["p_brand"]: r["n"]
        for r in l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert salted == plain


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    salted = {
        r["l_returnflag"]: (r["sum_qty"], r["n_rows"], r["max_price"])
        for r in advanced.salted_agg_hot_key(spark, sf_dir).collect()
    }
    plain = {
        r["l_returnflag"]: (r["sum_qty"], r["n_rows"], r["max_price"])
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,0)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .collect()
    }
    assert salted == plain


def test_window_lag_lead_delta(spark, sf_dir):
    rows = (
        advanced.window_lag_lead(spark, sf_dir)
        .filter(F.col("user_id") == 1)
        .orderBy("ts", "event_id")
        .collect()
    )
    assert rows[0]["prev_value"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["prev_value"] == prev["value"]
        assert cur["value_delta"] == cur["value"] - prev["value"]


def test_union_snapshots_total(spark, sf_dir):
    out = advanced.union_snapshots(spark, sf_dir)
    total = out.agg(F.sum("n_orders")).collect()[0][0]
    assert total == table(spark, sf_dir, "orders").count()


def test_timeseries_gapfill_dense_and_lossless(spark, sf_dir):
    from airflow_postgres_to_s3_pipeline_spark.operators import windows

    rows = windows.timeseries_gapfill(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["hour"], r["n_events"]))
    raw = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    raw_counts = {r["user_id"]: r["n"] for r in raw}
    for uid, series in by_user.items():
        series.sort()
        hours = [h for h, _ in series]
        # dense: consecutive hours, no gaps
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600
        # lossless: gap-filling adds zeros, never drops events
        assert sum(n for _, n in series) == raw_counts[uid]


def test_string_agg_sorted(spark, sf_dir):
    for r in advanced.string_agg_ordered(spark, sf_dir).collect():
        names = r["nations"].split(",")
        assert names == sorted(names)
        assert len(names) == r["n_nations"]


def test_mode_argmax_tie_breaks_deterministic(spark):
    """Planted ties: mode picks the lexicographically smallest value, argmax
    the smallest key — independent of partitioning (checked at 1 and 8
    partitions)."""
    rows = [
        # status A: 'x' and 'y' both appear twice -> mode must be 'x'
        ("A", "y", 10, 100.0), ("A", "y", 11, 100.0),
        ("A", "x", 12, 50.0), ("A", "x", 13, 50.0),
        # status A: orderkeys 10 and 11 tie on max price -> argmax key 10
    ]
    for n_parts in (1, 8):
        df = spark.createDataFrame(
            rows, ["o_orderstatus", "o_orderpriority", "o_orderkey", "o_totalprice"]
        ).repartition(n_parts)
        df.write.mode("overwrite").parquet("/tmp/_mode_argmax_probe/orders.parquet")
        out = advanced.mode_argmax(spark, "/tmp/_mode_argmax_probe").collect()
        assert len(out) == 1
        r = out[0]
        assert r["mode_priority"] == "x" and r["mode_count"] == 2
        assert r["top_orderkey"] == 10 and r["top_price"] == 100.0


def test_key_skew_profile_detects_planted_hot_key(spark, tmp_path):
    """A planted 50%-hot key must dominate the profile: top_key_share ~0.5
    and skew_ratio far above the uniform keys' ~1."""
    import pandas as pd

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced

    n = 2000
    rows = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(n), unit="s"),
            # first half all user 7 (the hot key), rest unique
            "user_id": [7] * (n // 2) + list(range(100, 100 + n // 2)),
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    )
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    prof = {
        r.key_col: r
        for r in advanced.key_skew_profile(spark, str(tmp_path)).collect()
    }
    u = prof["user_id"]
    assert u.top_key == "7"
    assert u.max_key_rows == n // 2
    assert abs(u.top_key_share - 0.5) < 1e-12
    assert u.skew_ratio > 100  # hot key vs the 1-row median key
    assert prof["event_type"].n_keys == 1


def test_key_skew_profile_empty_table_reports_zero_rows(spark, tmp_path):
    """An empty events table must still yield one profile row per key
    column, with zero counts and NULL top_key/p50 — never vanish (the
    cross-join-annihilation regression)."""
    import pandas as pd

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced

    empty = pd.DataFrame(
        {
            "event_id": pd.Series(dtype="int64"),
            "ts": pd.Series(dtype="datetime64[us]"),
            "user_id": pd.Series(dtype="int64"),
            "event_type": pd.Series(dtype="object"),
            "value": pd.Series(dtype="float64"),
            "props": pd.Series(dtype="object"),
        }
    )
    spark.createDataFrame(
        empty,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    rows = advanced.key_skew_profile(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.n_rows, r.n_keys, r.max_key_rows) == (0, 0, 0)
        assert r.top_key is None and r.p50_key_rows is None
        assert r.top_key_share is None and r.skew_ratio is None


def test_k_anonymity_check_counts_individuals_not_events(spark, tmp_path):
    """The k-measure is DISTINCT user_id: 5 purchases by 5 users are
    safe, 5 clicks by ONE user are a risky singleton-person group (the
    row-count-vs-individual-count trap), and a lone signup is risky."""
    import pandas as pd

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced

    base_ts = pd.Timestamp("2024-03-01 12:00:00")
    rows = []
    # 5 purchases by 5 DISTINCT users -> n_users == k, safe
    for i in range(5):
        rows.append((i, base_ts, 100 + i, "purchase", 10.0, "{}"))
    # 5 clicks by the SAME user -> 5 events but 1 individual, risky
    for i in range(5):
        rows.append((10 + i, base_ts, 42, "click", 10.0, "{}"))
    # 1 lone signup on another day -> singleton, risky
    rows.append((99, pd.Timestamp("2024-03-02 12:00:00"), 7, "signup", 10.0, "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    flagged = {
        r.event_type: r
        for r in advanced.k_anonymity_check(spark, str(tmp_path)).collect()
    }
    assert set(flagged) == {"click", "signup"}
    assert (flagged["click"].n_users, flagged["click"].n_events) == (1, 5)
    assert (flagged["signup"].n_users, flagged["signup"].n_events) == (1, 1)
    assert str(flagged["signup"].day) == "2024-03-02"


def test_price_histogram_constant_price_bins_to_zero(spark, tmp_path):
    """A degenerate corpus (every order the same price) must land in bin
    0 on both engines instead of throwing ANSI DIVIDE_BY_ZERO (Spark 4
    default) on the zero bin width — r9 review finding."""
    import duckdb

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced
    from airflow_postgres_to_s3_pipeline_spark.registry import ORACLES

    rows = [(i, 1, "O", 1234.56, "2024-01-05", "1-URGENT") for i in range(7)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    got = advanced.price_histogram(spark, str(tmp_path)).collect()
    assert [(r.bin_id, r.n_orders) for r in got] == [(0, 7)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{tmp_path}/orders.parquet/*.parquet'"
    )
    assert con.sql(ORACLES["price_histogram"]).fetchall() == [(0, 7)]


def test_key_skew_profile_null_key_tie_breaks_like_duckdb(spark, tmp_path):
    """A NULL key tying the hottest key must break the tie the same way
    on both engines: Spark default asc() is NULLS FIRST but DuckDB's ASC
    is NULLS LAST — the profiler now uses asc_nulls_last (r9 review)."""
    import pandas as pd

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced

    rows = pd.DataFrame(
        {
            "event_id": range(8),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(8), unit="s"),
            # 4 NULL-keyed rows tie 4 rows of user 3
            "user_id": pd.array(
                [None] * 4 + [3] * 4, dtype="Int64"
            ),
            "event_type": ["click"] * 8,
            "value": [1.0] * 8,
            "props": ["{}"] * 8,
        }
    )
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    prof = {
        r.key_col: r
        for r in advanced.key_skew_profile(spark, str(tmp_path)).collect()
    }
    assert prof["user_id"].top_key == "3"  # NULLS LAST, like DuckDB


def test_unpivot_metrics_drops_null_cells_like_duckdb(spark, tmp_path):
    """Spark's unpivot keeps NULL measure cells; DuckDB's UNPIVOT drops
    them — the operator filters to the DuckDB semantics so n_values
    agrees on corpora with NULL measures (r9 review)."""
    import duckdb

    from airflow_postgres_to_s3_pipeline_spark.operators import advanced
    from airflow_postgres_to_s3_pipeline_spark.registry import ORACLES

    rows = [
        (1, 1, 2.0, 100.0, 0.1, None),
        (1, 2, 3.0, None, 0.2, 0.05),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r.metric: r.n_values
        for r in advanced.unpivot_metrics(spark, str(tmp_path)).collect()
    }
    assert got == {
        "l_quantity": 2, "l_extendedprice": 1, "l_discount": 2, "l_tax": 1
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{tmp_path}/lineitem.parquet/*.parquet'"
    )
    want = {r[0]: r[1] for r in con.sql(ORACLES["unpivot_metrics"]).fetchall()}
    assert got == want


def test_frontier_order_chain_matches_recursive_tier(spark, sf_dir):
    """Tier equivalence: the iterative frontier walk (scale tier, no
    recursion row limit) must be byte-for-byte the WITH RECURSIVE entry
    (SQL-surface tier) — same rows, same chain lengths, bit-identical
    running-sum doubles (both fold quantities in linenumber order)."""
    rec = advanced.recursive_order_chain(spark, sf_dir)
    fro = advanced.frontier_order_chain(spark, sf_dir)
    assert [f.name for f in fro.schema.fields] == [
        f.name for f in rec.schema.fields
    ]
    key = lambda r: r["l_orderkey"]  # noqa: E731
    a = sorted(rec.collect(), key=key)
    b = sorted(fro.collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra["l_orderkey"] == rb["l_orderkey"]
        assert ra["chain_len"] == rb["chain_len"]
        # bit-exact: same addition order => identical IEEE doubles
        assert repr(ra["total_qty"]) == repr(rb["total_qty"])


def _chain_tiers_on(spark, sf_dir, tmp_path, rows):
    """Both chain tiers over a tiny ``lineitem`` written to ``tmp_path``
    (the other tables are links to ``sf_dir``: the SQL tier registers
    every view).  A new session keeps those views out of the shared one."""
    import os

    from airflow_postgres_to_s3_pipeline_spark.catalog import TABLES

    for name in TABLES:
        if name != "lineitem":
            os.symlink(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_quantity double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    session = spark.newSession()
    return [
        sorted(tuple(r) for r in tier(session, str(tmp_path)).collect())
        for tier in (advanced.recursive_order_chain, advanced.frontier_order_chain)
    ]


def test_frontier_order_chain_empty_lineitem(spark, sf_dir, tmp_path):
    """No lineitem rows: the walk stops on its first (empty) step and both
    tiers return no chains."""
    rec, fro = _chain_tiers_on(spark, sf_dir, tmp_path, [])
    assert rec == fro == []


def test_frontier_order_chain_stops_at_linenumber_gap(spark, sf_dir, tmp_path):
    """An order whose line numbers skip one (1, 2, 4) chains only up to
    the gap, while a longer gap-free order keeps the walk going past it;
    an order with no line 1 has no chain.  Both tiers agree."""
    rows = [
        (1, 1, 1.0), (1, 2, 2.0), (1, 4, 4.0),
        (2, 1, 10.0), (2, 2, 20.0), (2, 3, 30.0), (2, 4, 40.0),
        (3, 2, 5.0),
    ]
    rec, fro = _chain_tiers_on(spark, sf_dir, tmp_path, rows)
    assert rec == fro == [(1, 2, 3.0), (2, 4, 100.0)]


def test_recursive_entries_do_not_mutate_session_conf(spark, sf_dir):
    """r12 ADVICE: the WITH RECURSIVE operators must not set session conf
    themselves — the raised cteRecursionRowLimit comes from the session
    factory (session.CTE_ROW_LIMIT via get_spark/tune_runtime) so the
    guardrail policy is centralized, not a hidden per-operator side
    effect.  Pin by poisoning the conf and checking the operator leaves
    it alone (tune_runtime's memo has already run for this session)."""
    from airflow_postgres_to_s3_pipeline_spark.operators import sql_surface
    from airflow_postgres_to_s3_pipeline_spark.session import CTE_ROW_LIMIT

    sentinel = str(CTE_ROW_LIMIT + 7)
    prev = spark.conf.get("spark.sql.cteRecursionRowLimit")
    try:
        spark.conf.set("spark.sql.cteRecursionRowLimit", sentinel)
        advanced.recursive_order_chain(spark, sf_dir).count()
        sql_surface.recursive_cte_order_chains(spark, sf_dir).count()
        assert spark.conf.get("spark.sql.cteRecursionRowLimit") == sentinel
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", prev)
