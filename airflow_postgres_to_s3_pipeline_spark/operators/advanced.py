"""Advanced relational surface: subqueries, exact percentiles, skew-safe
plans, analytic lag/lead, snapshot union, conditional and ordered-string
aggregates.

Extends SURVEY.md §2B (E8, E11-E12, E14) and exercises the skew toolkit
(operators/skew.py) under a plain-SQL oracle: the salted plans must produce
byte-identical results to the unsalted SQL, proving the rewrite is pure.

The reference's operator accepts arbitrary SQL (
plugins/custom_operator/postgres_to_s3_operator.py:21,42), so its capability
surface includes scalar/correlated subqueries executed by Postgres; here they
are expressed as DataFrame compositions (broadcast scalar join / aggregated
semi-join) — the shapes Catalyst itself rewrites subqueries into.

Scale notes (100 TB):
- scalar_subquery_threshold: the aggregate side is a 1-row broadcast; the
  fact scan keeps its pushed-down filter — no shuffle.
- correlated_agg_subquery: the correlated aggregate becomes a shuffle
  group-by on the correlation key then an equi-join — the same plan a
  decorrelating optimizer emits; AQE can still broadcast the aggregated side
  when it turns out small.
- join_skew_salted / salted_agg_hot_key: explicit salting caps any single
  reducer at ~1/n_salts of the hottest key; results provably identical to
  the unsalted plan via the oracle hash.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_postgres_to_s3_pipeline_spark.cache import checkpoint, tracked_persist
from airflow_postgres_to_s3_pipeline_spark.catalog import table
from airflow_postgres_to_s3_pipeline_spark.functions.numeric import dsum
from airflow_postgres_to_s3_pipeline_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_left,
)

ORACLES: dict[str, str] = {}


def _oracle(name: str, sql: str):
    ORACLES[name] = sql


# ---------------------------------------------------------------------------
# Scalar subquery: orders within 3% of the global max price
# ---------------------------------------------------------------------------

def scalar_subquery_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE o_totalprice > 0.97 * (SELECT MAX(o_totalprice) FROM orders).

    The scalar aggregate is a 1-row DataFrame broadcast into the filter —
    at 100 TB the fact side never shuffles for it.  (0.97 * max is a single
    IEEE multiply, bit-identical on both engines; an AVG threshold would be
    summation-order-dependent and is deliberately avoided.)
    """
    o = table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("_mx"))
    return (
        o.crossJoin(F.broadcast(mx))
        .filter(F.col("o_totalprice") > 0.97 * F.col("_mx"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_oracle(
    "scalar_subquery_threshold",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 0.97 * (SELECT MAX(o_totalprice) FROM orders)
    """,
)


# ---------------------------------------------------------------------------
# Correlated aggregate subquery (decorrelated form): slow-shipping orders
# ---------------------------------------------------------------------------

def correlated_agg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose latest lineitem ships > 60 days after the order date.

    The correlated ``(SELECT MAX(l_shipdate) WHERE l_orderkey = o_orderkey)``
    is expressed pre-decorrelated: group lineitem by the correlation key,
    then equi-join — one shuffle each side on l_orderkey/o_orderkey, and AQE
    may broadcast the aggregated side if it is small after the filter.
    """
    o = table(spark, sf_dir, "orders")
    last_ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    return (
        o.join(last_ship, o.o_orderkey == last_ship.l_orderkey)
        .filter(F.col("last_ship") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("o_orderkey", "o_orderdate", "last_ship")
    )


_oracle(
    "correlated_agg_subquery",
    """
    SELECT o_orderkey, o_orderdate,
           (SELECT MAX(l_shipdate) FROM lineitem
             WHERE l_orderkey = o_orderkey) AS last_ship
    FROM orders
    WHERE (SELECT MAX(l_shipdate) FROM lineitem
            WHERE l_orderkey = o_orderkey) > o_orderdate + INTERVAL 60 DAY
    """,
)


# ---------------------------------------------------------------------------
# Exact percentiles (percentile_cont semantics) per group
# ---------------------------------------------------------------------------

def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of l_quantity per return flag.

    ``F.percentile`` is Spark's exact linear-interpolation percentile
    (percentile_cont semantics).  l_quantity is integer-valued, so the
    interpolation a + f*(b-a) at f in {0,.25,.5,.75} is exact in binary —
    no cross-engine tie risk.  Exact percentile requires a per-group sort;
    at 100 TB prefer approx_percentile (see relational.approx_percentiles)
    unless exactness is contractual.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
            F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
            F.count("*").alias("n_rows"),
        )
    )


_oracle(
    "exact_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# Skew-safe salted join, oracle-checked against the unsalted SQL
# ---------------------------------------------------------------------------

def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per brand via an explicitly salted fact-dim join.

    part is replicated n_salts ways and lineitem salted, so a hot partkey
    spreads over 8 reducers (operators/skew.py).  The oracle is the plain
    unsalted join — hash equality proves the salting rewrite is semantics-
    preserving.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").withColumnRenamed("p_partkey", "l_partkey")
    joined = salted_broadcast_left(l, p, key="l_partkey", n_salts=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 6)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_oracle(
    "join_skew_salted",
    """
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the MEASURE step before anyone
    reaches for salting or AQE skew-join: per candidate shuffle key, how
    many rows land on the hottest key, what share of the table that is,
    and how it compares to the median key (``skew_ratio`` =
    max-key-rows / p50-key-rows — near 1 means uniform, orders of
    magnitude means the hot partition WILL straggle a 1000-executor
    stage).  Profiles both of events' realistic join keys: ``user_id``
    (high-cardinality, roughly uniform) and ``event_type``
    (low-cardinality — every key is hot).

    This closes the skew loop the engine already ships the other two
    thirds of: measure (here) -> decide -> apply (``join_skew_salted`` /
    ``salted_agg_hot_key`` / the AQE skew-split quantified in
    docs/SCALE.md).  One map-side-combined count per key column plus a
    1-row aggregate; the only interpolated value (p50 over integer key
    counts) is exact in binary on both engines (the exact_percentiles
    rule), so the whole profile carries a full value-hash oracle.
    """
    e = table(spark, sf_dir, "events")

    def profile(col: str) -> DataFrame:
        counts = e.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        # asc_nulls_last matches DuckDB's default ASC NULLS LAST — a NULL
        # key (the classic hot key this profiler exists to find) tying
        # the max count must break the same way on both engines
        top = (
            counts.orderBy(F.col("cnt").desc(), F.col(col).asc_nulls_last())
            .limit(1)
            .select(F.col(col).cast("string").alias("top_key"))
        )
        stats = counts.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.coalesce(F.max("cnt"), F.lit(0)).cast("long")
            .alias("max_key_rows"),
            F.percentile("cnt", F.lit(0.5)).alias("p50_key_rows"),
        )
        # LEFT join on TRUE (not crossJoin): on an EMPTY table `top` has
        # no row, and a cross join would annihilate the always-1-row
        # stats aggregate — the profile must report explicit zeros (NULL
        # top_key/p50), mirroring the oracle's scalar subquery
        joined = stats.join(F.broadcast(top), F.lit(True), "left")
        return joined.select(
            F.lit(col).alias("key_col"),
            "n_rows",
            "n_keys",
            "top_key",
            "max_key_rows",
            F.when(
                F.col("n_rows") > 0,
                F.col("max_key_rows") / F.col("n_rows"),
            ).alias("top_key_share"),
            "p50_key_rows",
            F.when(
                F.col("p50_key_rows") > 0,
                F.col("max_key_rows") / F.col("p50_key_rows"),
            ).alias("skew_ratio"),
        )

    return profile("user_id").unionByName(profile("event_type"))


def _key_skew_profile_oracle() -> str:
    def one(col: str) -> str:
        return f"""
        SELECT '{col}' AS key_col,
               CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               (SELECT CAST({col} AS VARCHAR) FROM counts_{col}
                ORDER BY cnt DESC, {col} ASC LIMIT 1) AS top_key,
               CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_key_rows,
               CASE WHEN COALESCE(SUM(cnt), 0) > 0
                    THEN CAST(MAX(cnt) AS BIGINT) / CAST(SUM(cnt) AS BIGINT)
               END AS top_key_share,
               quantile_cont(cnt, 0.5) AS p50_key_rows,
               CASE WHEN quantile_cont(cnt, 0.5) > 0
                    THEN CAST(MAX(cnt) AS BIGINT) / quantile_cont(cnt, 0.5)
               END AS skew_ratio
        FROM counts_{col}"""

    return f"""
    WITH counts_user_id AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), counts_event_type AS (
        SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
    )
    {one("user_id")}
    UNION ALL
    {one("event_type")}
    """


_oracle("key_skew_profile", _key_skew_profile_oracle())


def salted_agg_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a 3-distinct-value key (max skew).

    l_returnflag has ~3 values over the whole fact table — the worst case
    for a single-phase groupBy at scale.  salted_aggregate partial-aggregates
    under (key, salt) then merges; quantity partials are integer-valued so
    the double merge is exact in any order.
    """
    l = table(spark, sf_dir, "lineitem")
    return salted_aggregate(
        l,
        ["l_returnflag"],
        {
            "sum_qty": lambda: dsum("l_quantity", 0),
            "n_rows": lambda: F.count("*"),
            "max_price": lambda: F.max("l_extendedprice"),
        },
        n_salts=16,
        salt_source="l_orderkey",
    )


_oracle(
    "salted_agg_hot_key",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,0))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# E12: lag/lead analytic windows over the event stream
# ---------------------------------------------------------------------------

def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas: previous value, next event type, value change.

    One shuffle on user_id; the (ts, event_id) tiebreak makes row order —
    and therefore lag/lead — fully deterministic.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("value_delta"),
    )


_oracle(
    "window_lag_lead",
    """
    SELECT user_id, event_id, ts, value,
           lag(value, 1)      OVER w AS prev_value,
           lead(event_type, 1) OVER w AS next_type,
           value - lag(value, 1) OVER w AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


# ---------------------------------------------------------------------------
# U1 parity: union-all of snapshot slices (the reference's 11-file loop)
# ---------------------------------------------------------------------------

def union_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union two batch slices then aggregate — the reference's snapshot-loop
    load (dags/airbnb_postgres_to_s3.py:91-92) as a single unionByName job.

    A multi-path ``spark.read`` is the zero-cost equivalent at scale; union
    of DataFrames is a no-shuffle narrow op either way.
    """
    o = table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    late = o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    return (
        early.unionByName(late)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


_oracle(
    "union_snapshots",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
    FROM (
        SELECT * FROM orders WHERE o_orderdate <  TIMESTAMP '1996-01-01'
        UNION ALL
        SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    )
    GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# Full Spark SQL entry point (the reference operator's arbitrary-SQL surface)
# ---------------------------------------------------------------------------

def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape via ``spark.sql`` over registered views — the
    reference's PostgresToS3Operator accepts arbitrary SQL
    (plugins/custom_operator/postgres_to_s3_operator.py:21,42); this is the
    engine's equivalent full-SQL path (same Catalyst plan as the DataFrame
    API, so every pushdown/broadcast property carries over)."""
    from airflow_postgres_to_s3_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders    ON c_custkey = o_custkey
        JOIN lineitem  ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate  > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
        """
    )


_oracle(
    "sql_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)


def revenue_change_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the fully-pushable filter-and-sum — every predicate
    reaches the parquet scan (PushedFilters), the aggregate is a single
    map-side-combined reduce to one row."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6)
            .alias("revenue_delta"),
            F.count("*").alias("n_items"),
        )
    )


_oracle(
    "revenue_change_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,6)))
                AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late-shipping lineitem,
    counted by priority — EXISTS becomes a left-semi join (no row
    duplication, the fact side streams once)."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    late_orders = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late_orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_oracle(
    "order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                   WHERE l_orderkey = o_orderkey
                     AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, including
    zero-order customers — left outer join, per-customer count, then a
    second (tiny) group-by on the count itself."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


_oracle(
    "customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS n_customers
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per month — conditional sum over
    a broadcast dim join, ratio of two exact-decimal sums (the division is
    a single double op, bit-identical on both engines)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    promo_rev = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(27,6)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            F.to_date(F.date_trunc("month", "l_shipdate")).alias("ship_month")
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_oracle(
    "promo_revenue_share",
    """
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))
                        ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                 AS DECIMAL(27,6))) AS DOUBLE) AS promo_share_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY date_trunc('month', l_shipdate)
    """,
)


def supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type) for
    mid-size parts, excluding one brand — lineitem serves as the
    part-supplier link (the schema has no partsupp table)."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").between(10, 40)
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_oracle(
    "supplier_variety",
    """
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 10 AND 40
    GROUP BY p_brand, p_type
    """,
)


# ---------------------------------------------------------------------------
# Event funnel: signup -> purchase conversion per user
# ---------------------------------------------------------------------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel over the event stream: users whose first signup is
    later followed by a purchase, with time-to-convert.

    One shuffle on user_id for the min-timestamp aggregate; the funnel
    condition is a per-user comparison of two first-event times — the shape
    product analytics runs at any scale.
    """
    e = table(spark, sf_dir, "events")
    firsts = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            .alias("first_signup"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            .alias("first_purchase"),
        )
    )
    return (
        firsts.filter(
            F.col("first_signup").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup"))
        )
        .select(
            "user_id",
            "first_signup",
            "first_purchase",
            (
                F.col("first_purchase").cast("double")
                - F.col("first_signup").cast("double")
            ).alias("seconds_to_convert"),
        )
    )


_oracle(
    "funnel_conversion",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS first_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events
        WHERE event_type IN ('signup', 'purchase')
        GROUP BY user_id
    )
    SELECT user_id, first_signup, first_purchase,
           epoch(first_purchase) - epoch(first_signup) AS seconds_to_convert
    FROM firsts
    WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase > first_signup
    """,
)


# ---------------------------------------------------------------------------
# MERGE/upsert without a table format: full-outer join + coalesce
# ---------------------------------------------------------------------------

def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE: apply an updates batch onto a target snapshot.

    ``MERGE INTO`` needs a transactional table format; the engine-level
    equivalent is a keyed full-outer join + per-column coalesce: matched
    rows take the update, unmatched keep the target, insert-only rows come
    from the update side.  One shuffle on the merge key; with both sides
    bucketed on the key (sources/sinks.py) even that shuffle disappears.
    The updates batch here is derived (open orders get a 10% price cut +
    'MERGED' status) so the op is oracle-checkable on static data.
    """
    o = table(spark, sf_dir, "orders")
    target = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            F.lit("MERGED").alias("u_status"),
            (F.col("o_totalprice") * 0.9).alias("u_totalprice"),
        )
    )
    return (
        target.join(updates, "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.coalesce("u_status", "o_orderstatus").alias("o_orderstatus"),
            F.coalesce("u_totalprice", "o_totalprice").alias("o_totalprice"),
        )
    )


SCD2_CUTOFF = "1998-01-01"
SCD2_EPOCH = "1992-01-01"


def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension apply: close out changed rows with a
    validity end, append the new version, keep history.

    ``merge_upsert`` is the SCD1 (overwrite) tier; warehouses that need
    AS-OF queries keep SCD2 instead — every dimension row carries
    [valid_from, valid_to) and an is_current flag.  The change batch here is
    each customer's LATEST post-cutoff order (deterministic argmax via a
    lexicographic struct max on (orderdate, orderkey)), whose totalprice
    becomes the new tracked balance.

    Scale shape: one equi-join of the dimension against the change batch
    (AQE picks broadcast when the batch is small — the common case: daily
    changes are a sliver of the dimension) plus a union; history grows by
    exactly one row per actual change, and the whole apply is a single pass
    with no windows over the dimension.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    latest = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(SCD2_CUTOFF).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_totalprice")
            ).alias("m")
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("m.o_orderdate").alias("change_ts"),
            F.col("m.o_totalprice").alias("new_balance"),
        )
    )
    joined = c.join(latest, "c_custkey", "left")
    old_rows = joined.select(
        "c_custkey",
        F.col("c_acctbal").alias("balance"),
        F.lit(SCD2_EPOCH).cast("timestamp").alias("valid_from"),
        F.col("change_ts").alias("valid_to"),
        F.col("change_ts").isNull().alias("is_current"),
    )
    new_rows = joined.filter(F.col("change_ts").isNotNull()).select(
        "c_custkey",
        F.col("new_balance").alias("balance"),
        F.col("change_ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return old_rows.unionByName(new_rows)


def _scd2_hist_cte() -> str:
    """The SCD2 history as a shared ``latest``/``hist`` CTE chain —
    single-sourced so the scd2_apply oracle and every oracle that
    composes on the history (orders_asof_dimension) track the same
    semantics; the Spark sides already compose (asof calls
    ``scd2_apply``), and a duplicated oracle text is exactly where a
    cutoff/tie-break change would silently drift (r9 review)."""
    return f"""latest AS (
        SELECT o_custkey AS c_custkey,
               o_orderdate AS change_ts,
               o_totalprice AS new_balance
        FROM (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC
                   ) AS rn
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '{SCD2_CUTOFF}'
        )
        WHERE rn = 1
    ), hist AS (
        SELECT c.c_custkey,
               c.c_acctbal AS balance,
               TIMESTAMP '{SCD2_EPOCH}' AS valid_from,
               l.change_ts AS valid_to,
               l.change_ts IS NULL AS is_current
        FROM customer c LEFT JOIN latest l USING (c_custkey)
        UNION ALL
        SELECT c.c_custkey,
               l.new_balance,
               l.change_ts,
               CAST(NULL AS TIMESTAMP),
               TRUE
        FROM customer c JOIN latest l USING (c_custkey)
    )"""


_oracle(
    "scd2_apply",
    f"""
    WITH {_scd2_hist_cte()}
    SELECT c_custkey, balance, valid_from, valid_to, is_current FROM hist
    """,
)


_oracle(
    "merge_upsert",
    """
    WITH updates AS (
        SELECT o_orderkey, 'MERGED' AS u_status,
               o_totalprice * 0.9 AS u_totalprice
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT t.o_orderkey,
           COALESCE(u.u_status, t.o_orderstatus) AS o_orderstatus,
           COALESCE(u.u_totalprice, t.o_totalprice) AS o_totalprice
    FROM orders t FULL OUTER JOIN updates u USING (o_orderkey)
    """,
)


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: classify rows across two batch versions as
    added / removed / changed / unchanged — one full-outer join on the key,
    change detection via null-safe value comparison.

    The snapshots are derived deterministically from orders (each side drops
    a different modular key slice; the new side carries a 10% price bump on
    open orders) so the op is oracle-checkable on static data.  At
    scale both snapshots are partitioned tables and the join shuffles once
    on the key — or zero times when both are bucketed on it.
    """
    o = table(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "O", F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    oldk = old.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    ).filter(F.pmod(F.col("o_orderkey"), 100) != 0)
    newk = new.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    ).filter(F.pmod(F.col("o_orderkey"), 97) != 0)
    joined = oldk.join(newk, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_status").isNull(), F.lit("added"))
        .when(F.col("new_status").isNull(), F.lit("removed"))
        .when(
            F.col("old_price").eqNullSafe(F.col("new_price"))
            & F.col("old_status").eqNullSafe(F.col("new_status")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(change.alias("change_type")).groupBy(
        "change_type"
    ).agg(F.count(F.lit(1)).alias("n_rows"))


_oracle(
    "snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus AS old_status,
               o_totalprice AS old_price
        FROM orders WHERE o_orderkey % 100 <> 0
    ), new AS (
        SELECT o_orderkey, o_orderstatus AS new_status,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS new_price
        FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT CASE
             WHEN old_status IS NULL THEN 'added'
             WHEN new_status IS NULL THEN 'removed'
             WHEN old_price IS NOT DISTINCT FROM new_price
                  AND old_status IS NOT DISTINCT FROM new_status
                  THEN 'unchanged'
             ELSE 'changed'
           END AS change_type,
           COUNT(*) AS n_rows
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Histogram / binning aggregate
# ---------------------------------------------------------------------------

def price_histogram(spark: SparkSession, sf_dir: str, n_bins: int = 20) -> DataFrame:
    """Fixed-width histogram of order totals: bin = floor((x-min)/width).

    The min/max come from a 1-row broadcast aggregate (metadata-scale); the
    binning itself is a map-side expression + one groupBy on the bin id —
    the single-pass-plus-tiny-prepass shape histograms need at 100 TB.
    floor keeps bin assignment deterministic; the max value is clamped into
    the last bin.
    """
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    # width == 0 (constant-price slice, single-row table) must not reach
    # the division: under Spark 4's default ANSI mode 0/0 THROWS, and in
    # non-ANSI mode the NULL would diverge from the oracle — both engines
    # put the degenerate corpus in bin 0 instead (r9 review).
    bin_id = F.when(
        width > 0,
        F.least(
            F.floor((F.col("o_totalprice") - F.col("_lo")) / width).cast("int"),
            F.lit(n_bins - 1),
        ),
    ).otherwise(F.lit(0))
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(bin_id.alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_oracle(
    "price_histogram",
    """
    WITH bounds AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    )
    SELECT CASE WHEN hi > lo
                THEN LEAST(CAST(FLOOR((o_totalprice - lo)
                                      / ((hi - lo) / 20)) AS INTEGER), 19)
                ELSE 0 END AS bin_id,
           COUNT(*) AS n_orders
    FROM orders, bounds
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Data-quality column profiling
# ---------------------------------------------------------------------------

def orders_asof_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: enrich each order with the SCD2
    dimension version valid AT its order date — the lookup that makes the
    type-2 history useful (feature stores call it the point-in-time-correct
    join; it prevents leaking future attribute values into training rows).

    Joins orders to ``scd2_apply``'s history on the customer key, keeping
    the version whose [valid_from, valid_to) interval covers o_orderdate.
    Plan: a hash equi-join on c_custkey with the interval predicate as a
    row-local post-join filter; the history is ~1-2x the dimension size,
    so AQE broadcasts it against the fact scan.  Validity intervals
    partition the timeline (pinned by tests/test_scd2.py), so each order
    matches exactly one version — count-preserving, asserted here by the
    oracle's row count.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    hist = scd2_apply(spark, sf_dir)
    return (
        o.join(hist, o.o_custkey == hist.c_custkey)
        .filter(
            (F.col("valid_from") <= F.col("o_orderdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") > F.col("o_orderdate"))
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.col("balance").alias("balance_at_order"),
            "is_current",
        )
    )


_oracle(
    "orders_asof_dimension",
    f"""
    WITH {_scd2_hist_cte()}
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           h.balance AS balance_at_order,
           h.is_current
    FROM orders o JOIN hist h ON o.o_custkey = h.c_custkey
    WHERE h.valid_from <= o.o_orderdate
      AND (h.valid_to IS NULL OR h.valid_to > o.o_orderdate)
    """,
)


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality audit: declared constraints -> one row per
    check with its violation count (completeness, ranges, key uniqueness,
    referential integrity).

    ``profile_table`` describes the data; this VALIDATES it — the gate a
    warehouse load (reference: the typed-Postgres ingest) runs before
    publishing a batch.  Scale shape: per-table checks fuse into ONE
    conditional-aggregate scan per table (no per-check re-scan); uniqueness
    is a keyed two-phase aggregate (sum of per-key excess, avoiding the
    Expand a COUNT DISTINCT alongside other aggregates would trigger);
    referential checks are LEFT ANTI equi-joins that AQE turns into
    broadcasts when the key side is small.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def check_row(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("n").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )

    viol = F.count(F.lit(1))
    lineitem_checks = l.agg(
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias(
            "null_orderkey"
        ),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("quantity_range"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("discount_range"),
    )
    order_checks = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
    )
    dup_orders = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n"))
    )
    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(viol.alias("n"))
    )
    orphan_lines = (
        l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(viol.alias("n"))
    )

    # one aggregate execution -> three check rows via explode (a second
    # .select on the agg frame would re-run the whole lineitem scan)
    l_rows = (
        lineitem_checks.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lineitem.l_orderkey_not_null").alias("check_name"),
                        F.col("null_orderkey").alias("n"),
                    ),
                    F.struct(
                        F.lit("lineitem.l_quantity_in_1_50").alias("check_name"),
                        F.col("quantity_range").alias("n"),
                    ),
                    F.struct(
                        F.lit("lineitem.l_discount_in_0_1").alias("check_name"),
                        F.col("discount_range").alias("n"),
                    ),
                )
            ).alias("p")
        )
        .select(
            F.col("p.check_name").alias("check_name"),
            F.col("p.n").alias("n_violations"),
            (F.col("p.n") == 0).alias("passed"),
        )
    )
    rows = [
        l_rows,
        check_row(
            "orders.o_totalprice_positive",
            order_checks.select(F.col("nonpositive_price").alias("n")),
        ),
        check_row("orders.o_orderkey_unique", dup_orders),
        check_row("orders.o_custkey_refs_customer", orphan_orders),
        check_row("lineitem.l_orderkey_refs_orders", orphan_lines),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_oracle(
    "dq_audit",
    """
    WITH l_checks AS (
        SELECT
            CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_orderkey,
            CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                          THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
            CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS discount_range
        FROM lineitem
    ),
    o_checks AS (
        SELECT CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nonpositive_price
        FROM orders
    ),
    dup_orders AS (
        SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
    ),
    orphan_orders AS (
        SELECT COUNT(*) AS n FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
    ),
    orphan_lines AS (
        SELECT COUNT(*) AS n FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'lineitem.l_orderkey_not_null' AS check_name,
           null_orderkey AS n_violations, null_orderkey = 0 AS passed
    FROM l_checks
    UNION ALL
    SELECT 'lineitem.l_quantity_in_1_50', quantity_range,
           quantity_range = 0 FROM l_checks
    UNION ALL
    SELECT 'lineitem.l_discount_in_0_1', discount_range,
           discount_range = 0 FROM l_checks
    UNION ALL
    SELECT 'orders.o_totalprice_positive', nonpositive_price,
           nonpositive_price = 0 FROM o_checks
    UNION ALL
    SELECT 'orders.o_orderkey_unique', n, n = 0 FROM dup_orders
    UNION ALL
    SELECT 'orders.o_custkey_refs_customer', n, n = 0 FROM orphan_orders
    UNION ALL
    SELECT 'lineitem.l_orderkey_refs_orders', n, n = 0 FROM orphan_lines
    """,
)


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-segment outlier audit: median + MAD (median absolute
    deviation) instead of mean + stddev, so the thresholds themselves are
    not dragged by the outliers they hunt (the flaw of z-scores on skewed
    money columns).

    Two exact-median passes per segment — Spark's median and DuckDB's
    MEDIAN interpolate identically on even counts (pinned by the
    pandas_grouped_agg entry) — then a row-local |x - med| > 3*MAD flag
    folded into a conditional count.  Scale shape: medians need the full
    group (two shuffles on the segment key, each with column-pruned input);
    the flag pass re-joins the 5-row stats broadcast-side, so the fact
    table is scanned twice and shuffled never for the flagging itself.
    """
    c = table(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    med = c.groupBy("c_mktsegment").agg(
        F.median("c_acctbal").alias("seg_median")
    )
    dev = c.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment",
        "c_acctbal",
        "seg_median",
        F.abs(F.col("c_acctbal") - F.col("seg_median")).alias("adev"),
    )
    mad = dev.groupBy("c_mktsegment").agg(
        F.median("adev").alias("seg_mad")
    )
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("seg_median").alias("seg_median"),
            F.min("seg_mad").alias("seg_mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("seg_mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_oracle(
    "mad_outliers",
    """
    WITH med AS (
        SELECT c_mktsegment, MEDIAN(c_acctbal) AS seg_median
        FROM customer GROUP BY c_mktsegment
    ), dev AS (
        SELECT c.c_mktsegment, c.c_acctbal, m.seg_median,
               ABS(c.c_acctbal - m.seg_median) AS adev
        FROM customer c JOIN med m USING (c_mktsegment)
    ), mad AS (
        SELECT c_mktsegment, MEDIAN(adev) AS seg_mad
        FROM dev GROUP BY c_mktsegment
    )
    SELECT d.c_mktsegment,
           COUNT(*) AS n_customers,
           MIN(d.seg_median) AS seg_median,
           MIN(m.seg_mad) AS seg_mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.seg_mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (c_mktsegment)
    GROUP BY d.c_mktsegment
    """,
)


def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders: nulls, distincts, min/max as strings.

    Single scan, melt-then-two-phase: the table melts to (col_name, val)
    rows in the scan stage, phase 1 dedupes values per column (map-side
    combine shrinks the shuffle to the distinct set), phase 2 reduces to
    one row per column.  At 100 TB this is the affordable profiling shape —
    no Expand, no re-scan per column, shuffle keyed on small strings.
    """
    o = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    # Melt to (col_name, val) in the scan stage, then two-phase aggregate:
    # phase 1 dedupes (col_name, val) with map-side combine (carrying the
    # per-value count for the null tally), phase 2 reduces per column.  One
    # scan, two narrow-key shuffles — vs the previous single aggregate with
    # 5 countDistincts, which Catalyst rewrote into a 5-way Expand that
    # multiplied every scan row x5 with a wide all-columns schema.
    melted = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    per_value = melted.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_value.groupBy("col_name").agg(
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count("val").alias("n_distinct"),
        F.min("val").alias("min_value"),
        F.max("val").alias("max_value"),
    )


_oracle(
    "profile_table",
    """
    SELECT 'o_orderkey' AS col_name,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           MIN(CAST(o_orderkey AS VARCHAR)) AS min_value,
           MAX(CAST(o_orderkey AS VARCHAR)) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           COUNT(*) FILTER (WHERE o_custkey IS NULL),
           COUNT(DISTINCT o_custkey),
           MIN(CAST(o_custkey AS VARCHAR)), MAX(CAST(o_custkey AS VARCHAR))
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           COUNT(*) FILTER (WHERE o_orderstatus IS NULL),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*) FILTER (WHERE o_totalprice IS NULL),
           COUNT(DISTINCT o_totalprice),
           MIN(CAST(o_totalprice AS VARCHAR)), MAX(CAST(o_totalprice AS VARCHAR))
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           COUNT(*) FILTER (WHERE o_orderpriority IS NULL),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# Unpivot / melt (wide -> long), aggregated per metric
# ---------------------------------------------------------------------------

def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt lineitem's numeric measures into (metric, value) rows, then
    aggregate per metric.

    ``unpivot`` is a narrow projection (each input row expands in place, no
    shuffle); the groupBy on the 4-value metric column is a map-side-combined
    aggregate.
    """
    l = table(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    # Spark's unpivot KEEPS null measure cells; DuckDB's UNPIVOT drops
    # them (probe-confirmed, r9 review) — filter to the DuckDB semantics
    # so n_values (and group existence for an all-NULL measure) agree.
    return long.filter(F.col("value").isNotNull()).groupBy("metric").agg(
        F.count("*").alias("n_values"),
        dsum("value", 6).alias("sum_value"),
        F.max("value").alias("max_value"),
    )


_oracle(
    "unpivot_metrics",
    """
    SELECT metric,
           COUNT(*) AS n_values,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           MAX(value) AS max_value
    FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                        l_discount, l_tax FROM lineitem)
        ON l_quantity, l_extendedprice, l_discount, l_tax
        INTO NAME metric VALUE value
    )
    GROUP BY metric
    """,
)


# ---------------------------------------------------------------------------
# Deterministic engine-portable sampling
# ---------------------------------------------------------------------------

def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1/16 sample selected by a content hash, not a RNG.

    ``df.sample()`` draws differ per engine/run; hashing the key and keeping
    one hex bucket gives a sample that is reproducible everywhere — the only
    sampling that can be oracle-checked, and the right primitive for
    train/eval splits of a 100 TB corpus (membership is a pure function of
    the row key).
    """
    l = table(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return l.filter(F.md5(key.cast("binary")).like("0%")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


_oracle(
    "deterministic_sample",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE md5(CAST(l_orderkey AS VARCHAR) || '-'
              || CAST(l_linenumber AS VARCHAR)) LIKE '0%'
    """,
)


# ---------------------------------------------------------------------------
# Conditional / boolean aggregates
# ---------------------------------------------------------------------------

def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or / filtered counts per order priority."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 150000.0).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count("*").alias("n_total"),
        )
    )


_oracle(
    "conditional_aggregates",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) AS n_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)


def array_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array_agg: each customer's order keys as a sorted array.

    collect_list order is partition-dependent; array_sort restores a total
    order — the only deterministic distributed array_agg.  The contract
    surface serializes the array to CSV (``concat_ws``) because the driver's
    canonicalizer cannot hash array cells; compose on the internal
    ``array_sort(collect_list(...))`` when an array is needed downstream."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("o_orderkey"))).alias(
                "orderkeys_csv"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_oracle(
    "array_agg_ordered",
    """
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
               AS orderkeys_csv,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
)


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg)
# ---------------------------------------------------------------------------

def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-joined sorted nation list per region.

    collect_list order is partition-dependent, so the list is array_sort'ed
    before joining — the only way a distributed listagg is deterministic.
    """
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",")
            .alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


_oracle(
    "string_agg_ordered",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)


# ---------------------------------------------------------------------------
# mode() / argmax with deterministic tie-breaks
# ---------------------------------------------------------------------------

def mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status mode of order priority and argmax order, both with
    DETERMINISTIC tie-breaks.

    mode() and max_by/argmax are classic nondeterminism traps in a
    distributed engine: on a tie the winner depends on partition visit
    order.  Both are expressed here as a min over an explicitly ordered
    struct — min(struct(-cnt, value)) picks the highest count and breaks
    ties on the SMALLEST value, a total order independent of partitioning:

    - ``mode_priority``: most frequent o_orderpriority per status
      (tie -> lexicographically smallest priority), via a two-level
      aggregate (count per (status, priority) with map-side combine, then
      the struct-min merge — partial-mergeable end to end, no Expand, no
      window over the full table).
    - ``top_orderkey``/``top_price``: the order holding the max total price
      per status (tie -> smallest orderkey) — argmax as
      min(struct(-price, orderkey)), a single aggregate over the scan.

    The per-status frames join broadcast (a handful of status rows).
    """
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mode = (
        counts.groupBy("o_orderstatus")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("o_orderpriority").alias("v"),
                )
            ).alias("m")
        )
        .select(
            "o_orderstatus",
            F.col("m.v").alias("mode_priority"),
            (-F.col("m.neg_cnt")).alias("mode_count"),
        )
    )
    argmax = (
        o.groupBy("o_orderstatus")
        .agg(
            F.min(
                F.struct(
                    (-F.col("o_totalprice")).alias("neg_price"),
                    F.col("o_orderkey").alias("k"),
                )
            ).alias("a")
        )
        .select(
            "o_orderstatus",
            F.col("a.k").alias("top_orderkey"),
            (-F.col("a.neg_price")).alias("top_price"),
        )
    )
    return mode.join(F.broadcast(argmax), "o_orderstatus")


_oracle(
    "mode_argmax",
    """
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ), mode AS (
        SELECT o_orderstatus, o_orderpriority AS mode_priority,
               cnt AS mode_count,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        FROM counts
    ), am AS (
        SELECT o_orderstatus, o_orderkey AS top_orderkey,
               o_totalprice AS top_price,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC, o_orderkey ASC)
                   AS rn
        FROM orders
    )
    SELECT m.o_orderstatus, m.mode_priority, m.mode_count,
           a.top_orderkey, a.top_price
    FROM mode m JOIN am a USING (o_orderstatus)
    WHERE m.rn = 1 AND a.rn = 1
    """,
)


# ---------------------------------------------------------------------------
# TPC-H shapes Q2 / Q18 / Q21 adapted to the available star-schema subset
# ---------------------------------------------------------------------------

def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the supplier(s) achieving its
    MINIMUM unit price (correlated min subquery, decorrelated as a window
    min over the part key — one shuffle; no per-part re-scan).

    unit_price is a single IEEE division, so the min-equality predicate is
    bit-deterministic cross-engine (no rounding involved).
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = Window.partitionBy("l_partkey")
    best = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("min_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_price"))
        .select("p_partkey", "p_name", "l_suppkey", "unit_price")
        .dropDuplicates(["p_partkey", "l_suppkey"])
    )
    return best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey).select(
        "p_partkey", "p_name", "s_name", "unit_price"
    )


_oracle(
    "min_cost_supplier",
    """
    WITH li AS (
        SELECT l_partkey, l_suppkey,
               l_extendedprice / l_quantity AS unit_price
        FROM lineitem
    ), best AS (
        SELECT DISTINCT p_partkey, p_name, l_suppkey, unit_price
        FROM (
            SELECT p.p_partkey, p.p_name, li.l_suppkey, li.unit_price,
                   MIN(li.unit_price) OVER (PARTITION BY li.l_partkey)
                       AS min_price
            FROM li JOIN part p ON li.l_partkey = p.p_partkey
            WHERE p.p_size < 10
        ) WHERE unit_price = min_price
    )
    SELECT p_partkey, p_name, s_name, unit_price
    FROM best JOIN supplier s ON best.l_suppkey = s.s_suppkey
    """,
)


LARGE_ORDER_QTY = 300


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with customer attribution (group-having + join-back).

    The having-aggregate runs FIRST so only qualifying orderkeys (a tiny
    fraction) join back to orders/customer — at scale the joins see the
    filtered key set, not the fact table.  l_quantity is integer-valued, so
    the sum is exact in any accumulation order.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_ORDER_QTY)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice",
                "sum_qty")
    )


_oracle(
    "large_volume_orders",
    f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM orders
    JOIN (
        SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > {LARGE_ORDER_QTY}
    ) big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)


def sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE supplier on multi-line
    orders (EXISTS another line on the order / NOT EXISTS a line from a
    different supplier — decorrelated into one per-order aggregate instead
    of two correlated re-scans).

    The exists/not-exists pair collapses to (n_lines >= 2 AND
    n_suppliers = 1): one shuffle on orderkey, then a count per supplier —
    the Spark-first formulation of Q21's double correlation.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sole = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.min("l_suppkey").alias("the_suppkey"),
        )
        .filter((F.col("n_lines") >= 2) & (F.col("n_supp") == 1))
    )
    return (
        sole.groupBy("the_suppkey")
        .agg(F.count(F.lit(1)).alias("n_sole_orders"),
             F.sum("n_lines").alias("n_lines_total"))
        .join(F.broadcast(s), F.col("the_suppkey") == s.s_suppkey)
        .select("s_name", "n_sole_orders", "n_lines_total")
    )


_oracle(
    "sole_supplier_orders",
    """
    WITH sole AS (
        SELECT l_orderkey, COUNT(*) AS n_lines,
               MIN(l_suppkey) AS the_suppkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING COUNT(*) >= 2 AND COUNT(DISTINCT l_suppkey) = 1
    )
    SELECT s_name,
           COUNT(*) AS n_sole_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines_total
    FROM sole JOIN supplier ON the_suppkey = s_suppkey
    GROUP BY s_name
    """,
)


# ---------------------------------------------------------------------------
# TPC-H shapes Q7 / Q10 / Q19 / Q22 adapted to the available star-schema
# subset (no shipmode/commitdate/phone columns in the driver testdata)
# ---------------------------------------------------------------------------

def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border revenue per (supplier nation, customer
    nation, ship year) — a 5-way star join where the nation dim is joined
    TWICE under different roles.

    Plan: lineitem->orders (shuffle on orderkey) -> customer (shuffle on
    custkey) are the only exchanges; supplier and both nation aliases are
    broadcasts, so the 100 TB fact scan shuffles exactly twice regardless
    of dimension count.  Revenue is an exact-decimal sum.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.sn_key)
        .join(F.broadcast(n2), c.c_nationkey == n2.cn_key)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_oracle(
    "nation_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)


RETURNED_TOP_N = 20


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by revenue on RETURNED items in one
    quarter — agg-then-join-back so the ranking input is customer-sized,
    then a deterministic global top-N (revenue desc, custkey asc).

    The top-N runs on the aggregated (customer-count-sized) frame: Spark's
    TakeOrderedAndProject keeps per-partition heaps of N rows, so no full
    sort materializes at scale.
    """
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(revenue, 6).alias("revenue"),
             F.count(F.lit(1)).alias("n_returned_items"))
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal",
                "revenue", "n_returned_items")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(RETURNED_TOP_N)
    )


_oracle(
    "returned_item_revenue",
    f"""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal, revenue,
           n_returned_items
    FROM (
        SELECT o_custkey,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_returned_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-04-01'
        GROUP BY o_custkey
    ) JOIN customer ON o_custkey = c_custkey
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT {RETURNED_TOP_N}
    """,
)


def disjunctive_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand/size/quantity
    conjunctions — the disjunction must be pushed INTO the broadcast-join
    filter, not evaluated post-join.

    Catalyst extracts the common ``p_size`` / ``l_quantity`` bounds from
    the OR for scan-level pushdown (PushedFilters), and the broadcast keeps
    the fact side shuffle-free; the OR itself stays one codegen'd predicate.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(20, 30))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.filter(clause).agg(
        dsum(revenue, 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_oracle(
    "disjunctive_filter_parts",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 30
           AND l_quantity BETWEEN 20 AND 30)
    """,
)


CHURN_CUTOFF = "2000-01-01"


def inactive_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and
    no RECENT orders (none since CHURN_CUTOFF), counted per market
    segment — scalar subquery (broadcast 1-row threshold) + left-anti join
    + group-by.  (Q22's "no orders at all" is vacuous on the synthetic
    data — almost every customer has some order — so the anti-join side is
    the recent-order key set, which keeps the check non-vacuous while
    preserving the exists/anti decorrelation shape.)

    The threshold is an exact-decimal sum divided by a count (one IEEE
    division, bit-identical cross-engine); the anti join shuffles on
    custkey and AQE may broadcast the orders key-set when it is small
    after the date filter.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(CHURN_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal", 2) / F.count(F.lit(1))).alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", 2).alias("total_balance"),
        )
    )


_oracle(
    "inactive_high_value_customers",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE)
               AS total_balance
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE)
                   / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '{CHURN_CUTOFF}')
    GROUP BY c_mktsegment
    """,
)


# One SQL text, two engines: the query IS its own oracle (Spark 4 and
# DuckDB both implement ANSI recursive CTEs).
# Recursive-CTE total-row guardrail: centralized in the session factory
# (session.CTE_ROW_LIMIT, set by get_spark + tune_runtime) so the WITH
# RECURSIVE operators never mutate shared-session config as a hidden
# side effect (r12 ADVICE).  Re-exported here for backward compat.
from airflow_postgres_to_s3_pipeline_spark.session import CTE_ROW_LIMIT  # noqa: F401,E402

RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE chain AS (
        SELECT l_orderkey, l_linenumber AS ln,
               CAST(l_quantity AS DOUBLE) AS running_qty
        FROM lineitem WHERE l_linenumber = 1
        UNION ALL
        SELECT l.l_orderkey, l.l_linenumber,
               c.running_qty + l.l_quantity
        FROM chain c JOIN lineitem l
          ON l.l_orderkey = c.l_orderkey AND l.l_linenumber = c.ln + 1
    )
    SELECT l_orderkey,
           CAST(MAX(ln) AS INTEGER) AS chain_len,
           MAX(running_qty) AS total_qty
    FROM chain
    GROUP BY l_orderkey
"""


def recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI recursive CTE (Spark 4): walk each order's lineitem chain by
    linenumber, accumulating quantity step-by-step — the bounded linear
    recursion shape (BOM explosion / hierarchy walk) the reference's
    arbitrary-SQL surface could push to Postgres.

    Each recursion step is one equi-join of the frontier against the fact
    table, so depth iterations cost depth shuffles on orderkey — identical
    execution shape to the label-propagation loop in
    dedup.connected_components, but declared in pure SQL.  Depth is
    bounded by max lines per order (~7); the running sum accumulates in
    linenumber order, so the doubles are bit-deterministic and the SAME
    SQL text runs on DuckDB as the oracle.  See also
    sql_surface.recursive_cte_order_chains — the deeper (~25-level)
    variant whose successor relation is derived by a ranking window and
    which documents Spark 4.1's UNION-recursion rejection.

    Scale config: total rows ACROSS recursion levels equal |lineitem|,
    so Spark's cteRecursionRowLimit default of 1e6 aborts on any real
    fact table regardless of plan health (first hit by the r12 sf1
    probe: 6M lineitems -> RECURSION_ROW_LIMIT_EXCEEDED).  The raised
    limit (session.CTE_ROW_LIMIT, applied by the session factory — not
    here, so no operator mutates shared config) leaves
    cteRecursionLevelLimit (default 100) as the actual runaway-recursion
    guard: depth, not row count, is what diverges on a buggy recursion.
    At ~sf150 even 1e9 total rows binds for a linear walk — past that,
    the scale tier is the iterative DataFrame frontier walk
    (frontier_order_chain below), which has no row-limit concept; this
    SQL entry remains the SQL-surface tier.  See docs/SCALE.md
    "Recursive-walk cutover".
    """
    from airflow_postgres_to_s3_pipeline_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(RECURSIVE_CHAIN_SQL)


_oracle("recursive_order_chain", RECURSIVE_CHAIN_SQL)


def frontier_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative DataFrame twin of recursive_order_chain — the deep-walk
    SCALE tier (docs/SCALE.md "Recursive-walk cutover").

    Identical semantics to the WITH RECURSIVE entry, identical oracle SQL,
    but no recursion row limit exists to bind: each hop is one equi-join
    of the (thin, per-order) frontier against the persisted fact slice on
    (l_orderkey, ln + 1), so total work stays linear in |lineitem| at ANY
    scale — the SQL tier's cteRecursionRowLimit=1e9 net binds around
    sf150 because a linear walk emits |fact| total rows across levels.

    Execution shape: lineitem is projected to 3 columns, hash-partitioned
    on l_orderkey once, and persisted; every hop's join then reuses that
    partitioning (frontier side shuffles, fact side does not).  The only
    per-hop driver action is ``cache.checkpoint`` (lineage cut, as in
    graph.bfs_hops), whose observed row count stops the walk at the first
    empty step — depth is max lines per order (~7 in TPC-H shape) plus
    that one empty step.  The running sum accumulates in linenumber
    order — the exact ((q1+q2)+q3) fold the recursion defines — so
    doubles are bit-identical to both the SQL tier and the DuckDB oracle.

    Tier equivalence (byte-for-byte vs recursive_order_chain) is pinned
    by tests/test_advanced.py.
    """
    li = tracked_persist(
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("double").alias("qty"),
        )
        .repartition("l_orderkey")
    )
    frontier, _ = checkpoint(
        li.filter(F.col("ln") == 1)
        .select("l_orderkey", "ln", F.col("qty").alias("running_qty"))
    )
    acc = frontier
    for step in itertools.count(2):
        nxt, n = checkpoint(
            li.filter(F.col("ln") == step)
            .join(
                frontier.select(
                    "l_orderkey", F.col("running_qty").alias("_prev")
                ),
                "l_orderkey",
            )
            .select(
                "l_orderkey",
                "ln",
                (F.col("_prev") + F.col("qty")).alias("running_qty"),
            )
        )
        if n == 0:
            break
        acc = acc.unionByName(nxt)
        frontier = nxt
    return acc.groupBy("l_orderkey").agg(
        F.max("ln").cast("int").alias("chain_len"),
        F.max("running_qty").alias("total_qty"),
    )


# Same oracle text as the SQL tier: the two tiers are interchangeable by
# contract, and the equivalence test pins them byte-for-byte.
_oracle("frontier_order_chain", RECURSIVE_CHAIN_SQL)


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation from orders where the customer
    and the supplier are in the SAME nation, within one region and year.

    The c_nationkey = s_nationkey predicate makes this the classic
    co-location join: the fact scan shuffles on orderkey then custkey (two
    exchanges); supplier, nation, and region are broadcasts, and the
    region filter prunes the nation dim BEFORE it reaches the fact side.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_oracle(
    "local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_nationkey = s_nationkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)


MARKET_SHARE_NATION = "NATION_1"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for a part
    type, per order year — conditional-sum-over-sum on a 6-way star join.

    Same two fact exchanges as Q5 (orderkey, custkey); part / supplier /
    nation / region all broadcast.  The share is a single double division
    of two exact-decimal sums, so it is bit-deterministic under any
    partitioning (see functions/numeric.py).
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                              "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    volume = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    target = F.when(
        F.col("supp_nation") == MARKET_SHARE_NATION, volume
    ).otherwise(F.lit(0).cast("decimal(27,6)"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(volume).cast("double")).alias(
                "market_share"
            ),
            F.sum(volume).cast("double").alias("total_volume"),
        )
    )


_oracle(
    "nation_market_share",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(SUM(CASE WHEN n2.n_name = '{MARKET_SHARE_NATION}'
                         THEN CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(27,6))
                         ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(27,6))) AS DOUBLE) AS market_share,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS total_volume
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    GROUP BY 1
    """,
)


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum total revenue
    over one quarter (ties all kept, as the spec requires).

    The max is taken over the supplier-sized aggregate and compared in
    EXACT decimal (before the double output cast), so tie detection is
    bit-deterministic; the 1-row max frame is a broadcast semi-filter, not
    a driver round-trip.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = l.groupBy("l_suppkey").agg(
        F.sum(revenue.cast("decimal(27,6)")).alias("_rev_exact")
    )
    max_rev = rev.agg(F.max("_rev_exact").alias("_max_rev"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), rev._rev_exact == max_rev._max_rev)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev_exact").cast("double").alias("total_revenue"),
        )
    )


_oracle(
    "top_supplier_revenue",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(27,6))) AS rev_exact
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev_exact AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_exact = (SELECT MAX(rev_exact) FROM rev)
    """,
)


SMALL_QTY_BRAND = "Brand#23"


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders for one brand stopped being filled — a correlated per-part
    average threshold.

    The per-part aggregate joins back to the (brand-filtered, broadcast)
    fact slice; the threshold ``qty < 0.2 * avg(qty)`` is rewritten as the
    integer-exact ``5 * qty * n_items < sum_qty`` so no engine-dependent
    float division decides boundary rows (quantities are integral).
    """
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand") == SMALL_QTY_BRAND
    ).select("p_partkey")
    l = table(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == p.p_partkey
    )
    stats = l.groupBy(F.col("l_partkey").alias("g_key")).agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )
    small = l.join(F.broadcast(stats), l.l_partkey == stats.g_key).filter(
        F.lit(5.0) * F.col("l_quantity") * F.col("n_items") < F.col("sum_qty")
    )
    return small.agg(
        (dsum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_items"),
    )


_oracle(
    "small_quantity_revenue",
    f"""
    WITH pl AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{SMALL_QTY_BRAND}'
    ), stats AS (
        SELECT l_partkey AS g_key,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE)
                   AS sum_qty,
               COUNT(*) AS n_items
        FROM pl GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n_small_items
    FROM pl JOIN stats ON l_partkey = g_key
    WHERE 5.0 * l_quantity * n_items < sum_qty
    """,
)


K_ANONYMITY_K = 5  # minimum group size before a quasi-id combo is risky


def k_anonymity_check(spark: SparkSession, sf_dir: str,
                      k: int = K_ANONYMITY_K) -> DataFrame:
    """k-anonymity audit over the event stream — the privacy gate a
    dataset passes before external release: every combination of
    quasi-identifiers (event type, day, fixed-width value bucket —
    attributes an adversary can observe or estimate) must describe at
    least ``k`` distinct INDIVIDUALS (``user_id``) — one person emitting
    k events is still one re-identifiable person, so the measure is a
    distinct count, never a row count.  Returns the RISKY groups
    (n_users < k) with their user and event counts — the
    suppress-or-generalize worklist, companion to ``pii_scrub``'s
    content-level redaction.

    Deterministic bucketing (floor of the same IEEE division on both
    engines, clamped to [0, 9]) keeps the full value-hash oracle; as with
    the other parameterized entries, the REGISTERED oracle binds the
    default ``k`` — callers overriding it verify against their own
    threshold.  Scale shape: ONE map-side-combined group-by on the
    quasi-id tuple; the risky filter and output are bounded by the
    quasi-id domain, not the corpus — the audit costs a distinct-count
    aggregate at any scale.
    """
    e = table(spark, sf_dir, "events")
    vb = F.least(
        F.greatest(F.floor(F.col("value") / 50.0), F.lit(0)), F.lit(9)
    ).cast("int")
    return (
        e.select(
            "event_type",
            F.to_date("ts").alias("day"),
            vb.alias("value_bucket"),
            "user_id",
        )
        .groupBy("event_type", "day", "value_bucket")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_users") < k)
    )


_oracle(
    "k_anonymity_check",
    f"""
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INTEGER)
               AS value_bucket,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT user_id) < {K_ANONYMITY_K}
    """,
)
