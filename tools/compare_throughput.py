"""Spark-vs-DuckDB throughput comparison per oracle-checked query.

DuckDB is the practical single-node native-engine proxy (the reference
delegates all SQL to Postgres and publishes no numbers — BASELINE.md).  For
each query with a SQL oracle, times the Spark plan (noop sink, full
computation) against DuckDB executing the oracle over the same parquet.

    python tools/compare_throughput.py [sf_dir]

Prints one line per query: spark_s, duck_s, ratio (spark/duck).  Ratios are
expected >1 at small SF (Spark pays JVM/task-scheduling overhead that
amortizes at scale); the point is to catch queries that are 10x+ off, which
usually means a plan bug rather than fixed overhead.
"""

from __future__ import annotations

import os
import sys
import time
from functools import partial

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import timed_noop, warm_up  # noqa: E402
from check_oracles import TABLES  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    from airflow_postgres_to_s3_pipeline_spark.session import get_spark
    from airflow_postgres_to_s3_pipeline_spark import registry

    spark = get_spark(app_name="compare")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # Warm both engines.
    warm_up(spark, sf_dir)
    con.execute(registry.ORACLES["pricing_summary"]).fetchall()

    rows = []
    for name in sorted(registry.ORACLES):
        if only and name not in only:
            continue
        if name.startswith("streaming_"):
            continue  # memory-sink materialization isn't comparable
        spark_s = timed_noop(
            spark, partial(registry.QUERIES[name], spark, sf_dir)
        )
        t0 = time.time()
        con.execute(registry.ORACLES[name]).fetchall()
        duck_s = time.time() - t0
        rows.append((name, spark_s, duck_s, spark_s / max(duck_s, 1e-9)))

    if not rows:
        print("no oracle-checked queries matched the selection")
        return 1
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':36s} {'spark_s':>8s} {'duck_s':>8s} {'ratio':>7s}")
    for name, s, d, r in rows:
        print(f"{name:36s} {s:8.2f} {d:8.2f} {r:7.1f}")
    total_s = sum(r[1] for r in rows)
    total_d = sum(r[2] for r in rows)
    print(f"{'TOTAL':36s} {total_s:8.2f} {total_d:8.2f} {total_s/total_d:7.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
