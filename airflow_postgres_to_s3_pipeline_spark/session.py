"""SparkSession factory tuned for the engine.

Scale posture (100 TB north star):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  join-strategy switching replace hand-tuned physical plans.
- ``partitionOverwriteMode=dynamic``: the reference's delete-then-insert
  idempotency pattern (dags/airbnb_postgres_to_s3.py:86-88) becomes a single
  atomic partition overwrite.
- Session timezone pinned to UTC so timestamp semantics are stable across
  engines and clusters.
- Arrow enabled so the pandas-UDF path is batched, never row-at-a-time.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

_MB = 1024 * 1024

# Recursive-CTE total-row guardrail, applied session-wide here (not inside
# the WITH RECURSIVE operators — a per-operator spark.conf.set would be a
# hidden side effect on the shared session, r12 ADVICE).  Rationale: the
# row limit counts TOTAL rows across recursion levels, so a healthy
# linear-in-input walk (order/customer chain) emits |fact| rows and the
# 1e6 default aborts at probe scale regardless of plan health (first hit
# by the r12 sf1 probe: RECURSION_ROW_LIMIT_EXCEEDED at 6M lineitems).
# Depth divergence — the failure mode that actually signals a buggy
# recursion — is caught much earlier by cteRecursionLevelLimit (default
# 100, untouched).  1e9 keeps the net finite: a genuinely diverging
# recursion still dies, just not a linear walk over a real fact table.
CTE_ROW_LIMIT = 1_000_000_000

# the directory that holds this package, for the Python workers' sys.path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "airflow-postgres-to-s3-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: this host's
    CPU count); on a real cluster ``master`` comes from spark-submit and
    this arg is ignored.

    Python workers run under the engine's daemon module (``pyworker``),
    which spares each task the re-read of ``pyspark.zip``; the package root
    leads ``spark.executorEnv.PYTHONPATH`` so the workers find it from any
    working directory.  Sessions built elsewhere, such as the driver
    harness's own session, keep Spark's default daemon.
    """
    host_cpus = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus))
    master = master or f"local[{cpus}]"
    try:
        default_parallelism = max(int(cpus), 4)
    except ValueError:
        default_parallelism = max(host_cpus, 4)
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", default_parallelism)
    )

    # Robustness axis: SPARK_GRAFT_AQE=0 runs the whole engine with adaptive
    # execution OFF — results must be identical (AQE is a physical-planning
    # lever, never semantics).  tools/check_oracles.py re-runs the full gate
    # under it.
    aqe = "false" if os.environ.get("SPARK_GRAFT_AQE") == "0" else "true"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * _MB))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * _MB))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.cteRecursionRowLimit", str(CTE_ROW_LIMIT))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Parameterised escape hatch for scale-dependent / JVM-static confs
    # (e.g. spark.io.compression.codec=zstd on a real cluster): semicolon-
    # separated k=v pairs.  Local default is EMPTY so the driver's bench
    # stays comparable; production values are an env knob, not a code edit.
    overrides = dict(
        kv.split("=", 1)
        for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")
        if kv
    )
    overrides.update(extra_conf or {})
    python_path = overrides.pop("spark.executorEnv.PYTHONPATH", None)
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        PACKAGE_ROOT + (os.pathsep + python_path if python_path else ""),
    ).config("spark.python.daemon.module", f"{__package__}.pyworker")
    for key, value in overrides.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


# sessions already tuned, mapped to the AQE flag they were tuned with —
# weak keys so a stopped session's entry dies with it.  catalog.table calls
# tune_runtime before EVERY query (the vanilla-driver guarantee), which was
# 5 redundant conf RPCs per table read once the session is tuned (r10
# review); the memo keeps the guarantee at zero marginal cost and re-tunes
# if SPARK_GRAFT_AQE changes between calls.
_TUNED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    The driver harness passes us its own SparkSession; these confs are the
    subset we rely on for correctness (timezone-stable timestamps, arrow
    batching) and can be set after JVM start.  Idempotent and memoized —
    callers may (and do) invoke it before every query.
    """
    aqe_flag = os.environ.get("SPARK_GRAFT_AQE", "")
    if _TUNED.get(spark) == aqe_flag:
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "false" if os.environ.get("SPARK_GRAFT_AQE") == "0" else "true",
    )
    # Outer/stateful streaming determinism on bounded sources: the trailing
    # no-data micro-batch applies the final watermark, flushing closed
    # outer-join state and timed-out sessions (default-on, pinned here
    # because the oracle for the left-outer stream-stream join depends on
    # it).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    # The testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects by
    # default; read as int64 and convert explicitly (catalog.table).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Recursive-CTE guardrail (see CTE_ROW_LIMIT above): applied once here
    # so the WITH RECURSIVE operators never mutate session config.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(CTE_ROW_LIMIT))
    _TUNED[spark] = aqe_flag
    return spark
