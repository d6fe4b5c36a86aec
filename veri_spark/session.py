"""SparkSession construction and per-session runtime configuration.

Two layers:

- :func:`get_spark` builds a session for local development / benchmarks with
  scale-oriented defaults (AQE, reasonable shuffle partitions).
- :func:`prepare_session` applies the *runtime-settable* confs this engine
  needs on ANY session, including one handed to us by an external harness.
  It is idempotent and called by the table loader, so queries work no matter
  who built the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs required for correctness on the driver's data.
_RUNTIME_CONFS = {
    # The events table stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; read as bigint nanos and convert explicitly
    # (sources/catalog.py normalizes to timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics across engines (DuckDB oracle reads
    # naive timestamps; with UTC the epoch arithmetic matches exactly).
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Round 15 (guide §4.4's duplicated-expression hazard, builtin form):
    # InferFiltersFromGenerate copies every explode's generator expression
    # into an inferred `size(e) > 0 AND isnotnull(e)` filter, which then
    # pushes below projections/exchanges — so a tokenize/transform explode
    # evaluates its whole generator chain TWICE per row (filter + project),
    # with the filter copy inlining the un-projected expression (split()
    # re-evaluated per lambda element) and pinned below any repartition.
    # Measured on the bigram pass at sf0.1: 2.4 s -> 0.44 s with the rule
    # excluded, output bit-identical (explode already skips empty/null
    # inputs; the inferred filter is a pure optimization that our
    # always-nonempty corpora never benefit from). Scale-safe: the
    # duplicated generator CPU doubles at 100 TB too.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent).

    A key that cannot be set (e.g. static on some builds) is accepted only
    when the session already holds the required value; otherwise this
    raises, naming the key, instead of running with a silently wrong
    conf."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            if spark.conf.get(key, None) != value:
                raise RuntimeError(
                    f"cannot set required Spark conf {key}={value!r}"
                ) from exc
    return spark


def get_spark(
    app_name: str = "veri-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale you would size this to data volume instead; AQE coalesces the
    excess either way.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("VERI_DRIVER_MEMORY", "8g"))
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return prepare_session(spark)
