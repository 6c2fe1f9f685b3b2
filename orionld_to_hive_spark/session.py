"""SparkSession factory.

Single place where engine-wide execution settings live. Mirrors the
deployment stance in SURVEY.md §7: AQE on (runtime re-plan, skew-join,
partition coalescing), UTC session timezone (so timestamp semantics match
a UTC-naive oracle like DuckDB), ANSI off (the reference's Hive casts are
lenient — bad strings become NULL, `hive.py:56,65-67` of the reference),
Arrow on (vectorized Pandas-UDF exchange).

At cluster scale the same factory applies; only master/memory/shuffle
partition counts change (they are parameters here, not hardcoded).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: Python workers import it from here
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "orionld_to_hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    Defaults are sized by $SPARK_GRAFT_CPUS (harness contract); on a real
    cluster pass master=None with spark-submit-provided master and set
    shuffle_partitions ~ 2-3x total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        paths.append(_PACKAGE_ROOT)
    conf[key] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read driver-generated parquet tables; returns dict name -> DataFrame.

    Parquet scans get Catalyst predicate pushdown + column pruning for
    free; callers filter/select on the returned frames and the scan
    narrows accordingly.
    """
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}
