"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configuration carries to a
real cluster — AQE handles runtime re-planning (partition coalescing,
skew-join splitting), and the shuffle-partition count is sized by the
caller for the data scale.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# The directory that holds the ``dbdiff_spark`` package: Python workers
# unpickle functions that reference it (``mapInPandas`` batches, UDFs).
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def get_spark(
    app_name: str = "dbdiff_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are chosen for correctness-critical oracle comparison
    (UTC session timezone, ANSI off so casts behave like the reference's
    permissive string coercion) and for scale (AQE on, Arrow on).

    The package root goes first on the workers' ``PYTHONPATH``
    (``spark.executorEnv.PYTHONPATH``, merged with any value passed in
    ``extra_conf``): a driver that imports the package through
    ``sys.path`` from another working directory would otherwise run
    Python workers that cannot import it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; read as epoch-nanos long
        # and convert in the table loader (io.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    paths = [_PACKAGE_ROOT, *conf.get(key, "").split(os.pathsep)]
    conf[key] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
