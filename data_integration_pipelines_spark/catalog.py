"""Table catalog over the driver-generated parquet test data.

Normalizes physical irregularities at load time (the reference does the
same with ``_as_list``-style normalization at ingest — SURVEY.md §1.1):
here the only irregularity is ``events.ts`` being parquet
TIMESTAMP(NANOS), which Spark reads as a long when
``spark.sql.legacy.parquet.nanosAsLong`` is set; we convert to a proper
timestamp once, at the scan, so no downstream operator pays for it.

At 100 TB these tables would be partitioned/bucketed parquet or Delta;
the loader keeps the scan declarative (``spark.read.parquet``) so
predicate pushdown / column pruning / partition pruning stay free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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


def rightsize_session(spark: SparkSession) -> None:
    """Engine-required runtime confs for externally-created sessions.

    - Timestamp semantics must not depend on who built the session: pin
      UTC (runtime-settable) so date_format/window results are stable
      and match the oracle's naive timestamps.
    - Right-size shuffle parallelism when the session still carries the
      stock 200: 2-3x total cores is the cluster guidance, and AQE
      coalescing makes over-provisioning cheap. Spark cannot
      distinguish an explicit 200 from the unset default, so a user who
      really wants 200 sets SPARK_GRAFT_NO_SHUFFLE_RIGHTSIZE=1 to
      suppress the override.

    - Arrow on (runtime-settable, off in a stock session): pandas
      createDataFrame/toPandas otherwise fall back to pickled rows —
      a PythonRDD whose scan spawns one Python worker per partition
      (measured ~3.5 s cold on local[32] for a 2-row fixture frame).

    Called by ``load_table`` and by fixture-literal queries (which never
    touch the catalog but still shuffle through Python kernels).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    if (
        spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
        and not os.environ.get("SPARK_GRAFT_NO_SHUFFLE_RIGHTSIZE")
    ):
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * cores, 16)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    rightsize_session(spark)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): unreadable unless nanos
        # are surfaced as longs. Runtime-settable, so enforce it here so
        # the engine works on externally-created sessions too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Memoize the (analyzed) DataFrame per session+path: a sweep that
    # runs all ~100 registered queries touches each table many times,
    # and every spark.read.parquet pays a driver-side file listing +
    # footer/schema read. The test parquet is immutable within a run;
    # the cache dies with the session object.
    cache = getattr(spark, "_spark_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._spark_graft_table_cache = cache
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS,false) parquet read as long nanos; integer-
            # div to micros (no double round-trip: 1.7e18 ns > 2^53).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        cache[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every table as a temp view (``spark.sql`` entry path)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t + suffix)
