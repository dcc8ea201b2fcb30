"""Table catalog: table names + loaders for the driver testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}/``.  No schema is declared: every
read infers its schema from the parquet footers, which costs one Spark
job per table read while a query's frame is built.

Timestamp policy: everything is TIMESTAMP_NTZ (naive UTC).  The
``events`` table is physically parquet TIMESTAMP(NANOS), which Spark's
parquet reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
we scan it as INT64 and convert ns→µs with a TZ-independent
``timestampadd`` on a NTZ epoch literal.  The conversion is columnar,
stays inside whole-stage codegen, and does not block filter pushdown on
the other columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized column types."""
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch → naive-UTC microsecond timestamp, matching
        # DuckDB's µs truncation of the same parquet column.
        df = df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_NTZ_EPOCH})")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (SQL-facing API)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def with_min_scan_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a scan whose split count is below the session's
    parallelism, so compute-heavy scan-local expressions (minhash
    signatures, quality scoring) use every core.

    This is the standard remedy for low-split inputs (single-row-group
    parquet, unsplittable gzip): the shuffle only fires when the input
    has fewer splits than cores — i.e. when it is small or pathological
    — and is a runtime-checked NO-OP on a real 100 TB scan, where split
    count far exceeds cluster parallelism.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
