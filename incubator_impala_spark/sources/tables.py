"""Table catalog over the driver's parquet test data.

The reference's scan surface is HdfsScanNode + per-format scanners
(`be/src/exec/hdfs-scan-node-base.h:254`, parquet scanner
`be/src/exec/parquet/hdfs-parquet-scanner.cc`) feeding a Hive-style
catalog (`fe/src/main/java/org/apache/impala/catalog/HdfsTable.java`).
Here Spark's Parquet DataSource covers all of it — split planning,
row-group/page pruning, dictionary filtering, late materialization —
so "a scan" is `spark.read.parquet` plus a temp-view registration.

Special case: `events.parquet` carries TIMESTAMP(NANOS) — the
reference's TIMESTAMP is nanosecond-resolution
(`be/src/runtime/timestamp-value.h:45-61`) but Spark is microsecond.
We read nanos as int64 (`spark.sql.legacy.parquet.nanosAsLong`) and
derive a µs TimestampType column, keeping the raw nanos alongside
(documented precision gap, SURVEY.md §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_impala_spark.session import configure_session

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Give an events frame a µs TimestampType `ts` and the raw int64
    nanos in `ts_ns`, whatever the file's physical ts layout. Shared by
    the batch loader and the events stream."""
    if dict(df.dtypes).get("ts") == "bigint":
        # int64 nanos -> µs TimestampType (truncating division; all
        # event times are post-epoch). Keep ts_ns for full precision.
        return (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        )
    # µs-native file (TIMESTAMP or TIMESTAMP_NTZ — the NTZ form
    # matches the reference's timezoneless semantics,
    # timestamp-value.h:45-61). Derive ts_ns so the loader contract
    # (raw int64 nanos alongside ts) holds for both physical layouts,
    # and normalize ts itself to TimestampType so the contract's ts
    # dtype does not depend on the physical file layout (unix_micros(ts)
    # etc. work unconditionally); session tz is pinned UTC so the
    # NTZ->TZ cast is exact.
    return df.withColumn(
        "ts_ns", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes the events timestamp column."""
    configure_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_events_ts(df) if name == "events" else df


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — a driver-side
    file-metadata read, no Spark job. This is what table stats provide
    for free on a real catalog (reference: HdfsTable row-count stats);
    operators that size themselves on n (IVF centroid stride) take it
    from here instead of a `df.count()` action."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        [path]
        if os.path.isfile(path)
        else glob.glob(os.path.join(path, "*.parquet"))
    )
    if not files:
        # A silent 0 would make n-sized operators (IVF stride) degrade
        # toward all-pairs with no error at the call site.
        raise FileNotFoundError(f"no parquet files at {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register all test tables as temp views for `spark.sql` queries.

    Scale note: temp views over parquet paths keep the plan fully
    declarative — filter/column pushdown reaches the scan, and on a
    real cluster partition discovery & split planning are Spark's.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
