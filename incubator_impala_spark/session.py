"""SparkSession construction & engine configuration.

The reference engine hand-tunes execution via 118 query options
(`be/src/service/query-options.h`) plus planner heuristics
(`fe/src/main/java/org/apache/impala/planner/DistributedPlanner.java:479-537`
broadcast-vs-partition costing, `RuntimeFilterGenerator.java:570` bloom
runtime filters). On Spark the equivalents are session confs; this module
centralises them so every entry point (tests, bench, driver) gets the
same scale-aware configuration.

Scale rationale (100 TB / 1000-executor target):
- AQE on: runtime coalescing + skew-join splitting replaces the
  reference's static fragment planning.
- bloom runtime filters + DPP: parity with the reference's runtime
  filter propagation (bloom + min/max) from join builds to probe scans.
- CBO + histogram stats: parity with COMPUTE STATS driven join ordering
  (`SingleNodePlanner.java:495` createCheapestJoinPlan).
- shuffle width: one task per core (`defaultParallelism`), derived in
  `configure_session`; on a real cluster AQE's coalescePartitions makes
  the initial number a ceiling, not a fixed cost.

Query options are session state in the reference
(`be/src/service/query-options.h`): a `SET` stays set for the rest of
the session. So the policy below is applied once per session, and a
later table load or Engine never undoes a user's `SET`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's session policy: every runtime `spark.sql.*` conf it
# sets, applied by configure_session() on any session, including the
# driver's own SparkSession whose build-time confs we don't control.
SESSION_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics: the reference's TIMESTAMP is
    # timezoneless (be/src/runtime/timestamp-value.h:45-61). UTC session
    # tz makes Spark's TimestampType behave identically to the oracle.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as raw int64 nanos and convert ourselves
    # (sources/tables.py). Runtime-settable.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle coalescing, skew-join
    # splitting, dynamic broadcast demotion/promotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast-vs-partition costing (DistributedPlanner.java:479-537):
    # build sides up to 64 MiB are broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime filters: Spark-side analogue of the reference's bloom +
    # min/max runtime filters (RuntimeFilterGenerator.java:95).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.dynamicPartitionPruning.enabled": "true",
    # Scan-side pruning parity with the reference's parquet row-group /
    # page-index / dictionary pruning (be/src/exec/parquet/).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Cost-based join reordering parity with createCheapestJoinPlan.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Arrow for any pandas-UDF exchange (the sanctioned Python path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the reference returns NULL on e.g. divide-by-zero in
    # most contexts rather than erroring; Spark non-ANSI matches the
    # oracle-facing behaviour we test.
    "spark.sql.ansi.enabled": "false",
}

# Set once configure_session() has applied the policy to a session.
# Runtime confs are per session, so spark.newSession() starts unmarked.
_CONFIGURED_KEY = "spark.incubator_impala.sessionConfigured"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's session policy to a session, once.

    Called from every query entry point, so the driver's own
    SparkSession also runs with engine semantics. The first call sets
    SESSION_CONFS and the shuffle width, then marks the session; later
    calls on a marked session only read the marker, so a user's `SET`
    (or Engine `SET MT_DOP=...`) survives every later table load.
    """
    if spark.conf.get(_CONFIGURED_KEY, None) == "1":
        return spark
    for k, v in SESSION_CONFS.items():
        spark.conf.set(k, v)
    # Shuffle width follows the session's actual parallelism: local[8]
    # plans 8-way shuffles, local[32] 32-way. Spark's default 200 would
    # mean mostly task overhead on a single node at these volumes; on
    # a real cluster the initial number is a ceiling AQE coalesces
    # under (coalescePartitions above).
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(1, spark.sparkContext.defaultParallelism)),
    )
    spark.conf.set(_CONFIGURED_KEY, "1")
    return spark


def get_spark(app_name: str = "incubator-impala-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned local session used by tests & bench.

    The builder holds only what must be fixed before the SparkContext
    starts; every `spark.sql.*` conf comes from configure_session().
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    spark = builder.getOrCreate()
    return configure_session(spark)
