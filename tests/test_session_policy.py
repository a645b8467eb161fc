"""The engine's session policy (`session.py`): one conf table, applied
once per session, so a user's SET outlives later table loads — query
options are session state in the reference
(be/src/service/query-options.h)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

SHUFFLE = "spark.sql.shuffle.partitions"
BLOOM = "spark.sql.optimizer.runtime.bloomFilter.enabled"


def test_set_survives_table_load(engine):
    conf = engine.spark.conf
    before = {k: conf.get(k) for k in (SHUFFLE, BLOOM)}
    try:
        engine.sql("SET MT_DOP=3")
        engine.sql("SET RUNTIME_FILTER_MODE=OFF")
        engine.register_tables(SF_SMALL)
        assert conf.get(SHUFFLE) == "3"
        assert conf.get(BLOOM) == "false"
    finally:
        for k, v in before.items():
            conf.set(k, v)


def test_fresh_session_gets_whole_table(spark):
    from incubator_impala_spark.session import (
        SESSION_CONFS, configure_session)

    fresh = spark.newSession()
    # runtime confs do not carry over to a new session
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    configure_session(fresh)
    for k, v in SESSION_CONFS.items():
        assert fresh.conf.get(k) == v, k
    assert fresh.conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)


def test_second_call_keeps_later_changes(spark):
    from incubator_impala_spark.session import configure_session

    s = configure_session(spark.newSession())
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set(SHUFFLE, "5")
    configure_session(s)
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    assert s.conf.get(SHUFFLE) == "5"


def test_foreign_session_configured_on_first_load(spark):
    """A session the engine did not build (the driver's) gets the whole
    policy, the 64 MiB broadcast threshold included, on its first
    table load."""
    from incubator_impala_spark.sources.tables import load_table

    foreign = spark.newSession()
    events = load_table(foreign, SF_SMALL, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert foreign.conf.get("spark.sql.autoBroadcastJoinThreshold") \
        == str(64 * 1024 * 1024)
    assert foreign.conf.get(SHUFFLE) \
        == str(spark.sparkContext.defaultParallelism)
