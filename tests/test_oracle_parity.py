"""The local mirror of the driver's correctness gate.

Every entry in the registry is executed on Spark and (when an oracle
exists) on DuckDB at sf0.001, comparing row count + columns +
order-insensitive values — the same contract CORRECTNESS_r{N}.json
grades at sf0.01. Mirrors the reference's differential-testing layer
(tests/comparison/discrepancy_searcher.py).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _all_query_names():
    from incubator_impala_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _all_query_names())
def test_query_parity(spark, name):
    from incubator_impala_spark.queries import ORACLE_SQL
    from incubator_impala_spark.testing.oracle import check_query

    problems = check_query(spark, name, SF_SMALL)
    assert not problems, f"{name}: {problems}"
    if name not in ORACLE_SQL:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")


def test_fn_sketch_kll_degenerate_groups_match_oracle(spark, tmp_path):
    """fn_sketch_kll on an events table with an all-NULL-value group and
    a NULL event_type group: no values means nothing lies outside the
    bound, so every flag is 1, as the oracle states."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_impala_spark.queries import ORACLE_SQL, QUERIES
    from incubator_impala_spark.testing.oracle import compare_frames

    n = 400
    kinds = ["click", "view", None, "no_values"]
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([i * 1_000_000 for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
        "event_type": pa.array([kinds[i % 4] for i in range(n)], pa.string()),
        "value": pa.array([None if kinds[i % 4] == "no_values" else float(i)
                           for i in range(n)], pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    }), tmp_path / "events.parquet")

    got = QUERIES["fn_sketch_kll"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    want = con.execute(ORACLE_SQL["fn_sketch_kll"]).df()
    assert len(want) == 4
    assert not compare_frames(got, want), compare_frames(got, want)
