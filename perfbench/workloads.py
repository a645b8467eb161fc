"""The benchmark's workloads.

Each workload is a fixed mix of ops run by one closed-loop client in
passes; the seed sets every generated input and the order of each
pass. An op is built (`build`) and then collected; the benchmark times
both. Results are checked after the timed window, never retried.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

# Subsets of the engine's headline bench (bench.py BENCH_QUERIES),
# split by the layer that does the work. OLAP: relational entries where
# DataFrame build, Catalyst and Tungsten execution (joins, aggregation,
# shuffle) work; it includes one nested and one TPC-DS-fixture entry so
# the nested materialization and fixture registration land in set-up.
OLAP_QUERIES = [
    "tpch_q1", "tpch_q5", "tpch_q18", "agg_rollup",
    "analytic_window_frames", "tpcds_real_q98",
    "nested_tpch_two_level_max_order_qty",
]
# Pipeline: entries dominated by Python workers (pandas UDFs, the
# Python KLL), persist/unpersist, LSH / IVF candidate joins and
# iterative jobs.
PIPELINE_QUERIES = [
    "pipeline_dedup_minhash_lsh", "pipeline_dedup_embedding_ivf",
    "pipeline_text_features", "pipeline_similarity_topk",
    "pipeline_dedup_clusters", "pipeline_stratified_sample",
    "fn_sketch_kll",
]


@dataclass
class Op:
    label: str          # what the op is, stable across passes
    kind: str           # "read" or "write"
    text: str = ""      # query name, or the SQL text sent to the Engine
    expect: dict = field(default_factory=dict)


@dataclass
class Result:
    op: Op
    pass_no: int
    latency_s: float
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None


def _rng(seed: int, pass_no: int) -> random.Random:
    return random.Random(seed * 100_003 + pass_no + 17)


def to_pandas(columns: list[str], rows: list):
    import pandas as pd

    return pd.DataFrame([tuple(r) for r in rows], columns=columns)


class QueryMix:
    """A fixed list of registry entries, one `QUERIES` call + collect
    per op, shuffled per pass."""

    build_span = "queries.build"

    def __init__(self, scale: float, queries: list[str]):
        self.scale, self.queries = scale, queries
        self.verified: dict = {}       # query name -> verified frame

    def session_setup(self, spark, data_dir: str):
        from incubator_impala_spark.session import configure_session

        # registry entries load their own tables (sources.load_table)
        return configure_session(spark.newSession())

    def pass_ops(self, seed: int, pass_no: int) -> list[Op]:
        names = list(self.queries)
        _rng(seed, pass_no).shuffle(names)
        return [Op(n, "read", n) for n in names]

    def reset(self, ctx) -> None:
        # drop what the previous op persisted, as the headline bench
        # does, so persist-heavy entries do not evict each other
        ctx.spark.catalog.clearCache()

    def build(self, ctx, op: Op):
        from incubator_impala_spark.queries import QUERIES

        return QUERIES[op.text](ctx.session, ctx.data_dir)

    def gate(self, ctx, results: list[Result]) -> list[str]:
        """Check each entry once against its DuckDB oracle (row count
        when it has none) and keep the verified frame for `verify`."""
        from incubator_impala_spark.queries import ORACLE_SQL
        from incubator_impala_spark.testing.oracle import (
            compare_frames, duckdb_connection)

        con = duckdb_connection(ctx.data_dir)
        bad = []
        for r in results:
            if r.error:
                bad.append(f"{r.op.label}: {r.error}")
                continue
            sql = ORACLE_SQL.get(r.op.text)
            got = to_pandas(r.columns, r.rows)
            if sql is None:
                problems = [] if len(r.rows) > 0 else ["no rows"]
            else:
                problems = compare_frames(got, con.execute(sql).df())
            if problems:
                bad.append(f"{r.op.label}: {problems[0]}")
                continue
            self.verified[r.op.text] = got
        return bad

    def verify(self, ctx, r: Result) -> str | None:
        from incubator_impala_spark.testing.oracle import compare_frames

        if r.error:
            return r.error
        if r.op.text not in self.verified:
            return "entry failed the oracle gate"
        problems = compare_frames(to_pandas(r.columns, r.rows),
                                  self.verified[r.op.text])
        return problems[0] if problems else None


class SqlReadWrite:
    """One Engine session issuing Impala SQL: seeded short reads over
    the base tables interleaved with a write lifecycle per pass
    (CREATE, INSERT VALUES, INSERT...SELECT, COMPUTE STATS, REFRESH,
    read-back, DROP, a SHOW TABLES that must no longer list the table)
    into the run's own warehouse."""

    build_span = "engine.sql"
    values_rows = 20

    def __init__(self, scale: float):
        self.scale = scale
        self._duck = None

    def session_setup(self, spark, data_dir: str):
        from incubator_impala_spark.engine import Engine

        return Engine(spark.newSession(), sf_dir=data_dir)

    def pass_ops(self, seed: int, pass_no: int) -> list[Op]:
        rng = _rng(seed, pass_no)
        tbl = f"w{pass_no}" if pass_no >= 0 else "w_warm"

        def day(lo_year: int, hi_year: int) -> str:
            return (f"{rng.randint(lo_year, hi_year)}-"
                    f"{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")

        def values() -> tuple[str, list[tuple]]:
            rows = [(pass_no * 1000 + i, rng.randint(0, 99),
                     round(rng.uniform(0, 1000), 2))
                    for i in range(self.values_rows)]
            return ", ".join(f"({a}, {b}, {c})" for a, b, c in rows), rows

        v1, rows1 = values()
        d1 = day(1995, 2000)
        d2 = f"{int(d1[:4]) + 1}{d1[4:]}"
        # the write lifecycle, in order; reads are interleaved below
        writes = [
            Op("create", "write",
               f"CREATE TABLE {tbl} (id BIGINT, k INT, v DOUBLE) "
               "STORED AS PARQUET"),
            Op("insert_values", "write", f"INSERT INTO {tbl} VALUES {v1}"),
            Op("insert_select", "write",
               f"INSERT INTO {tbl} SELECT l_orderkey, l_linenumber, "
               f"l_quantity FROM lineitem WHERE l_shipdate >= '{d1}' "
               f"AND l_shipdate < '{d2}'"),
            Op("compute_stats", "write", f"COMPUTE STATS {tbl}"),
            Op("refresh", "write", f"REFRESH {tbl}"),
            Op("read_back", "read",
               f"SELECT count(*) AS n, sum(v) AS s FROM {tbl}",
               {"values": rows1, "lo": d1, "hi": d2}),
            Op("show_tables", "read", "SHOW TABLES",
               {"table": tbl, "listed": True}),
            Op("drop", "write", f"DROP TABLE {tbl}"),
            Op("show_dropped", "read", "SHOW TABLES",
               {"table": tbl, "listed": False}),
        ]
        reads = [Op("describe", "read", "DESCRIBE lineitem")]
        for _ in range(2):
            reads += self._short_reads(rng, day)
        ops = list(writes)
        for op in reads:
            ops.insert(rng.randint(0, len(ops)), op)
        return ops

    def _short_reads(self, rng, day) -> list[Op]:
        """A range aggregate, a point lookup and a 2-way join aggregate
        with constants drawn from the seed."""
        a = day(1995, 2000)
        b = f"{a[:5]}{int(a[5:7]) % 12 + 1:02d}{a[7:]}"
        if b < a:
            a, b = b, a
        range_agg = Op(
            "range_agg", "read",
            "SELECT count(*) AS n, zeroifnull(sum(l_extendedprice)) AS s "
            f"FROM lineitem WHERE l_shipdate BETWEEN '{a}' AND '{b}'",
            {"duck": "SELECT count(*) AS n, coalesce(sum(l_extendedprice),"
                     " 0) AS s FROM lineitem WHERE l_shipdate BETWEEN "
                     f"TIMESTAMP '{a}' AND TIMESTAMP '{b}'"})
        key = rng.randint(0, max(1_500, int(1_500_000 * self.scale)) - 1)
        point = Op(
            "point", "read",
            "SELECT o_orderkey, o_totalprice, o_orderpriority "
            f"FROM orders WHERE o_orderkey = {key}",
            {"duck": "SELECT o_orderkey, o_totalprice, o_orderpriority "
                     f"FROM orders WHERE o_orderkey = {key}"})
        lo = day(1995, 1999)
        hi = f"{int(lo[:4]) + 1}{lo[4:]}"
        join = ("SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) "
                "AS s FROM orders o JOIN customer c ON o.o_custkey = "
                "c.c_custkey WHERE o_orderdate >= {lo} AND o_orderdate "
                "< {hi} GROUP BY c_mktsegment")
        join_agg = Op(
            "join_agg", "read",
            join.format(lo=f"'{lo}'", hi=f"'{hi}'"),
            {"duck": join.format(lo=f"TIMESTAMP '{lo}'",
                                 hi=f"TIMESTAMP '{hi}'")})
        return [range_agg, point, join_agg]

    def reset(self, ctx) -> None:
        pass

    def build(self, ctx, op: Op):
        return ctx.session.sql(op.text)

    def _duckdb(self, ctx):
        if self._duck is None:
            from incubator_impala_spark.testing.oracle import \
                duckdb_connection
            self._duck = duckdb_connection(ctx.data_dir)
        return self._duck

    def expected(self, ctx, op: Op):
        """The result the op must return, computed without Spark."""
        con = self._duckdb(ctx)
        if "duck" in op.expect:
            return con.execute(op.expect["duck"]).df()
        if op.label == "read_back":
            n, s = con.execute(
                "SELECT count(*), coalesce(sum(l_quantity), 0) FROM lineitem "
                f"WHERE l_shipdate >= TIMESTAMP '{op.expect['lo']}' "
                f"AND l_shipdate < TIMESTAMP '{op.expect['hi']}'").fetchone()
            vals = op.expect["values"]
            return (n + len(vals), s + sum(v for _, _, v in vals))
        if op.label == "describe":
            return [r[0] for r in con.execute("DESCRIBE lineitem").fetchall()]
        return None

    def verify(self, ctx, r: Result) -> str | None:
        from incubator_impala_spark.testing.oracle import compare_frames

        if r.error:
            return r.error
        op, want = r.op, self.expected(ctx, r.op)
        if "duck" in op.expect:
            problems = compare_frames(to_pandas(r.columns, r.rows), want)
            return problems[0] if problems else None
        if op.label == "read_back":
            n, s = r.rows[0]
            ok = n == want[0] and math.isclose(float(s), float(want[1]),
                                               rel_tol=1e-9, abs_tol=1e-6)
            return None if ok else f"read-back {n}, {s} != {want}"
        if op.label == "describe":
            got = [row[0] for row in r.rows]
            return None if got == want else f"describe {got} != {want}"
        if "listed" in op.expect:
            tbl, listed = op.expect["table"], op.expect["listed"]
            if (tbl in {row[0] for row in r.rows}) == listed:
                return None
            where = "missing from" if listed else "still in"
            return f"{tbl} {where} SHOW TABLES"
        return None

    def gate(self, ctx, results: list[Result]) -> list[str]:
        return [f"{r.op.label}: {err}" for r in results
                if (err := self.verify(ctx, r))]


WORKLOADS = {
    "olap_sf01": lambda: QueryMix(0.01, OLAP_QUERIES),
    "pipeline_sf01": lambda: QueryMix(0.01, PIPELINE_QUERIES),
    "sql_rw_small": lambda: SqlReadWrite(0.001),
}

