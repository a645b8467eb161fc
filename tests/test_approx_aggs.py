"""Approximate-aggregate surface: ndv / appx_median / DataSketches HLL
(reference registrations BuiltinsDb.java:913-1082; estimator scalars
datasketches-functions-ir.cc). Estimators can't hash-match an exact
oracle, so this layer checks the properties that define them:
bounded relative error vs the exact answer, and sketch mergeability
(union of per-partition sketches == one global sketch). Also covers
the Engine SET option surface (query-options.h mapping)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def li_view(spark):
    from incubator_impala_spark.sources.tables import load_table

    load_table(spark, SF_SMALL, "lineitem").createOrReplaceTempView("li_approx")
    return "li_approx"


def test_ndv_macro_accuracy(engine, li_view):
    """Impala ndv() → approx_count_distinct; HLL error ≤ ~5% at this
    cardinality (reference documents ~1.9% typical for its NDV)."""
    row = engine.sql(
        f"SELECT ndv(l_orderkey) AS est, count(distinct l_orderkey) AS exact "
        f"FROM {li_view}"
    ).collect()[0]
    assert abs(row.est - row.exact) / row.exact < 0.05


def test_appx_median_macro(engine, li_view):
    row = engine.sql(
        f"SELECT appx_median(l_quantity) AS med FROM {li_view}"
    ).collect()[0]
    exact = engine.sql(
        f"SELECT percentile(l_quantity, 0.5) AS m FROM {li_view}"
    ).collect()[0].m
    assert abs(row.med - exact) <= 2.0


def test_ds_hll_sketch_estimate(engine, li_view):
    row = engine.sql(
        f"SELECT ds_hll_estimate(ds_hll_sketch(l_partkey)) AS est, "
        f"count(distinct l_partkey) AS exact FROM {li_view}"
    ).collect()[0]
    assert abs(row.est - row.exact) / row.exact < 0.05


def test_ds_hll_union_mergeability(engine, li_view):
    """Sketches built per partition then unioned must estimate like a
    single global sketch — the property that makes HLL work on a
    1000-executor cluster (partial agg → merge)."""
    merged = engine.sql(
        f"""
        SELECT ds_hll_estimate(ds_hll_union(sk)) AS est FROM (
          SELECT l_orderkey % 4 AS p, ds_hll_sketch(l_partkey) AS sk
          FROM {li_view} GROUP BY l_orderkey % 4)
        """
    ).collect()[0].est
    direct = engine.sql(
        f"SELECT ds_hll_estimate(ds_hll_sketch(l_partkey)) AS est FROM {li_view}"
    ).collect()[0].est
    assert merged == direct


def test_sampled_ndv_pattern(engine, li_view):
    """sampled_ndv (BuiltinsDb.java:1086) ≈ ndv over TABLESAMPLE."""
    est = engine.sql(
        f"SELECT ndv(l_orderkey) AS e FROM {li_view} TABLESAMPLE (50 PERCENT)"
    ).collect()[0].e
    exact = engine.sql(
        f"SELECT count(distinct l_orderkey) AS c FROM {li_view}"
    ).collect()[0].c
    # half-sample of a ~1500-key table still sees most keys
    assert est > exact * 0.5


def test_set_option_mapped(engine):
    assert engine.set_option("disable_codegen", "true") is True
    assert engine.spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    engine.set_option("disable_codegen", "false")
    assert engine.spark.conf.get("spark.sql.codegen.wholeStage") == "true"


def test_set_option_accept_and_ignore(engine):
    # unknown Impala options are accepted (no error), ignored
    assert engine.set_option("mem_limit", "2g") is False
    # explain_level became a *handled* option in r6 (drives the
    # Impala-format EXPLAIN renderer's detail level)
    assert engine.set_option("explain_level", "2") is True


def test_set_statement_through_sql(engine):
    out = engine.sql("SET runtime_filter_mode=OFF").collect()
    assert out[0].status == 1
    assert (
        engine.spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "false"
    )
    engine.sql("SET runtime_filter_mode=GLOBAL")


# ---------------------------------------------------------------------------
# ds_kll_* quantile-sketch family (BuiltinsDb.java:1327-1374) — dialect
# macros over Spark's native DataSketches KLL (functions/registry.py).
# Compaction is randomized, as in the reference, so these tests assert
# error bounds and contracts, never exact sketch values.
# ---------------------------------------------------------------------------


def test_kll_quantile_error_bound(engine, li_view):
    """Realized rank of each estimated quantile within 2% of target
    (KLL k=200 guarantees ~1%)."""
    for q in (0.1, 0.5, 0.9):
        row = engine.sql(
            f"""
            SELECT avg(CAST(l_extendedprice <= est AS DOUBLE)) AS realized
            FROM {li_view},
              (SELECT ds_kll_quantile(ds_kll_sketch(l_extendedprice), {q}d)
                 AS est FROM {li_view})
            """
        ).collect()[0]
        assert abs(row.realized - q) < 0.02, (q, row.realized)


def test_kll_union_mergeability(engine, li_view):
    """Per-partition sketches merged with ds_kll_union must estimate
    like one global sketch — the partial-agg property that bounds the
    shuffle to ~KB per group on a real cluster."""
    merged = engine.sql(
        f"""
        SELECT ds_kll_quantile(ds_kll_union(sk), 0.5d) AS m FROM (
          SELECT l_orderkey % 8 AS p, ds_kll_sketch(l_extendedprice) AS sk
          FROM {li_view} GROUP BY l_orderkey % 8)
        """
    ).collect()[0].m
    exact = engine.sql(
        f"SELECT percentile(l_extendedprice, 0.5) AS m FROM {li_view}"
    ).collect()[0].m
    # realized rank of the merged-sketch median within 2%
    realized = engine.sql(
        f"SELECT avg(CAST(l_extendedprice <= {merged} AS DOUBLE))"
        f" AS r FROM {li_view}"
    ).collect()[0].r
    assert abs(realized - 0.5) < 0.02, (merged, exact, realized)


def test_kll_rank_and_n(engine, li_view):
    # the probe value comes from another subquery, so it is not a
    # constant: this exercises ds_kll_rank's per-row (rank grid) path
    row = engine.sql(
        f"""
        SELECT ds_kll_rank(sk, med) AS r, ds_kll_n(sk) AS n, exact_n
        FROM (SELECT ds_kll_sketch(l_extendedprice) AS sk FROM {li_view}),
             (SELECT percentile(l_extendedprice, 0.5) AS med,
                     count(l_extendedprice) AS exact_n FROM {li_view})
        """
    ).collect()[0]
    assert row.n == row.exact_n
    assert abs(row.r - 0.5) < 0.02


def test_kll_serialization_roundtrip(spark, engine, li_view, tmp_path):
    """A sketch stored in a STRING table column (the reference keeps
    sketches that way) reads back with its bytes intact and answers
    ds_kll_quantile / ds_kll_n / ds_kll_rank exactly like the in-memory
    sketch it came from."""
    sk = engine.sql(
        f"SELECT ds_kll_sketch(l_extendedprice) AS sk FROM {li_view}"
    ).collect()[0].sk
    spark.createDataFrame([(sk,)], "sk binary").createOrReplaceTempView(
        "kll_mem")
    path = str(tmp_path / "kll_str")
    spark.sql("SELECT cast(sk AS string) AS s FROM kll_mem").write.parquet(
        path)
    stored = spark.read.parquet(path)
    assert dict(stored.dtypes) == {"s": "string"}
    stored.createOrReplaceTempView("kll_str")

    def probe(view, col):
        return engine.sql(
            f"SELECT ds_kll_quantile({col}, 0.3d) AS q, ds_kll_n({col}) AS n,"
            f" ds_kll_rank({col}, 30000) AS r,"
            f" cast({col} AS binary) AS b FROM {view}"
        ).collect()[0]

    mem, back = probe("kll_mem", "sk"), probe("kll_str", "s")
    assert bytes(back.b) == bytes(mem.b) == bytes(sk)
    assert (back.q, back.n, back.r) == (mem.q, mem.n, mem.r)
    assert mem.n == engine.sql(
        f"SELECT count(l_extendedprice) AS c FROM {li_view}"
    ).collect()[0].c


def test_kll_all_null_and_empty_input(engine, li_view):
    """No value updates the sketch -> NULL sketch (the reference UDA's
    finalize), and the getters pass the NULL through; a global
    aggregate over an empty relation still returns its one row."""
    row = engine.sql(
        f"""
        SELECT ds_kll_sketch(CAST(NULL AS DOUBLE)) AS sk,
               ds_kll_quantile(ds_kll_sketch(CAST(NULL AS DOUBLE)), 0.5d) AS q,
               ds_kll_n(ds_kll_sketch(CAST(NULL AS DOUBLE))) AS n
        FROM {li_view}
        """
    ).collect()
    assert [tuple(r) for r in row] == [(None, None, None)]
    empty = engine.sql(
        f"SELECT ds_kll_sketch(l_quantity) AS sk, "
        f"ds_kll_n(ds_kll_sketch(l_quantity)) AS n "
        f"FROM {li_view} WHERE l_quantity < 0"
    ).collect()
    assert [tuple(r) for r in empty] == [(None, None)]


@pytest.mark.parametrize("rank", ["1.5d", "-0.1d", "r"])
def test_kll_quantile_rank_out_of_range_raises(engine, li_view, rank):
    """The reference's ds_kll_quantile rejects a rank outside [0, 1];
    so do the constant (native getter) and per-row (rank grid) paths."""
    with pytest.raises(Exception, match="(?i)quantile|rank"):
        engine.sql(
            f"""
            SELECT ds_kll_quantile(sk, {rank}) AS q
            FROM (SELECT ds_kll_sketch(l_quantity) AS sk FROM {li_view}),
                 (SELECT 1.5d AS r)
            """
        ).collect()


def test_kll_string_values_render_like_cxx_g(engine):
    """The *_as_string printers render numbers like the reference's C++
    ostream (printf %g: 6 significant digits, no trailing zeros) — the
    same text Python's f"{v:g}" gives for the sketch's FLOAT value."""
    import struct

    vals = [0.0, 1.0, 25.0, 0.5123456, 1e-05, 1234567.0, -2.5]
    rows = engine.sql(
        "SELECT v, ds_kll_quantiles_as_string(ds_kll_sketch(v), 0.5) AS s "
        "FROM (SELECT explode(array("
        + ", ".join(f"cast({v!r} AS DOUBLE)" for v in vals)
        + ")) AS v) GROUP BY v"
    ).collect()
    got = {r.v: r.s for r in rows}
    for v in vals:
        f32 = struct.unpack("f", struct.pack("f", v))[0]
        assert got[v] == f"{f32:g}", (v, got[v])


def test_sampled_ndv_operator_extrapolates(spark):
    """Duj1 over a 50% hash sample lands within 15% of exact NDV on
    orders.o_custkey (a realistic skewed-frequency column)."""
    from incubator_impala_spark.operators.sampling import sampled_ndv
    from incubator_impala_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    est = sampled_ndv(orders, "o_custkey", key="o_orderkey", fraction=0.5).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    assert est.sample_rows < orders.count()
    assert abs(est.ndv_estimate - exact) / exact < 0.15, (est, exact)


def test_histogram_macro_boundaries(engine, li_view):
    """histogram() (BuiltinsDb.java:1001): 100 sorted equi-height
    boundaries; spot-check interior boundaries against exact
    percentiles (sketch rank error at accuracy=10000 is well under one
    l_quantity step)."""
    h = engine.sql(
        f"SELECT histogram(l_quantity) AS h FROM {li_view}"
    ).collect()[0].h
    bounds = [float(x) for x in h.split(", ")]
    assert len(bounds) == 100
    assert bounds == sorted(bounds)
    for frac, b in ((0.25, bounds[24]), (0.5, bounds[49]), (0.75, bounds[74])):
        exact = engine.sql(
            f"SELECT percentile(l_quantity, {frac}) AS p FROM {li_view}"
        ).collect()[0].p
        assert abs(b - exact) <= 2.0, (frac, b, exact)


def test_kll_quantiles_as_string_and_stringify(engine, li_view):
    """ds_kll_quantiles_as_string / ds_kll_stringify
    (BuiltinsDb.java:1348-1362): CSV quantiles and a summary string."""
    row = engine.sql(
        f"""
        SELECT ds_kll_quantiles_as_string(sk, '0.25,0.5,0.75') AS qs,
               ds_kll_stringify(sk) AS info
        FROM (SELECT ds_kll_sketch(l_quantity) AS sk FROM {li_view})
        """
    ).collect()[0]
    vals = [float(x) for x in row.qs.split(",")]
    assert len(vals) == 3 and vals == sorted(vals)
    assert 1.0 <= vals[0] <= 20.0 and 35.0 <= vals[2] <= 50.0
    assert "### KLL sketch summary" in row.info
    assert "K : 200" in row.info and "Levels :" in row.info


def test_kll_cdf_pmf_as_string(engine, li_view):
    """ds_kll_cdf_as_string / ds_kll_pmf_as_string (reference registry
    impala_functions.py:952-954, variadic split points): n splits give
    n+1 CDF points ending at 1.0; the PMF entries are the successive
    CDF differences and sum to 1."""
    row = engine.sql(
        f"""
        SELECT ds_kll_cdf_as_string(sk, 10, 25, 40) AS cdf,
               ds_kll_pmf_as_string(sk, 10, 25, 40) AS pmf
        FROM (SELECT ds_kll_sketch(l_quantity) AS sk FROM {li_view})
        """
    ).collect()[0]
    cdf = [float(x) for x in row.cdf.split(",")]
    pmf = [float(x) for x in row.pmf.split(",")]
    assert len(cdf) == 4 and len(pmf) == 4
    assert cdf == sorted(cdf) and cdf[-1] == 1.0
    # printed values round to 6 significant digits (the reference's
    # C++ default ostream formatting), so compare at that tolerance
    assert abs(sum(pmf) - 1.0) < 1e-5
    for i in range(1, 4):
        assert abs(pmf[i] - (cdf[i] - cdf[i - 1])) < 1e-5
    # l_quantity is ~uniform on 1..50: the split at 25 sits near 0.5
    assert 0.3 <= cdf[1] <= 0.7


def test_hll_stringify_and_bounds(engine, li_view):
    """ds_hll_stringify / ds_hll_estimate_bounds_as_string /
    ds_hll_union_f (impala_functions.py:936-942): summary string,
    'estimate,lower,upper' bounds bracketing the estimate (kappa
    widens them), and the scalar two-sketch union."""
    row = engine.sql(
        f"""
        SELECT ds_hll_stringify(h) AS hs,
               ds_hll_estimate_bounds_as_string(h) AS hb,
               ds_hll_estimate_bounds_as_string(h, 3) AS hb3
        FROM (SELECT ds_hll_sketch(l_orderkey) AS h FROM {li_view})
        """
    ).collect()[0]
    assert row.hs.startswith("### HLL sketch summary: ")
    assert "Current Mode" in row.hs and "### End HLL sketch summary" in row.hs
    est, lo, hi = (float(x) for x in row.hb.split(","))
    est3, lo3, hi3 = (float(x) for x in row.hb3.split(","))
    assert lo <= est <= hi and lo3 <= est3 <= hi3
    assert lo3 <= lo and hi3 >= hi  # larger kappa -> wider interval
    u = engine.sql(
        f"""
        WITH a AS (SELECT ds_hll_sketch(l_orderkey) AS s FROM {li_view}
                   WHERE l_orderkey % 2 = 0),
             b AS (SELECT ds_hll_sketch(l_orderkey) AS s FROM {li_view}
                   WHERE l_orderkey % 2 = 1)
        SELECT cast(ds_hll_estimate(ds_hll_union_f(a.s, b.s)) as bigint) AS u
        FROM a, b
        """
    ).collect()[0].u
    exact = engine.sql(
        f"SELECT count(distinct l_orderkey) AS c FROM {li_view}"
    ).collect()[0].c
    assert abs(u - exact) / exact < 0.1
