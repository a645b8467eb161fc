"""Scalar-function sweeps — the query-level mirror of the reference's
`be/src/exprs/expr-test.cc` (10,531 lines of per-function semantics
tests) run over real table data instead of literals.

The Spark side deliberately goes through `Engine.sql` with *Impala*
spellings (strleft, zeroifnull, dayname, isnull, …) so the dialect
shim + macro registry (SURVEY.md §2.11) sit in the graded path; the
oracle restates each expression in DuckDB's dialect (strpos vs instr,
datediff arg order, dayofweek base, regexp 'g' flag — spelled out
per entry).

Determinism: exact functions compare exactly; transcendental /
similarity doubles are pinned to DECIMAL(18,9) per the corpus-wide
convention (tpch.py header).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_impala_spark import dialect
from incubator_impala_spark.functions.registry import MACROS
from incubator_impala_spark.functions.udfs import register as register_udfs
from incubator_impala_spark.sources.tables import load_table

QUERIES: dict = {}
ORACLE_SQL: dict = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def _engine_sql(spark: SparkSession, sf_dir: str, tables: list[str],
                impala_sql: str) -> DataFrame:
    """Run Impala-dialect SQL through the shim on registered views."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(dialect.translate(impala_sql, MACROS))


# ---------------------------------------------------------------------------
# String functions (string-functions-ir.cc, 1,542 LoC)
# ---------------------------------------------------------------------------


@_register(
    "fn_string_sweep",
    """
    SELECT c_custkey,
      length(c_name) AS name_len,
      upper(c_mktsegment) AS seg_up,
      lower(c_name) AS name_low,
      substr(c_name, 10, 4) AS sub4,
      left(c_name, 8) AS l8,
      right(c_name, 3) AS r3,
      lpad(CAST(c_custkey AS STRING), 6, '0') AS padded,
      concat_ws('|', c_mktsegment, c_name) AS joined,
      replace(c_name, 'Customer', 'C') AS repl,
      reverse(c_mktsegment) AS seg_rev,
      strpos(c_name, '#') AS hash_pos,
      split_part(c_name, '#', 2) AS after_hash,
      translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr_vowels,
      repeat(right(c_name, 1), 3) AS rep3,
      ascii(c_mktsegment) AS first_code,
      ltrim(rtrim(concat('  ', c_mktsegment, '  '))) AS trimmed,
      regexp_extract(c_name, '[0-9]+', 0) AS digits,
      regexp_replace(c_name, '0', 'x', 'g') AS zeros_x
    FROM customer
    """,
)
def fn_string_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strleft/strright/char_length are Impala spellings expanded by
    the macro shim; instr is Impala/Spark, strpos the DuckDB twin."""
    return _engine_sql(
        spark, sf_dir, ["customer"],
        """
        SELECT c_custkey,
          char_length(c_name) AS name_len,
          upper(c_mktsegment) AS seg_up,
          lower(c_name) AS name_low,
          substr(c_name, 10, 4) AS sub4,
          strleft(c_name, 8) AS l8,
          strright(c_name, 3) AS r3,
          lpad(CAST(c_custkey AS STRING), 6, '0') AS padded,
          concat_ws('|', c_mktsegment, c_name) AS joined,
          replace(c_name, 'Customer', 'C') AS repl,
          reverse(c_mktsegment) AS seg_rev,
          instr(c_name, '#') AS hash_pos,
          split_part(c_name, '#', 2) AS after_hash,
          translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr_vowels,
          repeat(strright(c_name, 1), 3) AS rep3,
          ascii(c_mktsegment) AS first_code,
          ltrim(rtrim(concat('  ', c_mktsegment, '  '))) AS trimmed,
          regexp_extract(c_name, '[0-9]+', 0) AS digits,
          regexp_replace(c_name, '0', 'x') AS zeros_x
        FROM customer
        """,
    )


# ---------------------------------------------------------------------------
# Math functions (math-functions-ir.cc, 798 LoC)
# ---------------------------------------------------------------------------


@_register(
    "fn_math_sweep",
    """
    SELECT p_partkey,
      abs(p_size - 25) AS dist25,
      CAST(ceil(CAST(p_retailprice AS DOUBLE)) AS BIGINT) AS price_ceil,
      CAST(floor(CAST(p_retailprice AS DOUBLE)) AS BIGINT) AS price_floor,
      CAST(round(CAST(p_retailprice AS DOUBLE), 1) AS DOUBLE) AS price_r1,
      CAST(sqrt(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_sqrt,
      CAST(ln(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_ln,
      CAST(log10(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_log10,
      CAST(pow(CAST(p_size AS DOUBLE), 2.0) AS DOUBLE) AS size_sq,
      CAST(sign(CAST(p_size - 25 AS DOUBLE)) AS INT) AS sgn,
      greatest(p_size, 10) AS g10,
      least(p_size, 10) AS l10,
      ((p_size % 7) + 7) % 7 AS pm7,
      p_size // 7 AS quot7,
      CAST(p_size AS BIGINT) AS trunc0,
      hex(p_size) AS size_hex,
      bin(p_size) AS size_bin,
      factorial(CAST(least(p_size % 10, 9) AS INTEGER)) AS fact,
      CASE WHEN p_size = 0 THEN NULL ELSE p_size END AS nz,
      coalesce(nullif(p_size, 15), 0) AS zif
    FROM part
    """,
)
def fn_math_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quotient/truncate/zeroifnull/nullifzero are macro expansions;
    pmod spelled as the universal ((a%b)+b)%b so both dialects agree
    on negative inputs."""
    return _engine_sql(
        spark, sf_dir, ["part"],
        """
        SELECT p_partkey,
          abs(p_size - 25) AS dist25,
          CAST(ceil(CAST(p_retailprice AS DOUBLE)) AS BIGINT) AS price_ceil,
          CAST(floor(CAST(p_retailprice AS DOUBLE)) AS BIGINT) AS price_floor,
          CAST(round(CAST(p_retailprice AS DOUBLE), 1) AS DOUBLE) AS price_r1,
          CAST(sqrt(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_sqrt,
          CAST(ln(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_ln,
          CAST(log10(CAST(p_size AS DOUBLE)) AS DECIMAL(18,9)) AS size_log10,
          CAST(pow(CAST(p_size AS DOUBLE), 2.0) AS DOUBLE) AS size_sq,
          CAST(sign(CAST(p_size - 25 AS DOUBLE)) AS INT) AS sgn,
          greatest(p_size, 10) AS g10,
          least(p_size, 10) AS l10,
          ((p_size % 7) + 7) % 7 AS pm7,
          quotient(p_size, 7) AS quot7,
          truncate(p_size) AS trunc0,
          hex(p_size) AS size_hex,
          bin(p_size) AS size_bin,
          factorial(least(p_size % 10, 9)) AS fact,
          nullifzero(p_size) AS nz,
          zeroifnull(nullif(p_size, 15)) AS zif
        FROM part
        """,
    )


# ---------------------------------------------------------------------------
# Date/timestamp functions (timestamp-functions-ir.cc 948 LoC,
# date-functions-ir.cc 330 LoC)
# ---------------------------------------------------------------------------


@_register(
    "fn_date_sweep",
    """
    SELECT o_orderkey,
      CAST(year(o_orderdate) AS INT) AS y,
      CAST(month(o_orderdate) AS INT) AS m,
      CAST(day(o_orderdate) AS INT) AS d,
      CAST(quarter(o_orderdate) AS INT) AS q,
      CAST(dayofyear(o_orderdate) AS INT) AS doy,
      CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
      CAST(week(o_orderdate) AS INT) AS wk,
      dayname(o_orderdate) AS dname,
      monthname(o_orderdate) AS mname,
      CAST(CAST(last_day(o_orderdate) AS DATE) AS STRING) AS eom,
      CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS STRING) AS plus30,
      CAST(CAST(o_orderdate - INTERVAL 7 DAY AS DATE) AS STRING) AS minus7,
      CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS STRING) AS plus2m,
      CAST(CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS STRING) AS plus1y,
      CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) AS mstart,
      datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00')
        AS days_to_2k
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def fn_date_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """days_add/months_add/years_add/dayname/monthname are macro
    expansions; Spark's dayofweek is 1-based-Sunday vs DuckDB's
    0-based — oracle shifts; datediff arg conventions differ —
    Impala/Spark datediff(end, start), DuckDB datediff('day', s, e)."""
    return _engine_sql(
        spark, sf_dir, ["orders"],
        """
        SELECT o_orderkey,
          CAST(year(o_orderdate) AS INT) AS y,
          CAST(month(o_orderdate) AS INT) AS m,
          CAST(day(o_orderdate) AS INT) AS d,
          CAST(quarter(o_orderdate) AS INT) AS q,
          CAST(dayofyear(o_orderdate) AS INT) AS doy,
          CAST(dayofweek(o_orderdate) AS INT) AS dow,
          CAST(weekofyear(o_orderdate) AS INT) AS wk,
          dayname(o_orderdate) AS dname,
          monthname(o_orderdate) AS mname,
          CAST(CAST(last_day(o_orderdate) AS DATE) AS STRING) AS eom,
          CAST(CAST(days_add(o_orderdate, 30) AS DATE) AS STRING) AS plus30,
          CAST(CAST(days_sub(o_orderdate, 7) AS DATE) AS STRING) AS minus7,
          CAST(CAST(months_add(o_orderdate, 2) AS DATE) AS STRING) AS plus2m,
          CAST(CAST(years_add(o_orderdate, 1) AS DATE) AS STRING) AS plus1y,
          CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) AS mstart,
          datediff(TIMESTAMP '2000-01-01 00:00:00', o_orderdate)
            AS days_to_2k
        FROM orders WHERE o_orderkey % 100 = 0
        """,
    )


# ---------------------------------------------------------------------------
# Conditional functions (conditional-functions*.cc, case-expr.cc)
# ---------------------------------------------------------------------------


@_register(
    "fn_conditional_sweep",
    """
    SELECT c_custkey,
      CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
        ELSE '?' END AS seg_code,
      CASE WHEN c_acctbal > 5000 THEN 'high'
           WHEN c_acctbal > 1000 THEN 'mid' ELSE 'low' END AS bal_band,
      coalesce(nullif(c_mktsegment, 'FURNITURE'), 'n/a') AS seg_nn,
      if(c_acctbal >= 0, 'ok', 'neg') AS bal_sign,
      coalesce(NULL, NULL, c_mktsegment) AS c3,
      CAST(c_acctbal > 1000 AS BOOLEAN) IS TRUE AS gt1k,
      (c_acctbal IS NULL) AS bal_null,
      nullif(c_custkey % 3, 0) AS nif3
    FROM customer
    """,
)
def fn_conditional_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isnull/istrue/nullvalue are Impala macro spellings; CASE/if/
    coalesce/nullif are common to both dialects."""
    return _engine_sql(
        spark, sf_dir, ["customer"],
        """
        SELECT c_custkey,
          CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
            ELSE '?' END AS seg_code,
          CASE WHEN c_acctbal > 5000 THEN 'high'
               WHEN c_acctbal > 1000 THEN 'mid' ELSE 'low' END AS bal_band,
          isnull(nullif(c_mktsegment, 'FURNITURE'), 'n/a') AS seg_nn,
          if(c_acctbal >= 0, 'ok', 'neg') AS bal_sign,
          coalesce(NULL, NULL, c_mktsegment) AS c3,
          istrue(c_acctbal > 1000) AS gt1k,
          nullvalue(c_acctbal) AS bal_null,
          nullif(c_custkey % 3, 0) AS nif3
        FROM customer
        """,
    )


# ---------------------------------------------------------------------------
# Edit-distance / similarity gap functions (reference impls in
# string-functions-ir.cc; ours are pandas UDFs — udfs.py). DuckDB has
# native levenshtein/jaro — the oracle for our slow-path UDFs.
# ---------------------------------------------------------------------------


@_register(
    "fn_edit_distance_sweep",
    """
    SELECT s_suppkey,
      levenshtein(s_name, 'Supplier#000000000') AS lev,
      CAST(jaro_winkler_similarity(s_name, 'Supplier#000000000')
        AS DECIMAL(18,9)) AS jw,
      md5(s_name) AS name_md5
    FROM supplier
    """,
)
def fn_edit_distance_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark: levenshtein native, jaro_winkler via our pandas UDF;
    DuckDB natives are the oracle. md5 anchors value-stable hashing."""
    register_udfs(spark)
    return _engine_sql(
        spark, sf_dir, ["supplier"],
        """
        SELECT s_suppkey,
          levenshtein(s_name, 'Supplier#000000000') AS lev,
          CAST(jaro_winkler_similarity(s_name, 'Supplier#000000000')
            AS DECIMAL(18,9)) AS jw,
          md5(s_name) AS name_md5
        FROM supplier
        """,
    )


# ---------------------------------------------------------------------------
# Predicates (like-predicate.cc LIKE/ILIKE/RLIKE, in-predicate.h,
# operators-ir.cc =/<=>/IS DISTINCT FROM, BETWEEN desugaring)
# ---------------------------------------------------------------------------


@_register(
    "fn_predicate_sweep",
    """
    SELECT c_custkey,
      c_name LIKE 'Customer#00000%' AS like_pfx,
      c_mktsegment ILIKE 'furn%' AS ilike_seg,
      regexp_matches(c_name, '0{3,}') AS rx_zeros,
      c_custkey BETWEEN 100 AND 500 AS in_range,
      c_mktsegment IN ('BUILDING', 'MACHINERY') AS seg_in,
      nullif(c_mktsegment, 'FURNITURE') IS DISTINCT FROM c_mktsegment
        AS was_furniture,
      (c_acctbal > 5000) AND (c_custkey % 2 = 0) AS conj,
      (c_acctbal < 600) OR (c_custkey % 97 = 0) AS disj,
      NOT (c_mktsegment = 'AUTOMOBILE') AS neg
    FROM customer
    """,
)
def fn_predicate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE/ILIKE/RLIKE/BETWEEN/IN/IS DISTINCT FROM + compound
    predicates; Spark rlike == DuckDB regexp_matches."""
    return _engine_sql(
        spark, sf_dir, ["customer"],
        """
        SELECT c_custkey,
          c_name LIKE 'Customer#00000%' AS like_pfx,
          c_mktsegment ILIKE 'furn%' AS ilike_seg,
          c_name RLIKE '0{3,}' AS rx_zeros,
          c_custkey BETWEEN 100 AND 500 AS in_range,
          c_mktsegment IN ('BUILDING', 'MACHINERY') AS seg_in,
          nullif(c_mktsegment, 'FURNITURE') IS DISTINCT FROM c_mktsegment
            AS was_furniture,
          (c_acctbal > 5000) AND (c_custkey % 2 = 0) AS conj,
          (c_acctbal < 600) OR (c_custkey % 97 = 0) AS disj,
          NOT (c_mktsegment = 'AUTOMOBILE') AS neg
        FROM customer
        """,
    )


# ---------------------------------------------------------------------------
# Bit/byte functions (bit-byte-functions-ir.cc, 206 LoC): bitand/or/
# xor/not, shifts, rotate, getbit, countset — Impala spellings expand
# via macros; DuckDB uses operators + xor().
# ---------------------------------------------------------------------------


@_register(
    "fn_bitops_sweep",
    """
    SELECT p_partkey,
      p_size & 12 AS b_and,
      p_size | 3 AS b_or,
      xor(p_size, 21) AS b_xor,
      ~p_size AS b_not,
      p_size << 2 AS shl2,
      p_size >> 1 AS shr1,
      CAST(bit_count(p_size) AS INT) AS nbits,
      (p_size >> 3) & 1 AS bit3
    FROM part WHERE p_partkey % 10 = 0
    """,
)
def fn_bitops_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_sql(
        spark, sf_dir, ["part"],
        """
        SELECT p_partkey,
          bitand(p_size, 12) AS b_and,
          bitor(p_size, 3) AS b_or,
          bitxor(p_size, 21) AS b_xor,
          bitnot(p_size) AS b_not,
          shiftleft(p_size, 2) AS shl2,
          shiftright(p_size, 1) AS shr1,
          CAST(countset(p_size) AS INT) AS nbits,
          getbit(p_size, 3) AS bit3
        FROM part WHERE p_partkey % 10 = 0
        """,
    )


# ---------------------------------------------------------------------------
# DECIMAL_V2 arithmetic semantics (types.h:81-88 result-type rules;
# SURVEY.md hard part #2): engines differ on intermediate precision/
# scale (DuckDB divides to DOUBLE, Spark to DECIMAL), so every result
# is pinned to an explicit type. Division stays DOUBLE: a decimal pin
# would hit double→decimal tie-rounding divergence (Spark HALF_UP vs
# DuckDB half-even) on exactly-representable quotients like x/16.
# ---------------------------------------------------------------------------


@_register(
    "fn_decimal_sweep",
    """
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2))
         + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS d_add,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2))
         - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS d_sub,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2))
         * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(24,4)) AS d_mul,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
         / CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS d_div,
      CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1)
        AS DECIMAL(12,1)) AS d_round,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) % 100 AS DECIMAL(12,2))
        AS d_mod
    FROM lineitem WHERE l_orderkey % 500 = 0
    """,
)
def fn_decimal_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_sql(
        spark, sf_dir, ["lineitem"],
        """
        SELECT l_orderkey, l_linenumber,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2))
             + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS d_add,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2))
             - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS d_sub,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(24,4)) AS d_mul,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
             / CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS d_div,
          CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1)
            AS DECIMAL(12,1)) AS d_round,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) % 100 AS DECIMAL(12,2))
            AS d_mod
        FROM lineitem WHERE l_orderkey % 500 = 0
        """,
    )


# ---------------------------------------------------------------------------
# Masking functions (mask-functions-ir.cc, 735 LoC): Spark 3.4+ has
# native mask(); the oracle emulates the default char classes
# (upper→X, lower→x, digit→n) with global regex replaces.
# ---------------------------------------------------------------------------


@_register(
    "fn_mask_sweep",
    """
    SELECT c_custkey,
      regexp_replace(regexp_replace(regexp_replace(
        c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        AS masked,
      regexp_replace(regexp_replace(regexp_replace(
        c_name, '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#', 'g')
        AS masked_custom,
      concat(
        regexp_replace(regexp_replace(regexp_replace(
          substr(c_name, 1, 4), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
          '[0-9]', 'n', 'g'),
        substr(c_name, 5)) AS mask_f4,
      concat(substr(c_name, 1, 4),
        regexp_replace(regexp_replace(regexp_replace(
          substr(c_name, 5), '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
          '[0-9]', 'n', 'g')) AS show_f4,
      lower(sha256(c_name)) AS name_sha
    FROM customer WHERE c_custkey % 25 = 0
    """,
)
def fn_mask_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_sql(
        spark, sf_dir, ["customer"],
        """
        SELECT c_custkey,
          mask(c_name) AS masked,
          mask(c_name, 'U', 'l', '#') AS masked_custom,
          mask_first_n(c_name) AS mask_f4,
          mask_show_first_n(c_name, 4) AS show_f4,
          mask_hash(c_name) AS name_sha
        FROM customer WHERE c_custkey % 25 = 0
        """,
    )


# ---------------------------------------------------------------------------
# UDA surface (SURVEY.md §2.12): a user-defined aggregate as a pandas
# GROUPED_AGG UDF — the Spark shape of the reference's
# Init/Update/Merge/Finalize UDA contract (be/src/udf/udf.h:383-399).
# Exactness: money folds as integer cents inside the UDF, so the
# result is a single exact-int division — bit-identical to the oracle.
# ---------------------------------------------------------------------------


@_register(
    "fn_uda_weighted_avg",
    """
    SELECT event_type,
      CAST(SUM(CAST(round(value * 100) AS BIGINT) * (event_id % 5 + 1))
        AS DOUBLE) / (100.0 * SUM(event_id % 5 + 1)) AS wavg,
      CAST(SUM(event_id % 5 + 1) AS BIGINT) AS total_w
    FROM events GROUP BY event_type
    """,
)
def fn_uda_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wavg(v, w):
        cents = (v * 100).round().astype("int64")
        sw = int(w.sum())
        return int((cents * w).sum()) / (100.0 * sw)

    # real annotation objects: the module-wide `from __future__ import
    # annotations` would stringify inline hints, which pyspark's
    # GROUPED_AGG inference can't resolve
    _wavg.__annotations__ = {"v": pd.Series, "w": pd.Series, "return": float}
    weighted_avg_cents = pandas_udf(_wavg, "double")

    def _wsum(w):
        return int(w.sum())

    _wsum.__annotations__ = {"w": pd.Series, "return": int}
    weight_sum = pandas_udf(_wsum, "long")

    ev = load_table(spark, sf_dir, "events")
    w = (F.col("event_id") % 5 + 1).cast("long")
    return (
        ev.select("event_type", "value", w.alias("w"))
        .groupBy("event_type")
        .agg(
            weighted_avg_cents("value", "w").alias("wavg"),
            weight_sum("w").alias("total_w"),
        )
    )


# ---------------------------------------------------------------------------
# DataSketches KLL quantile family (BuiltinsDb.java:1327-1374;
# datasketches-functions-ir.cc) on Spark's native DataSketches KLL
# (kll_sketch_agg_float: one JVM ObjectHashAggregate, partial + merge,
# so only ~KB sketches cross the exchange).
# Oracle contract: an estimator can't hash-match an exact engine, so
# the entry returns *validated* quantile quality — the realized rank
# of each estimated quantile must sit within 0.05 of its target (KLL
# k=200 delivers ~0.013), which the oracle states as constants. A
# group with no values (all-NULL `value`) has nothing outside the
# bound, so its flags are 1 too. The exact per-group row count rides
# along as a hard-matched value.
# ---------------------------------------------------------------------------
@_register(
    "fn_sketch_kll",
    """
    SELECT event_type,
      CAST(1 AS INT) AS q25_ok, CAST(1 AS INT) AS q50_ok,
      CAST(1 AS INT) AS q75_ok, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def fn_sketch_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sk = "kll_sketch_agg_float(cast(value as float))"
    # an empty sketch (no non-NULL value) is rejected by the getters
    est = ev.groupBy(F.col("event_type").alias("k")).agg(F.expr(
        f"if(kll_sketch_get_n_float({sk}) = 0, null, "
        f"kll_sketch_get_quantile_float({sk}, array(0.25d, 0.5d, 0.75d)))"
    ).alias("q"))
    # null-safe key: the NULL event_type group is checked like any other
    joined = ev.join(
        F.broadcast(est), ev["event_type"].eqNullSafe(est["k"]), "left")

    def ok(i: int, target: float):
        realized = F.avg(
            (F.col("value").cast("float") <= F.col("q")[i]).cast("double"))
        return F.coalesce(
            (F.abs(realized - F.lit(target)) < 0.05).cast("int"), F.lit(1))

    return joined.groupBy("event_type").agg(
        ok(0, 0.25).alias("q25_ok"),
        ok(1, 0.50).alias("q50_ok"),
        ok(2, 0.75).alias("q75_ok"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# sampled_ndv (BuiltinsDb.java:1086; SampledNdvState,
# aggregate-functions-ir.cc:1950+): NDV extrapolated from a sample.
# Our sample is the deterministic md5-prefix predicate (portable to
# DuckDB verbatim), frequencies are exact over the sample, and the
# Duj1 extrapolation is plain double arithmetic — every output column
# hash-matches, estimator included.
# ---------------------------------------------------------------------------
@_register(
    "fn_sampled_ndv",
    """
    WITH sample AS (
      SELECT o_custkey FROM orders
      WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 8) < '80000000'
    ),
    freq AS (SELECT o_custkey, COUNT(*) AS c FROM sample GROUP BY o_custkey),
    agg AS (SELECT COUNT(*) AS d,
                   SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
                   SUM(c) AS n
            FROM freq)
    SELECT CAST(d AS BIGINT) AS sample_distinct,
           CAST(f1 AS BIGINT) AS singletons,
           CAST(n AS BIGINT) AS sample_rows,
           CAST(round(CAST(d AS DOUBLE) /
                (1 - 0.5 * CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE)))
             AS BIGINT) AS ndv_estimate
    FROM agg
    """,
)
def fn_sampled_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_impala_spark.operators.sampling import sampled_ndv

    orders = load_table(spark, sf_dir, "orders")
    return sampled_ndv(orders, "o_custkey", key="o_orderkey", fraction=0.5)


# ---------------------------------------------------------------------------
# histogram (BuiltinsDb.java:1001; HistogramFinalize,
# aggregate-functions-ir.cc:1413-1435): min(n,100) sorted-sample values
# at indices (i+1)*max(n/100,1)-1, comma-joined. The DuckDB oracle
# reproduces the exact index formula over list_sort(list(..)), so the
# whole output string is compared bit-for-bit.
# ---------------------------------------------------------------------------
@_register(
    "fn_histogram",
    """
    WITH s AS (SELECT list_sort(list(l_quantity)) AS v,
                      count(l_quantity) AS n
               FROM lineitem)
    SELECT array_to_string(
             list_transform(range(1, CAST(least(n, 100) AS BIGINT) + 1),
                            i -> regexp_replace(
                                   CAST(v[CAST(i * greatest(n // 100, 1)
                                               AS BIGINT)] AS VARCHAR),
                                   '^(-?\\d+)\\.0$', '\\1')),
             ', ') AS h
    FROM s
    """,
)
def fn_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine_sql(
        spark, sf_dir, ["lineitem"],
        "SELECT histogram(l_quantity) AS h FROM lineitem",
    )
