"""Sketch helpers the native Spark functions do not cover.

The reference's DataSketches families run on Spark's native JVM
functions as dialect macros (`functions/registry.py::MACROS`): HLL on
`hll_sketch_agg` & co., KLL (`ds_kll_*`) on `kll_sketch_agg_float` & co.
Both embed Apache DataSketches, the library the reference vendors in
be/src/thirdparty/datasketches. What is left here is the HLL debug
printers, which read the sketch preamble that Spark does not expose,
and the sampled-NDV extrapolation.
"""

from __future__ import annotations


def register(spark) -> None:
    """Install the ds_hll_* printer UDFs on the session."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # HLL debug printers over the DataSketches HLL binary that
    # Spark's hll_sketch_agg emits. The preamble layout (HllUtil.hpp):
    # byte3 lgK, byte6 LIST couponCount / HLL curMin, byte7 lo2bits curMode +
    # next2 tgtHllType; SET count int32 LE at byte 8. Bounds follow
    # CouponList-internal.hpp:328-344 for LIST/SET —
    # est/(1 ± kappa*COUPON_RSE) clamped to couponCount, COUPON_RSE =
    # 0.409/2^13 — and the sqrt-RSE approximation of
    # HllArray::get{Lower,Upper}Bound for HLL mode (the reference's
    # lgK<=12 table-lookup variant isn't reproduced; the tests only
    # exercise coupon-mode sketches). Doubles print as C++ default
    # ostream formatting (6 significant digits), matching
    # datasketches-functions-ir.cc's stringstream output.
    _COUPON_RSE = 0.409 / (1 << 13)

    def _hll_parse(b: bytes):
        lgk = b[3]
        mode = b[7] & 3
        tgt = (b[7] >> 2) & 3
        count = None
        if mode == 0:
            count = b[6]
        elif mode == 1:
            count = int.from_bytes(b[8:12], "little")
        return (lgk, ("LIST", "SET", "HLL")[mode],
                ("HLL_4", "HLL_6", "HLL_8")[tgt], count)

    def _hll_bounds(b: bytes, est: float, kappa: int):
        import math

        lgk, mode, _tgt, count = _hll_parse(b)
        if mode in ("LIST", "SET"):
            lb = max(est / (1.0 + kappa * _COUPON_RSE), float(count))
            ub = max(est / (1.0 - kappa * _COUPON_RSE), float(count))
        else:
            rel = kappa * 1.03896 / math.sqrt(1 << lgk)
            lb, ub = est / (1.0 + rel), est / (1.0 - rel)
        return lb, ub

    def _cxx(v: float) -> str:
        return f"{v:g}"

    def _hll_bounds_as_string(s, est, kappa):
        out = []
        for b, e, k in zip(s, est, kappa):
            if b is None or e is None or len(b) < 8:
                out.append(None)
                continue
            k = int(k)
            if k < 1 or k > 3:
                out.append(None)  # reference raises; NULL is the
                continue          # non-aborting analogue
            lb, ub = _hll_bounds(bytes(b), float(e), k)
            out.append(f"{_cxx(float(e))},{_cxx(lb)},{_cxx(ub)}")
        return pd.Series(out, dtype="object")

    _hll_bounds_as_string.__annotations__ = {
        "s": pd.Series, "est": pd.Series, "kappa": pd.Series,
        "return": pd.Series,
    }
    hll_bounds_as_string = pandas_udf(_hll_bounds_as_string, "string")

    def _hll_stringify(s, est):
        out = []
        for b, e in zip(s, est):
            if b is None or e is None or len(b) < 8:
                out.append(None)
                continue
            b = bytes(b)
            lgk, mode, tgt, _count = _hll_parse(b)
            lb, ub = _hll_bounds(b, float(e), 1)
            out.append(
                "### HLL sketch summary: "
                f"Log Config K : {lgk}; Hll Target : {tgt}; "
                f"Current Mode : {mode}; LB : {_cxx(lb)}; "
                f"Estimate : {_cxx(float(e))}; UB : {_cxx(ub)}; "
                "### End HLL sketch summary")
        return pd.Series(out, dtype="object")

    _hll_stringify.__annotations__ = {
        "s": pd.Series, "est": pd.Series, "return": pd.Series,
    }
    hll_stringify = pandas_udf(_hll_stringify, "string")

    spark.udf.register("ds_hll_bounds_impl", hll_bounds_as_string)
    spark.udf.register("ds_hll_stringify_impl", hll_stringify)


def sampled_ndv_estimate(d: int, f1: int, sample_n: int, fraction: float) -> int:
    """Extrapolate NDV from a sample: Duj1 estimator (Haas et al.,
    SIGMOD'95 — the same estimator family the reference's curve-fit
    SampledNdvFinalize approximates, aggregate-functions-ir.cc:2100+):

        D_hat = d / (1 - (1 - q) * f1 / n)

    d = distinct values in sample, f1 = values seen exactly once,
    n = sample row count, q = sampling fraction.
    """
    if sample_n == 0:
        return 0
    if fraction >= 1.0:
        return d
    denom = 1.0 - (1.0 - fraction) * f1 / sample_n
    if denom <= 0:
        denom = 1.0 / sample_n
    return int(round(d / denom))
