"""Time-series modeling over the order feed (charter extension):
Holt double-exponential smoothing, segmented-trend breakpoint search,
and residual-autocorrelation diagnostics.

The family's shared scale shape: 100 TB of facts collapse to a
CALENDAR-BOUNDED series (months, hours) in one map-side-combinable
groupBy, and every recurrence/window thereafter runs on that provably
tiny domain — the same collapsed-state argument as the graph kernels
(``graph_ops``) and the survey scalings (``ipf_raking_weights``).

Determinism: series values are exact integer cents/counts; recurrences
run in integer arithmetic with TRUNCATING division (DuckDB's ``//`` and
Spark SQL's ``div`` both truncate toward zero — Python's ``//`` floors,
so the pandas kernel uses an explicit truncating helper); closed-form
fits use exact integer moments and pinned double chains (the
``hourly_autocorrelation`` contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.registry import query

# Holt smoothing weights as exact rationals (alpha = 3/10, beta = 2/10)
# and the forecast horizon. Integer-cent state with truncating division
# keeps every step exact and engine-identical.
HOLT_A_NUM = 3
HOLT_B_NUM = 2
HOLT_DEN = 10
HOLT_HORIZON = 3

_MONTH_IDX_SQL = (
    "CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12"
    " + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT)"
)


def _monthly_revenue_cents(orders: DataFrame) -> DataFrame:
    """The (m, y) monthly order-revenue series — the ONE Spark twin of
    ``_MONTH_IDX_SQL`` shared by every query in this module, so the
    month epoch / cents rounding can only ever change in two places
    (this helper and the SQL constant), not per query."""
    return orders.groupBy(
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("m")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (b > 0) — the semantics
    Spark SQL ``div`` and DuckDB ``//`` share; Python's ``//`` floors,
    which differs on negative dividends (a trend CAN go negative)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def holt_linear_kernel(pdf):
    """Holt's linear (double exponential smoothing) recurrence on a
    (m, y) monthly frame: l_t = (A·y_t + (D−A)·(l+b)) trunc-div D,
    b_t = (B·(l_t − l) + (D−B)·b) trunc-div D, initialized l_1 = y_1,
    b_1 = y_2 − y_1. Emits one-step-ahead fits for t ≥ 2 and
    HOLT_HORIZON forecast rows off the final state. Module-level (the
    bt_mm_kernel convention) so the recurrence is directly unit-testable
    against hand-walked series."""
    import pandas as pd

    pdf = pdf.sort_values("m").reset_index(drop=True)
    n = len(pdf)
    out_m: list[int] = []
    out_kind: list[str] = []
    out_y: list = []
    out_yhat: list[int] = []
    if n >= 2:
        ms = [int(v) for v in pdf["m"]]
        ys = [int(v) for v in pdf["y"]]
        l, b = ys[0], ys[1] - ys[0]
        for t in range(1, n):
            yhat = l + b  # one-step-ahead from the PREVIOUS state
            out_m.append(ms[t])
            out_kind.append("fit")
            out_y.append(ys[t])
            out_yhat.append(yhat)
            l_new = _tdiv(HOLT_A_NUM * ys[t] + (HOLT_DEN - HOLT_A_NUM) * (l + b), HOLT_DEN)
            b = _tdiv(HOLT_B_NUM * (l_new - l) + (HOLT_DEN - HOLT_B_NUM) * b, HOLT_DEN)
            l = l_new
        for h in range(1, HOLT_HORIZON + 1):
            out_m.append(ms[-1] + h)
            out_kind.append("forecast")
            out_y.append(None)
            out_yhat.append(l + h * b)
    return pd.DataFrame(
        {"m": out_m, "kind": out_kind, "y_cents": out_y, "yhat_cents": out_yhat}
    )


def _sql_holt_stage() -> str:
    # Built from the SAME module constants the Spark kernel reads, so
    # retuning the smoothing rationals cannot silently desynchronize
    # the oracle from the kernel (it would otherwise break parity only
    # at selfcheck time).
    l_new = f"({HOLT_A_NUM} * i.y + {HOLT_DEN - HOLT_A_NUM} * (r.l + r.b)) // {HOLT_DEN}"
    return f"""
    rec AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             (SELECT y FROM idx WHERE rn = 1) AS l,
             (SELECT y FROM idx WHERE rn = 2)
               - (SELECT y FROM idx WHERE rn = 1) AS b
      WHERE (SELECT n FROM nn) >= 2
      UNION ALL
      SELECT r.rn + 1,
             {l_new},
             ({HOLT_B_NUM} * ({l_new} - r.l) + {HOLT_DEN - HOLT_B_NUM} * r.b) // {HOLT_DEN}
      FROM rec r JOIN idx i ON i.rn = r.rn + 1
    )"""


@query(
    "holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE monthly AS (
      SELECT {_MONTH_IDX_SQL} AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY m
    ), idx AS (
      SELECT m, y, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    {_sql_holt_stage()}
    SELECT i.m, 'fit' AS kind, i.y AS y_cents,
           CAST(p.l + p.b AS BIGINT) AS yhat_cents
    FROM idx i JOIN rec p ON p.rn = i.rn - 1
    UNION ALL
    SELECT (SELECT MAX(m) FROM idx) + h.h, 'forecast',
           CAST(NULL AS BIGINT),
           CAST(fin.l + h.h * fin.b AS BIGINT)
    FROM (SELECT l, b FROM rec WHERE rn = (SELECT n FROM nn)) fin
    CROSS JOIN (SELECT UNNEST([{", ".join(str(h) for h in range(1, HOLT_HORIZON + 1))}]) AS h) h
    ORDER BY m, kind
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear trend method (double exponential smoothing,
    α = {HOLT_A_NUM}/{HOLT_DEN}, β = {HOLT_B_NUM}/{HOLT_DEN}) on monthly
    order revenue: the level+trend recursive smoother capacity and
    revenue plans actually run (``seasonal_naive_backtest`` is the
    baseline it must beat; ``monthly_seasonality_index`` supplies the
    seasonal factors a Holt-Winters extension would multiply in).
    Output: each month's one-step-ahead fit (the backtest residual feed)
    plus {HOLT_HORIZON} months of trend forecasts.

    Determinism: revenue is exact integer cents; the recurrence runs in
    integer arithmetic with TRUNCATING division — Spark's kernel uses an
    explicit trunc-div helper because DuckDB's ``//`` truncates where
    Python's ``//`` floors (they differ on negative trends) — and the
    oracle walks the identical recurrence as a recursive CTE, so both
    engines visit byte-identical (level, trend) states. Series shorter
    than 2 months emit nothing under identical guards.

    Scale shape: the fact table collapses to the CALENDAR-BOUNDED
    monthly series in one map-side-combinable groupBy; the recurrence is
    inherently sequential (each state consumes the previous), so it runs
    in ONE pandas kernel over that collapsed series — the
    bt_mm_kernel/pagerank convention: driver-shaped where state is
    provably tiny, never a row-scale loop. Per-key fleets of series
    (one per part, per region) would groupBy the key and run the same
    kernel per group in parallel."""
    orders = load(spark, sf_dir, "orders")
    monthly = _monthly_revenue_cents(orders)
    out = monthly.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda pdf: holt_linear_kernel(pdf),
        "m long, kind string, y_cents long, yhat_cents long",
    )
    return out.orderBy("m", "kind")


@query(
    "piecewise_linear_breakpoint",
    oracle=f"""
    WITH monthly AS (
      SELECT {_MONTH_IDX_SQL} AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY m
    ), pre AS (
      SELECT m,
             ROW_NUMBER() OVER (ORDER BY m) AS rn,
             SUM(CAST(1 AS HUGEINT)) OVER w AS n_l,
             SUM(CAST(m AS HUGEINT)) OVER w AS sx_l,
             SUM(CAST(y AS HUGEINT)) OVER w AS sy_l,
             SUM(CAST(m AS HUGEINT) * m) OVER w AS sxx_l,
             SUM(CAST(m AS HUGEINT) * y) OVER w AS sxy_l,
             SUM(CAST(y AS HUGEINT) * y) OVER w AS syy_l
      FROM monthly
      WINDOW w AS (ORDER BY m ROWS UNBOUNDED PRECEDING)
    ), tot AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(m AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(m AS HUGEINT) * m) AS sxx,
             SUM(CAST(m AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM monthly
    ), cand AS (
      SELECT p.m AS breakpoint_m,
             CAST(p.n_l AS BIGINT) AS n_left,
             CAST(t.n - p.n_l AS BIGINT) AS n_right,
             (p.n_l * p.sxy_l - p.sx_l * p.sy_l) AS cxy_l,
             (p.n_l * p.sxx_l - p.sx_l * p.sx_l) AS cxx_l,
             (p.n_l * p.syy_l - p.sy_l * p.sy_l) AS cyy_l,
             ((t.n - p.n_l) * (t.sxy - p.sxy_l)
               - (t.sx - p.sx_l) * (t.sy - p.sy_l)) AS cxy_r,
             ((t.n - p.n_l) * (t.sxx - p.sxx_l)
               - (t.sx - p.sx_l) * (t.sx - p.sx_l)) AS cxx_r,
             ((t.n - p.n_l) * (t.syy - p.syy_l)
               - (t.sy - p.sy_l) * (t.sy - p.sy_l)) AS cyy_r
      FROM pre p CROSS JOIN tot t
      WHERE p.n_l >= 2 AND t.n - p.n_l >= 2
    ), scored AS (
      SELECT breakpoint_m, n_left, n_right,
             (cyy_l * cxx_l - cxy_l * cxy_l) * 100 // (n_left * cxx_l)
             + (cyy_r * cxx_r - cxy_r * cxy_r) * 100 // (n_right * cxx_r)
               AS sse_i2,
             CASE WHEN cxy_l < 0 THEN -1 ELSE 1 END
               * (abs(cxy_l) * 1000000 // (cxx_l * 100)) AS slope_l_i6,
             CASE WHEN cxy_r < 0 THEN -1 ELSE 1 END
               * (abs(cxy_r) * 1000000 // (cxx_r * 100)) AS slope_r_i6
      FROM cand WHERE cxx_l > 0 AND cxx_r > 0
    )
    SELECT breakpoint_m, n_left, n_right,
           CAST(slope_l_i6 AS DOUBLE) / 1e6 AS slope_left,
           CAST(slope_r_i6 AS DOUBLE) / 1e6 AS slope_right,
           CAST(sse_i2 // 1000000 AS BIGINT) AS sse_dollars2
    FROM scored ORDER BY sse_i2, breakpoint_m LIMIT 1
    """,
)
def piecewise_linear_breakpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-trend breakpoint search on monthly order revenue: fit
    two least-squares lines (months ≤ k, months > k) for every candidate
    split month k and report the split minimizing total SSE with the
    slopes either side — the "when did the trend change" readout
    (``cusum_changepoint`` detects LEVEL shifts on a stream; this finds
    the SLOPE break on the aggregate series, the growth-inflection
    question).

    Determinism: every candidate's centered moments (n·Σxy − ΣxΣy etc.)
    are EXACT decimal(38,0)/HUGEINT built from inclusive prefix sums
    over the month domain (right segment = total − prefix); NO doubles
    touch the search — each candidate's SSE freezes to an exact i2
    integer via int_div_exact ((cyy·cxx − cxy²)·100 div (n·cxx), the
    ANOVA idiom), so the (sse, k) argmin is an integer sort with the
    month as tie-break; slopes emit as i6-floored signed magnitudes and
    SSE as integer dollars² (giant-integer→double casts are NOT
    engine-identical: DuckDB's HUGEINT→DOUBLE rounds twice past 2^64 —
    measured, the reason this query avoids them). Candidates need ≥ 2
    points a side. Exactness bounds: cyy·cxx·100 inside decimal(38)
    while monthly revenue < ~1e13 cents; sse_dollars2 inside int64 to
    ~sf1000 — rescale y to dollars past either.

    Scale shape: one map-side-combinable monthly collapse; prefix sums,
    candidate scoring, and the argmin (TakeOrdered 1) all run on the
    CALENDAR-BOUNDED month domain — the documented bounded-domain
    window exception."""
    orders = load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    monthly = _monthly_revenue_cents(orders)
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    md, yd = F.col("m").cast(dec), F.col("y").cast(dec)
    pre = monthly.select(
        "m",
        F.sum(F.lit(1).cast(dec)).over(w).alias("n_l"),
        F.sum(md).over(w).alias("sx_l"),
        F.sum(yd).over(w).alias("sy_l"),
        F.sum(md * md).over(w).alias("sxx_l"),
        F.sum(md * yd).over(w).alias("sxy_l"),
        F.sum(yd * yd).over(w).alias("syy_l"),
    )
    tot = monthly.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(md).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(md * md).alias("sxx"),
        F.sum(md * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"),
    )
    c = pre.crossJoin(F.broadcast(tot)).filter(
        (F.col("n_l") >= 2) & (F.col("n") - F.col("n_l") >= 2)
    )
    # cxx > 0 holds for every candidate (>= 2 DISTINCT months a side),
    # and the filter below also reaches the scan before the divisions
    # via predicate pushdown; the int_div_exact denominators are never
    # zero on a surviving row.
    n_r = F.col("n") - F.col("n_l")
    cxy_l = F.col("n_l") * F.col("sxy_l") - F.col("sx_l") * F.col("sy_l")
    cxx_l = F.col("n_l") * F.col("sxx_l") - F.col("sx_l") * F.col("sx_l")
    cyy_l = F.col("n_l") * F.col("syy_l") - F.col("sy_l") * F.col("sy_l")
    cxy_r = n_r * (F.col("sxy") - F.col("sxy_l")) - (
        F.col("sx") - F.col("sx_l")
    ) * (F.col("sy") - F.col("sy_l"))
    cxx_r = n_r * (F.col("sxx") - F.col("sxx_l")) - (
        F.col("sx") - F.col("sx_l")
    ) * (F.col("sx") - F.col("sx_l"))
    cyy_r = n_r * (F.col("syy") - F.col("syy_l")) - (
        F.col("sy") - F.col("sy_l")
    ) * (F.col("sy") - F.col("sy_l"))
    from bigdata_2025_1_spark.functions.exact import int_div_exact

    def slope_i6(cxy, cxx):
        # i6-floored magnitude with the sign applied afterwards: both
        # engines truncate toward zero (DuckDB // on non-negative
        # operands, int_div_exact by construction)
        return F.when(cxy < 0, F.lit(-1).cast(dec)).otherwise(
            F.lit(1).cast(dec)
        ) * int_div_exact(F.abs(cxy) * 1_000_000, cxx * 100)

    scored = (
        c.select(
            F.col("m").alias("breakpoint_m"),
            F.col("n_l").cast("bigint").alias("n_left"),
            n_r.cast("bigint").alias("n_right"),
            (
                int_div_exact(
                    (cyy_l * cxx_l - cxy_l * cxy_l) * 100,
                    F.col("n_l") * cxx_l,
                )
                + int_div_exact(
                    (cyy_r * cxx_r - cxy_r * cxy_r) * 100,
                    n_r * cxx_r,
                )
            ).alias("sse_i2"),
            slope_i6(cxy_l, cxx_l).alias("slope_l_i6"),
            slope_i6(cxy_r, cxx_r).alias("slope_r_i6"),
            cxx_l.alias("cxx_l"),
            cxx_r.alias("cxx_r"),
        )
        .filter((F.col("cxx_l") > 0) & (F.col("cxx_r") > 0))
    )
    return (
        scored.orderBy("sse_i2", "breakpoint_m")
        .limit(1)
        .select(
            "breakpoint_m",
            "n_left",
            "n_right",
            (F.col("slope_l_i6").cast("double") / F.lit(1e6)).alias("slope_left"),
            (F.col("slope_r_i6").cast("double") / F.lit(1e6)).alias("slope_right"),
            int_div_exact(F.col("sse_i2"), F.lit(1_000_000).cast(dec))
            .cast("bigint")
            .alias("sse_dollars2"),
        )
    )


@query(
    "durbin_watson_hourly",
    oracle="""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY hidx
    ), based AS (
      SELECT hidx - (SELECT MIN(hidx) FROM hourly) AS x, y FROM hourly
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM based
    ), fit AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS a
      FROM m WHERE n >= 3 AND n * sxx - sx * sx > 0
    ), resid AS (
      SELECT x,
             CAST(ROUND((y - fit.a - fit.b * x) * 1e6) AS HUGEINT) AS e_i6
      FROM based CROSS JOIN fit
    ), lagged AS (
      SELECT e_i6, LAG(e_i6) OVER (ORDER BY x) AS e_prev FROM resid
    ), sums AS (
      SELECT SUM(CASE WHEN e_prev IS NULL THEN 0
                      ELSE (e_i6 - e_prev) * (e_i6 - e_prev) END) AS num,
             SUM(e_i6 * e_i6) AS den
      FROM lagged
    )
    SELECT CAST(f.n AS BIGINT) AS n_hours,
           ROUND(f.b, 6) AS slope,
           ROUND(f.a, 6) AS intercept,
           CASE WHEN s.den > 0 THEN
             ROUND(CAST(s.num AS DOUBLE) / CAST(s.den AS DOUBLE), 6)
           END AS dw_stat
    FROM fit f CROSS JOIN sums s
    """,
)
def durbin_watson_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of a linear trend fit to
    HOURLY event counts: DW = Σ(e_t − e_{t−1})² / Σe_t², the classic
    "are the regression errors autocorrelated" diagnostic (DW ≈ 2 means
    none; ≪ 2 positive autocorrelation — exactly what a diurnal load
    pattern produces, so on this feed DW ≪ 2 is the expected read, and
    the right response is the seasonal terms
    ``hourly_autocorrelation`` / ``seasonal_hourly_residuals`` feed).

    Determinism: the OLS fit comes from exact integer moments over
    REBASED hour indexes (x − min keeps products tiny); slope and
    intercept are one pinned chain; each hour-TYPE residual rounds once
    to i6 and the DW sums are exact decimal(38,0)/HUGEINT over those
    integers — one final division, rounded to 6. Fits need n ≥ 3 and a
    non-degenerate x spread; a zero residual vector returns NULL DW —
    identical guards both engines. Consecutive-hour differencing runs
    over the OBSERVED hour sequence (gaps are treated as adjacent — the
    convention, stated).

    Scale shape: the fact stream collapses to the calendar-bounded hour
    spine once (map-side-combinable); the residual join broadcasts the
    1-row fit; the lag runs over the bounded hour domain — the
    documented exception class."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").alias("y"))
    hmin = hourly.agg(F.min("hidx").alias("h0"))
    based = hourly.crossJoin(F.broadcast(hmin)).select(
        (F.col("hidx") - F.col("h0")).alias("x"), "y"
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = based.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
    )
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = cxy.cast("double") / cxx.cast("double")
    a = F.col("sy").cast("double") / F.col("n").cast("double") - b * (
        F.col("sx").cast("double") / F.col("n").cast("double")
    )
    fit = m.filter((F.col("n") >= 3) & (cxx > 0)).select(
        F.col("n").alias("n"), b.alias("b"), a.alias("a")
    )
    resid = based.crossJoin(F.broadcast(fit)).select(
        "x",
        "n",
        F.round((F.col("y") - F.col("a") - F.col("b") * F.col("x")) * F.lit(1e6))
        .cast(dec)
        .alias("e_i6"),
        "a",
        "b",
    )
    wl = Window.orderBy("x")
    lagged = resid.select(
        "n",
        "a",
        "b",
        "e_i6",
        F.lag("e_i6").over(wl).alias("e_prev"),
    )
    sums = lagged.groupBy("n", "a", "b").agg(
        F.sum(
            F.when(F.col("e_prev").isNull(), F.lit(0).cast(dec)).otherwise(
                (F.col("e_i6") - F.col("e_prev")) * (F.col("e_i6") - F.col("e_prev"))
            )
        ).alias("num"),
        F.sum(F.col("e_i6") * F.col("e_i6")).alias("den"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(F.col("b"), 6).alias("slope"),
        F.round(F.col("a"), 6).alias("intercept"),
        F.when(
            F.col("den") > 0,
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6),
        ).alias("dw_stat"),
    )


LB_MAX_LAG = 24  # one diurnal cycle of hourly lags


@query(
    "ljung_box_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY hidx
    ), pos AS (
      SELECT ROW_NUMBER() OVER (ORDER BY hidx) AS t, x FROM hourly
    ), st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(x), 0) AS BIGINT) AS s
      FROM pos
    ), c AS (
      SELECT pos.t, CAST(st.n * pos.x - st.s AS HUGEINT) AS c
      FROM pos CROSS JOIN st
    ), dn AS (
      SELECT SUM(c * c) AS den FROM c
    ), lags AS (
      SELECT unnest([{", ".join(str(k) for k in range(1, LB_MAX_LAG + 1))}]) AS k
    ), nums AS (
      SELECT l.k, SUM(a.c * b.c) AS num
      FROM lags l JOIN c a ON a.t > l.k JOIN c b ON b.t = a.t - l.k
      GROUP BY l.k
    ), r AS (
      SELECT l.k, st.n,
             CASE WHEN dn.den > 0
                  THEN CAST(nm.num AS DOUBLE) / CAST(dn.den AS DOUBLE)
             END AS rk
      FROM lags l CROSS JOIN st CROSS JOIN dn
      LEFT JOIN nums nm ON nm.k = l.k
      WHERE l.k <= st.n - 1
    )
    SELECT k AS lag_k, ROUND(rk, 6) AS acf,
           ROUND(CAST(n * (n + 2) AS DOUBLE)
                 * SUM(rk * rk / (n - k))
                   OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW), 6) AS q_lb,
           CAST(k AS BIGINT) AS dof
    FROM r ORDER BY lag_k
    """,
)
def ljung_box_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau on the hourly event-count series: the
    cumulative "is there ANY autocorrelation in the first h lags" test
    — for each lag k <= {LB_MAX_LAG} (one diurnal cycle), the series
    autocorrelation r_k and the portmanteau Q(h=k) = n(n+2)
    sum_{{j<=k}} r_j^2/(n-j) with dof = k. ``durbin_watson_hourly``
    checks lag 1 of a trend fit; this sweeps a whole day of lags on the
    raw series, the standard residual-whiteness readout. Convention
    (shared with DW): positions are the OBSERVED hour sequence ranked
    by hour — gaps are treated as adjacent, stated.

    Determinism: with S = sum(x) and the fully-integer centering
    c_t = n*x_t - S, every r_k is the ratio of two exact
    decimal(38)/HUGEINT sums (the n^2 scaling cancels); Q accumulates
    r_j^2/(n-j) in ascending-lag order in both engines (identical IEEE
    sequence), rounded to 6. A constant series (den 0) yields NULL
    acf/Q through the identical guard; series with n <= k emit no row
    for that lag.

    Scale shape: ONE map-side-combinable fact collapse to the calendar-
    bounded hour spine; centering broadcasts the 2-number scalar state;
    the lag pairing is a bounded spine self-join ({LB_MAX_LAG} x n_hours
    rows); ranking and the cumulative Q run on the bounded domain — the
    documented unpartitioned-window exception class."""
    ev = load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").cast("bigint").alias("x"))
    pos = hourly.select(
        F.row_number().over(Window.orderBy("hidx")).alias("t"), "x"
    )
    st = pos.agg(
        F.count("*").cast("bigint").alias("n"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("s"),
    )
    c = pos.crossJoin(F.broadcast(st)).select(
        "t",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).cast(dec).alias("c"),
    ).localCheckpoint()
    dn = c.agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    lags = spark.range(1, LB_MAX_LAG + 1).select(F.col("id").cast("int").alias("k"))
    a = c.select(F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = c.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    nums = (
        lags.join(a, F.col("ta") > F.col("k"))
        .join(b, F.col("tb") == F.col("ta") - F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("num"))
    )
    r = (
        lags.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dn))
        .join(nums, "k", "left")
        .filter(F.col("k") <= F.col("n") - 1)
        .select(
            "k",
            "n",
            F.when(
                F.col("den") > 0,
                F.col("num").cast("double") / F.col("den").cast("double"),
            ).alias("rk"),
        )
    )
    wq = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return r.select(
        F.col("k").alias("lag_k"),
        F.round("rk", 6).alias("acf"),
        F.round(
            (F.col("n") * (F.col("n") + 2)).cast("double")
            * F.sum(
                F.col("rk") * F.col("rk") / (F.col("n") - F.col("k"))
            ).over(wq),
            6,
        ).alias("q_lb"),
        F.col("k").cast("bigint").alias("dof"),
    ).orderBy("lag_k")


PH_DELTA = 1.0   # per-step slack: fluctuations below this don't accumulate
PH_LAMBDA = 50.0  # alarm threshold on the PH statistic (count units)


@query(
    "page_hinkley_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY hidx
    ), pos AS (
      SELECT hidx, x,
             ROW_NUMBER() OVER (ORDER BY hidx) AS t,
             CAST(SUM(x) OVER (ORDER BY hidx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      FROM hourly
    ), dev AS (
      SELECT hidx, x, t,
             CAST(ROUND(1e6 * (x::DOUBLE - s / t - {PH_DELTA})) AS BIGINT) AS d_i6
      FROM pos
    ), cum AS (
      SELECT hidx, x, t,
             CAST(SUM(d_i6) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m_i6
      FROM dev
    ), ph AS (
      SELECT hidx, x, t, m_i6,
             CAST(MIN(m_i6) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mm_i6
      FROM cum
    )
    SELECT hidx, x AS n_events,
           ROUND((m_i6 - mm_i6) / 1e6, 6) AS ph_stat,
           (m_i6 - mm_i6 > {PH_LAMBDA} * 1e6) AS alarm
    FROM ph ORDER BY hidx
    """,
)
def page_hinkley_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector on the hourly event-count
    series (Page 1954 / the streaming-drift standard): accumulate
    m_t = sum(x_i - mean_i - delta) against its running minimum; when
    the gap PH_t = m_t - min m exceeds lambda, the mean has shifted up
    — the change detector ML monitoring stacks run on feature and
    traffic streams, here as the BATCH prefix-scan (a replay of what
    the streaming operator would have emitted hour by hour, replayable
    because every state is a prefix function). Constants: delta =
    {PH_DELTA} (per-step slack), lambda = {PH_LAMBDA}. The
    point-anomaly companion is ``event_rate_anomaly``;
    ``cusum_changepoint`` locates a single retrospective break, PH
    flags WHEN an online monitor would have fired.

    Determinism: each deviation term rounds ONCE to integer millionths
    (the running mean s/t is the identical double divide in both
    engines); the cumulative sum and running minimum are INTEGER
    prefix scans, so PH is an exact integer difference; the alarm
    compares integers against the scaled literal threshold.

    Scale shape: one map-side-combinable fact collapse to the
    calendar-bounded hour spine; all four scans are windows over that
    bounded domain (the documented exception class) — nothing
    fact-sized enters a window."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").cast("bigint").alias("x"))
    wo = Window.orderBy("hidx")
    w_incl = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos = hourly.select(
        "hidx",
        "x",
        F.row_number().over(wo).alias("t"),
        F.sum("x").over(w_incl).cast("bigint").alias("s"),
    )
    dev = pos.select(
        "hidx",
        "x",
        "t",
        F.round(
            1e6
            * (
                F.col("x").cast("double")
                - F.col("s") / F.col("t")
                - F.lit(PH_DELTA)
            )
        )
        .cast("bigint")
        .alias("d_i6"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = dev.select(
        "hidx", "x", "t", F.sum("d_i6").over(wt).cast("bigint").alias("m_i6")
    )
    ph = cum.select(
        "hidx",
        "x",
        "m_i6",
        F.min("m_i6").over(wt).cast("bigint").alias("mm_i6"),
        "t",
    )
    return ph.select(
        "hidx",
        F.col("x").alias("n_events"),
        F.round((F.col("m_i6") - F.col("mm_i6")) / 1e6, 6).alias("ph_stat"),
        ((F.col("m_i6") - F.col("mm_i6")) > PH_LAMBDA * 1e6).alias("alarm"),
    ).orderBy("hidx")


# Holt-Winters additive seasonal extension: gamma as an exact rational
# over the SAME denominator as alpha/beta, season length, and horizon
# (horizon <= season so forecast seasonals read straight off the final
# queue). All three smoothing rationals feed both the kernel and the
# oracle from these constants (the holt desync lesson).
HW_GAMMA_NUM = 2
HW_SEASON = 12
HW_HORIZON = 6


def holt_winters_kernel(pdf):
    """Additive Holt-Winters recurrence on a (m, y) monthly frame, all
    integer state with truncating division. Init (stated convention):
    l = trunc-mean of season 1, b = trunc((mean2 - mean1)/M),
    s_i = y_i - l for the first season; the seasonal queue advances one
    slot per OBSERVED month (gaps adjacent, the durbin_watson
    convention). Emits one-step-ahead fits for t > M and HW_HORIZON
    forecasts off the final state. Needs n >= 2*M, else empty."""
    import pandas as pd

    M = HW_SEASON
    pdf = pdf.sort_values("m").reset_index(drop=True)
    n = len(pdf)
    out = {"m": [], "kind": [], "y_cents": [], "yhat_cents": []}
    if n >= 2 * M:
        ms = [int(v) for v in pdf["m"]]
        ys = [int(v) for v in pdf["y"]]
        a1 = _tdiv(sum(ys[:M]), M)
        a2 = _tdiv(sum(ys[M : 2 * M]), M)
        l, b = a1, _tdiv(a2 - a1, M)
        s = [y - a1 for y in ys[:M]]
        for t in range(M, n):
            head = s[0]
            out["m"].append(ms[t])
            out["kind"].append("fit")
            out["y_cents"].append(ys[t])
            out["yhat_cents"].append(l + b + head)
            l_new = _tdiv(
                HOLT_A_NUM * (ys[t] - head) + (HOLT_DEN - HOLT_A_NUM) * (l + b),
                HOLT_DEN,
            )
            b = _tdiv(
                HOLT_B_NUM * (l_new - l) + (HOLT_DEN - HOLT_B_NUM) * b, HOLT_DEN
            )
            s = s[1:] + [
                _tdiv(
                    HW_GAMMA_NUM * (ys[t] - l_new)
                    + (HOLT_DEN - HW_GAMMA_NUM) * head,
                    HOLT_DEN,
                )
            ]
            l = l_new
        for h in range(1, HW_HORIZON + 1):
            out["m"].append(ms[-1] + h)
            out["kind"].append("forecast")
            out["y_cents"].append(None)
            out["yhat_cents"].append(l + h * b + s[h - 1])
    return pd.DataFrame(out)


def _sql_hw_stage() -> str:
    # Derived from the same module constants as the kernel.
    a, bnum, g, d = HOLT_A_NUM, HOLT_B_NUM, HW_GAMMA_NUM, HOLT_DEN
    l_new = f"({a} * (i.y - r.s[1]) + {d - a} * (r.l + r.b)) // {d}"
    return f"""
    rec AS (
      SELECT CAST({HW_SEASON} AS BIGINT) AS rn,
             (SELECT SUM(y) FROM idx WHERE rn <= {HW_SEASON}) // {HW_SEASON} AS l,
             ((SELECT SUM(y) FROM idx
               WHERE rn > {HW_SEASON} AND rn <= {2 * HW_SEASON}) // {HW_SEASON}
              - (SELECT SUM(y) FROM idx WHERE rn <= {HW_SEASON}) // {HW_SEASON})
               // {HW_SEASON} AS b,
             (SELECT list((y - (SELECT SUM(y) FROM idx WHERE rn <= {HW_SEASON})
                               // {HW_SEASON}) ORDER BY rn)
              FROM idx WHERE rn <= {HW_SEASON}) AS s
      WHERE (SELECT n FROM nn) >= {2 * HW_SEASON}
      UNION ALL
      SELECT r.rn + 1,
             {l_new},
             ({bnum} * ({l_new} - r.l) + {d - bnum} * r.b) // {d},
             r.s[2:] ||
               [({g} * (i.y - ({l_new})) + {d - g} * r.s[1]) // {d}]
      FROM rec r JOIN idx i ON i.rn = r.rn + 1
    )"""


@query(
    "holt_winters_forecast",
    oracle=f"""
    WITH RECURSIVE monthly AS (
      SELECT {_MONTH_IDX_SQL} AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY m
    ), idx AS (
      SELECT m, y, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM monthly
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    {_sql_hw_stage()}
    SELECT i.m, 'fit' AS kind, i.y AS y_cents,
           CAST(p.l + p.b + p.s[1] AS BIGINT) AS yhat_cents
    FROM idx i JOIN rec p ON p.rn = i.rn - 1
    UNION ALL
    SELECT (SELECT MAX(m) FROM idx) + h.h, 'forecast',
           CAST(NULL AS BIGINT),
           CAST(fin.l + h.h * fin.b + fin.s[h.h] AS BIGINT)
    FROM (SELECT l, b, s FROM rec WHERE rn = (SELECT n FROM nn)) fin
    CROSS JOIN (SELECT UNNEST([{", ".join(str(h) for h in range(1, HW_HORIZON + 1))}]) AS h) h
    ORDER BY m, kind
    """,
)
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing,
    α = {HOLT_A_NUM}/{HOLT_DEN}, β = {HOLT_B_NUM}/{HOLT_DEN},
    γ = {HW_GAMMA_NUM}/{HOLT_DEN}, season M = {HW_SEASON} months) on
    monthly order revenue — the seasonal completion the
    ``holt_linear_forecast`` docstring promises: level + trend +
    a rotating {HW_SEASON}-slot seasonal queue, one-step-ahead fits for
    every month after the first season and {HW_HORIZON} months of
    seasonal forecasts (horizon <= season, so forecast seasonals read
    straight off the final queue). Init convention (stated): level =
    trunc-mean of season 1, trend = trunc of the season-over-season
    mean change per month, seasonals = season-1 deviations; the
    seasonal phase advances one slot per OBSERVED month (gaps
    adjacent).

    Determinism: revenue is exact integer cents; level, trend, and all
    {HW_SEASON} seasonals evolve in integer arithmetic with TRUNCATING
    division, and the oracle's recursive CTE carries the seasonal
    queue as a LIST column through the identical update — both engines
    visit byte-identical (l, b, s[1..M]) states. Series shorter than
    2 seasons emit nothing under identical guards.

    Scale shape: the fact table collapses to the calendar-bounded
    monthly series; the recurrence is inherently sequential and runs
    as ONE pandas kernel over that collapsed series (the holt/bt_mm
    convention); per-key fleets would groupBy the key."""
    orders = load(spark, sf_dir, "orders")
    monthly = _monthly_revenue_cents(orders)
    out = monthly.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda pdf: holt_winters_kernel(pdf),
        "m long, kind string, y_cents long, yhat_cents long",
    )
    return out.orderBy("m", "kind")


def round_half_away(v: float) -> int:
    """Round to the nearest integer with ties HALF AWAY FROM ZERO —
    the semantics of Spark's ``F.round`` and DuckDB's ``ROUND``.
    Python's built-in ``round()`` is half-to-even (banker's rounding)
    and diverges from both engines on an exact .5, so every Python twin
    of an engine-side ``ROUND`` must use this instead.

    The naive ``floor(v + 0.5)`` is WRONG for doubles just below a .5
    boundary: ``v + 0.5`` itself rounds up in IEEE arithmetic (e.g.
    0.49999999999999994 + 0.5 == 1.0 exactly), so it would return 1
    where both engines return 0 (ADVICE r10). Instead compare the
    fractional part exactly — ``v - floor(v)`` is exact in IEEE 754
    (Sterbenz lemma territory: both operands within 2x of each other
    once v >= 0.5; below that floor(v) == 0 and the subtraction is
    trivially exact), so ``f >= 0.5`` is the true mathematical test."""
    import math

    if v >= 0:
        fl = math.floor(v)
        return int(fl) + 1 if v - fl >= 0.5 else int(fl)
    ce = math.ceil(v)
    return int(ce) - 1 if ce - v >= 0.5 else int(ce)


def page_hinkley_update(state, xs):
    """Online Page-Hinkley state transition — the STREAMING form of
    ``page_hinkley_hourly``'s arithmetic (that query replays this
    detector as a batch prefix scan; this function IS the per-trigger
    update a foreachBatch monitor keeps between micro-batches). State
    is the 4-tuple (t, s, m_i6, mm_i6); ``xs`` is the next run of
    hourly counts in hour order. Each hour rounds ONCE to integer
    millionths — via ``round_half_away``, matching F.round / DuckDB
    ROUND tie semantics exactly (Python's round() is half-to-even and
    would diverge on an exact .5 in 1e6*(x - s/t - delta)) — and
    accumulates in integers, byte-identical to the batch query — tested
    against it across a two-micro-batch stream in
    tests/test_streaming.py."""
    t, s, m, mm = state
    out = []
    for x in xs:
        t += 1
        s += int(x)
        m += round_half_away(1e6 * (int(x) - s / t - PH_DELTA))
        mm = min(mm, m)
        out.append((round((m - mm) / 1e6, 6), (m - mm) > PH_LAMBDA * 1e6))
    return (t, s, m, mm), out


PH_STATE_ZERO = (0, 0, 0, 0)


def holt_winters_update(state, ys):
    """Online Holt-Winters state transition — the per-trigger form of
    ``holt_winters_kernel`` (which replays this as one batch pass). An
    online monitor cannot initialize until two full seasons have
    arrived (the trend init peeks at season 2's mean), so the state
    buffers the first 2*HW_SEASON values; on the tick that completes
    the warm-up it initializes (l, b, s) per the kernel convention and
    retroactively emits season 2's one-step fits, then steps truly
    online. State: (buffer, l, b, s_queue) with l=None during warm-up;
    returns (state, fits) where fits are one-step-ahead (y, yhat)
    pairs in month order. Chunking-invariant by construction —
    property-tested against the batch kernel over random splits."""
    M = HW_SEASON
    buf, l, b, s = state
    out = []
    for y in ys:
        y = int(y)
        if l is None:
            buf = buf + [y]
            if len(buf) == 2 * M:
                a1 = _tdiv(sum(buf[:M]), M)
                a2 = _tdiv(sum(buf[M:]), M)
                l, b = a1, _tdiv(a2 - a1, M)
                s = [v - a1 for v in buf[:M]]
                for yy in buf[M:]:
                    l, b, s, yhat = _hw_step(l, b, s, yy)
                    out.append((yy, yhat))
                buf = []
            continue
        l, b, s, yhat = _hw_step(l, b, s, y)
        out.append((y, yhat))
    return (buf, l, b, s), out


def _hw_step(l, b, s, y):
    """One Holt-Winters recurrence step (shared by the batch kernel's
    loop body semantics); returns the new state and the one-step-ahead
    prediction made BEFORE consuming y."""
    head = s[0]
    yhat = l + b + head
    l_new = _tdiv(
        HOLT_A_NUM * (y - head) + (HOLT_DEN - HOLT_A_NUM) * (l + b), HOLT_DEN
    )
    b_new = _tdiv(HOLT_B_NUM * (l_new - l) + (HOLT_DEN - HOLT_B_NUM) * b, HOLT_DEN)
    s_new = s[1:] + [
        _tdiv(HW_GAMMA_NUM * (y - l_new) + (HOLT_DEN - HW_GAMMA_NUM) * head, HOLT_DEN)
    ]
    return l_new, b_new, s_new, yhat


HW_STATE_ZERO = ([], None, None, None)


def holt_winters_forecast_from_state(state, horizon=HW_HORIZON):
    """Seasonal forecasts off an initialized online state (horizon <=
    HW_SEASON, the queue-read convention); [] during warm-up."""
    _buf, l, b, s = state
    if l is None:
        return []
    return [l + h * b + s[h - 1] for h in range(1, horizon + 1)]


# One-sided upward CUSUM (Page 1954, the reset-to-zero online form):
# warm-up length, per-hour slack k, and alarm threshold h. All integer;
# the statistic is tracked scaled by CUSUM_WARM so the warm-up mean
# never becomes a division (S'_t = WARM * S_t exactly).
CUSUM_WARM = 24
CUSUM_SLACK = 1
CUSUM_H = 30


@query(
    "cusum_online_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY hidx
    ), idx AS (
      SELECT hidx, x, CAST(ROW_NUMBER() OVER (ORDER BY hidx) AS BIGINT) AS rn
      FROM hourly
    ), warm AS (
      SELECT CAST(SUM(x) AS BIGINT) AS t FROM idx WHERE rn <= {CUSUM_WARM}
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    post AS (
      SELECT i.hidx, i.x, i.rn,
             CAST(SUM({CUSUM_WARM} * i.x - w.t
                      - {CUSUM_WARM * CUSUM_SLACK}) OVER (ORDER BY i.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
      FROM idx i CROSS JOIN warm w CROSS JOIN nn
      WHERE i.rn > {CUSUM_WARM} AND nn.n > {CUSUM_WARM}
    ), s AS (
      SELECT hidx, x,
             p - LEAST(0, CAST(MIN(p) OVER (ORDER BY hidx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
               AS s_scaled
      FROM post
    )
    SELECT hidx, x AS n_events,
           CAST(s_scaled AS BIGINT) AS cusum_scaled,
           ROUND(s_scaled / {CUSUM_WARM}.0, 6) AS cusum_stat,
           s_scaled > {CUSUM_WARM * CUSUM_H} AS alarm
    FROM s ORDER BY hidx
    """,
)
def cusum_online_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upward CUSUM detector on the hourly event-count series
    — the ONLINE (reset-to-zero) Page form: after a {CUSUM_WARM}-hour
    warm-up fixes the reference level, track S_t = max(0, S_t-1 + x_t -
    mu - k) and alarm when S_t > h. The third member of the sequential
    family: ``cusum_changepoint`` locates a single retrospective break
    (max-|S| over the whole series), ``page_hinkley_hourly`` uses a
    running mean, this one is the fixed-target control chart an online
    monitor actually runs once calibrated. Batch form = a replay of
    what the online detector would have emitted hour by hour
    (replayable because the clamp is the prefix identity
    S_t = P_t - min(0, min_j<=t P_j)); ``cusum_update`` is the
    per-trigger state transition, byte-identical, with a foreachBatch
    twin in tests/test_streaming.py. Constants: k = {CUSUM_SLACK}
    events/hour slack, h = {CUSUM_H} (count units).

    Determinism: the warm-up mean never divides — everything is scaled
    by {CUSUM_WARM} (S'_t = WARM*S_t, an exact integer: WARM*x - T_warm
    - WARM*k per step), so the prefix sum, the clamped statistic, and
    the alarm comparison are pure integer arithmetic in both engines;
    the only double is the ROUND(S'/WARM, 6) display column. Series of
    <= {CUSUM_WARM} hours emit nothing under identical guards.

    Overflow: |P_t| <= WARM * total_events ~ 2.4e13 at 1e12 events —
    comfortably inside int64 at any realistic scale.

    Scale shape: one map-side-combinable fact collapse to the
    calendar-bounded hour spine; the prefix sum and running minimum are
    windows over that bounded domain (the documented exception class);
    in production the operator runs as the online form per-trigger, not
    as a batch replay."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(F.count("*").cast("bigint").alias("x"))
    wo = Window.orderBy("hidx")
    idx = hourly.select(
        "hidx", "x", F.row_number().over(wo).cast("bigint").alias("rn")
    )
    warm = idx.filter(F.col("rn") <= CUSUM_WARM).agg(
        F.sum("x").cast("bigint").alias("t")
    )
    nn = idx.agg(F.count("*").cast("bigint").alias("n"))
    w_incl = Window.orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    post = (
        idx.crossJoin(F.broadcast(warm))
        .crossJoin(F.broadcast(nn))
        .filter((F.col("rn") > CUSUM_WARM) & (F.col("n") > CUSUM_WARM))
        .select(
            "hidx",
            "x",
            "rn",
            F.sum(
                CUSUM_WARM * F.col("x")
                - F.col("t")
                - F.lit(CUSUM_WARM * CUSUM_SLACK)
            )
            .over(w_incl)
            .cast("bigint")
            .alias("p"),
        )
    )
    w_h = Window.orderBy("hidx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = post.select(
        "hidx",
        "x",
        (
            F.col("p")
            - F.least(F.lit(0).cast("bigint"), F.min("p").over(w_h).cast("bigint"))
        ).alias("s_scaled"),
    )
    return s.select(
        "hidx",
        F.col("x").alias("n_events"),
        F.col("s_scaled").cast("bigint").alias("cusum_scaled"),
        F.round(F.col("s_scaled") / float(CUSUM_WARM), 6).alias("cusum_stat"),
        (F.col("s_scaled") > CUSUM_WARM * CUSUM_H).alias("alarm"),
    ).orderBy("hidx")


def cusum_update(state, xs):
    """Online CUSUM state transition — the per-trigger form of
    ``cusum_online_hourly`` (which replays this as a batch prefix
    scan). State is (n_seen, warm_total, p, pmin): during the first
    CUSUM_WARM hours only the warm-up total accumulates (nothing is
    emitted); afterwards each hour advances the scaled prefix sum and
    its running minimum in pure integers, byte-identical to the batch
    query. Returns (state, out) with one (cusum_scaled, alarm) pair per
    post-warm-up hour in this chunk. Chunking-invariant by construction
    — property-tested against the batch walk over random splits."""
    n, t, p, pmin = state
    out = []
    for x in xs:
        x = int(x)
        n += 1
        if n <= CUSUM_WARM:
            t += x
            continue
        p += CUSUM_WARM * x - t - CUSUM_WARM * CUSUM_SLACK
        pmin = min(pmin, p)
        s = p - min(0, pmin)
        out.append((s, s > CUSUM_WARM * CUSUM_H))
    return (n, t, p, pmin), out


CUSUM_STATE_ZERO = (0, 0, 0, 0)


# Classical additive seasonal decomposition (period M = SD_PERIOD): the
# 2xM centered moving average defines trend; month-slot means of the
# detrended series (centered to sum ~0) define the seasonal component.
SD_PERIOD = 12


@query(
    "seasonal_decompose_monthly",
    oracle=f"""
    WITH monthly AS (
      SELECT {_MONTH_IDX_SQL} AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY m
    ), idx AS (
      SELECT m, y, CAST(ROW_NUMBER() OVER (ORDER BY m) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM monthly
    ), tr AS (
      SELECT m, y, rn, n,
             CASE WHEN rn > {SD_PERIOD // 2} AND rn <= n - {SD_PERIOD // 2} THEN
               CAST(LAG(y, {SD_PERIOD // 2}) OVER w
                    + 2 * (SUM(y) OVER (ORDER BY rn
                        ROWS BETWEEN {SD_PERIOD // 2 - 1} PRECEDING
                                 AND {SD_PERIOD // 2 - 1} FOLLOWING))
                    + LEAD(y, {SD_PERIOD // 2}) OVER w AS BIGINT)
             END AS t24
      FROM idx WINDOW w AS (ORDER BY rn)
    ), det AS (
      SELECT m, y, rn, t24,
             CASE WHEN t24 IS NOT NULL THEN {2 * SD_PERIOD} * y - t24 END AS d24,
             m % {SD_PERIOD} AS slot
      FROM tr
    ), seas AS (
      SELECT slot, CAST(SUM(d24) AS BIGINT) // CAST(COUNT(d24) AS BIGINT) AS s24_raw
      FROM det WHERE d24 IS NOT NULL GROUP BY slot
    ), adj AS (
      SELECT CAST(SUM(s24_raw) AS BIGINT) // {SD_PERIOD} AS s_mean FROM seas
    ), seasc AS (
      SELECT slot, CAST(s24_raw - adj.s_mean AS BIGINT) AS s24
      FROM seas CROSS JOIN adj
    )
    SELECT d.m, d.y AS y_cents,
           CAST(d.t24 AS BIGINT) AS trend_i24,
           ROUND(d.t24 / {2 * SD_PERIOD}.0, 6) AS trend,
           s.s24 AS seasonal_i24,
           ROUND(s.s24 / {2 * SD_PERIOD}.0, 6) AS seasonal,
           CAST(d.d24 - s.s24 AS BIGINT) AS remainder_i24,
           ROUND((d.d24 - s.s24) / {2 * SD_PERIOD}.0, 6) AS remainder
    FROM det d JOIN seasc s ON s.slot = d.slot
    WHERE d.d24 IS NOT NULL
    ORDER BY d.m
    """,
)
def seasonal_decompose_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the
    ``statsmodels seasonal_decompose`` / pre-STL textbook method) of
    monthly order revenue: trend = the 2x{SD_PERIOD} centered moving
    average (the standard even-period convention: half weight on the
    two outermost months), seasonal = the per-month-slot mean of the
    detrended series centered to sum ~zero, remainder = what's left.
    The DIAGNOSTIC the forecasting family reads before model choice
    (``holt_winters_forecast`` assumes the seasonal queue this exposes;
    ``monthly_seasonality_index`` is the multiplicative cousin): a
    remainder with structure means the additive model is wrong.

    Determinism: everything derives from ONE integer scaling — trend is
    carried as t24 = y_{{t-6}} + 2*Σ y_{{t-5..t+5}} + y_{{t+6}} (exact
    24x the MA), detrended as d24 = 24*y - t24, slot means and the
    centering adjustment via truncating integer division, remainder as
    an exact integer difference. The doubles are four ROUND(x/24, 6)
    display casts of identical integers. Months without a full
    centered window (first/last {SD_PERIOD // 2}) drop under identical
    guards; slots never observed drop via the inner join.

    Scale shape: the fact table collapses to the calendar-bounded
    monthly series; the MA/lag windows and the slot means run on that
    bounded domain (the documented exception class); per-key fleets
    would groupBy the key. No Python, no recursion — pure window
    algebra in both engines."""
    orders = load(spark, sf_dir, "orders")
    monthly = _monthly_revenue_cents(orders)
    half = SD_PERIOD // 2
    wo = Window.orderBy("m")
    idx = monthly.select(
        "m",
        "y",
        F.row_number().over(wo).cast("bigint").alias("rn"),
        F.count("*").over(
            Window.orderBy("m").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    wr = Window.orderBy("rn")
    inner = Window.orderBy("rn").rowsBetween(-(half - 1), half - 1)
    t24 = F.when(
        (F.col("rn") > half) & (F.col("rn") <= F.col("n") - half),
        (
            F.lag("y", half).over(wr)
            + 2 * F.sum("y").over(inner)
            + F.lead("y", half).over(wr)
        ).cast("bigint"),
    )
    det = idx.select(
        "m",
        "y",
        t24.alias("t24"),
        (F.col("m") % SD_PERIOD).alias("slot"),
    ).withColumn(
        "d24",
        F.when(
            F.col("t24").isNotNull(), 2 * SD_PERIOD * F.col("y") - F.col("t24")
        ),
    )
    seas = (
        det.filter(F.col("d24").isNotNull())
        .groupBy("slot")
        .agg(
            F.expr("cast(sum(d24) as bigint) div cast(count(d24) as bigint)")
            .alias("s24_raw")
        )
    )
    adj = seas.agg(
        F.expr(f"cast(sum(s24_raw) as bigint) div {SD_PERIOD}").alias("s_mean")
    )
    seasc = seas.crossJoin(F.broadcast(adj)).select(
        "slot", (F.col("s24_raw") - F.col("s_mean")).cast("bigint").alias("s24")
    )
    scale = float(2 * SD_PERIOD)
    return (
        det.filter(F.col("d24").isNotNull())
        .join(F.broadcast(seasc), "slot")
        .select(
            "m",
            F.col("y").alias("y_cents"),
            F.col("t24").cast("bigint").alias("trend_i24"),
            F.round(F.col("t24") / scale, 6).alias("trend"),
            F.col("s24").alias("seasonal_i24"),
            F.round(F.col("s24") / scale, 6).alias("seasonal"),
            (F.col("d24") - F.col("s24")).cast("bigint").alias("remainder_i24"),
            F.round((F.col("d24") - F.col("s24")) / scale, 6).alias("remainder"),
        )
        .orderBy("m")
    )


# Wald SPRT on the hourly error rate: H0 p<=P0 vs H1 p>=P1 at
# alpha = beta = 0.05. The per-observation log-likelihood increments and
# the decision boundaries are computed ONCE here (Python) and embedded
# as integer-micro literals in BOTH engines, so no log ever runs
# engine-side (the DCG-gain-table convention).
import math as _sprt_math  # noqa: E402

SPRT_P0 = 0.15
SPRT_P1 = 0.25
SPRT_L1_I6 = round(1e6 * _sprt_math.log(SPRT_P1 / SPRT_P0))  # error obs
SPRT_L0_I6 = round(1e6 * _sprt_math.log((1 - SPRT_P1) / (1 - SPRT_P0)))
SPRT_A_I6 = round(1e6 * _sprt_math.log(19.0))  # (1-beta)/alpha = 19
SPRT_B_I6 = -SPRT_A_I6  # beta/(1-alpha) = 1/19


@query(
    "sprt_error_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hidx,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS e
      FROM events GROUP BY hidx
    ), cum AS (
      SELECT hidx, k, e,
             CAST(SUM(e * {SPRT_L1_I6} + (k - e) * ({SPRT_L0_I6}))
                  OVER w AS BIGINT) AS llr_i6
      FROM hourly WINDOW w AS (ORDER BY hidx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), crossed AS (
      SELECT hidx, k, e, llr_i6,
             CASE WHEN llr_i6 >= {SPRT_A_I6} THEN 'reject_h0'
                  WHEN llr_i6 <= {SPRT_B_I6} THEN 'accept_h0' END AS cr
      FROM cum
    )
    SELECT hidx, k AS n_events, e AS n_errors,
           llr_i6, ROUND(llr_i6 / 1e6, 6) AS llr,
           COALESCE(FIRST_VALUE(cr IGNORE NULLS) OVER (ORDER BY hidx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             'continue') AS status
    FROM crossed ORDER BY hidx
    """,
)
def sprt_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the hourly error
    rate (Wald 1945 — THE sequential test, optimal expected sample
    size): is the stream's error rate at the healthy {SPRT_P0} (H0) or
    the degraded {SPRT_P1} (H1)? Each event moves the log-likelihood
    ratio by ln(p1/p0) (error) or ln((1-p1)/(1-p0)) (ok); the monitor
    decides the FIRST time the cumulative LLR leaves
    (ln(β/(1-α)), ln((1-β)/α)) and the decision freezes (the classic
    stopping rule; the LLR column keeps accumulating for display). The
    fourth member of the sequential family — CUSUM/PH flag a CHANGE,
    SPRT renders a VERDICT between two named hypotheses at controlled
    α = β = 0.05; ``sprt_update`` is the per-trigger form with a
    foreachBatch twin.

    Determinism: the two increments and both boundaries are
    Python-computed integer-micro literals shared by both engines (no
    engine-side log); the LLR is an exact integer prefix sum of
    err/ok counts; the first-crossing freeze is FIRST_VALUE(...
    IGNORE NULLS) over the hour spine — identical semantics in both
    engines; the only double is the ROUND(llr/1e6, 6) display column.

    Scale shape: one map-side-combinable fact collapse to the
    calendar-bounded hour spine; two windows over that bounded domain
    (the documented exception class); in production the operator runs
    online per-trigger."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("hidx")
    ).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum((F.col("event_type") == "error").cast("bigint"))
        .cast("bigint")
        .alias("e"),
    )
    w = Window.orderBy("hidx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hourly.select(
        "hidx",
        "k",
        "e",
        F.sum(
            F.col("e") * SPRT_L1_I6 + (F.col("k") - F.col("e")) * SPRT_L0_I6
        )
        .over(w)
        .cast("bigint")
        .alias("llr_i6"),
    )
    cr = F.when(F.col("llr_i6") >= SPRT_A_I6, F.lit("reject_h0")).when(
        F.col("llr_i6") <= SPRT_B_I6, F.lit("accept_h0")
    )
    return (
        cum.withColumn("cr", cr)
        .select(
            "hidx",
            F.col("k").alias("n_events"),
            F.col("e").alias("n_errors"),
            "llr_i6",
            F.round(F.col("llr_i6") / 1e6, 6).alias("llr"),
            F.coalesce(
                F.first("cr", ignorenulls=True).over(w), F.lit("continue")
            ).alias("status"),
        )
        .orderBy("hidx")
    )


def sprt_update(state, obs):
    """Online SPRT state transition — the per-trigger form of
    ``sprt_error_rate``. State is (llr_i6, decision); ``obs`` is the
    next run of hourly (n_events, n_errors) pairs in hour order. The
    decision freezes at the first boundary crossing (Wald's stopping
    rule) while the LLR keeps accumulating, byte-identical to the
    batch replay. Returns (state, out) with one (llr_i6, status) pair
    per hour. Chunking-invariant by construction — property-tested
    against random splits."""
    llr, decision = state
    out = []
    for k, e in obs:
        k, e = int(k), int(e)
        llr += e * SPRT_L1_I6 + (k - e) * SPRT_L0_I6
        if decision is None:
            if llr >= SPRT_A_I6:
                decision = "reject_h0"
            elif llr <= SPRT_B_I6:
                decision = "accept_h0"
        out.append((llr, decision or "continue"))
    return (llr, decision), out


SPRT_STATE_ZERO = (0, None)


from bigdata_2025_1_spark.registry import ORACLES as _ORACLES  # noqa: E402

# Theil's U2 is emitted as an exact integer ppm ratio (sse_holt * 1e6
# intdiv sse_naive) BEFORE any double appears: squared cent errors
# overflow int64 (~1e20 at sf0.1) and giant-int -> double casts are not
# engine-identical (the piecewise_linear_breakpoint lesson), so the only
# doubles are sqrt(ppm/1e6) on a < 2^53 integer. Intermediates are
# decimal(38,0) / HUGEINT: sse * 1e6 stays < 1e29, far inside both.
THEIL_PPM = 1_000_000


@query(
    "theil_u_forecast_skill",
    oracle=f"""
    WITH holt AS (
      SELECT * FROM ({_ORACLES["holt_linear_forecast"]})
    ), fits AS (
      SELECT m, y_cents, yhat_cents FROM holt WHERE kind = 'fit'
    ), monthly AS (
      SELECT {_MONTH_IDX_SQL} AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY m
    ), naive AS (
      SELECT m, LAG(y) OVER (ORDER BY m) AS naive_cents FROM monthly
    ), j AS (
      SELECT f.m, f.y_cents, f.yhat_cents, n.naive_cents
      FROM fits f JOIN naive n ON n.m = f.m
      WHERE n.naive_cents IS NOT NULL
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_months,
             CAST(SUM(ABS(yhat_cents - y_cents)) AS BIGINT)
               AS mae_holt_sum_cents,
             CAST(SUM(ABS(naive_cents - y_cents)) AS BIGINT)
               AS mae_naive_sum_cents,
             SUM(CAST(yhat_cents - y_cents AS HUGEINT)
                 * (yhat_cents - y_cents)) AS sse_h,
             SUM(CAST(naive_cents - y_cents AS HUGEINT)
                 * (naive_cents - y_cents)) AS sse_n
      FROM j
    )
    SELECT n_eval_months, mae_holt_sum_cents, mae_naive_sum_cents,
           CASE WHEN sse_n > 0
                THEN CAST(sse_h * {THEIL_PPM} // sse_n AS BIGINT)
                END AS u2_sq_ppm,
           CASE WHEN sse_n > 0
                THEN sqrt(CAST(sse_h * {THEIL_PPM} // sse_n AS BIGINT)::DOUBLE
                          / {THEIL_PPM}.0)
                END AS theil_u2,
           CASE WHEN sse_n > 0
                THEN sse_h * {THEIL_PPM} // sse_n < {THEIL_PPM}
                END AS holt_beats_naive
    FROM s
    """,
)
def theil_u_forecast_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-SKILL scorecard — the time-series family's acceptance
    row (round-10 suite-composition theme): Theil's U2 of the Holt
    one-step-ahead fits against the naive random walk (yhat_t =
    y_(t-1)) on the SAME monthly revenue series, plus both MAE error
    masses. U2 < 1 means the smoother genuinely beats persistence —
    the go/no-go a capacity-planning pipeline gates a model swap on
    (``holt_linear_forecast``'s docstring names exactly this bar).

    The fit rows ARE the registered ``holt_linear_forecast`` query
    (composed, not re-derived — the eval can never drift from what the
    correctness gate checks; reconciliation-tested), joined to the
    lagged series on the month index.

    Determinism: squared cent errors are decimal(38,0)/HUGEINT exact;
    U2^2 is frozen as the integer ppm ratio sse_h*1e6 intdiv sse_n
    (truncating division, both operands positive) BEFORE any double —
    giant-int->double casts double-round past 2^64 in DuckDB, so no
    SSE is ever emitted or compared as a double; theil_u2 =
    sqrt(ppm/1e6) touches doubles only below 2^53; the skill gate is
    an INTEGER comparison (ppm < 1e6). A constant series (sse_n = 0)
    or a sub-2-month feed yields NULL ratio/verdict via identical
    CASE guards.

    Scale shape: one map-side-combinable fact collapse to the calendar
    series (shared with the Holt kernel), one lag window and the
    sequential recurrence on the provably month-bounded domain, a
    month-keyed equi-join, and a single scalar aggregate."""
    fits = holt_linear_forecast(spark, sf_dir).filter(
        F.col("kind") == "fit"
    ).select("m", "y_cents", "yhat_cents")
    monthly = _monthly_revenue_cents(load(spark, sf_dir, "orders"))
    w = Window.orderBy("m")
    naive = monthly.select(
        "m", F.lag("y").over(w).alias("naive_cents")
    ).filter(F.col("naive_cents").isNotNull())
    j = fits.join(naive, "m")
    eh = (F.col("yhat_cents") - F.col("y_cents")).cast("decimal(38,0)")
    en = (F.col("naive_cents") - F.col("y_cents")).cast("decimal(38,0)")
    s = j.agg(
        F.count("*").alias("n_eval_months"),
        F.sum(F.abs(F.col("yhat_cents") - F.col("y_cents")))
        .cast("bigint")
        .alias("mae_holt_sum_cents"),
        F.sum(F.abs(F.col("naive_cents") - F.col("y_cents")))
        .cast("bigint")
        .alias("mae_naive_sum_cents"),
        F.sum(eh * eh).alias("sse_h"),
        F.sum(en * en).alias("sse_n"),
    )
    ppm = F.expr(f"CAST((sse_h * {THEIL_PPM}) div sse_n AS BIGINT)")
    ok = F.col("sse_n") > 0
    return s.select(
        "n_eval_months",
        "mae_holt_sum_cents",
        "mae_naive_sum_cents",
        F.when(ok, ppm).alias("u2_sq_ppm"),
        F.when(ok, F.sqrt(ppm.cast("double") / F.lit(float(THEIL_PPM)))).alias(
            "theil_u2"
        ),
        F.when(ok, ppm < THEIL_PPM).alias("holt_beats_naive"),
    )



# z_{0.975} as the shared two-sided 5% gate literal (same value the
# ab_power_mde z-sum composes; frozen — no engine-side inverse CDF).
RUNS_Z_CRIT = "1.959963984540054"


@query(
    "residual_runs_test",
    oracle=f"""
    WITH holt AS (
      SELECT * FROM ({_ORACLES["holt_linear_forecast"]})
    ), resid AS (
      SELECT m, yhat_cents - y_cents AS e
      FROM holt WHERE kind = 'fit' AND yhat_cents <> y_cents
    ), signs AS (
      SELECT m, e > 0 AS pos,
             LAG(e > 0) OVER (ORDER BY m) AS prev_pos
      FROM resid
    ), s AS (
      SELECT CAST(COUNT(*) FILTER (pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) FILTER (NOT pos) AS BIGINT) AS n_neg,
             CAST(COUNT(*) FILTER (prev_pos IS NULL OR pos <> prev_pos)
                  AS BIGINT) AS n_runs
      FROM signs
    ), algebra AS (
      SELECT n_pos, n_neg, n_runs,
             2.0 * n_pos * n_neg / (n_pos + n_neg) + 1 AS mu,
             2.0 * n_pos * n_neg * (2 * n_pos * n_neg - (n_pos + n_neg))
               / (n_pos + n_neg) / (n_pos + n_neg)
               / (n_pos + n_neg - 1) AS var
      FROM s WHERE n_pos > 0 AND n_neg > 0
    )
    SELECT s.n_pos, s.n_neg, s.n_runs,
           a.mu AS expected_runs,
           CASE WHEN a.var > 0
                THEN (s.n_runs - a.mu) / sqrt(a.var) END AS z_score,
           CASE WHEN a.var > 0
                THEN abs((s.n_runs - a.mu) / sqrt(a.var)) < {RUNS_Z_CRIT}
                END AS residuals_random
    FROM s LEFT JOIN algebra a
      ON a.n_pos = s.n_pos AND a.n_neg = s.n_neg AND a.n_runs = s.n_runs
    """,
)
def residual_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-adequacy diagnostic closing the forecast family's loop:
    the Wald-Wolfowitz RUNS TEST on the signs of the composed
    ``holt_linear_forecast`` one-step-ahead residuals. A good smoother
    leaves residual signs patternless; too FEW runs means trend the
    model missed (positive errors clump), too MANY means
    overcorrection (signs alternate) — ``theil_u_forecast_skill`` says
    whether the model beats naive, this says whether what remains is
    noise. Zero residuals are dropped (the standard convention), runs
    are counted on the m-ordered sign sequence via one lag, and the
    normal approximation z = (R - mu)/sigma with mu = 2 n1 n2/n + 1,
    sigma^2 = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)) is gated two-sided
    at the shared {RUNS_Z_CRIT} literal.

    Determinism: n_pos/n_neg/n_runs are exact integers; mu and var are
    each ONE pinned chain of double ops over those integers (products
    <= ~1e7 at any calendar scale — far inside 2^53); the verdict
    compares |z| to a frozen literal. One-sided sign sets (n1 or n2
    zero), the degenerate n1 = n2 = 1 case (var = 0), and sub-2-month
    feeds yield NULL z / NULL verdict through identical guards.

    Scale shape: inherits the Holt collapse (facts -> calendar
    months); the sign/lag/run algebra is one window plus one scalar
    aggregate on the provably month-bounded residual series."""
    fits = holt_linear_forecast(spark, sf_dir).filter(F.col("kind") == "fit")
    resid = fits.select(
        "m", (F.col("yhat_cents") - F.col("y_cents")).alias("e")
    ).filter(F.col("e") != 0)
    w = Window.orderBy("m")
    signs = resid.select(
        (F.col("e") > 0).alias("pos"),
        F.lag(F.col("e") > 0).over(w).alias("prev_pos"),
    )
    s = signs.agg(
        F.count_if(F.col("pos")).alias("n_pos"),
        F.count_if(~F.col("pos")).alias("n_neg"),
        F.count_if(
            F.col("prev_pos").isNull() | (F.col("pos") != F.col("prev_pos"))
        ).alias("n_runs"),
    )
    n1, n2, r = F.col("n_pos"), F.col("n_neg"), F.col("n_runs")
    n = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / n + F.lit(1)
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2) * n1 * n2 - n) / n / n / (n - F.lit(1))
    )
    both = (n1 > 0) & (n2 > 0)
    z = (r - mu) / F.sqrt(var)
    ok_var = both & (var > 0)
    return s.select(
        "n_pos",
        "n_neg",
        "n_runs",
        F.when(both, mu).alias("expected_runs"),
        F.when(ok_var, z).alias("z_score"),
        F.when(ok_var, F.abs(z) < float(RUNS_Z_CRIT)).alias("residuals_random"),
    )
