"""Distributed classical statistics over the warehouse: closed-form
OLS regression, Welch's two-sample t-test, and robust (median/MAD)
outlier detection.

These are the "is this data drifting / which feature predicts what"
primitives a training-data pipeline runs next to its cleaning passes.
All three follow the repo's exactness discipline (SURVEY.md §5,
ROUND_NOTES round-3 fixed-point findings):

- **sufficient statistics in exact integer units** (quantity is
  integral, prices/values are cents-exact in the fixtures), summed as
  DECIMAL(38,0) so no engine-specific float summation order, decimal
  widening rule (DuckDB HUGEINT vs Spark BIGINT), or int64 overflow at
  larger SFs (the Gini lesson) can drift;
- derived doubles (slope, t, variance) are computed from those exact
  sums with the SAME expression tree on both engines and rounded to 6
  for cross-engine comparability (the cosine discipline);
- medians/MADs run on integer cents, where every percentile
  interpolation lands on an exactly-representable 0.25 grid — both
  engines produce bit-identical doubles regardless of their
  interpolation formula.

Scale posture: OLS and Welch are single-scan partial aggregations
(map-side combine, one shuffle on a tiny key). MAD is the canonical
two-pass algorithm (pass 1 medians, broadcast back, pass 2 deviation
medians) — exact percentiles need a full pass each; at 100 TB you
would swap ``percentile`` for ``percentile_approx`` and keep the same
dataflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql
from ..operators.skew import hist_running_totals as _hist_running_totals
from ..operators.skew import input_is_large as _input_is_large
from ..registry import query
from ..sources.batch import load_table


def _dec_sum(col: Column) -> Column:
    """Exact integer-domain sum: per-term DECIMAL(38,0) so the sum
    never overflows int64 and both engines agree on the result type."""
    return F.sum(col.cast("decimal(38,0)")).cast("decimal(38,0)")


# --- OLS: closed-form linear regression ------------------------------------

_OLS_ORACLE = """
WITH t AS (
    SELECT
        l_returnflag,
        CAST(l_quantity AS BIGINT) AS x,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s AS (
    SELECT
        l_returnflag,
        count(*) AS n,
        CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        CAST(sum(CAST(x * yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
        CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
    FROM t GROUP BY l_returnflag
)
SELECT
    l_returnflag, n,
    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
    CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
    CAST(syy AS DOUBLE) AS syy,
    round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) / 100, 6) AS slope,
    round(((CAST(sy AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE)) / 100, 6) AS intercept,
    round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
          / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM s
ORDER BY l_returnflag
"""


@query("ols_regression", _OLS_ORACLE)
def ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag OLS of extended price on quantity via the normal
    equations: one scan, map-side partial sums of the five sufficient
    statistics, one shuffle on a 3-value key. The sums are exact
    integers (DECIMAL(38,0) over quantity × price-cents products);
    slope/intercept/r² derive from them in doubles rounded to 6.

    The distributed shape — sufficient statistics, never row transfer —
    is how regression works at 100 TB; the closed form needs no
    iteration at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("yc"),
    )
    x, yc = F.col("x"), F.col("yc")
    s = t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(x).alias("sx"),
        _dec_sum(yc).alias("sy"),
        _dec_sum(x * x).alias("sxx"),
        _dec_sum(x * yc).alias("sxy"),
        _dec_sum(yc * yc).alias("syy"),
    )
    nD = F.col("n").cast("double")
    sxD = F.col("sx").cast("double")
    syD = F.col("sy").cast("double")
    sxxD = F.col("sxx").cast("double")
    sxyD = F.col("sxy").cast("double")
    syyD = F.col("syy").cast("double")
    num = nD * sxyD - sxD * syD
    den = nD * sxxD - sxD * sxD
    slope_raw = num / den
    return (
        s.select(
            "l_returnflag",
            "n",
            F.col("sx").cast("double").alias("sx"),
            F.col("sy").cast("double").alias("sy"),
            F.col("sxx").cast("double").alias("sxx"),
            F.col("sxy").cast("double").alias("sxy"),
            F.col("syy").cast("double").alias("syy"),
            F.round(slope_raw / 100, 6).alias("slope"),
            F.round(((syD - slope_raw * sxD) / nD) / 100, 6).alias("intercept"),
            F.round((num * num) / (den * (nD * syyD - syD * syD)), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


# --- Welch's t-test: each event type vs the rest ----------------------------

_WELCH_ORACLE = """
WITH t AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events
),
g AS (
    SELECT
        event_type,
        count(*) AS n,
        CAST(sum(CAST(vc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        CAST(sum(CAST(vc * vc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
    FROM t GROUP BY event_type
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS tn,
           CAST(sum(s) AS DECIMAL(38,0)) AS ts,
           CAST(sum(ss) AS DECIMAL(38,0)) AS tss
    FROM g
),
w AS (
    SELECT
        g.event_type, g.n, g.s, g.ss,
        tot.tn - g.n AS rn,
        CAST(tot.ts - g.s AS DECIMAL(38,0)) AS rs,
        CAST(tot.tss - g.ss AS DECIMAL(38,0)) AS rss
    FROM g, tot
),
v AS (
    SELECT
        event_type, n, s, ss, rn, rs, rss,
        round((CAST(ss AS DOUBLE) / 10000.0
               - (CAST(s AS DOUBLE) / 100.0) * (CAST(s AS DOUBLE) / 100.0)
                 / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1), 6) AS var_t,
        round((CAST(rss AS DOUBLE) / 10000.0
               - (CAST(rs AS DOUBLE) / 100.0) * (CAST(rs AS DOUBLE) / 100.0)
                 / CAST(rn AS DOUBLE))
              / (CAST(rn AS DOUBLE) - 1), 6) AS var_r
    FROM w
)
SELECT
    event_type, n, CAST(s AS DOUBLE) AS s, CAST(ss AS DOUBLE) AS ss,
    round(CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE), 6) AS mean_t,
    round(CAST(rs AS DOUBLE) / 100.0 / CAST(rn AS DOUBLE), 6) AS mean_r,
    var_t, var_r,
    round((CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
           - CAST(rs AS DOUBLE) / 100.0 / CAST(rn AS DOUBLE))
          / sqrt(var_t / CAST(n AS DOUBLE) + var_r / CAST(rn AS DOUBLE)),
          6) AS t_welch,
    round(((var_t / CAST(n AS DOUBLE) + var_r / CAST(rn AS DOUBLE))
           * (var_t / CAST(n AS DOUBLE) + var_r / CAST(rn AS DOUBLE)))
          / ((var_t / CAST(n AS DOUBLE)) * (var_t / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1)
             + (var_r / CAST(rn AS DOUBLE)) * (var_r / CAST(rn AS DOUBLE))
               / (CAST(rn AS DOUBLE) - 1)), 6) AS df_welch
FROM v
ORDER BY event_type
"""


@query("welch_ttest", _WELCH_ORACLE)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of each event type's ``value``
    against all other events (the A/B-test / drift-check shape).

    One scan builds exact per-type integer-cents sufficient statistics;
    the grand total attaches via a broadcast 1-row cross join (the
    pagerank/bigram pattern — never a global window), so "the rest" is
    total − group with zero extra passes. Variances are rounded to 6
    first, then t and Welch–Satterthwaite df derive from the rounded
    variances — both engines see identical inputs to the final
    expressions.
    """
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
    )
    vc = F.col("vc")
    # barriered: g feeds both the totals fold and the final join —
    # without the barrier each reference re-expands the whole scan
    g = (
        t.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(vc).alias("s"),
            _dec_sum(vc * vc).alias("ss"),
        )
        .localCheckpoint(eager=False)
    )
    # grand totals fold the per-group sums — ONE corpus scan feeds
    # both levels (re-aggregating partials is exact in the decimal
    # domain), vs a second full scan for a separate total
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("decimal(38,0)").alias("ts"),
        F.sum("ss").cast("decimal(38,0)").alias("tss"),
    )
    w = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "s",
        "ss",
        (F.col("tn") - F.col("n")).alias("rn"),
        (F.col("ts") - F.col("s")).cast("decimal(38,0)").alias("rs"),
        (F.col("tss") - F.col("ss")).cast("decimal(38,0)").alias("rss"),
    )

    def _var(ss_c: str, s_c: str, n_c: str) -> Column:
        ssD = F.col(ss_c).cast("double")
        sD = F.col(s_c).cast("double")
        nD = F.col(n_c).cast("double")
        return F.round(
            (ssD / 10000.0 - (sD / 100.0) * (sD / 100.0) / nD) / (nD - 1), 6
        )

    v = w.withColumn("var_t", _var("ss", "s", "n")).withColumn(
        "var_r", _var("rss", "rs", "rn")
    )
    nD = F.col("n").cast("double")
    rnD = F.col("rn").cast("double")
    mean_t = F.col("s").cast("double") / 100.0 / nD
    mean_r = F.col("rs").cast("double") / 100.0 / rnD
    se2 = F.col("var_t") / nD + F.col("var_r") / rnD
    df_den = (F.col("var_t") / nD) * (F.col("var_t") / nD) / (nD - 1) + (
        F.col("var_r") / rnD
    ) * (F.col("var_r") / rnD) / (rnD - 1)
    return (
        v.select(
            "event_type",
            "n",
            F.col("s").cast("double").alias("s"),
            F.col("ss").cast("double").alias("ss"),
            F.round(mean_t, 6).alias("mean_t"),
            F.round(mean_r, 6).alias("mean_r"),
            "var_t",
            "var_r",
            F.round((mean_t - mean_r) / F.sqrt(se2), 6).alias("t_welch"),
            F.round((se2 * se2) / df_den, 6).alias("df_welch"),
        )
        .orderBy("event_type")
    )


# --- Robust outliers: median / MAD on integer cents -------------------------

_MAD_ORACLE = """
WITH t AS (
    SELECT o_orderstatus, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
    FROM orders
),
med AS (
    SELECT o_orderstatus, quantile_cont(CAST(pc AS DOUBLE), 0.5) AS med_c
    FROM t GROUP BY o_orderstatus
),
dev AS (
    SELECT t.o_orderstatus, med.med_c,
           abs(CAST(t.pc AS DOUBLE) - med.med_c) AS dev_c
    FROM t JOIN med USING (o_orderstatus)
),
mad AS (
    SELECT o_orderstatus, min(med_c) AS med_c,
           count(*) AS n, quantile_cont(dev_c, 0.5) AS mad_c
    FROM dev GROUP BY o_orderstatus
)
SELECT
    dev.o_orderstatus,
    min(mad.n) AS n,
    round(min(mad.med_c) / 100.0, 6) AS median_price,
    round(min(mad.mad_c) / 100.0, 6) AS mad_price,
    CAST(count(CASE WHEN dev.dev_c > 4.4478 * mad.mad_c THEN 1 END) AS BIGINT)
        AS n_outliers
FROM dev JOIN mad USING (o_orderstatus)
GROUP BY dev.o_orderstatus
ORDER BY dev.o_orderstatus
"""


@query("mad_outliers", _MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-status outlier detection: median and MAD of the order
    total, then count of rows beyond 3·1.4826·MAD (= 4.4478·MAD, the
    normal-consistent robust z>3 rule).

    Exactness: everything runs on integer cents, where every exact
    percentile interpolation lands on a 0.25 grid — bit-identical
    doubles on both engines with NO rounding step, so even the
    threshold comparison ``dev > 4.4478·mad`` is cross-engine exact.

    Scale: pass 1 group medians (broadcast back, 3-row table), pass 2
    deviation medians, pass 3 the thresholded count — three scans,
    the price of exact robust statistics. At 100 TB the same dataflow
    runs on ``percentile_approx``, and the approximate variant can
    fuse the passes.
    """
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("pc"),
    )
    med = t.groupBy("o_orderstatus").agg(
        F.percentile(F.col("pc").cast("double"), F.lit(0.5)).alias("med_c")
    )
    dev = t.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        "med_c",
        F.abs(F.col("pc").cast("double") - F.col("med_c")).alias("dev_c"),
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.min("med_c").alias("med_c"),
        F.count(F.lit(1)).alias("n"),
        F.percentile(F.col("dev_c"), F.lit(0.5)).alias("mad_c"),
    )
    return (
        dev.drop("med_c")
        .join(F.broadcast(mad.select("o_orderstatus", "mad_c", "n", "med_c")),
              "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.min("n").alias("n"),
            F.round(F.min("med_c") / 100.0, 6).alias("median_price"),
            F.round(F.min("mad_c") / 100.0, 6).alias("mad_price"),
            F.count(F.when(F.col("dev_c") > 4.4478 * F.col("mad_c"), 1))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("o_orderstatus")
    )


# --- EWMA over the daily revenue series -------------------------------------

_EWMA_ORACLE = """
WITH daily AS (
    SELECT o_orderstatus,
           CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY o_orderstatus, date_trunc('day', o_orderdate)
),
series AS (
    SELECT o_orderstatus,
           count(*) AS n_days,
           CAST(max(day) AS TIMESTAMP) AS last_day,
           list(CAST(rev_cents AS DOUBLE) ORDER BY day) AS xs
    FROM daily GROUP BY o_orderstatus
)
SELECT o_orderstatus, n_days, last_day,
       round(list_reduce(xs, (acc, x) -> (acc + x) * 0.5) / 100, 6)
           AS ewma_revenue
FROM series
ORDER BY o_orderstatus
"""


@query("ewma_daily_revenue", _EWMA_ORACLE)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue per
    status (α = 0.5) — the smoothing primitive behind streaming
    dashboards and anomaly baselines. The fold runs as a row-local
    ``aggregate`` over the day-ordered series array; with α = ½ each
    step is ``(acc + x) · 0.5`` — two single IEEE ops with no
    FMA-fusable mul-into-add shape, so the fold is bit-identical
    cross-engine (the PageRank fixed-point lesson, solved structurally
    instead of by quantizing). Scale: the series is grouped per key
    and bounded by the calendar (days), so the collected array stays
    small however many orders feed each day — the daily aggregation
    underneath is the only data-sized shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderstatus", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    series = daily.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").cast("timestamp").alias("last_day"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("rev_cents")))
            ),
            lambda s: s["rev_cents"].cast("double"),
        ).alias("xs"),
    )
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, F.size(F.col("xs")) - 1),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: (acc + x) * F.lit(0.5),
    )
    return series.select(
        "o_orderstatus",
        "n_days",
        "last_day",
        F.round(ewma / 100, 6).alias("ewma_revenue"),
    ).orderBy("o_orderstatus")


# --- one-scan correlation matrix --------------------------------------------

_CM_COLS = ["qty", "price_c", "disc_c", "tax_c"]
_CM_PAIRS = [
    (a, b) for i, a in enumerate(_CM_COLS) for b in _CM_COLS[i + 1 :]
]

_CM_SRC = """
    SELECT
        CAST(l_quantity AS BIGINT) AS qty,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
        CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_c,
        CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_c
    FROM lineitem
"""

_CM_SUMS = ", ".join(
    f"CAST(sum(CAST({c} AS DECIMAL(38,0))) AS DOUBLE) AS s_{c}, "
    f"CAST(sum(CAST({c} * {c} AS DECIMAL(38,0))) AS DOUBLE) AS ss_{c}"
    for c in _CM_COLS
) + ", " + ", ".join(
    f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,0))) AS DOUBLE) AS s_{a}_{b}"
    for a, b in _CM_PAIRS
)

_CM_ROWS = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       round((nD * s_{a}_{b} - s_{a} * s_{b})
             / sqrt((nD * ss_{a} - s_{a} * s_{a})
                    * (nD * ss_{b} - s_{b} * s_{b})), 6) AS corr_r
FROM sums"""
    for a, b in _CM_PAIRS
)

_CM_ORACLE = f"""
WITH t AS ({_CM_SRC}),
sums AS (
    SELECT CAST(count(*) AS DOUBLE) AS nD, {_CM_SUMS} FROM t
)
{_CM_ROWS}
ORDER BY col_a, col_b
"""


@query("correlation_matrix", _CM_ORACLE)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pearson correlation matrix over the four lineitem numerics
    in ONE scan: a single aggregation computes every per-column and
    cross-column power sum (exact integer-unit decimals), and all six
    pairwise correlations derive from that 1-row result — the
    feature-profiling shape at 100 TB, where k² sums riding one
    shuffle beats k² separate corr() passes by exactly k² scans."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("price_c"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("disc_c"),
        F.round(F.col("l_tax") * 100, 0).cast("bigint").alias("tax_c"),
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("nD")]
    for c in _CM_COLS:
        aggs.append(_dec_sum(F.col(c)).cast("double").alias(f"s_{c}"))
        aggs.append(
            _dec_sum(F.col(c) * F.col(c)).cast("double").alias(f"ss_{c}")
        )
    for a, b in _CM_PAIRS:
        aggs.append(
            _dec_sum(F.col(a) * F.col(b)).cast("double").alias(f"s_{a}_{b}")
        )
    sums = t.agg(*aggs)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(
                    (
                        F.col("nD") * F.col(f"s_{a}_{b}")
                        - F.col(f"s_{a}") * F.col(f"s_{b}")
                    )
                    / F.sqrt(
                        (
                            F.col("nD") * F.col(f"ss_{a}")
                            - F.col(f"s_{a}") * F.col(f"s_{a}")
                        )
                        * (
                            F.col("nD") * F.col(f"ss_{b}")
                            - F.col(f"s_{b}") * F.col(f"s_{b}")
                        )
                    ),
                    6,
                ).alias("corr_r"),
            )
            for a, b in _CM_PAIRS
        ]
    )
    return (
        sums.select(F.explode(pair_structs).alias("p"))
        .select("p.col_a", "p.col_b", "p.corr_r")
        .orderBy("col_a", "col_b")
    )


# --- decision stump: distributed split finding ------------------------------

_STUMP_ORACLE = """
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
hist AS (
    SELECT x, count(*) AS n, sum(y) AS n_pos
    FROM t GROUP BY x
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_pos) AS BIGINT) AS tp
    FROM hist
),
cum AS (
    SELECT x AS threshold,
           CAST(sum(n) OVER w AS BIGINT) AS n_left,
           CAST(sum(n_pos) OVER w AS BIGINT) AS p_left
    FROM hist
    WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
),
gain AS (
    SELECT threshold, n_left, p_left,
           tn - n_left AS n_right, tp - p_left AS p_right,
           round(
               (CAST(tp AS DOUBLE) * (tn - tp)) / (CAST(tn AS DOUBLE) * tn)
               - (CAST(p_left AS DOUBLE) * (n_left - p_left))
                 / (CAST(n_left AS DOUBLE) * tn)
               - (CAST(tp - p_left AS DOUBLE) * ((tn - n_left) - (tp - p_left)))
                 / (CAST(tn - n_left AS DOUBLE) * tn), 9) AS gini_gain
    FROM cum, tot
    WHERE n_left < tn
)
SELECT threshold, n_left, p_left, n_right, p_right, gini_gain,
       (row_number() OVER (ORDER BY gini_gain DESC, threshold) = 1)
           AS is_best
FROM gain
ORDER BY threshold
"""


@query("decision_stump_train", _STUMP_ORACLE)
def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decision-stump training — the histogram → gain-scan
    primitive every GBDT/XGBoost-style learner runs per feature per
    boosting round: one scan collapses the feature to a (value,
    count, positives) HISTOGRAM (50 rows here — split finding never
    touches raw rows again), a cumulative scan over the tiny
    histogram yields every candidate split's class counts exactly,
    and Gini gain picks the best threshold (x ≤ t vs x > t for the
    label returnflag='R').

    Gain uses the half-Gini identity gain = I(parent) − Σ w·I(child)
    with every term an exact-integer ratio scaled by the SAME tn
    denominator, computed in doubles rounded to 9; the argmax
    tie-breaks on threshold. At 100 TB only the histogram aggregation
    sees data; the gain scan is O(|distinct values|)."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    hist = (
        t.groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
        .localCheckpoint(eager=False)  # feeds totals AND the cum scan
    )
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("n_pos").cast("bigint").alias("tp"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.col("x").alias("threshold"),
        F.sum("n").over(w).cast("bigint").alias("n_left"),
        F.sum("n_pos").over(w).cast("bigint").alias("p_left"),
    )
    g = cum.crossJoin(F.broadcast(tot)).filter(F.col("n_left") < F.col("tn"))
    tnD = F.col("tn").cast("double")
    tpD = F.col("tp").cast("double")
    nlD = F.col("n_left").cast("double")
    plD = F.col("p_left").cast("double")
    nrD = tnD - nlD
    prD = tpD - plD
    gain = F.round(
        (tpD * (tnD - tpD)) / (tnD * tnD)
        - (plD * (nlD - plD)) / (nlD * tnD)
        - (prD * (nrD - prD)) / (nrD * tnD),
        9,
    )
    scored = g.select(
        "threshold",
        "n_left",
        "p_left",
        (F.col("tn") - F.col("n_left")).cast("bigint").alias("n_right"),
        (F.col("tp") - F.col("p_left")).cast("bigint").alias("p_right"),
        gain.alias("gini_gain"),
    )
    wb = Window.orderBy(F.desc("gini_gain"), F.asc("threshold"))
    return (
        scored.withColumn("is_best", F.row_number().over(wb) == 1)
        .orderBy("threshold")
    )


# --- Poisson bootstrap CI ---------------------------------------------------

_B = 32  # bootstrap replicates
# Poisson(1) CDF thresholds (literal doubles — identical comparisons
# on both engines); weights are the inverse-CDF of a per-(row,
# replicate) h60 uniform
_POIS_CDF = [
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
]
# Per-(row, replicate) uniforms via Carter-Wegman multiply-mod-prime
# universal hashing: u_b = ((key*A_b + C_b) mod p) / p with p the
# Mersenne prime 2^31-1.  Pure int64 arithmetic — key ≤ 6e11 (TPC-H
# orderkey at sf100000) times A_b ≤ 1.3e7 stays under 8e18, well
# inside int64 — so both engines compute bit-identical uniforms with
# ZERO hashing cost (the previous 4 md5 + 32 conv(substring) per row
# was the entire 5.4 s bench wall of this query; xxhash64 is not
# available in DuckDB 1.0 so arithmetic is the cross-engine-exact
# fast path).  The per-replicate (A_b, C_b) are a PRECOMPUTED
# pseudorandom table (md5-derived module constants, literals in both
# engines' SQL), deliberately NOT affine in the replicate index b: an
# earlier a_b = 1000003 + 7919·b made x_b an arithmetic progression
# mod p for each fixed key — structurally correlated replicate
# weights, flagged in review. With independent-looking table entries,
# each replicate draws from its own universal-hash family and
# cross-replicate correlation has no arithmetic structure.
_BOOT_P = 2147483647
# Integer thresholds floor(thr * p): x > T_i is EXACTLY equivalent to
# u = x/p > thr (no threshold lands on an integer), and pure int64
# comparisons sidestep any float-division boundary question.
_POIS_THR = [int(t * _BOOT_P) for t in _POIS_CDF]


def _boot_table() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for b in range(_B):
        h = int(
            hashlib.md5(f"bootstrap-replicate:{b}".encode()).hexdigest(), 16
        )
        a = 1_000_001 + 2 * (h % 6_000_000)  # odd, ≤ 1.3e7 (int64 bound)
        c = (h >> 64) % _BOOT_P
        out.append((a, c))
    return out


_BOOT_AC = _boot_table()


def _boot_ac(b: int) -> tuple[int, int]:
    return _BOOT_AC[b]


def _x_sql(b: int) -> str:
    a, c = _boot_ac(b)
    return f"((o_orderkey * {a} + {c}) % {_BOOT_P})"


def _w_sql(b: int) -> str:
    x = _x_sql(b)
    cases = " + ".join(
        f"CASE WHEN {x} > {t} THEN 1 ELSE 0 END" for t in _POIS_THR
    )
    return f"({cases})"


# replicate sums accumulate as BIGINT, not decimal: w·pc ≤ 7·5e7 per
# row keeps the per-status sums inside int64 headroom past sf10000,
# and 64 long aggregates codegen ~3x faster than decimal ones.
# Kept as a LIST of per-aggregate expression strings: the Spark side
# feeds each through F.expr (one JVM parse per aggregate instead of
# ~1500 py4j Column-builder round-trips — driver-side DataFrame
# CONSTRUCTION was 4.3 s of this query's 5.4 s bench wall), and the
# oracle joins them into its SQL text, so both engines share the
# exact same expression source.
_BOOT_SUM_EXPRS = [
    e
    for b in range(_B)
    for e in (
        f"CAST(sum({_w_sql(b)} * pc) AS BIGINT) AS s{b}",
        f"CAST(sum({_w_sql(b)}) AS BIGINT) AS n{b}",
    )
]
_BOOT_SUMS = ", ".join(_BOOT_SUM_EXPRS)

# Replicate-mean guard (ADVICE): a group small enough that every
# Poisson weight in a replicate is 0 would yield a NULL mean, and the
# engines' array sorts place nulls at opposite ends — substitute the
# overall group mean (a zero-information replicate) as the sentinel.
_BOOT_MEANS = ", ".join(
    f"CASE WHEN n{b} > 0"
    f" THEN round(CAST(s{b} AS DOUBLE) / 100.0 / n{b}, 6)"
    f" ELSE round(CAST(s AS DOUBLE) / 100.0 / n, 6) END"
    for b in range(_B)
)

_BOOT_ORACLE = f"""
WITH t AS (
    SELECT o_orderstatus,
           o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
    FROM orders
),
sums AS (
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(pc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
           {_BOOT_SUMS}
    FROM t GROUP BY o_orderstatus
),
m AS (
    SELECT o_orderstatus, n,
           round(CAST(s AS DOUBLE) / 100.0 / n, 6) AS mean_price,
           list_sort([{_BOOT_MEANS}]) AS bm
    FROM sums
)
SELECT o_orderstatus, n, mean_price,
       bm[2] AS boot_lo, bm[{_B - 1}] AS boot_hi
FROM m
ORDER BY o_orderstatus
"""


@query("bootstrap_ci_mean", _BOOT_ORACLE)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed POISSON bootstrap (the at-scale resampling trick:
    true with-replacement resampling needs global N coordination, but
    Poisson(1) per-row replicate weights are a pure row-local function
    — so ALL 32 replicate sums ride ONE scan as extra aggregate
    expressions). Replicate means sort row-locally and order
    statistics 2/31 of 32 give a ~90% CI for the mean order value per
    status. Weights are the Poisson inverse-CDF of per-(row,
    replicate) multiply-mod-prime uniforms (Carter-Wegman; see
    ``_u_sql``) against literal CDF thresholds — pure int64 arithmetic,
    deterministic and bit-identical cross-engine, and ~10x cheaper per
    row than the md5-slicing it replaced; sums are exact decimal;
    means round to 6."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.selectExpr(
        "o_orderstatus",
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc",
        "CAST(o_orderkey AS BIGINT) AS o_orderkey",
    )
    sums = t.groupBy("o_orderstatus").agg(
        F.expr("count(1) AS n"),
        F.expr("CAST(sum(CAST(pc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s"),
        *[F.expr(e) for e in _BOOT_SUM_EXPRS],
    )
    return sums.selectExpr(
        "o_orderstatus",
        "n",
        "round(CAST(s AS DOUBLE) / 100.0 / n, 6) AS mean_price",
        f"array_sort(array({_BOOT_MEANS})) AS bm",
    ).selectExpr(
        "o_orderstatus",
        "n",
        "mean_price",
        "element_at(bm, 2) AS boot_lo",
        f"element_at(bm, {_B - 1}) AS boot_hi",
    ).orderBy("o_orderstatus")


# --- two-sample Kolmogorov-Smirnov ------------------------------------------

_KS_ORACLE = """
WITH t AS (
    SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp_a
    FROM events
    WHERE event_type IN ('purchase', 'view')
),
hist AS (
    SELECT vc,
           CAST(sum(grp_a) AS BIGINT) AS ca,
           CAST(sum(1 - grp_a) AS BIGINT) AS cb
    FROM t GROUP BY vc
),
tot AS (
    SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
    FROM hist
),
cum AS (
    SELECT vc,
           CAST(sum(ca) OVER w AS BIGINT) AS cca,
           CAST(sum(cb) OVER w AS BIGINT) AS ccb
    FROM hist
    WINDOW w AS (ORDER BY vc ROWS UNBOUNDED PRECEDING)
)
SELECT
    tot.na, tot.nb,
    round(max(abs(CAST(cca AS DOUBLE) / tot.na
                  - CAST(ccb AS DOUBLE) / tot.nb)), 6) AS ks_d,
    round(max(abs(CAST(cca AS DOUBLE) / tot.na
                  - CAST(ccb AS DOUBLE) / tot.nb))
          / sqrt((CAST(tot.na AS DOUBLE) + tot.nb)
                 / (CAST(tot.na AS DOUBLE) * tot.nb)), 6) AS ks_stat
FROM cum, tot
GROUP BY tot.na, tot.nb
"""


@query("ks_test_two_sample", _KS_ORACLE)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: D = max ECDF gap between
    purchase and view values — the nonparametric distribution-drift
    test (no normality assumption, unlike Welch). HISTOGRAM-FIRST
    discipline: raw rows collapse to per-distinct-value group counts
    in one scan, and the cumulative ECDF scan runs over the value
    histogram (bounded by distinct cents values, not row count — the
    decision-stump posture); D and the normalized KS statistic derive
    as exact-integer ratios rounded to 6."""
    events = load_table(spark, sf_dir, "events")
    t = events.filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "grp_a"
        ),
    )
    hist = (
        t.groupBy("vc")
        .agg(
            F.sum("grp_a").cast("bigint").alias("ca"),
            F.sum(1 - F.col("grp_a")).cast("bigint").alias("cb"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND the ECDF scan
    )
    tot = hist.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    # value cents are DATA-sized: pick the ECDF-scan shape from the
    # input size (single-task window vs distributed prefix sum)
    cum = _hist_running_totals(
        hist,
        ["vc"],
        {"cca": "ca", "ccb": "cb"},
        large=_input_is_large(sf_dir, "events"),
    ).select("cca", "ccb")
    gap = F.abs(
        F.col("cca").cast("double") / F.col("na")
        - F.col("ccb").cast("double") / F.col("nb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(F.max(gap), 6).alias("ks_d"),
            F.round(
                F.max(gap)
                / F.sqrt(
                    (F.col("na").cast("double") + F.col("nb"))
                    / (F.col("na").cast("double") * F.col("nb"))
                ),
                6,
            ).alias("ks_stat"),
        )
    )


# --- chi-square independence ------------------------------------------------

_CHI2_ORACLE = """
WITH t AS (
    SELECT event_type, dayofweek(ts) AS dow FROM events
),
o AS (
    SELECT event_type, dow, count(*) AS obs FROM t GROUP BY event_type, dow
),
margins AS (
    SELECT o.*,
           sum(obs) OVER (PARTITION BY event_type) AS row_tot,
           sum(obs) OVER (PARTITION BY dow) AS col_tot,
           sum(obs) OVER () AS grand
    FROM o
)
SELECT
    CAST(count(*) AS BIGINT) AS n_cells,
    CAST(max(grand) AS BIGINT) AS n_rows,
    round(sum(
        (obs - CAST(row_tot AS DOUBLE) * col_tot / grand)
        * (obs - CAST(row_tot AS DOUBLE) * col_tot / grand)
        / (CAST(row_tot AS DOUBLE) * col_tot / grand)), 6) AS chi2
FROM margins
"""


@query("chi_square_independence", _CHI2_ORACLE)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event type × day-of-week: one scan
    to the contingency table (35 cells), margins via windows over the
    TINY table, χ² from exact integer counts rounded to 6 — the
    seasonality/independence check behind "is traffic mix shifting by
    weekday". All heavy lifting is the contingency aggregation;
    everything after is cell-count-sized."""
    events = load_table(spark, sf_dir, "events")
    o = (
        events.select("event_type", F.dayofweek("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wg = Window.partitionBy()
    m = o.select(
        "obs",
        F.sum("obs").over(wr).alias("row_tot"),
        F.sum("obs").over(wc).alias("col_tot"),
        F.sum("obs").over(wg).alias("grand"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("grand")
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("grand").cast("bigint").alias("n_rows"),
        F.round(F.sum((F.col("obs") - e) * (F.col("obs") - e) / e), 6).alias(
            "chi2"
        ),
    )


# --- Kaplan-Meier survival over inter-order gaps ----------------------------

_KM_ORACLE = """
WITH gaps AS (
    SELECT o_custkey,
           date_diff('day', o_orderdate,
                     lead(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey))
               AS gap_days
    FROM orders
),
ev AS (SELECT CAST(gap_days AS BIGINT) AS t FROM gaps WHERE gap_days IS NOT NULL),
hist AS (SELECT t, count(*) AS d FROM ev GROUP BY t),
tot AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM hist),
km0 AS (
    SELECT t, d,
           tot.n - CAST(coalesce(sum(d) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS at_risk
    FROM hist, tot
),
km1 AS (
    SELECT t, d, at_risk,
           CAST(floor(1e9 * ln(1.0 - CAST(d AS DOUBLE) / at_risk))
                AS BIGINT) AS qlog
    FROM km0 WHERE CAST(d AS DOUBLE) < at_risk
),
km AS (
    SELECT t, d, at_risk,
           CAST(sum(qlog) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS qlog_s
    FROM km1
)
SELECT t AS gap_days, d AS n_events, at_risk, qlog_s,
       round(exp(CAST(qlog_s AS DOUBLE) / 1e9), 6) AS survival
FROM km
ORDER BY t
"""


@query("km_survival_gaps", _KM_ORACLE)
def km_survival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over inter-order gaps (time until a
    customer's NEXT order): S(t) = Π(1 − dᵢ/nᵢ) over event-time
    order — the churn/retention curve. The product telescopes through
    the floor-quantized-log discipline (each ln term floored at 1e-9
    resolution → exact int64 cumulative sums → exp of an identical
    double), the same fixed-point treatment as KL/BM25, because naive
    cumulative float products are summation-order-sensitive. Gaps
    collapse to a day-level histogram first, so the cumulative scans
    run over distinct gap values, not rows; the last event time (where
    everything "dies") is excluded as S would hit 0.

    libm assumption: floor-quantizing ln() at 1e-9 presumes both
    engines' ln agree to the last ulp on the same double input (true
    here — both call the platform libm on IEEE doubles); a divergent
    libm whose error lands exactly on a floor boundary would flip one
    quantum and break the hash gate, so a port to a different
    platform should re-verify or coarsen the grid."""
    orders = load_table(spark, sf_dir, "orders")
    wg = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.lead("o_orderdate").over(wg), F.col("o_orderdate")
        ).cast("bigint").alias("t")
    ).filter(F.col("t").isNotNull())
    hist = (
        gaps.groupBy("t")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(F.sum("d").cast("bigint").alias("n"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "at_risk",
            (
                F.col("n")
                - F.coalesce(F.sum("d").over(w_prev), F.lit(0))
            ).cast("bigint"),
        )
        .filter(F.col("d").cast("double") < F.col("at_risk"))
        .withColumn(
            "qlog",
            F.floor(
                1e9
                * F.log(
                    1.0 - F.col("d").cast("double") / F.col("at_risk")
                )
            ).cast("bigint"),
        )
        .withColumn(
            "qlog_s", F.sum("qlog").over(w_cum).cast("bigint")
        )
    )
    return km.select(
        F.col("t").alias("gap_days"),
        F.col("d").alias("n_events"),
        "at_risk",
        "qlog_s",
        F.round(F.exp(F.col("qlog_s").cast("double") / 1e9), 6).alias(
            "survival"
        ),
    ).orderBy("t")


# --- 2-D PCA, closed form ---------------------------------------------------

_PCA_ORACLE = """
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM t
),
c AS (
    SELECT n,
        (sxx - sx * sx / n) / (n - 1) AS a,
        (sxy - sx * sy / n) / (n - 1) AS b,
        (syy - sy * sy / n) / (n - 1) AS c2
    FROM s
)
SELECT n,
    round((a + c2 + sqrt((a - c2) * (a - c2) + 4 * b * b)) / 2, 6)
        AS lambda1,
    round((a + c2 - sqrt((a - c2) * (a - c2) + 4 * b * b)) / 2, 6)
        AS lambda2,
    round(((a + c2 + sqrt((a - c2) * (a - c2) + 4 * b * b)) / 2)
          / (a + c2), 6) AS explained_ratio,
    round(degrees(atan2(
        (a + c2 + sqrt((a - c2) * (a - c2) + 4 * b * b)) / 2 - a, b)), 6)
        AS pc1_angle_deg
FROM c
"""


@query("pca_2d_closed_form", _PCA_ORACLE)
def pca_2d_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA of (quantity, price) by the 2×2 closed form: the covariance
    matrix folds from the SAME five exact decimal power sums OLS uses
    (one scan, map-side combine), and eigenvalues/PC1 angle come from
    the quadratic formula — no iteration, no driver linear algebra.
    k-D PCA at 100 TB keeps this dataflow (k² sums in one pass) and
    swaps the closed form for a driver-side eigensolve of the tiny
    k×k matrix; the data pass is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("yc"),
    )
    x, yc = F.col("x"), F.col("yc")
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(x).cast("double").alias("sx"),
        _dec_sum(yc).cast("double").alias("sy"),
        _dec_sum(x * x).cast("double").alias("sxx"),
        _dec_sum(x * yc).cast("double").alias("sxy"),
        _dec_sum(yc * yc).cast("double").alias("syy"),
    )
    nD = F.col("n").cast("double")
    a = (F.col("sxx") - F.col("sx") * F.col("sx") / nD) / (nD - 1)
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / nD) / (nD - 1)
    c2 = (F.col("syy") - F.col("sy") * F.col("sy") / nD) / (nD - 1)
    disc = F.sqrt((a - c2) * (a - c2) + 4 * b * b)
    l1 = (a + c2 + disc) / 2
    l2 = (a + c2 - disc) / 2
    return s.select(
        "n",
        F.round(l1, 6).alias("lambda1"),
        F.round(l2, 6).alias("lambda2"),
        F.round(l1 / (a + c2), 6).alias("explained_ratio"),
        F.round(F.degrees(F.atan2(l1 - a, b)), 6).alias("pc1_angle_deg"),
    )


# --- association rules from co-purchase pairs --------------------------------

_RULES_ORACLE = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
item_supp AS (
    SELECT l_partkey, count(*) AS supp_item FROM items GROUP BY l_partkey
),
pair_supp AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS supp_pair
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING count(*) >= 3
)
SELECT p.u AS antecedent, p.v AS consequent, p.supp_pair,
       sa.supp_item AS supp_a, sb.supp_item AS supp_b,
       round(CAST(p.supp_pair AS DOUBLE) / sa.supp_item, 6) AS confidence,
       round(CAST(p.supp_pair AS DOUBLE) * n.n
             / (CAST(sa.supp_item AS DOUBLE) * sb.supp_item), 6) AS lift
FROM pair_supp p
JOIN item_supp sa ON sa.l_partkey = p.u
JOIN item_supp sb ON sb.l_partkey = p.v
CROSS JOIN n_orders n
ORDER BY antecedent, consequent
"""


@query("association_rules", _RULES_ORACLE)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase pairs: confidence
    P(v | u) and lift P(u,v)/(P(u)P(v)) for every pair supported by
    ≥3 orders — the market-basket RULES face on top of the existing
    pair mining. Item supports and the order total fold from the same
    distinct (order, part) projection (barriered, scanned once);
    ratios are exact-integer divisions rounded to 6."""
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)  # feeds pairs, supports, total
    )
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    item_supp = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("supp_item")
    )
    a, b = items.alias("a"), items.alias("b")
    pair_supp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("supp_pair"))
        .filter(F.col("supp_pair") >= 3)
    )
    sa = item_supp.select(
        F.col("l_partkey").alias("u"), F.col("supp_item").alias("supp_a")
    )
    sb = item_supp.select(
        F.col("l_partkey").alias("v"), F.col("supp_item").alias("supp_b")
    )
    return (
        pair_supp.join(sa, "u")
        .join(sb, "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("u").alias("antecedent"),
            F.col("v").alias("consequent"),
            "supp_pair",
            "supp_a",
            "supp_b",
            F.round(
                F.col("supp_pair").cast("double") / F.col("supp_a"), 6
            ).alias("confidence"),
            F.round(
                F.col("supp_pair").cast("double")
                * F.col("n")
                / (F.col("supp_a").cast("double") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


# --- autocorrelation of the daily revenue series ----------------------------

_ACF_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY date_trunc('day', o_orderdate)
),
idx AS (
    SELECT rev,
           row_number() OVER (ORDER BY day) AS i
    FROM daily
),
lags AS (SELECT unnest(range(1, 8)) AS lag),
pairs AS (
    SELECT l.lag, a.rev AS x, b.rev AS y
    FROM idx a JOIN lags l ON TRUE
    JOIN idx b ON b.i = a.i + l.lag
),
s AS (
    SELECT lag, count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM pairs GROUP BY lag
)
SELECT lag, n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS acf
FROM s
ORDER BY lag
"""


@query("acf_daily_revenue", _ACF_ORACLE)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1-7 (the
    weekly-seasonality diagnostic): the series collapses to one row
    per day, day indexes come from one window over the tiny series,
    and each lag is a self-join on index+lag — correlation per lag
    from the same exact-power-sum discipline as OLS. Series length is
    calendar-bounded, so everything after the daily aggregation is
    days-sized regardless of row count."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    idx = daily.select(
        "rev", F.row_number().over(Window.orderBy("day")).alias("i")
    ).localCheckpoint(eager=False)
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.i") == F.col("a.i") + F.col("lag"))
        .select(
            "lag", F.col("a.rev").alias("x"), F.col("b.rev").alias("y")
        )
    )
    x, y = F.col("x"), F.col("y")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(x).cast("double").alias("sx"),
        _dec_sum(y).cast("double").alias("sy"),
        _dec_sum(x * x).cast("double").alias("sxx"),
        _dec_sum(x * y).cast("double").alias("sxy"),
        _dec_sum(y * y).cast("double").alias("syy"),
    )
    nD = F.col("n").cast("double")
    return s.select(
        "lag",
        "n",
        F.round(
            (nD * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (nD * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (nD * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("acf"),
    ).orderBy("lag")


# --- seasonal decomposition of daily revenue --------------------------------

_DECOMP_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           dayofweek(CAST(date_trunc('day', o_orderdate) AS DATE)) AS dow,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY 1, 2
),
trend AS (
    SELECT day, dow, rev,
           count(*) OVER w AS n_win,
           CAST(sum(rev) OVER w AS BIGINT) AS s_win
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
    SELECT day, dow, rev,
           round(CAST(s_win AS DOUBLE) / n_win, 6) AS trend_c,
           rev - round(CAST(s_win AS DOUBLE) / n_win, 6) AS resid
    FROM trend WHERE n_win = 7
),
seas AS (
    SELECT dow, round(avg(resid), 6) AS seasonal_c FROM detr GROUP BY dow
)
SELECT CAST(d.day AS TIMESTAMP) AS day,
       round(d.rev / 100.0, 6) AS revenue,
       round(d.trend_c / 100.0, 6) AS trend,
       round(s.seasonal_c / 100.0, 6) AS seasonal,
       round((d.resid - s.seasonal_c) / 100.0, 6) AS remainder
FROM detr d JOIN seas s ON s.dow = d.dow
ORDER BY day
"""


@query("seasonal_decompose_daily", _DECOMP_ORACLE)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of daily revenue: trend = the
    centered 7-day moving average (full windows only), weekday
    seasonal = mean detrended residual per day-of-week, remainder =
    what neither explains — the STL-lite every ops dashboard runs.
    Everything after the daily aggregation is days-sized; the trend
    average is rounded once so residual arithmetic starts from the
    same double on both engines.

    dow comes from the DATE (not the raw ts) so both engines label
    weekdays off the identical calendar value."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trend = daily.select(
        "day",
        "dow",
        "rev",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("rev").over(w).cast("bigint").alias("s_win"),
    )
    detr = (
        trend.filter(F.col("n_win") == 7)
        .select(
            "day",
            "dow",
            "rev",
            F.round(F.col("s_win").cast("double") / F.col("n_win"), 6).alias(
                "trend_c"
            ),
        )
        .withColumn("resid", F.col("rev") - F.col("trend_c"))
        .localCheckpoint(eager=False)  # feeds seasonal means AND output
    )
    seas = detr.groupBy("dow").agg(
        F.round(F.avg("resid"), 6).alias("seasonal_c")
    )
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.round(F.col("rev") / 100.0, 6).alias("revenue"),
            F.round(F.col("trend_c") / 100.0, 6).alias("trend"),
            F.round(F.col("seasonal_c") / 100.0, 6).alias("seasonal"),
            F.round(
                (F.col("resid") - F.col("seasonal_c")) / 100.0, 6
            ).alias("remainder"),
        )
        .orderBy("day")
    )


# --- Holt linear-trend forecast ---------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY 1
),
idx AS (
    SELECT CAST(rev AS DOUBLE) AS x,
           row_number() OVER (ORDER BY day) AS i
    FROM daily
),
meta AS (SELECT count(*) AS n_days, CAST(max(day) AS TIMESTAMP) AS last_day
         FROM daily),
st(i, l, b) AS (
    SELECT 2,
           (SELECT x FROM idx WHERE i = 1),
           (SELECT x FROM idx WHERE i = 2) - (SELECT x FROM idx WHERE i = 1)
    UNION ALL
    SELECT st.i + 1,
           (e.x + st.l + st.b) / 2,
           ((e.x + st.l + st.b) / 2 - st.l + st.b) / 2
    FROM st JOIN idx e ON e.i = st.i + 1
),
fin AS (
    SELECT l, b FROM st
    WHERE i = (SELECT max(i) FROM idx)
)
SELECT meta.n_days, meta.last_day,
       round(fin.l / 100, 6) AS level,
       round(fin.b / 100, 6) AS trend,
       round((fin.l + fin.b) / 100, 6) AS forecast_1d,
       round((fin.l + fin.b + fin.b + fin.b + fin.b + fin.b + fin.b + fin.b)
             / 100, 6) AS forecast_7d
FROM fin, meta
"""


@query("holt_forecast_daily", _HOLT_ORACLE)
def holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing over daily revenue with
    α = β = ½ — the next-step forecaster above EWMA. The coupled
    (level, trend) recurrence folds as a row-local aggregate with a
    STRUCT accumulator; with half-weights every update is adds and
    halvings — single IEEE ops with no fusable shape, so the whole
    recurrence is bit-identical cross-engine (the EWMA discipline
    extended to vector state). Forecasts extend by repeated addition
    (no h·b multiply) to stay in exact-op territory."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    series = daily.groupBy().agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("day").cast("timestamp").alias("last_day"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("day"), F.col("rev")))
            ),
            lambda s: s["rev"].cast("double"),
        ).alias("xs"),
    )
    xs = F.col("xs")
    init = F.struct(
        F.element_at(xs, 1).alias("l"),
        (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
    )
    st = F.aggregate(
        F.slice(xs, 3, F.size(xs) - 2),
        init,
        lambda a, x: F.struct(
            ((x + a["l"] + a["b"]) / 2).alias("l"),
            (((x + a["l"] + a["b"]) / 2 - a["l"] + a["b"]) / 2).alias("b"),
        ),
    )
    out = series.withColumn("st", st)
    l, b = F.col("st.l"), F.col("st.b")
    return out.select(
        "n_days",
        "last_day",
        F.round(l / 100, 6).alias("level"),
        F.round(b / 100, 6).alias("trend"),
        F.round((l + b) / 100, 6).alias("forecast_1d"),
        F.round((l + b + b + b + b + b + b + b) / 100, 6).alias(
            "forecast_7d"
        ),
    )


# --- two-round gradient boosting (regression stumps) ------------------------

_GB_ORACLE = """
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 1000000 AS y
    FROM lineitem
),
h1 AS (
    SELECT x, count(*) AS n, CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy_d
    FROM t GROUP BY x
),
tot1 AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                CAST(sum(sy_d) AS DECIMAL(38,0)) AS ts FROM h1),
cum1 AS (
    SELECT x AS thr, CAST(sum(n) OVER w AS BIGINT) AS nl,
           CAST(sum(sy_d) OVER w AS DECIMAL(38,0)) AS sl
    FROM h1 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
),
scored1 AS (
    SELECT thr, nl, sl, tot1.tn - nl AS nr,
           CAST(tot1.ts - sl AS DECIMAL(38,0)) AS sr,
           round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                 + CAST(tot1.ts - sl AS DOUBLE)
                   * CAST(tot1.ts - sl AS DOUBLE) / (tot1.tn - nl), 3)
               AS crit
    FROM cum1, tot1 WHERE nl < tot1.tn
),
best1 AS (
    SELECT * FROM scored1
    ORDER BY crit DESC, thr LIMIT 1
),
pred1 AS (
    SELECT thr,
           sl // nl AS pl,
           sr // nr AS pr
    FROM best1
),
resid AS (
    SELECT t.x,
           t.y - (CASE WHEN t.x <= p.thr THEN p.pl ELSE p.pr END) AS r
    FROM t, pred1 p
),
h2 AS (
    SELECT x, count(*) AS n,
           CAST(sum(CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sr_d
    FROM resid GROUP BY x
),
tot2 AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                CAST(sum(sr_d) AS DECIMAL(38,0)) AS ts FROM h2),
cum2 AS (
    SELECT x AS thr, CAST(sum(n) OVER w AS BIGINT) AS nl,
           CAST(sum(sr_d) OVER w AS DECIMAL(38,0)) AS sl
    FROM h2 WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
),
scored2 AS (
    SELECT thr, nl, sl, tot2.tn - nl AS nr,
           CAST(tot2.ts - sl AS DECIMAL(38,0)) AS sr,
           round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                 + CAST(tot2.ts - sl AS DOUBLE)
                   * CAST(tot2.ts - sl AS DOUBLE) / (tot2.tn - nl), 3)
               AS crit
    FROM cum2, tot2 WHERE nl < tot2.tn
),
best2 AS (
    SELECT * FROM scored2 ORDER BY crit DESC, thr LIMIT 1
)
SELECT
    b1.thr AS thr_round1,
    round(CAST(p.pl AS DOUBLE) / 1e8, 6) AS pred_left_1,
    round(CAST(p.pr AS DOUBLE) / 1e8, 6) AS pred_right_1,
    b2.thr AS thr_round2,
    round(CAST(b2.sl AS DOUBLE) / b2.nl / 1e8, 6) AS resid_left_2,
    round(CAST(b2.sr AS DOUBLE) / b2.nr / 1e8, 6) AS resid_right_2
FROM best1 b1, pred1 p, best2 b2
"""


@query("gradient_boost_stumps", _GB_ORACLE)
def gradient_boost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO rounds of gradient boosting with regression stumps — the
    smallest real boosting loop: round 1 fits a variance-reducing
    split on price-vs-quantity (histogram → cumulative criterion scan,
    the `decision_stump_train` machinery with the regression
    criterion SL²/nL + SR²/nR), leaf predictions are EXACT integer
    divisions in micro-units, residuals y − pred stay exact int64, and
    round 2 re-fits a stump on those residuals. Each round touches raw
    rows once (histogram + residual projection); split search is
    histogram-sized. The fixed-point residual hand-off is what keeps a
    multi-round boosting loop hash-checkable cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        (
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            * 1000000
        ).alias("y"),
    ).localCheckpoint(eager=False)  # feeds round-1 hist AND residuals

    def fit_stump(vals: DataFrame, val_col: str):
        """(thr, nl, sl, nr, sr) of the best variance-reducing split."""
        h = (
            vals.groupBy("x")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(val_col).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("s_d"),
            )
            .localCheckpoint(eager=False)
        )
        tot = h.agg(
            F.sum("n").cast("bigint").alias("tn"),
            F.sum("s_d").cast("decimal(38,0)").alias("ts"),
        )
        w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        cum = h.select(
            F.col("x").alias("thr"),
            F.sum("n").over(w).cast("bigint").alias("nl"),
            F.sum("s_d").over(w).cast("decimal(38,0)").alias("sl"),
        )
        g = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("tn"))
        srD = F.col("ts").cast("double") - F.col("sl").cast("double")
        crit = F.round(
            F.col("sl").cast("double") * F.col("sl").cast("double")
            / F.col("nl")
            + (F.col("ts").cast("double") - F.col("sl").cast("double"))
            * (F.col("ts").cast("double") - F.col("sl").cast("double"))
            / (F.col("tn") - F.col("nl")),
            3,
        )
        return (
            g.select(
                "thr",
                "nl",
                "sl",
                (F.col("tn") - F.col("nl")).cast("bigint").alias("nr"),
                (F.col("ts") - F.col("sl")).cast("decimal(38,0)").alias("sr"),
                crit.alias("crit"),
            )
            .orderBy(F.desc("crit"), F.asc("thr"))
            .limit(1)
        )

    best1 = fit_stump(t, "y")
    pred1 = best1.select(
        "thr",
        F.expr("CAST(sl div nl AS BIGINT)").alias("pl"),
        F.expr("CAST(sr div nr AS BIGINT)").alias("pr"),
    )
    resid = t.crossJoin(F.broadcast(pred1)).select(
        "x",
        (
            F.col("y")
            - F.when(F.col("x") <= F.col("thr"), F.col("pl")).otherwise(
                F.col("pr")
            )
        ).alias("r"),
    )
    best2 = fit_stump(resid, "r")
    b1 = pred1.select(
        F.col("thr").alias("thr_round1"),
        F.round(F.col("pl").cast("double") / 1e8, 6).alias("pred_left_1"),
        F.round(F.col("pr").cast("double") / 1e8, 6).alias("pred_right_1"),
    )
    # round-2 leaves are OUTPUT only (nothing downstream consumes
    # them), so plain double division suffices; integer div is avoided
    # because residual sums can be negative and Spark's div truncates
    # while DuckDB's // floors
    b2 = best2.select(
        F.col("thr").alias("thr_round2"),
        F.round(F.col("sl").cast("double") / F.col("nl") / 1e8, 6).alias(
            "resid_left_2"
        ),
        F.round(F.col("sr").cast("double") / F.col("nr") / 1e8, 6).alias(
            "resid_right_2"
        ),
    )
    return b1.crossJoin(F.broadcast(b2))


# --- Mann-Whitney U (rank-sum) ----------------------------------------------

_MWU_ORACLE = """
WITH t AS (
    SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp_a
    FROM events
    WHERE event_type IN ('purchase', 'view')
),
hist AS (
    SELECT vc, CAST(sum(grp_a) AS BIGINT) AS ca,
           CAST(count(*) AS BIGINT) AS c
    FROM t GROUP BY vc
),
ranked AS (
    SELECT vc, ca, c,
           CAST(coalesce(sum(c) OVER (ORDER BY vc
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS below
    FROM hist
),
sums AS (
    SELECT CAST(sum(ca) AS BIGINT) AS na,
           CAST(sum(c - ca) AS BIGINT) AS nb,
           -- midrank of a tie group = below + (c+1)/2; doubling keeps
           -- every term integral: 2*ranksum_a = sum ca*(2*below+c+1)
           CAST(sum(ca * (2 * below + c + 1)) AS BIGINT) AS two_ranksum_a
    FROM ranked
)
SELECT na, nb, two_ranksum_a,
       round((two_ranksum_a / 2.0) - na * (na + 1) / 2.0, 6) AS u_a,
       round(((two_ranksum_a / 2.0) - na * (na + 1) / 2.0)
             / (CAST(na AS DOUBLE) * nb), 6) AS effect_cles
FROM sums
"""


@query("mann_whitney_u", _MWU_ORACLE)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (purchase vs view values) — the
    rank-based companion to KS, with the common-language effect size
    U/(na·nb). Histogram-first: midranks come from cumulative counts
    over the distinct-value histogram, and DOUBLED rank sums keep
    every intermediate an exact integer (midranks live on the .5
    grid), so the statistic is exact until the two display
    divisions."""
    events = load_table(spark, sf_dir, "events")
    t = events.filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "grp_a"
        ),
    )
    hist = t.groupBy("vc").agg(
        F.sum("grp_a").cast("bigint").alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    # value cents are DATA-sized: size-conditional cumulative shape
    ranked = _hist_running_totals(
        hist,
        ["vc"],
        {"below": "c"},
        include_current=False,
        large=_input_is_large(sf_dir, "events"),
    ).select("vc", "ca", "c", "below")
    sums = ranked.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum(F.col("c") - F.col("ca")).cast("bigint").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("below") + F.col("c") + 1))
        .cast("bigint")
        .alias("two_ranksum_a"),
    )
    u_a = F.col("two_ranksum_a") / 2.0 - F.col("na") * (F.col("na") + 1) / 2.0
    return sums.select(
        "na",
        "nb",
        "two_ranksum_a",
        F.round(u_a, 6).alias("u_a"),
        F.round(
            u_a / (F.col("na").cast("double") * F.col("nb")), 6
        ).alias("effect_cles"),
    )


# --- k-fold cross-validated OLS ---------------------------------------------

_KFOLD = 5

_CV_ORACLE = f"""
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc,
           {h60_sql("('fold|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))")} % {_KFOLD}
               AS fold
    FROM lineitem
),
f AS (
    SELECT fold, count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM t GROUP BY fold
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
           sum(sxx) AS tsxx, sum(sxy) AS tsxy, sum(syy) AS tsyy
    FROM f
),
cv AS (
    SELECT f.fold, f.n,
           -- out-of-fold (train) sums = total − fold
           tot.tn - f.n AS trn,
           tot.tsx - f.sx AS trx, tot.tsy - f.sy AS try_,
           tot.tsxx - f.sxx AS trxx, tot.tsxy - f.sxy AS trxy,
           f.sx, f.sy, f.sxx, f.sxy, f.syy
    FROM f, tot
),
fit AS (
    SELECT *,
           ((trn * trxy) - (trx * try_)) / ((trn * trxx) - (trx * trx))
               AS b,
           (try_ - ((trn * trxy) - (trx * try_))
                    / ((trn * trxx) - (trx * trx)) * trx) / trn AS a
    FROM cv
)
SELECT fold, n,
       round(b / 100, 6) AS slope,
       round(a / 100, 6) AS intercept,
       round((syy - 2 * a * sy - 2 * b * sxy + 2 * a * b * sx
              + a * a * n + b * b * sxx) / n / 10000, 6) AS fold_mse
FROM fit
ORDER BY fold
"""


@query("kfold_ols_cv", _CV_ORACLE)
def kfold_ols_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS in ONE scan: per-fold sufficient
    statistics aggregate once, each fold's TRAINING sums are just
    total − fold (sufficient statistics subtract exactly), and the
    held-out MSE expands algebraically over the fold's own power sums
    — so the complete train-k-models-score-k-folds loop costs one
    pass over the data and k rows of arithmetic. This is the
    distributed CV pattern: no data ever re-partitions by fold.
    Fold assignment is a pure h60 function of the row key."""
    from ..functions.hashing import h60 as _h60

    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("yc"),
        (
            _h60(
                F.concat(
                    F.lit("fold|"),
                    F.col("l_orderkey").cast("string"),
                    F.lit("|"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _KFOLD
        ).alias("fold"),
    )
    x, yc = F.col("x"), F.col("yc")
    f = t.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(x).cast("double").alias("sx"),
        _dec_sum(yc).cast("double").alias("sy"),
        _dec_sum(x * x).cast("double").alias("sxx"),
        _dec_sum(x * yc).cast("double").alias("sxy"),
        _dec_sum(yc * yc).cast("double").alias("syy"),
    ).localCheckpoint(eager=False)  # feeds totals AND per-fold fits
    tot = f.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
        F.sum("syy").alias("tsyy"),
    )
    cv = f.crossJoin(F.broadcast(tot))
    trn = F.col("tn") - F.col("n")
    trx = F.col("tsx") - F.col("sx")
    try_ = F.col("tsy") - F.col("sy")
    trxx = F.col("tsxx") - F.col("sxx")
    trxy = F.col("tsxy") - F.col("sxy")
    b = (trn * trxy - trx * try_) / (trn * trxx - trx * trx)
    a = (try_ - b * trx) / trn
    mse = (
        F.col("syy")
        - 2 * a * F.col("sy")
        - 2 * b * F.col("sxy")
        + 2 * a * b * F.col("sx")
        + a * a * F.col("n")
        + b * b * F.col("sxx")
    ) / F.col("n") / 10000
    return cv.select(
        "fold",
        "n",
        F.round(b / 100, 6).alias("slope"),
        F.round(a / 100, 6).alias("intercept"),
        F.round(mse, 6).alias("fold_mse"),
    ).orderBy("fold")


# --- leave-one-out target encoding ------------------------------------------

_TE_M = 100  # smoothing pseudo-count

_TE_ORACLE = f"""
WITH t AS (
    SELECT l_orderkey, l_linenumber, l_suppkey,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
g AS (
    SELECT l_suppkey, count(*) AS n,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
    FROM t GROUP BY l_suppkey
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS tn,
           CAST(sum(s) AS DECIMAL(38,0)) AS ts
    FROM g
)
SELECT t.l_orderkey, t.l_linenumber, t.l_suppkey,
       round(
           (CAST(g.s AS DOUBLE) - t.yc
            + {_TE_M} * (CAST(tot.ts AS DOUBLE) / tot.tn))
           / (g.n - 1 + {_TE_M}) / 100, 6) AS te_price
FROM t
JOIN g ON g.l_suppkey = t.l_suppkey
CROSS JOIN tot
ORDER BY t.l_orderkey, t.l_linenumber
"""


@query("target_encode_loo", _TE_ORACLE)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of supplier → mean line price
    (the categorical-feature trick gradient-boosted models feed on):
    each row's encoding is its category's target sum MINUS ITS OWN
    target (so the feature never leaks the row's label) smoothed
    toward the global prior with m=100 pseudo-counts. One scan builds
    per-category sums; the global prior folds from those (barriered)
    and broadcasts; the per-row encoding is then scan-local arithmetic
    against the broadcast category table — the same shape at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("yc"),
    )
    g = (
        t.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("yc")).alias("s"),
        )
        .localCheckpoint(eager=False)  # feeds the prior AND the join
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("decimal(38,0)").alias("ts"),
    )
    prior = F.col("ts").cast("double") / F.col("tn")
    return (
        t.join(F.broadcast(g), "l_suppkey")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            F.round(
                (F.col("s").cast("double") - F.col("yc") + _TE_M * prior)
                / (F.col("n") - 1 + _TE_M)
                / 100,
                6,
            ).alias("te_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --- population stability index (distribution drift monitor) ----------------

# PSI = sum over bins of (p_b - q_b) * ln(p_b / q_b) between each
# year's order-value distribution and the 1995 reference — the
# standard production drift alarm for features/labels feeding a
# trained model (PSI > 0.1 "investigate", > 0.25 "retrain"). Laplace
# smoothing (+1 per bin over n + B) makes zero-count bins well-defined
# deterministically (no epsilon constant to disagree on), and the
# per-bin term is floor-quantized at 1e-9 (the KL/BM25 discipline) so
# the sum is an exact int64 on both engines.
_PSI_ORACLE = """
WITH b AS (
    SELECT year(o_orderdate) AS yr,
           CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin
    FROM orders
),
cnt AS (SELECT yr, bin, count(*) AS c FROM b GROUP BY yr, bin),
n AS (SELECT yr, sum(c) AS n FROM cnt GROUP BY yr),
bins AS (SELECT DISTINCT bin FROM b),
nb AS (SELECT count(*) AS B FROM bins),
grid AS (
    SELECT y.yr, bins.bin, coalesce(c.c, 0) AS c, y.n
    FROM n y CROSS JOIN bins
    LEFT JOIN cnt c ON c.yr = y.yr AND c.bin = bins.bin
),
ref AS (SELECT bin, c AS cr, n AS nr FROM grid WHERE yr = 1995),
terms AS (
    SELECT g.yr,
           CAST(floor(1e9 *
               ((CAST(g.c + 1 AS DOUBLE) / (g.n + nb.B))
                - (CAST(r.cr + 1 AS DOUBLE) / (r.nr + nb.B)))
               * ln((CAST(g.c + 1 AS DOUBLE) * (r.nr + nb.B))
                    / (CAST(r.cr + 1 AS DOUBLE) * (g.n + nb.B)))
           ) AS BIGINT) AS term_u
    FROM grid g
    JOIN ref r ON r.bin = g.bin
    CROSS JOIN nb
    WHERE g.yr > 1995
)
SELECT yr,
       CAST(sum(term_u) AS BIGINT) AS psi_nano,
       CAST(sum(term_u) AS DOUBLE) / 1e9 AS psi,
       CAST(sum(term_u) AS DOUBLE) / 1e9 > 0.1 AS drift_alert
FROM terms
GROUP BY yr
ORDER BY yr
"""


@query("psi_value_drift", _PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: each year's order-
    value histogram vs the 1995 reference, Laplace-smoothed over the
    union bin set so empty bins need no epsilon convention, per-bin
    terms floor-quantized at 1e-9 (exact int64 sums cross-engine; same
    libm-ln assumption as km_survival_gaps). Two scans of orders
    collapse to a ~22-bin-per-year sketch; everything after the first
    groupBy is dimension-sized, and the reference histogram broadcasts
    — the shape a nightly 100 TB feature-drift audit takes."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bin"),
    )
    cnt = b.groupBy("yr", "bin").agg(F.count(F.lit(1)).alias("c"))
    n = cnt.groupBy("yr").agg(F.sum("c").alias("n"))
    bins = b.select("bin").distinct()
    nb = bins.agg(F.count(F.lit(1)).alias("B"))
    grid = (
        n.crossJoin(F.broadcast(bins))
        .join(cnt, ["yr", "bin"], "left")
        .select("yr", "bin", F.coalesce("c", F.lit(0)).alias("c"), "n")
    )
    ref = grid.filter(F.col("yr") == 1995).select(
        "bin", F.col("c").alias("cr"), F.col("n").alias("nr")
    )
    p = (F.col("c") + 1).cast("double") / (F.col("n") + F.col("B"))
    q = (F.col("cr") + 1).cast("double") / (F.col("nr") + F.col("B"))
    lr = F.log(
        ((F.col("c") + 1).cast("double") * (F.col("nr") + F.col("B")))
        / ((F.col("cr") + 1).cast("double") * (F.col("n") + F.col("B")))
    )
    term = F.floor(F.lit(1e9) * (p - q) * lr).cast("bigint")
    terms = (
        grid.filter(F.col("yr") > 1995)
        .join(F.broadcast(ref), "bin")
        .crossJoin(F.broadcast(nb))
        .select("yr", term.alias("term_u"))
    )
    return (
        terms.groupBy("yr")
        .agg(F.sum("term_u").cast("bigint").alias("psi_nano"))
        .select(
            "yr",
            "psi_nano",
            (F.col("psi_nano").cast("double") / 1e9).alias("psi"),
            (F.col("psi_nano").cast("double") / 1e9 > 0.1).alias(
                "drift_alert"
            ),
        )
        .orderBy("yr")
    )


# --- inter-rater agreement (Cohen's kappa) ----------------------------------

# Two deterministic "raters" over documents — a length-based and a
# word-count-based quality judgment (stand-ins for two labeling
# models): agreement beyond chance is what kappa measures, the
# standard acceptance gate before trusting synthetic labels.
_KAPPA_A = "n_chars >= 300"
_KAPPA_B = "(length(text) - length(replace(text, ' ', ''))) >= 50"

_KAPPA_ORACLE = f"""
WITH r AS (
    SELECT CASE WHEN {_KAPPA_A} THEN 1 ELSE 0 END AS a,
           CASE WHEN {_KAPPA_B} THEN 1 ELSE 0 END AS b
    FROM documents
),
c AS (
    SELECT count(*) AS n,
           sum(a * b) AS n11,
           sum((1 - a) * (1 - b)) AS n00,
           sum(a * (1 - b)) AS n10,
           sum((1 - a) * b) AS n01,
           sum(a) AS na, sum(b) AS nb
    FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS n_both_pos,
       CAST(n00 AS BIGINT) AS n_both_neg,
       CAST(n10 AS BIGINT) AS n_a_only,
       CAST(n01 AS BIGINT) AS n_b_only,
       round((CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS po,
       round((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
              + (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                * (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE)))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       round(((CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE))
                  * CAST(n AS DOUBLE)
              - (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                 + (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                   * (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE))))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                   + (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                     * (CAST(n AS DOUBLE) - CAST(nb AS DOUBLE)))),
             6) AS kappa
FROM c
"""


@query("cohens_kappa", _KAPPA_ORACLE)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic raters (length-based
    vs word-count-based quality judgments) — chance-corrected
    agreement, the gate a labeling pipeline runs before trusting a
    second annotator/model. ONE scan accumulates the full 2x2
    confusion table as exact int64 sums; po/pe/kappa derive from
    those counts with the identical double expression on both engines
    (kappa algebraically rearranged to a single division:
    (po·n² − pe·n²)/(n² − pe·n²) — every operand an exact integer
    product cast to double, so no intermediate-rounding divergence).
    """
    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        F.when(F.expr(_KAPPA_A), F.lit(1)).otherwise(F.lit(0)).alias("a"),
        F.when(F.expr(_KAPPA_B), F.lit(1)).otherwise(F.lit(0)).alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    agree = d("n11") + d("n00")
    chance = d("na") * d("nb") + (d("n") - d("na")) * (d("n") - d("nb"))
    nn = d("n") * d("n")
    return c.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("n_both_pos"),
        F.col("n00").cast("bigint").alias("n_both_neg"),
        F.col("n10").cast("bigint").alias("n_a_only"),
        F.col("n01").cast("bigint").alias("n_b_only"),
        F.round(agree / d("n"), 6).alias("po"),
        F.round(chance / nn, 6).alias("pe"),
        F.round((agree * d("n") - chance) / (nn - chance), 6).alias("kappa"),
    )


# --- Spearman rank correlation ----------------------------------------------

# Midranks come from VALUE HISTOGRAMS (the mann_whitney_u discipline):
# group by value, cumulative counts assign every tied block its exact
# doubled midrank (2·cum − c + 1), rows join their value's midrank
# back — never a per-row global rank. Quantity has 50 distinct values
# (broadcast); price ranks join on exact integer cents. Power sums
# accumulate in DECIMAL(38,0) (doubled midranks reach ~2n, their
# products overflow int64 past sf0.01) and the Pearson-over-ranks
# formula combines them in DOUBLE with one division — identical
# IEEE ops from identical exact operands on both engines.
_SPEARMAN_ORACLE = """
WITH t AS (
    SELECT l_quantity AS qv,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
    FROM lineitem
),
qh AS (SELECT qv, count(*) AS c FROM t GROUP BY qv),
qr AS (
    SELECT qv, 2 * sum(c) OVER (ORDER BY qv ROWS UNBOUNDED PRECEDING)
               - c + 1 AS dmr_q
    FROM qh
),
ph AS (SELECT pc, count(*) AS c FROM t GROUP BY pc),
pr AS (
    SELECT pc, 2 * sum(c) OVER (ORDER BY pc ROWS UNBOUNDED PRECEDING)
               - c + 1 AS dmr_p
    FROM ph
),
rr AS (
    SELECT qr.dmr_q AS x, pr.dmr_p AS y
    FROM t JOIN qr USING (qv) JOIN pr USING (pc)
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
    FROM rr
)
SELECT CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
             6) AS spearman_rho
FROM s
"""


@query("spearman_correlation", _SPEARMAN_ORACLE)
def spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    over lineitem — the robust, tie-aware sibling of
    `correlation_matrix`'s Pearson entries. Ranks are exact doubled
    midranks from two value histograms (50-value quantity histogram
    broadcasts; price ranks equi-join on integer cents), so no global
    per-row sort exists anywhere in the plan; the five power sums
    accumulate in one scan over the rank-joined rows."""
    li = load_table(spark, sf_dir, "lineitem")
    # t feeds both histograms and the rank join — barrier it so the
    # fact scan runs once instead of three times
    t = li.select(
        F.col("l_quantity").alias("qv"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("pc"),
    ).localCheckpoint(eager=False)
    w_q = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    qr = (
        t.groupBy("qv")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "qv",
            (2 * F.sum("c").over(w_q) - F.col("c") + 1).alias("dmr_q"),
        )
    )
    # price cents are DATA-sized (unlike the 50-value quantity
    # domain): pick the cumulative shape from the input size
    pr = _hist_running_totals(
        t.groupBy("pc").agg(F.count(F.lit(1)).alias("c")),
        ["pc"],
        {"cum_c": "c"},
        large=_input_is_large(sf_dir, "lineitem"),
    ).select(
        "pc",
        (2 * F.col("cum_c") - F.col("c") + 1).alias("dmr_p"),
    )
    rr = (
        t.join(F.broadcast(qr), "qv")
        .join(pr, "pc")
        .select(F.col("dmr_q").alias("x"), F.col("dmr_p").alias("y"))
    )
    dec38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dec19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = rr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38("x")).cast("double").alias("sx"),
        F.sum(dec38("y")).cast("double").alias("sy"),
        F.sum(dec38("x") * dec19("y")).cast("double").alias("sxy"),
        F.sum(dec38("x") * dec19("x")).cast("double").alias("sxx"),
        F.sum(dec38("y") * dec19("y")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(num / den, 6).alias("spearman_rho"),
    )


# --- CUSUM changepoint detection --------------------------------------------

# Division-free CUSUM: the classic statistic S_t = Σ_{i<=t}(x_i − x̄)
# scaled by n becomes S'_t = n·(Σ_{i<=t} x_i) − t·(Σ x) — pure int64
# over integer cents (n·prefix ≤ 3e3·1e13 at sf100, far inside
# int64 for day-level series), so argmax |S'_t| is engine-exact with
# no mean rounding anywhere. Day-level cardinality: the ordered
# window and the argmax run over ~2.4k rows regardless of fact size.
_CUSUM_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY date_trunc('day', o_orderdate)
),
tot AS (SELECT count(*) AS n, sum(rev_cents) AS s FROM daily),
cum AS (
    SELECT day, rev_cents,
           row_number() OVER (ORDER BY day) AS t,
           sum(rev_cents) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS pref
    FROM daily
),
scored AS (
    SELECT day, rev_cents, t,
           CAST(tot.n * cum.pref - cum.t * tot.s AS BIGINT)
               AS cusum_scaled
    FROM cum, tot
),
best AS (
    SELECT day AS cp_day FROM scored
    ORDER BY abs(cusum_scaled) DESC, day ASC LIMIT 1
)
SELECT CAST(s.day AS TIMESTAMP) AS day,
       s.rev_cents,
       s.cusum_scaled,
       s.day = best.cp_day AS is_changepoint
FROM scored s, best
ORDER BY s.day
"""


@query("cusum_changepoint", _CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint over daily revenue: the day where
    the cumulative deviation from the series mean peaks — the
    level-shift detector a data-quality monitor runs over ingestion
    volume (the drift-monitor family's time-domain member, beside
    PSI's distribution-domain shift). The statistic is rescaled by n
    to stay in pure int64 (n·prefix − t·total), so the argmax is
    exact — no mean division, no float accumulation; at any fact
    scale the series is day-cardinality and the heavy work is the
    one groupBy producing it."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    ).localCheckpoint(eager=False)  # feeds tot AND cum: one scan+agg
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev_cents").alias("s")
    )
    w_ord = Window.orderBy("day")
    cum = daily.select(
        "day",
        "rev_cents",
        F.row_number().over(w_ord).alias("t"),
        F.sum("rev_cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pref"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "day",
        "rev_cents",
        "t",
        (F.col("n") * F.col("pref") - F.col("t") * F.col("s"))
        .cast("bigint")
        .alias("cusum_scaled"),
    )
    best = (
        scored.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc())
        .limit(1)
        .select(F.col("day").alias("cp_day"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "rev_cents",
            "cusum_scaled",
            (F.col("day") == F.col("cp_day")).alias("is_changepoint"),
        )
        .orderBy("day")
    )


# --- log-rank test (two-group survival comparison) --------------------------

# Per-event-time terms E1_t = d_t·n1_t/n_t and the hypergeometric
# variance are rationals with per-time denominators; they go through
# the KM floor-quantized discipline (identical expression TEXT on
# both engines → identical doubles → identical floor quanta), summed
# exactly in DECIMAL(38,0). Group = the earlier order's priority
# (urgent/high vs rest), event = the inter-order gap.
_LOGRANK_E1 = "CAST(floor(1e9 * d * n1 / n) AS BIGINT)"
# Denominator forced to DOUBLE before multiplying: n is the at-risk
# count, and a pure-int64 n*n*(n-1) wraps silently past n≈2.1M events
# (Spark's non-ANSI multiply), yielding garbage variance terms. The
# numerator chain is already double via the leading 1e9 literal. For
# n³ < 2^53 the double product is exact, so small-SF hashes are
# unchanged.
_LOGRANK_V = (
    "CAST(floor(1e9 * d * n1 * (n - n1) * (n - d)"
    " / (CAST(n AS DOUBLE) * n * (n - 1))) AS BIGINT)"
)

_LOGRANK_ORACLE = f"""
WITH gaps AS (
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END AS grp,
           date_diff('day', o_orderdate,
                     lead(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey))
               AS gap_days
    FROM orders
),
ev AS (
    SELECT grp, CAST(gap_days AS BIGINT) AS t
    FROM gaps WHERE gap_days IS NOT NULL
),
hist AS (
    SELECT t, count(*) AS d, sum(grp) AS d1
    FROM ev GROUP BY t
),
tot AS (
    SELECT CAST(sum(d) AS BIGINT) AS n_all,
           CAST(sum(d1) AS BIGINT) AS n1_all
    FROM hist
),
risk AS (
    SELECT t, d, d1,
           tot.n_all - CAST(coalesce(sum(d) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n,
           tot.n1_all - CAST(coalesce(sum(d1) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n1
    FROM hist, tot
),
terms AS (
    SELECT d, d1, n, n1,
           {_LOGRANK_E1} AS e1_q,
           CASE WHEN n > 1 THEN {_LOGRANK_V} ELSE 0 END AS v_q
    FROM risk
),
s AS (
    SELECT CAST(sum(CAST(d1 AS DECIMAL(38,0))) AS BIGINT) AS o1,
           CAST(sum(CAST(e1_q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS e1_qs,
           CAST(sum(CAST(v_q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS v_qs
    FROM terms
)
SELECT o1 AS observed_1,
       CAST(e1_qs AS BIGINT) AS expected_1_q,
       CAST(v_qs AS BIGINT) AS variance_q,
       round((CAST(o1 AS DOUBLE) - CAST(e1_qs AS DOUBLE) / 1e9)
             * (CAST(o1 AS DOUBLE) - CAST(e1_qs AS DOUBLE) / 1e9)
             / (CAST(v_qs AS DOUBLE) / 1e9), 6) AS chi2
FROM s
"""


@query("logrank_test", _LOGRANK_ORACLE)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do urgent-priority customers reorder on a
    different time curve than the rest? Completes the survival family
    (`km_survival_gaps` estimates ONE curve; this compares TWO): at
    each distinct gap length, observed group-1 events vs the
    hypergeometric expectation given the at-risk split, χ² =
    (O₁−E₁)²/V. Event times collapse to a day-level histogram first
    (cumulative at-risk scans run over distinct gap values, not
    rows); per-time rational terms are floor-quantized at 1e-9
    through expression text shared verbatim with the oracle and
    summed in DECIMAL(38,0). Same libm-free guarantee as KM: the only
    nonexact steps are IEEE divisions on identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    wg = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("grp"),
        F.datediff(F.lead("o_orderdate").over(wg), F.col("o_orderdate"))
        .cast("bigint")
        .alias("t"),
    ).filter(F.col("t").isNotNull())
    hist = (
        gaps.groupBy("t")
        .agg(F.count(F.lit(1)).alias("d"), F.sum("grp").alias("d1"))
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(
        F.sum("d").cast("bigint").alias("n_all"),
        F.sum("d1").cast("bigint").alias("n1_all"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = hist.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (
            F.col("n_all")
            - F.coalesce(F.sum("d").over(w_prev), F.lit(0)).cast("bigint")
        ).alias("n"),
        (
            F.col("n1_all")
            - F.coalesce(F.sum("d1").over(w_prev), F.lit(0)).cast("bigint")
        ).alias("n1"),
    )
    terms = risk.select(
        "d",
        "d1",
        F.expr(_LOGRANK_E1).alias("e1_q"),
        F.when(F.col("n") > 1, F.expr(_LOGRANK_V))
        .otherwise(F.lit(0))
        .alias("v_q"),
    )
    s = terms.agg(
        F.sum(F.col("d1").cast("decimal(38,0)")).cast("bigint").alias("o1"),
        F.sum(F.col("e1_q").cast("decimal(38,0)")).alias("e1_qs"),
        F.sum(F.col("v_q").cast("decimal(38,0)")).alias("v_qs"),
    )
    diff = F.col("o1").cast("double") - F.col("e1_qs").cast("double") / 1e9
    return s.select(
        F.col("o1").alias("observed_1"),
        F.col("e1_qs").cast("bigint").alias("expected_1_q"),
        F.col("v_qs").cast("bigint").alias("variance_q"),
        F.round(
            diff * diff / (F.col("v_qs").cast("double") / 1e9), 6
        ).alias("chi2"),
    )


# --- Benford first-digit audit ----------------------------------------------

# log10(1 + 1/d) floor-scaled to 1e9 integers, computed once in
# Python and embedded as literals in both plans (the NDCG-discount
# discipline) — no log executes inside either engine.
_BENFORD_Q = [
    301029995, 176091259, 124938736, 96910013, 79181246,
    66946789, 57991946, 51152522, 45757490,
]
_BENFORD_CASE = (
    "CASE d "
    + " ".join(f"WHEN {i + 1} THEN {q}" for i, q in enumerate(_BENFORD_Q))
    + " END"
)

_BENFORD_ORACLE = f"""
WITH v AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM orders WHERE o_totalprice > 0
),
h AS (SELECT d, count(*) AS n_d FROM v GROUP BY d),
tot AS (SELECT sum(n_d) AS n FROM h)
SELECT h.d,
       CAST(h.n_d AS BIGINT) AS n_d,
       round(CAST(h.n_d AS DOUBLE) / tot.n, 6) AS frac,
       round(CAST({_BENFORD_CASE} AS DOUBLE) / 1e9, 6) AS benford_frac,
       round((CAST(h.n_d AS DOUBLE) - tot.n * ({_BENFORD_CASE}) / 1e9)
             * (CAST(h.n_d AS DOUBLE) - tot.n * ({_BENFORD_CASE}) / 1e9)
             / (tot.n * ({_BENFORD_CASE}) / 1e9), 6) AS chi2_term
FROM h, tot
ORDER BY h.d
"""


@query("benford_digit_audit", _BENFORD_ORACLE)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts — the
    forensic data-quality screen for fabricated or truncated numeric
    feeds. The leading digit comes from the DECIMAL STRING of exact
    integer cents (no log10 on data — a float log near a power of 10
    could flip the digit), Benford expectations are 1e9-scaled
    integer literals computed once in Python, and each χ² term
    combines exact counts with one literal in identical IEEE ops.
    One scan + a 9-row digit histogram at any fact scale."""
    orders = load_table(spark, sf_dir, "orders")
    v = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("d")
    )
    h = v.groupBy("d").agg(F.count(F.lit(1)).alias("n_d"))
    tot = h.agg(F.sum("n_d").alias("n"))
    bf = F.expr(_BENFORD_CASE)
    expected = F.col("n") * bf / F.lit(1e9)
    dev = F.col("n_d").cast("double") - expected
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("n_d").cast("bigint").alias("n_d"),
            F.round(F.col("n_d").cast("double") / F.col("n"), 6).alias(
                "frac"
            ),
            F.round(bf.cast("double") / F.lit(1e9), 6).alias(
                "benford_frac"
            ),
            F.round(dev * dev / expected, 6).alias("chi2_term"),
        )
        .orderBy("d")
    )


# --- multinomial naive Bayes (train + eval in one dataflow) -----------------

# Laplace-smoothed log-likelihoods floor-quantized at 1e-9 through
# expression text shared verbatim with the oracle (the KM/log-rank
# libm discipline): per-(doc, class) scores are exact int64 sums of
# identical quanta, so the argmax is engine-exact.
_NB_QLP = "CAST(floor(1e9 * ln((c + 1.0) / (n_tok + v))) AS BIGINT)"
_NB_QPRIOR = "CAST(floor(1e9 * ln(CAST(n_docs AS DOUBLE) / n_all)) AS BIGINT)"

from ..functions.hashing import TOKENS_SQL as _NB_TOKENS_SQL  # noqa: E402

_NB_WORDS = _NB_TOKENS_SQL.format(x="text")

_NB_ORACLE = f"""
WITH train AS (
    SELECT lang, text FROM documents WHERE doc_id % 7 <> 0
),
test AS (
    SELECT doc_id, lang AS true_lang, text FROM documents
    WHERE doc_id % 7 = 0
),
ttok AS (SELECT lang, unnest({_NB_WORDS}) AS token FROM train),
counts AS (SELECT lang, token, count(*) AS c FROM ttok GROUP BY lang, token),
ltot AS (SELECT lang, count(*) AS n_tok FROM ttok GROUP BY lang),
ldocs AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
nall AS (SELECT count(*) AS n_all FROM train),
vocab AS (SELECT DISTINCT token FROM ttok),
vsz AS (SELECT count(*) AS v FROM vocab),
dense AS (
    SELECT vocab.token, ltot.lang,
           {_NB_QLP.replace("c +", "coalesce(counts.c, 0) +")} AS qlp
    FROM vocab CROSS JOIN ltot CROSS JOIN vsz
    LEFT JOIN counts
      ON counts.token = vocab.token AND counts.lang = ltot.lang
),
prior AS (
    SELECT ldocs.lang, {_NB_QPRIOR} AS qprior
    FROM ldocs CROSS JOIN nall
),
stok AS (SELECT doc_id, true_lang, unnest({_NB_WORDS}) AS token FROM test),
scored AS (
    SELECT s.doc_id, s.true_lang, d.lang,
           sum(d.qlp) AS qsum
    FROM stok s JOIN dense d ON d.token = s.token
    GROUP BY s.doc_id, s.true_lang, d.lang
),
full_score AS (
    SELECT sc.doc_id, sc.true_lang, sc.lang,
           -- sum(BIGINT) is HUGEINT in DuckDB -> object dtype; cast
           -- back to BIGINT (the q12 lesson)
           CAST(sc.qsum + p.qprior AS BIGINT) AS score_q
    FROM scored sc JOIN prior p ON p.lang = sc.lang
)
SELECT doc_id, true_lang,
       lang AS pred_lang, score_q,
       pred_lang = true_lang AS correct
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score_q DESC, lang) AS rn
    FROM full_score
) WHERE rn = 1
ORDER BY doc_id
"""


@query("naive_bayes_language", _NB_ORACLE)
def naive_bayes_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained and evaluated IN the engine:
    deterministic 6/7-train 1/7-test split, Laplace-smoothed
    per-(class, token) log-likelihoods over the train tokens, dense
    (vocab × class) probability table (so every class scores every
    known token — unknown test tokens drop on both engines), argmax
    with ties to the smaller class label. Joins the trained-model
    family (OLS/CV, boosted stumps, k-means/kNN): count-based
    training is two aggregations; scoring is one token-keyed join +
    one (doc, class) aggregation — everything shuffles on token or
    doc keys, never all-pairs. Log terms are 1e-9 floor-quantized
    int64 (KM libm discipline), so scores and the argmax are
    engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.hashing import tokens as _tokens

    train = docs.filter(F.col("doc_id") % 7 != 0)
    test = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    ttok = train.select(
        "lang", F.explode(_tokens("text")).alias("token")
    ).localCheckpoint(eager=False)
    counts = ttok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    ltot = ttok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok"))
    ldocs = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    nall = train.agg(F.count(F.lit(1)).alias("n_all"))
    vocab = ttok.select("token").distinct()
    vsz = vocab.agg(F.count(F.lit(1)).alias("v"))
    dense = (
        vocab.crossJoin(F.broadcast(ltot))
        .crossJoin(F.broadcast(vsz))
        .join(
            counts.select(
                F.col("token").alias("c_token"),
                F.col("lang").alias("c_lang"),
                "c",
            ),
            (F.col("token") == F.col("c_token"))
            & (F.col("lang") == F.col("c_lang")),
            "left",
        )
        .select(
            "token",
            "lang",
            F.expr(
                _NB_QLP.replace("c +", "coalesce(c, 0) +")
            ).alias("qlp"),
        )
        .localCheckpoint(eager=False)
    )
    prior = ldocs.crossJoin(F.broadcast(nall)).select(
        "lang", F.expr(_NB_QPRIOR).alias("qprior")
    )
    stok = test.select(
        "doc_id", "true_lang", F.explode(_tokens("text")).alias("token")
    )
    scored = (
        stok.join(
            dense.select(
                F.col("token").alias("d_token"), "lang", "qlp"
            ),
            F.col("token") == F.col("d_token"),
        )
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum("qlp").alias("qsum"))
    )
    full_score = scored.join(F.broadcast(prior), "lang").select(
        "doc_id",
        "true_lang",
        "lang",
        (F.col("qsum") + F.col("qprior")).alias("score_q"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_q"), F.asc("lang")
    )
    return (
        full_score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            "score_q",
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# --- robust trend: Theil-Sen slope + Mann-Kendall test ----------------------

# Both statistics run over the SAME day-pair table of the daily
# revenue series (pairs of a ~2.4k-row series — ~3M rows at any fact
# scale, since the series is day-cardinality). Theil-Sen's slope is
# the exact median (type-1 low order statistic of the even case and
# the true middle of the odd case, deterministic on both engines
# because every pairwise slope is one IEEE division of exact cents by
# an exact day count); Mann-Kendall's S is a pure integer sign sum
# with the tie-corrected variance from exact value-histogram counts.
_TREND_DAILY = """
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY date_trunc('day', o_orderdate)
"""

_THEIL_ORACLE = f"""
WITH daily AS ({_TREND_DAILY}),
idx AS (
    SELECT row_number() OVER (ORDER BY day) AS t, rev_cents
    FROM daily
),
pairs AS (
    SELECT (CAST(b.rev_cents - a.rev_cents AS DOUBLE) / (b.t - a.t))
               AS slope
    FROM idx a JOIN idx b ON b.t > a.t
),
ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope) AS r,
           count(*) OVER () AS m
    FROM pairs
)
SELECT CAST(max(m) AS BIGINT) AS n_pairs,
       round(avg(slope), 6) AS theil_sen_slope_cents_per_day
FROM ranked
WHERE r IN ((m + 1) // 2, (m + 2) // 2)
"""


@query("theil_sen_trend", _THEIL_ORACLE)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the median of all
    pairwise slopes — up to ~29% contamination cannot move it, which
    is why it is the monitoring-grade alternative to OLS on dirty
    feeds. The pair table is day-cardinality² (bounded by the
    calendar, not the fact table); each slope is ONE IEEE division of
    exact integer cents by an exact day distance, and the median
    picks the (m+1)//2 and (m+2)//2 order statistics (identical rows
    on both engines) so even-m averaging is a single half-sum of
    identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w_ord = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w_ord).alias("t"), "rev_cents"
    ).localCheckpoint(eager=False)
    # spread the day index across the cluster BEFORE the pair
    # nested-loop join — the index inherits ONE partition from its
    # row_number window, which would otherwise generate the whole
    # day² pair table (and everything downstream) in a single task
    a = idx.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("t").alias("ta"), F.col("rev_cents").alias("ra")
    )
    b = F.broadcast(
        idx.select(F.col("t").alias("tb"), F.col("rev_cents").alias("rb"))
    )
    pairs = a.join(b, F.col("tb") > F.col("ta")).select(
        (
            (F.col("rb") - F.col("ra")).cast("double")
            / (F.col("tb") - F.col("ta"))
        ).alias("slope"),
        "ta",
        "tb",
    ).localCheckpoint(eager=False)
    # Median SELECTION via the two-level distributed prefix sum
    # (operators/skew.hist_running_totals) instead of a
    # Window.orderBy with no partition key, which dragged the whole
    # day² pair table through ONE task (r12; the k-th smallest VALUE
    # is invariant to tie order, and (ta, tb) makes the order total
    # anyway). n_pairs comes from the checkpoint-materializing count.
    m = pairs.count()
    k1, k2 = (m + 1) // 2, (m + 2) // 2
    ranked = _hist_running_totals(
        pairs, ["slope", "ta", "tb"], {"r": F.lit(1)}, large=True
    )
    return (
        ranked.filter(F.col("r").isin([k1, k2]))
        .agg(
            F.max(F.lit(m).cast("bigint")).alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias(
                "theil_sen_slope_cents_per_day"
            ),
        )
    )


_MK_ORACLE = f"""
WITH daily AS ({_TREND_DAILY}),
idx AS (
    SELECT row_number() OVER (ORDER BY day) AS t, rev_cents
    FROM daily
),
s AS (
    SELECT CAST(sum(CASE WHEN b.rev_cents > a.rev_cents THEN 1
                         WHEN b.rev_cents < a.rev_cents THEN -1
                         ELSE 0 END) AS BIGINT) AS s_stat,
           count(*) AS n_pairs
    FROM idx a JOIN idx b ON b.t > a.t
),
n_t AS (SELECT count(*) AS n FROM idx),
ties AS (
    SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT rev_cents, count(*) AS c FROM idx
          GROUP BY rev_cents HAVING count(*) > 1)
)
SELECT s.s_stat,
       CAST(s.n_pairs AS BIGINT) AS n_pairs,
       CAST((n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term) AS BIGINT)
           AS var_times_18,
       round((CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                   WHEN s.s_stat < 0 THEN s.s_stat + 1
                   ELSE 0 END)
             / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term
                         AS DOUBLE) / 18.0), 6) AS z
FROM s, n_t n, ties t
"""


@query("mann_kendall_trend", _MK_ORACLE)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test over the same day-pair table
    as Theil-Sen: S = Σ sign(x_j − x_i) is a pure integer sum, the
    tie-corrected variance 18·Var = n(n−1)(2n+5) − Σ c(c−1)(2c+5)
    comes from exact value-histogram counts, and the
    continuity-corrected z is one sqrt + one division of exact
    operands. The nonparametric yes/no companion to Theil-Sen's
    how-much."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w_ord = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w_ord).alias("t"), "rev_cents"
    ).localCheckpoint(eager=False)
    a = idx.select(F.col("t").alias("ta"), F.col("rev_cents").alias("ra"))
    b = idx.select(F.col("t").alias("tb"), F.col("rev_cents").alias("rb"))
    s = a.join(b, F.col("tb") > F.col("ta")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    n_t = idx.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        idx.groupBy("rev_cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    )
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return (
        s.crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(ties))
        .select(
            "s_stat",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            var18.cast("bigint").alias("var_times_18"),
            F.round(
                corrected / F.sqrt(var18.cast("double") / 18.0), 6
            ).alias("z"),
        )
    )


# --- Kruskal-Wallis H (k-group rank test) -----------------------------------

# The k-group extension of mann_whitney_u, same histogram-midrank
# discipline: doubled rank sums stay integral on the .5 midrank grid
# and are summed exactly in DECIMAL(38,0); the tie term Σ(c³-c) is
# accumulated as per-row floor-quantized RELATIVE cubes (c/N)³ at
# 1e15 — each quantum is deterministic, the int64 sum is exact, the
# total is ≤ 1e15 at ANY corpus size (Σ(c/N)³ ≤ 1), so the tie
# correction scales to 100 TB where raw Σc³ overflows int64 past
# tie-group sizes of ~2M. Five fixed group labels pivot into named
# columns, so the H arithmetic is one fixed-text scalar expression
# over exact aggregates (the ols_regression display discipline).
_KW_SQL = """
WITH t AS (
    SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc, event_type AS grp
    FROM events WHERE value IS NOT NULL
),
hist AS (
    SELECT vc, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CASE WHEN grp = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN grp = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS c2,
           CAST(sum(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
           CAST(sum(CASE WHEN grp = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS c4,
           CAST(sum(CASE WHEN grp = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS c5
    FROM t GROUP BY vc
),
ranked AS (
    SELECT hist.*,
           CAST(coalesce(sum(c) OVER (ORDER BY vc
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS below
    FROM hist
),
agg AS (
    SELECT
        CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(c1) AS BIGINT) AS n1,
        CAST(sum(c2) AS BIGINT) AS n2,
        CAST(sum(c3) AS BIGINT) AS n3,
        CAST(sum(c4) AS BIGINT) AS n4,
        CAST(sum(c5) AS BIGINT) AS n5,
        CAST(sum(CAST(c1 AS DECIMAL(38,0)) * (2 * below + c + 1)) AS DECIMAL(38,0)) AS two1,
        CAST(sum(CAST(c2 AS DECIMAL(38,0)) * (2 * below + c + 1)) AS DECIMAL(38,0)) AS two2,
        CAST(sum(CAST(c3 AS DECIMAL(38,0)) * (2 * below + c + 1)) AS DECIMAL(38,0)) AS two3,
        CAST(sum(CAST(c4 AS DECIMAL(38,0)) * (2 * below + c + 1)) AS DECIMAL(38,0)) AS two4,
        CAST(sum(CAST(c5 AS DECIMAL(38,0)) * (2 * below + c + 1)) AS DECIMAL(38,0)) AS two5
    FROM ranked
),
tie AS (
    SELECT CAST(sum(CAST(floor(1e15
               * (CAST(c AS DOUBLE) / a.n)
               * (CAST(c AS DOUBLE) / a.n)
               * (CAST(c AS DOUBLE) / a.n)) AS BIGINT)) AS BIGINT) AS s3q
    FROM ranked, agg a
),
stat AS (
    SELECT a.n, a.n1, a.n2, a.n3, a.n4, a.n5,
           12.0 / (CAST(a.n AS DOUBLE) * (a.n + 1.0))
             * (CAST(a.two1 AS DOUBLE) * CAST(a.two1 AS DOUBLE) / (4.0 * a.n1)
              + CAST(a.two2 AS DOUBLE) * CAST(a.two2 AS DOUBLE) / (4.0 * a.n2)
              + CAST(a.two3 AS DOUBLE) * CAST(a.two3 AS DOUBLE) / (4.0 * a.n3)
              + CAST(a.two4 AS DOUBLE) * CAST(a.two4 AS DOUBLE) / (4.0 * a.n4)
              + CAST(a.two5 AS DOUBLE) * CAST(a.two5 AS DOUBLE) / (4.0 * a.n5))
             - 3.0 * (a.n + 1.0) AS h_raw,
           1.0 - (CAST(s.s3q AS DOUBLE) / 1e15
                  - (1.0 / a.n) / a.n)
               / (1.0 - (1.0 / a.n) / a.n) AS tie_d
    FROM agg a, tie s
)
SELECT n, n1, n2, n3, n4, n5,
       4 AS df,
       round(h_raw, 6) AS h,
       round(tie_d, 6) AS tie_correction,
       round(h_raw / tie_d, 6) AS h_corrected
FROM stat
"""


@query("kruskal_wallis_test", _KW_SQL)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do the five event types draw their ``value``
    from the same distribution? Nonparametric one-way ANOVA on ranks
    — the k-group companion to ``mann_whitney_u``, sharing its
    histogram-first shape: one shuffle builds the distinct-value
    histogram with per-group counts, one ordered window produces
    midranks, and the H statistic is a fixed-text scalar over exact
    integer/decimal aggregates (identical SQL runs on both engines).
    The tie correction uses relative-cube quantization so it neither
    overflows nor loses determinism at any scale."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_KW_SQL)


# --- logistic regression via IRLS (2 Newton steps) --------------------------


def _cramer3(m11, m12, m13, m22, m23, m33, r1, r2, r3, scale="1.0"):
    """Cramer's-rule solutions of the symmetric 3x3 system M·δ = r as
    SQL expression text — generated, not transcribed, so the Spark and
    DuckDB sides can never drift. Fixed parse trees make the double
    arithmetic deterministic cross-engine (the ols_regression display
    discipline applied to a solve)."""
    det = (
        f"({m11} * ({m22} * {m33} - {m23} * {m23})"
        f" - {m12} * ({m12} * {m33} - {m23} * {m13})"
        f" + {m13} * ({m12} * {m23} - {m22} * {m13}))"
    )
    n0 = (
        f"({r1} * ({m22} * {m33} - {m23} * {m23})"
        f" - {m12} * ({r2} * {m33} - {m23} * {r3})"
        f" + {m13} * ({r2} * {m23} - {m22} * {r3}))"
    )
    n1 = (
        f"({m11} * ({r2} * {m33} - {r3} * {m23})"
        f" - {r1} * ({m12} * {m33} - {m13} * {m23})"
        f" + {m13} * ({m12} * {r3} - {r2} * {m13}))"
    )
    n2 = (
        f"({m11} * ({m22} * {r3} - {m23} * {r2})"
        f" - {m12} * ({m12} * {r3} - {m13} * {r2})"
        f" + {r1} * ({m12} * {m23} - {m22} * {m13}))"
    )
    return tuple(f"({scale} * {n} / {det})" for n in (n0, n1, n2))


def _dsum(expr: str, alias: str) -> str:
    """Exact decimal sum of an integer expression, surfaced as DOUBLE."""
    return (
        f"CAST(sum(CAST({expr} AS DECIMAL(38,0))) AS DOUBLE) AS {alias}"
    )


# Step 1 (β = 0): μ = 1/2 and W = I/4 EXACTLY, so the Newton step is
# δ = 4·(X'X/n)⁻¹·(X'r/n) over sufficient statistics that are exact
# integers (quantity is integral, discount is exact cents). Step 2
# re-weights per row with μ = σ(η): η is assembled from per-term
# floor(1e9·β·x) quanta (β doubles are identical cross-engine from the
# fixed-text Cramer solve), and every step-2 contribution is
# floor(1e8·expr) summed in DECIMAL(38,0) (1e8 keeps the floor bias on the
# small-magnitude discount entries below 1e-5 relative; per-row quanta max
# ~6e10 so the exact decimal sum has headroom past 1e12 rows) — the km_survival libm
# discipline (exp is assumed correctly rounded; a last-ulp difference
# only matters on the measure-zero event that 1e6·w straddles an
# integer).
_LOGIT_B1 = _cramer3(
    "1.0", "(sq / n)", "(sdc / n / 100.0)",
    "(sqq / n)", "(sqdc / n / 100.0)", "(sdcdc / n / 10000.0)",
    "(sy / n - 0.5)",
    "(syq / n - 0.5 * (sq / n))",
    "(sydc / n / 100.0 - 0.5 * (sdc / n / 100.0))",
    scale="4.0",
)

_LOGIT_B2 = _cramer3(
    "(t11 / n2)", "(t12 / n2)", "(t13 / n2)",
    "(t22 / n2)", "(t23 / n2)", "(t33 / n2)",
    "(u1 / n2)", "(u2 / n2)", "(u3 / n2)",
)

_LOGISTIC_SQL = f"""
WITH t AS (
    SELECT CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS y,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_discount * 100, 0) AS BIGINT) AS dc
    FROM lineitem
),
s1 AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {_dsum("q", "sq")},
           {_dsum("dc", "sdc")},
           {_dsum("q * q", "sqq")},
           {_dsum("q * dc", "sqdc")},
           {_dsum("dc * dc", "sdcdc")},
           {_dsum("y", "sy")},
           {_dsum("y * q", "syq")},
           {_dsum("y * dc", "sydc")}
    FROM t
),
b1 AS (
    SELECT n,
           {_LOGIT_B1[0]} AS bb0,
           {_LOGIT_B1[1]} AS bb1,
           {_LOGIT_B1[2]} AS bb2
    FROM s1
),
p2 AS (
    SELECT t.y, t.q, t.dc,
           CAST(floor(1e9 * b.bb0) AS BIGINT)
           + CAST(floor(1e9 * (b.bb1 * t.q)) AS BIGINT)
           + CAST(floor(1e9 * (b.bb2 * (t.dc / 100.0))) AS BIGINT) AS etaq
    FROM t, b1 b
),
p4 AS (
    SELECT y, q, dc, mu,
           mu * (1.0 - mu) AS w,
           CAST(y AS DOUBLE) - mu AS r
    FROM (
        SELECT y, q, dc,
               1.0 / (1.0 + exp(0.0 - CAST(etaq AS DOUBLE) / 1e9)) AS mu
        FROM p2
    ) sub
),
s2 AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {_dsum("floor(1e8 * w)", "t11")},
           {_dsum("floor(1e8 * (w * q))", "t12")},
           {_dsum("floor(1e8 * (w * (dc / 100.0)))", "t13")},
           {_dsum("floor(1e8 * (w * q * q))", "t22")},
           {_dsum("floor(1e8 * (w * q * (dc / 100.0)))", "t23")},
           {_dsum("floor(1e8 * (w * (dc / 100.0) * (dc / 100.0)))", "t33")},
           {_dsum("floor(1e8 * r)", "u1")},
           {_dsum("floor(1e8 * (r * q))", "u2")},
           {_dsum("floor(1e8 * (r * (dc / 100.0)))", "u3")}
    FROM p4
)
SELECT CAST(b.n AS BIGINT) AS n,
       round(b.bb0, 6) AS beta0_step1,
       round(b.bb1, 6) AS beta1_step1,
       round(b.bb2, 6) AS beta2_step1,
       round(b.bb0 + {_LOGIT_B2[0]}, 6) AS beta0,
       round(b.bb1 + {_LOGIT_B2[1]}, 6) AS beta1,
       round(b.bb2 + {_LOGIT_B2[2]}, 6) AS beta2
FROM b1 b, (
    SELECT n AS n2, t11 / 1e8 AS t11, t12 / 1e8 AS t12, t13 / 1e8 AS t13,
           t22 / 1e8 AS t22, t23 / 1e8 AS t23, t33 / 1e8 AS t33,
           u1 / 1e8 AS u1, u2 / 1e8 AS u2, u3 / 1e8 AS u3
    FROM s2
) s
"""


@query("logistic_irls", _LOGISTIC_SQL)
def logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained IN the engine: 2 Newton/IRLS steps
    for P(l_returnflag = 'R' | quantity, discount). Each step is ONE
    aggregation over lineitem producing the 9 sufficient statistics
    (X'WX, X'r) as exact DECIMAL(38,0) sums of quantized per-row
    contributions, followed by a generated fixed-text Cramer solve of
    the 3x3 normal equations — so training cost is two scans with
    map-side partial aggregation, no per-iteration shuffle growth, at
    any corpus size. Step 1 exploits β=0 ⇒ W=I/4 exactly (integer
    statistics); step 2 re-weights with μ=σ(η) under the documented
    libm-exp assumption. Identical SQL text runs on both engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_LOGISTIC_SQL)


# --- Cox proportional hazards (binary covariate, Breslow ties) ---------------

# With a BINARY covariate the risk-set sums have closed forms —
# S0(t) = n0_t + e^β·n1_t, S1(t) = S2(t) = e^β·n1_t — so each Newton
# step needs ONE exp of the scalar β, never a per-row exp: the score
# U(β) = d1 − Σ_t d_t·S1/S0 and information I(β) = Σ_t d_t·s·(1−s)
# (s = S1/S0) are per-event-time terms over the SAME at-risk histogram
# km_survival and logrank_test use, floor-quantized at 1e-9 and summed
# exactly. β=0 makes step 1 purely rational (e^0 = 1).
_COX_TERM_S = "((d * (exp({b}) * n1)) / ((n - n1) + exp({b}) * n1))"
_COX_TERM_I = (
    "((d * ((exp({b}) * n1) / ((n - n1) + exp({b}) * n1)))"
    " * (1.0 - (exp({b}) * n1) / ((n - n1) + exp({b}) * n1)))"
)

_COX_SQL = f"""
WITH gaps AS (
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END AS grp,
           CAST(lead(epoch_days) OVER (PARTITION BY o_custkey
                                       ORDER BY epoch_days, o_orderkey)
                - epoch_days AS BIGINT) AS gap_days
    FROM (
        SELECT o_custkey, o_orderkey, o_orderpriority,
               CAST(floor(CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01'
                    AS BIGINT)) AS BIGINT) AS epoch_days
        FROM orders
    ) b
),
ev AS (
    SELECT grp, gap_days AS t FROM gaps WHERE gap_days IS NOT NULL
),
hist AS (
    SELECT t, CAST(count(*) AS BIGINT) AS d,
           CAST(sum(grp) AS BIGINT) AS d1
    FROM ev GROUP BY t
),
km AS (
    SELECT t, d, d1,
           CAST(sum(d) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n,
           CAST(sum(d1) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n1
    FROM hist
),
s0 AS (
    SELECT CAST(sum(d) AS BIGINT) AS nev,
           CAST(sum(d1) AS BIGINT) AS d1tot,
           CAST(sum(CAST(floor(1e9 * (d * n1 / n)) AS BIGINT)) AS BIGINT)
               AS e0_q,
           CAST(sum(CAST(floor(1e9 * (d * n1 * (n - n1)
                / (CAST(n AS DOUBLE) * n))) AS BIGINT)) AS BIGINT) AS i0_q
    FROM km
),
b1 AS (
    SELECT nev, d1tot,
           (CAST(d1tot AS DOUBLE) - e0_q / 1e9) / (i0_q / 1e9) AS beta1
    FROM s0
),
s2 AS (
    SELECT b.nev, b.d1tot, b.beta1,
           CAST(sum(CAST(floor(1e9 * {_COX_TERM_S.format(b="b.beta1")})
                AS BIGINT)) AS BIGINT) AS e1_q,
           CAST(sum(CAST(floor(1e9 * {_COX_TERM_I.format(b="b.beta1")})
                AS BIGINT)) AS BIGINT) AS i1_q
    FROM km, b1 b
    GROUP BY b.nev, b.d1tot, b.beta1
),
b2 AS (
    SELECT nev, d1tot, beta1,
           beta1 + (CAST(d1tot AS DOUBLE) - e1_q / 1e9) / (i1_q / 1e9)
               AS beta
    FROM s2
),
s3 AS (
    SELECT b.nev, b.d1tot, b.beta1, b.beta,
           CAST(sum(CAST(floor(1e9 * {_COX_TERM_I.format(b="b.beta")})
                AS BIGINT)) AS BIGINT) AS i2_q
    FROM km, b2 b
    GROUP BY b.nev, b.d1tot, b.beta1, b.beta
)
SELECT nev AS n_events, d1tot AS n_group1_events,
       round(beta1, 6) AS beta_step1,
       round(beta, 6) AS beta,
       round(exp(beta), 6) AS hazard_ratio,
       round(1.0 / sqrt(i2_q / 1e9), 6) AS se,
       round(beta * sqrt(i2_q / 1e9), 6) AS z
FROM s3
"""


@query("cox_proportional_hazards", _COX_SQL)
def cox_proportional_hazards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression (binary covariate: urgent/
    high-priority vs rest, Breslow tie handling, 2 Newton steps on the
    partial likelihood) over the inter-order-gap survival data —
    completes the survival family: km_survival_gaps estimates S(t),
    logrank_test tests group equality, Cox MEASURES the effect as a
    hazard ratio with a standard error. The binary covariate gives the
    risk-set sums closed forms (one scalar exp per step, no per-row
    exp), so each Newton step is one scan of the at-risk histogram —
    itself two window suffix sums over the event-time histogram.
    Per-time terms are 1e-9-quantized and summed exactly (the logrank
    discipline); identical SQL text runs on both engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_COX_SQL)


# --- isotonic regression (exact minimax closed form) -------------------------

# PAVA without the sequential pooling loop: the weighted isotonic fit
# has the closed form  ŷ(i) = max_{j≤i} min_{l≥i} avg(y over bins
# j..l)  — evaluated exactly over the BINNED table (≤50 rows), so the
# O(k²)-pair / O(k²)-window work is trivial while the corpus-sized
# work is one histogram shuffle. Every interval average is a single
# IEEE division of exact integer sums (deterministic), and min/max
# are order-insensitive, so no quantization is needed anywhere.
_ISOTONIC_SQL = """
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS bin,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
b AS (
    SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
    FROM t GROUP BY bin
),
c AS (
    SELECT bin, n, pos,
           CAST(sum(n) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cn,
           CAST(sum(pos) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cp
    FROM b
),
pairs AS (
    SELECT j.bin AS jb, l.bin AS lb,
           CAST(l.cp - (j.cp - j.pos) AS DOUBLE)
               / (l.cn - (j.cn - j.n)) AS avg_jl
    FROM c j JOIN c l ON j.bin <= l.bin
),
rm AS (
    SELECT jb, lb,
           min(avg_jl) OVER (PARTITION BY jb ORDER BY lb DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
    FROM pairs
),
iso AS (
    SELECT lb AS bin, max(cm) AS fit FROM rm GROUP BY lb
)
SELECT b.bin, b.n, b.pos,
       round(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate,
       round(i.fit, 6) AS iso_rate
FROM b JOIN iso i ON b.bin = i.bin
ORDER BY b.bin
"""


@query("isotonic_calibration", _ISOTONIC_SQL)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of P(l_returnflag = 'R') on the
    quantity bin — the monotone calibration step (Zadrozny-Elkan) a
    scoring pipeline runs after a classifier: raw per-bin rates are
    noisy and non-monotone; the isotonic fit is the least-squares
    monotone curve. Computed by the EXACT minimax closed form over
    the binned histogram instead of the sequential PAVA loop, so the
    whole fit is one corpus scan + O(k²) tiny-table ops — no
    iteration, no driver-side state, deterministic on both engines
    with no quantization (interval averages are single divisions of
    exact integer sums; min/max are order-insensitive). Identical SQL
    text runs on both engines; an independent PAVA implementation
    pins the equivalence in pytest."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_ISOTONIC_SQL)


# --- partial autocorrelation (Durbin-Levinson) -------------------------------


def _pacf_levels_sql(kmax: int) -> str:
    """Generated Durbin-Levinson CTE chain: level k adds φ_{k,k}
    (the PACF at lag k) and the reflected coefficients
    φ_{k,j} = φ_{k-1,j} − φ_{k,k}·φ_{k-1,k−j} as named columns —
    fixed-text scalar recursion over the 1-row ρ table, no
    transcription (the _cramer3 convention)."""
    ctes = ["l1 AS (SELECT *, r1 AS p1_1 FROM piv)"]
    prev = "l1"
    for k in range(2, kmax + 1):
        num = " + ".join(
            f"p{k - 1}_{j} * r{k - j}" for j in range(1, k)
        )
        den = " + ".join(f"p{k - 1}_{j} * r{j}" for j in range(1, k))
        ctes.append(
            f"l{k} AS (SELECT *, (r{k} - ({num})) / (1.0 - ({den}))"
            f" AS p{k}_{k} FROM {prev})"
        )
        if k < kmax:
            refl = ", ".join(
                f"p{k - 1}_{j} - p{k}_{k} * p{k - 1}_{k - j} AS p{k}_{j}"
                for j in range(1, k)
            )
            ctes.append(f"l{k}b AS (SELECT *, {refl} FROM l{k})")
            prev = f"l{k}b"
        else:
            prev = f"l{k}"
    return ",\n".join(ctes)


_PACF_KMAX = 5

_PACF_SQL = f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY date_trunc('day', o_orderdate)
),
idx AS (
    SELECT rev, row_number() OVER (ORDER BY day) AS i FROM daily
),
tot AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(rev AS DECIMAL(38,0))) AS DOUBLE) AS s,
           CAST(sum(CAST(rev * rev AS DECIMAL(38,0))) AS DOUBLE) AS sxx
    FROM idx
),
lags AS (
    {" UNION ALL ".join(f"SELECT {k} AS lag" for k in range(1, _PACF_KMAX + 1))}
),
lagsums AS (
    SELECT l.lag, CAST(count(*) AS DOUBLE) AS m,
           CAST(sum(CAST(a.rev * b.rev AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(a.rev AS DECIMAL(38,0))) AS DOUBLE) AS sh,
           CAST(sum(CAST(b.rev AS DECIMAL(38,0))) AS DOUBLE) AS st
    FROM idx a
    JOIN lags l ON 1 = 1
    JOIN idx b ON b.i = a.i + l.lag
    GROUP BY l.lag
),
-- standard stationary ACF: global mean μ = s/n, full-series variance
-- denominator; numerator expands (x−μ)(y−μ) into exact-sum terms
rho AS (
    SELECT lag,
           (sxy - (t.s / t.n) * (sh + st) + m * (t.s / t.n) * (t.s / t.n))
           / (t.sxx - t.s * (t.s / t.n)) AS rho
    FROM lagsums, tot t
),
piv AS (
    SELECT
        {", ".join(f"max(CASE WHEN lag = {k} THEN rho END) AS r{k}" for k in range(1, _PACF_KMAX + 1))}
    FROM rho
),
{_pacf_levels_sql(_PACF_KMAX)}
SELECT
    {", ".join(f"round(r{k}, 6) AS rho{k}" for k in range(1, _PACF_KMAX + 1))},
    {", ".join(f"round(p{k}_{k}, 6) AS pacf{k}" for k in range(1, _PACF_KMAX + 1))}
FROM l{_PACF_KMAX}
"""


@query("pacf_daily_revenue", _PACF_SQL)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1–5 — the AR
    order-selection diagnostic that complements `acf_daily_revenue`
    (ACF says WHICH lags correlate; PACF says which correlate
    DIRECTLY, net of shorter lags — the AR(p) cutoff signal). The
    stationary ACF ρ₁..ρ₅ comes from exact DECIMAL power sums with
    the global mean expanded analytically, pivoted to one row; the
    Durbin-Levinson recursion is then a GENERATED fixed-text CTE
    chain of scalar levels over that row, so both engines walk
    identical expressions. Everything after the daily collapse is
    calendar-bounded regardless of corpus size."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_PACF_SQL)


# --- split-conformal prediction intervals ------------------------------------

# Deterministic 3-way split on the (orderkey, linenumber) row key
# via a Carter-Wegman integer hash (portable fixed-text arithmetic);
# model = closed-form OLS price~quantity on TRAIN (exact DECIMAL power
# sums); conformal radius = the ceil((n+1)·0.9)-th smallest absolute
# calibration residual (an exact order statistic over deterministic
# doubles); coverage measured on TEST. The split-conformal guarantee
# (coverage ≥ 0.9 in expectation, distribution-free) is pinned in
# pytest.
# Carter-Wegman split on the unique row key (the reservoir-sampling
# convention: pure int64 arithmetic, portable to both engines)
_CONF_SPLIT = (
    "(((l_orderkey * 8 + l_linenumber) * 10460353 + 1779033703)"
    " % 2147483647 % 3)"
)

_CONFORMAL_SQL = f"""
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc,
           {_CONF_SPLIT} AS split
    FROM lineitem
),
s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy
    FROM t WHERE split = 0
),
fit AS (
    SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS a,
           CAST(n AS BIGINT) AS n_train
    FROM s
),
cal AS (
    SELECT abs((CAST(t.yc AS DOUBLE) - f.a) - f.b * t.x) AS r
    FROM t, fit f WHERE t.split = 1
),
caln AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
q AS (
    SELECT r AS radius FROM (
        SELECT r, row_number() OVER (ORDER BY r, r) AS rn FROM cal
    ) ranked, caln
    WHERE rn = CAST(ceil((caln.n_cal + 1) * 0.9) AS BIGINT)
),
test AS (
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs((CAST(t.yc AS DOUBLE) - f.a) - f.b * t.x)
                              <= q.radius
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered
    FROM t, fit f, q WHERE t.split = 2
)
SELECT f.n_train, c.n_cal, e.n_test,
       round(f.a / 100.0, 6) AS intercept,
       round(f.b / 100.0, 6) AS slope,
       round(q.radius / 100.0, 6) AS radius,
       round(CAST(e.covered AS DOUBLE) / e.n_test, 6) AS coverage,
       CAST(0.9 AS DOUBLE) AS nominal
FROM fit f, caln c, q, test e
"""


@query("conformal_interval_coverage", _CONFORMAL_SQL)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — distribution-free
    uncertainty quantification for ANY point model (here closed-form
    OLS price~quantity): fit on a deterministic third of the data,
    take the ceil((n+1)·0.9)-th smallest absolute residual on a
    disjoint calibration third as the interval radius, and measure
    empirical coverage on the held-out third. The split-conformal
    theorem guarantees ≥90% coverage in expectation with NO
    distributional assumptions — the production recipe for putting
    honest error bars on a regression score column. One scan builds
    all three splits' statistics (exact DECIMAL sums for the fit, an
    exact order statistic for the radius); identical SQL text on both
    engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_CONFORMAL_SQL)


# --- mutual information (feature relevance diagnostics) ----------------------

# MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the discretized joint
# histogram. Each cell term is computed from exact integer counts in
# one fixed-text expression — ln of a ratio of counts times n (so the
# probabilities never appear as intermediate floats) — floor-quantized
# at 1e-9 and summed exactly; cells are bounded by the bucket grid, so
# the post-histogram work is O(buckets) at any corpus size.
_MI_CELL = (
    "CAST(floor(1e9 * ((CAST(c AS DOUBLE) / n)"
    " * ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))))"
    " AS BIGINT)"
)

_MI_SQL = f"""
WITH t AS (
    SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS xq,
           CAST(floor(round(l_discount * 100, 0) / 3.0) AS BIGINT) AS xd,
           l_returnflag AS y
    FROM lineitem
),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
qj AS (SELECT xq AS x, y, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY xq, y),
qx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM qj GROUP BY x),
qy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM qj GROUP BY y),
qmi AS (
    SELECT CAST(sum({_MI_CELL}) AS BIGINT) AS mi_q
    FROM qj JOIN qx USING (x) JOIN qy USING (y), n_tot
),
dj AS (SELECT xd AS x, y, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY xd, y),
dx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM dj GROUP BY x),
dy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM dj GROUP BY y),
dmi AS (
    SELECT CAST(sum({_MI_CELL}) AS BIGINT) AS mi_q
    FROM dj JOIN dx USING (x) JOIN dy USING (y), n_tot
),
hy AS (
    SELECT CAST(sum(CAST(floor(1e9 * ((CAST(cy AS DOUBLE) / n)
               * ln(CAST(n AS DOUBLE) / cy))) AS BIGINT)) AS BIGINT) AS h_q
    FROM qy, n_tot
)
SELECT n_tot.n,
       round(qmi.mi_q / 1e9, 6) AS mi_quantity,
       round(dmi.mi_q / 1e9, 6) AS mi_discount,
       round(hy.h_q / 1e9, 6) AS target_entropy,
       round((qmi.mi_q / 1e9) / (hy.h_q / 1e9), 6) AS mi_quantity_norm,
       round((dmi.mi_q / 1e9) / (hy.h_q / 1e9), 6) AS mi_discount_norm
FROM n_tot, qmi, dmi, hy
"""


@query("mutual_information_features", _MI_SQL)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between bucketed features (quantity deciles,
    discount terciles) and the return flag — the model-free feature
    relevance / leakage screen run before training: MI near the
    target entropy means the feature (or a join key leaking through
    it) essentially determines the label. Each feature is one joint
    histogram (single shuffle, map-side combinable), the MI sum is
    over the bounded bucket grid with 1e-9-quantized xlogx terms, and
    the normalized variant divides by the target entropy computed the
    same way. Identical SQL text on both engines; a scipy-free sklearn
    -style recompute pins the statistic in pytest."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_MI_SQL)


# --- ridge regression (regularization path, closed form) ---------------------

_RIDGE_LAMBDAS = (0.0, 1.0, 100.0)


def _ridge_betas(lam: str):
    """Cramer solve of (X'X/n + λI)·β = X'y/n over the named average
    columns (m11..m33, r1..r3); λ is added to the diagonal in the
    expression text, so one statistics scan serves every λ."""
    return _cramer3(
        f"(m11 + {lam})", "m12", "m13",
        f"(m22 + {lam})", "m23", f"(m33 + {lam})",
        "r1", "r2", "r3",
    )


_RIDGE_SELECTS = "\nUNION ALL\n".join(
    f"""SELECT CAST(n AS BIGINT) AS n, CAST({lam} AS DOUBLE) AS lambda,
       round({_ridge_betas(str(lam))[0]}, 6) AS beta0,
       round({_ridge_betas(str(lam))[1]}, 6) AS beta1,
       round({_ridge_betas(str(lam))[2]}, 6) AS beta2
FROM avgs"""
    for lam in _RIDGE_LAMBDAS
)

_RIDGE_SQL = f"""
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_discount * 100, 0) AS BIGINT) AS dc,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sq,
           CAST(sum(CAST(dc AS DECIMAL(38,0))) AS DOUBLE) AS sdc,
           CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
           CAST(sum(CAST(q * dc AS DECIMAL(38,0))) AS DOUBLE) AS sqdc,
           CAST(sum(CAST(dc * dc AS DECIMAL(38,0))) AS DOUBLE) AS sdcdc,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(yc * q AS DECIMAL(38,0))) AS DOUBLE) AS syq,
           CAST(sum(CAST(yc * dc AS DECIMAL(38,0))) AS DOUBLE) AS sydc
    FROM t
),
avgs AS (
    SELECT n,
           1.0 AS m11, (sq / n) AS m12, (sdc / n / 100.0) AS m13,
           (sqq / n) AS m22, (sqdc / n / 100.0) AS m23,
           (sdcdc / n / 10000.0) AS m33,
           (sy / n) AS r1, (syq / n) AS r2, (sydc / n / 100.0) AS r3
    FROM s
)
{_RIDGE_SELECTS}
"""


@query("ridge_regression_path", _RIDGE_SQL)
def ridge_regression_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression path: price-cents ~ (1, quantity, discount)
    solved in closed form at λ ∈ {0, 1, 100} from ONE statistics
    scan — (X'X/n + λI)⁻¹(X'y/n) via the generated Cramer text with λ
    added to the diagonal (all three coefficients penalized,
    intercept included — the documented spec the numpy pin
    replicates). λ=0 reproduces OLS; growing λ shrinks the
    coefficients toward 0, demonstrated on real data. The whole
    regularization path costs one scan with map-side partial
    aggregation; every extra λ is a 1-row projection. Identical SQL
    on both engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_RIDGE_SQL)


# --- One-way ANOVA: F-test across the five event types ----------------------

# The five event types are pivoted into ONE row of exact integer-cents
# sufficient statistics (the kruskal_wallis conditional-aggregation
# shape), so every double-precision combination below is a FIXED
# expression order — no engine-specific aggregate merge order can
# perturb the 6-decimal rounding.
_ANOVA_GROUPS = ["click", "error", "purchase", "signup", "view"]

_ANOVA_STATS = ",\n    ".join(
    f"CAST(sum(CASE WHEN event_type = '{g}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n{i + 1},\n    "
    f"CAST(sum(CASE WHEN event_type = '{g}' THEN CAST(vc AS DECIMAL(38,0))"
    f" ELSE 0 END) AS DECIMAL(38,0)) AS s{i + 1},\n    "
    f"CAST(sum(CASE WHEN event_type = '{g}' THEN CAST(vc * vc AS"
    f" DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS ss{i + 1}"
    for i, g in enumerate(_ANOVA_GROUPS)
)

_ANOVA_N = " + ".join(f"n{i + 1}" for i in range(5))
_ANOVA_S = " + ".join(f"s{i + 1}" for i in range(5))
_ANOVA_SS = " + ".join(f"ss{i + 1}" for i in range(5))
# between-group raw term Σ s_g²/n_g, written term-by-term so the
# floating-point addition order is pinned left-to-right on both engines
_ANOVA_SB = " + ".join(
    f"(CAST(s{i + 1} AS DOUBLE) * CAST(s{i + 1} AS DOUBLE)"
    f" / CAST(n{i + 1} AS DOUBLE))"
    for i in range(5)
)

_ANOVA_ORACLE = f"""
WITH t AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
p AS (
    SELECT
    {_ANOVA_STATS}
    FROM t
),
d AS (
    SELECT
        CAST({_ANOVA_N} AS BIGINT) AS n,
        n1, n2, n3, n4, n5,
        (({_ANOVA_SB})
         - CAST({_ANOVA_S} AS DOUBLE) * CAST({_ANOVA_S} AS DOUBLE)
           / CAST({_ANOVA_N} AS DOUBLE)) / 10000.0 AS ssb,
        (CAST({_ANOVA_SS} AS DOUBLE)
         - ({_ANOVA_SB})) / 10000.0 AS ssw
    FROM p
)
SELECT
    n, n1, n2, n3, n4, n5,
    CAST(5 AS BIGINT) AS k,
    round(ssb, 6) AS ssb,
    round(ssw, 6) AS ssw,
    round((ssb / 4.0) / (ssw / CAST(n - 5 AS DOUBLE)), 6) AS f_stat,
    round(ssb / (ssb + ssw), 6) AS eta_sq
FROM d
"""


@query("anova_oneway", _ANOVA_ORACLE)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of ``events.value`` across the five event
    types — the k-group parametric complement to kruskal_wallis_test
    (rank-based) and welch_ttest (two-group): does the mean value
    differ across types, and how much variance does the grouping
    explain (η²)?

    One scan produces exact integer-cents (n, Σv, Σv²) per group via
    conditional aggregation pivoted into a single row, so SSB/SSW/F
    derive in a FIXED left-to-right double expression — deterministic
    at any partitioning. F = (SSB/(k−1))/(SSW/(N−k)); η² = SSB/SST.
    At 100 TB this is one map-side-combined scan with a single-row
    shuffle; the group list is static (the CASE pivot), which is the
    production shape for a bounded category set. Identical SQL text on
    both engines; an independent numpy implementation pins the formula
    (tests/test_properties.py)."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ANOVA_ORACLE)


# --- Jarque-Bera normality test per event type ------------------------------

# Raw power sums stay exact integers (cents^k in DECIMAL(38,0) —
# vc ≤ 1e5 cents ⇒ vc⁴ ≤ 1e20/term, 1e9 rows ⇒ 1e29 < 1e38); central
# moments and the JB statistic derive per group in one fixed
# expression. Skewness/kurtosis are scale-invariant, so the cents
# scaling cancels and no /100 normalization is needed.
_JB_ORACLE = """
WITH t AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
g AS (
    SELECT
        event_type,
        count(*) AS n,
        CAST(sum(CAST(vc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc) AS DECIMAL(38,0)) AS s2,
        CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc * vc) AS DECIMAL(38,0)) AS s3,
        CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc * vc * vc)
             AS DECIMAL(38,0)) AS s4
    FROM t GROUP BY event_type
),
m AS (
    SELECT
        event_type, n,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
    FROM g
),
c AS (
    SELECT
        event_type, n, mu,
        r2 - mu * mu AS m2,
        r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
           - 3.0 * mu * mu * mu * mu AS m4
    FROM m
),
k AS (
    SELECT
        event_type, n,
        m3 / (m2 * sqrt(m2)) AS skewness,
        m4 / (m2 * m2) - 3.0 AS excess_kurtosis
    FROM c
)
SELECT
    event_type,
    CAST(n AS BIGINT) AS n,
    round(skewness, 6) AS skewness,
    round(excess_kurtosis, 6) AS excess_kurtosis,
    round(CAST(n AS DOUBLE) / 6.0
          * (skewness * skewness
             + excess_kurtosis * excess_kurtosis / 4.0), 6) AS jb_stat,
    (CAST(n AS DOUBLE) / 6.0
     * (skewness * skewness + excess_kurtosis * excess_kurtosis / 4.0)
     > 5.991464547107979) AS reject_normal_5pct
FROM k
ORDER BY event_type
"""


@query("jarque_bera_test", _JB_ORACLE)
def jarque_bera_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of ``value`` per event type: skewness
    g₁ = m₃/m₂^1.5 and excess kurtosis g₂ = m₄/m₂²−3 from one scan of
    exact integer power sums (Σv..Σv⁴ in DECIMAL(38,0) cents — the
    raw-moment route keeps partial aggregation exact where a streaming
    central-moment update would be order-dependent), then
    JB = n/6·(g₁² + g₂²/4) compared against the χ²₂ 5% critical value
    (5.9915, a literature constant). The drift-monitoring use: a
    quality-score or latency column whose JB explodes between
    snapshots changed shape, not just mean — psi_value_drift's
    distribution-free complement. One map-side-combined scan, 5-row
    shuffle; skew/kurtosis are scale-invariant so cents cancel.
    Identical SQL text on both engines; numpy pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_JB_ORACLE)


# --- Gini / HHI revenue concentration per nation ----------------------------

_GINI_ORACLE = """
WITH r AS (
    SELECT
        c.c_nationkey,
        c.c_custkey,
        CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) AS rev
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, c.c_custkey
),
ranked AS (
    SELECT
        c_nationkey, rev,
        CAST(row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY rev, c_custkey) AS BIGINT) AS i
    FROM r
),
agg AS (
    SELECT
        c_nationkey,
        CAST(count(*) AS BIGINT) AS n_customers,
        CAST(sum(rev) AS DECIMAL(38,0)) AS total,
        CAST(sum(CAST(i AS DECIMAL(38,0)) * rev) AS DECIMAL(38,0)) AS iwsum,
        CAST(sum(rev * rev) AS DECIMAL(38,0)) AS sqsum
    FROM ranked GROUP BY c_nationkey
)
SELECT
    n.n_name AS nation,
    a.n_customers,
    round(CAST(a.total AS DOUBLE) / 100.0, 2) AS total_revenue,
    round(2.0 * CAST(a.iwsum AS DOUBLE)
          / (CAST(a.n_customers AS DOUBLE) * CAST(a.total AS DOUBLE))
          - (CAST(a.n_customers AS DOUBLE) + 1.0)
            / CAST(a.n_customers AS DOUBLE), 6) AS gini,
    round(CAST(a.sqsum AS DOUBLE)
          / (CAST(a.total AS DOUBLE) * CAST(a.total AS DOUBLE)), 6) AS hhi
FROM agg a JOIN nation n ON n.n_nationkey = a.c_nationkey
ORDER BY nation
"""


@query("gini_concentration", _GINI_ORACLE)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit per nation: the exact Gini
    coefficient G = 2·Σᵢ i·x₍ᵢ₎/(n·Σx) − (n+1)/n over each nation's
    per-customer order revenue, plus the Herfindahl–Hirschman index
    Σ(xᵢ/Σx)². The corpus-curation use is direct: run it on
    tokens-per-source and G→1 means a handful of sources dominate the
    training mix (the language_rebalance / source_cap_sample
    trigger); here it runs on the warehouse's revenue skew. All
    sufficient statistics (Σx, Σi·x, Σx²) are exact DECIMAL(38,0)
    cents — the i·x rank-weighted sum is the repo's round-2 "Gini
    lesson" done right. Ranks come from one per-nation window (ties
    broken by custkey; equal values make Σi·x tie-order invariant).
    At 100 TB the rank window is a per-key sort — for an unbounded
    single group swap in the llmprep two-level prefix-sum rank; the
    formula and exactness are unchanged. Identical SQL text on both
    engines; numpy pin in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("customer", "orders", "nation"))
    return spark.sql(_GINI_ORACLE)


# --- 1-D Wasserstein (earth-mover) drift per source -------------------------

# W1(F,G) = ∫|F−G|dx over the merged support grid. Everything stays
# integer until ONE final division: at grid value v with gap to the
# next value, the term is |cum_s·(N−n_s) − (cumAll−cum_s)·n_s| · gap,
# summed in DECIMAL(38,0) (cum·N products reach ~1e18 at 1e9 docs —
# the int64 edge the Gini lesson taught), then divided by n_s(N−n_s).
_W1_ORACLE = """
WITH v AS (
    SELECT DISTINCT n_chars AS val FROM documents
),
s AS (
    SELECT source, CAST(count(*) AS BIGINT) AS ns
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
cnt AS (
    SELECT source, n_chars AS val, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
gtot AS (
    SELECT val,
           CAST(sum(c) AS BIGINT) AS cv
    FROM cnt GROUP BY val
),
gcum AS (
    SELECT val,
           CAST(sum(cv) OVER (ORDER BY val
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ct
    FROM gtot
),
grid AS (SELECT s.source, s.ns, v.val FROM s CROSS JOIN v),
cum AS (
    SELECT g.source, g.ns, g.val,
           CAST(sum(coalesce(c.c, 0))
                OVER (PARTITION BY g.source ORDER BY g.val
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
    FROM grid g
    LEFT JOIN cnt c ON c.source = g.source AND c.val = g.val
),
gaps AS (
    SELECT val,
           lead(val) OVER (ORDER BY val) - val AS gap
    FROM v
)
SELECT cum.source,
       max(cum.ns) AS n_docs,
       round(CAST(sum(CAST(abs(cs * (tot.n - cum.ns)
                               - (gcum.ct - cs) * cum.ns)
                           AS DECIMAL(38,0)) * gaps.gap) AS DOUBLE)
             / (CAST(max(cum.ns) AS DOUBLE) * (max(tot.n) - max(cum.ns))),
             6) AS w1_vs_rest
FROM cum
JOIN gcum ON gcum.val = cum.val
JOIN gaps ON gaps.val = cum.val
CROSS JOIN tot
WHERE gaps.gap IS NOT NULL
GROUP BY cum.source
ORDER BY cum.source
"""


@query("wasserstein_length_drift", _W1_ORACLE)
def wasserstein_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 1-D Wasserstein-1 (earth-mover) distance between the
    source's document-length distribution and the REST of the corpus —
    the drift metric that, unlike KS (max deviation) or PSI (binned),
    weights BOTH how far and how much probability mass moved, in the
    data's own units (characters here). A source whose W1 explodes
    between crawls changed its length profile materially even if no
    single CDF point crossed KS's radar. Exact CDF-area form: one
    merged support grid (distinct lengths — histogram-bounded, never
    row-bounded), per-source cumulative counts vs the pooled
    cumulative via cross-multiplication, |·|·gap summed in
    DECIMAL(38,0), ONE final division. Completes the drift family:
    psi_value_drift (binned), ks_test_two_sample (sup-norm),
    embedding_centroid_drift (mean shift), W1 (transport cost).
    Identical SQL text on both engines; scipy-reference numpy pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_W1_ORACLE)


# --- CUPED variance reduction (pre-period covariate adjustment) -------------

# One scan -> per-user pre/post sums (exact cents) -> one pivoted row
# of per-arm sufficient statistics -> every derived double is a fixed
# expression. Arm assignment user_id % 2 is the deterministic
# synthetic experiment (the kappa/gold-label convention).
_CUPED_STATS = ",\n           ".join(
    f"CAST(sum(CASE WHEN arm = {a} THEN 1 ELSE 0 END) AS BIGINT) AS n{a},\n"
    f"           CAST(sum(CASE WHEN arm = {a} THEN x ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sx{a},\n"
    f"           CAST(sum(CASE WHEN arm = {a} THEN y ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sy{a},\n"
    f"           CAST(sum(CASE WHEN arm = {a} THEN x * x ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sxx{a},\n"
    f"           CAST(sum(CASE WHEN arm = {a} THEN y * y ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS syy{a},\n"
    f"           CAST(sum(CASE WHEN arm = {a} THEN x * y ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sxy{a}"
    for a in (0, 1)
)

_CUPED_ORACLE = f"""
WITH u AS (
    SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
),
p AS (
    SELECT
           {_CUPED_STATS}
    FROM u
),
d AS (
    SELECT n0, n1,
           CAST(n0 + n1 AS BIGINT) AS n,
           CAST(sx0 AS DOUBLE) AS sx0d, CAST(sy0 AS DOUBLE) AS sy0d,
           CAST(sxx0 AS DOUBLE) AS sxx0d, CAST(syy0 AS DOUBLE) AS syy0d,
           CAST(sxy0 AS DOUBLE) AS sxy0d,
           CAST(sx1 AS DOUBLE) AS sx1d, CAST(sy1 AS DOUBLE) AS sy1d,
           CAST(sxx1 AS DOUBLE) AS sxx1d, CAST(syy1 AS DOUBLE) AS syy1d,
           CAST(sxy1 AS DOUBLE) AS sxy1d
    FROM p
),
t AS (
    SELECT *,
           (sx0d + sx1d) / n AS mx,
           ((sxy0d + sxy1d) / n
            - ((sx0d + sx1d) / n) * ((sy0d + sy1d) / n))
           / ((sxx0d + sxx1d) / n
              - ((sx0d + sx1d) / n) * ((sx0d + sx1d) / n)) AS theta
    FROM d
)
SELECT n0, n1,
       round(theta / 1.0, 6) AS theta,
       round((sy1d / n1 - sy0d / n0) / 100.0, 6) AS mean_diff_raw,
       round(((sy1d / n1 - theta * (sx1d / n1 - mx))
              - (sy0d / n0 - theta * (sx0d / n0 - mx))) / 100.0, 6)
           AS mean_diff_cuped,
       round(((syy0d + syy1d) / n
              - ((sy0d + sy1d) / n) * ((sy0d + sy1d) / n)) / 10000.0, 6)
           AS var_y_pooled,
       round((((syy0d + syy1d) / n
               - ((sy0d + sy1d) / n) * ((sy0d + sy1d) / n))
              - theta * theta
                * ((sxx0d + sxx1d) / n - mx * mx)) / 10000.0, 6)
           AS var_y_cuped,
       round(theta * theta
             * ((sxx0d + sxx1d) / n - mx * mx)
             / ((syy0d + syy1d) / n
                - ((sy0d + sy1d) / n) * ((sy0d + sy1d) / n)), 6)
           AS variance_reduction
FROM t
"""


@query("cuped_variance_reduction", _CUPED_ORACLE)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al.): adjust each user's experiment-period metric Y by their
    pre-period covariate X — Y_adj = Y − θ(X − X̄), θ = cov(X,Y)/var(X)
    — shrinking metric variance by exactly ρ²·var(Y) and making A/B
    tests correspondingly more sensitive at the same sample size; the
    single highest-leverage trick in industrial experimentation.
    Pre/post split at Jan 16 over the 30-day fixture, arms by
    user_id % 2. One scan builds per-user exact-cents (X, Y); a
    second aggregation pivots per-arm sufficient statistics into ONE
    row (fixed-order expressions — the anova_oneway discipline);
    θ, adjusted means, pooled variances, and the variance-reduction
    ratio all derive from those exact sums. At 100 TB: two shuffles
    (user key, then 1 row), map-side combined. Identical SQL text on
    both engines; numpy pin verifies var(Y_adj) = var(Y)(1−ρ²) to
    first order in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CUPED_ORACLE)


# --- mSPRT always-valid sequential A/B test ---------------------------------

# Mixture-SPRT with a normal mixture prior (Johari et al., the
# always-valid p-value behind modern experimentation platforms).
# Day-cumulative sufficient statistics are exact integers; every
# per-day double (delta, se², Λ, p) is a fixed expression over them.
_MSPRT_TAU2 = 25.0  # mixture prior variance, dollars²

_MSPRT_ARM = ",\n           ".join(
    f"CAST(sum(CASE WHEN user_id % 2 = {a} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n{a},\n"
    f"           CAST(sum(CASE WHEN user_id % 2 = {a}"
    f" THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS s{a},\n"
    f"           CAST(sum(CASE WHEN user_id % 2 = {a}"
    f" THEN CAST(round(value * 100, 0) AS BIGINT)"
    f" * CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS ss{a}"
    for a in (0, 1)
)

_MSPRT_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           {_MSPRT_ARM}
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
),
cum AS (
    SELECT day,
           CAST(sum(n0) OVER w AS BIGINT) AS n0,
           CAST(sum(n1) OVER w AS BIGINT) AS n1,
           CAST(sum(s0) OVER w AS DECIMAL(38,0)) AS s0,
           CAST(sum(s1) OVER w AS DECIMAL(38,0)) AS s1,
           CAST(sum(ss0) OVER w AS DECIMAL(38,0)) AS ss0,
           CAST(sum(ss1) OVER w AS DECIMAL(38,0)) AS ss1
    FROM daily
    WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
),
z AS (
    SELECT day, n0, n1,
           (CAST(s1 AS DOUBLE) / 100.0 / n1
            - CAST(s0 AS DOUBLE) / 100.0 / n0) AS delta,
           ((CAST(ss0 AS DOUBLE) / 10000.0
             - (CAST(s0 AS DOUBLE) / 100.0) * (CAST(s0 AS DOUBLE) / 100.0)
               / n0) / (n0 - 1)) / n0
           + ((CAST(ss1 AS DOUBLE) / 10000.0
               - (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0)
                 / n1) / (n1 - 1)) / n1 AS se2
    FROM cum WHERE n0 > 1 AND n1 > 1
),
lam AS (
    SELECT day, n0, n1, delta, se2,
           sqrt(se2 / (se2 + {_MSPRT_TAU2}))
           * exp(delta * delta * {_MSPRT_TAU2}
                 / (2.0 * se2 * (se2 + {_MSPRT_TAU2}))) AS lambda_t
    FROM z
),
avp AS (
    SELECT day, n0, n1, delta, se2, lambda_t,
           least(1.0, 1.0 / max(lambda_t)
                          OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
               AS p_always_valid
    FROM lam
)
SELECT CAST(day AS TIMESTAMP) AS day, n0, n1,
       round(delta, 6) AS delta,
       round(sqrt(se2), 6) AS se,
       round(lambda_t, 6) AS lambda_t,
       round(p_always_valid, 6) AS p_always_valid,
       p_always_valid < 0.05 AS significant_5pct
FROM avp
ORDER BY day
"""


@query("msprt_always_valid", _MSPRT_ORACLE)
def msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-SPRT always-valid p-value sequence (Johari/Pekelis/
    Walsh — the 'peeking-safe' sequential test modern A/B platforms
    run): for the user_id%2 synthetic experiment on event value, each
    day d emits the cumulative treatment-effect estimate δ_d, its
    Welch-style standard error, the normal-mixture likelihood ratio
    Λ_d = √(se²/(se²+τ²))·exp(δ²τ²/(2se²(se²+τ²))) at τ²=25, and
    p_d = min(1, 1/max_{d'≤d} Λ_{d'}) — monotone by construction, so
    an experimenter may stop ANY day the flag fires without inflating
    false positives (the fixed-n welch_ttest cannot be peeked at).
    Day-cumulative sufficient statistics are exact integer window
    sums; each day's doubles are fixed expressions (libm discipline);
    the running max runs over Λ doubles both engines compute
    identically. One scan + one day-keyed window — at 100 TB days are
    the only window rows. numpy pin incl. the monotonicity contract
    in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MSPRT_ORACLE)


# --- Sample-ratio-mismatch check (experiment sanity gate) -------------------

_SRM_ORACLE = """
WITH u AS (
    SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm
    FROM events GROUP BY user_id
),
c AS (
    SELECT
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM u
)
SELECT n0, n1,
       CAST(n0 + n1 AS BIGINT) AS n,
       round((CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0)
             * (CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0)
             / ((n0 + n1) / 2.0)
             + (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0)
             * (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0)
             / ((n0 + n1) / 2.0), 6) AS chi2,
       ((CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0)
        * (CAST(n0 AS DOUBLE) - (n0 + n1) / 2.0) / ((n0 + n1) / 2.0)
        + (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0)
        * (CAST(n1 AS DOUBLE) - (n0 + n1) / 2.0) / ((n0 + n1) / 2.0))
       > 3.841458820694124 AS srm_detected_5pct
FROM c
"""


@query("srm_check", _SRM_ORACLE)
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first sanity gate every A/B
    platform runs before reading ANY metric: a χ² goodness-of-fit of
    observed arm sizes against the designed 50/50 split (χ²₁ 5%
    critical value 3.8415, a literature constant). An SRM means the
    assignment or logging pipeline is biased and every downstream
    metric (welch_ttest, cuped, msprt) is untrustworthy — which is
    why it belongs IN the engine next to them, not in a notebook.
    Unit of analysis is the USER (one row per user_id — assignment
    granularity), not the event. One scan, two tiny shuffles.
    Identical SQL text on both engines; scipy-reference pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SRM_ORACLE)


# --- Quantile treatment effects ---------------------------------------------

# Exact percentiles on the integer-cents grid (the mad_outliers
# discipline: every 0.25-grid interpolation point is exactly
# representable, so both engines' interpolation formulas agree
# bit-for-bit), per arm, differenced.
_QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)

_QTE_COLS = ",\n       ".join(
    f"round((q1[{i + 1}] - q0[{i + 1}]) / 100.0, 6) AS qte_p{int(q * 100)}"
    for i, q in enumerate(_QTE_QS)
)
_QTE_ARM_COLS = ",\n       ".join(
    f"round(q{a}[{i + 1}] / 100.0, 6) AS p{int(q * 100)}_arm{a}"
    for a in (0, 1)
    for i, q in enumerate(_QTE_QS)
)

_QTE_ORACLE = f"""
WITH t AS (
    SELECT CAST(user_id % 2 AS INTEGER) AS arm,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
q AS (
    SELECT
        quantile_cont(CASE WHEN arm = 0 THEN vc END,
                      [0.1, 0.25, 0.5, 0.75, 0.9]) AS q0,
        quantile_cont(CASE WHEN arm = 1 THEN vc END,
                      [0.1, 0.25, 0.5, 0.75, 0.9]) AS q1,
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM t
)
SELECT n0, n1,
       {_QTE_ARM_COLS},
       {_QTE_COLS}
FROM q
"""


@query("quantile_treatment_effect", _QTE_ORACLE)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects for the user_id%2 experiment: the
    per-arm p10/p25/p50/p75/p90 of event value and their differences —
    the distributional view a mean-only test (welch_ttest) hides: a
    treatment that moves the p90 while leaving the median alone is a
    tail effect, not a level effect, and pricing/latency experiments
    are routinely judged on exactly this. Exact percentiles on the
    integer-cents grid (every interpolation lands on an exactly-
    representable 0.25 grid — the mad_outliers determinism argument);
    at 100 TB swap percentile for percentile_approx with identical
    dataflow. Spark side uses percentile() per arm; the oracle
    DuckDB's quantile_cont — DIFFERENT implementations of the same
    definition, so the hash gate genuinely cross-checks the
    interpolation. numpy pin in tests/test_properties.py."""
    t = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
    )
    qs = list(_QTE_QS)
    q = t.groupBy().agg(
        F.expr(
            f"percentile(CASE WHEN arm = 0 THEN vc END, array({', '.join(map(str, qs))}))"
        ).alias("q0"),
        F.expr(
            f"percentile(CASE WHEN arm = 1 THEN vc END, array({', '.join(map(str, qs))}))"
        ).alias("q1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    sel = ["n0", "n1"]
    for a in (0, 1):
        for i, qq in enumerate(_QTE_QS):
            sel.append(
                F.round(
                    F.element_at(f"q{a}", i + 1) / 100.0, 6
                ).alias(f"p{int(qq * 100)}_arm{a}")
            )
    for i, qq in enumerate(_QTE_QS):
        sel.append(
            F.round(
                (F.element_at("q1", i + 1) - F.element_at("q0", i + 1))
                / 100.0,
                6,
            ).alias(f"qte_p{int(qq * 100)}")
        )
    return q.select(*sel)


# --- Off-policy evaluation: IPS / SNIPS ------------------------------------

# Both policies are deterministic softmax-free categorical
# distributions over the 5 action types: weight(a|u) = 1 + h60(salt|
# u|a) % 5 (integer 1..5), probability = weight / Σ weights — exact
# rationals of small integers, so the importance ratio
# π'(a|u)/p_log(a|u) = (wt·Wl)/(wl·Wt) is a ratio of exact int64
# products and every per-row quantity quantizes cleanly.
_OPE_ACTIONS = ["click", "error", "purchase", "signup", "view"]


def _ope_w(salt: str, action_expr: str) -> str:
    # STRING, not VARCHAR: Spark rejects bare VARCHAR in CAST, DuckDB
    # accepts STRING as a VARCHAR alias — the portable spelling
    h = h60_sql(
        f"('{salt}|' || CAST(user_id AS STRING) || '|' || {action_expr})"
    )
    return f"(1 + {h} % 5)"


_OPE_WSUM_LOG = " + ".join(
    _ope_w("logp", f"'{a}'") for a in _OPE_ACTIONS
)
_OPE_WSUM_TGT = " + ".join(
    _ope_w("tgtp", f"'{a}'") for a in _OPE_ACTIONS
)

_OPE_ORACLE = f"""
WITH t AS (
    SELECT user_id, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS rc,
           {_ope_w("logp", "event_type")} AS wl,
           {_ope_w("tgtp", "event_type")} AS wt,
           {_OPE_WSUM_LOG} AS wl_sum,
           {_OPE_WSUM_TGT} AS wt_sum
    FROM events WHERE value IS NOT NULL
),
r AS (
    SELECT rc,
           CAST(wt AS BIGINT) * wl_sum AS num,
           CAST(wl AS BIGINT) * wt_sum AS den
    FROM t
),
q AS (
    SELECT rc,
           CAST(floor(1e6 * CAST(num AS DOUBLE) / den) AS BIGINT) AS rho_q
    FROM r
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(rc) AS DECIMAL(38,0)) AS sum_r,
           CAST(sum(rho_q) AS DECIMAL(38,0)) AS sum_rho,
           CAST(sum(rc * rho_q) AS DECIMAL(38,0)) AS sum_r_rho,
           CAST(sum(rho_q * rho_q) AS DECIMAL(38,0)) AS sum_rho2,
           CAST(max(rho_q) AS BIGINT) AS max_rho_q
    FROM q
)
SELECT n,
       round(CAST(sum_r AS DOUBLE) / 100.0 / n, 6) AS v_logged,
       round(CAST(sum_r_rho AS DOUBLE) / 1e6 / 100.0 / n, 6) AS v_ips,
       round(CAST(sum_r_rho AS DOUBLE) / CAST(sum_rho AS DOUBLE) / 100.0,
             6) AS v_snips,
       round(CAST(sum_rho AS DOUBLE) * CAST(sum_rho AS DOUBLE)
             / CAST(sum_rho2 AS DOUBLE), 6) AS ess,
       round(CAST(max_rho_q AS DOUBLE) / 1e6, 6) AS max_weight
FROM agg
"""


@query("ips_offline_eval", _OPE_ORACLE)
def ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy (counterfactual) evaluation — the ML-platform
    primitive that answers "what reward WOULD the new policy have
    earned on the old policy's logs" without an experiment: IPS
    V̂ = 1/n Σ r·ρ and the self-normalized SNIPS Σr·ρ/Σρ (lower
    variance, small bias), with the two standard trust diagnostics —
    effective sample size (Σρ)²/Σρ² and the max importance weight
    (an ESS ≪ n or one huge weight means the policies barely overlap
    and the estimate is noise; every OPE paper's first figure).
    Logging and target policies are deterministic integer-rational
    categoricals over the 5 event types (h60-derived weights 1..5),
    so the importance ratio is a ratio of exact int64 products,
    1e-6-floor-quantized per row; all sums are exact DECIMAL(38,0).
    One scan, one aggregation row. Spark side is DataFrame ops (h60's
    DuckDB spelling isn't portable SQL); pure-Python hashlib pin in
    tests/test_properties.py."""
    from ..functions.hashing import h60

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )

    def w(salt: str, action) -> Column:
        return 1 + h60(
            F.concat(
                F.lit(f"{salt}|"),
                F.col("user_id").cast("string"),
                F.lit("|"),
                action,
            )
        ) % 5

    wl_sum = sum(w("logp", F.lit(a)) for a in _OPE_ACTIONS)
    wt_sum = sum(w("tgtp", F.lit(a)) for a in _OPE_ACTIONS)
    t = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("rc"),
        (
            w("tgtp", F.col("event_type")).cast("bigint") * wl_sum
        ).alias("num"),
        (
            w("logp", F.col("event_type")).cast("bigint") * wt_sum
        ).alias("den"),
    )
    q = t.select(
        "rc",
        F.floor(
            F.lit(1e6) * F.col("num").cast("double") / F.col("den")
        )
        .cast("bigint")
        .alias("rho_q"),
    )
    # per-row cast BEFORE the sum: the r·ρ and ρ² running sums pass
    # int64 range at large SFs even though every row fits (DuckDB's
    # HUGEINT sum promotion hides this asymmetry — values identical)
    agg = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rc").cast("decimal(38,0)")).alias("sum_r"),
        F.sum(F.col("rho_q").cast("decimal(38,0)")).alias("sum_rho"),
        F.sum((F.col("rc") * F.col("rho_q")).cast("decimal(38,0)"))
        .alias("sum_r_rho"),
        F.sum((F.col("rho_q") * F.col("rho_q")).cast("decimal(38,0)"))
        .alias("sum_rho2"),
        F.max("rho_q").cast("bigint").alias("max_rho_q"),
    )
    nD = F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(F.col("sum_r").cast("double") / 100.0 / nD, 6).alias(
            "v_logged"
        ),
        F.round(
            F.col("sum_r_rho").cast("double") / 1e6 / 100.0 / nD, 6
        ).alias("v_ips"),
        F.round(
            F.col("sum_r_rho").cast("double")
            / F.col("sum_rho").cast("double")
            / 100.0,
            6,
        ).alias("v_snips"),
        F.round(
            F.col("sum_rho").cast("double")
            * F.col("sum_rho").cast("double")
            / F.col("sum_rho2").cast("double"),
            6,
        ).alias("ess"),
        F.round(F.col("max_rho_q").cast("double") / 1e6, 6).alias(
            "max_weight"
        ),
    )


# --- Off-policy evaluation: doubly robust -----------------------------------

# Same two deterministic integer-rational policies as ips_offline_eval;
# the reward model q̂(a) is the per-action mean reward fitted on the
# EVEN-event_id half and evaluated on the ODD half (the standard
# sample-split that keeps the DR bias analysis honest). Everything
# quantizes: qhat_q = floor(1e6·mean cents), the direct-method term is
# an exact integer-rational expectation over the target policy, and
# the correction term ρ·(r − q̂(a_log)) is an int64 product summed as
# DECIMAL(38,0).

_DR_QS = ", ".join(
    f"CAST(coalesce(sum(CASE WHEN event_type = '{a}' THEN qhat_q END), 0)"
    f" AS BIGINT) AS q_{a}"
    for a in _OPE_ACTIONS
)
_DR_DM_NUM = " + ".join(
    f"{_ope_w('tgtp', repr(a))} * q_{a}" for a in _OPE_ACTIONS
)
_DR_Q_LOG = (
    "CASE event_type "
    + " ".join(f"WHEN '{a}' THEN q_{a}" for a in _OPE_ACTIONS)
    + " END"
)

_DR_ORACLE = f"""
WITH t AS (
    SELECT event_id, user_id, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS rc,
           {_ope_w("logp", "event_type")} AS wl,
           {_ope_w("tgtp", "event_type")} AS wt,
           {_OPE_WSUM_LOG} AS wl_sum,
           {_OPE_WSUM_TGT} AS wt_sum
    FROM events WHERE value IS NOT NULL
),
fit AS (
    SELECT event_type,
           CAST(floor(1e6 * CAST(sum(rc) AS DOUBLE) / count(*)) AS BIGINT)
               AS qhat_q
    FROM t WHERE event_id % 2 = 0
    GROUP BY event_type
),
qs AS (SELECT {_DR_QS} FROM fit),
ev AS (
    SELECT t.*,
           CAST(floor(1e6 * CAST(CAST(wt AS BIGINT) * wl_sum AS DOUBLE)
                      / (CAST(wl AS BIGINT) * wt_sum)) AS BIGINT) AS rho_q,
           CAST(floor(CAST({_DR_DM_NUM} AS DOUBLE) / wt_sum) AS BIGINT)
               AS dm_q,
           {_DR_Q_LOG} AS q_log
    FROM t, qs WHERE event_id % 2 = 1
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(rc) AS DECIMAL(38,0)) AS sum_r,
           CAST(sum(rc * rho_q) AS DECIMAL(38,0)) AS sum_r_rho,
           CAST(sum(dm_q) AS DECIMAL(38,0)) AS sum_dm,
           CAST(sum(rho_q * (rc * 1000000 - q_log)) AS DECIMAL(38,0))
               AS sum_cor
    FROM ev
)
SELECT n,
       round(CAST(sum_r AS DOUBLE) / 100.0 / n, 6) AS v_logged,
       round(CAST(sum_dm AS DOUBLE) / 1e6 / 100.0 / n, 6) AS v_dm,
       round(CAST(sum_r_rho AS DOUBLE) / 1e6 / 100.0 / n, 6) AS v_ips,
       round((CAST(sum_dm AS DOUBLE) / 1e6
              + CAST(sum_cor AS DOUBLE) / 1e12) / 100.0 / n, 6) AS v_dr
FROM agg
"""


@query("doubly_robust_eval", _DR_ORACLE)
def doubly_robust_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation beside ``ips_offline_eval``:
    V̂_DR = 1/n Σ [ E_{a~π'} q̂(a) + ρ·(r − q̂(a_log)) ] — unbiased if
    EITHER the reward model or the propensities are right, and the
    lower-variance default every modern bandit/RLHF eval stack
    reports next to IPS. The reward model is the per-action mean
    fitted on the even-event_id half (one tiny groupBy, broadcast
    back as a 1-row pivot); evaluation runs on the odd half in the
    same single scan as IPS. All quantities ride the integer-rational
    policy construction, so the estimate hash-matches cross-engine.

    100 TB posture: one scan + one 5-row broadcast — identical shape
    to IPS; the model-fit half never shuffles (5-cell partial agg)."""
    from ..functions.hashing import h60

    ev0 = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )

    def w(salt: str, action) -> Column:
        return 1 + h60(
            F.concat(
                F.lit(f"{salt}|"),
                F.col("user_id").cast("string"),
                F.lit("|"),
                action,
            )
        ) % 5

    wl_sum = sum(w("logp", F.lit(a)) for a in _OPE_ACTIONS)
    wt_sum = sum(w("tgtp", F.lit(a)) for a in _OPE_ACTIONS)
    t = ev0.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("rc"),
        w("logp", F.col("event_type")).cast("bigint").alias("wl"),
        w("tgtp", F.col("event_type")).cast("bigint").alias("wt"),
        wl_sum.cast("bigint").alias("wl_sum"),
        wt_sum.cast("bigint").alias("wt_sum"),
        *[
            w("tgtp", F.lit(a)).cast("bigint").alias(f"wt_{a}")
            for a in _OPE_ACTIONS
        ],
    )
    fit = (
        t.filter(F.col("event_id") % 2 == 0)
        .groupBy("event_type")
        .agg(
            F.floor(
                F.lit(1e6)
                * F.sum("rc").cast("double")
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("qhat_q")
        )
    )
    qs = fit.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == a, F.col("qhat_q")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"q_{a}")
            for a in _OPE_ACTIONS
        ]
    )
    dm_num = sum(
        F.col(f"wt_{a}") * F.col(f"q_{a}") for a in _OPE_ACTIONS
    )
    q_log = F.coalesce(
        *[
            F.when(F.col("event_type") == a, F.col(f"q_{a}"))
            for a in _OPE_ACTIONS
        ]
    )
    evh = (
        t.filter(F.col("event_id") % 2 == 1)
        .crossJoin(F.broadcast(qs))
        .select(
            "rc",
            F.floor(
                F.lit(1e6)
                * (F.col("wt") * F.col("wl_sum")).cast("double")
                / (F.col("wl") * F.col("wt_sum"))
            )
            .cast("bigint")
            .alias("rho_q"),
            F.floor(dm_num.cast("double") / F.col("wt_sum"))
            .cast("bigint")
            .alias("dm_q"),
            q_log.alias("q_log"),
        )
    )
    # per-row products fit int64 comfortably, but their RUNNING SUM
    # does not at large SFs (the correction term is ~1e16/row) — cast
    # each row to decimal(38,0) BEFORE summing, the stabilized_sum
    # discipline (DuckDB's BIGINT sum auto-promotes to HUGEINT, so
    # only the Spark side can overflow; values are identical).
    agg = evh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rc").cast("decimal(38,0)")).alias("sum_r"),
        F.sum((F.col("rc") * F.col("rho_q")).cast("decimal(38,0)"))
        .alias("sum_r_rho"),
        F.sum(F.col("dm_q").cast("decimal(38,0)")).alias("sum_dm"),
        F.sum(
            (
                F.col("rho_q")
                * (F.col("rc") * F.lit(1000000) - F.col("q_log"))
            ).cast("decimal(38,0)")
        ).alias("sum_cor"),
    )
    nD = F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(F.col("sum_r").cast("double") / 100.0 / nD, 6).alias(
            "v_logged"
        ),
        F.round(
            F.col("sum_dm").cast("double") / 1e6 / 100.0 / nD, 6
        ).alias("v_dm"),
        F.round(
            F.col("sum_r_rho").cast("double") / 1e6 / 100.0 / nD, 6
        ).alias("v_ips"),
        F.round(
            (
                F.col("sum_dm").cast("double") / 1e6
                + F.col("sum_cor").cast("double") / 1e12
            )
            / 100.0
            / nD,
            6,
        ).alias("v_dr"),
    )


# --- Fellegi-Sunter probabilistic record linkage ----------------------------

# A "dirty second source" B is synthesized from customer by pure
# modular corruption (portable SQL — no hash functions needed):
#   f1  (id-derived code 0..96):     +1 mod 97 when ck % 7 == 0
#   seg (market segment):            rotated when ck % 10 == 0
#   balb (acctbal to nearest $100):  +100 when ck % 4 == 0
# Ground truth: A.ck == B.ck. m/u probabilities are ESTIMATED from
# the labeled blocked pairs with add-one smoothing (keeps every
# ln(m/u) finite even in degenerate blocks), field weights are
# 1e9-quantized lns, and the pair score is an exact int64 sum.
# The pair-comparison table is shared by the m/u ESTIMATION aggregate
# and the final SCORING projection. The oracle spells it as one CTE
# referenced twice (DuckDB materializes CTEs); the Spark
# implementation materializes it explicitly instead, because Spark
# INLINES deterministic CTEs — the r11 shape executed the blocked
# pair join twice per run (see fellegi_sunter_linkage below).
_FS_PAIRS_SQL = """
WITH a AS (
    SELECT c_custkey AS ck,
           c_custkey % 97 AS f1,
           c_mktsegment AS seg,
           c_nationkey AS nat,
           CAST(round(c_acctbal / 100.0, 0) AS BIGINT) AS balb
    FROM customer
),
b AS (
    SELECT c_custkey AS ck,
           CASE WHEN c_custkey % 7 = 0 THEN (c_custkey % 97 + 1) % 97
                ELSE c_custkey % 97 END AS f1,
           CASE WHEN c_custkey % 10 = 0
                THEN CASE c_mktsegment
                     WHEN 'AUTOMOBILE' THEN 'BUILDING'
                     WHEN 'BUILDING' THEN 'FURNITURE'
                     WHEN 'FURNITURE' THEN 'HOUSEHOLD'
                     WHEN 'HOUSEHOLD' THEN 'MACHINERY'
                     ELSE 'AUTOMOBILE' END
                ELSE c_mktsegment END AS seg,
           c_nationkey AS nat,
           CAST(round(c_acctbal / 100.0, 0) AS BIGINT)
           + CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END AS balb
    FROM customer
)
SELECT a.ck AS ck_a, b.ck AS ck_b,
       CASE WHEN a.ck = b.ck THEN 1 ELSE 0 END AS is_match,
       CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END AS g1,
       CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g2,
       CASE WHEN a.balb = b.balb THEN 1 ELSE 0 END AS g3
FROM a JOIN b ON a.nat = b.nat
"""

# est → wts → scored over a {pairs} relation; shared verbatim by the
# oracle (pairs = the CTE) and the Spark run (pairs = the
# materialized temp view), so the scoring arithmetic cannot drift.
_FS_SCORING_SQL = """
est AS (
    SELECT
        CAST(sum(is_match) AS BIGINT) AS nm,
        CAST(sum(1 - is_match) AS BIGINT) AS nu,
        CAST(sum(CASE WHEN is_match = 1 THEN g1 ELSE 0 END) AS BIGINT) AS m1c,
        CAST(sum(CASE WHEN is_match = 0 THEN g1 ELSE 0 END) AS BIGINT) AS u1c,
        CAST(sum(CASE WHEN is_match = 1 THEN g2 ELSE 0 END) AS BIGINT) AS m2c,
        CAST(sum(CASE WHEN is_match = 0 THEN g2 ELSE 0 END) AS BIGINT) AS u2c,
        CAST(sum(CASE WHEN is_match = 1 THEN g3 ELSE 0 END) AS BIGINT) AS m3c,
        CAST(sum(CASE WHEN is_match = 0 THEN g3 ELSE 0 END) AS BIGINT) AS u3c
    FROM {pairs}
),
wts AS (
    -- integer-product ratios with one DOUBLE cast each: x.y
    -- literals parse as DECIMAL in Spark but DOUBLE in DuckDB, so
    -- the arithmetic must never touch a bare float literal
    SELECT
        CAST(floor(1e9 * ln((CAST((m1c + 1) AS DOUBLE) * (nu + 2)) / (CAST((u1c + 1) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w1a,
        CAST(floor(1e9 * ln((CAST((nm + 1 - m1c) AS DOUBLE) * (nu + 2)) / (CAST((nu + 1 - u1c) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w1d,
        CAST(floor(1e9 * ln((CAST((m2c + 1) AS DOUBLE) * (nu + 2)) / (CAST((u2c + 1) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w2a,
        CAST(floor(1e9 * ln((CAST((nm + 1 - m2c) AS DOUBLE) * (nu + 2)) / (CAST((nu + 1 - u2c) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w2d,
        CAST(floor(1e9 * ln((CAST((m3c + 1) AS DOUBLE) * (nu + 2)) / (CAST((u3c + 1) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w3a,
        CAST(floor(1e9 * ln((CAST((nm + 1 - m3c) AS DOUBLE) * (nu + 2)) / (CAST((nu + 1 - u3c) AS DOUBLE) * (nm + 2)))) AS BIGINT) AS w3d
    FROM est
),
scored AS (
    SELECT p.ck_a, p.ck_b, p.is_match,
           p.g1 * 4 + p.g2 * 2 + p.g3 AS agree_pattern,
           CAST((CASE WHEN p.g1 = 1 THEN w.w1a ELSE w.w1d END)
              + (CASE WHEN p.g2 = 1 THEN w.w2a ELSE w.w2d END)
              + (CASE WHEN p.g3 = 1 THEN w.w3a ELSE w.w3d END)
                AS BIGINT) AS score_q
    FROM {pairs} p CROSS JOIN wts w
)
SELECT ck_a, ck_b, agree_pattern, score_q,
       CAST(is_match AS BOOLEAN) AS is_true_match
FROM scored
WHERE score_q > 0
"""

# Oracle: the pair table as a CTE (DuckDB materializes multi-ref CTEs,
# so the blocked join runs once there too).
_FS_ORACLE = (
    "WITH pairs AS ("
    + _FS_PAIRS_SQL
    + "),\n"
    + _FS_SCORING_SQL.format(pairs="pairs").lstrip()
)


@query("fellegi_sunter_linkage", _FS_ORACLE)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage — the statistical
    upgrade over entity_match_fuzzy's fixed edit-distance threshold:
    per-field agreement weights ln(m/u) (agree) and ln((1−m)/(1−u))
    (disagree) learned from labeled pairs, summed into a pair score,
    thresholded at 0 — the Splink/industry-standard formulation in
    its exactly-checkable supervised form. A corrupted twin source is
    planted by modular arithmetic (field typo rates 1/7, 1/10, 1/4);
    blocking on nation kills the quadratic (the entity_match
    convention); m/u estimate with add-one smoothing so every weight
    stays finite; weights are 1e9-quantized lns and scores exact
    int64 sums. The emitted relation is the score>0 classification
    itself WITH ground truth riding along, so the driver hash pins
    the linkage quality, not just the arithmetic. The scoring SQL is
    the identical text on both engines; pure-Python pin incl.
    precision/recall bounds in tests/test_properties.py.

    Perf (r12): the pair-comparison table feeds BOTH the m/u
    estimation aggregate and the final scoring projection. Spark
    inlines deterministic CTEs, so the one-statement oracle shape
    executed the blocked pair join TWICE per run (DuckDB materializes
    the CTE). The Spark side now materializes the comparison vectors
    once (lazy localCheckpoint — the Splink "comparison table"
    discipline) and runs the verbatim scoring SQL over the
    materialized view: one pass over the pair space instead of two.
    At scale this is the standard trade — persist O(candidate pairs)
    of small ints rather than re-run the blocked join."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("customer",))
    pairs = spark.sql(_FS_PAIRS_SQL).localCheckpoint(eager=False)
    pairs.createOrReplaceTempView("fs_pairs")
    return spark.sql(
        "WITH " + _FS_SCORING_SQL.format(pairs="fs_pairs").lstrip()
    )


# --- Rolling-origin forecast backtest ---------------------------------------

# Three closed-form forecasters backtested per origin day with pure
# window functions: naive (yesterday), seasonal-naive (7 days ago),
# and the trailing-7-day mean. Errors are exact integer cents
# (|forecast_cents - actual_cents|); only the final MAE/MAPE divide.
_BACKTEST_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0)))
                AS BIGINT) AS rev
    FROM orders GROUP BY 1
),
f AS (
    SELECT day, rev,
           lag(rev, 1) OVER w AS f_naive,
           lag(rev, 7) OVER w AS f_seasonal,
           CAST(floor(CAST(sum(rev) OVER (ORDER BY day
                               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                           AS DOUBLE)
                      / count(rev) OVER (ORDER BY day
                               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
                AS BIGINT) AS f_mean7
    FROM daily
    WINDOW w AS (ORDER BY day)
),
e AS (
    SELECT day, rev, f_naive, f_seasonal, f_mean7,
           abs(rev - f_naive) AS e_naive,
           abs(rev - f_seasonal) AS e_seasonal,
           abs(rev - f_mean7) AS e_mean7
    FROM f WHERE f_seasonal IS NOT NULL
)
SELECT
    CAST(count(*) AS BIGINT) AS n_origins,
    round(CAST(sum(e_naive) AS DOUBLE) / 100.0 / count(*), 6)
        AS mae_naive,
    round(CAST(sum(e_seasonal) AS DOUBLE) / 100.0 / count(*), 6)
        AS mae_seasonal,
    round(CAST(sum(e_mean7) AS DOUBLE) / 100.0 / count(*), 6)
        AS mae_mean7,
    round(CAST(sum(CAST(floor(CAST(e_naive AS DOUBLE) * 1e6 / rev)
                        AS BIGINT))
               AS DOUBLE) / 1e6 / count(*), 6) AS mape_naive,
    round(CAST(sum(CAST(floor(CAST(e_seasonal AS DOUBLE) * 1e6 / rev)
                        AS BIGINT))
               AS DOUBLE) / 1e6 / count(*), 6) AS mape_seasonal,
    round(CAST(sum(CAST(floor(CAST(e_mean7 AS DOUBLE) * 1e6 / rev)
                        AS BIGINT))
               AS DOUBLE) / 1e6 / count(*), 6) AS mape_mean7,
    CASE
        WHEN sum(e_mean7) <= sum(e_naive)
         AND sum(e_mean7) <= sum(e_seasonal) THEN 'mean7'
        WHEN sum(e_naive) <= sum(e_seasonal) THEN 'naive'
        ELSE 'seasonal' END AS best_by_mae
FROM e
"""


@query("forecast_backtest_rolling", _BACKTEST_ORACLE)
def forecast_backtest_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest — the model-selection harness
    the forecasting family (ewma/holt/seasonal_decompose) feeds into:
    for EVERY origin day, forecast the next day with three closed-form
    baselines (naive last-value, 7-day seasonal naive, trailing-7
    mean) using only data strictly before the origin (the rolling-
    origin protocol that makes backtest honest — no lookahead by
    construction of the window frames), then score MAE and MAPE over
    all origins and name the winner. Every forecast and error is
    exact integer cents (the trailing mean floors to a cent; MAPE
    ratios go through 1e-6-floor integer division), so the whole
    backtest — including the argmin winner — hash-checks
    cross-engine. One scan to the day table; three lag/frame windows
    over ~rows=days; a 1-row verdict. At 100 TB the day table IS the
    bottleneck's ceiling (calendar-bounded). Identical SQL text on
    both engines; pandas pin in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_BACKTEST_ORACLE)


# --- Qini uplift curve (targeting-policy evaluation) ------------------------

_QINI_ORACLE = """
WITH u AS (
    SELECT user_id,
           CAST(user_id % 2 AS INTEGER) AS arm,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
),
d AS (
    SELECT user_id, arm, x, y,
           ntile(10) OVER (ORDER BY x DESC, user_id) AS decile
    FROM u
),
per AS (
    SELECT decile,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
           CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
    FROM d GROUP BY decile
),
cum AS (
    SELECT decile, nt, nc, yt, yc,
           CAST(sum(nt) OVER w AS BIGINT) AS nt_c,
           CAST(sum(nc) OVER w AS BIGINT) AS nc_c,
           CAST(sum(yt) OVER w AS BIGINT) AS yt_c,
           CAST(sum(yc) OVER w AS BIGINT) AS yc_c
    FROM per
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(decile AS BIGINT) AS decile, nt, nc, yt, yc,
       -- a prefix with no control (or no treated) users yet has no
       -- counterfactual: NULL, never a division error (ANSI-safe at
       -- tiny SFs where a decile can be single-arm)
       CASE WHEN nc_c > 0 THEN
           round((CAST(yt_c AS DOUBLE)
                  - CAST(yc_c AS DOUBLE) * nt_c / nc_c) / 100.0, 6)
       END AS qini_value,
       CASE WHEN nc_c > 0 AND nt_c > 0 THEN
           round(CAST(yt_c AS DOUBLE) / nt_c / 100.0
                 - CAST(yc_c AS DOUBLE) / nc_c / 100.0, 6)
       END AS cum_uplift_per_user
FROM cum
ORDER BY decile
"""


@query("uplift_qini_deciles", _QINI_ORACLE)
def uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve — the evaluation every targeting/uplift model
    gets judged on (who should receive the treatment, not who will
    respond anyway): users ranked into deciles by the deterministic
    targeting score (pre-period spend — the CUPED covariate doing a
    second job), and each cumulative prefix scored with the Qini
    increment Ytᶜ − Ycᶜ·Ntᶜ/Ncᶜ (incremental response over the
    control-scaled counterfactual) plus the per-user cumulative
    uplift. A score with real signal bends the curve above the
    diagonal in the top deciles. One user-keyed shuffle for (X, Y),
    one global ntile over USERS (swap in the equidepth-histogram rank
    at 100 TB — documented on quality_percentile_filter), a 10-row
    cumulative window. All counts/sums exact int64; the two final
    ratios are fixed expressions. Identical SQL text on both engines;
    pandas pin in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_QINI_ORACLE)


# --- Shapley attribution for the linear pricing model -----------------------

# For a linear model with feature-independence, the Shapley value has
# the exact closed form φ_j(x) = β_j (x_j − x̄_j) — no sampling, no
# approximation. β comes from the centered-covariance closed form of
# the 2-feature OLS (price ~ quantity + discount, the ridge feature
# set at λ=0), every covariance an exact DECIMAL(38,0) sum; each
# row's |φ| is 1e-6-floor-quantized so group means are exact-int
# ratios.
_SHAP_ORACLE = """
WITH t AS (
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s AS (
    SELECT
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq,
        CAST(sum(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
        CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        CAST(sum(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS sqq,
        CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DECIMAL(38,0)) AS sdd,
        CAST(sum(CAST(q AS DECIMAL(38,0)) * d) AS DECIMAL(38,0)) AS sqd,
        CAST(sum(CAST(q AS DECIMAL(38,0)) * yc) AS DECIMAL(38,0)) AS sqy,
        CAST(sum(CAST(d AS DECIMAL(38,0)) * yc) AS DECIMAL(38,0)) AS sdy
    FROM t
),
b AS (
    SELECT n,
        CAST(sq AS DOUBLE) / n AS mq,
        CAST(sd AS DOUBLE) / n AS md,
        ((CAST(sqy AS DOUBLE) - CAST(sq AS DOUBLE) * sy / n)
         * (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)
         - (CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy / n)
         * (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n))
        / ((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)
           * (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)
           - (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n)
           * (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n))
            AS beta_q,
        ((CAST(sdy AS DOUBLE) - CAST(sd AS DOUBLE) * sy / n)
         * (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)
         - (CAST(sqy AS DOUBLE) - CAST(sq AS DOUBLE) * sy / n)
         * (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n))
        / ((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n)
           * (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)
           - (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n)
           * (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * sd / n))
            AS beta_d
    FROM s
),
phi AS (
    SELECT t.l_returnflag,
           CAST(floor(1e6 * abs(b.beta_q * (t.q - b.mq))) AS BIGINT)
               AS aq,
           CAST(floor(1e6 * abs(b.beta_d * (t.d - b.md))) AS BIGINT)
               AS ad,
           b.beta_q AS beta_q, b.beta_d AS beta_d
    FROM t CROSS JOIN b
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(max(beta_q) / 100.0, 6) AS beta_qty,
       round(max(beta_d) / 100.0, 6) AS beta_disc,
       round(CAST(sum(aq) AS DOUBLE) / 1e6 / 100.0 / count(*), 6)
           AS mean_abs_shap_qty,
       round(CAST(sum(ad) AS DOUBLE) / 1e6 / 100.0 / count(*), 6)
           AS mean_abs_shap_disc,
       CAST(sum(aq) AS DOUBLE) > CAST(sum(ad) AS DOUBLE)
           AS qty_dominates
FROM phi GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("shapley_ols_attribution", _SHAP_ORACLE)
def shapley_ols_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley attribution for the linear pricing model — the
    explainability primitive in the one case it needs no sampling: for
    a linear model with the independence convention, φⱼ(x) =
    βⱼ(xⱼ − x̄ⱼ) EXACTLY (the Shapley axioms collapse to this closed
    form), so global feature importance mean|φⱼ| is computable at
    corpus scale in two scans: one for the centered-covariance OLS
    closed form (exact DECIMAL sufficient statistics, Cramer 2×2),
    one for the per-row attributions (1e-6-quantized |φ| so group
    means are exact-integer ratios; β broadcast as a 1-row cross
    join). Per return-flag output answers 'which feature drives
    price, and does that differ by segment' — mean|φ_qty| vs
    mean|φ_disc| with the dominance verdict hash-pinned. Identical
    SQL text on both engines; numpy/sklearn-free pin with the
    lstsq cross-check in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_SHAP_ORACLE)


# --- Difference-in-differences --------------------------------------------

_DID_CELL = ",\n        ".join(
    f"CAST(sum(CASE WHEN arm = {a} AND post = {p} THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS n{a}{p},\n        "
    f"CAST(sum(CASE WHEN arm = {a} AND post = {p} THEN vc ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS s{a}{p},\n        "
    f"CAST(sum(CASE WHEN arm = {a} AND post = {p}"
    f" THEN CAST(vc AS DECIMAL(38,0)) * vc ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS ss{a}{p}"
    for a in (0, 1)
    for p in (0, 1)
)

_DID_ORACLE = f"""
WITH t AS (
    SELECT CAST(user_id % 2 AS INTEGER) AS arm,
           CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                THEN 1 ELSE 0 END AS post,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
p AS (
    SELECT
        {_DID_CELL}
    FROM t
),
m AS (
    SELECT *,
        CAST(s00 AS DOUBLE) / 100.0 / n00 AS m00,
        CAST(s01 AS DOUBLE) / 100.0 / n01 AS m01,
        CAST(s10 AS DOUBLE) / 100.0 / n10 AS m10,
        CAST(s11 AS DOUBLE) / 100.0 / n11 AS m11,
        (CAST(ss00 AS DOUBLE) / 10000.0
         - (CAST(s00 AS DOUBLE) / 100.0) * (CAST(s00 AS DOUBLE) / 100.0)
           / n00) / (n00 - 1) / n00
        + (CAST(ss01 AS DOUBLE) / 10000.0
         - (CAST(s01 AS DOUBLE) / 100.0) * (CAST(s01 AS DOUBLE) / 100.0)
           / n01) / (n01 - 1) / n01
        + (CAST(ss10 AS DOUBLE) / 10000.0
         - (CAST(s10 AS DOUBLE) / 100.0) * (CAST(s10 AS DOUBLE) / 100.0)
           / n10) / (n10 - 1) / n10
        + (CAST(ss11 AS DOUBLE) / 10000.0
         - (CAST(s11 AS DOUBLE) / 100.0) * (CAST(s11 AS DOUBLE) / 100.0)
           / n11) / (n11 - 1) / n11 AS var_did
    FROM p
)
SELECT n00, n01, n10, n11,
       round(m00, 6) AS mean_ctrl_pre,
       round(m01, 6) AS mean_ctrl_post,
       round(m10, 6) AS mean_treat_pre,
       round(m11, 6) AS mean_treat_post,
       round((m11 - m10) - (m01 - m00), 6) AS did_estimate,
       round(sqrt(var_did), 6) AS did_se,
       round(((m11 - m10) - (m01 - m00)) / sqrt(var_did), 6) AS did_z,
       abs(((m11 - m10) - (m01 - m00)) / sqrt(var_did))
           > 1.959963984540054 AS significant_5pct
FROM m
"""


@query("did_estimator", _DID_ORACLE)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimator when
    only observational before/after data exists: the treatment effect
    is (ΔY_treated) − (ΔY_control), which cancels both the permanent
    group difference and the common time trend (the parallel-trends
    identification). Cells: arm × pre/post on the fixture's Jan-16
    split; the SE is the four-cell independent-means form
    √(Σ var/n), z against the literature 1.96. One scan pivots all
    four cells' exact integer-cents (n, Σv, Σv²) into ONE row; every
    derived double is a fixed expression (the anova/cuped
    discipline). Identical SQL text on both engines; numpy pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_DID_ORACLE)


# --- Exact Shapley channel attribution (marketing coalition game) -----------

# 4 touchpoint channels -> 16 coalitions, so the Shapley sum is EXACT
# enumeration, no sampling: weights |S|!(3-|S|)!/4! scale to integers
# {6,2,2,6}/24. Coalition value v(S) = conversions reachable with the
# channels of S alone (converted users whose touchpoint set ⊆ S).
_SHAPCH_COALITIONS = (
    "(0, 0), (1, 1), (2, 1), (3, 2), (4, 1), (5, 2), (6, 2), (7, 3), "
    "(8, 1), (9, 2), (10, 2), (11, 3), (12, 2), (13, 3), (14, 3), (15, 4)"
)
_SHAPCH_CHANNELS = "(1, 'click'), (2, 'error'), (4, 'signup'), (8, 'view')"

_SHAPCH_ORACLE = f"""
WITH fp AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
    FROM events GROUP BY user_id
),
um AS (
    SELECT e.user_id,
           CAST(max(CASE WHEN e.event_type = 'click'
                          AND (fp.first_p IS NULL OR e.ts < fp.first_p)
                         THEN 1 ELSE 0 END) * 1
              + max(CASE WHEN e.event_type = 'error'
                          AND (fp.first_p IS NULL OR e.ts < fp.first_p)
                         THEN 1 ELSE 0 END) * 2
              + max(CASE WHEN e.event_type = 'signup'
                          AND (fp.first_p IS NULL OR e.ts < fp.first_p)
                         THEN 1 ELSE 0 END) * 4
              + max(CASE WHEN e.event_type = 'view'
                          AND (fp.first_p IS NULL OR e.ts < fp.first_p)
                         THEN 1 ELSE 0 END) * 8 AS INTEGER) AS mask,
           CAST(max(CASE WHEN fp.first_p IS NOT NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS conv
    FROM events e JOIN fp ON fp.user_id = e.user_id
    GROUP BY e.user_id
),
cnt AS (
    SELECT mask, CAST(sum(conv) AS BIGINT) AS conv,
           CAST(count(*) AS BIGINT) AS users
    FROM um GROUP BY mask
),
coalitions AS (
    SELECT * FROM (VALUES {_SHAPCH_COALITIONS}) AS t(s, card)
),
channels AS (
    SELECT * FROM (VALUES {_SHAPCH_CHANNELS}) AS t(bit, channel)
),
cv AS (
    SELECT c.s, c.card,
           CAST(sum(CASE WHEN (m.mask & (15 - c.s)) = 0 THEN m.conv
                         ELSE 0 END) AS BIGINT) AS conv
    FROM coalitions c CROSS JOIN cnt m
    GROUP BY c.s, c.card
),
phi AS (
    SELECT ch.channel,
           CAST(sum(CASE c.card WHEN 0 THEN 6 WHEN 1 THEN 2
                                WHEN 2 THEN 2 ELSE 6 END
                    * (cvj.conv - cv.conv)) AS BIGINT) AS phi24
    FROM channels ch
    JOIN coalitions c ON (c.s & ch.bit) = 0
    JOIN cv ON cv.s = c.s
    JOIN cv cvj ON cvj.s = c.s + ch.bit
    GROUP BY ch.channel
),
tot AS (
    SELECT max(CASE WHEN s = 15 THEN conv END) AS v_full,
           max(CASE WHEN s = 0 THEN conv END) AS v_empty
    FROM cv
)
SELECT p.channel,
       round(CAST(p.phi24 AS DOUBLE) / 24.0, 6) AS shapley_conversions,
       round(CAST(p.phi24 AS DOUBLE)
             / (24.0 * (t.v_full - t.v_empty)), 6) AS share,
       t.v_full AS conversions_with_all,
       t.v_empty AS conversions_direct
FROM phi p CROSS JOIN tot t
ORDER BY p.channel
"""


@query("shapley_channel_attribution", _SHAPCH_ORACLE)
def shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapley-value marketing attribution — the game-theoretic
    upgrade over attribution_linear's positional rules: each
    conversion is a coalition game over the touchpoint channels the
    user saw before first purchase, v(S) = conversions reachable with
    the channels of S alone, and channel j earns
    φⱼ = Σ_{S∌j} |S|!(n−1−|S|)!/n!·(v(S∪j)−v(S)). With 4 channels
    the 16 coalitions enumerate EXACTLY (weights scale to integers
    {6,2,2,6}/24 — no sampling, the reason Shapley attribution is
    tractable for marketing's handful of channels while model
    explainability needs approximations). The corpus-sized work is
    two user-keyed aggregations (first-purchase timestamp, then the
    4-bit touchpoint mask + conversion flag); everything after runs
    on the 16-row mask-count table — coalition values by subset test
    (mask & ~S) = 0, φ as exact int64 sums. Efficiency axiom
    Σφⱼ = v(full) − v(∅) rides in the output and is pinned. Identical
    SQL text on both engines; pure-Python coalition pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SHAPCH_ORACLE)


# --- Instrumental variables (2SLS, one instrument) --------------------------

# Wald/2SLS closed form with a single instrument: β_IV = cov(z,y)/
# cov(z,x), first stage π = cov(z,x)/var(z) with its F statistic —
# all from one scan of exact integer sufficient statistics. The
# synthetic encouragement design: z = [user_id % 3 = 0] (random
# "encouragement"), x = user's event count (the endogenous exposure),
# y = user's total value in cents.
_IV_ORACLE = """
WITH u AS (
    SELECT user_id,
           CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS z,
           CAST(count(*) AS BIGINT) AS x,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
),
s AS (
    SELECT
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(z) AS BIGINT) AS sz,
        CAST(sum(x) AS DECIMAL(38,0)) AS sx,
        CAST(sum(y) AS DECIMAL(38,0)) AS sy,
        CAST(sum(CAST(z AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS szx,
        CAST(sum(CAST(z AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS szy,
        CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
        CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
    FROM u
),
c AS (
    SELECT n, sz,
        CAST(szx AS DOUBLE) / n - CAST(sz AS DOUBLE) * sx / n / n AS czx,
        CAST(szy AS DOUBLE) / n - CAST(sz AS DOUBLE) * sy / n / n AS czy,
        CAST(sz AS DOUBLE) / n
            - (CAST(sz AS DOUBLE) / n) * (CAST(sz AS DOUBLE) / n) AS vz,
        CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
            * (CAST(sx AS DOUBLE) / n) AS vx,
        CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
            * (CAST(sy AS DOUBLE) / n) AS cxy
    FROM s
)
SELECT n, sz AS n_encouraged,
       round(czx / vz, 6) AS first_stage_pi,
       round(CAST(n AS DOUBLE) * (czx / vz) * (czx / vz) * vz
             / (vx - (czx / vz) * czx), 6) AS first_stage_f,
       round(czy / czx / 100.0, 6) AS beta_iv,
       round(cxy / vx / 100.0, 6) AS beta_ols_naive,
       (CAST(n AS DOUBLE) * (czx / vz) * (czx / vz) * vz
        / (vx - (czx / vz) * czx)) > 10.0 AS instrument_strong
FROM c
"""


@query("iv_2sls_wald", _IV_ORACLE)
def iv_2sls_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables estimation (2SLS/Wald with one
    instrument) — the causal tool when the exposure is endogenous:
    β_IV = cov(z,y)/cov(z,x) uses only the variation in exposure
    INDUCED by the random encouragement z, discarding the confounded
    rest. Emits the first-stage coefficient and its F statistic with
    the textbook F>10 weak-instrument gate (an IV with a weak first
    stage is worse than useless — the diagnostic IS the product), and
    the naive OLS slope for contrast. One user-keyed scan + one
    pivoted sufficient-statistics row; every derived double a fixed
    expression. Completes the causal suite: DiD (parallel trends),
    IV (encouragement), Qini/CUPED/SRM (experimentation). Identical
    SQL text on both engines; numpy pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_IV_ORACLE)


# --- Regression discontinuity (sharp, local linear) -------------------------

_RDD_CUTOFF = 160000  # running variable: pre-period spend cents
_RDD_BW = 60000

_RDD_SIDE = ",\n        ".join(
    f"CAST(sum(CASE WHEN side = {sd} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n{tag},\n        "
    f"CAST(sum(CASE WHEN side = {sd} THEN rc ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sr{tag},\n        "
    f"CAST(sum(CASE WHEN side = {sd} THEN y ELSE 0 END)"
    f" AS DECIMAL(38,0)) AS sy{tag},\n        "
    f"CAST(sum(CASE WHEN side = {sd} THEN CAST(rc AS DECIMAL(38,0)) * rc"
    f" ELSE 0 END) AS DECIMAL(38,0)) AS srr{tag},\n        "
    f"CAST(sum(CASE WHEN side = {sd} THEN CAST(rc AS DECIMAL(38,0)) * y"
    f" ELSE 0 END) AS DECIMAL(38,0)) AS sry{tag}"
    for sd, tag in ((0, "l"), (1, "r"))
)


def _rdd_fit(tag: str) -> str:
    """Closed-form OLS of y on centered running var for one side:
    slope and intercept AT THE CUTOFF (r = 0 after centering)."""
    n, sr, sy, srr, sry = (
        f"n{tag}", f"sr{tag}", f"sy{tag}", f"srr{tag}", f"sry{tag}"
    )
    den = (
        f"(CAST({n} AS DOUBLE) * CAST({srr} AS DOUBLE)"
        f" - CAST({sr} AS DOUBLE) * CAST({sr} AS DOUBLE))"
    )
    slope = (
        f"((CAST({n} AS DOUBLE) * CAST({sry} AS DOUBLE)"
        f" - CAST({sr} AS DOUBLE) * CAST({sy} AS DOUBLE)) / {den})"
    )
    icept = (
        f"((CAST({sy} AS DOUBLE) - {slope} * CAST({sr} AS DOUBLE))"
        f" / CAST({n} AS DOUBLE))"
    )
    return den, slope, icept


_RDD_DEN_L, _RDD_SLOPE_L, _RDD_ICEPT_L = _rdd_fit("l")
_RDD_DEN_R, _RDD_SLOPE_R, _RDD_ICEPT_R = _rdd_fit("r")

_RDD_ORACLE = f"""
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) - {_RDD_CUTOFF} AS rc,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
),
w AS (
    SELECT rc, y, CASE WHEN rc >= 0 THEN 1 ELSE 0 END AS side
    FROM u WHERE rc >= -{_RDD_BW} AND rc < {_RDD_BW}
),
p AS (
    SELECT
        {_RDD_SIDE}
    FROM w
)
SELECT nl AS n_left, nr AS n_right,
       CASE WHEN nl > 1 AND {_RDD_DEN_L} <> 0
            THEN round({_RDD_SLOPE_L}, 6) END AS slope_left,
       CASE WHEN nr > 1 AND {_RDD_DEN_R} <> 0
            THEN round({_RDD_SLOPE_R}, 6) END AS slope_right,
       CASE WHEN nl > 1 AND {_RDD_DEN_L} <> 0
            THEN round({_RDD_ICEPT_L} / 100.0, 6) END AS limit_left,
       CASE WHEN nr > 1 AND {_RDD_DEN_R} <> 0
            THEN round({_RDD_ICEPT_R} / 100.0, 6) END AS limit_right,
       CASE WHEN nl > 1 AND nr > 1
             AND {_RDD_DEN_L} <> 0 AND {_RDD_DEN_R} <> 0
            THEN round(({_RDD_ICEPT_R} - {_RDD_ICEPT_L}) / 100.0, 6)
       END AS rdd_estimate
FROM p
"""


@query("rdd_sharp_local_linear", _RDD_ORACLE)
def rdd_sharp_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity — the causal design when
    treatment switches at a known policy threshold of a running
    variable: fit a LOCAL LINEAR regression of the outcome
    (post-period spend) on the centered running variable (pre-period
    spend − $1600) separately on each side inside a ±$600 bandwidth,
    and read the treatment effect as the jump between the two
    intercepts AT the cutoff (Imbens-Lemieux; the separate slopes are
    what makes it local-linear rather than a naive mean difference,
    killing the regression bias a sloped outcome would inject). The
    fixture plants no discontinuity, so the estimate hovers near
    zero — the OPERATOR is the product. One user-keyed scan, one
    pivoted two-side sufficient-statistics row, closed-form fits;
    degenerate sides (n≤1 or zero variance at tiny SFs) yield NULL,
    never a division error. Completes the causal suite: DiD, IV,
    RDD. Identical SQL text on both engines; numpy polyfit pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_RDD_ORACLE)


# --- Propensity-score matching (1:1 nearest, with replacement) --------------

_PSM_CALIPER = 20000  # cents

_PSM_ORACLE = f"""
WITH u AS (
    SELECT user_id,
           CAST(user_id % 2 AS INTEGER) AS arm,
           CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
),
t AS (SELECT user_id, s, y FROM u WHERE arm = 1),
c AS (SELECT user_id, s, y FROM u WHERE arm = 0),
cand AS (
    SELECT t.user_id AS tid, t.s AS ts_, t.y AS ty,
           c.user_id AS cid, c.s AS cs, c.y AS cy,
           abs(t.s - c.s) AS d
    FROM t JOIN c ON abs(t.s - c.s) <= {_PSM_CALIPER}
),
best AS (
    SELECT tid, ts_, ty, cid, cs, cy, d
    FROM (
        SELECT *, row_number() OVER (PARTITION BY tid
                                     ORDER BY d, cid) AS rn
        FROM cand
    ) WHERE rn = 1
),
pre AS (
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_treated,
        (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_control,
        (SELECT CAST(sum(s) AS DECIMAL(38,0)) FROM t) AS st_all,
        (SELECT CAST(sum(s) AS DECIMAL(38,0)) FROM c) AS sc_all
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_matched,
           CAST(sum(ty - cy) AS DECIMAL(38,0)) AS diff_y,
           CAST(sum(ts_) AS DECIMAL(38,0)) AS st_m,
           CAST(sum(cs) AS DECIMAL(38,0)) AS sc_m,
           CAST(sum(d) AS DECIMAL(38,0)) AS sum_d
    FROM best
)
SELECT pre.n_treated, pre.n_control, m.n_matched,
       round(CAST(m.diff_y AS DOUBLE) / 100.0 / m.n_matched, 6) AS att,
       round(abs(CAST(pre.st_all AS DOUBLE) / pre.n_treated
                 - CAST(pre.sc_all AS DOUBLE) / pre.n_control)
             / 100.0, 6) AS score_gap_before,
       round(abs(CAST(m.st_m AS DOUBLE) / m.n_matched
                 - CAST(m.sc_m AS DOUBLE) / m.n_matched) / 100.0, 6)
           AS score_gap_after,
       round(CAST(m.sum_d AS DOUBLE) / 100.0 / m.n_matched, 6)
           AS mean_match_distance
FROM pre, m
"""


@query("propensity_matching_att", _PSM_ORACLE)
def propensity_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching: every treated user pairs with the
    NEAREST control by score (pre-period spend, the deterministic
    propensity proxy) inside a $200 caliper, matching WITH
    replacement — the variant whose matches are independent per
    treated unit, hence exactly parallelizable and
    order-deterministic (greedy without-replacement is inherently
    sequential; with-replacement is also the lower-bias textbook
    choice). Emits the ATT on matched pairs and the diagnostic that
    justifies it: the mean-score gap BEFORE vs AFTER matching
    (balance — the first table of every PSM paper) plus the mean
    match distance. Dataflow: per-user scan, caliper band join
    (bucketed-range join at scale — the range_join_bucketed pattern),
    rank-1 window per treated. Identical SQL text on both engines;
    numpy pin pins ATT, balance, and that matching shrinks the gap in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_PSM_ORACLE)


# --- Benjamini-Hochberg FDR over a family of daily mean-shift tests ---------

# One z-test per (event_type, day): is that day's mean value shifted
# against the type's overall mean? m ≈ 150 simultaneous hypotheses —
# exactly the "metrics platform fires hundreds of tests every
# morning" setting FDR control exists for. p-values use the logistic
# approximation Φ(z) ≈ 1/(1+e^(−1.702 z)) (Bowling et al.'s constant
# — a fixed published formula, not a libm CDF, so both engines
# compute the identical expression), floor-quantized at 1e-9; the BH
# step-up is a pure window computation over the quantized p's.
_BH_ALPHA = 0.05

_BH_ORACLE = """
WITH t AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
g AS (
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vc) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc) AS DECIMAL(38,0)) AS ss
    FROM t GROUP BY 1, 2
),
tot AS (
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS tn,
           CAST(sum(s) AS DECIMAL(38,0)) AS ts_,
           CAST(sum(ss) AS DECIMAL(38,0)) AS tss
    FROM g GROUP BY event_type
),
z AS (
    SELECT g.event_type, g.day, g.n,
           (CAST(g.s AS DOUBLE) / g.n - CAST(tot.ts_ AS DOUBLE) / tot.tn)
           / sqrt(((CAST(tot.tss AS DOUBLE) / tot.tn
                    - (CAST(tot.ts_ AS DOUBLE) / tot.tn)
                      * (CAST(tot.ts_ AS DOUBLE) / tot.tn))) / g.n)
               AS zstat
    FROM g JOIN tot ON tot.event_type = g.event_type
),
p AS (
    SELECT event_type, day, n, zstat,
           CAST(floor(1e9 * (CAST(2 AS DOUBLE)
                / (CAST(1 AS DOUBLE)
                   + exp(CAST(1702 AS DOUBLE) / 1000 * abs(zstat)))))
                AS BIGINT) AS p_q
    FROM z
),
ranked AS (
    SELECT *,
           CAST(row_number() OVER (ORDER BY p_q, event_type, day)
                AS BIGINT) AS k,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM p
),
cutoff AS (
    SELECT coalesce(max(CASE WHEN CAST(p_q AS DOUBLE) / 1e9
                              <= CAST(k AS DOUBLE) * 0.05 / m
                             THEN k END), 0) AS k_max
    FROM ranked
)
SELECT r.event_type, CAST(r.day AS TIMESTAMP) AS day, r.n,
       round(r.zstat, 6) AS z,
       round(CAST(r.p_q AS DOUBLE) / 1e9, 6) AS p_approx,
       r.k AS p_rank, r.m AS n_tests,
       r.k <= c.k_max AS discovery_bh,
       CAST(r.p_q AS DOUBLE) / 1e9 <= 0.05 AS naive_significant
FROM ranked r CROSS JOIN cutoff c
ORDER BY r.k
"""


@query("bh_fdr_daily_shifts", _BH_ORACLE)
def bh_fdr_daily_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over ~150 simultaneous daily
    mean-shift z-tests (every event_type × day against the type's
    pooled mean) — the multiple-testing correction a metrics platform
    applies before paging anyone: the step-up rule finds the largest
    k with p₍ₖ₎ ≤ k·α/m and flags exactly the first k ordered
    hypotheses, controlling the expected false-discovery fraction at
    α = 0.05 where the naive per-test threshold (emitted alongside
    for contrast) fires spuriously ~α·m times. Determinism end to
    end: exact integer sufficient statistics, a FIXED published
    logistic CDF approximation (Φ(z) ≈ 1/(1+e^{−1.702z}) — an
    expression, not a libm CDF) floor-quantized at 1e-9, and a
    deterministic tie-ordered rank. The ordered-p window runs over
    the HYPOTHESIS table (m rows — tests, not data). Identical SQL
    text on both engines; scipy-free numpy pin incl. the step-up
    property in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_BH_ORACLE)


# --- Empirical-Bayes (James-Stein) shrinkage of cell means ------------------

_EB_ORACLE = """
WITH t AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(round(value * 100, 0) AS BIGINT) AS vc
    FROM events WHERE value IS NOT NULL
),
g AS (
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vc) AS DECIMAL(38,0)) AS s,
           CAST(sum(CAST(vc AS DECIMAL(38,0)) * vc) AS DECIMAL(38,0)) AS ss
    FROM t GROUP BY 1, 2
),
tot AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS tn,
           CAST(sum(s) AS DECIMAL(38,0)) AS ts_,
           -- pooled WITHIN variance: Σ(ss − s²/n) / (N − G), each
           -- cell's contribution floor-quantized to 1e-3 cents² so
           -- this group-count-sized sum is exact integer arithmetic
           CAST(sum(CAST(floor(1000.0 * (CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / n)) AS BIGINT))
                AS DECIMAL(38,0)) AS within_q,
           CAST(sum(CAST(floor(1000000.0 / n) AS BIGINT))
                AS DECIMAL(38,0)) AS invn_q
    FROM g GROUP BY event_type
),
mu AS (
    SELECT event_type, n_cells, tn,
           CAST(ts_ AS DOUBLE) / tn AS grand,
           CAST(within_q AS DOUBLE) / 1000.0 / (tn - n_cells) AS sig2,
           CAST(invn_q AS DOUBLE) / 1e6 / n_cells AS mean_invn
    FROM tot
),
btw AS (
    SELECT g.event_type,
           CAST(sum(CAST(floor(1000.0
                 * (CAST(g.s AS DOUBLE) / g.n - mu.grand)
                 * (CAST(g.s AS DOUBLE) / g.n - mu.grand)) AS BIGINT))
                AS DECIMAL(38,0)) AS btw_q
    FROM g JOIN mu ON mu.event_type = g.event_type
    GROUP BY g.event_type
),
tau AS (
    SELECT mu.event_type, mu.grand, mu.sig2, mu.n_cells,
           greatest(CAST(0 AS DOUBLE),
                    CAST(btw.btw_q AS DOUBLE) / 1000.0 / (mu.n_cells - 1)
                    - mu.sig2 * mu.mean_invn) AS tau2
    FROM mu JOIN btw ON btw.event_type = mu.event_type
)
SELECT g.event_type, CAST(g.day AS TIMESTAMP) AS day, g.n,
       round(CAST(g.s AS DOUBLE) / g.n / 100.0, 6) AS raw_mean,
       round((tau.sig2 / g.n / (tau.sig2 / g.n + tau.tau2)) / 1.0, 6)
           AS shrinkage_b,
       round(((tau.sig2 / g.n / (tau.sig2 / g.n + tau.tau2)) * tau.grand
              + (CAST(1 AS DOUBLE)
                 - tau.sig2 / g.n / (tau.sig2 / g.n + tau.tau2))
                * (CAST(g.s AS DOUBLE) / g.n)) / 100.0, 6)
           AS shrunk_mean,
       round(tau.grand / 100.0, 6) AS grand_mean,
       round(tau.tau2 / 10000.0, 6) AS tau2_dollars2
FROM g JOIN tau ON tau.event_type = g.event_type
ORDER BY g.event_type, g.day
"""


@query("empirical_bayes_shrinkage", _EB_ORACLE)
def empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein / normal-normal) shrinkage of the
    daily per-type mean toward the type's grand mean — the estimator
    every ratings/CTR/small-cell dashboard actually ships: a cell
    with few observations borrows strength from the ensemble
    (B → 1), a well-measured cell keeps its own mean (B → 0), and
    the prior variance τ² is estimated from the data itself by
    method of moments (between-cell variance minus the sampling
    share, clipped at 0). All ensemble statistics are group-
    count-sized sums of floor-quantized per-cell terms — exact
    integers, no float merge-order exposure (the anova discipline
    extended to the two-level hierarchy). Emits raw vs shrunk means,
    per-cell B, and τ². Identical SQL text on both engines; numpy
    pin incl. the betweenness property (shrunk strictly between raw
    and grand) and small-n-shrinks-more in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_EB_ORACLE)


# --- 1-D Gaussian mixture EM (2 components) ----------------------------------


def _gmm_cycle(pin: str, out: str) -> str:
    """One EM cycle in SQL: per-row responsibility r = w1·phi1 /
    (w1·phi1 + w2·phi2) written as a single fixed-order expression
    (one exp per row — the km_survival libm discipline), then
    floor(1e8·…) quantized sufficient statistics summed exactly in
    DECIMAL(38,0) for BOTH components (never n−sum: floor(1e8·(1−r))
    ≠ 1e8 − floor(1e8·r)), then closed-form M-step."""
    r = (
        "1.0 / (1.0 + ((p.w2 * p.s1) / (p.w1 * p.s2)) * "
        "exp(0.5 * ((((x.u - p.m1) / p.s1) * ((x.u - p.m1) / p.s1))"
        " - (((x.u - p.m2) / p.s2) * ((x.u - p.m2) / p.s2)))))"
    )
    return f"""
{out}_r AS (
    SELECT x.u, {r} AS r FROM x, {pin} p
),
{out}_s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {_dsum("floor(1e8 * r)", "sr1")},
           {_dsum("floor(1e8 * (r * u))", "sx1")},
           {_dsum("floor(1e8 * (r * u * u))", "sxx1")},
           {_dsum("floor(1e8 * (1.0 - r))", "sr2")},
           {_dsum("floor(1e8 * ((1.0 - r) * u))", "sx2")},
           {_dsum("floor(1e8 * ((1.0 - r) * u * u))", "sxx2")}
    FROM {out}_r
),
{out} AS (
    SELECT n,
           (sr1 / 1e8) / n AS w1, (sr2 / 1e8) / n AS w2,
           sx1 / sr1 AS m1, sx2 / sr2 AS m2,
           sqrt(greatest(sxx1 / sr1 - (sx1 / sr1) * (sx1 / sr1), 1e-12))
               AS s1,
           sqrt(greatest(sxx2 / sr2 - (sx2 / sr2) * (sx2 / sr2), 1e-12))
               AS s2
    FROM {out}_s
)"""


_GMM_SQL = f"""
WITH t AS (
    SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
),
x AS (SELECT CAST(c AS DOUBLE) / 100000.0 AS u FROM t),
s0 AS (
    SELECT CAST(count(*) AS DOUBLE) AS n, min(u) AS mn, max(u) AS mx,
           {_dsum("floor(1e8 * u)", "su")},
           {_dsum("floor(1e8 * (u * u))", "suu")}
    FROM x
),
p0 AS (
    SELECT n, 0.5 AS w1, 0.5 AS w2,
           mn + (mx - mn) / 4.0 AS m1,
           mn + 3.0 * ((mx - mn) / 4.0) AS m2,
           sqrt(greatest((suu / 1e8) / n
                         - ((su / 1e8) / n) * ((su / 1e8) / n), 1e-12)) AS s1,
           sqrt(greatest((suu / 1e8) / n
                         - ((su / 1e8) / n) * ((su / 1e8) / n), 1e-12)) AS s2
    FROM s0
),
{_gmm_cycle("p0", "p1")},
{_gmm_cycle("p1", "p2")}
SELECT CAST(n AS BIGINT) AS n,
       round(w1, 6) AS weight1, round(m1, 6) AS mu1_k, round(s1, 6) AS sigma1_k,
       round(w2, 6) AS weight2, round(m2, 6) AS mu2_k, round(s2, 6) AS sigma2_k
FROM p2
"""


@query("gmm_em_1d", _GMM_SQL)
def gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture trained IN the engine: 2 EM
    cycles over order totals (in thousands — the `_k` suffix), from a
    deterministic quartile-of-range init (equal weights, pooled
    variance). Each cycle is ONE aggregation over orders producing 6
    quantized sufficient statistics per component (exact
    DECIMAL(38,0) sums of floor(1e8·…) per-row quanta — the
    logistic_irls discipline) followed by the closed-form M-step, so
    training cost is two scans with map-side partial aggregation at
    any data size — the unsupervised-EM companion to `logistic_irls`
    (supervised IRLS) and `similarity_kmeans` (hard assignment).
    Identical SQL text runs on both engines; an independent numpy EM
    recompute pins the algorithm in tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_GMM_SQL)


# --- Huber robust regression (2-step IRLS) -----------------------------------

# Step 0 is plain OLS over EXACT integer sufficient statistics
# (quantity integral, extendedprice exact cents); the residual scale is
# the closed-form sqrt(SSR/n) from those same statistics (no median /
# MAD — quantile interpolation differs across engines, the documented
# reason the approx-quantile family is tolerance-checked instead).
# Step 1 reweights per row with the Huber psi (w = min(1, c/|r|),
# c = 1.345*sigma) and re-solves; every step-1 contribution is
# floor(1e6*expr) summed exactly in DECIMAL(38,0) — the logistic_irls
# quantization discipline.
_HUBER_C = "1.345"

_HUBER_SQL = f"""
WITH t AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s0 AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {_dsum("x", "sx")},
           {_dsum("yc", "sy")},
           {_dsum("x * x", "sxx")},
           {_dsum("x * yc", "sxy")},
           {_dsum("yc * yc", "syy")}
    FROM t
),
ols AS (
    SELECT n, sx, sy, sxx, sxy, syy,
           ((sxy / n) - (sx / n) * (sy / n))
               / ((sxx / n) - (sx / n) * (sx / n)) AS b0
    FROM s0
),
ols2 AS (
    SELECT n, sx, sy, sxx, sxy, syy, b0,
           (sy / n) - b0 * (sx / n) AS a0
    FROM ols
),
sc AS (
    SELECT n, b0, a0,
           sqrt(greatest(
               ((syy / n) - 2.0 * (a0 / 1.0) * (sy / n)
                - 2.0 * b0 * (sxy / n)
                + a0 * a0 + 2.0 * a0 * b0 * (sx / n)
                + b0 * b0 * (sxx / n)), 1e-9)) AS sigma
    FROM ols2
),
w AS (
    SELECT t.x, t.yc,
           CASE WHEN abs(CAST(t.yc AS DOUBLE) - s.a0 - s.b0 * t.x)
                     <= {_HUBER_C} * s.sigma
                THEN 1.0
                ELSE ({_HUBER_C} * s.sigma)
                     / abs(CAST(t.yc AS DOUBLE) - s.a0 - s.b0 * t.x)
           END AS hw
    FROM t, sc s
),
s1 AS (
    SELECT CAST(count(*) AS DOUBLE) AS n2,
           {_dsum("floor(1e6 * hw)", "sw")},
           {_dsum("floor(1e6 * (hw * x))", "swx")},
           {_dsum("floor(1e6 * (hw * yc))", "swy")},
           {_dsum("floor(1e6 * (hw * x * x))", "swxx")},
           {_dsum("floor(1e6 * (hw * x * yc))", "swxy")}
    FROM w
)
SELECT CAST(s0.n AS BIGINT) AS n,
       round(sc.a0 / 100.0, 6) AS intercept_ols,
       round(sc.b0 / 100.0, 6) AS slope_ols,
       round(sc.sigma / 100.0, 6) AS sigma_ols,
       round((((swxy / 1e6) * (sw / 1e6) - (swx / 1e6) * (swy / 1e6))
              / ((swxx / 1e6) * (sw / 1e6) - (swx / 1e6) * (swx / 1e6)))
             / 100.0, 6) AS slope_huber,
       round((((swy / 1e6)
               - (((swxy / 1e6) * (sw / 1e6) - (swx / 1e6) * (swy / 1e6))
                  / ((swxx / 1e6) * (sw / 1e6)
                     - (swx / 1e6) * (swx / 1e6))) * (swx / 1e6))
              / (sw / 1e6)) / 100.0, 6) AS intercept_huber
FROM s0, sc, s1
"""


@query("huber_irls_regression", _HUBER_SQL)
def huber_irls_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression (extendedprice ~ quantity, 2 IRLS
    steps): OLS from exact integer sufficient statistics, residual
    scale in closed form from those SAME statistics (no
    engine-divergent median), then one Huber-reweighted WLS whose
    per-row contributions are floor-1e6 quantized and summed exactly
    in DECIMAL(38,0). Training cost is two scans with map-side
    partial aggregation at any table size — the robust member of the
    in-engine regression family (ols_regression, ridge path,
    logistic_irls, theil_sen_trend). Cents-domain arithmetic
    converted to dollars only at the rounded output. Identical SQL
    text on both engines; numpy IRLS pin in tests."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_HUBER_SQL)


# --- experiment power / minimum-detectable-effect planning -------------------

# z_{0.025} and z_{0.2}: the two-sided alpha=0.05, power=0.8 normal
# quantiles as 17-digit literals — embedded in BOTH plans, so there is
# no inverse-CDF implementation to diverge.
_Z_ALPHA = "1.9599639845400545"
_Z_BETA = "0.8416212335729143"

_POWER_SQL = f"""
WITH t AS (
    SELECT event_type,
           CAST(floor(value * 100) AS BIGINT) AS vc
    FROM events
    WHERE value IS NOT NULL
),
s AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS n,
           {_dsum("vc", "sv")},
           {_dsum("vc * vc", "svv")}
    FROM t
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round((sv / n) / 100.0, 6) AS mean_value,
       round(sqrt(greatest((svv / n) - (sv / n) * (sv / n), 0.0))
             / 100.0, 6) AS sd_value,
       round((({_Z_ALPHA} + {_Z_BETA})
              * sqrt(2.0 * greatest((svv / n) - (sv / n) * (sv / n), 0.0)
                     / (n / 2.0))) / 100.0, 6) AS mde_abs,
       round((({_Z_ALPHA} + {_Z_BETA})
              * sqrt(2.0 * greatest((svv / n) - (sv / n) * (sv / n), 0.0)
                     / (n / 2.0))) / (sv / n), 6) AS mde_rel
FROM s
"""


@query("ab_power_mde", _POWER_SQL)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-planning power analysis: per event type, the
    minimum detectable effect of a 50/50 two-sample test at
    alpha=0.05 / power=0.8 given this traffic — MDE = (z_a+z_b)·
    sqrt(2·var/(n/2)) — the 'can this metric even move the needle'
    gate run BEFORE an experiment ships, beside the post-hoc suite
    (welch_ttest, cuped, msprt, srm). Variance from exact cents
    sums (one aggregation, map-side partial); the normal quantiles
    are shared 17-digit literals, so no inverse-CDF implementation
    can diverge. Identical SQL text on both engines."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_POWER_SQL)


# --- Hill tail-index estimator ------------------------------------------------

_HILL_K = 100

_HILL_SQL = f"""
WITH v AS (
    SELECT o_totalprice AS x, o_orderkey FROM orders
),
top AS (
    SELECT x, row_number() OVER (ORDER BY x DESC, o_orderkey) AS rn
    FROM v
),
kk AS (SELECT x AS thr FROM top WHERE rn = {_HILL_K + 1}),
h AS (
    SELECT CAST(sum(CAST(floor(1e9 * ln(t.x / kk.thr)) AS DECIMAL(38,0)))
                AS DOUBLE) / 1e9 AS s
    FROM top t, kk
    WHERE t.rn <= {_HILL_K}
)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       round(kk.thr, 6) AS threshold,
       round(h.s / {_HILL_K}.0, 6) AS hill_h,
       round({_HILL_K}.0 / h.s, 6) AS tail_index_alpha
FROM h, kk
"""


@query("hill_tail_index", _HILL_SQL)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index: over the k=100
    largest totals, H = (1/k)·Σ ln(x_(i)/x_(k+1)) and alpha = 1/H —
    the heavy-tail diagnostic behind 'is a mean even finite here'
    capacity/risk planning (alpha <= 2 means infinite variance),
    beside `benford_digit_audit` and `mad_outliers` in the
    distribution-forensics family. The Spark side takes the top-101
    via orderBy+limit — TakeOrderedAndProject, a per-partition top-k
    merge, NEVER a global sort — and the rank window runs on 101
    rows (metadata-sized; the oracle's full-table window is the
    DuckDB-side equivalent). The log sum is floor-1e9 quantized so
    the only order-sensitive reduction is exact int64."""
    from ..sources.batch import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_totalprice").alias("x"), "o_orderkey"
    )
    top101 = v.orderBy(F.desc("x"), F.asc("o_orderkey")).limit(
        _HILL_K + 1
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("x"), F.asc("o_orderkey"))
    ranked = top101.withColumn("rn", F.row_number().over(w))
    thr = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("thr")
    )
    s = (
        ranked.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(thr))
        .agg(
            (
                F.sum(
                    F.floor(
                        F.lit(1e9) * F.log(F.col("x") / F.col("thr"))
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e9)
            ).alias("s")
        )
    )
    return s.crossJoin(F.broadcast(thr)).select(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.round("thr", 6).alias("threshold"),
        F.round(F.col("s") / F.lit(float(_HILL_K)), 6).alias("hill_h"),
        F.round(F.lit(float(_HILL_K)) / F.col("s"), 6).alias(
            "tail_index_alpha"
        ),
    )


# --- rank-1 implicit-feedback ALS --------------------------------------------
#
# The scalar skeleton of Spark MLlib's distributed ALS: user/item
# factors fit by alternating closed-form least squares on the observed
# (user, item, count) triples. Rank 1 keeps each half-step a pure
# scan-aggregation (no Gram matrix inverse), which makes the WHOLE
# fixed-point iteration expressible in both engines with the repo's
# integer-quantization discipline: factors live on a 1e4 fixed-point
# grid, every numerator/denominator is an exact int64 sum (bounded by
# the count/factor caps documented below), and each update is ONE
# IEEE division + one exact power-of-ten multiply + floor — so the
# fitted factors, not just some projection of them, hash-match
# cross-engine.

_ALS_SCALE = 10_000  # factor fixed-point grid
_ALS_ITERS = 2  # u,v half-step pairs (v0 = 1.0 for every item)


def _als_oracle() -> str:
    steps = []
    prev_v = "v0"
    for it in range(1, _ALS_ITERS + 1):
        steps.append(f""",
u{it} AS MATERIALIZED (
    SELECT r.u,
           CAST(floor({_ALS_SCALE}.0 * {_ALS_SCALE}.0
                      * CAST(sum(r.r * pv.vq) AS DOUBLE)
                      / CAST(sum(pv.vq * pv.vq) AS DOUBLE)) AS BIGINT)
               AS uq
    FROM r JOIN {prev_v} pv ON r.k = pv.k
    GROUP BY r.u
),
v{it} AS MATERIALIZED (
    SELECT r.k,
           CAST(floor({_ALS_SCALE}.0 * {_ALS_SCALE}.0
                      * CAST(sum(r.r * pu.uq) AS DOUBLE)
                      / CAST(sum(pu.uq * pu.uq) AS DOUBLE)) AS BIGINT)
               AS vq
    FROM r JOIN u{it} pu ON r.u = pu.u
    GROUP BY r.k
)""")
        prev_v = f"v{it}"
    return f"""
WITH r AS MATERIALIZED (
    SELECT user_id AS u,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS r
    FROM events
    WHERE user_id IS NOT NULL
      AND event_type IN ('view', 'click', 'purchase')
    GROUP BY 1, 2
),
v0 AS MATERIALIZED (
    SELECT DISTINCT k, CAST({_ALS_SCALE} AS BIGINT) AS vq FROM r
){"".join(steps)}
SELECT k AS item_k,
       round(CAST(vq AS DOUBLE) / {_ALS_SCALE}.0, 4) AS factor,
       CAST(rank() OVER (ORDER BY vq DESC, k) AS BIGINT) AS popularity_rank
FROM v{_ALS_ITERS}
ORDER BY item_k
"""


@query("als_rank1_implicit", _als_oracle())
def als_rank1_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 implicit-feedback ALS over the (user, item) interaction
    counts mined from ``events.props`` — 2 alternating closed-form
    half-step pairs, factors on the 1e4 fixed-point grid. Each
    half-step is one equi-join (ratings ⋈ current factors, shuffling
    the OBSERVED triples only) + one keyed aggregation producing the
    opposite side's factors; barriered per iteration so the plan never
    re-expands (the pagerank/HITS iterative discipline). Exactness:
    numerators (r·factor ≤ ~5e7 per row) and denominators (factor² ≤
    ~1e13 per row) sum exactly in int64, each update is one IEEE
    division of exact ints, one exact 1e8 multiply, one floor.

    100 TB posture: identical to MLlib's ALS data flow at rank 1 —
    factors partition by their own key, ratings shuffle once per
    half-step on the join key, and all state is O(users + items), so
    the iteration cost is edges-proportional with no driver-side
    collect. Higher rank swaps the scalar update for the per-key
    normal-equation solve inside the SAME join/agg shape."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    r = (
        ev.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "click", "purchase")
        )
        .select(
            F.col("user_id").alias("u"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("u", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        .localCheckpoint(eager=False)
    )
    scale = float(_ALS_SCALE)
    v = r.select("k").distinct().select(
        "k", F.lit(_ALS_SCALE).cast("bigint").alias("vq")
    )
    for _ in range(_ALS_ITERS):
        u = (
            r.join(v, "k")
            .groupBy("u")
            .agg(
                F.floor(
                    F.lit(scale)
                    * F.lit(scale)
                    * F.sum(F.col("r") * F.col("vq")).cast("double")
                    / F.sum(F.col("vq") * F.col("vq")).cast("double")
                )
                .cast("bigint")
                .alias("uq")
            )
            .localCheckpoint(eager=False)
        )
        v = (
            r.join(u, "u")
            .groupBy("k")
            .agg(
                F.floor(
                    F.lit(scale)
                    * F.lit(scale)
                    * F.sum(F.col("r") * F.col("uq")).cast("double")
                    / F.sum(F.col("uq") * F.col("uq")).cast("double")
                )
                .cast("bigint")
                .alias("vq")
            )
            .localCheckpoint(eager=False)
        )
    w = Window.orderBy(F.desc("vq"), F.asc("k"))
    return v.select(
        F.col("k").alias("item_k"),
        F.round(F.col("vq").cast("double") / F.lit(scale), 4).alias(
            "factor"
        ),
        F.rank().over(w).cast("bigint").alias("popularity_rank"),
    ).orderBy("item_k")


# --- hidden-periodicity scan (folded ANOVA periodogram) ---------------------
# Period detection without cos/sin (libm trig is not identically
# rounded across engines): for each candidate period p, fold the daily
# series by i % p and measure the fraction of total variance explained
# by the fold, SSB/SST. Group sizes take at most two values
# (floor(N/p), ceil(N/p)), so SSB = sum_g S_g^2/n_g stays an exact
# integer after multiplying through by n_lo*n_hi — the only floating
# division is the final ratio, which IEEE rounds identically in both
# engines.
_PERIODICITY_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
    FROM orders GROUP BY date_trunc('day', o_orderdate)
),
idx AS (
    SELECT rev, row_number() OVER (ORDER BY day) - 1 AS i FROM daily
),
tot AS (
    SELECT count(*) AS n,
           sum(CAST(rev AS DECIMAL(38,0))) AS s,
           sum(CAST(rev AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0))) AS q
    FROM idx
),
periods AS (SELECT unnest(range(2, 31)) AS p),
folded AS (
    SELECT p, i % p AS residue,
           count(*) AS ng,
           sum(CAST(rev AS DECIMAL(38,0))) AS sg
    FROM idx, periods
    GROUP BY p, i % p
),
buckets AS (
    SELECT p, ng, sum(sg * sg) AS ss
    FROM folded GROUP BY p, ng
),
lims AS (
    SELECT p, ng, ss,
           min(ng) OVER (PARTITION BY p) AS n_lo,
           max(ng) OVER (PARTITION BY p) AS n_hi
    FROM buckets
),
pernum AS (
    SELECT p, n_lo, n_hi,
           sum(ss * CAST(n_lo * n_hi / ng AS DECIMAL(38,0))) AS ssb_scaled
    FROM lims GROUP BY p, n_lo, n_hi
)
SELECT CAST(p AS INTEGER) AS period,
       CAST(t.n AS BIGINT) AS n_days,
       round(CAST(t.n * ssb_scaled - t.s * t.s * n_lo * n_hi AS DOUBLE)
             / CAST((t.n * t.q - t.s * t.s) * n_lo * n_hi AS DOUBLE),
             6) AS explained_ratio
FROM pernum, tot t
ORDER BY period
"""


@query("periodicity_scan_anova", _PERIODICITY_ORACLE)
def periodicity_scan_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-periodicity scan over daily revenue: fold the series by
    every candidate period 2..30 and score each fold by the exact
    variance-explained ratio SSB/SST (the ANOVA periodogram — the
    trig-free analog of the DFT power spectrum, used for period
    detection when libm cos/sin would break cross-engine hashes). The
    series is calendar-bounded after the daily rollup, so the scan is
    days x 29 rows regardless of input scale; the rollup itself is the
    only shuffle that grows with data."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    idx = daily.select(
        "rev", (F.row_number().over(Window.orderBy("day")) - 1).alias("i")
    ).localCheckpoint(eager=False)
    rev = F.col("rev").cast("decimal(38,0)")
    tot = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rev).cast("decimal(38,0)").alias("s"),
        F.sum(rev * rev).cast("decimal(38,0)").alias("q"),
    )
    periods = spark.range(2, 31).select(F.col("id").alias("p"))
    folded = (
        idx.crossJoin(F.broadcast(periods))
        .groupBy("p", (F.col("i") % F.col("p")).alias("residue"))
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum(rev).cast("decimal(38,0)").alias("sg"),
        )
    )
    buckets = folded.groupBy("p", "ng").agg(
        F.sum(F.col("sg") * F.col("sg")).alias("ss")
    )
    w = Window.partitionBy("p")
    lims = buckets.select(
        "p",
        "ng",
        "ss",
        F.min("ng").over(w).alias("n_lo"),
        F.max("ng").over(w).alias("n_hi"),
    )
    pernum = lims.groupBy("p", "n_lo", "n_hi").agg(
        F.sum(
            F.col("ss")
            * (F.col("n_lo") * F.col("n_hi") / F.col("ng")).cast(
                "decimal(38,0)"
            )
        ).alias("ssb_scaled")
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    return (
        pernum.crossJoin(F.broadcast(tot))
        .select(
            F.col("p").cast("int").alias("period"),
            n.cast("bigint").alias("n_days"),
            F.round(
                (n * F.col("ssb_scaled") - s * s * F.col("n_lo") * F.col("n_hi"))
                .cast("double")
                / ((n * q - s * s) * F.col("n_lo") * F.col("n_hi")).cast(
                    "double"
                ),
                6,
            ).alias("explained_ratio"),
        )
        .orderBy("period")
    )


# --- OLS influence diagnostics (leverage / studentized / Cook's) ------------
# Per-row regression diagnostics from the same exact-power-sum
# discipline as ols_regression: with one regressor, leverage is
# h_i = 1/n + (n*x_i - sx)^2 / (n * (n*sxx - sx^2)), the studentized
# residual divides by s*sqrt(1 - h_i), and Cook's distance
# D_i = r_i^2 * h_i / (2 * (1 - h_i)). Every scalar comes from exact
# DECIMAL sums cast once to double, and the per-row formulas are
# written identically in both engines, so even the top-20 ORDERING by
# D_i is deterministic (ties break on row id).
_OLS_INFLUENCE_ORACLE = """
WITH t AS (
    SELECT l_orderkey * 10 + l_linenumber AS row_id,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
    FROM lineitem
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM t
),
c AS (
    SELECT *,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS b1,
           (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(n AS DOUBLE) AS b0
    FROM s
),
c2 AS (
    SELECT *,
           ((syy - sy * sy / CAST(n AS DOUBLE))
            - b1 * b1 * (sxx - sx * sx / CAST(n AS DOUBLE)))
               / (CAST(n AS DOUBLE) - 2) AS s2
    FROM c
),
rows_d AS (
    SELECT t.row_id, t.x, t.yc, c2.n,
           1.0 / CAST(c2.n AS DOUBLE)
               + (CAST(c2.n AS DOUBLE) * t.x - c2.sx)
                 * (CAST(c2.n AS DOUBLE) * t.x - c2.sx)
                 / (CAST(c2.n AS DOUBLE)
                    * (CAST(c2.n AS DOUBLE) * c2.sxx - c2.sx * c2.sx))
               AS h,
           (t.yc - (c2.b0 + c2.b1 * t.x)) AS e,
           c2.s2 AS s2
    FROM t, c2
),
scored AS (
    SELECT row_id, x, h,
           e / sqrt(s2 * (1.0 - h)) AS rstud
    FROM rows_d
)
SELECT row_id, CAST(x AS BIGINT) AS x,
       round(h, 6) AS leverage,
       round(rstud, 6) AS rstudent,
       round(rstud * rstud * h / (2.0 * (1.0 - h)), 6) AS cooks_d
FROM scored
ORDER BY rstud * rstud * h / (2.0 * (1.0 - h)) DESC, row_id
LIMIT 20
"""


@query("ols_influence_diagnostics", _OLS_INFLUENCE_ORACLE)
def ols_influence_diagnostics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-row OLS influence: leverage, externally-comparable
    studentized residuals and Cook's distance for the price~quantity
    regression, top-20 most influential rows. One scan builds the
    exact sufficient statistics, a broadcast 1-row join carries them
    back, and the diagnostics are pure per-row expressions — the
    influence audit costs a scan plus a top-k, at any table size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("yc"),
    )
    x, yc = F.col("x"), F.col("yc")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(x).cast("double").alias("sx"),
        _dec_sum(yc).cast("double").alias("sy"),
        _dec_sum(x * x).cast("double").alias("sxx"),
        _dec_sum(x * yc).cast("double").alias("sxy"),
        _dec_sum(yc * yc).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    b1 = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    s = s.withColumn("b1", b1).withColumn(
        "b0", (F.col("sy") - F.col("b1") * F.col("sx")) / nd
    )
    s = s.withColumn(
        "s2",
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / nd)
            - F.col("b1")
            * F.col("b1")
            * (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
        )
        / (nd - F.lit(2.0)),
    )
    joined = li.crossJoin(F.broadcast(s))
    h = (
        F.lit(1.0) / nd
        + (nd * x - F.col("sx"))
        * (nd * x - F.col("sx"))
        / (nd * (nd * F.col("sxx") - F.col("sx") * F.col("sx")))
    )
    e = yc - (F.col("b0") + F.col("b1") * x)
    rstud = e / F.sqrt(F.col("s2") * (F.lit(1.0) - h))
    cooks = rstud * rstud * h / (F.lit(2.0) * (F.lit(1.0) - h))
    return (
        joined.select(
            "row_id",
            x.alias("x"),
            F.round(h, 6).alias("leverage"),
            F.round(rstud, 6).alias("rstudent"),
            F.round(cooks, 6).alias("cooks_d"),
            cooks.alias("_order"),
        )
        .orderBy(F.desc("_order"), F.asc("row_id"))
        .limit(20)
        .drop("_order")
    )
