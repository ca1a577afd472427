"""Analytics/profiling queries a training-data pipeline runs before
and during curation: heavy-hitter tokens (boilerplate detection),
numeric histograms, exact correlation, per-group feature normalization.

All exact and oracle-checked — aggregates ride the decimal-stabilization
discipline so even derived statistics (correlation, z-scores) are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import TOKENS_SQL, h60_sql, tokens
from ..operators.windowed import stabilized_sum
from ..registry import query
from ..sources.batch import load_table
from .feeds import scratch_dir
from .streaming import _HLL_ROLLUP_ORACLE  # shared with streaming_hll_rollup

# --- heavy hitters: hot tokens across the corpus ---------------------------

_HEAVY_ORACLE = f"""
WITH tok AS (
    SELECT unnest({TOKENS_SQL.format(x="text")}) AS token FROM documents
)
SELECT token, count(*) AS n
FROM tok
GROUP BY token
HAVING count(*) > 500
ORDER BY n DESC, token
"""


@query("heavy_hitter_tokens", _HEAVY_ORACLE)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide hot tokens (count > threshold) — the
    boilerplate/stopword discovery pass that feeds the shingle/bucket
    caps documented in operators/dedup.py. Map-side combine keeps the
    shuffle ∝ distinct tokens; at 100 TB swap in a count-min sketch for
    a single-pass approximate twin."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 500)
        .orderBy(F.desc("n"), F.asc("token"))
    )


# --- fixed-width numeric histogram ----------------------------------------

_HISTOGRAM_ORACLE = """
SELECT
    CAST(floor(value / 25.0) AS BIGINT) AS bin,
    CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS bin_low,
    count(*) AS n,
    min(value) AS bin_min,
    max(value) AS bin_max
FROM events
GROUP BY bin
"""


@query("value_histogram", _HISTOGRAM_ORACLE)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the amount distribution (bin = 25).
    floor of a double division is identical across engines; bin edges
    are exact multiples of the literal width."""
    ev = load_table(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / F.lit(25.0)).cast("bigint")
    return (
        ev.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("bin_min"),
            F.max("value").alias("bin_max"),
        )
        .select(
            "bin",
            (F.col("bin") * F.lit(25.0)).alias("bin_low"),
            "n",
            "bin_min",
            "bin_max",
        )
    )


# --- exact Pearson correlation ---------------------------------------------

_CORR_ORACLE = """
WITH s AS (
    SELECT
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,8))) AS DOUBLE) AS sxx,
        CAST(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4)))
             AS DECIMAL(25,4)) AS DOUBLE) AS syy,
        CAST(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6)))
             AS DECIMAL(25,6)) AS DOUBLE) AS sxy
    FROM lineitem
)
SELECT
    n,
    (n * sxy - sx * sy)
        / sqrt(GREATEST(0.0, (n * sxx - sx * sx) * (n * syy - sy * sy)))
        AS corr_qty_price
FROM s
"""


@query("correlation_qty_price", _CORR_ORACLE)
def correlation_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation from decimal-stabilized power sums
    (the built-in corr() uses an order-dependent streaming update —
    engine-specific last ulps; the sum formulation is bit-exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        stabilized_sum("l_quantity").alias("sx"),
        stabilized_sum("l_extendedprice").alias("sy"),
        F.sum((q * q).cast("decimal(27,8)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(30,4)"))
        .cast("decimal(25,4)")
        .cast("double")
        .alias("syy"),
        F.sum((q * p).cast("decimal(27,6)"))
        .cast("decimal(25,6)")
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "n",
        (
            (n * sxy - sx * sy)
            / F.sqrt(
                F.greatest(F.lit(0.0), (n * sxx - sx * sx) * (n * syy - sy * sy))
            )
        ).alias("corr_qty_price"),
    )


# --- per-group z-score normalization ----------------------------------------

_ZSCORE_ORACLE = """
WITH stats AS (
    SELECT
        event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS s1,
        CAST(sum(CAST(value * value AS DECIMAL(27,8))) AS DOUBLE) AS s2
    FROM events
    GROUP BY event_type
)
SELECT
    e.event_id,
    e.event_type,
    e.value,
    (e.value - s.s1 / s.n)
        / sqrt(GREATEST(0.0, (s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) AS value_z
FROM events e
JOIN stats s ON e.event_type = s.event_type
"""


@query("zscore_normalize", _ZSCORE_ORACLE)
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization (z-score within event_type) —
    the standard scaling pass before training. Group stats come from
    stabilized power sums broadcast back onto the rows; every operand
    pair is identical across engines, so the per-row z is bit-exact."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        stabilized_sum("value").alias("s1"),
        F.sum((v * v).cast("decimal(27,8)")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    joined = ev.join(F.broadcast(stats), "event_type")
    return joined.select(
        "event_id",
        "event_type",
        "value",
        (
            (v - s1 / n)
            / F.sqrt(F.greatest(F.lit(0.0), (s2 - s1 * s1 / n) / (n - 1)))
        ).alias("value_z"),
    )


# --- TF-IDF -----------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL.format(x="text")}) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT
    tf.doc_id,
    tf.token,
    tf.tf,
    df.df,
    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 8) AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
WHERE df.df < 400
"""


@query("tfidf_tokens", _TFIDF_ORACLE)
def tfidf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token), restricted to non-ubiquitous tokens
    (df < 400 of 500 docs — ubiquitous tokens carry no signal and
    dominate row count). tf/df are exact integers; ln() is libm on both
    engines, rounded to 8 decimals at the boundary."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    # n_docs stays IN-PLAN: a 1-row aggregate cross-joined (Spark plans
    # it as a broadcast nested-loop of one row) — no eager driver-side
    # count() job, no literal baked into the plan.
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # no broadcast hint on df: `df < 400` keeps the RARE tokens, i.e.
    # nearly the whole vocabulary — unbounded in corpus size. AQE
    # broadcasts only if the side is actually small.
    return (
        tf.join(df.filter(F.col("df") < 400), "token")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 8
            ).alias("tfidf"),
        )
    )


# --- funnel conversion ------------------------------------------------------

_FUNNEL_ORACLE = """
WITH fv AS (
    SELECT user_id, min(ts) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
fc AS (
    SELECT e.user_id, min(e.ts) AS first_click
    FROM events e JOIN fv ON e.user_id = fv.user_id
    WHERE e.event_type = 'click' AND e.ts > fv.first_view
    GROUP BY e.user_id
),
fp AS (
    SELECT e.user_id, min(e.ts) AS first_purchase
    FROM events e JOIN fc ON e.user_id = fc.user_id
    WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
    GROUP BY e.user_id
)
SELECT fv.user_id,
       fv.first_view,
       fc.first_click,
       fp.first_purchase,
       CASE WHEN fp.user_id IS NOT NULL THEN 3
            WHEN fc.user_id IS NOT NULL THEN 2
            ELSE 1 END AS funnel_depth
FROM fv
LEFT JOIN fc ON fv.user_id = fc.user_id
LEFT JOIN fp ON fv.user_id = fp.user_id
"""


@query("funnel_conversion", _FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel per user: each step must
    happen strictly AFTER the previous step's first occurrence (not
    mere co-presence of event types). Three keyed aggregations joined
    on user_id — co-partitioned on the same key, so at scale the
    shuffles collapse onto one exchange per side and no step ever
    materializes raw event pairs."""
    events = load_table(spark, sf_dir, "events")
    fv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fc = (
        events.join(fv, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("first_view"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        events.join(fc, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("first_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            F.when(F.col("first_purchase").isNotNull(), F.lit(3))
            .when(F.col("first_click").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("funnel_depth"),
        )
    )


# --- retention cohorts ------------------------------------------------------

_RETENTION_ORACLE = """
WITH first_seen AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_week,
           date_trunc('week', e.ts) AS active_week
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_week, active_week, count(*) AS n_users
FROM activity
GROUP BY cohort_week, active_week
"""


@query("retention_cohorts", _RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in every week they were active — the triangle a product
    analytics pipeline reads retention off. Two keyed aggregations and
    one equi-join on user_id; the distinct collapses to one row per
    (user, week) BEFORE the final count, so the last shuffle carries
    cohort cells, not events."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "active_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --- market-basket co-purchase pairs ----------------------------------------

# Shared co-purchase edge builder: the ONE definition of the graph all
# four graph queries (pairs / triangles / pagerank / k-hop) run on.
# e0 = id-oriented (u < v) edges between parts co-bought in >= 2
# distinct orders; the self-join is keyed on the ORDER so fan-out is
# bounded by order-size^2, never table-size^2.

_EDGE_CTE = """items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS support
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY u, v
    HAVING count(*) >= 2
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, support) co-purchase edges, u < v — Spark twin of
    ``_EDGE_CTE``."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


_COPURCHASE_ORACLE = f"""
WITH {_EDGE_CTE}
SELECT u AS part_a, v AS part_b, support FROM e0
"""


@query("copurchase_pairs", _COPURCHASE_ORACLE)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts bought together in ≥2 distinct
    orders. The self-join is keyed on the ORDER (equi-join on
    l_orderkey with part_a < part_b), so fan-out is bounded by
    order-size² (≤13 lines/order here, ~C(13,2)=78 pairs worst case)
    — never quadratic in table size. The distinct-first projection
    keeps duplicate part lines within one order from inflating
    support. At 100 TB the same plan holds; a pathological mega-order
    would be capped upstream exactly like LSH hot buckets."""
    return _copurchase_edges(spark, sf_dir).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "support",
    )


# --- triangle counting / clustering coefficient -----------------------------

_TRIANGLE_ORACLE = f"""
WITH {_EDGE_CTE},
e AS (SELECT u, v FROM e0),
deg AS (
    SELECT node, count(*) AS d
    FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
    GROUP BY node
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
    SELECT count(*) AS n_nodes,
           CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
    FROM deg
),
edges AS (SELECT count(*) AS n_edges FROM e)
SELECT
    CAST(n_nodes AS BIGINT) AS n_nodes,
    CAST(n_edges AS BIGINT) AS n_edges,
    CAST(n_triangles AS BIGINT) AS n_triangles,
    n_wedges,
    CASE WHEN n_wedges > 0
         THEN (3.0 * n_triangles) / n_wedges ELSE 0.0 END
        AS global_clustering
FROM nodes, edges, tri
"""


@query("triangle_count", _TRIANGLE_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    co-purchase graph. Edges are id-oriented (u < v) so each triangle
    is enumerated exactly once by the two-hop equi-join
    e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w) — wedge generation is bounded by
    per-node out-degree under the orientation, and at 100 TB the
    standard upgrade is DEGREE orientation (low-degree → high-degree,
    provably ≤ O(m^1.5) wedges) — same plan, different sort key.
    Wedge totals come from exact integer degree arithmetic; the only
    double is one final division. The shared edge list is barriered
    (localCheckpoint) so the corpus self-join isn't re-expanded by its
    four consumers."""
    edges = (
        _copurchase_edges(spark, sf_dir)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3.0) * F.col("n_triangles")) / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


# --- trailing-window anomaly detection --------------------------------------

_ANOMALY_ORACLE = """
WITH d AS (
    SELECT o_orderkey, o_custkey, o_totalprice,
           datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS day_no,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
w AS (
    SELECT o_orderkey, o_custkey, CAST(day_no AS BIGINT) AS day_no,
           o_totalprice,
           count(*) OVER tw AS n_window,
           CAST(sum(cents) OVER tw AS BIGINT) AS s,
           CAST(sum(cents * cents) OVER tw AS BIGINT) AS s2
    FROM d
    WINDOW tw AS (PARTITION BY o_custkey ORDER BY day_no
                  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
),
f AS (
    SELECT *,
           CAST(s AS DOUBLE) / 100.0 / n_window AS m,
           CASE WHEN n_window > 1 THEN
               sqrt(greatest((CAST(s2 AS DOUBLE) / 10000.0
                    - (CAST(s AS DOUBLE) / 100.0) * (CAST(s AS DOUBLE) / 100.0)
                      / n_window) / (n_window - 1), 0.0))
           END AS sd
    FROM w
)
SELECT o_orderkey, o_custkey, day_no, n_window,
       m AS trailing_mean,
       CASE WHEN n_window > 1 AND sd > 0
            THEN (o_totalprice - m) / sd END AS zscore,
       CASE WHEN n_window > 1 AND sd > 0
            THEN abs((o_totalprice - m) / sd) > 2.0
            ELSE FALSE END AS is_anomaly
FROM f
"""


@query("anomaly_trailing_zscore", _ANOMALY_ORACLE)
def anomaly_trailing_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags: each order scored against its
    customer's prior 90 days (value-based RANGE frame), z = (x - mean)
    / sample-std from exact decimal power sums — the same
    power-sum-first discipline as the corpus z-score query, here over
    a moving frame. Cancellation is guarded with greatest(var, 0);
    degenerate frames (n=1 or zero variance) yield NULL z and FALSE
    flag on both engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    d = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        day_no.cast("bigint").alias("day_no"),
    )
    tw = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-90, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = d.withColumn("cents", cents).select(
        "o_orderkey",
        "o_custkey",
        "day_no",
        "o_totalprice",
        F.count(F.lit(1)).over(tw).alias("n_window"),
        F.sum("cents").over(tw).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(tw).alias("s2"),
    )
    n = F.col("n_window")
    s = F.col("s").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s / F.lit(100.0) / n
    std = F.sqrt(
        F.greatest(
            (s2 / F.lit(10000.0) - (s / F.lit(100.0)) * (s / F.lit(100.0)) / n)
            / (n - 1),
            F.lit(0.0),
        )
    )
    z = (F.col("o_totalprice") - mean) / std
    valid = (n > 1) & (std > 0)
    return w.select(
        "o_orderkey",
        "o_custkey",
        "day_no",
        "n_window",
        mean.alias("trailing_mean"),
        F.when(valid, z).alias("zscore"),
        F.when(valid, F.abs(z) > 2.0).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )


# --- PageRank over the co-purchase graph ------------------------------------

_PR_SCALE_SQL = "1099511627776.0"  # 2^40, matches operators.graph.PR_SCALE


def _pr_iter_sql(prev: str, out: str) -> str:
    """One PageRank iteration in the scaled-integer domain: exact
    integer spread division, exact sums, each float op a lone
    mult/div immediately floored (FMA-contraction-proof — see
    operators/graph.pagerank)."""
    return f"""
{out}_c AS (
    SELECT e.dst AS node, CAST(sum(p.prs // p.deg) AS BIGINT) AS sc
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst
),
{out} AS (
    SELECT p.node, p.deg, p.n,
           CAST(floor({_PR_SCALE_SQL} * (1.0 - 0.85) / p.n) AS BIGINT)
           + CAST(floor(0.85 * CAST(coalesce(c.sc, 0) AS DOUBLE)) AS BIGINT)
               AS prs
    FROM {prev} p LEFT JOIN {out}_c c ON p.node = c.node
)"""


_PAGERANK_ORACLE = f"""
WITH {_EDGE_CTE},
edges AS (
    SELECT u AS src, v AS dst FROM e0
    UNION ALL
    SELECT v AS src, u AS dst FROM e0
),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (SELECT node, deg, n,
        CAST(floor(1099511627776.0 / n) AS BIGINT) AS prs FROM deg, nn),
{_pr_iter_sql("pr0", "pr1")},
{_pr_iter_sql("pr1", "pr2")}
SELECT node AS part, CAST(prs AS DOUBLE) / 1099511627776.0 AS pr FROM pr2
"""


@query("copurchase_pagerank", _PAGERANK_ORACLE)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 Lloyd-style unrolled iterations, damping 0.85) over
    the symmetrized co-purchase graph — 'hub products' by relational
    importance rather than raw order count. Cross-engine exactness
    comes from floor-scaled integer contributions (the only
    order-sensitive sum is over exact int64) — same fixed-point
    discipline as k-means and the SQ8 scorer; the oracle unrolls the
    identical two iterations in SQL."""
    from ..operators.graph import pagerank

    pairs = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return pagerank(edges, damping=0.85, iters=2).select(
        F.col("node").alias("part"), "pr"
    )


def _ppr_iter_sql(prev: str, out: str) -> str:
    """One PERSONALIZED PageRank iteration: identical scaled-integer
    discipline to :func:`_pr_iter_sql`, but the teleport term lands
    only on seed nodes (restart distribution = uniform over seeds)."""
    return f"""
{out}_c AS (
    SELECT e.dst AS node, CAST(sum(p.prs // p.deg) AS BIGINT) AS sc
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst
),
{out} AS (
    SELECT p.node, p.deg, p.s, p.iseed,
           CASE WHEN p.iseed = 1
                THEN CAST(floor({_PR_SCALE_SQL} * (1.0 - 0.85) / p.s)
                          AS BIGINT)
                ELSE CAST(0 AS BIGINT) END
           + CAST(floor(0.85 * CAST(coalesce(c.sc, 0) AS DOUBLE)) AS BIGINT)
               AS prs
    FROM {prev} p LEFT JOIN {out}_c c ON p.node = c.node
)"""


_PPR_ORACLE = f"""
WITH {_EDGE_CTE},
edges AS (
    SELECT u AS src, v AS dst FROM e0
    UNION ALL
    SELECT v AS src, u AS dst FROM e0
),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
seeds AS (SELECT node FROM deg ORDER BY node LIMIT 5),
ns AS (SELECT count(*) AS s FROM seeds),
pr0 AS (
    SELECT d.node, d.deg, ns.s,
           CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS iseed,
           CASE WHEN sd.node IS NOT NULL
                THEN CAST(floor({_PR_SCALE_SQL} / ns.s) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS prs
    FROM deg d LEFT JOIN seeds sd ON d.node = sd.node, ns
),
{_ppr_iter_sql("pr0", "pr1")},
{_ppr_iter_sql("pr1", "pr2")}
SELECT node AS part, CAST(prs AS DOUBLE) / {_PR_SCALE_SQL} AS ppr FROM pr2
"""


@query("pagerank_personalized", _PPR_ORACLE)
def pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (2 unrolled iterations, damping 0.85)
    over the symmetrized co-purchase graph, restarting to the 5
    smallest part keys — 'products related to THESE products' rather
    than global hubs, the related-items / graph-recommendation
    primitive. Same 2^40 floor-scaled integer mass as
    `copurchase_pagerank` (the only order-sensitive sums are exact
    int64), seeds broadcast onto the rank state; the oracle unrolls
    the identical seed-conditional teleport in SQL."""
    from ..operators.graph import personalized_pagerank

    pairs = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(5)
    )
    return personalized_pagerank(edges, seeds, damping=0.85, iters=2).select(
        F.col("node").alias("part"), "ppr"
    )


# --- HITS hubs & authorities over the customer→part graph -------------------

_HITS_SCALE_SQL = "1073741824.0"  # 2^30, matches operators.graph.HITS_SCALE


def _hits_norm_sql(raw: str, out: str) -> str:
    """Max-normalize one half-step back onto the 2^30 integer grid:
    a single IEEE division, an exact power-of-two multiply, floor —
    the operators/graph.hits discipline."""
    return f"""
{out} AS (
    SELECT node,
           CAST(floor({_HITS_SCALE_SQL}
                * (CAST(raw AS DOUBLE) / (SELECT max(raw) FROM {raw})))
                AS BIGINT) AS s
    FROM {raw}
)"""


_HITS_ORACLE = f"""
WITH e AS (
    SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
hub0 AS (
    SELECT DISTINCT src AS node, CAST({_HITS_SCALE_SQL} AS BIGINT) AS s
    FROM e
),
a1r AS (
    SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
    FROM e JOIN hub0 h ON e.src = h.node GROUP BY e.dst
),
{_hits_norm_sql("a1r", "a1")},
h1r AS (
    SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
    FROM e JOIN a1 a ON e.dst = a.node GROUP BY e.src
),
{_hits_norm_sql("h1r", "h1")},
a2r AS (
    SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
    FROM e JOIN h1 h ON e.src = h.node GROUP BY e.dst
),
{_hits_norm_sql("a2r", "a2")}
SELECT node AS part, CAST(s AS DOUBLE) / {_HITS_SCALE_SQL} AS auth
FROM a2
"""


@query("hits_part_authority", _HITS_ORACLE)
def hits_part_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores (2 unrolled iterations) over the DIRECTED
    bipartite customer→part purchase graph: a part is authoritative
    when bought by customers who are good hubs, and a customer is a
    good hub when they buy authoritative parts — mutual reinforcement
    that raw purchase counts can't express (the directed companion to
    ``copurchase_pagerank``). Max-normalization in the floor-scaled
    2^30 integer domain replaces the textbook L2 norm (an
    order-sensitive float sum) so every half-step is cross-engine
    exact; the oracle unrolls the identical half-steps in SQL.
    Shuffle per half-step ∝ |edges| carrying one int64; the
    normalizing max is a one-row broadcast."""
    from ..operators.graph import hits

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_partkey").alias("dst"),
        )
        .distinct()
    )
    return hits(edges, iters=2).select(
        F.col("node").alias("part"), "auth"
    )


# --- count-min sketch (oracle-checked sketch machinery) ---------------------

_CMS_W = 1024  # buckets per row
_CMS_D = 4  # hash rows
_CMS_THRESH = 500


def _cms_bucket_sql(row: int, token_expr: str = "token") -> str:
    from ..functions.hashing import h60_sql

    salted = "('cms" + str(row) + "|' || " + token_expr + ")"
    return h60_sql(salted) + " % " + str(_CMS_W)


_CMS_SKETCH_ROWS = " UNION ALL ".join(
    "SELECT " + str(r) + " AS row_id, " + _cms_bucket_sql(r)
    + " AS bucket, count(*) AS cnt FROM tok GROUP BY bucket"
    for r in range(_CMS_D)
)

_CMS_PROBES = ", ".join(
    "(SELECT s.cnt FROM sketch s WHERE s.row_id = " + str(r)
    + " AND s.bucket = " + _cms_bucket_sql(r, "h.token") + ")"
    for r in range(_CMS_D)
)

_CMS_ORACLE = f"""
WITH tok AS (
    SELECT unnest({TOKENS_SQL.format(x="text")}) AS token FROM documents
),
sketch AS (
    {_CMS_SKETCH_ROWS}
),
heavy AS (
    SELECT token, count(*) AS true_n
    FROM tok GROUP BY token HAVING count(*) > {_CMS_THRESH}
)
SELECT h.token, h.true_n,
       CAST(least({_CMS_PROBES}) AS BIGINT) AS cms_estimate
FROM heavy h
"""


@query("cms_heavy_hitters", _CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch, fully oracle-checked (unlike HLL/t-digest,
    whose internals are engine-specific, CMS is just salted-hash
    bucketed counting — both engines build the IDENTICAL d=4 x w=1024
    sketch from the h60 hash family). The sketch is a fixed 4096
    counters regardless of corpus size — the single-pass bounded-memory
    swap for exact heavy-hitter counting at 100 TB. Each heavy token's
    estimate = min over its d buckets; the CMS guarantee
    (estimate >= true count) is asserted in a unit test, and the
    estimates themselves hash-match cross-engine."""
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    tok = tok.localCheckpoint(eager=False)

    def bucket(row: int, col):
        return (
            h60(F.concat(F.lit(f"cms{row}|"), col)) % _CMS_W
        )

    sketch = None
    for r in range(_CMS_D):
        part = (
            tok.groupBy(bucket(r, F.col("token")).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(r).alias("row_id"), "bucket", "cnt")
        )
        sketch = part if sketch is None else sketch.unionByName(part)
    sketch = sketch.localCheckpoint(eager=False)

    heavy = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .filter(F.col("true_n") > _CMS_THRESH)
    )
    est = heavy
    for r in range(_CMS_D):
        sr = sketch.filter(F.col("row_id") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        est = est.join(
            F.broadcast(sr),
            bucket(r, F.col("token")) == F.col(f"b{r}"),
        ).drop(f"b{r}")
    return est.select(
        "token",
        "true_n",
        F.least(*[F.col(f"c{r}") for r in range(_CMS_D)]).alias(
            "cms_estimate"
        ),
    )


# --- winsorization (outlier clipping) ---------------------------------------
#
# Bounds are ORDER STATISTICS (type-1 quantiles: the element at rank
# 1 + floor(q*(n-1)), no interpolation), so both engines pick the same
# stored value and clipping is exact — interpolated percentile_cont
# would put a lerp between engines. At 100 TB the bounds come from
# approx_percentile or the equi-depth prefix-sum path instead; this is
# the exactness anchor for that swap (same contract as
# equidepth_histogram).

_WINSOR_ORACLE = """
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
bounds AS (
    SELECT event_type,
           min(CASE WHEN rn = 1 + CAST(floor(0.01 * (n - 1)) AS BIGINT)
                    THEN value END) AS lo,
           min(CASE WHEN rn = 1 + CAST(floor(0.99 * (n - 1)) AS BIGINT)
                    THEN value END) AS hi
    FROM ranked GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, b.lo), b.hi) AS value_clipped,
       (e.value < b.lo OR e.value > b.hi) AS was_clipped
FROM events e
JOIN bounds b ON b.event_type = e.event_type
"""


@query("winsorize_values", _WINSOR_ORACLE)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip values to the exact p01/p99 order
    statistics. One window pass ranks within each group, the tiny
    per-group bounds table broadcasts back onto the fact scan, and the
    clip itself is row-local codegen (least/greatest)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn")
                == 1 + F.floor(0.01 * (F.col("n") - 1)).cast("bigint"),
                F.col("value"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn")
                == 1 + F.floor(0.99 * (F.col("n") - 1)).cast("bigint"),
                F.col("value"),
            )
        ).alias("hi"),
    )
    return events.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "value_clipped"
        ),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "was_clipped"
        ),
    )


# --- k-hop reachability (BFS over the co-purchase graph) --------------------

_KHOP_ORACLE = f"""
WITH {_EDGE_CTE},
e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
d0 AS (
    SELECT DISTINCT u AS node FROM e WHERE u % 100 = 0
),
d1 AS (
    SELECT DISTINCT e.v AS node
    FROM d0 JOIN e ON e.u = d0.node
    WHERE e.v NOT IN (SELECT node FROM d0)
),
d2 AS (
    SELECT DISTINCT e.v AS node
    FROM (SELECT node FROM d0 UNION SELECT node FROM d1) f
    JOIN e ON e.u = f.node
    WHERE e.v NOT IN (SELECT node FROM d0 UNION SELECT node FROM d1)
),
d3 AS (
    SELECT DISTINCT e.v AS node
    FROM (SELECT node FROM d0 UNION SELECT node FROM d1
          UNION SELECT node FROM d2) f
    JOIN e ON e.u = f.node
    WHERE e.v NOT IN (SELECT node FROM d0 UNION SELECT node FROM d1
                      UNION SELECT node FROM d2)
)
SELECT node, CAST(0 AS INTEGER) AS hop FROM d0
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
UNION ALL SELECT node, 3 FROM d3
"""


@query("graph_khop_reach", _KHOP_ORACLE)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: every part within 3 co-purchase hops of the seed
    set (partkey % 100 == 0), labeled with its hop distance. Classic
    frontier/visited iteration — each hop is one edge equi-join +
    anti-join against the visited set, distinct per frontier; work per
    hop is O(frontier x avg-degree), the scalable BFS shape (the
    unbounded fixpoint variant is `dedup_clusters`). Edge list built
    once behind a barrier."""
    e0 = _copurchase_edges(spark, sf_dir).select("u", "v")
    edges = (
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    frontier = (
        edges.filter(F.col("u") % 100 == 0)
        .select(F.col("u").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    visited = frontier
    out = frontier.select("node", F.lit(0).cast("int").alias("hop"))
    for hop in (1, 2, 3):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(frontier).localCheckpoint(eager=False)
        out = out.unionAll(
            frontier.select("node", F.lit(hop).cast("int").alias("hop"))
        )
    return out


# --- frequent 3-itemsets (the Apriori rung above pairs) ---------------------

_TRIPLES_ORACLE = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       c.l_partkey AS part_c, count(*) AS support
FROM items a
JOIN items b
  ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
JOIN items c
  ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
GROUP BY part_a, part_b, part_c
HAVING count(*) >= 2
"""


@query("copurchase_triples", _TRIPLES_ORACLE)
def copurchase_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets: part triples co-bought in ≥ 2 distinct
    orders — the Apriori rung above `copurchase_pairs`. The 3-way
    self-join stays keyed on the ORDER with an id-ordered chain
    (a < b < c enumerates each triple once), so fan-out is bounded by
    order-size³ (C(13,3)=286 worst case/order), never table-size³; at
    100 TB the Apriori prune (join candidate triples against frequent
    PAIRS first — `copurchase_pairs` is exactly that table) bounds it
    further."""
    li = load_table(spark, sf_dir, "lineitem")
    # barrier: three aliases of the same distinct subtree — without it
    # the scan+distinct re-expands once per alias (triangle_count's
    # plan test pins the same discipline)
    items = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b, c = items.alias("a"), items.alias("b"), items.alias("c")
    return (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .join(
            c,
            (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("c.l_partkey") > F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
            F.col("c.l_partkey").alias("part_c"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


# --- label-propagation communities ------------------------------------------

_LPA_ORACLE = f"""
WITH {_EDGE_CTE},
e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l0 AS (SELECT DISTINCT u AS node FROM e),
v1 AS (
    SELECT e.u AS node, e.v AS label, count(*) AS n_votes
    FROM e GROUP BY 1, 2
),
l1 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY n_votes DESC, label) AS rnk
        FROM v1
    ) WHERE rnk = 1
),
v2 AS (
    SELECT e.u AS node, l1.label, count(*) AS n_votes
    FROM e JOIN l1 ON l1.node = e.v
    GROUP BY 1, 2
),
l2 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY n_votes DESC, label) AS rnk
        FROM v2
    ) WHERE rnk = 1
)
SELECT node, label AS community FROM l2 ORDER BY node, community
"""


@query("label_propagation_communities", _LPA_ORACLE)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the co-purchase graph: 2 synchronous
    label-propagation supersteps (most-frequent neighbor label, ties
    to the smaller label) — the fifth member of the graph family on
    the SAME shared edge builder as pairs/pagerank/triangles/k-hop.
    The oracle unrolls the identical supersteps (iteration 1 reduces
    to min-neighbor because every initial label is unique), so the
    driver hash checks the voting argmax itself. Per-superstep cost is
    one edge-keyed shuffle — linear in edges at any scale."""
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir).select("u", "v")
    return (
        label_propagation(edges, iterations=2)
        .select("node", F.col("label").alias("community"))
        .orderBy("node", "community")
    )


# --- mergeable HLL sketch rollup --------------------------------------------

# DataSketches HLL at lgConfigK=12: rsd ≈ 1.04/sqrt(2^12) ≈ 0.01625.
_HLL_RSD = 1.04 / (2 ** 12) ** 0.5


@query("hll_mergeable_rollup", _HLL_ROLLUP_ORACLE)
def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count rollup — the property that makes
    sketches the 100 TB answer: per-(day, type) DataSketches HLL
    sketches built once, then UNIONED up to (week, type) without
    touching raw rows again. The weekly estimate is checked against
    the exact weekly distinct within 4 sigma of the sketch's rsd
    (tolerance oracle, the `windowed_agg_approx` discipline — sketch
    bytes are engine-specific, the error contract is not).

    In production the daily sketch table IS the stored rollup: any
    ad-hoc date range merges in O(sketches), never O(rows). The exact
    twin here exists only to verify the contract."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    weekly_est = (
        daily.groupBy(
            F.date_trunc("week", F.col("day").cast("timestamp")).alias(
                "week_start"
            ),
            "event_type",
        )
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "week_start",
            "event_type",
            F.hll_sketch_estimate("merged").alias("est_users"),
        )
    )
    weekly_exact = events.groupBy(
        F.date_trunc("week", "ts").alias("week_start"), "event_type"
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    tol = F.greatest(
        F.lit(4.0), F.lit(4 * _HLL_RSD) * F.col("exact_users")
    )
    return (
        weekly_exact.join(weekly_est, ["week_start", "event_type"])
        .select(
            "week_start",
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users")) <= tol
            ).alias("sketch_within_tolerance"),
        )
        .orderBy("week_start", "event_type")
    )


# --- CMS join-cardinality estimation ----------------------------------------

_JC_W = 1024
_JC_D = 4

_JC_SKETCH_ROWS = " UNION ALL ".join(
    f"""SELECT {r} AS row_id, {h60_sql(f"('jc{r}|' || CAST(user_id AS VARCHAR))")} % {_JC_W} AS bucket,
       count(*) AS cnt FROM events GROUP BY bucket"""
    for r in range(_JC_D)
)

_JC_ORACLE = f"""
WITH sk AS ({_JC_SKETCH_ROWS}),
per_row AS (
    SELECT row_id, CAST(sum(cnt * cnt) AS BIGINT) AS est FROM sk
    GROUP BY row_id
),
est AS (SELECT CAST(min(est) AS BIGINT) AS est_join FROM per_row),
ex AS (
    SELECT CAST(sum(c * c) AS BIGINT) AS exact_join,
           CAST(sum(c) AS BIGINT) AS n_rows
    FROM (SELECT count(*) AS c FROM events GROUP BY user_id)
)
SELECT
    ex.exact_join,
    est.est_join,
    -- literal TRUEs (the windowed_agg_approx discipline): the Spark
    -- side COMPUTES these, so a broken estimator flips the driver hash
    true AS never_underestimates,
    true AS within_epsilon_bound
FROM est, ex
"""


@query("join_cardinality_estimate", _JC_ORACLE)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO-style join-size estimation from sketches: the self-join
    |events ⋈ events ON user_id| is estimated as the count-min-sketch
    INNER PRODUCT (min over d rows of Σ_w cntᵢ·cntᵢ) — computable
    from two fixed 4×1024 sketches without touching the other side's
    rows, which is how an optimizer prices a join it hasn't run. The
    estimate is an exact integer on both engines (identical salted-h60
    bucketing), so the driver hash checks the estimator itself, plus
    the two CMS guarantees: never under exact Σc², within ε·N²
    (ε = e/w) above it. The exact twin folds from per-key counts —
    no join is ever executed."""
    from ..functions.hashing import h60 as _h60

    events = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    per_row = None
    for r in range(_JC_D):
        sk = (
            events.groupBy(
                (
                    _h60(F.concat(F.lit(f"jc{r}|"), uid)) % _JC_W
                ).alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.lit(r).alias("row_id"),
                F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("est"),
            )
        )
        per_row = sk if per_row is None else per_row.unionByName(sk)
    est = per_row.agg(F.min("est").cast("bigint").alias("est_join"))
    ex = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_join"),
            F.sum("c").cast("bigint").alias("n_rows"),
        )
    )
    import math

    eps = math.e / _JC_W
    return est.crossJoin(F.broadcast(ex)).select(
        "exact_join",
        "est_join",
        (F.col("est_join") >= F.col("exact_join")).alias(
            "never_underestimates"
        ),
        (
            F.col("est_join")
            <= F.col("exact_join")
            + F.ceil(F.lit(eps) * F.col("n_rows") * F.col("n_rows")).cast(
                "bigint"
            )
        ).alias("within_epsilon_bound"),
    )


# --- link prediction: Adamic-Adar over the co-purchase graph ----------------

_AA_ORACLE = f"""
WITH {_EDGE_CTE},
e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY u),
wedges AS (
    SELECT e1.u AS a, e2.v AS b, e1.v AS w
    FROM e e1 JOIN e e2 ON e2.u = e1.v
    WHERE e1.u < e2.v
),
non_edges AS (
    SELECT w.a, w.b, w.w FROM wedges w
    LEFT JOIN e0 ON e0.u = w.a AND e0.v = w.b
    WHERE e0.u IS NULL
),
scored AS (
    SELECT ne.a, ne.b,
           count(*) AS common_neighbors,
           CAST(sum(CAST(floor(1e9 / ln(CAST(deg.d AS DOUBLE))) AS BIGINT))
                AS BIGINT) AS aa_q
    FROM non_edges ne JOIN deg ON deg.node = ne.w
    WHERE deg.d > 1
    GROUP BY ne.a, ne.b
    HAVING count(*) >= 2
)
SELECT a AS node_a, b AS node_b, common_neighbors, aa_q,
       round(CAST(aa_q AS DOUBLE) / 1e9, 6) AS adamic_adar
FROM scored
ORDER BY node_a, node_b
"""


@query("link_prediction_aa", _AA_ORACLE)
def link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: Adamic-Adar scores
    Σ 1/ln(deg(w)) over common neighbors w for node pairs that are
    NOT yet edges (≥2 common neighbors) — the 'parts likely to be
    co-bought next' recommender face, sixth member of the graph
    family on the shared edge builder. Wedge enumeration is the
    triangle join reused with an anti-join against existing edges;
    per-neighbor terms are floor-quantized (1e9/ln d) so the score
    sum is exact int64 cross-engine (libm assumption: both engines'
    ln must agree to the last ulp on the same double — true on this
    platform; a last-ulp divergence landing on a floor boundary
    would flip one quantum, see km_survival_gaps)."""
    edges = _copurchase_edges(spark, sf_dir).select("u", "v").localCheckpoint(
        eager=False
    )
    e = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedges = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .filter(F.col("e1.u") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e2.v").alias("b"),
            F.col("e1.v").alias("w"),
        )
    )
    ex = edges.select(
        F.col("u").alias("a"), F.col("v").alias("b"), F.lit(True).alias("_e")
    )
    non_edges = (
        wedges.join(ex, ["a", "b"], "left")
        .filter(F.col("_e").isNull())
        .drop("_e")
    )
    scored = (
        non_edges.join(deg, non_edges.w == deg.node)
        .filter(F.col("d") > 1)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(
                F.floor(1e9 / F.log(F.col("d").cast("double"))).cast("bigint")
            )
            .cast("bigint")
            .alias("aa_q"),
        )
        .filter(F.col("common_neighbors") >= 2)
    )
    return scored.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        "common_neighbors",
        "aa_q",
        F.round(F.col("aa_q").cast("double") / 1e9, 6).alias("adamic_adar"),
    ).orderBy("node_a", "node_b")


# --- cohort LTV curve -------------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
    SELECT o_custkey,
           min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
    FROM orders GROUP BY o_custkey
),
rev AS (
    SELECT f.cohort,
           date_diff('month', f.cohort,
                     CAST(date_trunc('month', o.o_orderdate) AS DATE))
               AS month_n,
           CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS pc
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
),
grid AS (
    SELECT cohort, month_n,
           CAST(sum(CAST(pc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS rev_c,
           count(*) AS n_orders
    FROM rev WHERE month_n <= 11 GROUP BY cohort, month_n
),
size_c AS (SELECT cohort, count(*) AS n_customers FROM firsts GROUP BY cohort)
SELECT
    CAST(g.cohort AS TIMESTAMP) AS cohort,
    g.month_n,
    g.n_orders,
    s.n_customers,
    round(CAST(CAST(sum(g.rev_c) OVER (PARTITION BY g.cohort
                                       ORDER BY g.month_n
                                       ROWS UNBOUNDED PRECEDING)
               AS DECIMAL(38,0)) AS DOUBLE) / 100.0 / s.n_customers, 6)
        AS cum_ltv_per_customer
FROM grid g JOIN size_c s ON s.cohort = g.cohort
ORDER BY cohort, month_n
"""


@query("cohort_ltv_curve", _LTV_ORACLE)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per customer by acquisition cohort
    (first-order month) over months 0-11 — the curve every
    subscription/commerce dashboard draws next to retention triangles.
    First-order months join back broadcast-small; the monthly grid is
    cohorts × 12, so the cumulative window runs over a tiny relation;
    revenue accumulates as exact decimal cents and divides once per
    row."""
    orders = load_table(spark, sf_dir, "orders")
    firsts = (
        orders.groupBy("o_custkey")
        .agg(F.min(F.trunc("o_orderdate", "month")).alias("cohort"))
        .localCheckpoint(eager=False)  # feeds the join AND cohort sizes
    )
    rev = orders.join(firsts, "o_custkey").select(
        "cohort",
        (
            F.months_between(
                F.trunc("o_orderdate", "month"), F.col("cohort")
            )
        ).cast("bigint").alias("month_n"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("pc"),
    )
    grid = (
        rev.filter(F.col("month_n") <= 11)
        .groupBy("cohort", "month_n")
        .agg(
            F.sum(F.col("pc").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("rev_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    size_c = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(size_c), "cohort")
        .select(
            F.col("cohort").cast("timestamp").alias("cohort"),
            "month_n",
            "n_orders",
            "n_customers",
            F.round(
                F.sum("rev_c").over(w).cast("decimal(38,0)").cast("double")
                / 100.0
                / F.col("n_customers"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort", "month_n")
    )


# --- linear multi-touch attribution -----------------------------------------

_ATTR_ORACLE = """
WITH purchases AS (
    SELECT event_id AS p_id, user_id, ts AS p_ts,
           CAST(round(value * 100, 0) AS BIGINT) AS pc
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT p.p_id, p.pc, e.event_type, e.event_id
    FROM purchases p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.event_type <> 'purchase'
     AND e.ts > p.p_ts - INTERVAL 1 HOUR
     AND e.ts <= p.p_ts
),
sized AS (
    SELECT p_id, pc, event_type, event_id,
           count(*) OVER (PARTITION BY p_id) AS n_touch
    FROM touches
),
credited AS (
    SELECT event_type, p_id,
           (pc * 1000000) // n_touch AS credit_micro
    FROM sized
)
SELECT event_type,
       count(DISTINCT p_id) AS n_purchases,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit_micro) AS BIGINT) AS credit_micro_cents,
       round(CAST(sum(credit_micro) AS DOUBLE) / 1e6 / 100.0, 6)
           AS credited_revenue
FROM credited
GROUP BY event_type
ORDER BY event_type
"""


@query("attribution_linear", _ATTR_ORACLE)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across the same user's non-purchase events in the
    preceding hour, credited to the touch's event type — the
    marketing-mix ledger behind "which interactions drive revenue".
    The touch join is user-keyed equi + time-range residual (per-user
    event counts bound the fan-out, the interval-join posture);
    per-touch credit is EXACT integer division in micro-cents (floored
    identically on both engines), so credited totals are int64-exact
    before the single display division."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("pc"),
    )
    touches = purchases.join(
        events,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") <= F.col("p_ts")),
    ).select("p_id", "pc", "event_type", "event_id")
    sized = touches.withColumn(
        "n_touch", F.count(F.lit(1)).over(Window.partitionBy("p_id"))
    )
    credited = sized.select(
        "event_type",
        "p_id",
        F.expr("(pc * 1000000) div n_touch").alias("credit_micro"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count_distinct("p_id").alias("n_purchases"),
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("credit_micro").cast("bigint").alias("credit_micro_cents"),
            F.round(
                F.sum("credit_micro").cast("double") / 1e6 / 100.0, 6
            ).alias("credited_revenue"),
        )
        .orderBy("event_type")
    )


# --- mergeable quantile rollup ----------------------------------------------

# Fixed-width integer binning makes quantiles EXACT-to-bin and
# mergeable with plain addition: the per-(day, bin) count table is the
# stored sketch, day->week rollup sums counts without touching raw
# rows, and the week's p50/p90/p99 is the smallest bin whose running
# count reaches ceil(q*n). Everything is integer arithmetic, so unlike
# GK/t-digest (whose state is merge-order-dependent) the result is
# bit-identical on any engine and any partitioning — this is the
# histogram-sketch face of the quantile family (`equidepth_histogram`
# is the exactness anchor, `quantiles_order_price_approx` the
# engine-native sketch).
_QROLL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(floor(o_totalprice / 100) AS BIGINT) AS bin,
           count(*) AS c
    FROM orders
    GROUP BY 1, 2
),
weekly AS (
    SELECT CAST(date_trunc('week', day) AS TIMESTAMP) AS week_start,
           bin, sum(c) AS c
    FROM daily GROUP BY 1, 2
),
cum AS (
    SELECT week_start, bin, c,
           sum(c) OVER (PARTITION BY week_start ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY week_start) AS n
    FROM weekly
)
SELECT week_start,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p90_bin,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.99 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p99_bin
FROM cum
GROUP BY week_start
ORDER BY week_start
"""


@query("quantile_mergeable_rollup", _QROLL_ORACLE)
def quantile_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile rollup: per-(day, $100-bin) counts are the
    stored sketch; week-level p50/p90/p99 come from summing bin counts
    (pure addition — merge-order-free, unlike GK/t-digest state) and
    reading the smallest bin whose running count reaches ceil(q*n).
    Exact to bin resolution, bit-identical cross-engine, and the
    production shape for 100 TB percentile dashboards: any ad-hoc
    date range merges in O(bins), never O(rows). Shuffles: one to
    (day, bin), one to (week, bin), one bin-ordered window per week —
    all on sketch-sized relations after the first."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor(F.col("o_totalprice") / 100).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    weekly = daily.groupBy(
        F.date_trunc("week", F.col("day").cast("timestamp")).alias(
            "week_start"
        ),
        "bin",
    ).agg(F.sum("c").alias("c"))
    w_cum = (
        Window.partitionBy("week_start")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("week_start")
    cum = weekly.select(
        "week_start",
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def pick(q: float) -> Column:
        target = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.min(
            F.when(F.col("cum") >= target, F.col("bin"))
        ).cast("bigint")

    return (
        cum.groupBy("week_start")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            pick(0.5).alias("p50_bin"),
            pick(0.9).alias("p90_bin"),
            pick(0.99).alias("p99_bin"),
        )
        .orderBy("week_start")
    )


# --- rolling-window quantiles over the bin sketch ---------------------------

# Trailing 4-week p50/p90: the sliding-window face of
# `quantile_mergeable_rollup`. The weekly (week, bin) sketch rows feed
# a RANGE frame over week index partitioned by bin, so every week's
# sketch participates in four overlapping windows WITHOUT rescanning
# raw rows — the overlapping-window trick mergeable sketches buy. A
# (week x bin) grid materializes zero-count cells first: a bin with
# mass earlier in the window but none this week must still contribute
# to this week's trailing histogram.
_ROLLQ_ORACLE = """
WITH b AS (
    SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS bin,
           count(*) AS c
    FROM orders GROUP BY 1, 2
),
weeks AS (SELECT DISTINCT week_start FROM b),
bins AS (SELECT DISTINCT bin FROM b),
grid AS (
    SELECT w.week_start,
           CAST(floor(epoch(w.week_start) / 604800) AS BIGINT) AS wk_idx,
           bins.bin, coalesce(b.c, 0) AS c
    FROM weeks w CROSS JOIN bins
    LEFT JOIN b ON b.week_start = w.week_start AND b.bin = bins.bin
),
roll AS (
    SELECT week_start, bin,
           sum(c) OVER (PARTITION BY bin ORDER BY wk_idx
                        RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS rc
    FROM grid
),
cum AS (
    SELECT week_start, bin, rc,
           sum(rc) OVER (PARTITION BY week_start ORDER BY bin
                         ROWS UNBOUNDED PRECEDING) AS cum,
           sum(rc) OVER (PARTITION BY week_start) AS n
    FROM roll
)
SELECT week_start,
       CAST(max(n) AS BIGINT) AS n_4w,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p90_bin
FROM cum
GROUP BY week_start
ORDER BY week_start
"""


@query("rolling_quantile_window", _ROLLQ_ORACLE)
def rolling_quantile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-week p50/p90 of order value from the mergeable bin
    sketch: weekly (week, bin) counts -> zero-filled (week x bin) grid
    -> RANGE-frame rolling sum per bin -> per-week cumulative pick.
    Raw rows are touched once; all windows run on the sketch-sized
    grid (weeks x ~bins rows), which is the only way a 100 TB rolling
    percentile dashboard stays cheap."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.date_trunc("week", "o_orderdate").alias("week_start"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    weeks = b.select("week_start").distinct()
    bins = b.select("bin").distinct()
    grid = (
        weeks.crossJoin(F.broadcast(bins))
        .join(b, ["week_start", "bin"], "left")
        .select(
            "week_start",
            F.floor(F.unix_timestamp("week_start") / 604800)
            .cast("bigint")
            .alias("wk_idx"),
            "bin",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_roll = (
        Window.partitionBy("bin").orderBy("wk_idx").rangeBetween(-3, 0)
    )
    roll = grid.select(
        "week_start", "bin", F.sum("c").over(w_roll).alias("rc")
    )
    w_cum = (
        Window.partitionBy("week_start")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("week_start")
    cum = roll.select(
        "week_start",
        "bin",
        F.sum("rc").over(w_cum).alias("cum"),
        F.sum("rc").over(w_all).alias("n"),
    )

    def pick(q: float) -> Column:
        target = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.min(
            F.when(F.col("cum") >= target, F.col("bin"))
        ).cast("bigint")

    return (
        cum.groupBy("week_start")
        .agg(
            F.max("n").cast("bigint").alias("n_4w"),
            pick(0.5).alias("p50_bin"),
            pick(0.9).alias("p90_bin"),
        )
        .orderBy("week_start")
    )


# --- k-core decomposition (bounded peel) ------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4

_KCORE_ORACLE = f"""
WITH {_EDGE_CTE},
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
n1 AS (SELECT u FROM sym GROUP BY u HAVING count(*) >= {_KCORE_K}),
s2 AS (SELECT s.u, s.v FROM sym s JOIN n1 a ON s.u = a.u
                                  JOIN n1 b ON s.v = b.u),
n2 AS (SELECT u FROM s2 GROUP BY u HAVING count(*) >= {_KCORE_K}),
s3 AS (SELECT s.u, s.v FROM sym s JOIN n2 a ON s.u = a.u
                                  JOIN n2 b ON s.v = b.u),
n3 AS (SELECT u FROM s3 GROUP BY u HAVING count(*) >= {_KCORE_K}),
s4 AS (SELECT s.u, s.v FROM sym s JOIN n3 a ON s.u = a.u
                                  JOIN n3 b ON s.v = b.u),
n4 AS (SELECT u, count(*) AS core_deg FROM s4
       GROUP BY u HAVING count(*) >= {_KCORE_K}),
conv AS (
    SELECT (SELECT count(*) FROM n4) = (SELECT count(*) FROM n3) AS converged
)
SELECT n4.u AS part_key, CAST(n4.core_deg AS BIGINT) AS core_deg,
       conv.converged
FROM n4, conv
ORDER BY part_key
"""


@query("kcore_membership", _KCORE_ORACLE)
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph by iterative peeling: each
    round drops nodes whose degree within the surviving set falls
    below k, a fixed 4 rounds (seventh member of the graph family
    on the shared edge builder — the density-subgraph primitive
    behind community seeding and graph-cleaning). The ``converged``
    flag (|V_t| = |V_(t-1)|) is part of the hashed output, so the
    driver gate PROVES the peel reached its fixpoint at this SF
    rather than assuming it; production loops to convergence with the
    `connected_components` max-iter guard, and each round is one
    semi-join-restricted degree count — shuffle ∝ surviving edges,
    never materializing anything super-linear. (k=2 fixpoint is 3
    peels on this graph; the 4th round is the proof round.)"""
    edges = _copurchase_edges(spark, sf_dir).select("u", "v")
    sym = (
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    cur = None  # None = all nodes (round 1 unrestricted)
    deg = None
    for _ in range(_KCORE_ROUNDS):
        prev = cur
        e = sym
        if cur is not None:
            e = (
                e.join(cur.select(F.col("u").alias("_a")),
                       F.col("u") == F.col("_a"), "left_semi")
                .join(cur.select(F.col("u").alias("_b")),
                      F.col("v") == F.col("_b"), "left_semi")
            )
        deg = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .filter(F.col("core_deg") >= _KCORE_K)
            .localCheckpoint(eager=False)
        )
        cur = deg.select("u")
    n_last = deg.agg(F.count(F.lit(1)).alias("n_t"))
    n_prev = prev.agg(F.count(F.lit(1)).alias("n_p"))
    conv = (
        n_last.crossJoin(F.broadcast(n_prev))
        .select((F.col("n_t") == F.col("n_p")).alias("converged"))
    )
    return (
        deg.crossJoin(F.broadcast(conv))
        .select(
            F.col("u").alias("part_key"),
            F.col("core_deg").cast("bigint"),
            "converged",
        )
        .orderBy("part_key")
    )


# --- item-item collaborative filtering (cosine over co-occurrence) ----------

_ITEMSIM_ORACLE = f"""
WITH {_EDGE_CTE},
deg AS (
    SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_partkey
),
sym AS (
    SELECT u AS item, v AS other, support FROM e0
    UNION ALL
    SELECT v AS item, u AS other, support FROM e0
),
scored AS (
    SELECT s.item, s.other, s.support,
           round(CAST(s.support AS DOUBLE)
                 / sqrt(CAST(a.n_orders * b.n_orders AS DOUBLE)), 6)
               AS cosine
    FROM sym s
    JOIN deg a ON s.item = a.item
    JOIN deg b ON s.other = b.item
)
SELECT item, other, CAST(support AS BIGINT) AS support, cosine, rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY item
                                 ORDER BY cosine DESC, other) AS rank
    FROM scored
) WHERE rank <= 3
ORDER BY item, rank
"""


@query("item_item_cosine", _ITEMSIM_ORACLE)
def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over the
    order/item co-occurrence matrix — sim(i,j) = c_ij/√(c_i·c_j) with
    c_ij the co-purchase support (shared edge builder, fan-out
    bounded by order size) and c_i each item's distinct-order count —
    then top-3 neighbors per item, the precomputed neighbor table a
    'customers also bought' service serves. Exact: integer support,
    one IEEE sqrt of an integer product, one division; the rank<=3
    literal runs as WindowGroupLimit so no full per-item sort of the
    neighbor lists. At 100 TB the co-occurrence matrix is the bounded
    object (order-size² per order), the degree table joins by item
    key, and hot boilerplate items get the same upstream cap as every
    pairing family here."""
    li = load_table(spark, sf_dir, "lineitem")
    # deg feeds both sides of the similarity join and e0 both halves
    # of sym — barrier each so the scan+agg subtrees run once (the
    # measured N-references = N-scans hazard)
    deg = (
        li.groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count_distinct("l_orderkey").alias("n_orders"))
        .localCheckpoint(eager=False)
    )
    e0 = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = e0.select(
        F.col("u").alias("item"), F.col("v").alias("other"), "support"
    ).unionAll(
        e0.select(
            F.col("v").alias("item"), F.col("u").alias("other"), "support"
        )
    )
    a = deg.select(F.col("item").alias("a_item"), F.col("n_orders").alias("a_n"))
    b = deg.select(F.col("item").alias("b_item"), F.col("n_orders").alias("b_n"))
    scored = (
        sym.join(a, F.col("item") == F.col("a_item"))
        .join(b, F.col("other") == F.col("b_item"))
        .select(
            "item",
            "other",
            "support",
            F.round(
                F.col("support").cast("double")
                / F.sqrt((F.col("a_n") * F.col("b_n")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("other"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "item", "other", F.col("support").cast("bigint"), "cosine", "rank"
        )
        .orderBy("item", "rank")
    )


# --- bounded weighted shortest paths (Bellman-Ford) -------------------------

_SSSP_ROUNDS = 12  # settles in 10 at sf0.01; +2 proof margin
# integer edge cost: strong co-purchase ties are cheap; support >= 2
# by edge-builder contract so cost in [1, 9]
_SSSP_COST = "GREATEST(11 - support, 1)"


def _sssp_round_cte(i: int) -> str:
    # AS MATERIALIZED is load-bearing: each round references its
    # predecessor twice, so inlined CTEs would expand 2^rounds copies
    # of the whole chain (observed as a fd-exhaustion blowup at 12
    # rounds)
    prev = f"d{i - 1}"
    return f"""d{i} AS MATERIALIZED (
    SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT w.v AS node, d.dist + w.cost AS dist
        FROM {prev} d JOIN wsym w ON w.u = d.node
    ) GROUP BY node
)"""


_SSSP_LAST = f"d{_SSSP_ROUNDS}"
_SSSP_PREV = f"d{_SSSP_ROUNDS - 1}"

_SSSP_ORACLE = (
    f"""WITH {_EDGE_CTE},
wsym AS MATERIALIZED (
    SELECT u, v, CAST({_SSSP_COST} AS BIGINT) AS cost FROM e0
    UNION ALL
    SELECT v AS u, u AS v, CAST({_SSSP_COST} AS BIGINT) AS cost FROM e0
),
src AS (SELECT min(u) AS s FROM wsym),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
"""
    + ",\n".join(_sssp_round_cte(i) for i in range(1, _SSSP_ROUNDS + 1))
    + f""",
conv AS (
    SELECT (SELECT count(*) FROM {_SSSP_LAST})
               = (SELECT count(*) FROM {_SSSP_PREV})
           AND NOT EXISTS (
               SELECT 1 FROM {_SSSP_LAST} l JOIN {_SSSP_PREV} p USING (node)
               WHERE l.dist < p.dist
           ) AS settled
)
SELECT {_SSSP_LAST}.node, {_SSSP_LAST}.dist, conv.settled
FROM {_SSSP_LAST}, conv
ORDER BY {_SSSP_LAST}.node
"""
)


@query("sssp_weighted_bounded", _SSSP_ORACLE)
def sssp_weighted_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford: integer-cost shortest paths from the
    smallest part key over the co-purchase graph (cost = 11 −
    support, strong ties cheap), 12 relaxation rounds (settles in 10
    at sf0.01; the extra rounds are the proof margin) — the weighted
    companion to `graph_khop_reach` and the 8th member of the graph
    family on the shared edge builder. DELTA-FRONTIER relaxation:
    only nodes whose distance IMPROVED last round join the edge
    table, so per-round shuffle tracks the active frontier (which
    shrinks as the wave settles), not the whole reached set — the
    textbook distributed Bellman-Ford refinement, and it cannot
    change the result because a node whose distance did not improve
    proposes exactly the relaxations it already proposed. Distances
    are pure int64 so every min is engine-exact. (At sf0.1's 12-round
    horizon the wave is still expanding, so the refinement is
    cost-neutral there — 5.7 s isolated, same as the dense variant;
    its payoff is the converging tail a production
    run-to-fixpoint spends most rounds in.) The hashed
    ``settled`` flag (empty final frontier) proves the fixpoint at
    this SF — the bounded-iteration honesty contract shared with
    `kcore_membership` (production loops with the
    `connected_components` max-iter guard)."""
    e0 = _copurchase_edges(spark, sf_dir)
    wsym = (
        e0.select("u", "v", F.expr(_SSSP_COST).cast("bigint").alias("cost"))
        .unionAll(
            e0.select(
                F.col("v").alias("u"),
                F.col("u").alias("v"),
                F.expr(_SSSP_COST).cast("bigint").alias("cost"),
            )
        )
        .localCheckpoint(eager=False)
    )
    src = wsym.agg(F.min("u").alias("s"))
    d = src.select(
        F.col("s").alias("node"), F.lit(0).cast("bigint").alias("dist")
    ).localCheckpoint(eager=False)
    frontier = d  # nodes improved last round
    prev = None
    for _ in range(_SSSP_ROUNDS):
        prev = d
        # no pre-aggregation of proposals: the merge's groupBy takes
        # the min anyway, and one shuffle per round beats two
        relaxed = frontier.join(wsym, frontier.node == wsym.u).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col("cost")).alias("dist"),
        )
        merged = (
            d.select("node", "dist", F.lit(0).alias("_new"))
            .unionByName(
                relaxed.select("node", "dist", F.lit(1).alias("_new"))
            )
            .groupBy("node")
            .agg(
                F.min("dist").alias("dist"),
                # a proposal wins only if strictly better than every
                # other row for the node — min_by picks the winner's
                # provenance (ties prefer the settled row: _new=0
                # sorts first via the struct comparison)
                F.min(F.struct("dist", "_new")).alias("_w"),
            )
            .select(
                "node", "dist", F.col("_w._new").alias("_improved")
            )
            .localCheckpoint(eager=False)
        )
        d = merged.select("node", "dist")
        frontier = merged.filter(F.col("_improved") == 1).select(
            "node", "dist"
        )
    improved = (
        d.join(
            prev.select(F.col("node").alias("p_node"), F.col("dist").alias("p_dist")),
            F.col("node") == F.col("p_node"),
        )
        .filter(F.col("dist") < F.col("p_dist"))
        .agg(F.count(F.lit(1)).alias("n_improved"))
    )
    counts = d.agg(F.count(F.lit(1)).alias("n_now")).crossJoin(
        F.broadcast(prev.agg(F.count(F.lit(1)).alias("n_prev")))
    )
    conv = counts.crossJoin(F.broadcast(improved)).select(
        (
            (F.col("n_now") == F.col("n_prev"))
            & (F.col("n_improved") == 0)
        ).alias("settled")
    )
    return (
        d.crossJoin(F.broadcast(conv))
        .select("node", "dist", "settled")
        .orderBy("node")
    )


# --- LSA: top singular direction of the TF-IDF matrix -----------------------

# Matrix-free power iteration, fully quantized: the TF-IDF weight is a
# 1e-6-floored int64, the iterate is re-normalized to a 1e6 integer
# grid by its max-|·| after EVERY multiply (keeps all products inside
# int64 at any corpus size: Σ w·u ≤ n_docs · max_w · 1e6), and the
# deterministic ±1 seed comes from h60 parity — so both engines walk
# the identical integer sequence and the ORDER of the final loadings
# is exact, not a tolerance band.
_LSA_SEED = h60_sql("('lsa|' || token)")
_LSA_TOPK = 20

_LSA_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL.format(x="text")}) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfr AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
w AS (
    SELECT tf.doc_id, tf.token, dfr.df,
           CAST(floor(1e6 * tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfr.df))
                AS BIGINT) AS wq
    FROM tf JOIN dfr ON tf.token = dfr.token CROSS JOIN n
    WHERE dfr.df < 400
),
v0 AS (
    SELECT DISTINCT token,
           CASE WHEN {_LSA_SEED} % 2 = 0 THEN 1 ELSE -1 END AS v
    FROM w
),
u1 AS (
    SELECT doc_id, CAST(sum(wq * v) AS BIGINT) AS u
    FROM w JOIN v0 USING (token) GROUP BY doc_id
),
mu1 AS (SELECT max(abs(u)) AS m FROM u1),
u1n AS (
    SELECT doc_id,
           CAST(floor(1e6 * CAST(u AS DOUBLE) / m) AS BIGINT) AS u
    FROM u1, mu1
),
v1 AS (
    SELECT token, CAST(sum(wq * u) AS BIGINT) AS v
    FROM w JOIN u1n USING (doc_id) GROUP BY token
),
mv1 AS (SELECT max(abs(v)) AS m FROM v1),
v1n AS (
    SELECT token,
           CAST(floor(1e6 * CAST(v AS DOUBLE) / m) AS BIGINT) AS v
    FROM v1, mv1
),
u2 AS (
    SELECT doc_id, CAST(sum(wq * v) AS BIGINT) AS u
    FROM w JOIN v1n USING (token) GROUP BY doc_id
),
mu2 AS (SELECT max(abs(u)) AS m FROM u2),
u2n AS (
    SELECT doc_id,
           CAST(floor(1e6 * CAST(u AS DOUBLE) / m) AS BIGINT) AS u
    FROM u2, mu2
),
v2 AS (
    SELECT token, CAST(sum(wq * u) AS BIGINT) AS v
    FROM w JOIN u2n USING (doc_id) GROUP BY token
),
mv2 AS (SELECT max(abs(v)) AS m FROM v2)
SELECT CAST(r.rank AS BIGINT) AS rank, r.token, d.df,
       round(CAST(r.v AS DOUBLE) / mv2.m, 6) AS loading
FROM (
    SELECT v2.token, v2.v,
           row_number() OVER (ORDER BY abs(v2.v) DESC, v2.token) AS rank
    FROM v2
) r
CROSS JOIN mv2
JOIN (SELECT DISTINCT token, df FROM w) d ON d.token = r.token
WHERE r.rank <= {_LSA_TOPK}
ORDER BY r.rank
"""


@query("lsa_top_terms", _LSA_ORACLE)
def lsa_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latent-semantic-analysis topic axis: the top singular direction
    of the (doc × term) TF-IDF matrix by TWO matrix-free power
    iterations (v ← AᵀA v), emitting the 20 strongest term loadings —
    the classic 'what one theme explains the most corpus variance'
    primitive, here as pure dataflow: each half-multiply is one
    equi-join of the weight relation with the current iterate plus one
    aggregation (the pagerank/HITS shape on the BIPARTITE doc-term
    graph with real-valued weights). Determinism is total, not
    approximate: quantized int64 weights, a max-|·|-normalized 1e6
    integer grid after every multiply (products stay inside int64 at
    ANY corpus size), and an h60-parity ±1 seed — so the final
    ranking hash-checks cross-engine. At 100 TB both join sides
    shuffle on their natural keys and the normalizing max is a 1-row
    broadcast; iterations cost O(nnz) each, and more iterations or
    deflation for further components reuse the same dataflow. numpy
    pin replays the integer iteration exactly AND checks the
    direction approaches numpy's true top singular vector
    (tests/test_properties.py)."""
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = (
        tf.join(dfr, "token")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") < 400)
        .select(
            "doc_id",
            "token",
            "df",
            F.floor(
                F.lit(1e6)
                * F.col("tf")
                * F.log(F.col("n_docs") / F.col("df"))
            )
            .cast("bigint")
            .alias("wq"),
        )
        .localCheckpoint(eager=False)
    )
    v = w.select("token").distinct().select(
        "token",
        F.when(
            h60(F.concat(F.lit("lsa|"), F.col("token"))) % 2 == 0, 1
        )
        .otherwise(-1)
        .cast("bigint")
        .alias("v"),
    )

    def half_step(iterate: DataFrame, key_in: str, key_out: str, col: str):
        """One A (or Aᵀ) multiply + max-normalize to the 1e6 grid.

        Perf (r13): the checkpoint barrier sits on the PRODUCT, not on
        the normalized output — building the max's broadcast used to
        run the join+agg once and the checkpointed normalize ran it
        AGAIN (no cross-job exchange reuse between separate actions).
        With prod materialized, the max is a cheap pass over its rows
        and the normalize is a fused map the next join consumes
        directly. Same expressions, same values, one heavy job per
        half-step instead of two."""
        prod = (
            w.join(iterate, key_in)
            .groupBy(key_out)
            .agg(F.sum(F.col("wq") * F.col(col)).cast("bigint").alias("raw"))
            .localCheckpoint(eager=False)
        )
        m = prod.agg(F.max(F.abs("raw")).alias("m"))
        return prod.crossJoin(F.broadcast(m)).select(
            key_out,
            F.floor(
                F.lit(1e6) * F.col("raw").cast("double") / F.col("m")
            )
            .cast("bigint")
            .alias(col),
        )

    u = half_step(v, "token", "doc_id", "v").withColumnRenamed("v", "u")
    v = half_step(u, "doc_id", "token", "u").withColumnRenamed("u", "v")
    u = half_step(v, "token", "doc_id", "v").withColumnRenamed("v", "u")
    v2 = (
        w.join(u.withColumnRenamed("u", "uu"), "doc_id")
        .groupBy("token")
        .agg(F.sum(F.col("wq") * F.col("uu")).cast("bigint").alias("v"))
        # same prod-side barrier as half_step: m2 AND the final ranked
        # select both consume v2 — materialize the multiply once
        .localCheckpoint(eager=False)
    )
    m2 = v2.agg(F.max(F.abs("v")).alias("m"))
    ranked = (
        v2.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.abs(F.col("v")).desc(), F.asc("token"))
            ),
        )
        .filter(F.col("rank") <= _LSA_TOPK)
    )
    return (
        ranked.crossJoin(F.broadcast(m2))
        .join(w.select("token", "df").distinct(), "token")
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "token",
            "df",
            F.round(
                F.col("v").cast("double") / F.col("m"), 6
            ).alias("loading"),
        )
        .orderBy("rank")
    )


# --- Markov removal-effect attribution ---------------------------------------

_MRA_ITERS = 20
_MRA_SCALE = "1000000000"  # 1e9 fixed-point for conversion probabilities


def _mra_oracle() -> str:
    steps = []
    for k in range(1, _MRA_ITERS + 1):
        p = k - 1
        steps.append(f""",
v{k} AS MATERIALIZED (
    SELECT t.var, t.s AS state, ns.ns,
           CAST(floor(CAST(sum(t.n * CASE WHEN t.t = 'CONV'
                                          THEN {_MRA_SCALE}
                                          ELSE coalesce(pv.vq, 0) END)
                           AS DOUBLE) / ns.ns) AS BIGINT) AS vq
    FROM vt t
    JOIN ns ON ns.var = t.var AND ns.s = t.s
    LEFT JOIN v{p} pv ON pv.var = t.var AND pv.state = t.t
    GROUP BY t.var, t.s, ns.ns
)""")
    return f"""
WITH ev AS MATERIALIZED (
    SELECT user_id, event_type, ts, event_id FROM events
    WHERE user_id IS NOT NULL
),
numbered AS MATERIALIZED (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM ev
),
firstp AS MATERIALIZED (
    SELECT user_id, min(rn) AS prn FROM numbered
    WHERE event_type = 'purchase' GROUP BY user_id
),
j2 AS MATERIALIZED (
    SELECT n.user_id, n.event_type, n.rn,
           lead(n.event_type) OVER (PARTITION BY n.user_id
                                    ORDER BY n.rn) AS nxt
    FROM numbered n LEFT JOIN firstp f ON n.user_id = f.user_id
    WHERE f.prn IS NULL OR n.rn <= f.prn
),
trans0 AS MATERIALIZED (
    SELECT 'START' AS s, event_type AS t FROM j2
    WHERE rn = 1 AND event_type <> 'purchase'
    UNION ALL
    SELECT 'START', 'CONV' FROM j2
    WHERE rn = 1 AND event_type = 'purchase'
    UNION ALL
    SELECT event_type,
           CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
    FROM j2 WHERE event_type <> 'purchase' AND nxt IS NOT NULL
    UNION ALL
    SELECT event_type, 'NULL' FROM j2
    WHERE event_type <> 'purchase' AND nxt IS NULL
),
tc AS MATERIALIZED (
    SELECT s, t, CAST(count(*) AS BIGINT) AS n FROM trans0 GROUP BY s, t
),
ch AS MATERIALIZED (
    SELECT DISTINCT event_type AS c FROM j2 WHERE event_type <> 'purchase'
),
var AS MATERIALIZED (
    SELECT '__none__' AS var UNION ALL SELECT c FROM ch
),
vt AS MATERIALIZED (
    SELECT v.var, tc.s, tc.t, tc.n FROM var v JOIN tc ON tc.s <> v.var
),
ns AS MATERIALIZED (
    SELECT var, s, sum(n) AS ns FROM vt GROUP BY var, s
),
v0 AS MATERIALIZED (
    SELECT var, s AS state, CAST(0 AS BIGINT) AS vq FROM ns
){"".join(steps)},
base AS (
    SELECT vq FROM v{_MRA_ITERS}
    WHERE var = '__none__' AND state = 'START'
),
rem AS (
    SELECT var AS channel, vq FROM v{_MRA_ITERS}
    WHERE var <> '__none__' AND state = 'START'
),
eff AS (
    SELECT channel,
           rem.vq AS rvq, base.vq AS bvq,
           CASE WHEN base.vq > 0
                THEN CAST(floor(1e6 * (1.0 - CAST(rem.vq AS DOUBLE)
                                             / base.vq)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS eq
    FROM rem, base
)
SELECT channel,
       round(CAST(bvq AS DOUBLE) / {_MRA_SCALE}, 6) AS conv_prob_base,
       round(CAST(rvq AS DOUBLE) / {_MRA_SCALE}, 6) AS conv_prob_removed,
       round(CAST(eq AS DOUBLE) / 1e6, 6) AS removal_effect,
       CASE WHEN sum(eq) OVER () <> 0
            THEN round(CAST(eq AS DOUBLE) / sum(eq) OVER (), 6)
            ELSE 0.0 END AS attribution_share
FROM eff
"""


@query("markov_removal_attribution", _mra_oracle())
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al.): user
    journeys (events ordered per user, truncated at first purchase)
    build a first-order chain START → channels → CONV/NULL; each
    channel's value is the drop in absorption probability when its
    node is removed (visits redirected to NULL), normalized into
    attribution shares — the data-driven alternative to the
    position-based `attribution_linear` and the cooperative-game
    `shapley_channel_attribution`. Absorption probabilities come
    from 20 unrolled value-iteration steps in 1e9 fixed point: each
    per-state update is floor(Σ n_st·vq_t / n_s) where the products
    and sums stay below 2^53, so every step is bit-identical
    cross-engine. Journey construction is one window pass over
    events; the chain and ALL removal variants together are a
    (channels+1) × states table — a few dozen rows regardless of
    corpus size, iterated with tiny barriered joins."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = ev.select(
        "user_id", "event_type", F.row_number().over(wu).alias("rn")
    )
    firstp = (
        numbered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = numbered.join(firstp, "user_id", "left").filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    wn = Window.partitionBy("user_id").orderBy("rn")
    j2 = j.select(
        "user_id",
        "event_type",
        "rn",
        F.lead("event_type").over(wn).alias("nxt"),
    ).localCheckpoint(eager=False)
    np_ = F.col("event_type") != "purchase"
    trans = (
        j2.filter((F.col("rn") == 1) & np_)
        .select(F.lit("START").alias("s"), F.col("event_type").alias("t"))
        .unionByName(
            j2.filter((F.col("rn") == 1) & ~np_).select(
                F.lit("START").alias("s"), F.lit("CONV").alias("t")
            )
        )
        .unionByName(
            j2.filter(np_ & F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("s"),
                F.when(F.col("nxt") == "purchase", F.lit("CONV"))
                .otherwise(F.col("nxt"))
                .alias("t"),
            )
        )
        .unionByName(
            j2.filter(np_ & F.col("nxt").isNull()).select(
                F.col("event_type").alias("s"), F.lit("NULL").alias("t")
            )
        )
    )
    tc = trans.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # The chain is DOMAIN-bounded, not data-bounded: its states are
    # START/CONV/NULL plus the channel VOCABULARY (a handful of event
    # types at any corpus size), so the transition-count table is a
    # bounded aggregate — collecting it is collecting a result, like
    # any 1-row agg. The r11 shape iterated the (channels+1)x(states)
    # fixpoint with 20 rounds of distributed join+groupBy barriers
    # (~60 tiny shuffles over a few dozen rows — pure per-stage
    # scheduling cost); the value iteration now runs on the driver
    # over the collected counts with BIT-IDENTICAL arithmetic
    # (floor(double-division) on int64 terms < 2^53, exactly what the
    # Catalyst expressions computed). The data-sized work — the
    # journey window pass and the transition aggregation — stays
    # distributed, and the final rounding/share arithmetic runs in
    # Spark on the (channels)-row result so engine rounding semantics
    # are unchanged.
    import math as _math

    rows = [(r["s"], r["t"], r["n"]) for r in tc.collect()]
    channels = sorted({s for s, _, _ in rows if s != "START"})
    variants = (channels + ["__none__"]) if channels else []
    scale = int(_MRA_SCALE)
    bvq = 0
    rvq_by_channel: dict[str, int] = {}
    for var in variants:
        vt_rows = [(s, t, n) for s, t, n in rows if s != var]
        ns: dict[str, int] = {}
        for s, _, n in vt_rows:
            ns[s] = ns.get(s, 0) + n
        v = {s: 0 for s in ns}
        for _ in range(_MRA_ITERS):
            num: dict[str, int] = {s: 0 for s in ns}
            for s, t, n in vt_rows:
                num[s] += n * (scale if t == "CONV" else v.get(t, 0))
            # floor(double division) with the ENGINES' semantics: both
            # Spark and DuckDB CAST the int64 numerator to double
            # FIRST, then divide — so the numerator must round to
            # double before dividing (int/int in Python divides the
            # exact rationals instead, which diverges once
            # num >= 2^53, i.e. ~9M transitions out of one state)
            v = {
                s: _math.floor(float(num[s]) / float(ns[s])) for s in ns
            }
        if var == "__none__":
            bvq = v.get("START", 0)
        else:
            rvq_by_channel[var] = v.get("START", 0)
    base = spark.createDataFrame(
        [(bvq,)], "bvq bigint"
    )
    rem = spark.createDataFrame(
        [(c, rvq_by_channel[c]) for c in channels],
        "channel string, rvq bigint",
    )
    # degenerate-corpus guards (cross-engine contract: Spark yields
    # Inf/NaN on x/0 where DuckDB may error or disagree — pin both
    # sides to 0): bvq = 0 means no journey converts, so every
    # removal effect is 0; sum(eq) = 0 means no channel has any
    # effect, so every share is 0.
    eff = rem.crossJoin(F.broadcast(base)).select(
        "channel",
        "rvq",
        "bvq",
        F.when(
            F.col("bvq") > 0,
            F.floor(
                F.lit(1e6)
                * (
                    F.lit(1.0)
                    - F.col("rvq").cast("double") / F.col("bvq")
                )
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("eq"),
    )
    wall = Window.partitionBy()
    return eff.select(
        "channel",
        F.round(F.col("bvq").cast("double") / F.lit(float(scale)), 6).alias(
            "conv_prob_base"
        ),
        F.round(F.col("rvq").cast("double") / F.lit(float(scale)), 6).alias(
            "conv_prob_removed"
        ),
        F.round(F.col("eq").cast("double") / F.lit(1e6), 6).alias(
            "removal_effect"
        ),
        F.when(
            F.sum("eq").over(wall) != 0,
            F.round(
                F.col("eq").cast("double") / F.sum("eq").over(wall), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("attribution_share"),
    )


# --- AMS second-frequency-moment sketch --------------------------------------
#
# F2 = Σ_u f_u² of the user_id frequency vector — the self-join-size /
# repeat-rate statistic an optimizer wants before planning a fact-fact
# equi-join. The AMS (Alon-Matias-Szegedy) sketch estimates it from R
# sign-hash counters: X_j = Σ_i sign_j(x_i) with sign_j ∈ {±1}
# 4-universal-ish per hash; E[X_j²] = F2. Median of G group means of
# X_j² gives the standard accuracy boost. Every counter is an exact
# int64 (fully mergeable: X_j sums are distributive across partitions
# and across streams), so the whole sketch is bit-reproducible
# cross-engine — the estimate itself is oracle-hashed, not just the
# exact twin.

_AMS_R = 60  # sign hashes = the 60 bits of ONE h60 per row
_AMS_G = 5  # median-of-means groups (12 hashes each)


def _ams_oracle() -> str:
    # All 60 signs come from the BITS of a single md5-derived h60 per
    # row (one hash + 60 shift/mask ops, not 60 hashes): md5 output
    # bits are independent well past the 4-wise independence AMS
    # needs, and the hash is the dominant per-row cost at scale.
    h = h60_sql("'u:' || CAST(user_id AS VARCHAR)")
    xs = ",\n           ".join(
        f"CAST(sum(1 - 2 * ((h >> {j}) & 1)) AS BIGINT) AS x{j}"
        for j in range(_AMS_R)
    )
    per_g = _AMS_R // _AMS_G
    means = ", ".join(
        "(("
        + " + ".join(
            f"x{j} * x{j}" for j in range(g * per_g, (g + 1) * per_g)
        )
        + f") / {per_g}.0)"
        for g in range(_AMS_G)
    )
    return f"""
WITH e AS (
    SELECT user_id, {h} AS h
    FROM events WHERE user_id IS NOT NULL
),
x AS (
    SELECT {xs}
    FROM e
),
exact AS (
    SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact
    FROM (SELECT count(*) AS n FROM e GROUP BY user_id)
)
SELECT exact.f2_exact,
       list_sort([{means}])[{_AMS_G // 2 + 1}] AS f2_estimate,
       round(abs(list_sort([{means}])[{_AMS_G // 2 + 1}] - exact.f2_exact)
             / exact.f2_exact, 6) AS rel_error
FROM x, exact
"""


@query("ams_f2_sketch", _ams_oracle())
def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F2 (second frequency moment) sketch over ``events.user_id``
    — 60 sign-hash counters, median of 5 means of X², checked against
    the exact Σ f². ONE scan computes ONE cross-engine h60 per row and
    folds its 60 BITS into 60 sign sums (no per-hash md5 passes, no
    explode — the aggregation is 60 int64 cells of map-side-combinable
    state, and the hash is the only per-row cost). The estimate column
    itself hash-matches the oracle, not just the exact twin.

    100 TB posture: the sketch state is 60 integers regardless of
    scale, distributive over any partitioning (each executor sums its
    split, merge is vector addition) — the same contract the KMV/HLL/
    CMS family rides; the exact twin's groupBy shuffles the key space
    once and exists only as the oracle's accuracy anchor."""
    from ..functions.hashing import h60

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    hashed = ev.select(
        "user_id",
        h60(
            F.concat(F.lit("u:"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    signs = [
        F.sum(
            F.lit(1)
            - F.lit(2) * F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
        )
        .cast("bigint")
        .alias(f"x{j}")
        for j in range(_AMS_R)
    ]
    x = hashed.agg(*signs)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("f2_exact"))
    )
    per_g = _AMS_R // _AMS_G
    means = [
        (
            sum(
                (F.col(f"x{j}") * F.col(f"x{j}"))
                for j in range(g * per_g, (g + 1) * per_g)
            )
            / F.lit(float(per_g))
        )
        for g in range(_AMS_G)
    ]
    est = F.array_sort(F.array(*means)).getItem(_AMS_G // 2)
    return x.crossJoin(F.broadcast(exact)).select(
        "f2_exact",
        est.alias("f2_estimate"),
        F.round(
            F.abs(est - F.col("f2_exact")) / F.col("f2_exact"), 6
        ).alias("rel_error"),
    )


# --- out-of-order arrival profile --------------------------------------------
#
# The watermark-sizing question every streaming deployment asks first:
# HOW out-of-order is this source? Lateness of each event vs the
# running maximum EVENT time in ARRIVAL order, per type — the
# histogram that picks `withWatermark`'s delay. The stored events
# table is perfectly event-time-ordered (zero lateness — vacuous), so
# arrival order is simulated with the standard bounded transport
# jitter: arrival_us = event_us + (h60(event_id) % 3600s) − 1800s, i.e.
# each event arrives up to 30 minutes early or late, deterministically
# on both engines. Micros ride unix_micros/epoch_us (exact int64);
# lateness sums cast to DECIMAL(38,0) per row (micros × corpus
# outgrows int64).

_OOO_JITTER_SQL = (
    "(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT"
    " % 3600000000) - 1800000000"
)

_OOO_ORACLE = f"""
WITH o AS (
    SELECT event_type, epoch_us(ts) AS us,
           max(epoch_us(ts)) OVER (
               PARTITION BY event_type
               ORDER BY epoch_us(ts) + ({_OOO_JITTER_SQL}), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(coalesce(sum(CASE WHEN us < prev_max THEN 1 END), 0) AS BIGINT)
           AS n_late,
       round(CAST(coalesce(max(CASE WHEN us < prev_max
                                    THEN prev_max - us END), 0) AS DOUBLE)
             / 1e6, 6) AS max_late_secs,
       round(CAST(coalesce(sum(CASE WHEN us < prev_max
                                    THEN prev_max - us END), 0) AS DOUBLE)
             / greatest(coalesce(sum(CASE WHEN us < prev_max THEN 1 END),
                                 0), 1)
             / 1e6, 6) AS avg_late_secs
FROM o
GROUP BY event_type
ORDER BY event_type
"""


@query("out_of_order_profile", _OOO_ORACLE)
def out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type out-of-orderness of the events source under a
    deterministic ±30 min transport jitter (see module note): late-event
    count, max and mean lateness vs the running event-time maximum in
    arrival order — the measurement that sizes a watermark delay
    before anyone picks one. One keyed window pass + one aggregation.

    100 TB posture: the running max is a per-key window (5 keys here —
    at production key skew this becomes the two-level time-bucketed
    running max the llmprep prefix-sum uses: per-bucket max, one
    bucket-boundary broadcast, row-local combine); lateness sums ride
    per-row DECIMAL(38,0) casts since micros × corpus passes int64."""
    from pyspark.sql import Window

    from ..functions.hashing import h60

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        # ts arrives TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The
        # session-tz offset the cast introduces cancels in every
        # output (all are differences), so this is tz-safe.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    jitter = (
        h60(F.col("event_id").cast("string")) % 3600000000 - 1800000000
    )
    ev = ev.withColumn("arr_us", F.col("us") + jitter)
    w = (
        Window.partitionBy("event_type")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = ev.select(
        "event_type", "us", F.max("us").over(w).alias("prev_max")
    )
    late = F.col("us") < F.col("prev_max")
    late_by = F.col("prev_max") - F.col("us")
    return (
        o.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(F.sum(F.when(late, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_late"),
            F.round(
                F.coalesce(F.max(F.when(late, late_by)), F.lit(0)).cast(
                    "double"
                )
                / 1e6,
                6,
            ).alias("max_late_secs"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(late, late_by).cast("decimal(38,0)")
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                ).cast("double")
                / F.greatest(
                    F.coalesce(F.sum(F.when(late, 1)), F.lit(0)),
                    F.lit(1),
                )
                / 1e6,
                6,
            ).alias("avg_late_secs"),
        )
        .orderBy("event_type")
    )


# --- shuffle skew audit -------------------------------------------------------
#
# Pre-flight diagnostics for a planned shuffle: given the intended
# key (events.user_id) and width (32), how unevenly do rows land
# across hash partitions, and how dominant is the hottest key? The
# answer decides between a plain groupBy, AQE skew handling, and
# explicit salting BEFORE the job runs at 100 TB. Partitioning uses
# the cross-engine h60 (Spark's own pmod(hash(),n) is
# engine-private), which audits the same statistical question.

_SKEW_P = 32

_SKEW_ORACLE = f"""
WITH keyed AS (
    SELECT user_id,
           {h60_sql("CAST(user_id AS VARCHAR)")} % {_SKEW_P} AS part
    FROM events WHERE user_id IS NOT NULL
),
per_key AS (
    SELECT user_id, count(*) AS kn FROM keyed GROUP BY user_id
),
per_part AS (
    SELECT part, count(*) AS pn FROM keyed GROUP BY part
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
SELECT
    tot.n AS n_rows,
    CAST((SELECT count(*) FROM per_part) AS BIGINT) AS parts_hit,
    CAST((SELECT max(pn) FROM per_part) AS BIGINT) AS max_part_rows,
    round(CAST((SELECT max(pn) FROM per_part) AS DOUBLE)
          / (CAST(tot.n AS DOUBLE) / {_SKEW_P}), 6) AS part_imbalance,
    CAST((SELECT max(kn) FROM per_key) AS BIGINT) AS max_key_rows,
    round(CAST((SELECT max(kn) FROM per_key) AS DOUBLE) / tot.n, 6)
        AS top_key_share
FROM tot
"""


@query("shuffle_skew_audit", _SKEW_ORACLE)
def shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew audit for a planned shuffle on ``events.user_id`` at width
    32: partition-level imbalance (max partition vs even share) and
    key-level dominance (hottest key's row share). imbalance ≈ 1 →
    plain shuffle; a few hot PARTITIONS with cold keys → widen or
    re-hash; a hot KEY → salt or AQE skew-join, since no width fixes
    a single key. Two keyed aggregations over one scan, folded to a
    single row — audit cost is one pass regardless of scale."""
    from ..functions.hashing import h60

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            (
                h60(F.col("user_id").cast("string")) % _SKEW_P
            ).alias("part"),
        )
    )
    ev = ev.localCheckpoint(eager=False)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("kn"))
    per_part = ev.groupBy("part").agg(F.count(F.lit(1)).alias("pn"))
    kk = per_key.agg(
        F.sum("kn").cast("bigint").alias("n_rows"),
        F.max("kn").cast("bigint").alias("max_key_rows"),
    )
    pp = per_part.agg(
        F.count(F.lit(1)).cast("bigint").alias("parts_hit"),
        F.max("pn").cast("bigint").alias("max_part_rows"),
    )
    return kk.crossJoin(F.broadcast(pp)).select(
        "n_rows",
        "parts_hit",
        "max_part_rows",
        F.round(
            F.col("max_part_rows").cast("double")
            / (F.col("n_rows").cast("double") / F.lit(float(_SKEW_P))),
            6,
        ).alias("part_imbalance"),
        "max_key_rows",
        F.round(
            F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
        ).alias("top_key_share"),
    )


# --- event path mining --------------------------------------------------------

_PATH_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events WHERE user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
    SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM paths
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
"""


@query("event_path_mining", _PATH_ORACLE)
def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common 3-step event paths across user journeys —
    the product-analytics "path analysis" view (which flows dominate,
    where do errors sit in them). One user-keyed window pass emits
    consecutive triples row-locally (two leads — no self-joins), one
    path-keyed count, TakeOrdered top-10. All shuffles are keyed;
    paths are bounded by |event_types|³ so the count table is tiny at
    any corpus size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


# --- funnel time-to-convert ---------------------------------------------------

_TTC_ORACLE = """
WITH stage AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
),
conv AS (
    SELECT CAST(floor(epoch_us(t_purchase) / 1000000) AS BIGINT)
           - CAST(floor(epoch_us(t_view) / 1000000) AS BIGINT) AS secs
    FROM stage WHERE t_view IS NOT NULL AND t_purchase > t_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converting,
       CAST(min(secs) AS BIGINT) AS min_secs,
       quantile_cont(secs, 0.5) AS p50_secs,
       quantile_cont(secs, 0.9) AS p90_secs,
       CAST(max(secs) AS BIGINT) AS max_secs
FROM conv
"""


@query("funnel_time_to_convert", _TTC_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from first view to first purchase across converting users
    (count / min / exact p50 / p90 / max, whole seconds) — the number
    a growth team reads next to the funnel counts. One user-keyed
    aggregation + one exact percentile pass over integer seconds
    (both engines interpolate on the exactly-representable 0.25/0.1
    grid of integer operands — the mad_outliers discipline). At scale
    the percentile swaps for the mergeable quantile sketch twin
    (`quantile_mergeable_rollup`)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    conv = stage.filter(
        F.col("t_view").isNotNull()
        & (F.col("t_purchase") > F.col("t_view"))
    ).select(
        (
            F.floor(
                F.unix_micros(F.col("t_purchase").cast("timestamp"))
                / 1000000
            )
            - F.floor(
                F.unix_micros(F.col("t_view").cast("timestamp"))
                / 1000000
            )
        )
        .cast("bigint")
        .alias("secs")
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converting"),
        F.min("secs").cast("bigint").alias("min_secs"),
        F.expr("percentile(secs, 0.5)").alias("p50_secs"),
        F.expr("percentile(secs, 0.9)").alias("p90_secs"),
        F.max("secs").cast("bigint").alias("max_secs"),
    )


# --- rolling distinct users ---------------------------------------------------
#
# count(DISTINCT) over a sliding frame is unsupported in both engines'
# window functions; the scalable rewrite is the coverage explode:
# distinct (user, day) pairs each cover days d..d+6, so the 7-day
# rolling distinct is a plain per-day distinct count after a bounded
# explode — work ∝ active pairs × window width, never day × corpus.

_RDU_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE user_id IS NOT NULL
),
days AS (SELECT DISTINCT day FROM ud),
cover AS (
    SELECT DISTINCT ud.user_id, d.day
    FROM ud JOIN days d
      ON d.day >= ud.day AND d.day <= ud.day + INTERVAL 6 DAY
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS users_7d
FROM cover
GROUP BY day
ORDER BY day
"""


@query("rolling_distinct_users", _RDU_ORACLE)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active users per day — the DAU/WAU
    rollup. Implemented with the coverage explode (each distinct
    (user, day) pair emits its 7 covered days row-locally, then one
    distinct + one per-day count): no per-day corpus rescans, no
    window-distinct workaround joins; cost ∝ active pairs × 7. Days
    with activity only in their trailing window still appear
    (coverage, not calendar, defines the axis — a calendar spine is
    `time_spine_gap_fill`'s job)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    cover = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), 6)
                )
            ).alias("day_c"),
        )
        .join(
            F.broadcast(days),
            F.col("day_c") == days.day,
            "left_semi",
        )
        .select("user_id", F.col("day_c").alias("day"))
        .distinct()
    )
    return (
        cover.groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_7d"))
        # date -> timestamp: the driver hashes dtype KINDS, and a raw
        # DATE arrives as object from Spark vs datetime64 from DuckDB
        .select(F.col("day").cast("timestamp").alias("day"), "users_7d")
        .orderBy("day")
    )


# --- spatial radius join (grid-cell blocking) ----------------------------------
#
# A new family: spatial similarity join. Coordinates are synthesized
# deterministically per customer inside a 10°x10° region (h60 micros
# — exact integers /1e6, so both engines hold identical doubles), and
# the "all pairs within radius R" join uses the canonical scale
# pattern: bucket points into R-sized grid cells, equi-join each
# point's 3x3 neighbor cells (pigeonhole-complete for euclidean
# R <= cell), verify the exact distance on candidates only — the
# spatial sibling of the LSH band join, and what geohash/S2/H3
# bucketing does in production. Planar degrees, not haversine: trig
# is libm-dependent and cross-engine parity would die in the last
# ulp; the blocking/verify SHAPE is identical.

_GEO_CELL = 0.5  # degrees; also the verify radius


def _geo_pts_sql() -> str:
    lat = h60_sql("'lat:' || CAST(c_custkey AS VARCHAR)")
    lon = h60_sql("'lon:' || CAST(c_custkey AS VARCHAR)")
    return f"""
    SELECT c_custkey AS ck,
           CAST({lat} % 10000000 AS DOUBLE) / 1e6 AS lat,
           CAST({lon} % 10000000 AS DOUBLE) / 1e6 AS lon
    FROM customer
"""


_GEO_ORACLE = f"""
WITH pts AS ({_geo_pts_sql()}),
cells AS (
    SELECT *, CAST(floor(lat / {_GEO_CELL}) AS BIGINT) AS cx,
              CAST(floor(lon / {_GEO_CELL}) AS BIGINT) AS cy
    FROM pts
),
probe AS (
    SELECT ck, lat, lon, cx + dx.d AS px, cy + dy.d AS py
    FROM cells,
         (SELECT unnest([-1, 0, 1]) AS d) dx,
         (SELECT unnest([-1, 0, 1]) AS d) dy
),
cand AS (
    SELECT a.ck AS ck_a, b.ck AS ck_b,
           (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon) AS d2
    FROM probe a JOIN cells b
      ON a.px = b.cx AND a.py = b.cy AND a.ck < b.ck
)
SELECT DISTINCT ck_a, ck_b, round(d2, 6) AS dist2
FROM cand
WHERE d2 <= {_GEO_CELL} * {_GEO_CELL}
ORDER BY ck_a, ck_b
"""


@query("spatial_radius_join", _GEO_ORACLE)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 0.5° (planar) of each other: grid-cell
    blocking (one 9-way neighbor-cell explode on the probe side, one
    equi-join on the cell key) + exact distance verify on candidates.
    Candidate cost is density-bounded (points per cell), never N² —
    the spatial twin of the LSH band join; swap the synthetic
    coordinates for real ones and the cell key for geohash/H3 and the
    plan is unchanged."""
    from ..functions.hashing import h60

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def coord(salt: str):
        return (
            h60(
                F.concat(
                    F.lit(f"{salt}:"), F.col("c_custkey").cast("string")
                )
            )
            % 10000000
        ).cast("double") / F.lit(1e6)

    pts = cust.select(
        F.col("c_custkey").alias("ck"),
        coord("lat").alias("lat"),
        coord("lon").alias("lon"),
    )
    cells = pts.select(
        "*",
        F.floor(F.col("lat") / _GEO_CELL).cast("bigint").alias("cx"),
        F.floor(F.col("lon") / _GEO_CELL).cast("bigint").alias("cy"),
    ).localCheckpoint(eager=False)
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probe = (
        cells.withColumn("dx", d)
        .withColumn("dy", d)
        .select(
            F.col("ck").alias("ck_a"),
            F.col("lat").alias("lat_a"),
            F.col("lon").alias("lon_a"),
            (F.col("cx") + F.col("dx")).alias("px"),
            (F.col("cy") + F.col("dy")).alias("py"),
        )
    )
    d2 = (F.col("lat_a") - F.col("lat")) * (
        F.col("lat_a") - F.col("lat")
    ) + (F.col("lon_a") - F.col("lon")) * (F.col("lon_a") - F.col("lon"))
    return (
        probe.join(
            cells,
            (F.col("px") == F.col("cx"))
            & (F.col("py") == F.col("cy"))
            & (F.col("ck_a") < F.col("ck")),
        )
        .select(
            "ck_a",
            F.col("ck").alias("ck_b"),
            F.round(d2, 6).alias("dist2"),
            d2.alias("_d2"),
        )
        .filter(F.col("_d2") <= _GEO_CELL * _GEO_CELL)
        .select("ck_a", "ck_b", "dist2")
        .distinct()
        .orderBy("ck_a", "ck_b")
    )


# --- sweep-line peak concurrency ------------------------------------------------

_PEAK_ORACLE = """
WITH iv AS (
    SELECT CAST(o_orderdate AS DATE) AS s,
           CAST(o_orderdate AS DATE)
           + to_days(CAST((o_orderkey % 30) + 1 AS INTEGER)) AS e
    FROM orders
),
deltas AS (
    SELECT s AS day, 1 AS d FROM iv
    UNION ALL
    SELECT e + to_days(1) AS day, -1 AS d FROM iv
),
net AS (SELECT day, CAST(sum(d) AS BIGINT) AS nd FROM deltas GROUP BY day),
run AS (
    SELECT day, sum(nd) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS conc
    FROM net
)
SELECT CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_intervals,
       CAST(max(conc) AS BIGINT) AS peak_concurrency,
       CAST(min(CASE WHEN conc = (SELECT max(conc) FROM run)
                     THEN day END) AS TIMESTAMP) AS first_peak_day
FROM run
"""


@query("max_concurrent_intervals", _PEAK_ORACLE)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open intervals (orders with a
    deterministic 1-30 day fulfillment window) and the first day it
    occurs — the classic sweep line: ±1 boundary deltas, net per day,
    running sum, max. The running sum's window runs over the
    AGGREGATED day table (calendar-bounded — thousands of rows at any
    corpus size), so the only corpus-sized work is one scan + one
    day-keyed aggregation; an unbounded key domain would swap in the
    llmprep two-level prefix sum."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderdate").cast("date").alias("s"),
        F.expr(
            "date_add(CAST(o_orderdate AS DATE),"
            " CAST((o_orderkey % 30) + 1 AS INT))"
        ).alias("e"),
    ).localCheckpoint(eager=False)
    deltas = iv.select(
        F.col("s").alias("day"), F.lit(1).alias("d")
    ).unionByName(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("d"))
    )
    net = deltas.groupBy("day").agg(F.sum("d").cast("bigint").alias("nd"))
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = net.select(
        "day", F.sum("nd").over(w).alias("conc")
    ).localCheckpoint(eager=False)
    mx = run.agg(F.max("conc").alias("peak"))
    n = iv.agg(F.count(F.lit(1)).cast("bigint").alias("n_intervals"))
    first = (
        run.crossJoin(F.broadcast(mx))
        .filter(F.col("conc") == F.col("peak"))
        .agg(
            F.min("day").cast("timestamp").alias("first_peak_day"),
            F.max("peak").cast("bigint").alias("peak_concurrency"),
        )
    )
    return n.crossJoin(F.broadcast(first)).select(
        "n_intervals", "peak_concurrency", "first_peak_day"
    )


# --- time-decay popularity ------------------------------------------------------
#
# Trending score with a one-week half-life: each interaction
# contributes 2^-(age_weeks). Powers of two — NOT exp()/pow() with a
# fractional exponent — because libm implementations differ in the
# last ulp across engines; dyadic weights quantize exactly. Weights
# ride a 2^20 integer scale (age capped at 20 half-lives, below which
# a contribution is 0 at the scale's resolution anyway), so the score
# sum is an exact int64 on any partitioning.

_TDP_ORACLE = """
WITH mx AS (
    SELECT max(CAST(ts AS DATE)) AS now FROM events
),
w AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_k,
           CAST(pow(2, 20 - least(CAST(date_diff('day', CAST(ts AS DATE),
                                                 mx.now) AS BIGINT) // 7,
                                  20)) AS BIGINT) AS wq
    FROM events, mx
    WHERE event_type IN ('view', 'click', 'purchase')
),
s AS (
    SELECT item_k, CAST(sum(wq) AS BIGINT) AS sq,
           CAST(count(*) AS BIGINT) AS n_events
    FROM w GROUP BY item_k
)
SELECT item_k, n_events,
       round(CAST(sq AS DOUBLE) / 1048576.0, 6) AS decay_score,
       CAST(rank() OVER (ORDER BY sq DESC, item_k) AS BIGINT) AS trend_rank
FROM s
ORDER BY item_k
"""


@query("time_decay_popularity", _TDP_ORACLE)
def time_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item trending score: Σ 2^-(age_weeks) over interactions
    (one-week half-life, integer week buckets, capped at 20) — the
    recsys "what's hot now" primitive, exact cross-engine because the
    weights are dyadic integers on a 2^20 scale. One scan + one
    item-keyed aggregation + a rank over the items-sized result; the
    reference date is the corpus max (one 1-row broadcast)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    mx = ev.agg(F.max(F.to_date("ts")).alias("now"))
    age_weeks = F.least(
        (
            F.datediff(F.col("now"), F.to_date("ts")).cast("bigint")
            / F.lit(7)
        ).cast("bigint"),
        F.lit(20),
    )
    w = ev.crossJoin(F.broadcast(mx)).select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item_k"),
        F.pow(F.lit(2.0), (F.lit(20) - age_weeks).cast("double"))
        .cast("bigint")
        .alias("wq"),
    )
    s = w.groupBy("item_k").agg(
        F.sum("wq").cast("bigint").alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wr = Window.orderBy(F.desc("sq"), F.asc("item_k"))
    return s.select(
        "item_k",
        "n_events",
        F.round(F.col("sq").cast("double") / F.lit(1048576.0), 6).alias(
            "decay_score"
        ),
        F.rank().over(wr).cast("bigint").alias("trend_rank"),
    ).orderBy("item_k")


# --- exact mergeable distinct via bitmap sketches ------------------------------
#
# The bitmap twin of hll_mergeable_rollup: Spark's bitmap functions
# (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_or_agg / bitmap_count) partition the key space into 32k-bit
# buckets and build one roaring-style bitmap per (group, bucket).
# Unlike HLL this is EXACT, and unlike count(DISTINCT) it is
# MERGEABLE: a precomputed per-segment bitmap table answers any
# segment-combination distinct with bitmap_or_agg + bitmap_count —
# no fact re-scan. That is the production pattern for exact distinct
# rollups over 100 TB: materialize (segment, bucket, bitmap) once,
# OR-merge at query time.

_BITMAP_ORACLE = """
SELECT o_orderpriority AS segment,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL' AS segment,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
"""


@query("bitmap_distinct_rollup", _BITMAP_ORACLE)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order priority AND overall, both
    computed from ONE per-(segment, bucket) bitmap table: per-segment
    counts sum bitmap_count over the segment's buckets; the ALL row
    OR-merges the same bitmaps across segments before counting —
    proving the cross-segment dedup happens in the merge (a customer
    ordering under 3 priorities counts once), which is what makes the
    materialized bitmap table reusable for any segment combination.
    The oracle is plain count(DISTINCT) per segment + overall."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderpriority AS segment",
        "bitmap_bucket_number(o_custkey) AS bkt",
        "bitmap_bit_position(o_custkey) AS pos",
    )
    # materialize the (segment, bucket, bitmap) table ONCE (the
    # production shape: it persists and serves every later rollup);
    # the lazy barrier keeps the fact scan from running per branch
    per_bucket = (
        base.groupBy("segment", "bkt")
        .agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm"),
            F.count(F.lit(1)).alias("nr"),
        )
        .localCheckpoint(eager=False)
    )
    per_segment = per_bucket.groupBy("segment").agg(
        F.expr("sum(bitmap_count(bm))").cast("bigint").alias(
            "n_distinct_cust"
        ),
        F.sum("nr").cast("bigint").alias("n_orders"),
    )
    merged = (
        per_bucket.groupBy("bkt")
        .agg(
            F.expr("bitmap_or_agg(bm)").alias("bm"),
            F.sum("nr").alias("nr"),
        )
        .agg(
            F.expr("sum(bitmap_count(bm))").cast("bigint").alias(
                "n_distinct_cust"
            ),
            F.sum("nr").cast("bigint").alias("n_orders"),
        )
        .select(
            F.lit("ALL").alias("segment"), "n_distinct_cust", "n_orders"
        )
    )
    return per_segment.unionByName(merged)


# --- replica integrity digests (Merkle-style, order-independent) --------------
#
# Migration/replication verification: after copying 100 TB between
# clusters or formats, prove content equality WITHOUT moving the data
# again. Each row hashes to h60(canonical string); two
# order-independent combiners (a modular sum and a bit_xor) give a
# per-scope digest that any engine can recompute locally — equal
# digests + equal counts ≈ equal content, and per-partition scopes
# (orders by order year) localize a divergence to the partition that
# needs re-copying. Doubles ride as exact integer cents; dates as ISO
# strings — canonicalization is part of the contract, both engines
# hash the identical bytes.

_DIGEST_MOD = 1_000_000_007  # sum stays < 2^63 up to ~9e9 rows


def _digest_sql(table: str, scope_expr: str, concat: str, group: str) -> str:
    h = h60_sql(concat)
    return f"""
SELECT {scope_expr} AS scope,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({h} % {_DIGEST_MOD}) AS BIGINT) AS digest_sum,
       CAST(bit_xor({h}) AS BIGINT) AS digest_xor
FROM {table}{group}"""


_ORDERS_CONCAT = (
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
    "o_orderstatus, CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) "
    "AS VARCHAR), CAST(CAST(o_orderdate AS DATE) AS VARCHAR), "
    "o_orderpriority)"
)
_CUST_CONCAT = (
    "concat_ws('|', CAST(c_custkey AS VARCHAR), c_name, c_mktsegment, "
    "CAST(c_nationkey AS VARCHAR), CAST(CAST(round(c_acctbal * 100, 0) "
    "AS BIGINT) AS VARCHAR))"
)
_LINE_CONCAT = (
    "concat_ws('|', CAST(l_orderkey AS VARCHAR), "
    "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR), "
    "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), l_returnflag)"
)

_INTEGRITY_ORACLE = (
    _digest_sql(
        "orders",
        "concat('orders:', CAST(year(o_orderdate) AS VARCHAR))",
        _ORDERS_CONCAT,
        " GROUP BY year(o_orderdate)",
    )
    + "\nUNION ALL"
    + _digest_sql("customer", "'customer:ALL'", _CUST_CONCAT, "")
    + "\nUNION ALL"
    + _digest_sql("lineitem", "'lineitem:ALL'", _LINE_CONCAT, "")
)


@query("table_integrity_digest", _INTEGRITY_ORACLE)
def table_integrity_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content digests per scope: orders per order
    year (divergence localizes to the partition to re-copy), customer
    and lineitem whole-table. digest_sum (modular) and digest_xor
    (bitwise) over h60 of the canonical row string — one scan per
    table, partial-aggregated map-side, no shuffle wider than the
    scope count."""
    from ..functions.hashing import h60

    def digest(df, scope_col, concat_col, group_cols):
        h = h60(concat_col)
        g = df.select(
            scope_col.alias("scope"), (h % _DIGEST_MOD).alias("hm"), h.alias("h")
        ).groupBy("scope")
        return g.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("hm").cast("bigint").alias("digest_sum"),
            F.expr("bit_xor(h)").cast("bigint").alias("digest_xor"),
        )

    orders = load_table(spark, sf_dir, "orders")
    o = digest(
        orders,
        F.concat(F.lit("orders:"), F.year("o_orderdate").cast("string")),
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("string"),
            F.col("o_orderdate").cast("date").cast("string"),
            F.col("o_orderpriority"),
        ),
        ["scope"],
    )
    customer = load_table(spark, sf_dir, "customer")
    c = digest(
        customer,
        F.lit("customer:ALL"),
        F.concat_ws(
            "|",
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.col("c_nationkey").cast("string"),
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint").cast("string"),
        ),
        ["scope"],
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    li = digest(
        lineitem,
        F.lit("lineitem:ALL"),
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_quantity").cast("bigint").cast("string"),
            F.col("l_returnflag"),
        ),
        ["scope"],
    )
    return o.unionByName(c).unionByName(li)


# --- built-in Apache DataSketches HLL rollup -----------------------------------
#
# The production counterpart of the repo's hand-built HLL rollups:
# Spark ships Apache DataSketches HLL_4 as hll_sketch_agg /
# hll_union_agg / hll_sketch_estimate — serialized sketch bytes that
# any DataSketches runtime (Druid, Hive, Pinot, the Java/C++ libs)
# can union, the lingua franca for cross-system distinct-count
# exchange. Sketch estimates are engine-specific, so this is a
# TOLERANCE-oracle query (the windowed_agg_approx pattern): the exact
# distinct and a within-4σ flag are what hash-checks. lgK = 12 →
# rsd ≈ 1.04/√4096 ≈ 1.6%, 4σ ≈ 6.5% with a small-cardinality floor.

_DS_HLL_ORACLE = """
SELECT event_type AS segment,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS sketch_within_tolerance
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS segment,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS sketch_within_tolerance
FROM events
"""


@query("hll_datasketches_rollup", _DS_HLL_ORACLE)
def hll_datasketches_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type AND overall from ONE pass of
    built-in DataSketches HLL: per-segment sketches estimate locally;
    the ALL row re-unions the SAME sketch bytes via hll_union_agg
    (cross-segment dedup happens in the union, proving the
    materialized sketch table is reusable for any segment
    combination, and portable to any DataSketches runtime). The
    oracle pins exact counts and the 4σ error contract of both the
    per-segment estimates and the merged estimate."""
    events = load_table(spark, sf_dir, "events")
    sk = (
        events.groupBy(F.col("event_type").alias("segment"))
        .agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .localCheckpoint(eager=False)
    )
    tol = lambda exact: F.greatest(  # noqa: E731
        F.lit(4.0), F.lit(4 * 0.0163) * exact
    )
    per = sk.select(
        "segment",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (
            F.abs(
                F.expr("hll_sketch_estimate(sk)") - F.col("exact_users")
            )
            <= tol(F.col("exact_users"))
        ).alias("sketch_within_tolerance"),
    )
    merged = (
        sk.agg(
            F.expr("hll_union_agg(sk)").alias("m"),
        )
        .crossJoin(
            F.broadcast(
                events.agg(
                    F.count_distinct("user_id").alias("exact_users")
                )
            )
        )
        .select(
            F.lit("ALL").alias("segment"),
            F.col("exact_users").cast("bigint").alias("exact_users"),
            (
                F.abs(
                    F.expr("hll_sketch_estimate(m)") - F.col("exact_users")
                )
                <= tol(F.col("exact_users"))
            ).alias("sketch_within_tolerance"),
        )
    )
    return per.unionByName(merged)


# --- small-file compaction with content-digest verification -------------------
#
# The table-maintenance job every streaming ingest needs: micro-batch
# writers leave thousands of small files; compaction rewrites them
# into target-sized files WITHOUT changing content. This query runs
# the whole lifecycle — fragment orders into 64 small files, compact
# to 4 (repartition write, the size-targeted rewrite), read the
# compacted copy back — and serves the compacted copy's per-year
# integrity digests. The oracle computes the SAME digests from the
# ORIGINAL table: hash-match proves the rewrite preserved every row
# bit-exactly, which is the invariant a production compactor must
# certify before swapping files in.

_COMPACTION_ORACLE = (
    _digest_sql(
        "orders",
        "concat('orders:', CAST(year(o_orderdate) AS VARCHAR))",
        _ORDERS_CONCAT,
        " GROUP BY year(o_orderdate)",
    )
    + "\nUNION ALL\nSELECT 'files' AS scope, CAST(4 AS BIGINT) AS n_rows,"
    + " CAST(0 AS BIGINT) AS digest_sum, CAST(0 AS BIGINT) AS digest_xor"
)


@query("compaction_roundtrip_digest", _COMPACTION_ORACLE)
def compaction_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment -> compact -> verify: orders written as 64 small
    parquet files, compacted to 4 (repartition rewrite), read back;
    the served per-year digests come from the COMPACTED copy while
    the oracle digests the original — equality certifies the rewrite
    changed layout, not content. A 'files' row pins the compacted
    file count (the thing compaction is FOR)."""
    import glob
    import os

    from ..functions.hashing import h60

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    frag, compacted = scratch_dir("compact_frag_"), scratch_dir("compact_out_")
    # the small-file problem, manufactured
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    # the compaction rewrite (size-targeted: 4 writer tasks)
    spark.read.parquet(frag).repartition(4).write.mode(
        "overwrite"
    ).parquet(compacted)

    n_files = len(glob.glob(os.path.join(compacted, "part-*")))
    back = spark.read.parquet(compacted)
    concat = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    h = h60(concat)
    digests = (
        back.select(
            F.concat(
                F.lit("orders:"), F.year("o_orderdate").cast("string")
            ).alias("scope"),
            (h % _DIGEST_MOD).alias("hm"),
            h.alias("h"),
        )
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("hm").cast("bigint").alias("digest_sum"),
            F.expr("bit_xor(h)").cast("bigint").alias("digest_xor"),
        )
    )
    files_row = spark.range(1).select(
        F.lit("files").alias("scope"),
        F.lit(n_files).cast("bigint").alias("n_rows"),
        F.lit(0).cast("bigint").alias("digest_sum"),
        F.lit(0).cast("bigint").alias("digest_xor"),
    )
    return digests.unionByName(files_row)


# Point-in-polygon: ALL-INTEGER geometry makes the ray-casting
# crossing test exact in both engines (no float trig, no epsilon).
# Convex integer vertex templates (4/5/6-gon) are scaled/translated
# per nation; the crossing predicate is the standard half-open rule
#   (y1 > py) != (y2 > py)  AND  sign(y2 - y1) * [(x1 - px)(y2 - y1)
#                                + (py - y1)(x2 - x1)] > 0
# evaluated in BIGINT, so parity is bit-identical cross-engine.
_PIP_GRID = 4000
_PIP_CELL = 256

_PIP_TPL_SQL = """
    CASE WHEN k = 4 THEN [2, 0, -2, 0]
         WHEN k = 5 THEN [2, 1, -1, -2, 0]
         ELSE [2, 1, -1, -2, -1, 1] END AS oxs,
    CASE WHEN k = 4 THEN [0, 2, 0, -2]
         WHEN k = 5 THEN [0, 2, 2, 0, -2]
         ELSE [0, 2, 2, 0, -2, -2] END AS oys
"""


def _pip_oracle() -> str:
    px = h60_sql("'px:' || CAST(c_custkey AS VARCHAR)")
    py = h60_sql("'py:' || CAST(c_custkey AS VARCHAR)")
    s = h60_sql("'ps:' || CAST(n_nationkey AS VARCHAR)")
    cx = h60_sql("'pcx:' || CAST(n_nationkey AS VARCHAR)")
    cy = h60_sql("'pcy:' || CAST(n_nationkey AS VARCHAR)")
    return f"""
WITH pts AS (
    SELECT c_custkey AS ck,
           {px} % {_PIP_GRID} AS px,
           {py} % {_PIP_GRID} AS py
    FROM customer
),
pcell AS (
    SELECT *, px // {_PIP_CELL} AS gx, py // {_PIP_CELL} AS gy FROM pts
),
polys AS (
    SELECT n_nationkey AS nk,
           n_nationkey % 3 + 4 AS k,
           {s} % 61 + 20 AS s,
           {cx} % 3200 + 400 AS cx,
           {cy} % 3200 + 400 AS cy
    FROM nation
),
tpl AS (
    SELECT nk, k, s, cx, cy, {_PIP_TPL_SQL}
    FROM polys
),
verts AS (
    SELECT nk, k, j.j AS j,
           cx + list_extract(oxs, j.j + 1) * s AS x,
           cy + list_extract(oys, j.j + 1) * s AS y
    FROM tpl, LATERAL (SELECT unnest(range(0, k)) AS j) j
),
edges AS (
    SELECT a.nk, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
    FROM verts a JOIN verts b
      ON a.nk = b.nk AND b.j = (a.j + 1) % a.k
),
pgrid AS (
    SELECT nk, gx.g AS gx, gy.g AS gy
    FROM polys,
         LATERAL (SELECT unnest(range((cx - 2 * s) // {_PIP_CELL},
                                      (cx + 2 * s) // {_PIP_CELL} + 1))
                         AS g) gx,
         LATERAL (SELECT unnest(range((cy - 2 * s) // {_PIP_CELL},
                                      (cy + 2 * s) // {_PIP_CELL} + 1))
                         AS g) gy
),
cand AS (
    SELECT g.nk, p.ck, p.px, p.py
    FROM pcell p JOIN pgrid g ON p.gx = g.gx AND p.gy = g.gy
),
inside AS (
    SELECT c.nk, c.ck
    FROM cand c JOIN edges e ON e.nk = c.nk
    GROUP BY c.nk, c.ck
    HAVING sum(CASE WHEN (e.y1 > c.py) != (e.y2 > c.py)
                     AND (CASE WHEN e.y2 > e.y1 THEN 1 ELSE -1 END)
                         * ((e.x1 - c.px) * (e.y2 - e.y1)
                            + (c.py - e.y1) * (e.x2 - e.x1)) > 0
               THEN 1 ELSE 0 END) % 2 = 1
)
SELECT n.n_nationkey AS nationkey,
       CAST(count(i.ck) AS BIGINT) AS n_inside,
       CAST(coalesce(sum(i.ck), 0) AS BIGINT) AS sum_inside_keys
FROM nation n LEFT JOIN inside i ON i.nk = n.n_nationkey
GROUP BY n.n_nationkey
"""


@query("spatial_point_in_polygon", _pip_oracle())
def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment join (the geofencing/region-assign
    primitive): synthetic integer points (customers) against one
    convex integer polygon per nation, via grid-cell blocking — the
    polygon explodes over the cells its bounding box covers, points
    carry their single cell key, candidates come from ONE equi-join
    on the cell — then an exact BIGINT ray-casting parity test over
    the candidate x edge pairs. Never all-pairs: candidate count is
    (polygon area / cell area)-bounded, the spatial analog of the LSH
    band join. Polygons and edges are broadcast (dimension-sized);
    at a million polygons the same plan holds with the broadcast
    dropped and the cell key carrying the join. Integer-exact
    geometry means the oracle parity is provable, not
    float-coincidental."""
    from ..functions.hashing import h60

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def hcol(salt: str, col: str):
        return h60(F.concat(F.lit(salt), F.col(col).cast("string")))

    pts = cust.select(
        F.col("c_custkey").alias("ck"),
        (hcol("px:", "c_custkey") % _PIP_GRID).alias("px"),
        (hcol("py:", "c_custkey") % _PIP_GRID).alias("py"),
    ).withColumns(
        {
            "gx": F.expr(f"px DIV {_PIP_CELL}"),
            "gy": F.expr(f"py DIV {_PIP_CELL}"),
        }
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    polys = nation.select(
        F.col("n_nationkey").alias("nk"),
        (F.col("n_nationkey") % 3 + 4).alias("k"),
        (hcol("ps:", "n_nationkey") % 61 + 20).alias("s"),
        (hcol("pcx:", "n_nationkey") % 3200 + 400).alias("cx"),
        (hcol("pcy:", "n_nationkey") % 3200 + 400).alias("cy"),
    )
    tpl = polys.selectExpr(
        "*",
        "CASE WHEN k = 4 THEN array(2, 0, -2, 0) "
        "WHEN k = 5 THEN array(2, 1, -1, -2, 0) "
        "ELSE array(2, 1, -1, -2, -1, 1) END AS oxs",
        "CASE WHEN k = 4 THEN array(0, 2, 0, -2) "
        "WHEN k = 5 THEN array(0, 2, 2, 0, -2) "
        "ELSE array(0, 2, 2, 0, -2, -2) END AS oys",
    )
    verts = tpl.select(
        "nk",
        "k",
        F.explode(F.expr("sequence(0, k - 1)")).alias("j"),
        "cx",
        "cy",
        "oxs",
        "oys",
        "s",
    ).select(
        "nk",
        "k",
        "j",
        (F.col("cx") + F.expr("element_at(oxs, j + 1)") * F.col("s")).alias(
            "x"
        ),
        (F.col("cy") + F.expr("element_at(oys, j + 1)") * F.col("s")).alias(
            "y"
        ),
    )
    v2 = verts.select(
        F.col("nk").alias("nk2"),
        F.col("j").alias("j2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    edges = verts.join(
        v2,
        (F.col("nk") == F.col("nk2"))
        & (F.col("j2") == (F.col("j") + 1) % F.col("k")),
    ).select(
        "nk",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        "x2",
        "y2",
    )
    pgrid = polys.select(
        "nk",
        F.explode(
            F.expr(
                f"sequence((cx - 2 * s) DIV {_PIP_CELL},"
                f" (cx + 2 * s) DIV {_PIP_CELL})"
            )
        ).alias("gx"),
        "cy",
        "s",
    ).select(
        "nk",
        "gx",
        F.explode(
            F.expr(
                f"sequence((cy - 2 * s) DIV {_PIP_CELL},"
                f" (cy + 2 * s) DIV {_PIP_CELL})"
            )
        ).alias("gy"),
    )
    cand = pts.join(F.broadcast(pgrid), ["gx", "gy"]).select(
        "nk", "ck", "px", "py"
    )
    crossed = (
        (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    ) & (
        F.when(F.col("y2") > F.col("y1"), F.lit(1)).otherwise(F.lit(-1))
        * (
            (F.col("x1") - F.col("px")) * (F.col("y2") - F.col("y1"))
            + (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
        )
        > 0
    )
    inside = (
        cand.join(F.broadcast(edges), "nk")
        .groupBy("nk", "ck")
        .agg(
            F.sum(F.when(crossed, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_cross"
            )
        )
        .filter(F.col("n_cross") % 2 == 1)
    )
    return (
        nation.join(
            inside, nation["n_nationkey"] == inside["nk"], "left"
        )
        .groupBy("n_nationkey")
        .agg(
            F.count("ck").cast("bigint").alias("n_inside"),
            F.coalesce(F.sum("ck"), F.lit(0))
            .cast("bigint")
            .alias("sum_inside_keys"),
        )
        .select(
            F.col("n_nationkey").alias("nationkey"),
            "n_inside",
            "sum_inside_keys",
        )
    )


# 1-D Kalman filter (random-walk state, noisy observation): the
# recursion is the textbook predict/update with Q = 0.25, R = 1.0,
# x0 = first observation, P0 = 1.0. Both engines evaluate the SAME
# IEEE-754 expression tree per step (each +, *, / is exactly
# rounded), so the final state is bit-identical — no tolerance.
_KALMAN_ORACLE = """
WITH RECURSIVE obs AS (
    SELECT user_id,
           CAST(value AS DOUBLE) AS z,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS i
    FROM events
),
kf AS (
    SELECT user_id, i, z AS x, CAST(1.0 AS DOUBLE) AS p
    FROM obs WHERE i = 1
    UNION ALL
    SELECT o.user_id, o.i,
           kf.x + ((kf.p + 0.25) / (kf.p + 0.25 + 1.0)) * (o.z - kf.x),
           (1.0 - (kf.p + 0.25) / (kf.p + 0.25 + 1.0)) * (kf.p + 0.25)
    FROM kf JOIN obs o
      ON o.user_id = kf.user_id AND o.i = kf.i + 1
)
SELECT user_id,
       CAST(i AS BIGINT) AS n_obs,
       x AS x_final,
       p AS p_final
FROM kf
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY i DESC) = 1
"""


@query("kalman_filter_1d", _KALMAN_ORACLE)
def kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key 1-D Kalman filter (random-walk state + noisy
    observation; Q = 0.25, R = 1.0) over each user's event-value
    series — the classic sequential-state recursion that SQL window
    functions cannot express (the state is a nonlinear function of
    ALL priors). Runs ENTIRELY in Catalyst: the per-key series is
    gathered with sort_array(collect_list(struct...)) and the
    recursion folds through the higher-order ``aggregate`` lambda —
    JVM codegen, zero Python. One shuffle on the key; per-key series
    must fit an executor (the same contract as any per-key
    sessionizer — for unbounded keys, window the series first). The
    oracle replays the identical IEEE expression tree via a recursive
    CTE, so the hash check is bit-exact, not tolerance-based."""
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("eid"),
                F.col("value").cast("double").alias("z"),
            ).alias("o"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("o")).alias("os"))
        .select("user_id", F.expr("transform(os, s -> s.z)").alias("zs"))
    )
    state = F.expr(
        "aggregate("
        "  slice(zs, 2, size(zs) - 1),"
        "  named_struct('x', element_at(zs, 1),"
        "               'p', CAST(1.0 AS DOUBLE)),"
        "  (acc, z) -> named_struct("
        "    'x', acc.x + ((acc.p + 0.25D) / (acc.p + 0.25D + 1.0D))"
        "         * (z - acc.x),"
        "    'p', (1.0D - (acc.p + 0.25D) / (acc.p + 0.25D + 1.0D))"
        "         * (acc.p + 0.25D)),"
        "  acc -> acc)"
    )
    return series.select(
        "user_id",
        F.size("zs").cast("bigint").alias("n_obs"),
        state.getField("x").alias("x_final"),
        state.getField("p").alias("p_final"),
    )


# --- HMM Viterbi decoding over user sessions --------------------------------
# Discrete-state sequence inference: per user, the min-cost hidden
# state path under integer emission/transition costs (3 activity
# states, value-bucket emissions). Integer costs with a
# smallest-index tie-break make the DP fully deterministic, and the
# oracle replays it with a RECURSIVE CTE carrying the 3-state score
# vector — the same state-machine-oracle pattern as the IMA ADPCM
# decode, here over per-KEY sequences. Spark side: one
# applyInPandas per user (the sequence family's idiomatic shape —
# cross-user parallel, within-user sequential).
_HMM_ORACLE = """
WITH RECURSIVE ev AS (
    SELECT user_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) - 1 AS i,
           ((CAST(floor(value) AS INTEGER) % 5) + 5) % 5 AS vb
    FROM events
),
n AS (SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id),
st AS (
    SELECT user_id, i,
           ((7 * 0 + 3 * vb + 1) * 5) % 17 AS v0,
           ((7 * 1 + 3 * vb + 1) * 5) % 17 AS v1,
           ((7 * 2 + 3 * vb + 1) * 5) % 17 AS v2
    FROM ev WHERE i = 0
    UNION ALL
    SELECT e.user_id, e.i,
           LEAST(st.v0 + ((0 * 3 + 0) * 7) % 11,
                 st.v1 + ((1 * 3 + 0) * 7) % 11,
                 st.v2 + ((2 * 3 + 0) * 7) % 11)
               + ((7 * 0 + 3 * e.vb + 1) * 5) % 17 AS v0,
           LEAST(st.v0 + ((0 * 3 + 1) * 7) % 11,
                 st.v1 + ((1 * 3 + 1) * 7) % 11,
                 st.v2 + ((2 * 3 + 1) * 7) % 11)
               + ((7 * 1 + 3 * e.vb + 1) * 5) % 17 AS v1,
           LEAST(st.v0 + ((0 * 3 + 2) * 7) % 11,
                 st.v1 + ((1 * 3 + 2) * 7) % 11,
                 st.v2 + ((2 * 3 + 2) * 7) % 11)
               + ((7 * 2 + 3 * e.vb + 1) * 5) % 17 AS v2
    FROM st JOIN ev e ON e.user_id = st.user_id AND e.i = st.i + 1
)
SELECT s.user_id,
       CAST(n.n_events AS BIGINT) AS n_events,
       CAST(LEAST(v0, v1, v2) AS BIGINT) AS best_cost,
       CAST(CASE WHEN v0 <= v1 AND v0 <= v2 THEN 0
                 WHEN v1 <= v2 THEN 1 ELSE 2 END AS INTEGER)
           AS best_state
FROM st s JOIN n ON n.user_id = s.user_id AND s.i = n.n_events - 1
ORDER BY s.user_id
"""


@query("hmm_viterbi_sessions", _HMM_ORACLE)
def hmm_viterbi_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 3-state HMM over each user's event
    sequence (integer emission costs by value bucket, integer
    transition costs, smallest-state tie-break): per user the optimal
    final cost and final state. One applyInPandas per user — users
    decode in parallel, each sequence sequentially, the DP state a
    3-vector regardless of sequence length; the oracle replays the
    identical recursion as a recursive CTE. Grouping shuffles once on
    user_id; nothing else grows with input."""
    import numpy as np
    import pandas as pd

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def emis(s: int, vb) -> "pd.Series":
        return ((7 * s + 3 * vb + 1) * 5) % 17

    trans = [[((sp * 3 + s) * 7) % 11 for s in range(3)] for sp in range(3)]

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # same normalization as the SQL side: floor, then a
        # double-mod so negative values bucket identically
        # (C-style %% vs Python %% diverge on negatives)
        vb = ((np.floor(pdf["value"].to_numpy()).astype("int64")
               % 5 + 5) % 5).tolist()
        v = [int(emis(s, vb[0])) for s in range(3)]
        for b in vb[1:]:
            v = [
                min(v[sp] + trans[sp][s] for sp in range(3))
                + int(emis(s, b))
                for s in range(3)
            ]
        best = min(v)
        state = v.index(best)  # .index returns the SMALLEST index on ties
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(vb)],
                "best_cost": [best],
                "best_state": [state],
            }
        )

    # explicit partition count: AQE sizes the group exchange by BYTES
    # and coalesces the small event projection onto a couple of tasks,
    # serializing the per-user Python DPs; the explicit hash
    # repartition is AQE-exempt and is exactly the distribution the
    # groupBy needs, so no second exchange appears.
    return (
        events.repartition(
            events.sparkSession.sparkContext.defaultParallelism, "user_id"
        )
        .groupBy("user_id")
        .applyInPandas(
            decode,
            schema="user_id bigint, n_events bigint, best_cost bigint, "
                   "best_state int",
        )
        .orderBy("user_id")
    )


# --- time-weighted average per user (TWAP) ----------------------------------
# The metrics/billing staple: each observation holds until the next
# one, so the mean weights each value by its holding interval —
# integer epoch-second deltas and integer value-cents keep the
# numerator exact until one final IEEE division.
_TWAP_ORACLE = """
WITH e AS (
    SELECT user_id,
           epoch_us(ts) AS t,
           CAST(round(value * 100, 0) AS BIGINT) AS vc,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t_next
    FROM events
),
w AS (
    SELECT user_id,
           sum(CAST(vc * (CAST(t_next AS BIGINT) - t) AS DECIMAL(38,0)))
               AS num,
           sum(CAST(CAST(t_next AS BIGINT) - t AS DECIMAL(38,0)))
               AS dur
    FROM e WHERE t_next IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(dur AS BIGINT) AS span_micros,
       round(CAST(num AS DOUBLE) / CAST(dur AS DOUBLE) / 100.0, 6)
           AS twap
FROM w
WHERE dur > 0
ORDER BY user_id
"""


@query("time_weighted_average", _TWAP_ORACLE)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value series: each
    observation is held until the next event (last-observation-
    carried-forward), so the mean weights values by their holding
    interval. One user-keyed window for the next-timestamp, one
    grouped exact-decimal aggregation, one final division — the
    weighting never materializes per-second rows, so cost is
    event-proportional no matter how sparse or long the series."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = events.select(
        "user_id",
        # ts arrives TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The
        # session-tz offset the cast introduces cancels in the deltas
        # (the only thing TWAP consumes), so this is tz-safe.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vc"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp")))
        .over(w)
        .alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    agg = e.groupBy("user_id").agg(
        F.sum(
            (F.col("vc") * (F.col("t_next") - F.col("t"))).cast(
                "decimal(38,0)"
            )
        ).alias("num"),
        F.sum((F.col("t_next") - F.col("t")).cast("decimal(38,0)")).alias(
            "dur"
        ),
    )
    return (
        agg.filter(F.col("dur") > 0)
        .select(
            "user_id",
            F.col("dur").cast("bigint").alias("span_micros"),
            F.round(
                F.col("num").cast("double")
                / F.col("dur").cast("double")
                / 100.0,
                6,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


# --- interval-union coverage per user ---------------------------------------
# The sweep-merge twin of TWAP: each event opens a fixed 60 s
# activity window; per user, the UNION length of those overlapping
# intervals (distinct active time — the billing/engagement metric
# where summing durations double-counts). Exact integer microseconds
# end to end: the merge is one ordered window pass (running max of
# interval ends), contribution = min(len, gap to previous covered
# frontier), no per-second explode.
_COVERAGE_ORACLE = """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS t0, epoch_us(ts) + 60000000 AS t1
    FROM events
),
m AS (
    SELECT user_id, t0, t1,
           max(t1) OVER (PARTITION BY user_id ORDER BY t0, t1
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS frontier
    FROM e
),
c AS (
    SELECT user_id,
           CASE WHEN frontier IS NULL THEN t1 - t0
                WHEN frontier >= t1 THEN 0
                ELSE t1 - GREATEST(t0, frontier) END AS covered
    FROM m
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(covered) AS BIGINT) AS covered_micros,
       CAST(sum(CASE WHEN covered = 60000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_isolated
FROM c
GROUP BY user_id
ORDER BY user_id
"""


@query("interval_union_coverage", _COVERAGE_ORACLE)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active time per user: every event opens a 60 s
    window and overlaps must not double-count, so the union length
    comes from one ordered pass — the running max of prior interval
    ends is the covered frontier, and each interval contributes only
    its part beyond it. Exact integer microseconds; one user-keyed
    window + one aggregation, never a per-second explode (the naive
    materialization would be 60M rows per user-hour)."""
    events = load_table(spark, sf_dir, "events")
    t0 = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select(
        "user_id", t0.alias("t0"), (t0 + F.lit(60000000)).alias("t1")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t0", "t1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.withColumn("frontier", F.max("t1").over(w))
    covered = (
        F.when(F.col("frontier").isNull(), F.col("t1") - F.col("t0"))
        .when(F.col("frontier") >= F.col("t1"), F.lit(0))
        .otherwise(F.col("t1") - F.greatest("t0", "frontier"))
    )
    return (
        m.select("user_id", covered.alias("covered"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("covered").cast("bigint").alias("covered_micros"),
            F.sum(
                F.when(F.col("covered") == 60000000, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_isolated"),
        )
        .orderBy("user_id")
    )
