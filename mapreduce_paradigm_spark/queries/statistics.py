"""Round-3 batch 8: statistical & geo analytics.

Higher-moment statistics from exact integer power sums (hash-stable
skewness without trusting cross-engine ``skewness()`` definitions),
reorder-interval distributions, month-over-month growth, and a haversine
nearest-neighbor assignment — the remaining everyday analytics shapes.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import dsum
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- exact integer moments → skewness ----------------------------------------


@register(
    "quantity_moment_stats",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n, s1, s2, s3,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
       round(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS var_qty,
       round(
         (CAST(s3 AS DOUBLE) / n
          - 3 * (CAST(s1 AS DOUBLE) / n)
              * (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / power(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 1.5),
         6) AS skew_qty
FROM s
""",
    description="Population mean/variance/skewness per return flag from "
    "EXACT integer power sums (l_quantity is integral, so Σq, Σq², Σq³ "
    "are exact BIGINTs — order-independent, overflow-guarded by ANSI): "
    "the moments are assembled into floats once per GROUP by one "
    "deterministic double formula, rather than trusting two engines' "
    "`skewness()` aggregates to share a definition (population vs sample "
    "correction) or a summation order. The raw sums are in the output — "
    "at 100 TB they are also exactly mergeable across shards, the same "
    "partial-aggregate argument as the micros sums.",
    tags=("agg", "statistics"),
)
def q_quantity_moment_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * var - m1 * m1 * m1) / F.pow(var, 1.5)
    return s.select(
        "l_returnflag",
        "n",
        "s1",
        "s2",
        "s3",
        F.round(m1, 6).alias("mean_qty"),
        F.round(var, 6).alias("var_qty"),
        F.round(skew, 6).alias("skew_qty"),
    )


# --- reorder-interval distribution -------------------------------------------


@register(
    "customer_reorder_gaps",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
)
SELECT CAST(gap_days // 30 AS BIGINT) AS gap_month_bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_days) AS BIGINT) AS min_days,
       CAST(max(gap_days) AS BIGINT) AS max_days
FROM seq WHERE gap_days IS NOT NULL
GROUP BY 1
""",
    description="Reorder-interval distribution: days between consecutive "
    "orders per customer (lag over the per-customer date order, tie-"
    "broken by orderkey) bucketed into 30-day bands — the inter-arrival "
    "histogram behind churn/repurchase models. One window shuffle on "
    "custkey, then an aggregation over gap buckets; integer day "
    "arithmetic end-to-end.",
    tags=("analytics", "window", "orders"),
)
def q_customer_reorder_gaps(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    )
    return (
        seq.filter(F.col("gap_days").isNotNull())
        .groupBy(
            F.expr("CAST(gap_days DIV 30 AS BIGINT)").alias("gap_month_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").cast("long").alias("min_days"),
            F.max("gap_days").cast("long").alias("max_days"),
        )
    )


# --- month-over-month growth -------------------------------------------------


@register(
    "monthly_revenue_growth",
    oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS om,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT strftime(om, '%Y-%m') AS order_month, revenue,
       round(revenue / lag(revenue) OVER (ORDER BY om) - 1, 6) AS mom_growth
FROM m
""",
    description="Month-over-month growth: exact-micros monthly revenue "
    "plus a lag-ratio window. The unpartitioned ORDER BY window is safe "
    "HERE because it runs over the aggregated month spine (≲ thousands "
    "of rows however big the input) — the general rule stands: global "
    "windows belong AFTER aggregation, never on the raw fact table.",
    tags=("analytics", "window", "orders"),
)
def q_monthly_revenue_growth(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("om")
    ).agg(dsum(F.col("o_totalprice"), "revenue"))
    w = Window.orderBy("om")
    return m.select(
        F.date_format("om", "yyyy-MM").alias("order_month"),
        "revenue",
        F.round(
            F.col("revenue") / F.lag("revenue").over(w) - 1, 6
        ).alias("mom_growth"),
    )


# --- haversine nearest warehouse ---------------------------------------------

_WAREHOUSES = [  # (id, lat, lon) — fixed literal sites
    (0, 40.71, -74.0),
    (1, 51.51, -0.13),
    (2, 35.68, 139.69),
    (3, -33.87, 151.21),
]


@register(
    "customer_nearest_warehouse",
    oracle=f"""
WITH c AS (
  SELECT c_custkey,
         (CAST(c_custkey * 7 % 17000 AS DOUBLE) / 100.0) - 85.0 AS lat,
         (CAST(c_custkey * 13 % 36000 AS DOUBLE) / 100.0) - 180.0 AS lon
  FROM customer
),
w(w_id, w_lat, w_lon) AS (
  VALUES {", ".join(f"({i}, {la}, {lo})" for i, la, lo in _WAREHOUSES)}
),
d AS (
  SELECT c_custkey, CAST(w_id AS BIGINT) AS w_id,
         2 * 6371.0 * asin(sqrt(
             power(sin(radians(w_lat - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(w_lat))
               * power(sin(radians(w_lon - lon) / 2), 2)
         )) AS dist_km
  FROM c CROSS JOIN w
),
r AS (
  SELECT c_custkey, w_id, dist_km,
         row_number() OVER (
             PARTITION BY c_custkey ORDER BY dist_km, w_id) AS rn
  FROM d
)
SELECT c_custkey, w_id, round(dist_km, 4) AS dist_km
FROM r WHERE rn = 1
""",
    description="Haversine nearest-warehouse assignment: deterministic "
    "customer coordinates (integer-derived, exact doubles), a 4-row "
    "warehouse table broadcast, great-circle distance per pair, argmin "
    "via a per-customer window (tie-broken by warehouse id) — the "
    "geo-assignment shape (closest depot / region / PoP). The small side "
    "is a broadcast nested-loop cross join: K·N rows scanned once, no "
    "shuffle of the customer table beyond the argmin window; at scale "
    "replace the cross join with a spatial grid bucket join (same "
    "argmin tail). Trig runs in float64 in both engines; only the "
    "rounded distance is output.",
    tags=("geo", "join", "customer"),
)
def q_customer_nearest_warehouse(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        (F.pmod(F.col("c_custkey") * 7, F.lit(17000)).cast("double") / 100.0
         - 85.0).alias("lat"),
        (F.pmod(F.col("c_custkey") * 13, F.lit(36000)).cast("double") / 100.0
         - 180.0).alias("lon"),
    )
    w = spark.createDataFrame(_WAREHOUSES, "w_id long, w_lat double, w_lon double")
    dist = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("w_lat") - F.col("lat")) / 2), 2)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("w_lat"))
                * F.pow(
                    F.sin(F.radians(F.col("w_lon") - F.col("lon")) / 2), 2
                )
            )
        )
    )
    d = c.crossJoin(F.broadcast(w)).select(
        "c_custkey", "w_id", dist.alias("dist_km")
    )
    rn = F.row_number().over(
        Window.partitionBy("c_custkey").orderBy("dist_km", "w_id")
    )
    return (
        d.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("c_custkey", "w_id", F.round("dist_km", 4).alias("dist_km"))
    )


# --- per-user hourly anomaly z-scores ----------------------------------------


@register(
    "events_hourly_anomaly_zscore",
    oracle="""
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(n) AS BIGINT) AS s1,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM h GROUP BY 1
)
SELECT h.user_id, h.hr, h.n,
       round((h.n - CAST(s1 AS DOUBLE) / n_hours)
             / sqrt(CAST(s2 AS DOUBLE) / n_hours
                    - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours)),
             6) AS z
FROM h JOIN s ON h.user_id = s.user_id
WHERE CAST(s2 AS DOUBLE) * n_hours > CAST(s1 AS DOUBLE) * s1
  AND round((h.n - CAST(s1 AS DOUBLE) / n_hours)
            / sqrt(CAST(s2 AS DOUBLE) / n_hours
                   - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours)),
            6) > 2
""",
    description="Hourly activity anomaly detection: per-user hourly counts "
    "z-scored against that user's own mean/std (population, from exact "
    "integer Σn and Σn² — order-independent, shard-mergeable), keeping "
    "hours more than 2σ above baseline — the bursty-bot / incident "
    "signal. Zero-variance users are excluded by an exact integer "
    "predicate (s2·k > s1², i.e. variance > 0 with no float epsilon). "
    "Two aggregations plus one broadcast-able join of per-user stats "
    "back onto the hourly rows.",
    tags=("analytics", "statistics", "events"),
)
def q_events_hourly_anomaly_zscore(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = h.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = F.col("s2").cast("double") / F.col("n_hours") - mean * mean
    z = F.round((F.col("n") - mean) / F.sqrt(var), 6)
    return (
        h.join(s, "user_id")
        .filter(
            F.col("s2").cast("double") * F.col("n_hours")
            > F.col("s1").cast("double") * F.col("s1")
        )
        .filter(z > 2)
        .select("user_id", "hr", "n", z.alias("z"))
    )


# --- chi-squared independence ------------------------------------------------


@register(
    "priority_status_chi2",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS p, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
rp AS (SELECT p, CAST(sum(obs) AS BIGINT) AS rp FROM o GROUP BY 1),
cs AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cs FROM o GROUP BY 1)
SELECT o.p, o.st, obs,
       round(CAST(rp AS DOUBLE) * cs / n, 6) AS expected,
       round(power(obs - CAST(rp AS DOUBLE) * cs / n, 2)
             / (CAST(rp AS DOUBLE) * cs / n), 6) AS chi2_term
FROM o JOIN rp ON o.p = rp.p JOIN cs ON o.st = cs.st CROSS JOIN tot
""",
    description="Chi-squared independence terms for the priority × status "
    "contingency table: observed counts, expected = row·col/N, and each "
    "cell's (O−E)²/E — the drift/independence test a feature-validation "
    "stage runs between a categorical feature and a label. All "
    "marginals are exact integers; the doubles appear once per CELL in "
    "an identical formula both engines evaluate in float64. The "
    "contingency table is tiny post-aggregation (|p|×|st| rows) however "
    "large the input; marginals broadcast.",
    tags=("analytics", "statistics", "orders"),
)
def q_priority_status_chi2(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    # o (the contingency table) feeds tot/rp/cs and the term join — four
    # independent subtrees, so unpersisted the orders scan + grouping
    # re-ran per consumer (round-12 plan audit). Contingency-table sized.
    o = lifetime.persist(
        orders.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("st"),
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = o.agg(F.sum("obs").alias("n"))
    rp = o.groupBy("p").agg(F.sum("obs").alias("rp"))
    cs = o.groupBy("st").agg(F.sum("obs").alias("cs"))
    expected = F.col("rp").cast("double") * F.col("cs") / F.col("n")
    term = F.pow(F.col("obs") - expected, 2) / expected
    return (
        o.join(F.broadcast(rp), "p")
        .join(F.broadcast(cs), "st")
        .crossJoin(F.broadcast(tot))
        .select(
            "p",
            "st",
            "obs",
            F.round(expected, 6).alias("expected"),
            F.round(term, 6).alias("chi2_term"),
        )
    )


# --- ABC (Pareto) classification ---------------------------------------------


@register(
    "customer_abc_classes",
    oracle="""
WITH c AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS t FROM orders),
r AS (
  SELECT o_custkey, revenue,
         CAST(sum(CAST(round(revenue * 1000000, 0) AS BIGINT)) OVER (
             ORDER BY revenue DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_m
  FROM c
)
SELECT o_custkey, revenue,
       round(CAST(cum_m AS DOUBLE) / CAST(round(t * 1000000, 0) AS BIGINT), 6) AS cum_share,
       CASE WHEN round(CAST(cum_m AS DOUBLE) / CAST(round(t * 1000000, 0) AS BIGINT), 6) <= 0.5 THEN 'A'
            WHEN round(CAST(cum_m AS DOUBLE) / CAST(round(t * 1000000, 0) AS BIGINT), 6) <= 0.8 THEN 'B'
            ELSE 'C' END AS abc_class
FROM r CROSS JOIN tot
""",
    description="ABC / Pareto classification: customers ranked by exact "
    "revenue, running cumulative share, classes at 50%/80% cumulative "
    "cuts — the inventory/priority-tiering classic. The cumulative sum "
    "runs in exact LONG micros (a float running sum would hash-diverge: "
    "DuckDB windows aggregate via a segment TREE, Spark sequentially — "
    "different addition orders), so the share and the class boundaries "
    "are deterministic in any engine and any frame evaluation order. The global "
    "window runs on post-aggregation rows (one per customer), with the "
    "grand total broadcast — the same safe-global-window rule as "
    "monthly_revenue_growth.",
    tags=("analytics", "window", "orders"),
)
def q_customer_abc_classes(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice"), "revenue")
    )
    tot = orders.agg(dsum(F.col("o_totalprice"), "t"))
    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_m = F.sum(F.round(F.col("revenue") * 1e6, 0).cast("long")).over(w)
    t_m = F.round(F.col("t") * 1e6, 0).cast("long")
    share = F.round(cum_m.cast("double") / t_m, 6)
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "revenue",
            share.alias("cum_share"),
            F.when(share <= 0.5, "A")
            .when(share <= 0.8, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# --- market-basket co-purchase lift ------------------------------------------


@register(
    "part_copurchase_lift",
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
pf AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_ord FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS n_both
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p1, p2, n_both,
       round(CAST(n_both AS DOUBLE) * n_orders / (f1.n_ord * f2.n_ord), 6) AS lift
FROM pairs
JOIN pf f1 ON p1 = f1.l_partkey
JOIN pf f2 ON p2 = f2.l_partkey
CROSS JOIN n
WHERE n_both >= 2
""",
    description="Market-basket co-purchase lift: part pairs appearing in "
    "the same order, scored by lift = P(a,b)/(P(a)·P(b)) — the classic "
    "MapReduce co-occurrence workload reshaped as the PMI query was: "
    "per-order sorted distinct part arrays, in-array pair explode (NO "
    "self-join of the lineitem stream), one pair-count shuffle, "
    "part-frequency tables broadcast back. Baskets are naturally tiny "
    "(≤7 lines), so pair fan-out is bounded by Σ|basket|² ≈ 21·|orders| "
    "— the basket itself is the df cap. Lift from exact integer counts, "
    "rounded 6dp (the oracle uses the equivalent self-join spec).",
    tags=("analytics", "cooccurrence", "lineitem"),
)
def q_part_copurchase_lift(spark, sf_dir):
    # the distinct (order, part) stream feeds the order count, the part
    # frequencies and the basket build — unpersisted, the scan + distinct
    # exchange re-ran per consumer (round-12 plan audit).
    li = lifetime.persist(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pf = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_ord"))
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    f1 = pf.select(F.col("l_partkey").alias("p1"), F.col("n_ord").alias("f1"))
    f2 = pf.select(F.col("l_partkey").alias("p2"), F.col("n_ord").alias("f2"))
    return (
        pairs.join(F.broadcast(f1), "p1")
        .join(F.broadcast(f2), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("f1") * F.col("f2")),
                6,
            ).alias("lift"),
        )
    )


# --- session bounce stats ----------------------------------------------------


@register(
    "session_bounce_stats",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id,
         ts
  FROM tagged
),
s AS (
  SELECT user_id, session_id, count(*) AS n_events,
         date_trunc('day', min(ts)) AS d
  FROM sess GROUP BY 1, 2
)
SELECT d,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounce,
       round(CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
             / count(*), 6) AS bounce_rate
FROM s GROUP BY d
""",
    description="Daily bounce rate: share of 30-min-gap sessions containing "
    "exactly one event, grouped by session start day — the engagement KPI "
    "computed on top of the sessionize operator (one user window shuffle, "
    "then day-level aggregation of per-session scalars). Ratios from "
    "exact integer counts, rounded 6dp.",
    tags=("analytics", "sessionize", "events"),
)
def q_session_bounce_stats(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = (
        sessionize(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_trunc("day", F.min("ts")).alias("d"),
        )
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return s.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.cast("long").alias("n_bounce"),
        F.round(
            bounce.cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )


# --- RFM segmentation --------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         CAST(datediff('day', max(o_orderdate), DATE '2001-09-01') AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m
  FROM base
)
SELECT o_custkey, recency_days, frequency, monetary, r, f, m,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         AS rfm_segment
FROM scored
""",
    description="RFM segmentation: recency (days before a fixed anchor), "
    "frequency, exact-micros monetary per customer, each quartiled with "
    "ntile(4) in a fully tie-broken order (custkey appended) so both "
    "engines assign identical bucket boundaries, concatenated into the "
    "marketing-standard 3-digit segment. The global ntile windows run on "
    "POST-aggregation rows (one per customer) — the safe-global-window "
    "rule again; at larger customer counts swap ntile for "
    "approx_percentile cutpoints joined back (same output contract).",
    tags=("analytics", "window", "orders"),
)
def q_customer_rfm_segments(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max("o_orderdate")
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice"), "monetary"),
    )
    r = F.ntile(4).over(
        Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    )
    f = F.ntile(4).over(
        Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    )
    m = F.ntile(4).over(
        Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    )
    scored = base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r.cast("long").alias("r"),
        f.cast("long").alias("f"),
        m.cast("long").alias("m"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


# --- user journey paths ------------------------------------------------------


@register(
    "user_journey_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM seq WHERE rn <= 5 GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
""",
    description="Journey / path analysis: each user's first five events "
    "(total order pinned by event_id tiebreak) concatenated into a path "
    "string, then counted across users — the onboarding-flow analysis "
    "that shows which early sequences convert. One user-window shuffle "
    "for the sequence, one aggregation over ~|paths| rows; the ordered "
    "string_agg runs inside the aggregate buffer, never on the driver.",
    tags=("analytics", "window", "events"),
)
def q_user_journey_paths(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    paths = (
        seq.filter(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


# --- Kolmogorov–Smirnov two-sample statistic ---------------------------------


@register(
    "qty_ks_statistic_flags",
    oracle="""
WITH v AS (
  SELECT CAST(round(l_quantity * 1000000, 0) AS BIGINT) AS q,
         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS is_a
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
),
grid AS (
  SELECT q,
         CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nr
  FROM v GROUP BY 1
),
tot AS (
  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nr) AS BIGINT) AS tr
  FROM grid
),
cum AS (
  SELECT q,
         sum(na) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         sum(nr) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
  FROM grid
)
SELECT CAST(max(abs(CAST(ca AS HUGEINT) * tr - CAST(cr AS HUGEINT) * ta))
            AS DOUBLE)
       / (CAST(max(ta) AS DOUBLE) * max(tr)) AS ks_stat,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tr) AS BIGINT) AS n_r
FROM cum, tot
""",
    description="Two-sample Kolmogorov–Smirnov statistic between the "
    "quantity distributions of return flags A and R — the CONTINUOUS "
    "drift test beside the categorical chi-squared suite: KS = max "
    "|CDF_A − CDF_R| over the merged value grid. Everything stays "
    "EXACT integer until the single final division: the max runs over "
    "|ca·tr − cr·ta| (cross-multiplied integer cumulative counts in "
    "HUGEINT/decimal — a float CDF subtraction would smuggle in "
    "summation-order ulps), so the statistic is bit-identical cross-"
    "engine without rounding. One aggregate to the distinct-value "
    "grid, one global window over that grid (|distinct values| rows, "
    "not data rows), one max — at 100 TB the grid for a bounded-"
    "cardinality measure is tiny; for truly continuous measures, "
    "pre-bin to the micros grid the cast already imposes.",
    tags=("statistics", "drift", "window", "lineitem"),
)
def q_qty_ks_statistic_flags(spark, sf_dir):
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    v = li.filter(F.col("l_returnflag").isin("A", "R")).select(
        F.round(F.col("l_quantity") * 1e6, 0).cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("is_a"),
    )
    grid = v.groupBy("q").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("nr"),
    )
    wcum = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    cum = grid.select(
        F.sum("na").over(wcum).alias("ca"),
        F.sum("nr").over(wcum).alias("cr"),
    )
    tot = grid.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nr").cast("bigint").alias("tr"),
    )
    diff = F.abs(
        F.col("ca").cast(dec) * F.col("tr") - F.col("cr").cast(dec) * F.col("ta")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.max(diff).cast("double")
                / (F.max("ta").cast("double") * F.max("tr"))
            ).alias("ks_stat"),
            F.max("ta").cast("bigint").alias("n_a"),
            F.max("tr").cast("bigint").alias("n_r"),
        )
    )


@register(
    "value_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
  WHERE e.value IS NOT NULL
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       round(max(d.med), 6) AS med,
       round(max(m.mad), 6) AS mad,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (WHERE d.adev > 4.4478 * m.mad) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
    description="Robust outlier detection via median/MAD (the mean/std "
    "z-score's heavy-tail-safe sibling — events_hourly_anomaly_zscore "
    "breaks when outliers inflate the std they're judged against): per "
    "event type, median, MAD (median absolute deviation), and the count "
    "of values beyond 3 * 1.4826 * MAD (the normal-consistency constant, "
    "folded to one literal so both engines multiply identically). Two "
    "aggregate passes by construction — MAD needs the median first — "
    "with the per-type medians joined back BROADCAST (group-count-scale, "
    "never data-scale); exact interpolated percentiles (Spark percentile "
    "== DuckDB quantile_cont) at bench scale, swap in approx_percentile "
    "for the sketch tier at 100 TB (quantity_approx_percentiles shows "
    "that path). The comparison runs on raw doubles: both engines "
    "compute bit-identical med/MAD, so the strict > threshold cut is "
    "engine-stable with no epsilon.",
    tags=("statistics", "anomaly"),
)
def q_value_mad_outliers(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    # dev feeds the MAD aggregate AND the outlier rollup — unpersisted,
    # the events scan + median join re-ran per consumer (round-12 plan
    # audit). Narrow 4-column frame, spill-safe.
    dev = lifetime.persist(
        events.join(F.broadcast(med), "event_type").select(
            "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
        )
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("adev") > F.lit(4.4478) * F.col("mad")).alias(
                "n_outliers"
            ),
        )
    )


@register(
    "nation_return_rate_wilson",
    oracle="""
WITH base AS (
  SELECT n.n_name AS nation,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(count(*) FILTER (WHERE l.l_returnflag = 'R') AS BIGINT) AS n_returned
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
),
scored AS (
  SELECT nation, n_items, n_returned,
         round(CAST(n_returned AS DOUBLE) / n_items, 6) AS rate,
         round((CAST(n_returned AS DOUBLE) / n_items + 1.9208 / n_items
                - 1.96 * sqrt((CAST(n_returned AS DOUBLE) / n_items)
                              * (1 - CAST(n_returned AS DOUBLE) / n_items) / n_items
                              + 0.9604 / (n_items * n_items)))
               / (1 + 3.8416 / n_items), 6) AS wilson_lower
  FROM base
)
SELECT nation, n_items, n_returned, rate, wilson_lower,
       CAST(row_number() OVER (ORDER BY wilson_lower DESC, nation ASC) AS BIGINT)
         AS rnk
FROM scored
""",
    description="Wilson-score lower bound (95%) on per-nation return "
    "rates, ranked by the BOUND rather than the raw rate — the correct "
    "way to rank proportions with unequal sample sizes (a 2/2 = 100% "
    "nation must not outrank a 980/1000 = 98% one; raw-rate ranking is "
    "the classic small-sample fallacy). z² constants are folded to "
    "literals (1.9208 = z²/2, 3.8416 = z², 0.9604 = z²/4) so both "
    "engines evaluate the identical expression tree over exact integer "
    "counts — one float formula per GROUP, rounded 6dp, never per row. "
    "One fact-table aggregate (dims broadcast); the ranking runs on "
    "25 nation rows.",
    tags=("statistics", "ranking"),
)
def q_nation_return_rate_wilson(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
        )
    )
    p = F.col("n_returned").cast("double") / F.col("n_items")
    wilson = (
        p
        + F.lit(1.9208) / F.col("n_items")
        - F.lit(1.96)
        * F.sqrt(
            p * (F.lit(1) - p) / F.col("n_items")
            + F.lit(0.9604) / (F.col("n_items") * F.col("n_items"))
        )
    ) / (F.lit(1) + F.lit(3.8416) / F.col("n_items"))
    w = Window.orderBy(F.col("wilson_lower").desc(), F.col("nation").asc())
    return base.select(
        "nation",
        "n_items",
        "n_returned",
        F.round(p, 6).alias("rate"),
        F.round(wilson, 6).alias("wilson_lower"),
    ).withColumn("rnk", F.row_number().over(w).cast("long"))


@register(
    "signup_purchase_survival_km",
    oracle="""
WITH f AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup') AS s,
         min(ts) FILTER (WHERE event_type = 'purchase') AS p
  FROM events GROUP BY 1
),
obs AS (SELECT max(ts) AS obs_end FROM events),
durs AS (
  SELECT CAST(floor(CAST(date_diff('microsecond', s,
           CASE WHEN p IS NOT NULL AND p > s THEN p ELSE obs_end END) AS DOUBLE)
           / 3600000000) AS BIGINT) AS dur_h,
         CASE WHEN p IS NOT NULL AND p > s THEN 1 ELSE 0 END AS ev
  FROM f CROSS JOIN obs WHERE s IS NOT NULL
),
grid AS (
  SELECT dur_h, CAST(sum(ev) AS BIGINT) AS d,
         CAST(count(*) - sum(ev) AS BIGINT) AS c
  FROM durs GROUP BY 1
),
risk AS (
  SELECT dur_h, d, c,
         CAST(sum(d + c) OVER () AS BIGINT)
         - COALESCE(CAST(sum(d + c) OVER (
             ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS n_risk
  FROM grid
),
terms AS (
  SELECT dur_h, d, c, n_risk,
         CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
              WHEN n_risk > d
              THEN CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                              * 1000000, 0) AS BIGINT)
              ELSE NULL END AS lt
  FROM risk
),
km AS (
  SELECT dur_h, d, c, n_risk,
         CASE WHEN count(*) FILTER (WHERE lt IS NULL) OVER (
                ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) > 0 THEN NULL
              ELSE CAST(sum(lt) OVER (
                ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS BIGINT) END AS log_s_micro
  FROM terms
)
SELECT dur_h, d, c, n_risk,
       CAST(CAST(COALESCE(log_s_micro, 0) AS DECIMAL(24,6)) / 1000000
            AS DOUBLE) * CASE WHEN log_s_micro IS NULL THEN CAST('nan' AS DOUBLE)
                              ELSE 1 END AS log_survival,
       CASE WHEN log_s_micro IS NULL THEN 0.0
            ELSE round(exp(CAST(CAST(log_s_micro AS DECIMAL(24,6)) / 1000000
                                AS DOUBLE)), 6) END AS survival
FROM km
""",
    description="Kaplan-Meier product-limit survival curve for signup -> "
    "first-purchase latency with RIGHT-CENSORING (users who never "
    "convert are censored at the observation end, not dropped — dropping "
    "them is the classic conversion-latency bias). Durations bucket to "
    "hours; per bucket d events / c censored; risk sets come from one "
    "cumulative window over the AGGREGATED grid (<= observation-span "
    "rows, the only single-partition step); S(t) = prod (1 - d/n) "
    "accumulates as an INTEGER cumulative sum of per-bucket "
    "ln((n-d)/n) micros — the product becomes merge-order-independent "
    "integer addition (same discipline as BM25/QL scoring), with the "
    "n==d terminal case (S=0, log -inf) handled by an explicit identical "
    "CASE on both engines (NULL log, NaN marker, survival 0). The "
    "corpus-scale work is one per-user aggregate; everything after runs "
    "on the duration grid.",
    tags=("statistics", "timeseries", "survival"),
)
def q_signup_purchase_survival_km(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    obs = events.agg(F.max("ts").alias("obs_end"))
    conv = F.col("p").isNotNull() & (F.col("p") > F.col("s"))
    # timestampdiff(MICROSECOND) is NTZ-safe and timezone-free (unix_micros
    # requires TIMESTAMP and would drag the session zone into the math)
    delta_us = F.expr(
        "timestampdiff(MICROSECOND, s, "
        "CASE WHEN p IS NOT NULL AND p > s THEN p ELSE obs_end END)"
    )
    durs = (
        f.filter(F.col("s").isNotNull())
        .crossJoin(F.broadcast(obs))
        .select(
            F.floor(delta_us.cast("double") / F.lit(3600000000))
            .cast("long")
            .alias("dur_h"),
            conv.cast("int").alias("ev"),
        )
    )
    grid = durs.groupBy("dur_h").agg(
        F.sum("ev").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("c"),
    )
    w_all = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.withColumn(
        "n_risk",
        F.sum(F.col("d") + F.col("c")).over(w_all)
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
    )
    lt = (
        F.when(F.col("d") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_risk") > F.col("d"),
            F.round(
                F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk"))
                * 1e6,
                0,
            ).cast("long"),
        )
        .otherwise(F.lit(None).cast("long"))
    )
    terms = risk.withColumn("lt", lt)
    km = terms.withColumn(
        "log_s_micro",
        F.when(
            F.count_if(F.col("lt").isNull()).over(w_cum) > 0, F.lit(None)
        ).otherwise(F.sum("lt").over(w_cum)),
    )
    log_survival = (
        F.coalesce(F.col("log_s_micro"), F.lit(0)).cast("decimal(24,6)")
        / F.lit(1000000)
    ).cast("double") * F.when(
        F.col("log_s_micro").isNull(), F.lit(float("nan"))
    ).otherwise(F.lit(1.0))
    survival = F.when(F.col("log_s_micro").isNull(), F.lit(0.0)).otherwise(
        F.round(
            F.exp(
                (F.col("log_s_micro").cast("decimal(24,6)") / F.lit(1000000)).cast(
                    "double"
                )
            ),
            6,
        )
    )
    return km.select(
        "dur_h", "d", "c", "n_risk",
        log_survival.alias("log_survival"),
        survival.alias("survival"),
    )


@register(
    "ab_conversion_ztest",
    oracle="""
WITH assigned AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
         CASE WHEN min(ts) FILTER (WHERE event_type = 'purchase')
                   > min(ts) FILTER (WHERE event_type = 'signup')
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converted
  FROM events GROUP BY user_id
  HAVING min(ts) FILTER (WHERE event_type = 'signup') IS NOT NULL
),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY grp
),
wide AS (
  SELECT max(CASE WHEN grp = 0 THEN n END) AS n0,
         max(CASE WHEN grp = 0 THEN conv END) AS c0,
         max(CASE WHEN grp = 1 THEN n END) AS n1,
         max(CASE WHEN grp = 1 THEN conv END) AS c1
  FROM g
)
SELECT n0, c0, n1, c1,
       round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
       round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z,
       abs((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
           / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1.0 / n0 + 1.0 / n1))) > 1.96 AS significant_95
FROM wide
""",
    description="Two-proportion z-test on a deterministic 50/50 user split "
    "(user_id parity — reproducible assignment, no RNG state; swap in a "
    "salted hash for real experiments): per-user conversion (first "
    "purchase AFTER first signup — an everyone-converts metric gives "
    "pooled variance 0 and a 0/0 z; ANSI mode made that loud), group rates, pooled-variance z statistic and the 95% "
    "significance verdict — the A/B readout every experimentation "
    "pipeline computes, and the two-sample special case of the "
    "chi-squared independence test (priority_status_chi2; z² == that "
    "chi2 on a 2x2 table). One per-user aggregate (corpus-scale) then a "
    "2-row group rollup pivoted wide; the z formula is one float "
    "expression over exact integer counts, written identically in both "
    "engines, rounded 6dp. The strict > on the significance cut "
    "compares bit-identical doubles.",
    tags=("statistics", "abtest"),
)
def q_ab_conversion_ztest(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    assigned = (
        events.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
        )
        .filter(F.col("s").isNotNull())
        .select(
            F.pmod(F.col("user_id"), F.lit(2)).cast("long").alias("grp"),
            F.when(F.col("p") > F.col("s"), 1).otherwise(0).cast("long").alias("converted"),
        )
    )
    g = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c1"),
    )
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (r1 - r0) / F.sqrt(
        pool * (1 - pool) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(r0, 6).alias("rate0"),
        F.round(r1, 6).alias("rate1"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@register(
    "word_zipf_fit",
    oracle="""
WITH dw AS (
  SELECT lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS word
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM documents)
  WHERE lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) <> ''
),
freq AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM dw GROUP BY 1),
ranked AS (
  SELECT word, f,
         CAST(row_number() OVER (ORDER BY f DESC, word ASC) AS BIGINT) AS r
  FROM freq QUALIFY r <= 100
),
pts AS (SELECT r, f, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        FROM ranked)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope,
       round((sum(y) - ((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x))) * sum(x))
             / count(*), 6) AS intercept
FROM pts
""",
    description="Zipf's-law fit of the corpus rank-frequency curve: OLS "
    "slope of ln(freq) on ln(rank) over the top-100 words — natural "
    "text sits near slope -1; strong deviation flags synthetic, "
    "templated, or heavily duplicated corpora (a one-number corpus "
    "health metric beside doc-level quality scores). One corpus-scale "
    "word count; ranking and the closed-form OLS run on 100 rows. The "
    "ln inputs are exact integers (rank, count) so both engines feed "
    "identical doubles into the identical slope expression (the "
    "price_qty_ols_by_flag discipline), rounded 6dp. The top-100 "
    "cut is tie-broken (f DESC, word ASC) for a deterministic point "
    "set.",
    tags=("statistics", "text", "llm"),
)
def q_word_zipf_fit(spark, sf_dir):
    from mapreduce_paradigm_spark.functions import doc_words

    dw = doc_words(load_table(spark, sf_dir, "documents"))
    freq = dw.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("word").asc())
    ranked = freq.withColumn("r", F.row_number().over(w).cast("long")).filter(
        F.col("r") <= 100
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    intercept = (F.sum("y") - slope * F.sum("x")) / n
    return pts.agg(
        n.alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@register(
    "price_exact_median_histogram",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CAST(CAST(CAST(round(quantile_cont(
         CAST(round(l_extendedprice * 1000000, 0) AS BIGINT), 0.5) * 1, 0)
         AS BIGINT) AS DECIMAL(24,6)) / 1000000 AS DECIMAL(24,6)) AS DOUBLE)
         AS median_price
FROM lineitem
""",
    description="EXACT global median by iterative histogram refinement "
    "(operators/quantiles.py): each pass histograms the surviving value "
    "ranges into 1024 buckets, the driver sees ONLY the counts, picks "
    "the bucket holding each middle rank, and narrows — both middle "
    "ranks in the same passes, 4 of which settle a 10^12-micro range, "
    "each one scan + tiny aggregate, no "
    "global sort, no per-group value buffers (the failure modes of "
    "sort-based and percentile()-based medians at 100 TB; the sketch "
    "tier quantity_approx_percentiles trades exactness for ONE pass). "
    "Driver-side loop but never driver-side data: the classic "
    "distributed-selection construction. Result hash-matches the "
    "engine-native exact median oracle; both middle order statistics "
    "are found exactly (even-count average, micros-exact so the mean "
    "of two longs renders through the shared micros->decimal->double "
    "path).",
    tags=("statistics", "percentile", "iterative"),
)
def q_price_exact_median_histogram(spark, sf_dir):
    from decimal import Decimal

    from mapreduce_paradigm_spark.operators.quantiles import kth_smallest_long

    # every refinement pass rescans li: read the column once
    li = lifetime.persist(
        load_table(spark, sf_dir, "lineitem").select(
            F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("p_micro")
        )
    )
    n = li.count()
    k1, k2 = (n + 1) // 2, n // 2 + 1
    v = kth_smallest_long(li, "p_micro", {k1, k2})
    # (v1+v2)/2 in micros, rendered as exact decimal — micros are integers
    # so the midpoint is exact at half-micro precision; round to micro like
    # the oracle's quantile_cont output (integer inputs -> .0 or .5 -> the
    # round(x, 0) both engines share)
    # integer half-up (prices are positive): matches DuckDB round(x.5)=away
    # from zero, where Python round() would banker-round to even
    mid_micro = (v[k1] + v[k2] + 1) // 2
    med = float(Decimal(mid_micro) / Decimal(1000000))
    return li.sparkSession.createDataFrame(
        [(n, med)], "n_rows LONG, median_price DOUBLE"
    )


@register(
    "qty_weighted_median_price",
    oracle="""
WITH w AS (
  SELECT CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS p_micro,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
grid AS (
  SELECT p_micro, CAST(sum(wt) AS BIGINT) AS wt FROM w GROUP BY 1
),
cum AS (
  SELECT p_micro, wt,
         CAST(sum(wt) OVER (ORDER BY p_micro
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(sum(wt) OVER () AS BIGINT) AS tw
  FROM grid
)
SELECT CAST(CAST(CAST(min(p_micro) AS DECIMAL(24,6)) / 1000000
            AS DECIMAL(24,6)) AS DOUBLE) AS weighted_median_price
FROM cum WHERE 2 * cw >= tw
""",
    description="Quantity-weighted median price: the smallest price whose "
    "cumulative quantity weight reaches half the total — 'the price at "
    "which half the UNITS (not half the line items) ship', the "
    "inventory-weighted center no unweighted percentile sees. The "
    "comparison 2*cw >= tw is pure integers (micros prices, integer "
    "quantities), so the cut point is exact on both engines with no "
    "half-total float. Corpus-scale work is one (price -> weight) "
    "aggregate; the cumulative window runs on the distinct-price grid. "
    "At 100 TB swap the global window for the histogram-refinement "
    "loop (operators/quantiles.py generalizes to weighted ranks by "
    "summing weights per bucket instead of counts).",
    tags=("statistics", "percentile"),
)
def q_qty_weighted_median_price(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    grid = (
        li.select(
            F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("p_micro"),
            F.col("l_quantity").cast("long").alias("wt"),
        )
        .groupBy("p_micro")
        .agg(F.sum("wt").alias("wt"))
    )
    w_cum = Window.orderBy("p_micro").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("p_micro").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "p_micro",
        F.sum("wt").over(w_cum).alias("cw"),
        F.sum("wt").over(w_all).alias("tw"),
    )
    return cum.filter(2 * F.col("cw") >= F.col("tw")).agg(
        (F.min("p_micro").cast("decimal(24,6)") / F.lit(1000000))
        .cast("double")
        .alias("weighted_median_price")
    )


@register(
    "priority_neyman_allocation",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS s1,
         sum(CAST(CAST(round(o_totalprice * 1000000, 0) AS BIGINT) AS HUGEINT)
             * CAST(CAST(round(o_totalprice * 1000000, 0) AS BIGINT) AS HUGEINT))
           AS s2
  FROM orders GROUP BY 1
),
scored AS (
  SELECT stratum, n_h,
         n_h * sqrt(CAST(s2 AS DOUBLE) / n_h
                    - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h))
           AS nh_sigma
  FROM s
)
SELECT stratum, n_h,
       round(nh_sigma / sum(nh_sigma) OVER (), 6) AS alloc_share,
       CAST(round(1000 * nh_sigma / sum(nh_sigma) OVER (), 0) AS BIGINT)
         AS alloc_n
FROM scored
""",
    description="Neyman optimal allocation for stratified sampling: each "
    "stratum's share of a 1000-row sample budget proportional to "
    "N_h * sigma_h — the design that minimizes estimator variance for a "
    "fixed budget (equal or proportional allocation oversamples "
    "low-variance strata). Per-stratum sigma comes from exact integer "
    "power sums (the moment-stats discipline: shard-mergeable partials, "
    "one float formula per stratum at the end); the share denominator "
    "is a window over the 5-row strata table. Feeds the deterministic "
    "hash-threshold samplers (documents_stratified_sample) with "
    "variance-optimal rates instead of ad-hoc ones. One corpus "
    "aggregate; everything else is strata-count-scale.",
    tags=("statistics", "sampling"),
)
def q_priority_neyman_allocation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    p = F.round(F.col("o_totalprice") * 1e6, 0).cast("long")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(p).alias("s1"),
        # p² at price scale (~5e11 micros) overflows LONG; 128-bit decimal
        # accumulation keeps the power sum exact (moment-stats discipline)
        F.sum(p.cast("decimal(19,0)") * p.cast("decimal(19,0)")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_h")
    nh_sigma = F.col("n_h") * F.sqrt(
        F.col("s2").cast("double") / F.col("n_h") - mean * mean
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = s.select("stratum", "n_h", nh_sigma.alias("nh_sigma"))
    return scored.select(
        "stratum",
        "n_h",
        F.round(F.col("nh_sigma") / F.sum("nh_sigma").over(w), 6).alias("alloc_share"),
        F.round(F.lit(1000) * F.col("nh_sigma") / F.sum("nh_sigma").over(w), 0)
        .cast("long")
        .alias("alloc_n"),
    )


@register(
    "returnflag_exact_median_histogram",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(CAST(CAST(CAST(round(2 * quantile_cont(
           CAST(round(l_extendedprice * 1000000, 0) AS BIGINT), 0.5), 0)
           AS BIGINT) AS DECIMAL(24,6)) / 2000000 AS DECIMAL(24,6)) AS DOUBLE)
         AS median_price
FROM lineitem GROUP BY l_returnflag
""",
    description="Per-GROUP exact medians via simultaneous histogram "
    "refinement (operators/quantiles.py kth_smallest_long): one "
    "(group, bucket) histogram per pass narrows BOTH middle ranks of "
    "EVERY group at once — settled ranks drop out of the scan filter; driver "
    "state is O(groups), never group values. This is the scale path "
    "beside quantity_percentiles' percentile() (exact but buffers each "
    "group's values in executor memory — the thing that OOMs on a "
    "billion-row group) and the approx_percentile sketch tier. Both "
    "middle order statistics per group are found exactly; the midpoint "
    "renders through half-micros (x2 denominator) so even-count "
    "averages stay integer-exact end-to-end — no rounding convention "
    "to disagree on.",
    tags=("statistics", "percentile", "iterative"),
)
def q_returnflag_exact_median_histogram(spark, sf_dir):
    from decimal import Decimal

    from mapreduce_paradigm_spark.operators.quantiles import kth_smallest_long

    # every refinement pass rescans li: read the columns once
    li = lifetime.persist(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("p_micro"),
        )
    )
    counts = {
        r["flag"]: r["n"]
        for r in li.groupBy("flag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    mid = {k: ((n + 1) // 2, n // 2 + 1) for k, n in counts.items()}
    v = kth_smallest_long(li, "p_micro", {k: set(m) for k, m in mid.items()}, "flag")
    rows = [
        (
            k,
            counts[k],
            float(Decimal(v[k][mid[k][0]] + v[k][mid[k][1]]) / Decimal(2000000)),
        )
        for k in sorted(counts)
    ]
    return li.sparkSession.createDataFrame(
        rows, "l_returnflag STRING, n_rows LONG, median_price DOUBLE"
    )


@register(
    "user_value_runs_test",
    oracle="""
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vm) AS BIGINT) AS total
  FROM v GROUP BY 1
),
signed AS (
  SELECT v.user_id, v.ts, v.event_id,
         CASE WHEN v.vm * s.n > s.total THEN 1 ELSE 0 END AS sgn
  FROM v JOIN stats s ON v.user_id = s.user_id
  WHERE s.n >= 20 AND v.vm * s.n <> s.total
),
seq AS (
  SELECT user_id, sgn,
         lag(sgn) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM signed
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(sgn) AS BIGINT) AS n1,
         CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
         CAST(1 + count(*) FILTER (WHERE prev IS NOT NULL AND sgn <> prev)
              AS BIGINT) AS runs
  FROM seq GROUP BY 1
)
SELECT user_id, n1, n2, runs,
       round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 4) AS z
FROM agg WHERE n1 > 0 AND n2 > 0
""",
    description="Wald-Wolfowitz runs test per user: too FEW runs of "
    "above/below-mean values means trending/sticky behavior, too MANY "
    "means oscillation — the sequence-randomness screen that variance "
    "tests can't see (autocorrelation's nonparametric sibling; "
    "user_value_autocorr measures the same thing parametrically). The "
    "above-mean sign is the EXACT integer comparison v*n > Σv (no float "
    "mean, exact ties excluded by the same integer equality), run count "
    "is one lag() pass on the (ts, event_id) total order sharing the "
    "user partitioning, and the z formula is one identical float "
    "expression over exact counts, rounded 4dp.",
    tags=("statistics", "timeseries"),
)
def q_user_value_runs_test(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 1e6, 0).cast("long").alias("vm"),
    )
    stats = v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vm").alias("total")
    )
    signed = (
        v.join(F.broadcast(stats), "user_id")
        .filter((F.col("n") >= 20) & (F.col("vm") * F.col("n") != F.col("total")))
        .select(
            "user_id", "ts", "event_id",
            F.when(F.col("vm") * F.col("n") > F.col("total"), 1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = signed.select("user_id", "sgn", F.lag("sgn").over(w).alias("prev"))
    agg = seq.groupBy("user_id").agg(
        F.sum("sgn").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).alias("n2"),
        (
            F.lit(1)
            + F.count_if(F.col("prev").isNotNull() & (F.col("sgn") != F.col("prev")))
        ).cast("long").alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    e_runs = F.lit(2.0) * n1 * n2 / (n1 + n2) + 1
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - F.lit(1.0)))
    )
    return agg.filter((n1 > 0) & (n2 > 0)).select(
        "user_id", "n1", "n2", "runs",
        F.round((runs - e_runs) / F.sqrt(var), 4).alias("z"),
    )


@register(
    "click_purchase_mannwhitney_u",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
),
grid AS (
  SELECT vm,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS cnt1
  FROM v GROUP BY 1
),
ranked AS (
  SELECT vm, cnt, cnt1,
         COALESCE(CAST(sum(cnt) OVER (ORDER BY vm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS before
  FROM grid
),
agg AS (
  SELECT CAST(sum(cnt1) AS BIGINT) AS n1,
         CAST(sum(cnt - cnt1) AS BIGINT) AS n2,
         CAST(sum(cnt1 * (2 * before + cnt + 1)) AS BIGINT) AS r1_2x,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
  FROM ranked
)
SELECT n1, n2,
       CAST(CAST(CAST(r1_2x - n1 * (n1 + 1) AS DECIMAL(24,6)) / 2
            AS DECIMAL(24,6)) AS DOUBLE) AS u1,
       round(1.0 - CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / (n1 * n2), 6)
         AS rank_biserial,
       round(((r1_2x - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1 * n2 / 12.0
                    * ((n1 + n2 + 1.0)
                       - CAST(tie_cubes AS DOUBLE)
                         / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) AS z
FROM agg
""",
    description="Mann-Whitney U (Wilcoxon rank-sum) comparing click vs "
    "purchase value distributions — the nonparametric two-sample test "
    "that needs no normality assumption (the distributional companion "
    "of ab_conversion_ztest's proportions and qty_ks_statistic's max-"
    "gap). Rank arithmetic runs entirely on the DISTINCT-VALUE grid: "
    "tied values take average rank as the INTEGER 2·avg = 2·before + "
    "cnt + 1 (no fractional ranks anywhere), U derives from the "
    "doubled rank sum, and the tie-corrected variance consumes the "
    "exact Σ(t³−t). One corpus aggregate to the grid, one cumulative "
    "window over distinct values, one closed-form float — the entire "
    "test is three exact integers and a final expression both engines "
    "share. The rank-biserial effect size r = 1 - 2U/(n1*n2) rides "
    "along — significance without magnitude misleads at scale.",
    tags=("statistics", "abtest"),
)
def q_click_purchase_mannwhitney_u(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    grid = (
        ev.select(
            F.round(F.col("value") * 1e6, 0).cast("long").alias("vm"),
            (F.col("event_type") == "click").cast("int").alias("is1"),
        )
        .groupBy("vm")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("is1").alias("cnt1"))
    )
    w_prev = Window.orderBy("vm").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "vm", "cnt", "cnt1",
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias("before"),
    )
    agg = ranked.agg(
        F.sum("cnt1").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).alias("n2"),
        F.sum(
            F.col("cnt1") * (2 * F.col("before") + F.col("cnt") + 1)
        ).alias("r1_2x"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_cubes"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_2x = F.col("r1_2x") - n1 * (n1 + 1)
    z = (u1_2x / F.lit(2.0) - n1 * n2 / F.lit(2.0)) / F.sqrt(
        n1 * n2 / F.lit(12.0)
        * (
            (n1 + n2 + F.lit(1.0))
            - F.col("tie_cubes").cast("double") / ((n1 + n2) * (n1 + n2 - F.lit(1.0)))
        )
    )
    return agg.select(
        "n1", "n2",
        (u1_2x.cast("decimal(24,6)") / 2).cast("decimal(24,6)").cast("double").alias("u1"),
        # rank-biserial effect size r = 1 - 2U/(n1 n2): the magnitude the
        # p-value alone hides (a huge N makes trivial shifts 'significant')
        F.round(F.lit(1.0) - u1_2x.cast("double") / (n1 * n2), 6).alias(
            "rank_biserial"
        ),
        F.round(z, 4).alias("z"),
    )


@register(
    "price_qty_spearman",
    oracle="""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS p,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
pg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1
),
pr AS (
  SELECT p, 2 * COALESCE(CAST(sum(cnt) OVER (ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           + cnt + 1 AS r2
  FROM pg
),
qg AS (
  SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1
),
qr AS (
  SELECT q, 2 * COALESCE(CAST(sum(cnt) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           + cnt + 1 AS r2
  FROM qg
),
j AS (
  SELECT CAST(pr.r2 AS HUGEINT) AS x, CAST(qr.r2 AS HUGEINT) AS y
  FROM v JOIN pr ON v.p = pr.p JOIN qr ON v.q = qr.q
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM j
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS spearman_rho
FROM agg
""",
    description="Spearman rank correlation of price vs quantity — the "
    "monotone-association measure beside the Pearson matrix "
    "(lineitem_corr_matrix): outlier-robust and curvature-blind, "
    "rho = Pearson over average ranks. Ranks come from the two "
    "DISTINCT-VALUE grids as the integer 2·avg-rank identity "
    "(2·before + cnt + 1 — the MWU trick, tie-exact with no "
    "fractional ranks), join back broadcast, and the correlation is "
    "computed from exact 128-bit power sums of doubled ranks (n·(2n)² "
    "overflows LONG at 60k rows) with ONE shared closed-form "
    "expression. Rank grids are value-cardinality-scale; the only "
    "row-scale work is one join-back + one aggregate.",
    tags=("statistics", "mlprep"),
)
def q_price_qty_spearman(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("p"),
        F.col("l_quantity").cast("long").alias("q"),
    )

    def rank2(df, col):
        g = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return g.select(
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )

    pr = rank2(v, "p").withColumnRenamed("r2", "x")
    qr = rank2(v, "q").withColumnRenamed("r2", "y")
    j = (
        v.join(pr, "p")
        .join(F.broadcast(qr), "q")
        .select(
            F.col("x").cast("decimal(19,0)").alias("x"),
            F.col("y").cast("decimal(19,0)").alias("y"),
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return agg.select("n", F.round(num / den, 6).alias("spearman_rho"))


@register(
    "priority_status_residuals",
    oracle="""
WITH obs AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
),
margins AS (
  SELECT pri, st, o,
         CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT) AS row_n,
         CAST(sum(o) OVER (PARTITION BY st) AS BIGINT) AS col_n,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM obs
)
SELECT pri, st, o,
       round(CAST(row_n AS DOUBLE) * col_n / n, 4) AS expected,
       round((o - CAST(row_n AS DOUBLE) * col_n / n)
             / sqrt(CAST(row_n AS DOUBLE) * col_n / n
                    * (1 - CAST(row_n AS DOUBLE) / n)
                    * (1 - CAST(col_n AS DOUBLE) / n)), 4) AS adj_residual
FROM margins
""",
    description="Adjusted standardized residuals for the priority x "
    "status contingency table — WHICH cells drive the chi-squared "
    "(priority_status_chi2 says THAT association exists; |residual| > 2 "
    "says where): (O - E) / sqrt(E (1-row/n)(1-col/n)), the Haberman "
    "adjusted form whose cells are approximately unit normal. Margins "
    "come from windows over the aggregated contingency grid (cells x 1 "
    "rows, no second data scan); every input is an exact integer and "
    "the residual is one shared float expression, rounded 4dp.",
    tags=("statistics",),
)
def q_priority_status_residuals(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_r = Window.partitionBy("pri")
    w_c = Window.partitionBy("st")
    w_a = Window.partitionBy()
    m = obs.select(
        "pri", "st", "o",
        F.sum("o").over(w_r).alias("row_n"),
        F.sum("o").over(w_c).alias("col_n"),
        F.sum("o").over(w_a).alias("n"),
    )
    e = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    resid = (F.col("o") - e) / F.sqrt(
        e
        * (1 - F.col("row_n").cast("double") / F.col("n"))
        * (1 - F.col("col_n").cast("double") / F.col("n"))
    )
    return m.select(
        "pri", "st", "o",
        F.round(e, 4).alias("expected"),
        F.round(resid, 4).alias("adj_residual"),
    )


@register(
    "value_oneway_anova_f",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vm) AS BIGINT) AS s1,
         sum(CAST(vm AS HUGEINT) * CAST(vm AS HUGEINT)) AS s2
  FROM v GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(s1) AS BIGINT) AS st, CAST(sum(s2) AS DOUBLE) AS s2t,
         list_aggregate(
           list(CAST(s1 AS DOUBLE) * s1 / n ORDER BY event_type), 'sum')
           AS ssb_raw
  FROM g
)
SELECT nt AS n_obs, k AS n_groups,
       round(((ssb_raw - CAST(st AS DOUBLE) * st / nt) / (k - 1))
             / ((s2t - ssb_raw) / (nt - k)), 4)
         AS f_stat,
       round((ssb_raw - CAST(st AS DOUBLE) * st / nt)
             / (s2t - CAST(st AS DOUBLE) * st / nt), 6) AS eta_squared
FROM tot
""",
    description="One-way ANOVA F statistic for value ~ event_type: "
    "between-group vs within-group mean squares, entirely from per-group "
    "exact power sums (n, sum, 128-bit sum-of-squares — the "
    "shard-mergeable decomposition SSB = sum(s1_g^2/n_g) - S^2/N, "
    "SSW = sum(x^2) - sum(s1_g^2/n_g); no group means ever "
    "materialize). The parametric k-group companion of the two-sample "
    "tests (z, MWU): one corpus aggregate, one 5-row rollup, one "
    "shared float formula; the k per-group s1^2/n terms fold in "
    "event_type order on both engines (k floats summed in engine "
    "aggregation order would be the one nondeterministic step).",
    tags=("statistics", "abtest"),
)
def q_value_oneway_anova_f(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type", F.round(F.col("value") * 1e6, 0).cast("long").alias("vm")
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("s1"),
        F.sum(F.col("vm").cast("decimal(19,0)") * F.col("vm").cast("decimal(19,0)")).alias("s2"),
    )
    # per-group s1²/n computed ONCE in float64, folded in event_type order
    # (a plain float SUM over groups would depend on partition merge order;
    # exact decimal division differs from DuckDB's double division in the
    # sub-integer digits — the ordered fold sidesteps both)
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s1").alias("st"),
        F.sum("s2").alias("s2t"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(event_type, "
            "CAST(s1 AS DOUBLE) * s1 / n AS t))), x -> x.t), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("ssb_raw"),
    )
    nt, k = F.col("nt"), F.col("k")
    ssb_raw = F.col("ssb_raw")
    st = F.col("st").cast("double")
    s2t = F.col("s2t").cast("double")
    f_stat = ((ssb_raw - st * st / nt) / (k - 1)) / ((s2t - ssb_raw) / (nt - k))
    # eta² = SSB/SST: the effect size beside the F statistic (significance
    # without magnitude misleads at scale — same rationale as MWU's
    # rank-biserial)
    eta_sq = (ssb_raw - st * st / nt) / (s2t - st * st / nt)
    return tot.select(
        F.col("nt").alias("n_obs"),
        F.col("k").alias("n_groups"),
        F.round(f_stat, 4).alias("f_stat"),
        F.round(eta_sq, 6).alias("eta_squared"),
    )


# --- Benjamini-Hochberg FDR across a test family -----------------------------

# identical Abramowitz-Stegun 7.1.26 erf polynomial on both engines: only
# cross-engine exp() ulp differences can diverge, the ln/exp precedent the
# whole stats family already relies on (rounded at the edge).
# Two-sided p for a z statistic is erfc(|z|/sqrt(2)) = poly(tt)*exp(-zz^2)
# directly — A&S 7.1.26 writes erf = 1 - poly*exp(-x^2), so the complement
# IS the polynomial term (no leading "1 -"): pval(z=1.96) ~= 0.05,
# decreasing in |z| (pinned in tests/test_statistics.py).
_BH_P_SQL = (
    "(((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt"
    " - 0.284496736) * tt + 0.254829592) * tt) * exp(-zz * zz)"
)


@register(
    "nation_balance_bh_fdr",
    oracle=f"""
WITH cents AS (
  SELECT c_nationkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
),
g AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(v) AS BIGINT) AS s_i,
         CAST(sum(v * v) AS BIGINT) AS q_i
  FROM cents JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n_t, CAST(sum(s_i) AS BIGINT) AS s_t,
         CAST(sum(q_i) AS BIGINT) AS q_t
  FROM g
),
z AS (
  SELECT n_name, n_i,
         (s_i * 1.0 / n_i - (s_t - s_i) * 1.0 / (n_t - n_i))
         / sqrt(
             ((q_i - s_i * 1.0 * s_i / n_i) / (n_i - 1)) / n_i
             + (((q_t - q_i) - (s_t - s_i) * 1.0 * (s_t - s_i) / (n_t - n_i))
                / (n_t - n_i - 1)) / (n_t - n_i)
         ) AS zval
  FROM g, tot
),
p AS (
  SELECT n_name, n_i, zval,
         abs(zval) / sqrt(2.0) AS zz,
         1.0 / (1.0 + 0.3275911 * abs(zval) / sqrt(2.0)) AS tt
  FROM z
),
pv AS (
  SELECT n_name, n_i, zval, {_BH_P_SQL} AS pval FROM p
),
ranked AS (
  SELECT n_name, n_i, zval, pval,
         CAST(row_number() OVER (ORDER BY pval, n_name) AS BIGINT) AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pv
)
SELECT n_name, n_i, rnk,
       round(zval, 4) AS z,
       round(pval, 6) AS p,
       round(least(1.0, min(pval * m / rnk) OVER (
           ORDER BY rnk ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
       )), 6) AS p_adj,
       least(1.0, min(pval * m / rnk) OVER (
           ORDER BY rnk ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
       )) <= 0.10 AS reject_10
FROM ranked
""",
    description="Multiple-testing correction: Welch z of each nation's "
    "customer balance vs all other nations (25 simultaneous tests from "
    "one pass of exact integer-cents moments), two-sided p via the "
    "Abramowitz-Stegun erf polynomial (the SAME expression on both "
    "engines — only exp() ulps can differ, the family's ln precedent), "
    "then Benjamini-Hochberg step-up: rank p ascending, p_adj = "
    "monotone suffix-min of p*m/rank capped at 1, reject at FDR 10%. "
    "The correction every screening dashboard needs before flagging "
    "'significant' segments (25 uncorrected tests at alpha .05 "
    "expect ~1 false flag). Corpus work is ONE moments aggregate; "
    "ranking/windows run at test-family scale (25 rows), where a "
    "global window is group-scale, not corpus-scale. Full oracle.",
    tags=("statistics", "experimentation", "fdr"),
)
def q_nation_balance_bh_fdr(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = customer.select(
        "c_nationkey", F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v")
    )
    g = (
        cents.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            cents.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("v").alias("s_i"),
            F.sum(F.col("v") * F.col("v")).alias("q_i"),
        )
    )
    tot = g.agg(
        F.sum("n_i").alias("n_t"), F.sum("s_i").alias("s_t"), F.sum("q_i").alias("q_t")
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_i",
        (
            (F.col("s_i") * 1.0 / F.col("n_i")
             - (F.col("s_t") - F.col("s_i")) * 1.0 / (F.col("n_t") - F.col("n_i")))
            / F.sqrt(
                ((F.col("q_i") - F.col("s_i") * 1.0 * F.col("s_i") / F.col("n_i"))
                 / (F.col("n_i") - 1)) / F.col("n_i")
                + (((F.col("q_t") - F.col("q_i"))
                    - (F.col("s_t") - F.col("s_i")) * 1.0
                    * (F.col("s_t") - F.col("s_i"))
                    / (F.col("n_t") - F.col("n_i")))
                   / (F.col("n_t") - F.col("n_i") - 1))
                / (F.col("n_t") - F.col("n_i"))
            )
        ).alias("zval"),
    )
    p = z.select(
        "n_name",
        "n_i",
        "zval",
        (F.abs(F.col("zval")) / F.sqrt(F.lit(2.0))).alias("zz"),
        (1.0 / (1.0 + 0.3275911 * F.abs(F.col("zval")) / F.sqrt(F.lit(2.0)))).alias(
            "tt"
        ),
    ).select("n_name", "n_i", "zval", F.expr(_BH_P_SQL).alias("pval"))
    wrank = Window.orderBy("pval", "n_name")
    ranked = p.select(
        "n_name",
        "n_i",
        "zval",
        "pval",
        F.row_number().over(wrank).cast("long").alias("rnk"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("long")
        .alias("m"),
    )
    wsuffix = Window.orderBy("rnk").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    padj = F.least(
        F.lit(1.0), F.min(F.col("pval") * F.col("m") / F.col("rnk")).over(wsuffix)
    )
    return ranked.select(
        "n_name",
        "n_i",
        "rnk",
        F.round("zval", 4).alias("z"),
        F.round("pval", 6).alias("p"),
        F.round(padj, 6).alias("p_adj"),
        (padj <= 0.10).alias("reject_10"),
    )


# --- upper-tail dependence between two metrics ---------------------------------


@register(
    "customer_order_tail_dependence",
    oracle="""
WITH m AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM orders GROUP BY 1
),
b AS (
  SELECT quantile_cont(n_orders, 0.9) AS qn,
         quantile_cont(spend_c, 0.9) AS qs
  FROM m
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(*) FILTER (WHERE n_orders > qn) AS BIGINT) AS n_hi_orders,
       CAST(count(*) FILTER (WHERE spend_c > qs) AS BIGINT) AS n_hi_spend,
       CAST(count(*) FILTER (WHERE n_orders > qn AND spend_c > qs) AS BIGINT)
         AS n_joint,
       round(count(*) FILTER (WHERE n_orders > qn AND spend_c > qs) * 1.0
             / NULLIF(count(*) FILTER (WHERE n_orders > qn), 0), 6)
         AS tail_dep_lambda,
       round(count(*) FILTER (WHERE n_orders > qn AND spend_c > qs) * 1.0
               * count(*)
             / NULLIF(count(*) FILTER (WHERE n_orders > qn)
                      * count(*) FILTER (WHERE spend_c > qs), 0), 4)
         AS joint_lift
FROM m, b
""",
    description="Upper-tail dependence between order count and total "
    "spend per customer: lambda_U ~ P(spend > p90_spend | orders > "
    "p90_orders) plus the joint-exceedance lift vs independence — the "
    "co-extremes diagnostic Pearson correlation misses entirely (two "
    "metrics can be weakly correlated in the bulk yet always spike "
    "together, which is what capacity planning and risk care about). "
    "One customer-level aggregate; the two p90 boundaries come from "
    "one exact-percentile aggregate (Spark percentile == DuckDB "
    "quantile_cont, shared R-7 interpolation — the RFM convention, "
    "broadcast-compare, no global sort); exceedance is strict-> "
    "conditional ratios rounded at the edge. Full oracle.",
    tags=("statistics", "risk", "agg"),
)
def q_customer_order_tail_dependence(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "spend_c"
        ),
    )
    b = m.agg(
        F.expr("percentile(n_orders, 0.9D)").alias("qn"),
        F.expr("percentile(spend_c, 0.9D)").alias("qs"),
    )
    hi_n = F.col("n_orders") > F.col("qn")
    hi_s = F.col("spend_c") > F.col("qs")
    return (
        m.crossJoin(F.broadcast(b))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(hi_n.cast("long")).alias("n_hi_orders"),
            F.sum(hi_s.cast("long")).alias("n_hi_spend"),
            F.sum((hi_n & hi_s).cast("long")).alias("n_joint"),
        )
        .select(
            "n_customers",
            "n_hi_orders",
            "n_hi_spend",
            "n_joint",
            F.round(
                F.col("n_joint")
                * 1.0
                / F.nullif(F.col("n_hi_orders"), F.lit(0)),
                6,
            ).alias("tail_dep_lambda"),
            F.round(
                F.col("n_joint")
                * 1.0
                * F.col("n_customers")
                / F.nullif(
                    F.col("n_hi_orders") * F.col("n_hi_spend"), F.lit(0)
                ),
                4,
            ).alias("joint_lift"),
        )
    )
