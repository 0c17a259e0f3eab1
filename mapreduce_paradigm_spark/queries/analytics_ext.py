"""Round-4 batch 3: attribution, CDC compaction, distribution & regression.

Product-analytics and modeling operators beyond the reference's single
pipeline (``src/main.cpp``): multi-touch conversion attribution (range-join
aggregation), keep-latest-per-key compaction (the CDC upsert primitive),
equi-depth histograms (the quantile twin of the width_bucket equi-width
binning), per-group OLS regression from exact power sums, and the portable
string-parsing function suite.

All Catalyst-native; every query carries a full DuckDB hash oracle. Floats
follow the registry conventions (exact integer/decimal accumulation,
identical double trees, round at the edge).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import dsum
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- multi-touch attribution -------------------------------------------------


@register(
    "purchase_click_attribution",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(count(c.event_id) AS BIGINT) AS n_touches,
       min(c.ts) AS first_click_ts,
       max(c.ts) AS last_click_ts,
       round(1.0 / count(c.event_id), 4) AS linear_credit
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.event_id, p.user_id
""",
    description="Multi-touch conversion attribution: for every purchase, "
    "the click touches by the same user in the trailing hour — touch "
    "count, first/last touch (first-touch and last-touch attribution "
    "fall out as min/max), and the per-touch linear credit 1/n. A "
    "user-keyed range join (equi on user_id, time-band residual — the "
    "click_purchase_within_hour shape) feeding one aggregate keyed by "
    "purchase. At 100 TB both sides shuffle once on user_id and the "
    "band bounds the per-user pair explosion; purchases without "
    "touches drop out (inner join) — attribution only scores converting "
    "paths.",
    tags=("analytics", "attribution", "join", "events"),
)
def q_purchase_click_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("cuser"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("cts") < F.col("pts")),
        )
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count("click_id").cast("bigint").alias("n_touches"),
            F.min("cts").alias("first_click_ts"),
            F.max("cts").alias("last_click_ts"),
            F.round(F.lit(1.0) / F.count("click_id"), 4).alias(
                "linear_credit"
            ),
        )
    )


# --- keep-latest-per-key compaction (CDC upsert) -----------------------------


@register(
    "events_keep_latest_per_user_type",
    oracle="""
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
""",
    description="Keep-latest-per-key compaction — the CDC/upsert primitive "
    "that turns an append-only change log into current state (what "
    "Delta/Hudi MERGE and compaction jobs do): rank each (user, type) "
    "partition by event time (event_id breaks timestamp ties for a "
    "total order) and keep row 1. One window shuffle keyed by the "
    "entity key; Catalyst rewrites the rn=1 filter into "
    "WindowGroupLimit, so each partition keeps a 1-row running champion "
    "instead of materializing full sorted partitions — the same "
    "top-k-per-group plan the LATERAL suite pins. At 100 TB this runs "
    "per ingestion batch over only the changed keys' deltas.",
    tags=("analytics", "cdc", "window", "events"),
)
def q_events_keep_latest_per_user_type(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


# --- equi-depth histogram ----------------------------------------------------


@register(
    "price_equidepth_histogram",
    oracle="""
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(p_retailprice) AS lo,
       max(p_retailprice) AS hi
FROM (
  SELECT p_retailprice,
         CAST(ntile(8) OVER (ORDER BY p_retailprice, p_partkey)
              AS INTEGER) AS bucket
  FROM part
)
GROUP BY bucket
""",
    description="Equi-DEPTH histogram of part prices: ntile(8) over a "
    "tie-broken total order assigns equal-population buckets whose "
    "min/max edges are the empirical octiles — the quantile twin of "
    "price_histogram's equi-WIDTH width_bucket binning, and the "
    "statistics build CBOs and drift monitors run. The tie-break "
    "(price, partkey) makes bucket assignment a pure function of the "
    "data, so counts AND edges hash cross-engine. The global sort is "
    "the scale cost: at 100 TB swap ntile for approx_percentile "
    "cutpoints + width_bucket against them (the documented "
    "sketch-first pattern), same output shape.",
    tags=("analytics", "window", "histogram", "part"),
)
def q_price_equidepth_histogram(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    w = Window.orderBy("p_retailprice", "p_partkey")
    return (
        part.select(
            "p_retailprice", F.ntile(8).over(w).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("p_retailprice").alias("lo"),
            F.max("p_retailprice").alias("hi"),
        )
    )


# --- per-group OLS regression ------------------------------------------------


@register(
    "price_qty_ols_by_flag",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 1000000, 0) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM m GROUP BY 1
)
SELECT l_returnflag, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / n / 1000000, 4) AS intercept
FROM s
""",
    description="Per-group ordinary-least-squares fit (price ~ quantity): "
    "slope and intercept assembled from EXACT integer power sums "
    "(micros in long, cross/square products accumulated decimal/"
    "HUGEINT) instead of trusting cross-engine regr_slope "
    "implementations — the closed-form twin of user_value_trend's "
    "grouped-map least squares, here with zero Python. One aggregate, "
    "shard-mergeable partials, floats only in the two final "
    "deterministic formulas. Intercept is rescaled back to price units "
    "(the micros² terms cancel in the slope). The identical shape "
    "fits any per-segment trend at 100 TB.",
    tags=("analytics", "regression", "agg", "lineitem"),
)
def q_price_qty_ols_by_flag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 1e6, 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = m.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n")
        / F.lit(1000000.0)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
    )


# --- portable string-parsing suite -------------------------------------------


@register(
    "part_string_parsing_suite",
    oracle="""
SELECT p_partkey,
       split_part(p_name, ' ', 2) AS second_word,
       CAST(split_part(p_brand, '#', 2) AS BIGINT) AS brand_num,
       translate(p_type, 'AEIOU', 'aeiou') AS type_devoweled,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       reverse(p_brand) AS brand_rev,
       repeat('*', p_size % 4) AS stars
FROM part
""",
    description="String-parsing function suite on the part dimension: "
    "split_part field extraction (name word, brand number — with a "
    "numeric cast proving the extracted field is clean), translate "
    "character mapping, lpad zero-padding (fixed-width key rendering), "
    "reverse, and repeat — the portable slice of the two engines' "
    "string libraries (initcap/substring_index/overlay exist only on "
    "one side and are deliberately excluded). All per-row JVM codegen, "
    "no shuffle; at 100 TB this is a pure map stage reading exactly "
    "the four referenced columns.",
    tags=("functions", "string", "part"),
)
def q_part_string_parsing_suite(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias(
            "second_word"
        ),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2))
        .cast("bigint")
        .alias("brand_num"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_devoweled"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 4)).alias("stars"),
    )


# --- skew-salted join --------------------------------------------------------


@register(
    "revenue_by_segment_salted_join",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    description="Skew-salted equi-join (operators/salted.py salted_join): "
    "the big side carries a deterministic xxhash64 salt, the dimension "
    "side is replicated once per salt value, and the join runs on "
    "(key, salt) — a hot customer's orders spread across 8 reducers "
    "instead of one. The plain-join oracle hash-certifies that salting "
    "is semantically invisible. This is the pattern for the gap between "
    "broadcast joins (dimension too big/dynamic) and AQE skew handling "
    "(kicks in only above partition-size thresholds); salt the "
    "aggregation the same way when the downstream groupBy shares the "
    "hot key (salted_agg). Salt is derived from data (rerun- and "
    "retry-stable), never from partition id on the salted side.",
    tags=("join", "skew", "scale", "orders"),
)
def q_revenue_by_segment_salted_join(spark, sf_dir):
    from mapreduce_paradigm_spark.functions import dsum as _dsum
    from mapreduce_paradigm_spark.operators.salted import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = salted_join(orders, cust, "o_custkey", "c_custkey", buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        _dsum(F.col("o_totalprice"), "revenue"),
    )


# --- overlapping-interval merge (islands) ------------------------------------


@register(
    "user_activity_interval_merge",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN s <= max(e) OVER (
             PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (
             PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM marked
)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       min(s) AS span_start, max(e) AS span_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(datediff('second', min(s), max(e)) AS BIGINT) AS span_seconds
FROM islands
GROUP BY user_id, island_id
""",
    description="Overlapping-interval merge (union of intervals): each "
    "event opens a 30-minute activity interval; per user, intervals "
    "whose start falls inside the running maximum end of all earlier "
    "intervals merge into one island (the classic cumulative-max "
    "gaps-and-islands construction — correct even when a long interval "
    "SWALLOWS later short ones, which naive lag()-based sessionization "
    "gets wrong). Output: consolidated spans with event counts and "
    "covered seconds — interval coverage for billing/SLA/activity "
    "accounting. Two same-partitioning window passes + one aggregate, "
    "all keyed by user; at 100 TB nothing shuffles twice. The "
    "timestamp-typed running max and integer datediff keep every "
    "output exactly representable cross-engine.",
    tags=("analytics", "window", "intervals", "events"),
)
def q_user_activity_interval_merge(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("s") <= F.max("e").over(wprev), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    islands = marked.withColumn(
        "island_id", F.sum("new_island").over(wrun)
    )
    return islands.groupBy(
        "user_id", F.col("island_id").cast("bigint").alias("island_id")
    ).agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            F.unix_timestamp(F.max("e")) - F.unix_timestamp(F.min("s"))
        )
        .cast("bigint")
        .alias("span_seconds"),
    )


# --- consecutive-event streaks -----------------------------------------------


@register(
    "user_event_streaks",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
),
runs AS (
  SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS streak_len
  FROM seq GROUP BY user_id, event_type, rn_all - rn_type
)
SELECT user_id, event_type,
       max(streak_len) AS max_streak,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs
GROUP BY user_id, event_type
""",
    description="Consecutive-event streaks per (user, type) via the "
    "rn − rn_type gaps-and-islands identity: within a user's total event "
    "order, a run of equal types has constant (global rank − per-type "
    "rank), so grouping on that difference materializes every run "
    "without self-joins or iteration. Output: longest streak and run "
    "count — the habit/burst signal (and the repetition analog of the "
    "SCD2 run collapse, which keeps run EDGES where this keeps run "
    "LENGTHS). Both window ranks share one user-keyed partitioning; "
    "the two aggregates run on collapsed keys. Integer-only outputs.",
    tags=("analytics", "window", "events"),
)
def q_user_event_streaks(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "grp"
        ),
    )
    runs = seq.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len")
    )
    return runs.groupBy("user_id", "event_type").agg(
        F.max("streak_len").alias("max_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
    )


# --- Benford leading-digit profile -------------------------------------------


@register(
    "orders_benford_digits",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 6) AS observed_p,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p
FROM c, t
""",
    description="Benford's-law leading-digit profile of order totals — the "
    "classic fraud/data-fabrication screen (organic multiplicative "
    "amounts follow P(d)=log10(1+1/d); fabricated ones don't). Leading "
    "digit via integer→string head (no float log tricks), observed "
    "share from exact counts, expected share as the same closed form "
    "on both engines. One aggregate to ≤9 rows + a broadcast total; "
    "compare observed vs expected with the chi-squared shape "
    "(priority_status_chi2) for an alerting pipeline. Map-side "
    "partials make this corpus-size-independent after the scan.",
    tags=("analytics", "quality", "agg", "orders"),
)
def q_orders_benford_digits(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "observed_p"
        ),
        F.round(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
            / F.log(F.lit(10.0)),
            6,
        ).alias("benford_p"),
    )


# --- calendar dimension generation -------------------------------------------


@register(
    "calendar_dim_from_orders",
    oracle="""
WITH b AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
         CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders
),
d AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
      AS cal_date
  FROM b
)
SELECT strftime(cal_date, '%Y-%m-%d') AS cal_date,
       CAST(year(cal_date) AS INTEGER) AS yr,
       CAST(quarter(cal_date) AS INTEGER) AS qtr,
       CAST(month(cal_date) AS INTEGER) AS mth,
       CAST(dayofweek(cal_date) + 1 AS INTEGER) AS dow_sun1,
       cal_date = last_day(cal_date) AS is_month_end
FROM d
""",
    description="Calendar dimension generated from the fact table's own "
    "date bounds: a dense day spine (sequence/explode — never a driver "
    "loop) decorated with year/quarter/month, the cross-engine "
    "Sunday=1 day-of-week, and a month-end flag — the conformed "
    "dimension every warehouse join-dates against (and the left side "
    "of gap-free reporting joins, cf. events_hourly_gap_fill). The "
    "2-row bounds aggregate is the only scan; the spine is generated, "
    "so at 100 TB this costs one reduced scalar pair regardless of "
    "fact volume.",
    tags=("warehouse", "calendar", "generator"),
)
def q_calendar_dim_from_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    d = b.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("cal_date")
    )
    return d.select(
        F.date_format("cal_date", "yyyy-MM-dd").alias("cal_date"),
        F.year("cal_date").cast("int").alias("yr"),
        F.quarter("cal_date").cast("int").alias("qtr"),
        F.month("cal_date").cast("int").alias("mth"),
        F.dayofweek("cal_date").cast("int").alias("dow_sun1"),
        (F.col("cal_date") == F.last_day("cal_date")).alias(
            "is_month_end"
        ),
    )


# --- survivorship-policy dedup (keep best copy) ------------------------------


@register(
    "dedup_keep_best_copy",
    oracle="""
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(max(n_chars * 10000000000 + doc_id) % 10000000000 AS BIGINT)
           AS keep_doc_id,
       CAST(max(n_chars * 10000000000 + doc_id) // 10000000000 AS BIGINT)
           AS keep_n_chars
FROM documents
GROUP BY 1
""",
    description="Survivorship-policy dedup: within each exact-duplicate "
    "group (whitespace-normalized text hash), keep the BEST copy — "
    "longest raw form, doc_id as tie-break — rather than dedup_exact's "
    "min-id policy. The (quality, id) argmax is packed into one BIGINT "
    "(quality·10^10 + id: exact while quality < 9.2·10^8 and id < "
    "10^10 — asserted bounds for this corpus; at larger id spaces use "
    "max(struct) which both engines order lexicographically) so a "
    "single portable max aggregate carries both fields through the "
    "shuffle — same single-exchange shape as dedup_exact, and the "
    "pattern extends to any scored survivorship rule (quality_features "
    "output, recency, source priority).",
    tags=("dedup", "llm", "agg"),
)
def q_dedup_keep_best_copy(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    packed = F.col("n_chars") * F.lit(10000000000) + F.col("doc_id")
    return (
        docs.select(
            F.md5(normalized_text(F.col("text"))).alias("text_hash"),
            packed.alias("pk"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            (F.max("pk") % F.lit(10000000000))
            .cast("bigint")
            .alias("keep_doc_id"),
            F.floor(F.max("pk") / F.lit(10000000000))
            .cast("bigint")
            .alias("keep_n_chars"),
        )
    )


# --- DAU / WAU stickiness ----------------------------------------------------


@register(
    "dau_wau_stickiness",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
  FROM events
),
dau AS (
  SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1
),
contrib AS (
  SELECT CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS target_d,
         user_id
  FROM du
),
wau AS (
  SELECT target_d AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM contrib GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS d, dau.dau, wau.wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
""",
    description="DAU/WAU stickiness: daily actives over trailing-7-day "
    "actives — the product-engagement ratio. Trailing DISTINCT counts "
    "don't slide (distinct is not subtractable), so instead of a "
    "range self-join each (day, user) pair CONTRIBUTES itself to its "
    "next 7 days (sequence/explode, bounded ×7 blow-up of the already-"
    "deduped day-user pairs) and WAU is a plain count-distinct per "
    "target day; days with no activity drop via the inner join. At "
    "100 TB the deduped (day, user) stream is orders of magnitude "
    "smaller than raw events, the ×7 fan-out is map-side, and both "
    "counts partial-aggregate; swap count_distinct for HLL sketch "
    "union (priority_customer_hll_rollup pattern) when user "
    "cardinality per window outgrows exact counting.",
    tags=("analytics", "engagement", "agg", "events"),
)
def q_dau_wau_stickiness(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
    ).distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = du.select(
        F.explode(
            F.sequence(
                "d", F.date_add("d", 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("d_target"),
        "user_id",
    )
    wau = contrib.groupBy(F.col("d_target").alias("d")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return dau.join(wau, "d").select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


# --- funnel time-to-convert --------------------------------------------------


@register(
    "funnel_time_to_convert",
    oracle="""
WITH fv AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
fp AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
  GROUP BY 1
),
lat AS (
  SELECT fv.user_id,
         CAST(datediff('second', fv.first_view, fp.first_purchase)
              AS BIGINT) AS secs
  FROM fv JOIN fp ON fv.user_id = fp.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converters,
       CAST(min(secs) AS BIGINT) AS min_secs,
       quantile_cont(secs, 0.5) AS p50_secs,
       quantile_cont(secs, 0.9) AS p90_secs,
       CAST(max(secs) AS BIGINT) AS max_secs
FROM lat
""",
    description="Funnel time-to-convert: for users whose first purchase "
    "follows their first view, the view→purchase latency distribution "
    "(min/p50/p90/max seconds) — the metric that turns the funnel's "
    "WHO into HOW FAST. First-touch timestamps are per-user min "
    "aggregates (partial-combined map-side); latencies are exact "
    "integer seconds, and the exact interpolated percentiles are the "
    "proven percentile==quantile_cont pair. Two user-keyed aggregates "
    "+ one join on the same key — a 100 TB event log shuffles once per "
    "stage on user_id; swap exact percentiles for approx_percentile "
    "at extreme converter counts.",
    tags=("analytics", "funnel", "percentiles", "events"),
)
def q_funnel_time_to_convert(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = fv.join(fp, "user_id").select(
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_view")
        )
        .cast("bigint")
        .alias("secs")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters"),
        F.min("secs").cast("bigint").alias("min_secs"),
        F.expr("percentile(secs, 0.5)").alias("p50_secs"),
        F.expr("percentile(secs, 0.9)").alias("p90_secs"),
        F.max("secs").cast("bigint").alias("max_secs"),
    )


# --- cohort LTV curve --------------------------------------------------------


@register(
    "cohort_ltv_curve",
    oracle="""
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         o_totalprice
  FROM orders
),
cohort AS (SELECT o_custkey, min(m) AS m0,
                  CAST(count(DISTINCT o_custkey) AS BIGINT) AS _x
           FROM om GROUP BY 1),
csize AS (SELECT m0, CAST(count(*) AS BIGINT) AS cohort_users
          FROM cohort GROUP BY 1),
rev AS (
  SELECT cohort.m0 AS cohort_month, om.m - cohort.m0 AS month_offset,
         CAST(sum(CAST(round(om.o_totalprice * 1000000, 0) AS BIGINT))
              AS BIGINT) AS micros
  FROM om JOIN cohort ON om.o_custkey = cohort.o_custkey
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_month, month_offset,
         sum(micros) OVER (
             PARTITION BY cohort_month ORDER BY month_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_micros
  FROM rev
)
SELECT cum.cohort_month, cum.month_offset,
       CAST(cum_micros AS DOUBLE) / 1000000.0 AS cum_revenue,
       CAST(cum_micros // cohort_users AS DOUBLE) / 1000000.0
           AS ltv_per_user
FROM cum JOIN csize ON cum.cohort_month = csize.m0
""",
    description="Cohort LTV curve: cumulative revenue per first-order-month "
    "cohort across month offsets, normalized per cohort user — the "
    "lifetime-value trajectory that prices acquisition. Builds on the "
    "retention-cohort integer month arithmetic; revenue accumulates in "
    "EXACT long micros, and the running total is a window over the "
    "already-aggregated (cohort × offset) grid — cheap however large "
    "the fact table — with the ABC-classification rationale for why a "
    "float running sum would not hash cross-engine. Cohort sizes join "
    "back broadcast. The _x count in the cohort CTE is vestigial-free: "
    "it is projected away by the join.",
    tags=("analytics", "cohort", "window", "orders"),
)
def q_cohort_ltv_curve(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        "o_totalprice",
    )
    cohort = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    csize = cohort.groupBy("m0").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    rev = (
        om.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("month_offset"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 1e6, 0).cast("long")
            )
            .cast("bigint")
            .alias("micros")
        )
    )
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_month",
        "month_offset",
        F.sum("micros").over(wcum).alias("cum_micros"),
    )
    cum_rev = F.col("cum_micros").cast("double") / F.lit(1000000.0)
    return cum.join(
        F.broadcast(csize),
        cum.cohort_month == csize.m0,
    ).select(
        "cohort_month",
        "month_offset",
        cum_rev.alias("cum_revenue"),
        (
            F.expr("cum_micros div cohort_users").cast("double")
            / F.lit(1000000.0)
        ).alias("ltv_per_user"),
    )


# --- month-over-month rank movers --------------------------------------------


@register(
    "brand_rank_moves_monthly",
    oracle="""
WITH rev AS (
  SELECT p_brand,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS m,
         CAST(sum(CAST(round(l_extendedprice * 1000000, 0) AS BIGINT))
              AS BIGINT) AS micros
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT p_brand, m,
         CAST(rank() OVER (PARTITION BY m
                           ORDER BY micros DESC, p_brand) AS BIGINT) AS rnk
  FROM rev
)
SELECT p_brand, m, rnk,
       lag(rnk) OVER (PARTITION BY p_brand ORDER BY m) AS prev_rnk,
       lag(rnk) OVER (PARTITION BY p_brand ORDER BY m) - rnk AS rank_gain
FROM ranked
""",
    description="Month-over-month rank movers: monthly brand revenue ranks "
    "(exact-micros revenue, brand tie-break → total order) and each "
    "brand's rank change vs its previous month — the 'top movers' "
    "leaderboard-delta every BI dashboard carries. Two windows over the "
    "AGGREGATED (brand × month) grid, partitioned differently (by "
    "month for the rank, by brand for the lag) — both trivially cheap "
    "because they run on ~|brands|·|months| rows, never on the fact "
    "table; the single data-scale shuffle is the revenue groupBy. "
    "First-month rows keep NULL prev/gain (standard SQL lag "
    "semantics, matched cross-engine).",
    tags=("analytics", "window", "lineitem"),
)
def q_brand_rank_moves_monthly(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 1e6, 0).cast("long"))
            .cast("bigint")
            .alias("micros")
        )
    )
    wrank = Window.partitionBy("m").orderBy(
        F.desc("micros"), F.asc("p_brand")
    )
    ranked = rev.select(
        "p_brand", "m", F.rank().over(wrank).cast("bigint").alias("rnk")
    )
    wlag = Window.partitionBy("p_brand").orderBy("m")
    return ranked.select(
        "p_brand",
        "m",
        "rnk",
        F.lag("rnk").over(wlag).alias("prev_rnk"),
        (F.lag("rnk").over(wlag) - F.col("rnk")).alias("rank_gain"),
    )


# --- keyword-in-context (KWIC) snippets --------------------------------------


@register(
    "kwic_snippets",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS a
  FROM documents
),
hits AS (
  SELECT doc_id, a,
         unnest(a) AS w,
         generate_subscripts(a, 1) AS p
  FROM toks
)
SELECT doc_id, CAST(p AS BIGINT) AS pos,
       array_to_string(a[greatest(1, p - 2):least(len(a), p + 2)], ' ')
           AS snippet
FROM hits WHERE w = 'spark'
""",
    description="Keyword-in-context (KWIC) snippet extraction: every "
    "occurrence of the query term with its ±2-token window — what a "
    "search engine renders under each hit, and the context-window "
    "extraction LLM retrieval pipelines run after index lookup. "
    "posexplode finds all positions (not just the first — the "
    "positional-index semantics, cf. proximity_match_slop), the "
    "snippet is an in-array slice of the SAME tokenization, so no "
    "second pass over the text and no shuffle at all — pure per-row "
    "codegen; at 100 TB this is a map stage over only matching docs "
    "once a pushed-down term filter (or the positional index) prunes "
    "the scan.",
    tags=("text", "search", "flagship", "documents"),
)
def q_kwic_snippets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim("text")), r"\s+").alias("a"),
    )
    hits = toks.select(
        "doc_id", "a", F.posexplode("a").alias("p0", "w")
    ).filter(F.col("w") == "spark")
    p = F.col("p0") + 1
    start = F.greatest(F.lit(1), p - 2)
    end = F.least(F.size("a"), p + 2)
    return hits.select(
        "doc_id",
        p.cast("bigint").alias("pos"),
        F.array_join(
            F.slice("a", start, end - start + 1), " "
        ).alias("snippet"),
    )


# --- 2D skyline (Pareto frontier) --------------------------------------------


@register(
    "orders_price_date_skyline",
    oracle="""
WITH grid AS (
  SELECT CAST(round(o_totalprice * 1000000, 0) AS BIGINT) AS p_micro,
         o_orderdate, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
),
flagged AS (
  SELECT p_micro, o_orderdate, n_orders,
         max(epoch(o_orderdate)) OVER (
           ORDER BY p_micro DESC, o_orderdate DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_prev_date
  FROM grid
)
SELECT CAST(CAST(CAST(p_micro AS DECIMAL(24,6)) / 1000000 AS DECIMAL(24,6))
            AS DOUBLE) AS o_totalprice,
       o_orderdate, n_orders
FROM flagged
WHERE best_prev_date IS NULL OR epoch(o_orderdate) > best_prev_date
""",
    description="2D skyline (Pareto frontier) over (o_totalprice DESC, "
    "o_orderdate DESC): the orders no other order beats on BOTH price and "
    "recency — the multi-criteria top-k generalization (maximal vectors, "
    "Borzsony et al. ICDE'01). Algorithm: on the distinct (price, date) "
    "grid sorted by (price DESC, date DESC), a point survives iff its "
    "date strictly exceeds the running max date of all prior rows — an "
    "O(n log n) single window pass, never the O(n²) dominance self-join. "
    "The Spark plan is the textbook DISTRIBUTED skyline: phase 1 computes "
    "LOCAL skylines inside arbitrary hash buckets (local pruning is "
    "semantically invisible — a locally dominated point is globally "
    "dominated under any partitioning), shrinking the input massively "
    "before phase 2 runs the same window globally on survivors; only the "
    "(tiny) frontier-candidate set ever single-partitions. Prices "
    "compare as exact integer micros; date ties in both dims collapse "
    "into grid cells with counts (equal points co-survive by "
    "definition).",
    tags=("analytics", "window", "skyline"),
)
def q_orders_price_date_skyline(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    grid = orders.groupBy(
        F.round(F.col("o_totalprice") * 1e6, 0).cast("long").alias("p_micro"),
        "o_orderdate",
    ).agg(F.count(F.lit(1)).alias("n_orders"))

    def skyline(df, partition_cols):
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("p_micro").desc(), F.col("o_orderdate").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        best_prev = F.max(F.unix_timestamp("o_orderdate")).over(w)
        return df.withColumn("bp", best_prev).filter(
            F.col("bp").isNull() | (F.unix_timestamp("o_orderdate") > F.col("bp"))
        ).drop("bp")

    # phase 1: local skylines in 32 hash buckets (bucket column is only a
    # window partition key — any assignment is correct)
    local = skyline(
        grid.withColumn("b", F.pmod(F.xxhash64("p_micro", "o_orderdate"), F.lit(32))),
        ["b"],
    ).drop("b")
    # phase 2: exact global pass over the surviving candidates
    return skyline(local, []).select(
        (F.col("p_micro").cast("decimal(24,6)") / F.lit(1000000))
        .cast("double")
        .alias("o_totalprice"),
        "o_orderdate",
        "n_orders",
    )


# --- revenue concentration (Gini / HHI) --------------------------------------


@register(
    "nation_revenue_concentration",
    oracle="""
WITH per_cust AS (
  SELECT n.n_name AS nation, c.c_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nation, rev,
         CAST(row_number() OVER (
           PARTITION BY nation ORDER BY rev ASC, c_custkey ASC
         ) AS BIGINT) AS i,
         CAST(rev AS DOUBLE) / sum(rev) OVER (PARTITION BY nation) AS share
  FROM per_cust
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       round((2.0 * sum(i * rev)) / (count(*) * sum(rev))
             - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini,
       round(sum(share * share), 6) AS hhi
FROM ranked
GROUP BY nation
""",
    description="Revenue concentration per nation: the Gini coefficient "
    "via the sorted-rank identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n "
    "(exact INTEGER sums all the way to one final division — no "
    "Lorenz-curve interpolation) and the Herfindahl-Hirschman index "
    "(sum of squared revenue shares) beside it — whale-dependence "
    "metrics for revenue risk, and for corpus curation the same math "
    "flags source/domain concentration. One fact aggregate to "
    "per-customer revenues, one nation-keyed window for ranks and "
    "share denominators (same partitioning, no extra shuffle), one "
    "final rollup. Ranks tie-break on custkey so i*x_i is "
    "deterministic (ties in rev permute i but x equal ⇒ sum "
    "invariant; the tiebreak still pins the plan).",
    tags=("analytics", "statistics"),
)
def q_nation_revenue_concentration(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev")
        )
    )
    wr = Window.partitionBy("nation").orderBy(
        F.col("rev").asc(), F.col("c_custkey").asc()
    )
    ws = Window.partitionBy("nation")
    ranked = per_cust.select(
        "nation",
        "rev",
        F.row_number().over(wr).cast("long").alias("i"),
        (F.col("rev").cast("double") / F.sum("rev").over(ws)).alias("share"),
    )
    return ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("i") * F.col("rev")))
            / (F.count(F.lit(1)) * F.sum("rev"))
            - (F.count(F.lit(1)) + 1).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
    )


@register(
    "customer_top_decile_revenue_share",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT rev,
         CAST(row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS BIGINT)
           AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM per_cust
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN rn * 10 <= n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top_decile,
       round(CAST(sum(CASE WHEN rn * 10 <= n THEN rev ELSE 0 END) AS DOUBLE)
             / sum(rev), 6) AS top_decile_share
FROM ranked
""",
    description="Pareto concentration readout: the revenue share captured "
    "by the top decile of customers — the 80/20 KPI that the full Gini/"
    "HHI profile (nation_revenue_concentration) summarizes into one "
    "slide-ready number. The decile cut is the pure-integer predicate "
    "rn*10 <= n (no float percentile of n), ranks tie-break on custkey, "
    "and the share is one division of exact micro sums. One fact "
    "aggregate, one rank window over the per-customer grid, one rollup.",
    tags=("analytics", "statistics"),
)
def q_customer_top_decile_revenue_share(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev")
    )
    wr = Window.orderBy(F.col("rev").desc(), F.col("o_custkey").asc())
    wn = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = per_cust.select(
        "rev",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    top = F.when(F.col("rn") * 10 <= F.col("n"), 1).otherwise(0)
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.sum(top).alias("n_top_decile"),
        F.round(
            F.sum(F.when(F.col("rn") * 10 <= F.col("n"), F.col("rev")).otherwise(0))
            .cast("double")
            / F.sum("rev"),
            6,
        ).alias("top_decile_share"),
    )


@register(
    "customer_lorenz_deciles",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT rev,
         CAST(row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS BIGINT)
           AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM per_cust
),
by_decile AS (
  SELECT ((rn - 1) * 10) // n + 1 AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(rev) AS BIGINT) AS rev
  FROM ranked GROUP BY 1
)
SELECT decile, n_customers,
       round(CAST(rev AS DOUBLE) / sum(rev) OVER (), 6) AS rev_share,
       round(CAST(sum(rev) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / sum(rev) OVER (), 6) AS cum_share
FROM by_decile
""",
    description="Lorenz curve at decile resolution: customers ranked by "
    "revenue ascending, per-decile and cumulative revenue shares — the "
    "plot-ready curve whose area deficit IS the Gini "
    "(nation_revenue_concentration) and whose last point is the "
    "top-decile KPI (customer_top_decile_revenue_share); all three "
    "registered because analysts consume concentration at all three "
    "granularities. Decile assignment is the pure-integer "
    "((rn-1)*10)/n + 1 (ntile's equal-fill semantics without a second "
    "window function), shares are single divisions of exact micro "
    "sums; the windows after the per-customer aggregate run on a "
    "10-row grid.",
    tags=("analytics", "statistics"),
)
def q_customer_lorenz_deciles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev")
    )
    wr = Window.orderBy(F.col("rev").asc(), F.col("o_custkey").asc())
    wn = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = per_cust.select(
        "rev",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    by_decile = ranked.groupBy(
        (((F.col("rn") - 1) * 10 / F.col("n")).cast("long") + 1).alias("decile")
    ).agg(F.count(F.lit(1)).alias("n_customers"), F.sum("rev").alias("rev"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return by_decile.select(
        "decile",
        "n_customers",
        F.round(F.col("rev").cast("double") / F.sum("rev").over(w_all), 6).alias(
            "rev_share"
        ),
        F.round(
            F.sum("rev").over(w_cum).cast("double") / F.sum("rev").over(w_all), 6
        ).alias("cum_share"),
    )


# --- RFM segmentation ----------------------------------------------------------


@register(
    "user_rfm_segments",
    oracle="""
WITH mx AS (SELECT max(ts) AS maxts FROM events),
rfm AS (
  SELECT user_id,
         -- whole ELAPSED hours (Spark timestampdiff semantics), not
         -- date_diff's hour-boundary crossings
         CAST((epoch_us((SELECT maxts FROM mx)) - epoch_us(max(ts)))
              // 3600000000 AS BIGINT) AS recency_hours,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(COALESCE(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                       FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
           AS monetary_micros
  FROM events GROUP BY 1
),
b AS (
  SELECT quantile_cont(recency_hours, [0.2, 0.4, 0.6, 0.8]) AS rb,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
         quantile_cont(monetary_micros, [0.2, 0.4, 0.6, 0.8]) AS mb
  FROM rfm
),
scored AS (
  SELECT r.user_id, r.recency_hours, r.frequency, r.monetary_micros,
         CAST(6 - (1 + (r.recency_hours > b.rb[1])::INT
                     + (r.recency_hours > b.rb[2])::INT
                     + (r.recency_hours > b.rb[3])::INT
                     + (r.recency_hours > b.rb[4])::INT) AS BIGINT) AS r_score,
         CAST(1 + (r.frequency > b.fb[1])::INT
                + (r.frequency > b.fb[2])::INT
                + (r.frequency > b.fb[3])::INT
                + (r.frequency > b.fb[4])::INT AS BIGINT) AS f_score,
         CAST(1 + (r.monetary_micros > b.mb[1])::INT
                + (r.monetary_micros > b.mb[2])::INT
                + (r.monetary_micros > b.mb[3])::INT
                + (r.monetary_micros > b.mb[4])::INT AS BIGINT) AS m_score
  FROM rfm r, b
)
SELECT user_id, recency_hours, frequency, monetary_micros,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
""",
    description="RFM segmentation: per-user recency (hours since last "
    "event vs corpus max, TZ-free timestamp diff), frequency, and "
    "monetary (exact purchase-value micros), each banded into quintiles "
    "against EXACT interpolated 20/40/60/80 percentile boundaries and "
    "concatenated into the classic 3-digit segment — marketing's "
    "workhorse customer taxonomy. Scale shape: one user-level "
    "aggregate; boundaries are ONE exact-percentile aggregate broadcast "
    "back (NO global ntile window — ntile plans Exchange "
    "SinglePartition, this repo's banned shape; at 100 TB swap the "
    "exact percentile for the distributed-histogram selection the "
    "median queries use — banding is broadcast-compare either way). "
    "Spark percentile() and DuckDB quantile_cont share the R-7 "
    "interpolation, so boundaries are bit-identical doubles; banding "
    "is strict >, ties resolve identically. Full oracle.",
    tags=("analytics", "events", "segmentation"),
)
def q_user_rfm_segments(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("maxts"))
    # rfm feeds the percentile-bounds aggregate AND the scoring pass —
    # unpersisted, the events scan + per-user rollup ran twice (round-12
    # plan audit). Per-user sized.
    rfm = lifetime.persist(
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.expr("timestampdiff(HOUR, max(ts), any_value(maxts))")
            .cast("long")
            .alias("recency_hours"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 1000000, 0).cast("long"),
                    )
                ),
                F.lit(0),
            ).alias("monetary_micros"),
        )
    )
    qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    b = rfm.agg(
        F.expr(f"percentile(recency_hours, {qs})").alias("rb"),
        F.expr(f"percentile(frequency, {qs})").alias("fb"),
        F.expr(f"percentile(monetary_micros, {qs})").alias("mb"),
    )

    def band(col, bnd):
        return (
            F.lit(1)
            + (F.col(col) > F.element_at(F.col(bnd), 1)).cast("int")
            + (F.col(col) > F.element_at(F.col(bnd), 2)).cast("int")
            + (F.col(col) > F.element_at(F.col(bnd), 3)).cast("int")
            + (F.col(col) > F.element_at(F.col(bnd), 4)).cast("int")
        )

    scored = rfm.crossJoin(F.broadcast(b)).select(
        "user_id",
        "recency_hours",
        "frequency",
        "monetary_micros",
        (F.lit(6) - band("recency_hours", "rb")).cast("long").alias("r_score"),
        band("frequency", "fb").cast("long").alias("f_score"),
        band("monetary_micros", "mb").cast("long").alias("m_score"),
    )
    return (
        scored.select(
            "*",
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment"),
        )
    )


# --- exact proration (largest-remainder / Hamilton allocation) -----------------


@register(
    "order_lineitem_proration",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS w
  FROM lineitem
),
o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_c
  FROM orders
),
base AS (
  SELECT li.l_orderkey, li.l_linenumber, li.w, o.total_c,
         CAST(sum(li.w) OVER (PARTITION BY li.l_orderkey) AS BIGINT) AS sw
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
),
fl AS (
  SELECT l_orderkey, l_linenumber, total_c, sw,
         (total_c * w) // sw AS fl_c,
         (total_c * w) % sw AS rem
  FROM base
),
rk AS (
  SELECT l_orderkey, l_linenumber, fl_c,
         CAST(row_number() OVER (
             PARTITION BY l_orderkey
             ORDER BY rem DESC, l_linenumber ASC) AS BIGINT) AS rnk,
         CAST(total_c - sum(fl_c) OVER (PARTITION BY l_orderkey) AS BIGINT)
           AS short
  FROM fl
)
SELECT l_orderkey, l_linenumber,
       CAST(fl_c + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM rk
""",
    description="Exact proration: allocate each order's integer-cents "
    "total across its lineitems proportionally to extendedprice with "
    "the LARGEST-REMAINDER (Hamilton) method — floor shares first, "
    "then +1 cent to the largest fractional remainders (linenumber "
    "tie-break) until the order total is hit EXACTLY. The allocation "
    "problem behind revenue attribution, cost chargeback, and budget "
    "apportionment, where naive round(share) leaks or double-counts "
    "cents and a 100 TB ledger won't reconcile. Pure BIGINT arithmetic "
    "(cents scale keeps total*weight < 2^63), per-order windows are "
    "key-partitioned (no global sort), conservation holds by "
    "construction. Full oracle.",
    tags=("analytics", "agg", "window", "finance"),
)
def q_order_lineitem_proration(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("w"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_c"),
    )
    wsum = Window.partitionBy("l_orderkey")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "w",
        "total_c",
        F.sum("w").over(wsum).alias("sw"),
    )
    fl = base.select(
        "l_orderkey",
        "l_linenumber",
        "total_c",
        F.expr("(total_c * w) DIV sw").alias("fl_c"),
        F.expr("(total_c * w) % sw").alias("rem"),
    )
    wrnk = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber").asc()
    )
    rk = fl.select(
        "l_orderkey",
        "l_linenumber",
        "fl_c",
        F.row_number().over(wrnk).cast("long").alias("rnk"),
        (F.col("total_c") - F.sum("fl_c").over(wsum)).alias("short"),
    )
    return rk.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("fl_c")
            + F.when(F.col("rnk") <= F.col("short"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("alloc_cents"),
    )


# --- clamped running balance (non-associative scan, closed form) ---------------


@register(
    "user_clamped_running_balance",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 1000000, 0) AS BIGINT)
              WHEN event_type = 'error'
              THEN -CAST(round(value * 1000000, 0) AS BIGINT)
              ELSE 0 END AS delta
  FROM events WHERE event_type IN ('purchase', 'error')
),
cs AS (
  SELECT user_id, ts, event_id, delta,
         CAST(sum(delta) OVER w AS BIGINT) AS csum
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT user_id, ts, event_id, delta, csum,
         CAST(min(csum) OVER w AS BIGINT) AS cmin
  FROM cs
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, delta,
       CAST(csum - least(CAST(0 AS BIGINT), cmin) AS BIGINT)
         AS balance_micros
FROM c
""",
    description="Clamped-at-zero running balance per user (purchases add "
    "value, errors refund it, the balance can never go negative) — the "
    "inventory/credit/wallet recurrence S_t = max(0, S_{t-1} + x_t), "
    "which is NON-ASSOCIATIVE and looks like it forces sequential "
    "per-row iteration. The closed form S_t = C_t - min(0, min_{k<=t} "
    "C_k) (tank identity) turns it into two ordinary prefix windows — "
    "associative, key-partitioned by user, no recursion, no UDAF, no "
    "row-at-a-time state. The pattern matters at 100 TB because the "
    "naive stateful formulation serializes each key's partition; the "
    "closed form rides the same window exchange every other per-user "
    "metric uses. Integer micros throughout. Full oracle (DuckDB "
    "nested window over the same identity).",
    tags=("analytics", "events", "window", "finance"),
)
def q_user_clamped_running_balance(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    micros = F.round(F.col("value") * 1000000, 0).cast("long")
    d = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", micros)
        .otherwise(-micros)
        .alias("delta"),
    )
    # both windows share the SAME event-order frame (one exchange + one
    # sort serve the cumsum AND its prefix-min)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "user_id",
            "ts",
            "event_id",
            "delta",
            F.sum("delta").over(w).alias("csum"),
        )
        .withColumn("cmin", F.min("csum").over(w))
        .select(
            "user_id",
            "event_id",
            "delta",
            (F.col("csum") - F.least(F.lit(0).cast("long"), F.col("cmin")))
            .cast("long")
            .alias("balance_micros"),
        )
    )
