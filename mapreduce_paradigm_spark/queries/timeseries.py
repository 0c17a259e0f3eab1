"""Round-3 batch 3: time-series & product-analytics tier.

Operators a user of a general analytics engine reaches for daily that the
reference (single inverted-index pipeline, src/main.cpp) has no analog for:
gap-filled regular time series, snapshot diffing (CDC), robust aggregation
(winsorization), funnel analysis, retention cohorts, and an iterative graph
algorithm (PageRank) in exact fixed-point arithmetic so even its 5-round
iterative result is DuckDB-hash-checkable.

Everything is Catalyst-native (no Python UDFs); the iterative PageRank loop
drives Spark jobs from the Python driver but touches no data driver-side.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import dsum
from mapreduce_paradigm_spark.operators.rounds import fixpoint
from mapreduce_paradigm_spark.queries.graphtext import citation_edges
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- gap-filled hourly series (LOCF) -----------------------------------------


@register(
    "events_hourly_gap_fill",
    oracle="""
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM agg GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
)
SELECT s.user_id, s.hr,
       COALESCE(a.n, 0) AS n_events,
       last_value(a.val IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_val
FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.hr = a.hr
""",
    description="Gap-filled regular hourly series per user: aggregate to "
    "the hour, generate the dense hour spine per user with sequence()/"
    "explode (never a driver loop), left-join, zero-fill counts and "
    "carry the last observation forward (LOCF) for the value — the "
    "resample step every time-series feature pipeline needs. The spine "
    "is bounded per user (min..max hour), so a 100 TB run generates "
    "spine rows proportional to user-activity spans, partitioned by "
    "user; one window pass does the fill. Sums are exact long-micros "
    "(dsum) so the carried values hash cross-engine.",
    tags=("timeseries", "window", "events"),
)
def q_events_hourly_gap_fill(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "val"))
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.join(agg, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("val", ignorenulls=True).over(w).alias("filled_val"),
        )
    )


# --- snapshot diff (CDC classify) --------------------------------------------


@register(
    "events_snapshot_diff",
    oracle="""
WITH w1 AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v1
  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2
),
w2 AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n2,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v2
  FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1, 2
)
SELECT COALESCE(w1.user_id, w2.user_id) AS user_id,
       COALESCE(w1.event_type, w2.event_type) AS event_type,
       n1, v1, n2, v2,
       CASE WHEN w1.user_id IS NULL THEN 'added'
            WHEN w2.user_id IS NULL THEN 'removed'
            WHEN n1 = n2 AND v1 = v2 THEN 'unchanged'
            ELSE 'changed' END AS status
FROM w1 FULL OUTER JOIN w2
  ON w1.user_id = w2.user_id AND w1.event_type = w2.event_type
""",
    description="Snapshot diff / CDC classification: aggregate two "
    "overlapping time windows of the event stream per (user, type) key "
    "and classify each key added / removed / changed / unchanged via one "
    "FULL OUTER equi-join — the change-data-capture primitive for "
    "incremental corpus refreshes (which shards changed since the last "
    "training snapshot?). Shuffles carry only the aggregated keys, never "
    "raw events; exact long-micros sums make 'changed' a deterministic "
    "value comparison, not a float epsilon.",
    tags=("cdc", "join", "events"),
)
def q_events_snapshot_diff(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")

    def snap(pred, nn, vn):
        return (
            ev.filter(pred)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias(nn), dsum(F.col("value"), vn))
        )

    w1 = snap(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp_ntz"), "n1", "v1"
    )
    w2 = snap(
        F.col("ts") >= F.lit("2024-01-08").cast("timestamp_ntz"), "n2", "v2"
    )
    j = w1.alias("a").join(
        w2.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type")),
        "full_outer",
    )
    status = (
        F.when(F.col("a.user_id").isNull(), "added")
        .when(F.col("b.user_id").isNull(), "removed")
        .when(
            (F.col("n1") == F.col("n2")) & (F.col("v1") == F.col("v2")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return j.select(
        F.coalesce("a.user_id", "b.user_id").alias("user_id"),
        F.coalesce("a.event_type", "b.event_type").alias("event_type"),
        "n1",
        "v1",
        "n2",
        "v2",
        status.alias("status"),
    )


# --- winsorized aggregation (discrete quantile clip) -------------------------


@register(
    "winsorized_revenue_by_flag",
    oracle="""
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (
             PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
th AS (
  SELECT l_returnflag,
         min(CASE WHEN rn = greatest(1, (n * 5 + 99) // 100) THEN l_extendedprice END) AS p05,
         min(CASE WHEN rn = (n * 95 + 99) // 100 THEN l_extendedprice END) AS p95
  FROM ranked GROUP BY 1
)
SELECT r.l_returnflag,
       CAST(sum(CAST(least(greatest(l_extendedprice, p05), p95)
                     AS DECIMAL(18,6))) AS DOUBLE) AS winsorized_sum,
       CAST(count(*) AS BIGINT) AS n_rows
FROM ranked r JOIN th ON r.l_returnflag = th.l_returnflag
GROUP BY r.l_returnflag
""",
    description="Winsorized (p05/p95-clipped) revenue per return flag — "
    "the robust-aggregation step that stops a handful of outlier rows "
    "from dominating a quality metric. Thresholds are DISCRETE quantiles "
    "(the value at row ceil(p·n) of a total order), computed with pure "
    "integer rank arithmetic ((n·5+99) DIV 100) so both engines pick the "
    "same physical row — no interpolated-double cross-engine ulp risk. "
    "One window pass for ranks, a 3-row threshold join (broadcast), "
    "exact long-micros sum. At 100 TB swap the exact rank for "
    "approx_percentile thresholds; the clip+sum shape is unchanged.",
    tags=("agg", "robust", "cleaning"),
)
def q_winsorized_revenue_by_flag(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    wr = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    th = ranked.groupBy("l_returnflag").agg(
        F.min(
            F.when(
                F.col("rn") == F.greatest(F.lit(1), F.expr("(n * 5 + 99) DIV 100")),
                F.col("l_extendedprice"),
            )
        ).alias("p05"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(n * 95 + 99) DIV 100"),
                F.col("l_extendedprice"),
            )
        ).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        ranked.join(F.broadcast(th), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            dsum(clipped, "winsorized_sum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- funnel analysis ---------------------------------------------------------


@register(
    "user_funnel_stages",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.first_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY 1
)
SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END
            AS BIGINT) AS stages_reached
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
    description="Ordered funnel (view → click → purchase): each stage's "
    "timestamp is the first qualifying event AT OR AFTER the previous "
    "stage's — strictly sequential, not three independent mins. Three "
    "equi-join + min-aggregate hops, each shuffling only (user, min_ts) "
    "pairs; event rows are filtered by type before every join so at "
    "100 TB each hop moves one event-type slice, never the full stream.",
    tags=("funnel", "events", "join"),
)
def q_user_funnel_stages(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # each stage frame feeds the NEXT stage's gate join AND the final
    # wide join — independent subtrees, so unpersisted every stage
    # re-ran its whole upstream chain back to the events scan (round-12
    # plan audit: 6 scans in this one plan). All three are per-user sized.
    v = lifetime.persist(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = lifetime.persist(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = lifetime.persist(
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    stages = (
        F.lit(1)
        + F.when(F.col("first_click").isNull(), 0).otherwise(1)
        + F.when(F.col("first_purchase").isNull(), 0).otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            stages.cast("long").alias("stages_reached"),
        )
    )


# --- retention cohorts -------------------------------------------------------


@register(
    "customer_retention_cohorts",
    oracle="""
WITH om AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
  FROM orders
),
cohort AS (SELECT o_custkey, min(m) AS m0 FROM om GROUP BY 1)
SELECT cohort.m0 AS cohort_month, om.m - cohort.m0 AS month_offset,
       CAST(count(DISTINCT om.o_custkey) AS BIGINT) AS n_active
FROM om JOIN cohort ON om.o_custkey = cohort.o_custkey
GROUP BY 1, 2
""",
    description="Retention cohort matrix: customers bucketed by first-"
    "order month (cohort), counted distinct per months-since-cohort "
    "offset — the standard retention triangle. Month arithmetic is pure "
    "integer (year·12+month) so offsets match across engines with no "
    "interval/calendar edge cases. Two shuffles (cohort min, final "
    "distinct-count), both on aggregated keys.",
    tags=("analytics", "agg", "orders"),
)
def q_customer_retention_cohorts(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("m"),
    )
    cohort = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        om.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("month_offset"),
        )
        .agg(F.count_distinct("o_custkey").cast("long").alias("n_active"))
    )


# --- PageRank (exact fixed-point, 5 rounds) ----------------------------------

_PR_ITER = 5


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration fixed-point PageRank as chained CTEs (no
    recursive aggregation needed — DuckDB forbids aggregates in a
    recursive term, so the fixed iteration count is unrolled)."""
    cte = [
        "WITH n AS (SELECT count(*) AS n_docs FROM documents)",
        "nodes AS (SELECT doc_id AS node FROM documents)",
        "edges AS (SELECT doc_id AS src, (doc_id * 31 + k.k) % n_docs AS dst"
        " FROM documents, n, (VALUES (1), (2), (3)) k(k))",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(_PR_ITER):
        # CAST: DuckDB sum(BIGINT) widens to HUGEINT — pin every stage back
        # to BIGINT so the final column type matches Spark's LONG
        cte.append(
            f"r{i + 1} AS (SELECT nodes.node,"
            f" CAST(150000 + (850000 * COALESCE(c.s, 0)) // 1000000"
            f" AS BIGINT) AS r"
            f" FROM nodes LEFT JOIN ("
            f"SELECT dst, CAST(sum(r // 3) AS BIGINT) AS s"
            f" FROM edges JOIN r{i} ON src = node"
            f" GROUP BY dst) c ON nodes.node = c.dst)"
        )
    return (
        ",\n".join(cte)
        + f"\nSELECT node, r AS rank_ppm FROM r{_PR_ITER}"
    )


@register(
    "doc_graph_pagerank",
    oracle=_pagerank_oracle(),
    description=f"PageRank ({_PR_ITER} synchronous rounds, damping 0.85) "
    "over a deterministic synthetic citation graph (each doc links to 3 "
    "others via (id·31+k) mod N). Ranks are EXACT fixed-point integers "
    "(parts-per-million, integer DIV everywhere) so even an iterative "
    "float-free algorithm hash-matches a DuckDB oracle — the oracle "
    "unrolls the same 5 rounds as chained CTEs. Spark side is the "
    "classic MapReduce PageRank reshaped for DataFrames: contributions "
    "= edges⋈ranks grouped by dst, each round one shuffle on dst; "
    "edges are computed once and persisted; the driver never touches "
    "row data (pure loop control). CAVEATS: rounds run through "
    "operators/rounds.py fixpoint's per-round localCheckpoint, so (a) "
    "building the plan already runs each round's shuffle stages, and (b) "
    "checkpoint blocks are NON-REPLICATED executor state, so on a real "
    "cluster an executor loss makes the returned plan unrecoverable; "
    "at 100 TB use reliable checkpoint() every few rounds instead and "
    "pre-partition edges and ranks on the node key so every round's "
    "join is co-located.",
    bench=True,  # round 13: bench addition (VERDICT r12 ask #1)
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_pagerank(spark, sf_dir):
    # node list persisted: it feeds the count, the edge build, the rank
    # init and every round's left join — one pruned scan instead of one
    # per consumer (round-12 plan audit)
    docs = lifetime.persist(
        load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    )
    edges = lifetime.persist(citation_edges(docs, "src", "dst"))

    def propagate(ranks):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("r DIV 3")).alias("s"))
        )
        return docs.join(contrib, docs.node == contrib.dst, "left").select(
            "node",
            F.expr("150000 + (850000 * coalesce(s, 0)) DIV 1000000").alias("r"),
        )

    ranks = docs.select("node", F.lit(1000000).cast("long").alias("r"))
    ranks = fixpoint(ranks, propagate, _PR_ITER)
    return ranks.select("node", F.col("r").alias("rank_ppm"))


# --- HITS hubs/authorities (exact fixed-point, 5 rounds) ---------------------

_HITS_ITER = 5


def _hits_oracle() -> str:
    """Unrolled fixed-point HITS as chained CTEs — same discipline as the
    PageRank oracle: every stage is BIGINT arithmetic (sum → HUGEINT in
    DuckDB, pinned back), normalization is integer ppm DIV."""
    cte = [
        "WITH n AS (SELECT count(*) AS n_docs FROM documents)",
        "nodes AS (SELECT doc_id AS node FROM documents)",
        "edges AS (SELECT doc_id AS src, (doc_id * 31 + k.k) % n_docs AS dst"
        " FROM documents, n, (VALUES (1), (2), (3)) k(k))",
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(_HITS_ITER):
        cte.append(
            f"ar{i + 1} AS (SELECT nodes.node,"
            f" CAST(COALESCE(c.s, 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN ("
            f"SELECT dst, CAST(sum(h) AS BIGINT) AS s"
            f" FROM edges JOIN h{i} ON src = node GROUP BY dst) c"
            f" ON nodes.node = c.dst)"
        )
        # totals via a frameless window, NOT a scalar subquery: the subquery
        # form references the prior CTE twice, and DuckDB inlines CTEs, so
        # the expansion doubles per half-round (2^10 — never finishes)
        cte.append(
            f"a{i + 1} AS (SELECT node, CAST((raw * 1000000) //"
            f" CAST(sum(raw) OVER () AS BIGINT)"
            f" AS BIGINT) AS a FROM ar{i + 1})"
        )
        cte.append(
            f"hr{i + 1} AS (SELECT nodes.node,"
            f" CAST(COALESCE(c.s, 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN ("
            f"SELECT src, CAST(sum(a) AS BIGINT) AS s"
            f" FROM edges JOIN a{i + 1} ON dst = node GROUP BY src) c"
            f" ON nodes.node = c.src)"
        )
        cte.append(
            f"h{i + 1} AS (SELECT node, CAST((raw * 1000000) //"
            f" CAST(sum(raw) OVER () AS BIGINT)"
            f" AS BIGINT) AS h FROM hr{i + 1})"
        )
    return (
        ",\n".join(cte)
        + f"\nSELECT h.node, h.h AS hub_ppm, a.a AS auth_ppm"
        f" FROM h{_HITS_ITER} h JOIN a{_HITS_ITER} a USING (node)"
    )


@register(
    "doc_graph_hits",
    oracle=_hits_oracle(),
    description=f"HITS hubs & authorities (Kleinberg 1999; {_HITS_ITER} "
    "synchronous rounds) over the same deterministic citation graph "
    "PageRank uses — the asymmetric-role complement: a page can be a "
    "great index (hub) without being cited (authority), which a single "
    "PageRank score conflates. Scores are EXACT fixed-point integers: "
    "each half-round is one edges⋈scores join grouped on the other "
    "endpoint, and the usual L2 normalization is replaced by integer "
    "ppm shares (raw·10⁶ DIV Σraw — same invariant-scale role, "
    "hash-stable), so the iterative algorithm hash-matches the unrolled "
    "DuckDB CTE oracle. The Σraw scalar rides a broadcast crossJoin "
    "(never a collect); at 100 TB pre-partition edges and scores on the "
    "node key so every half-round's join is co-located, as the "
    "components operators do.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_hits(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    edges = lifetime.persist(citation_edges(docs, "src", "dst"))

    # half-rounds alternate: hubs -> authorities along src -> dst, then
    # authorities -> hubs back along dst -> src
    roles = itertools.cycle([("src", "dst"), ("dst", "src")])

    def half_round(scores):
        # scores (node, s[, prev]) -> (node, s', prev = s): one join + one
        # grouped sum, then integer ppm normalization. The total is summed
        # from the same join rows (Σ over nodes of Σ in-messages = Σ over
        # messages), so the grouped sums feed nothing else and the total
        # rides a broadcast crossJoin (scalar-only, no collect)
        from_key, to_key = next(roles)
        msgs = edges.join(scores, edges[from_key] == scores.node).select(to_key, "s")
        sums = msgs.groupBy(to_key).agg(F.sum("s").alias("t"))
        total = msgs.agg(F.sum("s").cast("long").alias("tot"))
        return (
            scores.join(sums, scores.node == sums[to_key], "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr("(coalesce(t, 0) * 1000000) DIV tot").alias("s"),
                F.col("s").alias("prev"),
            )
        )

    hubs = docs.select("node", F.lit(1000000).cast("long").alias("s"))
    # 2 half-rounds per round: the last one computes hubs from the
    # authorities it carries along as prev
    scores = fixpoint(hubs, half_round, 2 * _HITS_ITER)
    return scores.select(
        "node", F.col("s").alias("hub_ppm"), F.col("prev").alias("auth_ppm")
    )


# --- interval overlap join (campaign attribution) ----------------------------


@register(
    "campaign_session_overlap",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id,
         ts, value
  FROM tagged
),
s AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_value
  FROM sess GROUP BY 1, 2
),
camp AS (
  SELECT CAST(c AS BIGINT) AS campaign_id,
         TIMESTAMP '2024-01-01' + (3 * c) * INTERVAL 1 DAY AS c_start,
         TIMESTAMP '2024-01-01' + (3 * c + 4) * INTERVAL 1 DAY AS c_end
  FROM range(10) t(c)
)
SELECT campaign_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(s_value), 6) AS total_value
FROM camp JOIN s
  ON s.s_start <= camp.c_end AND camp.c_start <= s.s_end
GROUP BY campaign_id
""",
    description="Interval-overlap join (Allen overlap): 30-min gap "
    "sessions attributed to every overlapping campaign window "
    "(s_start ≤ c_end AND c_start ≤ s_end) — the session/campaign, "
    "shift/incident, visit/outage attribution shape. The campaign side "
    "is tiny and broadcast, so the overlap predicate runs as a "
    "BroadcastNestedLoopJoin — the CORRECT plan for small×big pure "
    "theta joins. For big×big interval joins, bucket both sides by "
    "coarse time bucket (explode intervals to buckets, equi-join on "
    "bucket, dedup) — same semantics, shuffle-friendly; the session "
    "build itself is the one user_id window shuffle. Session values use "
    "exact micros sums; the campaign aggregate re-sums those exact "
    "doubles with a final 6dp round so engine-order float addition "
    "cannot flip the hash.",
    tags=("join", "interval", "events"),
)
def q_campaign_session_overlap(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            dsum(F.col("value"), "s_value"),
        )
    )
    camp = spark.range(10).select(
        F.col("id").alias("campaign_id"),
        F.expr(
            "timestampadd(DAY, CAST(3 * id AS INT), TIMESTAMP_NTZ '2024-01-01')"
        ).alias("c_start"),
        F.expr(
            "timestampadd(DAY, CAST(3 * id + 4 AS INT), TIMESTAMP_NTZ '2024-01-01')"
        ).alias("c_end"),
    )
    return (
        sess.join(
            F.broadcast(camp),
            (F.col("s_start") <= F.col("c_end"))
            & (F.col("c_start") <= F.col("s_end")),
        )
        .groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("s_value"), 6).alias("total_value"),
        )
    )


# --- recency-weighted mean (EWMA over a bounded window) ----------------------


def _ewma8_oracle() -> str:
    # weight for offset j from the current row (j=0 is current) is
    # 2^(s-1-j), where s = least(rows_so_far, 8); floor(power(2, s-1-j))
    # evaluates to 0 exactly when offset j has no row (j >= s), so the
    # COALESCE'd terms vanish consistently with the Spark array fold.
    terms = ["y * CAST(floor(power(2, s - 1)) AS BIGINT)"]
    for j in range(1, 8):
        terms.append(
            f"COALESCE(lag(y, {j}) OVER w, 0)"
            f" * CAST(floor(power(2, s - 1 - {j})) AS BIGINT)"
        )
    ws = " + ".join(terms)
    return f"""
WITH seq AS (
  SELECT user_id, event_id,
         CAST(round(value * 1000000, 0) AS BIGINT) AS y,
         least(CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id
         ) AS BIGINT), 8) AS s,
         ts
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, event_id,
       round(CAST({ws} AS DOUBLE)
             / (CAST(power(2, s) AS BIGINT) - 1) / 1000000, 4) AS ewma8
FROM seq
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "user_value_ewma8",
    oracle=_ewma8_oracle(),
    description="Bounded exponentially-weighted moving average (halving "
    "weights, 8-event horizon) of each user's value series — the "
    "recency-weighted feature online models consume. With decay 1/2 the "
    "weights are exact powers of two, so the weighted sum is EXACT "
    "integer arithmetic (micros × 2^i via one zip_with over the "
    "windowed array; normalizer 2^s − 1), and the only float math is "
    "one identical-tree division, round(4) — an EWMA that hash-matches "
    "cross-engine, which a float-recurrence implementation never "
    "would. The oracle unrolls the same weights as 8 lag() terms. One "
    "window shuffle keyed by user; the 8-element frame keeps per-row "
    "state O(1) at 100 TB (vs an unbounded-history recurrence, which "
    "is inherently sequential and unmergeable).",
    tags=("timeseries", "window", "mlprep", "events"),
)
def q_user_value_ewma8(spark, sf_dir):
    # NULL values are excluded explicitly ON BOTH SIDES: Spark's
    # collect_list silently skips nulls while the oracle's lag-unroll
    # would count the row — a latent divergence on null-bearing data.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    ym = F.round(F.col("value") * 1e6, 0).cast("long")
    step = ev.select(
        "user_id", "event_id", F.collect_list(ym).over(w).alias("a")
    )
    ws = F.expr(
        "aggregate(zip_with(a, sequence(1, size(a)), "
        "(x, i) -> x * shiftleft(1L, i - 1)), 0L, (acc, x) -> acc + x)"
    )
    norm = F.expr("cast(shiftleft(1L, size(a)) - 1 as double)")
    return step.select(
        "user_id",
        "event_id",
        F.round(ws.cast("double") / norm / F.lit(1000000.0), 4).alias(
            "ewma8"
        ),
    )


# --- seasonal-naive forecast backtest ----------------------------------------


@register(
    "revenue_seasonal_naive_backtest",
    oracle="""
WITH monthly AS (
  SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS month,
         CAST(sum(CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev_micro
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
bt AS (
  SELECT a.nation, a.month, a.rev_micro AS actual, f.rev_micro AS forecast,
         abs(a.rev_micro - f.rev_micro) AS abs_err,
         CAST(round(
           2000000.0 * abs(a.rev_micro - f.rev_micro)
           / (abs(a.rev_micro) + abs(f.rev_micro)), 0) AS BIGINT) AS smape_micro
  FROM monthly a
  JOIN monthly f
    ON a.nation = f.nation AND f.month = a.month - INTERVAL 12 MONTH
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_months,
       CAST(CAST(CAST(CAST(round(CAST(sum(abs_err) AS DOUBLE) / count(*), 0)
            AS BIGINT) AS DECIMAL(24,6)) / 1000000 AS DECIMAL(24,6))
            AS DOUBLE) AS mae,
       CAST(CAST(CAST(CAST(round(CAST(sum(smape_micro) AS DOUBLE) / count(*), 0)
            AS BIGINT) AS DECIMAL(24,6)) / 1000000 AS DECIMAL(24,6))
            AS DOUBLE) AS smape
FROM bt GROUP BY nation
""",
    description="Seasonal-naive forecast backtest (the forecasting BASELINE "
    "every real model must beat): forecast(month) = actual(month - 12) for "
    "monthly revenue per nation, scored with MAE and sMAPE over every "
    "backtestable month. The monthly grid is built once (orders joined to "
    "broadcast customer->nation dims, one aggregate); forecast alignment "
    "is a self-join of that AGGREGATED grid on (nation, month-12) — "
    "calendar-exact join beats lag(12) windows, which silently misalign "
    "when a month is missing. Error arithmetic is integer end-to-end: "
    "revenues accumulate as exact micros, per-month sMAPE is one float "
    "ratio rounded to micros, and both scores are integer sums divided "
    "once — engine- and merge-order-independent. Grid size is "
    "nations x months (thousands of rows at any corpus scale): the "
    "backtest join costs nothing; the single corpus-scale stage is the "
    "monthly aggregate.",
    tags=("timeseries", "forecast"),
)
def q_revenue_seasonal_naive_backtest(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias(
                "rev_micro"
            )
        )
    )
    a = monthly.alias("a")
    f = monthly.alias("f")
    bt = a.join(
        f,
        (F.col("a.nation") == F.col("f.nation"))
        & (F.col("f.month") == F.add_months(F.col("a.month"), -12)),
    ).select(
        F.col("a.nation").alias("nation"),
        F.abs(F.col("a.rev_micro") - F.col("f.rev_micro")).alias("abs_err"),
        F.round(
            F.lit(2000000.0)
            * F.abs(F.col("a.rev_micro") - F.col("f.rev_micro"))
            / (F.abs(F.col("a.rev_micro")) + F.abs(F.col("f.rev_micro"))),
            0,
        )
        .cast("long")
        .alias("smape_micro"),
    )
    return bt.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_months"),
        (
            F.round(F.sum("abs_err").cast("double") / F.count(F.lit(1)), 0)
            .cast("long")
            .cast("decimal(24,6)")
            / F.lit(1000000)
        )
        .cast("double")
        .alias("mae"),
        (
            F.round(F.sum("smape_micro").cast("double") / F.count(F.lit(1)), 0)
            .cast("long")
            .cast("decimal(24,6)")
            / F.lit(1000000)
        )
        .cast("double")
        .alias("smape"),
    )


# --- CUSUM changepoint scan --------------------------------------------------


@register(
    "events_cusum_changepoint",
    oracle="""
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 1000000, 0) AS BIGINT) AS v_micro
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_micro) AS BIGINT) AS total
  FROM v GROUP BY 1
),
pre AS (
  SELECT v.user_id, v.ts, s.n, s.total,
         CAST(sum(v_micro) OVER (
           PARTITION BY v.user_id ORDER BY v.ts, v.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
         CAST(row_number() OVER (
           PARTITION BY v.user_id ORDER BY v.ts, v.event_id) AS BIGINT) AS t
  FROM v JOIN stats s ON v.user_id = s.user_id
),
scored AS (
  SELECT user_id, ts, n, abs(n * p - t * total) AS s_abs,
         CAST(row_number() OVER (
           PARTITION BY user_id
           ORDER BY abs(n * p - t * total) DESC, ts ASC) AS BIGINT) AS r
  FROM pre WHERE n >= 20
)
SELECT user_id, ts AS cp_ts,
       CAST(CAST(CAST(CAST(round(CAST(s_abs AS DOUBLE) / n, 0) AS BIGINT)
            AS DECIMAL(24,6)) / 1000000 AS DECIMAL(24,6)) AS DOUBLE) AS cusum_max
FROM scored WHERE r = 1
""",
    description="CUSUM changepoint scan per user: the classic mean-shift "
    "detector max_t |sum_{i<=t}(v_i - mean)|, reporting the argmax "
    "timestamp (the estimated changepoint) and the peak CUSUM value for "
    "every user with >= 20 measurements. Exactness trick: the float "
    "recurrence sum(v - mean) is replaced by the integer identity "
    "n*cusum_t = n*P_t - t*T (P = prefix sum, T = total, both exact "
    "micros), so the ENTIRE scan — including the argmax, where a float "
    "epsilon would pick a different row — runs on integers; one final "
    "division renders the score. Two window passes and one broadcast-able "
    "per-user stats join, all sharing the user-key partitioning; ties "
    "broken (earliest ts) deterministically. This is drift detection for "
    "per-entity metric streams — the per-series shape that the global KS "
    "statistic (qty_ks_statistic_flags) complements distributionally.",
    tags=("timeseries", "anomaly"),
)
def q_events_cusum_changepoint(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    v = events.filter(F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 1e6, 0).cast("long").alias("v_micro"),
    )
    stats = v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v_micro").alias("total")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pre = (
        v.join(F.broadcast(stats), "user_id")
        .select(
            "user_id",
            "ts",
            "n",
            "total",
            F.sum("v_micro").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("p"),
            F.row_number().over(wo).cast("long").alias("t"),
        )
        .filter(F.col("n") >= 20)
    )
    s_abs = F.abs(F.col("n") * F.col("p") - F.col("t") * F.col("total"))
    wr = Window.partitionBy("user_id").orderBy(s_abs.desc(), F.col("ts").asc())
    return (
        pre.select(
            "user_id",
            "ts",
            "n",
            s_abs.alias("s_abs"),
            F.row_number().over(wr).cast("long").alias("r"),
        )
        .filter(F.col("r") == 1)
        .select(
            "user_id",
            F.col("ts").alias("cp_ts"),
            (
                F.round(F.col("s_abs").cast("double") / F.col("n"), 0)
                .cast("long")
                .cast("decimal(24,6)")
                / F.lit(1000000)
            )
            .cast("double")
            .alias("cusum_max"),
        )
    )


# --- dow-hour seasonal adjustment --------------------------------------------


@register(
    "events_seasonal_adjusted_hourly",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hstart,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
cells AS (
  SELECT event_type, dayofweek(hstart) AS dow, hour(hstart) AS hod,
         CAST(count(*) AS BIGINT) AS k_cell,
         CAST(sum(n) AS BIGINT) AS s_cell
  FROM hourly GROUP BY 1, 2, 3
),
tot AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS h_total,
         CAST(sum(n) AS BIGINT) AS s_total
  FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hstart, h.n,
       round(CAST(c.s_cell AS DOUBLE) * t.h_total
             / (c.k_cell * t.s_total), 4) AS seasonal_index,
       round(CAST(h.n AS DOUBLE) * c.k_cell * t.s_total
             / (c.s_cell * t.h_total), 4) AS deseasonalized
FROM hourly h
JOIN cells c ON h.event_type = c.event_type
            AND dayofweek(h.hstart) = c.dow AND hour(h.hstart) = c.hod
JOIN tot t ON h.event_type = t.event_type
WHERE c.s_cell > 0
""",
    description="Day-of-week x hour-of-day seasonal adjustment of hourly "
    "event counts: seasonal_index(cell) = cell mean / overall mean, "
    "deseasonalized(hour) = n / index — the classical-decomposition "
    "seasonal step that must run BEFORE thresholding or z-scoring an "
    "hourly metric (events_hourly_anomaly_zscore flags against a flat "
    "baseline; a 9am spike is only anomalous relative to 9am's own "
    "norm). Three aggregates over the same hourly grid (hour roll-up is "
    "the single corpus-scale pass; cells and totals are grid-scale), "
    "both profile joins broadcast-able (168 cells x types, 1 row x "
    "type). Index and adjusted values are single divisions of exact "
    "integer products rounded 4dp — hash-stable; Spark dayofweek == "
    "DuckDB dayofweek+1 is NOT true (both are 1-7 Sunday-based here, "
    "Spark dayofweek Sunday=1, DuckDB dayofweek Sunday=0 — the join "
    "uses each engine's own cells consistently, so the convention "
    "cancels out and never crosses engines).",
    tags=("timeseries", "anomaly"),
)
def q_events_seasonal_adjusted_hourly(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hstart")
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = hourly.groupBy(
        "event_type",
        F.dayofweek("hstart").alias("dow"),
        F.hour("hstart").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("k_cell"), F.sum("n").alias("s_cell"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("h_total"), F.sum("n").alias("s_total")
    )
    h = hourly.select(
        "event_type",
        "hstart",
        "n",
        F.dayofweek("hstart").alias("dow"),
        F.hour("hstart").alias("hod"),
    )
    return (
        h.join(F.broadcast(cells), ["event_type", "dow", "hod"])
        .join(F.broadcast(tot), "event_type")
        .filter(F.col("s_cell") > 0)
        .select(
            "event_type",
            "hstart",
            "n",
            F.round(
                F.col("s_cell").cast("double")
                * F.col("h_total")
                / (F.col("k_cell") * F.col("s_total")),
                4,
            ).alias("seasonal_index"),
            F.round(
                F.col("n").cast("double")
                * F.col("k_cell")
                * F.col("s_total")
                / (F.col("s_cell") * F.col("h_total")),
                4,
            ).alias("deseasonalized"),
        )
    )


# --- OHLC resampling ---------------------------------------------------------


@register(
    "user_value_ohlc_6h",
    oracle="""
SELECT user_id,
       make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 * 1000000 AS BIGINT))
         AS bar_start,
       CAST(count(*) AS BIGINT) AS n_obs,
       round(arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000 + event_id), 6)
         AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000 + event_id), 6)
         AS close
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
    description="OHLC downsampling to 6-hour bars per user (the financial "
    "resample shape — open/high/low/close generalize to ANY first/last/"
    "extreme-of-bucket feature): open and close are argmin/argmax of the "
    "(ts, event_id) TOTAL order via min_by/max_by — ONE aggregate pass, "
    "no sort, no window (the rank-1-per-bucket window form pays a full "
    "per-bucket sort for the same answer); high/low are plain extremes. "
    "The tie order carries event_id because duplicate timestamps would "
    "otherwise make open/close nondeterministic — exactly the bug class "
    "the registry's total-order discipline exists for. Epoch-aligned "
    "buckets == date-function-free integer division on both engines.",
    tags=("timeseries", "aggregation", "events"),
)
def q_user_value_ohlc_6h(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # TZ-INDEPENDENT bucketing: seconds since epoch computed on the NTZ
    # value itself (timestampdiff), never via a cast through the session
    # zone — a half-hour-offset driver session (Lord Howe +10:30) shifts
    # cast-based epochs by 1.75 bucket widths and regroups the bars
    # (caught by the round-5 timezone sweep: 7690 vs 7677 rows)
    bar = F.expr(
        "timestampadd(SECOND, cast(floor(timestampdiff(SECOND, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 21600) * 21600 as int), "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    # single 128-bit tie-break key (micros·10⁶ + event_id), also from NTZ
    # arithmetic so the key VALUES (not just their order) are
    # session-independent
    order_key = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).cast("decimal(38,0)")
        * F.lit(1000000)
        + F.col("event_id")
    )
    return (
        ev.groupBy("user_id", bar.alias("bar_start"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.min_by("value", order_key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", order_key), 6).alias("close"),
        )
    )


@register(
    "events_hourly_gap_fill_linear",
    oracle="""
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS vm
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM agg GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds
),
joined AS (
  SELECT s.user_id, s.hr, a.n, a.vm,
         last_value(a.vm IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN a.vm IS NOT NULL THEN s.hr END IGNORE NULLS)
           OVER wb AS ph,
         first_value(a.vm IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN a.vm IS NOT NULL THEN s.hr END IGNORE NULLS)
           OVER wf AS nh
  FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.hr = a.hr
  WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY s.user_id ORDER BY s.hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
interp AS (
  SELECT user_id, hr, n,
         CASE WHEN vm IS NOT NULL THEN vm
              ELSE pv + CAST(floor(
                CAST((nv - pv) * ((epoch_us(hr) - epoch_us(ph)) / 3600000000) AS DOUBLE)
                / ((epoch_us(nh) - epoch_us(ph)) / 3600000000)) AS BIGINT)
         END AS fm
  FROM joined
)
SELECT user_id, hr,
       COALESCE(n, 0) AS n_events,
       CAST(CAST(fm AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS filled_val
FROM interp
""",
    description="Gap-filled hourly series with LINEAR interpolation — the "
    "trend-preserving resample beside events_hourly_gap_fill's LOCF "
    "(step-function) fill: interior gaps take pv + (nv−pv)·Δt-fraction "
    "between the bracketing observations (the spine is bounded per user, "
    "so interior gaps always have both). The interpolation is INTEGER "
    "micros end-to-end: floor((nv−pv)·gap_hours / span_hours) — floor of "
    "an exactly-representable double ratio whose non-integer values sit "
    "≥ 1/span from any integer, so both engines floor identically; no "
    "round-half-of-a-double coin flips (the naive double form mismatched "
    "9 rows exactly on half-micro ties). Two window passes over the "
    "user-partitioned spine; spine rows ∝ activity spans.",
    tags=("timeseries", "window", "events"),
)
def q_events_hourly_gap_fill_linear(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("vm"),
    )
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    wb = Window.partitionBy("user_id").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("user_id").orderBy("hr").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_hr = F.when(F.col("vm").isNotNull(), F.col("hr"))
    j = spine.join(agg, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "n",
        "vm",
        F.last("vm", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hr, ignorenulls=True).over(wb).alias("ph"),
        F.first("vm", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hr, ignorenulls=True).over(wf).alias("nh"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    num = (us("hr") - us("ph")) / F.lit(3600000000)
    den = (us("nh") - us("ph")) / F.lit(3600000000)
    fm = F.when(F.col("vm").isNotNull(), F.col("vm")).otherwise(
        F.col("pv")
        + F.floor(((F.col("nv") - F.col("pv")) * num).cast("double") / den).cast("long")
    )
    return j.select(
        "user_id",
        "hr",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        (fm.cast("decimal(24,6)") / 1000000).cast("double").alias("filled_val"),
    )


@register(
    "hourly_counts_acf",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
lagged AS (
  SELECT y,
         lag(y, 1) OVER w AS x1, lag(y, 2) OVER w AS x2,
         lag(y, 3) OVER w AS x3, lag(y, 4) OVER w AS x4,
         lag(y, 5) OVER w AS x5, lag(y, 6) OVER w AS x6
  FROM h WINDOW w AS (ORDER BY hr)
),
pairs AS (
  SELECT CAST(1 AS BIGINT) AS lag_k, x1 AS x, y FROM lagged WHERE x1 IS NOT NULL
  UNION ALL SELECT 2, x2, y FROM lagged WHERE x2 IS NOT NULL
  UNION ALL SELECT 3, x3, y FROM lagged WHERE x3 IS NOT NULL
  UNION ALL SELECT 4, x4, y FROM lagged WHERE x4 IS NOT NULL
  UNION ALL SELECT 5, x5, y FROM lagged WHERE x5 IS NOT NULL
  UNION ALL SELECT 6, x6, y FROM lagged WHERE x6 IS NOT NULL
),
s AS (
  SELECT lag_k, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM pairs GROUP BY 1
)
SELECT lag_k, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
FROM s
""",
    description="Autocorrelation function (lags 1–6) of the global hourly "
    "event-count series — the order-selection diagnostic before fitting "
    "any AR model (user_value_autocorr gives lag-1 per user; this is the "
    "multi-lag view of the aggregate series). The series itself is "
    "TIME-bounded (~720 points/month at any corpus size), so after the "
    "one corpus-scale hourly aggregate everything is series-length work; "
    "six lag columns unpivot into (lag, x, y) pairs and Pearson assembles "
    "per lag from exact 128-bit power sums — one shared expression.",
    tags=("timeseries", "statistics", "events"),
)
def q_hourly_counts_acf(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = Window.orderBy("hr")
    lagged = h.select(
        "y", *[F.lag("y", k).over(w).alias(f"x{k}") for k in range(1, 7)]
    )
    # unpivot the six lag columns with ONE in-plan explode, not a 6-way
    # union — union branches plan as independent subtrees, so the old
    # form re-ran the events scan + hourly aggregate + lag window once
    # per lag (round-12 plan audit: 6 scans in this one plan). Same
    # (lag_k, x, y) rows.
    pairs = (
        lagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("lag_k"),
                            F.col(f"x{k}").alias("x"),
                            F.col("y").alias("y"),
                        )
                        for k in range(1, 7)
                    ]
                )
            ).alias("e")
        )
        .filter(F.col("e.x").isNotNull())
        .select("e.lag_k", "e.x", "e.y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pairs.groupBy("lag_k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select("lag_k", "n", F.round(num / den, 6).alias("acf"))


@register(
    "events_hourly_stl_lite",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
tr AS (
  SELECT hr, y,
         CAST(sum(y) OVER w AS BIGINT) AS wsum,
         CAST(count(*) OVER w AS BIGINT) AS wn
  FROM h WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
),
dt AS (
  SELECT hr, y, CAST(wsum AS DOUBLE) / 24 AS trend,
         CAST(round((y - CAST(wsum AS DOUBLE) / 24) * 1000000, 0) AS BIGINT)
           AS d_micro,
         CAST(date_part('hour', hr) AS BIGINT) AS hod
  FROM tr WHERE wn = 24
),
seas AS (
  SELECT hod,
         CAST(sum(d_micro) AS HUGEINT) AS sm,
         CAST(count(*) AS BIGINT) AS sn
  FROM dt GROUP BY 1
)
SELECT dt.hr, dt.y,
       round(dt.trend, 6) AS trend,
       round(CAST(seas.sm AS DOUBLE) / seas.sn / 1000000, 6) AS seasonal,
       round(CAST(dt.d_micro AS DOUBLE) / 1000000
             - CAST(seas.sm AS DOUBLE) / seas.sn / 1000000, 6) AS residual
FROM dt JOIN seas ON dt.hod = seas.hod
""",
    description="STL-lite decomposition of the hourly event-count series: "
    "trend = centered 24-term moving average (exact integer window sum, "
    "ONE division per row — full windows only), seasonal = hour-of-day "
    "mean of the detrended series, residual = remainder. Detrended "
    "values round to integer micros BEFORE the seasonal mean so the "
    "per-hour aggregation is an integer sum (merge-order-proof); every "
    "emitted float is a single identical expression. Series-length work "
    "after one corpus-scale aggregate; the 24-row seasonal profile "
    "broadcasts. The decomposition behind events_seasonal_adjusted_hourly "
    "and the anomaly z-scores, made explicit.",
    tags=("timeseries", "events"),
)
def q_events_hourly_stl_lite(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = Window.orderBy("hr").rowsBetween(-12, 11)
    tr = h.select(
        "hr",
        "y",
        F.sum("y").over(w).cast("long").alias("wsum"),
        F.count(F.lit(1)).over(w).cast("long").alias("wn"),
    )
    trend = F.col("wsum").cast("double") / 24
    dt = tr.filter(F.col("wn") == 24).select(
        "hr",
        "y",
        trend.alias("trend"),
        F.round((F.col("y") - trend) * 1e6, 0).cast("long").alias("d_micro"),
        F.hour("hr").cast("long").alias("hod"),
    )
    seas = dt.groupBy("hod").agg(
        F.sum(F.col("d_micro").cast("decimal(38,0)")).alias("sm"),
        F.count(F.lit(1)).cast("long").alias("sn"),
    )
    smean = F.col("sm").cast("double") / F.col("sn") / 1e6
    return dt.join(F.broadcast(seas), "hod").select(
        "hr",
        "y",
        F.round("trend", 6).alias("trend"),
        F.round(smean, 6).alias("seasonal"),
        F.round(F.col("d_micro").cast("double") / 1e6 - smean, 6).alias("residual"),
    )


@register(
    "user_burstiness_fano",
    oracle="""
WITH perhour AS (
  SELECT user_id, date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM perhour GROUP BY 1
)
SELECT user_id, n_hours, s1 AS n_events,
       round((CAST(s2 AS DOUBLE) / n_hours
              - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours))
             / (CAST(s1 AS DOUBLE) / n_hours), 6) AS fano
FROM s
WHERE n_hours >= 24
""",
    description="Fano factor (variance/mean of ACTIVE-hour event counts) "
    "per user — the burstiness feature: ≈1 Poisson-random, >1 bursty "
    "(sessions/automation), <1 regular (schedulers/bots). Computed over "
    "each user's active hours from exact integer power sums, one "
    "closed-form float; ≥24 active hours required so the ratio is "
    "meaningful. Two keyed aggregates sharing the user partitioning.",
    tags=("timeseries", "statistics", "events", "mlprep"),
)
def q_user_burstiness_fano(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    perhour = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    s = perhour.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    return s.filter(F.col("n_hours") >= 24).select(
        "user_id",
        "n_hours",
        F.col("s1").alias("n_events"),
        F.round((F.col("s2").cast("double") / F.col("n_hours") - mean * mean) / mean, 6).alias("fano"),
    )


@register(
    "nation_revenue_holt_forecast",
    oracle="""
WITH RECURSIVE monthly AS (
  SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS month,
         CAST(sum(CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
rk AS (
  SELECT nation, y,
         CAST(row_number() OVER (PARTITION BY nation ORDER BY month) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n_months
  FROM monthly
),
rec AS (
  SELECT a.nation, CAST(2 AS BIGINT) AS rn,
         CAST(b.y AS DOUBLE) AS l,
         CAST(b.y AS DOUBLE) - a.y AS b
  FROM rk a JOIN rk b ON a.nation = b.nation AND a.rn = 1 AND b.rn = 2
  UNION ALL
  SELECT m.nation, r.rn + 1,
         0.5 * m.y + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * m.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM rec r JOIN rk m ON m.nation = r.nation AND m.rn = r.rn + 1
),
fin AS (
  SELECT rec.nation, rec.rn, rec.l, rec.b
  FROM rec JOIN (SELECT nation, max(rn) AS mx FROM rec GROUP BY 1) t
    ON rec.nation = t.nation AND rec.rn = t.mx
)
SELECT f.nation, r.n_months,
       round(f.l / 1000000, 4) AS level,
       round(f.b / 1000000, 4) AS trend,
       round((f.l + f.b) / 1000000, 4) AS forecast_next
FROM fin f JOIN (SELECT DISTINCT nation, n_months FROM rk) r
  ON f.nation = r.nation
WHERE r.n_months >= 3
""",
    description="Holt's linear-trend exponential smoothing (α=β=0.5) over "
    "each nation's monthly revenue, with the one-step-ahead forecast "
    "l+b — the trend-aware member of the smoothing family beside ewma8 "
    "(no trend) and the seasonal-naive backtest (no level). The "
    "recurrence is inherently sequential, so it runs as ONE in-array "
    "aggregate() fold over each nation's sorted month array — "
    "series-length work per key after the corpus-scale monthly "
    "aggregate, no driver loop, no cross-row float reordering (the "
    "oracle replays the identical per-step expression as a recursive "
    "CTE; both engines execute the same IEEE ops in the same order). "
    "Scale: state is 2 doubles per key; the fold never shuffles.",
    tags=("timeseries", "events", "forecast"),
)
def q_nation_revenue_holt_forecast(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("y")
        )
    )
    ser = monthly.groupBy("nation").agg(
        F.array_sort(F.collect_list(F.struct("month", "y"))).alias("a")
    )
    fold = F.expr(
        """
aggregate(
  slice(a, 3, size(a) - 2),
  named_struct(
    'l', cast(a[1].y as double),
    'b', cast(a[1].y as double) - a[0].y),
  (acc, x) -> named_struct(
    'l', 0.5D * x.y + 0.5D * (acc.l + acc.b),
    'b', 0.5D * ((0.5D * x.y + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b)
)
"""
    )
    return (
        ser.filter(F.size("a") >= 3)
        .select(
            "nation",
            F.size("a").cast("long").alias("n_months"),
            fold.alias("st"),
        )
        .select(
            "nation",
            "n_months",
            F.round(F.col("st.l") / 1e6, 4).alias("level"),
            F.round(F.col("st.b") / 1e6, 4).alias("trend"),
            F.round((F.col("st.l") + F.col("st.b")) / 1e6, 4).alias("forecast_next"),
        )
    )


@register(
    "hourly_counts_holt_winters",
    oracle="""
WITH RECURSIVE h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
rk AS (
  SELECT y, CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM h
),
pre AS (
  SELECT
    CAST(sum(y) FILTER (WHERE rn <= 24) AS DOUBLE) / 24 AS l0,
    (CAST(sum(y) FILTER (WHERE rn BETWEEN 25 AND 48) AS DOUBLE)
     - sum(y) FILTER (WHERE rn <= 24)) / 576 AS b0,
    list(y ORDER BY rn) FILTER (WHERE rn <= 24) AS head24,
    CAST(min(n) AS BIGINT) AS n
  FROM rk
),
init AS (
  SELECT l0, b0, list_transform(head24, x -> x - l0) AS q0, n FROM pre
),
rec AS (
  SELECT CAST(24 AS BIGINT) AS rn, l0 AS l, b0 AS b, q0 AS q FROM init
  UNION ALL
  SELECT m.rn,
         0.5 * (m.y - r.q[1]) + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * (m.y - r.q[1]) + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
         r.q[2:24] ||
           [0.5 * (m.y - (0.5 * (m.y - r.q[1]) + 0.5 * (r.l + r.b)))
            + 0.5 * r.q[1]]
  FROM rec r JOIN rk m ON m.rn = r.rn + 1
),
fin AS (
  SELECT rec.l, rec.b, rec.q
  FROM rec JOIN (SELECT max(rn) AS mx FROM rec) t ON rec.rn = t.mx
)
SELECT i.n,
       CAST(CAST(CAST(round(f.l * 1000000, 0) AS BIGINT) AS DECIMAL(24,6))
            / 1000000 AS DOUBLE) AS level,
       CAST(CAST(CAST(round(f.b * 1000000, 0) AS BIGINT) AS DECIMAL(24,6))
            / 1000000 AS DOUBLE) AS trend,
       CAST(CAST(CAST(round((f.l + f.b + f.q[1]) * 1000000, 0) AS BIGINT)
            AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS forecast_next
FROM fin f CROSS JOIN init i
WHERE i.n >= 49
""",
    description="Holt-Winters ADDITIVE seasonal smoothing (α=β=γ=0.5, "
    "period 24 h) of the hourly count series, with the one-step forecast "
    "l + b + s: the full smoothing family closer (ewma8 = no trend, Holt "
    "= no season). State is (level, trend, rotating 24-slot seasonal "
    "queue) folded by ONE in-array aggregate() over the sorted series — "
    "the queue rotates as slice+append inside the lambda, so the "
    "sequential recurrence still runs distributed-side with no driver "
    "loop. The oracle replays the identical IEEE steps as a recursive "
    "CTE carrying a LIST column; both engines execute the same ops in "
    "the same order, and outputs cross the edge as integer micros. "
    "Series is time-bounded (~720 points/month at any corpus size).",
    tags=("timeseries", "events", "forecast"),
)
def q_hourly_counts_holt_winters(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    ser = h.agg(
        F.array_sort(F.collect_list(F.struct("hr", "y"))).alias("a")
    ).select(F.expr("transform(a, x -> cast(x.y as double))").alias("ys"))
    fold = F.expr(
        """
aggregate(
  slice(ys, 25, size(ys) - 24),
  named_struct(
    'l', aggregate(slice(ys, 1, 24), 0D, (acc, x) -> acc + x) / 24,
    'b', (aggregate(slice(ys, 25, 24), 0D, (acc, x) -> acc + x)
          - aggregate(slice(ys, 1, 24), 0D, (acc, x) -> acc + x)) / 576,
    'q', transform(slice(ys, 1, 24),
                   x -> x - aggregate(slice(ys, 1, 24), 0D, (acc, x) -> acc + x) / 24)),
  (r, y) -> named_struct(
    'l', 0.5D * (y - r.q[0]) + 0.5D * (r.l + r.b),
    'b', 0.5D * ((0.5D * (y - r.q[0]) + 0.5D * (r.l + r.b)) - r.l) + 0.5D * r.b,
    'q', concat(slice(r.q, 2, 23),
                array(0.5D * (y - (0.5D * (y - r.q[0]) + 0.5D * (r.l + r.b)))
                      + 0.5D * r.q[0])))
)
"""
    )
    st = ser.filter(F.size("ys") >= 49).select(
        F.size("ys").cast("long").alias("n"), fold.alias("st")
    )
    def micro6(c):
        return (
            F.round(c * 1e6, 0).cast("long").cast("decimal(24,6)") / 1000000
        ).cast("double")
    return st.select(
        "n",
        micro6(F.col("st.l")).alias("level"),
        micro6(F.col("st.b")).alias("trend"),
        micro6(F.col("st.l") + F.col("st.b") + F.col("st.q")[0]).alias("forecast_next"),
    )


_COS24 = "1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.5000000000000001, 0.25881904510252074, 6.123233995736766e-17, -0.25881904510252063, -0.4999999999999998, -0.7071067811865475, -0.8660254037844387, -0.9659258262890682, -1.0, -0.9659258262890683, -0.8660254037844388, -0.7071067811865479, -0.5000000000000004, -0.25881904510252063, -1.8369701987210297e-16, 0.2588190451025203, 0.5000000000000001, 0.7071067811865474, 0.8660254037844384, 0.9659258262890681"
_SIN24 = "0.0, 0.25881904510252074, 0.49999999999999994, 0.7071067811865475, 0.8660254037844386, 0.9659258262890683, 1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.49999999999999994, 0.258819045102521, 1.2246467991473532e-16, -0.2588190451025208, -0.4999999999999997, -0.7071067811865471, -0.8660254037844384, -0.9659258262890683, -1.0, -0.9659258262890684, -0.8660254037844386, -0.7071067811865477, -0.5000000000000004, -0.25881904510252157"


@register(
    "hourly_counts_period24_power",
    oracle=f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
keyed AS (
  SELECT CAST(datediff('hour', TIMESTAMP '1970-01-01 00:00:00', hr) % 24
              AS BIGINT) AS k, y
  FROM h
),
ph AS (SELECT k, CAST(sum(y) AS BIGINT) AS sk FROM keyed GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS HUGEINT) AS s1,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
  FROM h
),
cs AS (
  SELECT
    CAST(sum(CAST(round(sk * ([{_COS24}])[CAST(k + 1 AS INTEGER)] * 1000000, 0)
                  AS BIGINT)) AS BIGINT) AS c_micro,
    CAST(sum(CAST(round(sk * ([{_SIN24}])[CAST(k + 1 AS INTEGER)] * 1000000, 0)
                  AS BIGINT)) AS BIGINT) AS s_micro
  FROM ph
)
SELECT n,
       CAST(CAST(c_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS dft_cos,
       CAST(CAST(s_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS dft_sin,
       round(2 * ((CAST(c_micro AS DOUBLE) / 1000000)
                  * (CAST(c_micro AS DOUBLE) / 1000000)
                  + (CAST(s_micro AS DOUBLE) / 1000000)
                  * (CAST(s_micro AS DOUBLE) / 1000000))
             / (CAST(n AS DOUBLE)
                * (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)), 6)
         AS period24_share
FROM cs CROSS JOIN tot
""",
    description="Single-bin DFT at the 24-hour period over the hourly "
    "count series: seasonality STRENGTH as the share of variance the "
    "daily sinusoid explains (2(c²+s²)/(N·SS)) — the detector that says "
    "whether the dow-hour profile / STL seasonal is signal or noise. "
    "The trig weights are 24 PRE-COMPUTED double literals shared "
    "verbatim by both engines (libm cos may differ by an ulp across "
    "runtimes — never evaluated at query time), phases come from "
    "TZ-independent NTZ hour arithmetic, phase sums are exact integers, "
    "and the two projections cross the engines as integer micros. "
    "Corpus-scale work is one hourly aggregate; the DFT is 24 rows.",
    tags=("timeseries", "statistics", "events"),
)
def q_hourly_counts_period24_power(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    keyed = h.select(
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', hr) % 24"
        ).cast("long").alias("k"),
        "y",
    )
    ph = keyed.groupBy("k").agg(F.sum("y").cast("long").alias("sk"))
    tot = h.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("s2"),
    )
    cosv = F.expr(f"array({_COS24})[cast(k as int)]")
    sinv = F.expr(f"array({_SIN24})[cast(k as int)]")
    cs = ph.agg(
        F.sum(F.round(F.col("sk") * cosv * 1e6, 0).cast("long"))
        .cast("long")
        .alias("c_micro"),
        F.sum(F.round(F.col("sk") * sinv * 1e6, 0).cast("long"))
        .cast("long")
        .alias("s_micro"),
    )
    cd = F.col("c_micro").cast("double") / 1e6
    sd = F.col("s_micro").cast("double") / 1e6
    return cs.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("c_micro").cast("decimal(24,6)") / 1000000).cast("double").alias("dft_cos"),
        (F.col("s_micro").cast("decimal(24,6)") / 1000000).cast("double").alias("dft_sin"),
        F.round(
            2
            * (cd * cd + sd * sd)
            / (
                F.col("n").cast("double")
                * (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n")
                )
            ),
            6,
        ).alias("period24_share"),
    )


@register(
    "revenue_forecast_pinball_loss",
    oracle="""
WITH monthly AS (
  SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS month,
         CAST(sum(CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
bt AS (
  SELECT a.nation, a.rev AS actual, f.rev AS forecast
  FROM monthly a
  JOIN monthly f ON a.nation = f.nation
                AND f.month = a.month - INTERVAL 1 MONTH
),
loss AS (
  SELECT nation, actual, forecast,
         CASE WHEN actual >= forecast
              THEN CAST(9 * (actual - forecast) AS HUGEINT)
              ELSE CAST(1 * (forecast - actual) AS HUGEINT) END AS pb10_micro,
         CASE WHEN actual >= forecast
              THEN CAST(5 * (actual - forecast) AS HUGEINT)
              ELSE CAST(5 * (forecast - actual) AS HUGEINT) END AS pb5_micro,
         CAST(abs(actual - forecast) AS HUGEINT) AS ae_micro
  FROM bt
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(pb10_micro) AS DOUBLE) / 10 / count(*) / 1000000, 4)
         AS pinball_q90,
       round(CAST(sum(pb5_micro) AS DOUBLE) / 10 / count(*) / 1000000, 4)
         AS pinball_q50,
       round(CAST(sum(ae_micro) AS DOUBLE) / count(*) / 1000000, 4) AS mae
FROM loss
""",
    description="Pinball (quantile) loss backtest of the naive one-month "
    "forecast: L_q = q·(y−f)⁺ + (1−q)·(f−y)⁺ at q=0.9 and q=0.5 beside "
    "MAE — the scoring rule for QUANTILE forecasts (a p90 forecast "
    "judged by MAE looks 'biased'; pinball is what it is optimal for; "
    "q=0.5 pinball = MAE/2 is the built-in sanity identity). Losses "
    "stay exact integers (q scaled ×10) until one division. Same "
    "monthly-grid shape as the seasonal-naive backtest.",
    tags=("timeseries", "forecast", "statistics"),
)
def q_revenue_forecast_pinball_loss(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev"))
    )
    a = monthly.alias("a")
    f_ = monthly.alias("f")
    bt = a.join(
        f_,
        (F.col("a.nation") == F.col("f.nation"))
        & (F.col("f.month") == F.expr("a.month - INTERVAL 1 MONTH")),
    ).select(
        F.col("a.rev").alias("actual"), F.col("f.rev").alias("forecast")
    )
    diff = F.col("actual") - F.col("forecast")
    loss = bt.select(
        F.when(diff >= 0, 9 * diff).otherwise(-diff).cast("decimal(38,0)").alias("pb10_micro"),
        (5 * F.abs(diff)).cast("decimal(38,0)").alias("pb5_micro"),
        F.abs(diff).cast("decimal(38,0)").alias("ae_micro"),
    )
    return loss.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.sum("pb10_micro").cast("double") / 10 / F.count(F.lit(1)) / 1e6, 4).alias(
            "pinball_q90"
        ),
        F.round(F.sum("pb5_micro").cast("double") / 10 / F.count(F.lit(1)) / 1e6, 4).alias(
            "pinball_q50"
        ),
        F.round(F.sum("ae_micro").cast("double") / F.count(F.lit(1)) / 1e6, 4).alias("mae"),
    )


@register(
    "revenue_forecast_conformal_interval",
    oracle="""
WITH monthly AS (
  SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS month,
         CAST(sum(CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
resid AS (
  SELECT CAST(abs(a.rev - f.rev) AS BIGINT) AS ae
  FROM monthly a
  JOIN monthly f ON a.nation = f.nation
                AND f.month = a.month - INTERVAL 1 MONTH
),
grid AS (SELECT ae, CAST(count(*) AS BIGINT) AS cnt FROM resid GROUP BY 1),
cum AS (
  SELECT ae, sum(cnt) OVER (ORDER BY ae) AS c, sum(cnt) OVER () AS n
  FROM grid
),
qhat AS (
  -- split-conformal: ceil((n+1)(1-α))-th order statistic, α = 0.1
  SELECT min(ae) AS q_micro, CAST(min(n) AS BIGINT) AS n
  FROM cum WHERE 10 * c >= 9 * (n + 1)
),
latest AS (
  SELECT nation, rev AS forecast
  FROM monthly m
  WHERE month = (SELECT max(month) FROM monthly x WHERE x.nation = m.nation)
)
SELECT l.nation,
       CAST(CAST(l.forecast AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS forecast,
       CAST(CAST(l.forecast - q.q_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE)
         AS lo90,
       CAST(CAST(l.forecast + q.q_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE)
         AS hi90
FROM latest l CROSS JOIN qhat q
""",
    description="Split-conformal 90% prediction interval for the naive "
    "next-month forecast: q̂ = the ⌈(n+1)(1−α)⌉-th order statistic of "
    "the backtest |residuals| (exact integer 10·cum ≥ 9(n+1) cut on the "
    "residual grid — the finite-sample-valid quantile, not the plug-in "
    "one), interval = forecast ± q̂ per nation. Distribution-free "
    "coverage guarantee under exchangeability — the honest uncertainty "
    "statement point forecasts (Holt/seasonal-naive) lack. "
    "Residual-grid-scale work after the monthly aggregate.",
    tags=("timeseries", "forecast", "statistics"),
)
def q_revenue_forecast_conformal_interval(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = lifetime.persist(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev"))
    )
    a, f_ = monthly.alias("a"), monthly.alias("f")
    resid = a.join(
        f_,
        (F.col("a.nation") == F.col("f.nation"))
        & (F.col("f.month") == F.expr("a.month - INTERVAL 1 MONTH")),
    ).select(F.abs(F.col("a.rev") - F.col("f.rev")).cast("long").alias("ae"))
    grid = resid.groupBy("ae").agg(F.count(F.lit(1)).alias("cnt"))
    cum = grid.select(
        "ae",
        F.sum("cnt").over(Window.orderBy("ae")).alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    qhat = cum.filter(10 * F.col("c") >= 9 * (F.col("n") + 1)).agg(
        F.min("ae").alias("q_micro"), F.min("n").cast("long").alias("n")
    )
    wlast = Window.partitionBy("nation").orderBy(F.col("month").desc())
    latest = (
        monthly.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("nation", F.col("rev").alias("forecast"))
    )
    return latest.crossJoin(F.broadcast(qhat)).select(
        "nation",
        (F.col("forecast").cast("decimal(24,6)") / 1000000).cast("double").alias("forecast"),
        ((F.col("forecast") - F.col("q_micro")).cast("decimal(24,6)") / 1000000)
        .cast("double")
        .alias("lo90"),
        ((F.col("forecast") + F.col("q_micro")).cast("decimal(24,6)") / 1000000)
        .cast("double")
        .alias("hi90"),
    )


# --- cross-correlation (lead-lag) between two event series --------------------


@register(
    "click_purchase_cross_correlation",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds
),
cnt AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
),
xy AS (
  SELECT s.hr,
         COALESCE(x.c, 0) AS x, COALESCE(y.c, 0) AS y
  FROM spine s
  LEFT JOIN cnt x ON x.hr = s.hr AND x.event_type = 'click'
  LEFT JOIN cnt y ON y.hr = s.hr AND y.event_type = 'purchase'
),
lagged AS (
  SELECT l.lag, a.x, b.y
  FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) l(lag)
  JOIN xy a ON TRUE
  JOIN xy b ON b.hr = a.hr + l.lag * INTERVAL 1 HOUR
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag_hours, n,
       round((n * sxy - sx * sy) * 1.0
             / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 6)
         AS ccf
FROM m
""",
    description="Cross-correlation function between the hourly click and "
    "purchase series at lags -3..+3 hours — the lead-lag diagnostic "
    "(does click volume LEAD purchases? at what delay does the "
    "correlation peak?) behind attribution windows and anomaly "
    "root-causing, the two-series companion of the ACF query. Series "
    "are zero-filled on a complete hour spine (missing hours are real "
    "zeros, not dropped rows — dropping them biases r toward busy "
    "hours); the lag alignment is an hour-offset equi-join (7 lags x "
    "spine rows), and every moment is an EXACT BIGINT sum with one "
    "closed-form float at the edge (the house Pearson convention). At "
    "100 TB the corpus collapses to the hour x type count table in one "
    "aggregate; everything after is series-scale.",
    tags=("timeseries", "events", "correlation"),
)
def q_click_purchase_cross_correlation(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    # cnt feeds the x and y slices, and xy feeds both lag-join sides —
    # unpersisted, each consumer re-ran the events scan + hourly
    # aggregate (round-12 plan audit: 6 scans in this one plan). Both
    # frames are series-length.
    cnt = lifetime.persist(
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.date_trunc("hour", "ts").alias("hr"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    x = cnt.filter(F.col("event_type") == "click").select(
        "hr", F.col("c").alias("x")
    )
    y = cnt.filter(F.col("event_type") == "purchase").select(
        "hr", F.col("c").alias("y")
    )
    xy = lifetime.persist(
        spine.join(F.broadcast(x), "hr", "left")
        .join(F.broadcast(y), "hr", "left")
        .select(
            "hr",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a = xy.select("hr", "x")
    b = xy.select(F.col("hr").alias("hrb"), "y")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("hrb")
            == F.col("hr") + F.col("lag") * F.expr("INTERVAL 1 HOUR"),
        )
    )
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("lag").cast("long").alias("lag_hours"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1.0
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * 1.0
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("ccf"),
    )


# --- Granger-lite: does click lead purchase? ----------------------------------


@register(
    "click_purchase_granger_lite",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds
),
cnt AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
),
xy AS (
  SELECT s.hr, COALESCE(x.c, 0) AS x, COALESCE(y.c, 0) AS y
  FROM spine s
  LEFT JOIN cnt x ON x.hr = s.hr AND x.event_type = 'click'
  LEFT JOIN cnt y ON y.hr = s.hr AND y.event_type = 'purchase'
),
tri AS (
  SELECT b.y AS yt, a.y AS yl, a.x AS xl
  FROM xy a JOIN xy b ON b.hr = a.hr + INTERVAL 1 HOUR
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(yt) AS BIGINT) AS s1, CAST(sum(yl) AS BIGINT) AS s2,
         CAST(sum(xl) AS BIGINT) AS s3,
         CAST(sum(yt * yt) AS BIGINT) AS q11,
         CAST(sum(yl * yl) AS BIGINT) AS q22,
         CAST(sum(xl * xl) AS BIGINT) AS q33,
         CAST(sum(yt * yl) AS BIGINT) AS q12,
         CAST(sum(yt * xl) AS BIGINT) AS q13,
         CAST(sum(yl * xl) AS BIGINT) AS q23
  FROM tri
),
r AS (
  SELECT n,
         (n * q13 - s1 * s3) * 1.0
           / sqrt((n * q11 - s1 * s1) * 1.0 * (n * q33 - s3 * s3)) AS r13,
         (n * q12 - s1 * s2) * 1.0
           / sqrt((n * q11 - s1 * s1) * 1.0 * (n * q22 - s2 * s2)) AS r12,
         (n * q23 - s2 * s3) * 1.0
           / sqrt((n * q22 - s2 * s2) * 1.0 * (n * q33 - s3 * s3)) AS r23
  FROM m
),
p AS (
  SELECT n,
         (r13 - r12 * r23)
           / sqrt((1.0 - r12 * r12) * (1.0 - r23 * r23)) AS rp
  FROM r
)
SELECT n,
       round(rp, 6) AS r_partial,
       round(rp * rp * (n - 3) / (1.0 - rp * rp), 4) AS f_stat
FROM p
""",
    description="Granger-causality screen (lag 1): partial correlation of "
    "purchase_t with click_{t-1} CONTROLLING for purchase_{t-1}, plus "
    "the equivalent nested-OLS F statistic F = r_p^2 (n-3)/(1-r_p^2) — "
    "'does click volume add predictive information about next-hour "
    "purchases beyond purchases' own history?', the causality screen "
    "raw CCF can't answer (autocorrelated series cross-correlate "
    "spuriously). Same zero-filled hour spine as the CCF query, ONE "
    "exact BIGINT moment pass over the lag-aligned triples, closed-form "
    "floats only at the edge (the partial-correlation/Chow-F house "
    "convention). Full oracle.",
    tags=("timeseries", "events", "statistics", "correlation"),
)
def q_click_purchase_granger_lite(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    # cnt feeds the x and y slices, and xy feeds both lag-join sides —
    # same multi-consumer recompute as the cross-correlation query
    # (round-12 plan audit); both frames are series-length.
    cnt = lifetime.persist(
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    x = cnt.filter(F.col("event_type") == "click").select(
        "hr", F.col("c").alias("x")
    )
    y = cnt.filter(F.col("event_type") == "purchase").select(
        "hr", F.col("c").alias("y")
    )
    xy = lifetime.persist(
        spine.join(F.broadcast(x), "hr", "left")
        .join(F.broadcast(y), "hr", "left")
        .select(
            "hr",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    a = xy.select("hr", F.col("y").alias("yl"), F.col("x").alias("xl"))
    b = xy.select(
        (F.col("hr") - F.expr("INTERVAL 1 HOUR")).alias("hr"),
        F.col("y").alias("yt"),
    )
    tri = a.join(F.broadcast(b), "hr")
    m = tri.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yt").alias("s1"),
        F.sum("yl").alias("s2"),
        F.sum("xl").alias("s3"),
        F.sum(F.col("yt") * F.col("yt")).alias("q11"),
        F.sum(F.col("yl") * F.col("yl")).alias("q22"),
        F.sum(F.col("xl") * F.col("xl")).alias("q33"),
        F.sum(F.col("yt") * F.col("yl")).alias("q12"),
        F.sum(F.col("yt") * F.col("xl")).alias("q13"),
        F.sum(F.col("yl") * F.col("xl")).alias("q23"),
    )
    r13 = (
        (F.col("n") * F.col("q13") - F.col("s1") * F.col("s3"))
        * 1.0
        / F.sqrt(
            (F.col("n") * F.col("q11") - F.col("s1") * F.col("s1"))
            * 1.0
            * (F.col("n") * F.col("q33") - F.col("s3") * F.col("s3"))
        )
    )
    r12 = (
        (F.col("n") * F.col("q12") - F.col("s1") * F.col("s2"))
        * 1.0
        / F.sqrt(
            (F.col("n") * F.col("q11") - F.col("s1") * F.col("s1"))
            * 1.0
            * (F.col("n") * F.col("q22") - F.col("s2") * F.col("s2"))
        )
    )
    r23 = (
        (F.col("n") * F.col("q23") - F.col("s2") * F.col("s3"))
        * 1.0
        / F.sqrt(
            (F.col("n") * F.col("q22") - F.col("s2") * F.col("s2"))
            * 1.0
            * (F.col("n") * F.col("q33") - F.col("s3") * F.col("s3"))
        )
    )
    rp = (r13 - r12 * r23) / F.sqrt(
        (1.0 - r12 * r12) * (1.0 - r23 * r23)
    )
    return (
        m.select(
            "n",
            F.round(rp, 6).alias("r_partial"),
            F.round(rp * rp * (F.col("n") - 3) / (1.0 - rp * rp), 4).alias(
                "f_stat"
            ),
        )
    )


# --- inter-arrival exponential QQ fit ------------------------------------------


@register(
    "user_interarrival_exponential_qq",
    oracle="""
WITH g AS (
  SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gg AS (SELECT CAST(gap_s AS BIGINT) AS gap_s FROM g WHERE gap_s IS NOT NULL),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap_s) AS BIGINT) AS s,
         quantile_cont(gap_s,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
  FROM gg
)
SELECT CAST(p.i AS BIGINT) AS decile, n,
       round(q[p.i], 4) AS empirical_s,
       round((s * 1.0 / n) * (-ln(1.0 - p.i / 10.0)), 4) AS exponential_s,
       round(q[p.i] / ((s * 1.0 / n) * (-ln(1.0 - p.i / 10.0))), 4)
         AS qq_ratio
FROM st, (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) p(i)
""",
    description="Exponential QQ fit of per-user event inter-arrival "
    "times: empirical deciles of the pooled within-user gaps vs the "
    "fitted exponential's quantiles -ln(1-p)/lambda (lambda from the "
    "exact mean) — the Poisson-process goodness check behind arrival "
    "modeling, session-gap threshold choice, and bot detection "
    "(qq_ratio flat at 1 = memoryless arrivals; rising tail = "
    "burstiness the Fano query quantifies differently). Gaps are "
    "TZ-free whole elapsed seconds from a per-user lag window (one "
    "key-partitioned exchange); deciles from one exact-percentile "
    "aggregate (the R-7 convention); output is 9 rows. Full oracle.",
    tags=("timeseries", "events", "statistics"),
)
def q_user_interarrival_exponential_qq(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        F.expr("timestampdiff(SECOND, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)")
        .cast("long")
        .alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    qs = ", ".join(str(i / 10.0) + "D" for i in range(1, 10))
    st = g.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap_s").alias("s"),
        F.expr(f"percentile(gap_s, array({qs}))").alias("q"),
    )
    ps = F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile")
    mean = F.col("s") * 1.0 / F.col("n")
    theo = mean * (-F.log(1.0 - F.col("decile") / 10.0))
    emp = F.element_at(F.col("q"), F.col("decile").cast("int"))
    return st.select(ps, "n", "s", "q").select(
        F.col("decile").cast("long").alias("decile"),
        "n",
        F.round(emp, 4).alias("empirical_s"),
        F.round(theo, 4).alias("exponential_s"),
        F.round(emp / theo, 4).alias("qq_ratio"),
    )
