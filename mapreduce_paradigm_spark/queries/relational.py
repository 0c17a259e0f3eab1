"""Relational operator library over the TPC-H-style testdata (SURVEY.md §2.B).

The reference has no joins/general aggregates (single-input pipeline,
/root/reference/src/main.cpp); these generalize its group-agg core
(src/main.cpp:104-142) into the full relational surface, Spark-first:
declarative plans so Catalyst keeps pushdown/pruning/join planning, explicit
``broadcast()`` hints on dimension tables, AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import davg, dsum
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table, register_views


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- projection / filter -----------------------------------------------------


@register(
    "filter_projection",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
WHERE l_discount > 0.05 AND l_quantity >= 10
""",
    description="Predicate + derived-column projection; both filters push to "
    "the parquet scan (PushedFilters).",
    tags=("filter", "projection"),
)
def q_filter_projection(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") >= 10))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# --- aggregation -------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    description="TPC-H Q1-style pricing summary: multi-aggregate groupBy with "
    "map-side partial aggregation (the reference's combiner, src/main.cpp:234-258, "
    "done by HashAggregate).",
    bench=True,
    tags=("aggregation",),
)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
        davg(F.col("l_quantity"), "avg_qty"),
        davg(F.col("l_extendedprice"), "avg_price"),
        davg(F.col("l_discount"), "avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "segment_acctbal_stats",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_customers,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_bal,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY c_mktsegment
""",
    description="count/min/max/avg/count-distinct in one grouped pass.",
    tags=("aggregation",),
)
def q_segment_acctbal_stats(spark, sf_dir):
    return _t(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        davg(F.col("c_acctbal"), "avg_bal"),
        F.count_distinct("c_nationkey").alias("n_nations"),
    )


@register(
    "distinct_status_priority",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    description="Multi-column distinct (generalizes per-doc dedup O6).",
    tags=("distinct",),
)
def q_distinct_status_priority(spark, sf_dir):
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "rollup_qty",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    description="Hierarchical rollup aggregate (SURVEY.md §2.B grouping sets).",
    tags=("aggregation", "rollup"),
)
def q_rollup_qty(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "cube_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    description="Full cube over two dimensions.",
    tags=("aggregation", "cube"),
)
def q_cube_status_priority(spark, sf_dir):
    return _t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), "total"),
    )


@register(
    "grouping_sets_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
    description="Explicit grouping sets via spark.sql (same Catalyst plan as "
    "the DataFrame form).",
    tags=("aggregation", "grouping-sets"),
)
def q_grouping_sets_priority(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "approx_distinct_parts",
    oracle=None,  # approximate by construction — HLL++ vs DuckDB's sketch differ
    description="approx_count_distinct (HyperLogLog++) per brand; rows-only "
    "check (exactness is the exact-count query's job).",
    tags=("aggregation", "approx"),
)
def q_approx_distinct_parts(spark, sf_dir):
    return _t(spark, sf_dir, "part").groupBy("p_brand").agg(
        F.approx_count_distinct("p_partkey").alias("approx_parts"),
    )


# --- joins -------------------------------------------------------------------


@register(
    "customer_order_totals",
    oracle="""
SELECT c_custkey, c_name,
       count(*) AS order_cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spent
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    description="Equi inner join + grouped aggregate; AQE picks broadcast when "
    "the dim side is small.",
    bench=True,
    tags=("join", "aggregation"),
)
def q_customer_order_totals(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .join(_t(spark, sf_dir, "orders"), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("order_cnt"),
            dsum(F.col("o_totalprice"), "total_spent"),
        )
    )


@register(
    "customer_order_counts_left",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS order_cnt
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
    description="Left outer join preserving order-less customers (count=0).",
    tags=("join",),
)
def q_customer_order_counts_left(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .join(_t(spark, sf_dir, "orders"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "customers_with_orders_semi",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    description="Left-semi join (EXISTS).",
    tags=("join", "semi"),
)
def q_customers_with_orders_semi(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .join(_t(spark, sf_dir, "orders"), F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "customers_without_orders_anti",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""",
    description="Left-anti join (NOT EXISTS): customers with no finished "
    "orders — predicate chosen to have survivors at every SF so the hash "
    "compares real rows.",
    tags=("join", "anti"),
)
def q_customers_without_orders_anti(spark, sf_dir):
    finished = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        _t(spark, sf_dir, "customer")
        .join(finished, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "revenue_by_region",
    oracle="""
SELECT r_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    description="5-way star join rolled up to region; all dims broadcast "
    "(one shuffle total, for the final group).",
    bench=True,
    tags=("join", "broadcast", "aggregation"),
)
def q_revenue_by_region(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # genuine dims (customer/nation/region) broadcast explicitly; orders is
    # SF-proportional — NOT broadcastable at 100 TB — so its join strategy is
    # left to size-based planning/AQE: broadcast at bench scale, shuffle (or
    # bucketed co-location, sources/files.save_bucketed) at cluster scale.
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("r_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_lineitems"),
    )


@register(
    "supplier_nation_broadcast",
    oracle="""
SELECT n_name, count(*) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    description="Broadcast-hash join of a fact against a tiny dim.",
    tags=("join", "broadcast"),
)
def q_supplier_nation_broadcast(spark, sf_dir):
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            dsum(F.col("s_acctbal"), "total_bal"),
        )
    )


# --- sort / limit / top-k ----------------------------------------------------


@register(
    "top10_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
    description="Global top-k: Spark plans TakeOrderedAndProject (per-partition "
    "heap + driver merge), no full sort.",
    tags=("sort", "topk"),
)
def q_top10_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "orders_multikey_sort",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice > 100000
ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
    description="Multi-key sort (asc, desc) with deterministic tie-break — the "
    "reference's df-desc/word-asc comparator generalized (src/main.cpp:83-91).",
    tags=("sort",),
)
def q_orders_multikey_sort(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000))
        .orderBy(F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


# --- set operations ----------------------------------------------------------


@register(
    "union_building_or_bigspender",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
""",
    description="UNION (distinct) of two key sets.",
    tags=("setop",),
)
def q_union_building_or_bigspender(spark, sf_dir):
    a = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.unionByName(b).distinct()


@register(
    "intersect_f_and_o_customers",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
""",
    description="INTERSECT of customer key sets.",
    tags=("setop",),
)
def q_intersect_f_and_o_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "except_no_f_orders",
    oracle="""
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
""",
    description="EXCEPT (set difference).",
    tags=("setop",),
)
def q_except_no_f_orders(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    b = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.exceptAll(b).distinct()


# --- scalar function suites --------------------------------------------------


@register(
    "order_month_summary",
    oracle="""
SELECT date_trunc('month', o_orderdate) AS order_month,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2
""",
    description="Date functions: truncation + extraction feeding an aggregate.",
    bench=True,
    tags=("functions", "date", "aggregation"),
)
def q_order_month_summary(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "total"),
        )
    )


@register(
    "part_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_type, 1, 5) AS type_prefix,
       p_name || '/' || p_brand AS name_brand,
       CAST(length(p_name) AS INTEGER) AS name_len,
       replace(p_type, ' ', '_') AS type_snake
FROM part
""",
    description="String function suite: case, substring, concat, length, replace.",
    tags=("functions", "string"),
)
def q_part_string_funcs(spark, sf_dir):
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("/", "p_name", "p_brand").alias("name_brand"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@register(
    "lineitem_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
       sqrt(l_quantity) AS qty_sqrt,
       round(ln(l_extendedprice), 6) AS price_ln,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
       abs(l_extendedprice - l_quantity * 1000.0) AS price_gap
FROM lineitem
WHERE l_linenumber = 1
""",
    description="Arithmetic/math function suite over a pushed-down filter.",
    tags=("functions", "math"),
)
def q_lineitem_math_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charge"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil(F.col("l_discount") * 100).cast("long").alias("disc_pct_ceil"),
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("price_gap"),
    )


@register(
    "events_json_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
FROM events
GROUP BY event_type
""",
    description="JSON extraction from the events.props payload column.",
    tags=("functions", "json"),
)
def q_events_json_extract(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.get_json_object("props", "$.k").cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_k"),
        )
    )


@register(
    "events_variant_extract",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
    description="Spark 4 VARIANT type: props parsed once with parse_json "
    "into the binary VARIANT encoding, fields typed out via variant_get — "
    "the shredded-semi-structured path that replaces per-access string "
    "re-parsing (get_json_object) at scale.",
    tags=("functions", "json", "variant"),
)
def q_events_variant_extract(spark, sf_dir):
    v = F.parse_json(F.col("props"))
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", F.variant_get(v, "$.k", "bigint").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.max("k").alias("max_k"))
    )


@register(
    "embedding_array_funcs",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_component,
       round(list_sum(CAST(embedding AS DOUBLE[])), 4) AS component_sum,
       CAST(list_max(embedding) AS DOUBLE) AS max_component
FROM embeddings
""",
    description="Array function suite: size, element access, fold-sum, max.",
    tags=("functions", "array"),
)
def q_embedding_array_funcs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn("emb_d", F.col("embedding").cast("array<double>"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.col("emb_d")[0].alias("first_component"),
        F.round(
            F.aggregate("emb_d", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("component_sum"),
        F.array_max("emb_d").alias("max_component"),
    )


@register(
    "orders_status_pivot",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F') AS cnt_f,
       count(*) FILTER (o_orderstatus = 'O') AS cnt_o,
       count(*) FILTER (o_orderstatus = 'P') AS cnt_p
FROM orders
GROUP BY o_orderpriority
""",
    description="Pivot (long -> wide): order counts by status column; "
    "explicit value list keeps the plan a single pass (no distinct-values "
    "pre-query).",
    tags=("pivot", "aggregation"),
)
def q_orders_status_pivot(spark, sf_dir):
    p = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("cnt_p"),
    )


@register(
    "lineitem_unpivot_metrics",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_linenumber = 1
""",
    description="Unpivot/melt (wide -> long): three measure columns into "
    "(metric, val) rows — the Spark `unpivot` relational operator.",
    tags=("pivot", "projection"),
)
def q_lineitem_unpivot_metrics(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "metric",
            "val",
        )
    )


@register(
    "lineitem_map_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       2 AS n_keys,
       l_quantity AS qty_from_map,
       'qty,tax' AS keys_csv
FROM lineitem
WHERE l_linenumber <= 2
""",
    description="Map function suite: map_from_arrays, size, element_at, "
    "map_keys — the oracle checks the extracted VALUES (DuckDB needs no map "
    "detour to validate them).",
    tags=("functions", "map"),
)
def q_lineitem_map_funcs(spark, sf_dir):
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("tax")),
        F.array(F.col("l_quantity"), F.col("l_tax")),
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") <= 2)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.size(m).alias("n_keys"),
            F.element_at(m, F.lit("qty")).alias("qty_from_map"),
            F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_csv"),
        )
    )


@register(
    "shipmode_priority_counts",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag
""",
    description="TPC-H Q12 shape: conditional CASE aggregation over a "
    "fact-fact join with a pushed date filter.",
    tags=("join", "aggregation", "case"),
)
def q_shipmode_priority_counts(spark, sf_dir):
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "promo_revenue_ratio",
    oracle="""
SELECT 100.0
       * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
    description="TPC-H Q14 shape: conditional-revenue ratio (single global "
    "aggregate, broadcastable part dim); exact decimal accumulation on both "
    "branches.",
    tags=("join", "aggregation", "case"),
)
def q_promo_revenue_ratio(spark, sf_dir):
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6), 0).cast("long")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("long"))
    den = F.sum(rev).cast("decimal(24,6)") / F.lit(1000000)
    num = F.sum(promo).cast("decimal(24,6)") / F.lit(1000000)
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * num.cast("double") / den.cast("double")).alias("promo_revenue_pct"))
    )


@register(
    "disjunctive_filter_join",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
   OR (p_size >= 40 AND l_quantity >= 25)
""",
    description="TPC-H Q19 shape: disjunctive multi-table predicates — "
    "Catalyst pushes the single-table residuals below the join and keeps "
    "the cross-table OR as the join filter.",
    tags=("join", "filter"),
)
def q_disjunctive_filter_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_size") >= 40) & (F.col("l_quantity") >= 25))
    )
    return j.filter(cond).agg(
        F.count("*").alias("n"),
        dsum(F.col("l_extendedprice"), "total_price"),
    )


@register(
    "nation_pair_volume",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY 1, 2, 3
""",
    description="TPC-H Q7 shape: supplier-nation x customer-nation trade "
    "volume by year — the same dim (nation) joined twice under different "
    "roles.",
    bench=True,
    tags=("join", "aggregation"),
)
def q_nation_pair_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("o_orderdate").alias("order_year")
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"))


@register(
    "lineitem_stats_suite",
    oracle="""
SELECT l_returnflag,
       round(stddev_pop(l_quantity), 4) AS sd_qty,
       round(var_pop(l_discount), 6) AS var_disc,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       bool_and(l_discount <= 0.1) AS all_small_disc,
       bool_or(l_tax > 0.07) AS any_high_tax
FROM lineitem
GROUP BY l_returnflag
""",
    description="Statistical aggregate suite: population stddev/variance, "
    "Pearson correlation, bool_and/bool_or — rounded so single-pass vs "
    "two-pass engine algorithms agree.",
    tags=("aggregation", "statistics"),
)
def q_lineitem_stats_suite(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_pop("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_pop("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        )
    )


@register(
    "orders_date_funcs",
    oracle="""
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow_sun1,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER)
         AS days_to_1999,
       strftime(CAST(date_add(CAST(o_orderdate AS DATE), INTERVAL 3 MONTH) AS DATE), '%Y-%m-%d') AS plus3m,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr
FROM orders
""",
    description="Date/time function suite: day-of-week (aligned to Spark's "
    "Sunday=1 numbering), last_day, datediff, month-end-clamped add_months, "
    "quarter.",
    tags=("functions", "datetime"),
)
def q_orders_date_funcs(spark, sf_dir):
    d = F.col("o_orderdate").cast("date")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.dayofweek(d).alias("dow_sun1"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("1999-01-01").cast("date"), d).alias("days_to_1999"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.quarter(d).alias("qtr"),
    )


@register(
    "null_semantics_suite",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         nullif(o_orderstatus, 'P') AS status_np,
         nullif(o_orderpriority, '3-MEDIUM') AS prio_nm
  FROM orders
)
SELECT o_orderkey,
       coalesce(status_np, 'PENDING') AS status_filled,
       (status_np IS NOT DISTINCT FROM prio_nm) AS nullsafe_eq,
       (status_np IS NULL) AS status_is_null
FROM t
ORDER BY status_np NULLS LAST, o_orderkey
LIMIT 500
""",
    description="Null semantics: nullif/coalesce, null-safe equality "
    "(<=> / IS NOT DISTINCT FROM), IS NULL, explicit NULLS LAST ordering "
    "(engines disagree on the default — always say it).",
    tags=("functions", "null"),
)
def q_null_semantics_suite(spark, sf_dir):
    t = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio_nm"),
    )
    return (
        t.select(
            "o_orderkey",
            F.coalesce(F.col("status_np"), F.lit("PENDING")).alias("status_filled"),
            F.col("status_np").eqNullSafe(F.col("prio_nm")).alias("nullsafe_eq"),
            F.col("status_np").isNull().alias("status_is_null"),
            "status_np",
        )
        .orderBy(F.col("status_np").asc_nulls_last(), F.col("o_orderkey").asc())
        .limit(500)
        .drop("status_np")
    )


@register(
    "part_name_edit_distance",
    oracle="""
SELECT p_partkey, p_name,
       CAST(levenshtein(p_name, 'blue bolt') AS INTEGER) AS dist
FROM part
WHERE levenshtein(p_name, 'blue bolt') <= 4
""",
    description="Edit-distance scalar function (levenshtein) as a fuzzy "
    "filter — integer output, no float boundary; target/threshold chosen "
    "to match real part names at every SF (non-vacuous hash).",
    tags=("functions", "string"),
)
def q_part_name_edit_distance(spark, sf_dir):
    d = F.levenshtein(F.col("p_name"), F.lit("blue bolt"))
    return (
        _t(spark, sf_dir, "part")
        .filter(d <= 4)
        .select("p_partkey", "p_name", d.alias("dist"))
    )


@register(
    "daily_order_counts_gap_filled",
    oracle="""
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), per_day AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT strftime(spine.day, '%Y-%m-%d') AS day,
       coalesce(per_day.n, 0) AS n_orders
FROM spine LEFT JOIN per_day ON spine.day = per_day.day
""",
    description="Calendar-spine gap fill: generate the full date range "
    "(sequence + explode) and left-join daily counts so zero-order days "
    "appear — the dense-timeseries pattern dashboards need.",
    tags=("datetime", "join", "sequence"),
)
def q_daily_order_counts_gap_filled(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").withColumn("day", F.col("o_orderdate").cast("date"))
    bounds = orders.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    per_day = orders.groupBy("day").agg(F.count("*").alias("n"))
    return (
        spine.join(per_day, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "region_revenue_share",
    oracle="""
WITH r AS (
  SELECT r_name,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name
)
SELECT r_name, revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM r
""",
    description="Percent-of-total: windowed grand total over a grouped "
    "aggregate (window-over-aggregate composition).",
    tags=("window", "aggregation", "join"),
)
def q_region_revenue_share(spark, sf_dir):
    from pyspark.sql.window import Window

    from mapreduce_paradigm_spark.registry import all_specs

    per_region = all_specs()["revenue_by_region"].builder(spark, sf_dir).select(
        "r_name", "revenue"
    )
    w = Window.partitionBy()
    return per_region.select(
        "r_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


@register(
    "embedding_posexplode_head",
    oracle="""
SELECT vec_id,
       CAST(s.ord AS INTEGER) AS pos,
       CAST(s.val AS DOUBLE) AS component
FROM (
  SELECT vec_id,
         unnest(list_transform(embedding[1:4], (x, i) -> {'ord': i - 1, 'val': x})) AS s
  FROM embeddings
)
""",
    description="posexplode: array element WITH POSITION (first 4 "
    "components per vector); DuckDB mirror via list_transform struct "
    "unnest (0-based alignment).",
    tags=("functions", "array", "explode"),
)
def q_embedding_posexplode_head(spark, sf_dir):
    return (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.slice(F.col("embedding"), 1, 4).alias("head"))
        .select("vec_id", F.posexplode("head").alias("pos", "component"))
        .select("vec_id", "pos", F.col("component").cast("double").alias("component"))
    )


@register(
    "part_number_extract",
    oracle="""
SELECT p_partkey, p_name,
       regexp_extract(p_name, '([0-9]+)', 1) AS num_str,
       CAST(CASE WHEN regexp_extract(p_name, '([0-9]+)', 1) = ''
                 THEN NULL
                 ELSE CAST(regexp_extract(p_name, '([0-9]+)', 1) AS BIGINT) END
            AS BIGINT) AS num
FROM part
""",
    description="Capture-group regexp extraction + safe numeric cast "
    "(empty match -> NULL, identical semantics both engines).",
    tags=("functions", "string", "regexp"),
)
def q_part_number_extract(spark, sf_dir):
    num_str = F.regexp_extract(F.col("p_name"), r"([0-9]+)", 1)
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        num_str.alias("num_str"),
        F.when(num_str == "", F.lit(None)).otherwise(num_str.cast("long")).alias("num"),
    )


@register(
    "unshipped_orders_top10",
    oracle="""
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    description="TPC-H Q3 shape: segment-filtered 3-way join, revenue "
    "aggregate, ordered top-10 (TakeOrderedAndProject, no global sort).",
    tags=("join", "aggregation", "topk"),
)
def q_unshipped_orders_top10(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp_ntz")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "forecast_revenue_change",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
         AS potential_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    description="TPC-H Q6 shape: single-table multi-predicate global "
    "aggregate; every filter reaches the parquet scan.",
    tags=("aggregation", "filter"),
)
def q_forecast_revenue_change(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "potential_revenue"))
    )


@register(
    "returned_items_report",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    description="TPC-H Q10 shape: returned-item revenue per customer with "
    "nation dim, top-20.",
    tags=("join", "aggregation", "topk"),
)
def q_returned_items_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(_t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "nation_market_share",
    oracle="""
SELECT order_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                     THEN volume_d ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(sum(volume_d) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         sn.n_name AS supp_nation,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume_d
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
)
GROUP BY order_year
""",
    description="TPC-H Q8 shape: one nation's market share of STANDARD-part "
    "trade into AMERICA-region customers, by year — conditional share-of-"
    "total over a 7-table snowflake join; every dimension broadcast, the "
    "fact table never shuffles before the final 7-group aggregate. Ratio "
    "numerator/denominator accumulate as exact long micros (same "
    "promo_revenue_ratio discipline) so the double division is bit-stable "
    "cross-engine.",
    tags=("join", "aggregation"),
)
def q_nation_market_share(spark, sf_dir):
    vol = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6), 0).cast("long")
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0).cast("long"))
    num = F.sum(nat_vol).cast("decimal(24,6)") / F.lit(1000000)
    den = F.sum(vol).cast("decimal(24,6)") / F.lit(1000000)
    amer_cust = (
        _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        .join(F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
                          .select("r_regionkey")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(_t(spark, sf_dir, "part")
                          .filter(F.col("p_type") == "STANDARD").select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(_t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(amer_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg((num.cast("double") / den.cast("double")).alias("mkt_share"))
    )


@register(
    "customer_order_count_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    description="TPC-H Q13 shape: distribution of per-customer order counts "
    "(excluding 1-URGENT; the fixture has no o_comment, so the priority "
    "predicate stands in for the comment LIKE filter) — LEFT JOIN keeps "
    "zero-order customers as c_count=0, then a count-of-counts regroup.",
    tags=("join", "aggregation"),
)
def q_customer_order_count_distribution(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "top_revenue_suppliers",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    description="TPC-H Q15 shape: quarter revenue per supplier, keep the "
    "argmax row(s) — the aggregate-then-self-compare-to-max pattern. The "
    "1-row max is broadcast back against the revenue aggregate (no second "
    "scan of lineitem); double equality is safe because both sides are the "
    "same exact-6dp sum.",
    tags=("join", "aggregation", "subquery"),
)
def q_top_revenue_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "large_volume_customer_orders",
    oracle="""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_totalprice, CAST(sum(l_quantity) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, order_date, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    description="TPC-H Q18 shape: large-volume orders (sum qty > 150) with "
    "customer detail, top-100 by price. The HAVING-IN subquery collapses "
    "into ONE lineitem aggregate that serves both the filter and the "
    "total_qty output column — no second lineitem scan; quantity sums are "
    "integral doubles, exact under any partial-agg order.",
    tags=("join", "aggregation", "subquery", "topk"),
)
def q_large_volume_customer_orders(spark, sf_dir):
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(_t(spark, sf_dir, "orders")
                 .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "supplier_profit_by_nation_year",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
""",
    description="TPC-H Q9 shape (product-type profit by supplier nation and "
    "year), adapted to this schema: the testdata has no partsupp table, so "
    "profit is discounted revenue without the ps_supplycost * l_quantity "
    "subtrahend — the PLAN shape (the point of Q9) is unchanged: a "
    "5-table star join where the part filter (p_name LIKE '%red%') "
    "SEMI-REDUCES the fact table early, all three dimensions broadcast, "
    "and orders joins on the fact's own key. The one corpus-scale "
    "exchange is the final (nation, year) aggregate of exact 6dp "
    "decimal sums (dsum). At 100 TB the orders join is the pressure "
    "point: co-locate by bucketing both fact tables on orderkey "
    "(sources/files.py bucketed tables prove the shuffle-free form).",
    tags=("tpch", "join", "aggregation"),
)
def q_supplier_profit_by_nation_year(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit"))
    )


@register(
    "acctbal_band_join",
    oracle="""
WITH c AS (SELECT c_custkey, CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS cb
           FROM customer),
s AS (SELECT s_suppkey, CAST(round(s_acctbal * 1000000, 0) AS BIGINT) AS sb
      FROM supplier)
SELECT c.c_custkey, s.s_suppkey,
       CAST(CAST(CAST(c.cb - s.sb AS DECIMAL(24,6)) / 1000000
            AS DECIMAL(24,6)) AS DOUBLE) AS bal_diff
FROM c JOIN s ON abs(c.cb - s.sb) <= 1000000
""",
    description="Banded theta join (|c_acctbal - s_acctbal| <= 1.00) done "
    "the way it scales: balances quantize to exact integer micros, each "
    "supplier row fans out to its bucket and both band-adjacent buckets "
    "(bucket width == band width, so every qualifying pair shares a "
    "bucket), the join is a plain EQUI-join on bucket id, and the exact "
    "band predicate verifies residually on integers. The oracle's naive "
    "theta join is the semantic spec; its only physical strategy is a "
    "broadcast-nested-loop O(|C| x |S|) scan, which at 100 TB is the "
    "difference between a job that finishes and one that doesn't — the "
    "bucketed form's cost is |matches| + 3|S|, both sides shuffle-"
    "partitioned by bucket id (band-skew handled by AQE or bucket "
    "salting). Same trick as the similarity band joins (SimHash "
    "pigeonhole chunks) applied to a numeric band predicate; the "
    "sessionize/as-of family covers the time-axis analog.",
    bench=True,
    tags=("join", "band"),
)
def q_acctbal_band_join(spark, sf_dir):
    band = 1_000_000  # micros == 1.00; bucket width == band width
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 1e6, 0).cast("long").alias("cb")
    ).withColumn("bucket", F.floor(F.col("cb") / band))
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round(F.col("s_acctbal") * 1e6, 0).cast("long").alias("sb")
    ).select(
        "s_suppkey",
        "sb",
        F.explode(
            F.array(
                F.floor(F.col("sb") / band) - 1,
                F.floor(F.col("sb") / band),
                F.floor(F.col("sb") / band) + 1,
            )
        ).alias("bucket"),
    )
    return (
        c.join(s, "bucket")
        .filter(F.abs(F.col("cb") - F.col("sb")) <= band)
        .select(
            "c_custkey",
            "s_suppkey",
            ((F.col("cb") - F.col("sb")).cast("decimal(24,6)") / F.lit(1000000))
            .cast("double")
            .alias("bal_diff"),
        )
    )


@register(
    "order_month_multiset_ops",
    oracle="""
WITH f AS (SELECT date_trunc('month', o_orderdate) AS month
           FROM orders WHERE o_orderstatus = 'F'),
o AS (SELECT date_trunc('month', o_orderdate) AS month
      FROM orders WHERE o_orderstatus = 'O'),
x AS (SELECT month, 'except_all' AS op FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM o)),
i AS (SELECT month, 'intersect_all' AS op FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM o))
SELECT op, month, CAST(count(*) AS BIGINT) AS multiplicity
FROM (SELECT * FROM x UNION ALL SELECT * FROM i)
GROUP BY 1, 2
""",
    description="Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) "
    "— multiplicity-aware difference and intersection of the order-month "
    "multisets of 'F'- vs 'O'-status orders, reported as per-month "
    "multiplicities. Distinct from the set-semantics pair "
    "(except_no_f_orders / intersect_f_and_o_customers): EXCEPT ALL "
    "keeps max(0, m1(x) - m2(x)) copies and INTERSECT ALL min(m1(x), "
    "m2(x)) — the SQL-standard forms Spark implements as a single "
    "hash aggregate computing both sides' counts per key (explain shows "
    "one Exchange on the value, no join): exactly the shape you want at "
    "100 TB, cost == one groupBy. The final multiplicity rollup keeps "
    "the compare compact; the operators under test run BEFORE it.",
    tags=("setops",),
)
def q_order_month_multiset_ops(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("month")
    # f and o each feed BOTH multiset operators — unpersisted, each
    # branch re-scanned orders (4 scans in the round-12 before-plan).
    # Single-column frames, spill-safe.
    f = lifetime.persist(orders.filter(F.col("o_orderstatus") == "F").select(month))
    o = lifetime.persist(orders.filter(F.col("o_orderstatus") == "O").select(month))
    x = f.exceptAll(o).select("month", F.lit("except_all").alias("op"))
    i = f.intersectAll(o).select("month", F.lit("intersect_all").alias("op"))
    return (
        x.unionByName(i)
        .groupBy("op", "month")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


@register(
    "order_totals_hinted_joins",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS total_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    description="Explicit physical join-strategy control: the fact-fact "
    "join (lineitem x orders) carries a SHUFFLE_HASH hint — build a hash "
    "table per partition instead of sorting both sides, the right call "
    "when one side is much smaller per key and sort cost dominates — and "
    "the customer join a MERGE hint (sort-merge: the safe choice when "
    "both sides are large and memory is tight; spills gracefully where "
    "hash builds OOM). Both plans are PINNED (ShuffledHashJoin + "
    "SortMergeJoin in one query) so the hint surface stays honored: "
    "Catalyst may otherwise re-pick broadcast under AQE stats drift, "
    "which is exactly what a capacity-planned 100 TB job hints AGAINST "
    "(a surprise broadcast of a 'small' side that grew is a driver "
    "OOM). Results are strategy-invariant — the oracle certifies the "
    "hints change the PLAN, never the answer.",
    tags=("join", "hints", "tpch"),
)
def q_order_totals_hinted_joins(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").hint("SHUFFLE_HASH")
    c = _t(spark, sf_dir, "customer").hint("MERGE")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "total_price"),
        )
    )
