"""Round-4 pipeline surface: PII redaction, time-range window frames,
deterministic per-group sampling, cross-doc duplicated-span scoring,
sketch percentiles, cogrouped pandas, bloom decontamination, PQ ANN.

These extend the LLM-data-pipeline tier (SURVEY.md §2.B) with the
remaining operations a production training-data pipeline runs that had no
registered counterpart: privacy scrubbing, event-time windowed features,
reproducible per-key subsampling, corpus-level boilerplate scoring, and
the memory-compressed ANN tier. Full DuckDB oracles everywhere except the
two approximate-by-construction entries (sketch percentiles, PQ), which
are pinned by pytest accuracy/recall bounds instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark.functions import dsum_over
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- PII redaction -----------------------------------------------------------

# RE2 (DuckDB) ∩ java.util.regex common subset: explicit classes, bounded
# quantifiers, no lookaround — identical match semantics in both engines.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[A-Za-z0-9./?=&_-]+"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "pii_redaction",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.org/p?q=1'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' alt user' || CAST(doc_id AS VARCHAR) || 'b@alt.example.net'
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_URL_RE}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_URL_RE}', '<URL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM aug
""",
    description="PII scrubbing: count + redact emails/URLs/phone numbers "
    "with engine-portable regexes (RE2 ∩ java.regex subset — no lookaround). "
    "Pure per-row codegen, no shuffle; the corpus is synthetic word salad, "
    "so deterministic PII is injected in-query (doc_id-derived, varying "
    "per doc) to keep the oracle non-vacuous. The hygiene step that runs "
    "before any training-data release.",
    bench=True,
    tags=("llm", "textstats", "privacy"),
)
def q_pii_redaction(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" see https://site"),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit(".example.org/p?q=1"),
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.lit(" alt user"), F.col("doc_id").cast("string"), F.lit("b@alt.example.net")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- event-time range frames -------------------------------------------------


@register(
    "events_range_frame_totals",
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_10m,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
""",
    description="Trailing 10-minute VALUE-RANGE window per user (RANGE "
    "frame over event-time micros, not a row-count frame): the standard "
    "rate/velocity feature. Frame bounds are data values, so peers with "
    "equal timestamps aggregate identically in any engine; micros (not "
    "seconds) keep the two engines' frame boundaries bit-identical.",
    tags=("window", "events"),
)
def q_events_range_frame_totals(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))  # NTZ→TZ: identity in the UTC session
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_10m"),
        dsum_over(F.col("value"), w).alias("sum_10m"),
    )


# --- deterministic per-group sampling ----------------------------------------


@register(
    "events_per_user_sample",
    oracle="""
SELECT event_id, user_id, rn FROM (
  SELECT event_id, user_id,
         CAST(row_number() OVER (
             PARTITION BY user_id
             ORDER BY md5('smp:' || CAST(event_id AS VARCHAR)), event_id
         ) AS BIGINT) AS rn
  FROM events
) WHERE rn <= 3
""",
    description="Exact-k-per-group reservoir-style sample: keep the 3 "
    "events per user with the smallest keyed hash — a uniform draw that is "
    "deterministic across engines, reruns, and cluster sizes (no RNG "
    "state), the property that makes train/eval subsets reproducible. One "
    "shuffle (the window partition); at 100 TB groups never collect — the "
    "rank is streamed per partition.",
    tags=("sampling", "events", "llm"),
)
def q_events_per_user_sample(spark, sf_dir):
    key = F.md5(F.concat(F.lit("smp:"), F.col("event_id").cast("string")))
    w = Window.partitionBy("user_id").orderBy(key, F.col("event_id"))
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# --- cross-doc duplicated-span fraction --------------------------------------


@register(
    "duplicated_span_fraction",
    oracle="""
WITH arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a
             FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(a[1:len(a)-4],
                (x, i) -> x || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4])) AS s
  FROM arr WHERE len(a) >= 5
),
d AS (SELECT s, count(*) AS sdf FROM sh GROUP BY 1)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN sdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(CAST(sum(CASE WHEN sdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
FROM sh JOIN d USING (s)
GROUP BY 1
""",
    description="RefinedWeb-style cross-document duplicated-span signal: "
    "the fraction of each doc's distinct 5-gram spans that also appear in "
    "at least one other doc — high values flag boilerplate shared across "
    "the corpus (nav bars, licenses, templates) that per-doc repetition "
    "scores can't see. Two shuffles (span df, per-doc rollup) over hashed "
    "8-byte span keys; the span↔df join shuffles (doc, sid) pairs, never "
    "text.",
    tags=("dedup", "textstats", "llm"),
)
def q_duplicated_span_fraction(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import hashed_shingles

    # round 12: per-doc span-set semantics via the in-array dedup (same
    # rows as explode().distinct(), minus the corpus-scale distinct
    # exchange — see hashed_shingles). The stream feeds both the df
    # aggregate and the rollup join; a persist was tried and REVERTED on
    # measurement — caching an exploded corpus-scale stream costs more to
    # build than the duplicated codegen tokenize it saves (the
    # duplicate_span_extraction A/B measured ~2x at sf0.1).
    sh = hashed_shingles(
        load_table(spark, sf_dir, "documents"), k=5, distinct_in_doc=True
    )
    sdf = sh.groupBy("sid").agg(F.count("*").alias("sdf"))
    dup = F.sum(F.when(F.col("sdf") >= 2, 1).otherwise(0)).cast("long")
    return (
        sh.join(sdf, "sid")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            dup.alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6),
        )
    )


@register(
    "duplicate_span_extraction",
    oracle=r"""
WITH arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
             FROM documents),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4] AS s
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(a) - 4)) AS i) t
  WHERE len(a) >= 5
),
df AS (SELECT s FROM w GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM w WHERE s IN (SELECT s FROM df))
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 4 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM dup GROUP BY doc_id, grp
""",
    description="Maximal cross-document duplicated SPANS per doc — the "
    "removal primitive of Lee et al. 2022 (suffix-array substring dedup) "
    "re-expressed distributed: position-tracked 5-gram window hashes, "
    "windows appearing in ≥2 distinct docs marked duplicated, consecutive "
    "duplicated window starts merged gaps-and-islands (pos − row_number) "
    "into maximal (span_start, span_end) token ranges. Complements "
    "duplicated_span_fraction (a per-doc SCORE): this emits the actual "
    "edit list a cleaning pass applies. Three shuffles (window df on "
    "8-byte sids, the dup-sid semi-join, the per-doc island rollup); text "
    "never shuffles after hashing, and the duplicated-sid set — a small "
    "fraction of a clean corpus — broadcasts.",
    bench=True,
    tags=("dedup", "textstats", "llm"),
)
def q_duplicate_span_extraction(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import hashed_shingles_pos

    # sh feeds BOTH the window-df aggregate and the dup-sid semi-join, so
    # the tokenize + position explode executes once per consumer. A
    # lifetime.persist(sh) was tried in round 12 and REVERTED on
    # measurement: building the cache for the exploded corpus-scale
    # stream cost more than the duplicated codegen pass it saved
    # (isolated A/B at sf0.1: 2.1-3.1 s persisted vs 1.2-1.7 s
    # recomputed). At 100 TB the duplicate pass is a real second corpus
    # read — revisit with a DISK_ONLY persist and a cluster measurement.
    sh = hashed_shingles_pos(load_table(spark, sf_dir, "documents"), k=5)
    dup_sids = (
        sh.groupBy("sid")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sid")
    )
    dup = sh.join(dup_sids, "sid", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(4)).alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("grp")
    )


# --- sketch percentiles ------------------------------------------------------


@register(
    "quantity_approx_percentiles",
    oracle=None,  # sketch output is implementation-defined; accuracy pinned in pytest
    description="approx_percentile (Greenwald-Khanna sketch) of l_quantity "
    "per return flag at accuracy 10000 — the single-pass, fixed-memory "
    "percentile path for 100 TB (exact per-group percentiles shuffle every "
    "value; the sketch ships one bounded digest per partition). Error "
    "bound vs the exact tier pinned in pytest.",
    tags=("agg", "sketch", "approx"),
)
def q_quantity_approx_percentiles(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    qs = F.percentile_approx("l_quantity", [0.25, 0.5, 0.75, 0.95], 10000)
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("qs"), F.count("*").alias("n"))
        .select(
            "l_returnflag",
            F.col("qs")[0].alias("p25"),
            F.col("qs")[1].alias("p50"),
            F.col("qs")[2].alias("p75"),
            F.col("qs")[3].alias("p95"),
            "n",
        )
    )


# --- cogrouped pandas --------------------------------------------------------


@register(
    "user_click_purchase_cogroup",
    oracle="""
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
       coalesce(CAST(sum(CAST(value AS DECIMAL(18,6)))
                     FILTER (WHERE event_type = 'click') AS DOUBLE), 0) AS click_value,
       coalesce(CAST(sum(CAST(value AS DECIMAL(18,6)))
                     FILTER (WHERE event_type = 'purchase') AS DOUBLE), 0) AS purchase_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY user_id
""",
    description="Two-sided grouped-map: per-user click/purchase streams "
    "merged via cogroup().applyInPandas (operators/grouped.py) — the "
    "cogroup API surface, with exact integer-micros value sums so the "
    "pandas result hash-matches the SQL FILTER-aggregate oracle.",
    tags=("pandas", "events", "cogroup"),
)
def q_user_click_purchase_cogroup(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.grouped import clicks_purchases_cogrouped

    ev = load_table(spark, sf_dir, "events")
    return clicks_purchases_cogrouped(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


# --- bloom decontamination ---------------------------------------------------

# Identical result (and oracle) to benchmark_contamination: the bloom is a
# pre-filter, not an approximation — exact verify restores exactness.
_CONTAMINATION_ORACLE = """
WITH arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a
             FROM documents),
sh4 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(a[1:len(a)-3],
                (x, i) -> x || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3])) AS s
  FROM arr WHERE len(a) >= 4
),
bench AS (SELECT DISTINCT s FROM sh4 WHERE doc_id % 50 = 0)
SELECT c.doc_id, count(*) AS n_hit_shingles
FROM sh4 c JOIN bench b ON c.s = b.s
WHERE c.doc_id % 50 <> 0
GROUP BY 1
"""


@register(
    "benchmark_contamination_bloom",
    oracle=_CONTAMINATION_ORACLE,
    description="Decontamination via an 8 KiB bloom pre-filter + exact "
    "verify (operators/dedup.py: benchmark_contamination_bloom): same "
    "result and oracle as the broadcast-set form, but the map-side "
    "structure is fixed-size regardless of benchmark scale and the probe "
    "is pure codegen (getbit over a broadcast long array — no Python, no "
    "UDF). The shape to swap in when eval suites outgrow a broadcast set.",
    tags=("dedup", "llm", "textstats"),
)
def q_benchmark_contamination_bloom(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import benchmark_contamination_bloom

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_contamination_bloom(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        k=4,
    )


# --- SQL pipe syntax ---------------------------------------------------------


@register(
    "returnflag_revenue_pipe_sql",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_quantity < 30
GROUP BY l_returnflag
""",
    description="Spark 4 SQL PIPE syntax (|> WHERE / |> AGGREGATE): the "
    "linear query-composition surface — each stage is a complete relation, "
    "so the text order matches the dataflow order. Compiles to the "
    "identical Catalyst plan as the nested form; the aggregate uses the "
    "same long-micros exact sum as dsum so values hash-match the decimal "
    "oracle.",
    tags=("sql", "pipe", "agg"),
)
def q_returnflag_revenue_pipe_sql(spark, sf_dir):
    from mapreduce_paradigm_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
FROM lineitem
|> WHERE l_quantity < 30
|> AGGREGATE
     CAST(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000.0, 0) AS BIGINT))
          AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS revenue,
     count(*) AS n_items
   GROUP BY l_returnflag
|> SELECT l_returnflag, revenue, n_items
"""
    )


# --- frequent-items sketch ---------------------------------------------------


@register(
    "orders_priority_topk_sketch",
    oracle=None,  # sketch tie order is implementation-defined; exactness pinned in pytest
    description="approx_top_k frequent-items sketch over o_orderpriority — "
    "the one-pass bounded-memory heavy-hitters path (vs a full groupBy + "
    "sort at 100 TB); at this column's tiny cardinality the sketch tracks "
    "every item so counts are exact, which pytest pins against GROUP BY.",
    tags=("agg", "sketch", "approx"),
)
def q_orders_priority_topk_sketch(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.agg(F.expr("approx_top_k(o_orderpriority, 3)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select("e.*")
    )


# --- temporal split ----------------------------------------------------------


@register(
    "temporal_split_summary",
    oracle="""
SELECT CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'train'
            WHEN ts < TIMESTAMP '2024-01-22' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1
""",
    description="Time-based train/val/test split with per-split volume "
    "accounting — the leakage-safe eval protocol for temporal data (random "
    "splits leak the future into training). Pure partition-prunable "
    "predicate work: at scale the cutoffs align with time-partitioned "
    "storage and each split reads only its partitions.",
    tags=("sampling", "events", "llm"),
)
def q_temporal_split_summary(spark, sf_dir):
    from mapreduce_paradigm_spark.functions import dsum

    ev = load_table(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit("2024-01-15").cast("timestamp_ntz"), "train")
        .when(F.col("ts") < F.lit("2024-01-22").cast("timestamp_ntz"), "val")
        .otherwise("test")
    )
    return ev.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        dsum(F.col("value"), "value_sum"),
    )


# --- grouped-agg pandas UDF --------------------------------------------------


@register(
    "user_value_geomean",
    oracle="""
SELECT user_id,
       round(exp(avg(ln(value))), 4) AS geo_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE value > 0
GROUP BY user_id
""",
    description="Grouped-AGGREGATE pandas UDF (SQL_GROUPED_AGG — the "
    "scalar-result sibling of applyInPandas): per-user geometric mean of "
    "event values. The UDF sorts before summing logs so the float "
    "accumulation is independent of shuffle arrival order; 4dp rounding "
    "absorbs the last-ulp spread vs the oracle's exp(avg(ln)).",
    tags=("pandas", "agg", "events"),
)
def q_user_value_geomean(spark, sf_dir):
    import warnings

    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # The explicit GROUPED_AGG functionType is required here: this pyspark
    # build rejects the hint-inferred `(pd.Series) -> float` signature.
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")

        @pandas_udf("double", PandasUDFType.GROUPED_AGG)
        def geomean(v):
            logs = np.sort(np.log(v.to_numpy(dtype=np.float64)))
            return float(np.exp(logs.sum() / len(logs)))

        # Spark refuses to mix pandas and JVM aggregates in one agg list
        # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas agg too.
        @pandas_udf("long", PandasUDFType.GROUPED_AGG)
        def n_rows(v):
            return len(v)

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("user_id").agg(
        F.round(geomean("value"), 4).alias("geo_value"),
        n_rows("value").alias("n_events"),
    )


# --- mergeable HLL sketch rollup ---------------------------------------------


@register(
    "priority_customer_hll_rollup",
    oracle=None,  # datasketches HLL estimates are engine-specific; accuracy pinned in pytest
    description="MERGEABLE distinct-count sketches (Datasketches HLL, "
    "Spark 3.5+): per-priority customer sketches via hll_sketch_agg, then "
    "the ALL row by hll_union_agg over the per-group sketches — the 100 TB "
    "rollup pattern where daily/partition sketches persist once and any "
    "coarser period unions them WITHOUT rescanning the data (plain "
    "approx_count_distinct cannot merge across rows). Accuracy vs exact "
    "distinct counts pinned in pytest.",
    tags=("agg", "sketch", "approx"),
)
def q_priority_customer_hll_rollup(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk")
    )
    per_group = per.select(
        "o_orderpriority",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("approx_customers"),
    )
    total = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("approx_customers")
    ).select(F.lit("ALL").alias("o_orderpriority"), "approx_customers")
    return per_group.unionByName(total)


# --- string collation --------------------------------------------------------


@register(
    "part_name_ci_collated_counts",
    oracle="""
WITH mixed AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name) ELSE p_name END AS name
  FROM part
)
SELECT lower(name) AS name_ci, CAST(count(*) AS BIGINT) AS n
FROM mixed
GROUP BY 1
""",
    description="Spark 4 string COLLATION: grouping under UNICODE_CI "
    "merges case variants engine-side (comparisons/joins/aggs honor the "
    "collation natively — no lower() wrapping at every use site, and "
    "pushdown-friendly because the collation is part of the type). Mixed "
    "case is synthesized in-query (fixture is single-case); output is "
    "canonicalized with lower() so both engines hash the same key bytes "
    "(ASCII corpus ⇒ UNICODE_CI equivalence classes == lower()).",
    tags=("sql", "string", "collation"),
)
def q_part_name_ci_collated_counts(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    mixed = part.select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name"))
        .otherwise(F.col("p_name"))
        .alias("name")
    )
    ci = F.expr("collate(name, 'UNICODE_CI')")
    return (
        mixed.groupBy(ci.alias("k"))
        .agg(F.count("*").alias("n"))
        .select(F.lower(F.col("k").cast("string")).alias("name_ci"), "n")
    )


# --- parameterized SQL + GROUP BY ALL ----------------------------------------


@register(
    "urgent_orders_monthly_param_sql",
    oracle="""
SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
       CAST(count(*) AS BIGINT) AS n
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1, 2
""",
    description="Parameterized SQL (named :prio marker — injection-proof "
    "literal binding, Spark 3.4+) combined with GROUP BY ALL / ORDER BY "
    "ALL (Spark 4 sugar: every non-aggregate output column groups "
    "implicitly). Same Catalyst plan as the explicit form.",
    tags=("sql", "agg"),
)
def q_urgent_orders_monthly_param_sql(spark, sf_dir):
    from mapreduce_paradigm_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
       count(*) AS n
FROM orders
WHERE o_orderpriority = :prio
GROUP BY ALL
ORDER BY ALL
""",
        args={"prio": "1-URGENT"},
    )


# --- product-quantization ANN ------------------------------------------------


@register(
    "embedding_pq_topk",
    oracle=None,  # approximate by construction (ADC shortlist recall < 1)
    description="Product-quantization ANN: 8 sub-codebooks × 16 centroids "
    "(driver-trained on a deterministic hash-ordered sample), one "
    "mapInPandas corpus pass for encode + ADC shortlist, exact rerank of "
    "shortlist members only — the 32× memory-compression tier that keeps a "
    "100 TB embedding corpus scannable from page cache; recall pinned vs "
    "the exact tier in pytest (operators/similarity.py: pq_topk_cosine).",
    tags=("similarity", "llm", "approx"),
)
def q_embedding_pq_topk(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.similarity import pq_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return pq_topk_cosine(emb, queries, k=5, m=8, ksub=16, refine=4)


# --- entity resolution -------------------------------------------------------


@register(
    "part_name_er_blocked_pairs",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
         split_part(p_name, ' ', 2) AS block_key,
         split_part(p_name, ' ', 1) AS qualifier
  FROM part GROUP BY p_name
),
cand AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         a.n_parts AS n_a, b.n_parts AS n_b,
         CAST(levenshtein(a.qualifier, b.qualifier) AS BIGINT) AS qual_dist
  FROM names a JOIN names b
    ON a.block_key = b.block_key AND a.p_name < b.p_name
)
SELECT name_a, name_b, n_a, n_b, qual_dist
FROM cand WHERE qual_dist <= 2
""",
    description="Entity-resolution blocked fuzzy matching on part names "
    "('qualifier noun' two-token names). The corpus-scale step is ONE "
    "aggregate to the distinct-name vocabulary (with per-name part "
    "counts); blocking and verification then run on vocabulary-scale "
    "data: BLOCK on the noun token (equi-join — candidates exist only "
    "within a block), VERIFY with Levenshtein on the qualifier (<= 2), "
    "name_a < name_b canonicalization so each pair emits once. This is "
    "the standard record-linkage shape (blocking + edit-distance "
    "comparison) with the critical scale property made explicit: the "
    "quadratic runs over DISTINCT entity keys, never corpus rows — a "
    "first draft that self-joined raw parts produced 106k pairs at "
    "sf0.01 and grows O(corpus²/blocks); this form's pair count is "
    "SF-invariant. For open-vocabulary keys (urls, author strings) where "
    "even distinct keys are corpus-scale, block on the RAREST token "
    "under a global df order (the PPJoin prefix-filter machinery in "
    "operators/dedup.py) and salt residual hot blocks. Levenshtein runs "
    "JVM-side (builtin), integer output — no float boundary anywhere.",
    tags=("pipeline", "dedup", "join"),
)
def q_part_name_er_blocked_pairs(spark, sf_dir):
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            "p_name",
            "n_parts",
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("block_key"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("qualifier"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_a"),
        "block_key", F.col("qualifier").alias("qual_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_b"),
        "block_key", F.col("qualifier").alias("qual_b"),
    )
    return (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a", "name_b", "n_a", "n_b",
            F.levenshtein("qual_a", "qual_b").cast("long").alias("qual_dist"),
        )
        .filter(F.col("qual_dist") <= 2)
    )


# --- rendezvous (HRW) sharding -----------------------------------------------


@register(
    "doc_rendezvous_sharding",
    oracle="""
WITH scored AS (
  SELECT doc_id, s.shard,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.shard AS VARCHAR)) AS score
  FROM documents, (SELECT unnest(generate_series(0, 7)) AS shard) s
),
assigned AS (
  SELECT doc_id, CAST(arg_max(shard, score) AS BIGINT) AS shard
  FROM scored GROUP BY doc_id
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS membership_md5
FROM assigned GROUP BY shard
""",
    description="Rendezvous (highest-random-weight) sharding: each doc "
    "lands on the shard maximizing md5(doc:shard) — the deterministic "
    "routing scheme whose defining property is MINIMAL disruption "
    "(removing one shard remaps ONLY that shard's docs, ~1/K of the "
    "corpus, vs naive mod-K hashing remapping nearly everything — "
    "pinned in pytest). This is how a 100 TB pipeline assigns docs to "
    "index/ANN/dedup partitions that must survive cluster resizes. "
    "Per-doc cost is K hashes in one projection (explode x argmax, no "
    "shuffle until the per-shard rollup); md5 keeps the score portable "
    "across engines (arg_max on the hex string == Spark max_by — both "
    "compare lexicographically). Shard membership is checksummed "
    "order-pinned for the hash compare.",
    tags=("pipeline", "sharding"),
)
def q_doc_rendezvous_sharding(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("shard")
    ).select(
        "doc_id",
        "shard",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("shard").cast("string"))
        ).alias("score"),
    )
    assigned = scored.groupBy("doc_id").agg(
        F.max_by("shard", "score").cast("long").alias("shard")
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            )
        ).alias("membership_md5"),
    )


# --- end-to-end training-corpus pipeline -------------------------------------


@register(
    "training_corpus_pipeline",
    oracle=r"""
WITH dd AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
           ORDER BY doc_id) AS rn
  FROM documents
),
kept AS (SELECT doc_id, source, text FROM dd WHERE rn = 1),
w AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS wd
  FROM kept
),
c AS (SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1, 2),
m AS (
  SELECT doc_id,
         CAST(sum(n) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(n) AS BIGINT) AS top_n
  FROM c GROUP BY 1
),
q AS (
  SELECT doc_id, n_words FROM m
  WHERE n_words >= 30
    AND CAST(n_distinct AS DOUBLE) / n_words >= 0.40
    AND CAST(top_n AS DOUBLE) / n_words <= 0.15
),
cum AS (
  SELECT k.source, q.n_words,
         COALESCE(sum(q.n_words) OVER (
             PARTITION BY k.source ORDER BY q.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM q JOIN kept k USING (doc_id)
)
SELECT source,
       CAST(floor(cum_before / 512) AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS bin_tokens
FROM cum
GROUP BY 1, 2
""",
    description="The WHOLE training-data pipeline as ONE declarative plan: "
    "exact dedup (md5 of whitespace-normalized text, keep min doc_id) → "
    "Gopher-style quality gate (word floor / type-token ratio / top-word "
    "dominance, same thresholds as doc_gopher_filter_flags) → greedy "
    "512-token sequence packing per source shard → packed-batch manifest "
    "(source, bin_id, n_docs, bin_tokens). Each stage is a registered "
    "operator on its own; composing them in one DataFrame expression "
    "lets Catalyst pipeline the whole thing — the metrics aggregation "
    "feeds both the filter and the packer without a rescan, and nothing "
    "materializes between stages. Scale: two doc-keyed aggregations + "
    "one hash-partition window (dedup) + one per-source window (packing); "
    "no global order, no driver state — the plan a 100 TB ingest run "
    "actually submits.",
    bench=True,
    tags=("llm", "pipeline", "dedup", "quality", "packing"),
)
def q_training_corpus_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wdd = Window.partitionBy(
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    ).orderBy("doc_id")
    # kept feeds BOTH the quality-metrics path and the packer join, so
    # the dedup window executes once per consumer. A persist was
    # tried in round 12 and REVERTED on measurement (caching the full-text
    # rows cost more than the duplicated window at bench scale: 1.8 s vs
    # 1.2 s isolated min-of-3); the packer join consumes only
    # (doc_id, source), so the duplicated branch prunes text anyway.
    kept = (
        docs.withColumn("rn", F.row_number().over(wdd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "text")
    )
    w = kept.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("wd")
    )
    c = w.groupBy("doc_id", "wd").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("n").cast("bigint").alias("top_n"),
    )
    q = m.filter(
        (F.col("n_words") >= 30)
        & (F.col("n_distinct").cast("double") / F.col("n_words") >= 0.40)
        & (F.col("top_n").cast("double") / F.col("n_words") <= 0.15)
    ).select("doc_id", "n_words")
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        q.join(kept.select("doc_id", "source"), "doc_id")
        .withColumn("cum_before", F.coalesce(F.sum("n_words").over(wp), F.lit(0)))
    )
    return (
        cum.groupBy(
            "source", F.expr("cum_before DIV 512").alias("bin_id")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("bin_tokens"),
        )
    )


# --- end-to-end web-analytics pipeline ---------------------------------------


@register(
    "web_analytics_pipeline",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, event_type, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM tagged
),
sess AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 1000000, 0) AS BIGINT) END), 0) AS BIGINT)
           AS rev_micro
  FROM sessioned GROUP BY 1, 2
),
staged AS (
  SELECT CASE WHEN has_purchase = 1 THEN 'purchase'
              WHEN has_click = 1 THEN 'click'
              WHEN has_view = 1 THEN 'view'
              ELSE 'other' END AS stage,
         n_events, rev_micro
  FROM sess
)
SELECT stage,
       CAST(count(*) AS BIGINT) AS n_sessions,
       round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 4) AS session_share,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(CAST(sum(rev_micro) AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS revenue
FROM staged
GROUP BY 1
""",
    description="The events-domain END-TO-END pipeline as one declarative "
    "plan (the analytics twin of training_corpus_pipeline): gap "
    "sessionization (two window passes) → per-session funnel flags and "
    "exact purchase revenue → deepest-stage classification → per-stage "
    "rollup with session shares. Every stage is a registered operator on "
    "its own (sessionize_30min, user_funnel_stages, dsum); composed, the "
    "user shuffle is paid ONCE and reused by both window passes and the "
    "session aggregate — the whole funnel report is one job, one "
    "corpus-scale exchange. Revenue crosses engines as integer micros.",
    bench=True,
    tags=("pipeline", "sessionize", "funnel", "events"),
)
def q_web_analytics_pipeline(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sessioned = tagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    sess = sessioned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_view"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_click"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 1e6, 0).cast("long"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("rev_micro"),
    )
    staged = sess.select(
        F.when(F.col("has_purchase") == 1, "purchase")
        .when(F.col("has_click") == 1, "click")
        .when(F.col("has_view") == 1, "view")
        .otherwise("other")
        .alias("stage"),
        "n_events",
        "rev_micro",
    )
    wall = Window.partitionBy()
    agg = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("rev_micro").alias("rm"),
    )
    return agg.select(
        "stage",
        "n_sessions",
        F.round(
            F.col("n_sessions").cast("double") / F.sum("n_sessions").over(wall), 4
        ).alias("session_share"),
        "n_events",
        (F.col("rm").cast("decimal(24,6)") / 1000000).cast("double").alias("revenue"),
    )


# --- global token-budget shard plan (distributed prefix sum) -----------------


@register(
    "corpus_global_shard_plan",
    oracle="""
WITH toks AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
             ORDER BY k, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(floor(cum_before / 4096.0) AS BIGINT) AS shard_id
FROM cum
""",
    description="GLOBAL token-budget shard plan: docs in a deterministic "
    "corpus-wide order (md5(doc_id) shuffle-order, doc_id tie-break) fill "
    "4096-token training shards by global running token total — the "
    "write-plan step that turns a curated corpus into balanced, "
    "reproducibly-ordered training files. The interesting part is the "
    "SHAPE: a global running sum via Window.orderBy() collapses Catalyst "
    "to a SINGLE partition (the classic 100 TB scale-killer, pinned "
    "absent in test_plans); instead this runs the textbook two-pass "
    "distributed prefix sum — repartitionByRange on the order key, "
    "per-partition partial sums to the driver (one row per partition, "
    "a bounded O(P) read), exclusive offsets broadcast back, then a "
    "per-partition window finishes the cumsum. Every heavy step is "
    "partition-parallel; the oracle's single global window IS the "
    "semantic spec, the two-pass plan is the scale path, and the hash "
    "match proves they agree. md5 is the cross-engine-identical order "
    "key (the mixture-sampling convention); the result is independent "
    "of partition boundaries, so AQE/range-sampling variation cannot "
    "change it.",
    bench=True,
    tags=("llm", "packing", "prefix-sum", "scale"),
)
def q_corpus_global_shard_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("k"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    # pass 1: range-partition by the global order key; per-partition sums
    # are one bounded driver read (<= shuffle-partitions rows)
    ranged = toks.repartitionByRange(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        F.col("k").asc(),
        F.col("doc_id").asc(),
    ).withColumn("pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=False)
    psums = (
        ranged.groupBy("pid")
        .agg(F.sum("n_tokens").alias("psum"))
        .orderBy("pid")
        .collect()
    )
    offsets, acc = {}, 0
    for r in psums:
        offsets[r["pid"]] = acc
        acc += r["psum"]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "pid INT, offset BIGINT",
        )
    )
    # pass 2: per-partition exclusive cumsum + broadcast offset — the
    # window is partitioned by pid, so NO single-partition exchange
    w = (
        Window.partitionBy("pid")
        .orderBy(F.col("k").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(off_df, "pid")
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("offset"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("CAST(floor(cum_before / 4096.0) AS BIGINT)").alias(
                "shard_id"
            ),
        )
    )
