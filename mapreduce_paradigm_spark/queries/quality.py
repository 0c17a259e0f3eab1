"""Round-3 batch 5: data-quality checks + map higher-order functions.

``data_quality_suite`` is the deequ-style constraint scan a production
pipeline runs before training-data export: each check is a metric row, the
whole suite is ONE pass over each table (conditional aggregates, no
per-check scans). ``customer_priority_map_funcs`` exercises the map-typed
higher-order functions (map_from_entries / transform_values / map_filter /
map_entries) that the array suites don't cover.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- data-quality constraint suite -------------------------------------------


@register(
    "data_quality_suite",
    oracle="""
SELECT 'orders_custkey_null' AS check_name,
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_bad,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT 'orders_orderkey_dup',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem_qty_range',
       CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem
""",
    description="Data-quality constraint suite (deequ-style): null-rate, "
    "key-uniqueness, referential orphans, and value-range checks, each "
    "one metric row. Null/dup/range checks "
    "are conditional aggregates — ONE scan per table regardless of how "
    "many checks it carries; the referential check is a broadcast-able "
    "left join counting misses. This is the gate a 100 TB export runs "
    "before publishing a training shard: metrics land in a tiny table, "
    "alerts compare against thresholds, the scan cost is shared.",
    tags=("quality", "agg", "pipeline"),
)
def q_data_quality_suite(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def metric(name, n_bad, n_rows):
        return F.struct(
            F.lit(name).alias("check_name"),
            n_bad.cast("long").alias("n_bad"),
            n_rows.cast("long").alias("n_rows"),
        )

    o_checks = orders.agg(
        F.array(
            metric(
                "orders_custkey_null",
                F.count(F.lit(1)) - F.count("o_custkey"),
                F.count(F.lit(1)),
            ),
            metric(
                "orders_orderkey_dup",
                F.count(F.lit(1)) - F.count_distinct("o_orderkey"),
                F.count(F.lit(1)),
            ),
        ).alias("ms")
    )
    orphan = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.array(
                metric(
                    "lineitem_orphan_orderkey",
                    F.count(F.lit(1)) - F.count("o_orderkey"),
                    F.count(F.lit(1)),
                )
            ).alias("ms")
        )
    )
    l_checks = li.agg(
        F.array(
            metric(
                "lineitem_qty_range",
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    ).otherwise(0)
                ),
                F.count(F.lit(1)),
            ),
            metric(
                "lineitem_discount_range",
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1
                    ).otherwise(0)
                ),
                F.count(F.lit(1)),
            ),
        ).alias("ms")
    )
    return (
        o_checks.unionAll(orphan)
        .unionAll(l_checks)
        .select(F.explode("ms").alias("m"))
        .select("m.check_name", "m.n_bad", "m.n_rows")
    )


# --- map higher-order functions ----------------------------------------------


@register(
    "customer_priority_map_funcs",
    oracle="""
WITH c AS (
  SELECT o_custkey, o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       string_agg(p || '=' || CAST(n * 2 AS VARCHAR), ',' ORDER BY p) AS doubled,
       string_agg(CASE WHEN n >= 2 THEN p || '=' || CAST(n AS VARCHAR) END,
                  ',' ORDER BY p) AS frequent,
       CAST(count(*) AS BIGINT) AS n_priorities
FROM c GROUP BY o_custkey
""",
    description="Map-typed higher-order functions over a per-customer "
    "priority→count map: map_from_entries builds it from one aggregate, "
    "transform_values doubles counts, map_filter keeps the frequent "
    "entries, map_entries + sort renders both deterministically (map "
    "iteration order is NOT a contract — rendering always sorts). The "
    "oracle computes the same strings relationally (string_agg ORDER "
    "BY), proving the map pipeline equals its flat-SQL semantics. All "
    "JVM codegen; maps never leave the executors.",
    tags=("sql", "map", "orders"),
)
def q_customer_priority_map_funcs(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        "o_custkey", F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("p", "n")))
        ).alias("m")
    )

    def render(mp):
        return F.array_join(
            F.sort_array(
                F.transform(
                    F.map_entries(mp),
                    lambda e: F.concat_ws("=", e.key, e.value.cast("string")),
                )
            ),
            ",",
        )

    doubled = F.transform_values(F.col("m"), lambda _, v: v * 2)
    frequent = F.map_filter(F.col("m"), lambda _, v: v >= 2)
    return m.select(
        "o_custkey",
        render(doubled).alias("doubled"),
        F.when(F.size(F.map_entries(frequent)) > 0, render(frequent)).alias(
            "frequent"
        ),
        F.size(F.map_entries("m")).cast("long").alias("n_priorities"),
    )


# --- Gopher/C4-style document filter flags -----------------------------------


@register(
    "doc_gopher_filter_flags",
    oracle=r"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS wd
  FROM documents
),
c AS (
  SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1, 2
),
m AS (
  SELECT doc_id,
         CAST(sum(n) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(n) AS BIGINT) AS top_n
  FROM c GROUP BY 1
)
SELECT doc_id, n_words,
       round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS ttr,
       round(CAST(top_n AS DOUBLE) / n_words, 4) AS top_share,
       n_words >= 30
       AND CAST(n_distinct AS DOUBLE) / n_words >= 0.40
       AND CAST(top_n AS DOUBLE) / n_words <= 0.15 AS keep
FROM m
""",
    description="Gopher/C4-style rule-based document filter, instantiated "
    "with the rules this corpus can exercise (it has no punctuation or "
    "line structure): word-count floor, type-token ratio (vocabulary "
    "diversity — low TTR ⇒ template/spam), and top-word dominance share "
    "(a single token carrying >15% of the doc ⇒ keyword stuffing), "
    "combined into one keep/drop decision. All three metrics come from "
    "ONE (doc, word) count: sum = length, count = vocabulary, max = top "
    "word — two keyed aggregations, no rescans; flags compare exact "
    "integer ratios (never rounded floats), so the decision is "
    "hash-stable cross-engine. The same two-aggregation shape carries "
    "every additional frequency-based rule at 100 TB; pair with "
    "doc_repetition_scores (n-gram repetition) and quality_features "
    "(char-class ratios) for the full filter bank.",
    tags=("quality", "llm", "documents"),
)
def q_doc_gopher_filter_flags(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("wd"),
    )
    c = w.groupBy("doc_id", "wd").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("n").cast("bigint").alias("top_n"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_words")
    share = F.col("top_n").cast("double") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        F.round(ttr, 4).alias("ttr"),
        F.round(share, 4).alias("top_share"),
        (
            (F.col("n_words") >= 30) & (ttr >= 0.40) & (share <= 0.15)
        ).alias("keep"),
    )


# --- join-key skew diagnostic ------------------------------------------------


@register(
    "join_key_skew_report",
    oracle="""
WITH kv AS (
  SELECT 'l_orderkey' AS key_name, CAST(l_orderkey AS BIGINT) AS k FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
),
freq AS (
  SELECT key_name, k, CAST(count(*) AS BIGINT) AS f
  FROM kv GROUP BY 1, 2
)
SELECT key_name,
       CAST(sum(f) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(f) AS BIGINT) AS max_freq,
       round(CAST(max(f) AS DOUBLE) / sum(f), 6) AS top1_share,
       round(CAST(sum(f) AS DOUBLE) / count(*), 6) AS avg_freq,
       round(quantile_cont(CAST(f AS DOUBLE), 0.99), 6) AS p99_freq,
       round(CAST(max(f) AS DOUBLE) * count(*) / sum(f), 6) AS skew_ratio
FROM freq GROUP BY key_name
""",
    description="Join-key skew diagnostic — the report you run BEFORE "
    "choosing a join strategy at 100 TB (broadcast vs shuffle vs salted "
    "vs AQE skew split): per candidate key, row/key counts, the hottest "
    "key's frequency and share, the p99 of the frequency distribution, "
    "and skew_ratio = max/avg (1.0 == perfectly uniform; the salting "
    "fan-out factor is sized from exactly this number — "
    "operators/salted.py). ONE scan: the three key columns unpivot to "
    "(key_name, value) rows and share a single (key_name, value) count "
    "shuffle whose partial aggregation absorbs the hot keys map-side — "
    "the diagnostic itself is skew-immune; the percentile then runs on "
    "the frequency TABLE (key-count-scale, not row-scale). All inputs "
    "exact integers; four final divisions rounded 6dp.",
    tags=("quality", "ops", "skew"),
)
def q_join_key_skew_report(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    kv = li.selectExpr(
        "stack(3, 'l_orderkey', CAST(l_orderkey AS BIGINT), "
        "'l_partkey', CAST(l_partkey AS BIGINT), "
        "'l_suppkey', CAST(l_suppkey AS BIGINT)) AS (key_name, k)"
    )
    freq = kv.groupBy("key_name", "k").agg(F.count(F.lit(1)).alias("f"))
    return freq.groupBy("key_name").agg(
        F.sum("f").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("f").alias("max_freq"),
        F.round(F.max("f").cast("double") / F.sum("f"), 6).alias("top1_share"),
        F.round(F.sum("f").cast("double") / F.count(F.lit(1)), 6).alias("avg_freq"),
        F.round(F.percentile(F.col("f").cast("double"), 0.99), 6).alias("p99_freq"),
        F.round(
            F.max("f").cast("double") * F.count(F.lit(1)) / F.sum("f"), 6
        ).alias("skew_ratio"),
    )


@register(
    "customer_status_map_merge",
    oracle="""
WITH g AS (
  SELECT o_custkey, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       string_agg(st || '=' || CAST(n AS VARCHAR) || ':'
                  || CAST(rev AS VARCHAR), '|' ORDER BY st) AS merged,
       CAST(count(*) AS BIGINT) AS n_statuses
FROM g GROUP BY o_custkey
""",
    description="Map-valued column algebra: per customer, a count-by-"
    "status map and a revenue-by-status map built with map_from_entries, "
    "merged entry-wise with map_zip_with (the map analog of zip_with — "
    "keys aligned, one lambda over both values), rendered canonically "
    "(entries sorted by key) for the hash compare. Completes the map "
    "higher-order surface beside transform_values/map_filter "
    "(customer_priority_map_funcs). The oracle states the same "
    "semantics relationally (DuckDB's map type has no zip; the string "
    "render is the engine-neutral boundary). Maps never shuffle as "
    "maps: the one exchange is the (cust, status) aggregate feeding "
    "map_from_entries group-side.",
    tags=("functions", "map", "quality"),
)
def q_customer_status_map_merge(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey", F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 1e6, 0).cast("long")).alias("rev"),
    )
    maps = g.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("st", "n")))
        ).alias("m_count"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("st", "rev")))
        ).alias("m_rev"),
    )
    merged = F.map_zip_with(
        "m_count",
        "m_rev",
        lambda k, c, r: F.concat_ws(
            ":", c.cast("string"), r.cast("string")
        ),
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(merged)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        "|",
    )
    return maps.select(
        "o_custkey",
        rendered.alias("merged"),
        F.size(merged).cast("long").alias("n_statuses"),
    )


# --- k-anonymity audit -------------------------------------------------------


@register(
    "customer_k_anonymity",
    oracle="""
SELECT c_nationkey,
       c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < 5 AS at_risk
FROM customer
GROUP BY 1, 2, 3
""",
    description="k-anonymity audit over the quasi-identifier tuple "
    "(nation, market segment, coarse balance band): equivalence-class "
    "sizes plus an at-risk flag for classes smaller than k=5 — the "
    "re-identification check run before releasing 'anonymized' extracts "
    "(generalize/suppress at-risk classes until none remain). The "
    "governance companion to pii_redaction: redaction strips direct "
    "identifiers, this measures indirect ones. One aggregate keyed by "
    "the QI tuple — map-side partials, class-count-sized reduce state.",
    tags=("quality", "privacy"),
)
def q_customer_k_anonymity(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        (F.count(F.lit(1)) < 5).alias("at_risk"),
    )


@register(
    "customer_l_diversity",
    oracle="""
SELECT c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS l_distinct,
       count(DISTINCT c_nationkey) < 3 AS at_risk
FROM customer
GROUP BY 1, 2
""",
    description="l-diversity audit — the attack k-anonymity misses: a "
    "class can be large (k-safe) yet carry ONE sensitive value, so "
    "membership still discloses it (homogeneity attack). Per "
    "quasi-identifier class (segment, balance band): size, distinct "
    "sensitive values (nation plays the sensitive attribute), and an "
    "at-risk flag at l<3. One aggregate with a distinct-count — "
    "partial-dedup then merge, same two-shuffle shape as the sliding "
    "distinct. Reads beside customer_k_anonymity as the release gate "
    "pair.",
    tags=("quality", "privacy"),
)
def q_customer_l_diversity(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.count_distinct("c_nationkey").cast("long").alias("l_distinct"),
        (F.count_distinct("c_nationkey") < 3).alias("at_risk"),
    )


@register(
    "customer_t_closeness",
    oracle="""
WITH cls_nat AS (
  SELECT c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
         c_nationkey, CAST(count(*) AS BIGINT) AS cnt
  FROM customer GROUP BY 1, 2, 3
),
cls AS (
  SELECT c_mktsegment, acctbal_band, CAST(sum(cnt) AS BIGINT) AS class_size
  FROM cls_nat GROUP BY 1, 2
),
gmarg AS (
  SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS gcnt FROM cls_nat GROUP BY 1
),
tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS total FROM gmarg),
grid AS (
  SELECT c.c_mktsegment, c.acctbal_band, c.class_size, g.c_nationkey, g.gcnt,
         coalesce(cn.cnt, 0) AS cnt
  FROM cls c CROSS JOIN gmarg g
  LEFT JOIN cls_nat cn
    ON cn.c_mktsegment = c.c_mktsegment
   AND cn.acctbal_band = c.acctbal_band
   AND cn.c_nationkey = g.c_nationkey
)
SELECT gr.c_mktsegment, gr.acctbal_band,
       CAST(max(gr.class_size) AS BIGINT) AS class_size,
       round(sum(abs(gr.cnt * t.total - gr.gcnt * gr.class_size))
             / (2.0 * max(gr.class_size) * t.total), 4) AS t_closeness,
       sum(abs(gr.cnt * t.total - gr.gcnt * gr.class_size))
         / (2.0 * max(gr.class_size) * t.total) > 0.25 AS breach
FROM grid gr CROSS JOIN tot t
GROUP BY 1, 2, t.total
""",
    description="t-closeness audit — the disclosure k-anonymity AND "
    "l-diversity both miss: a class can be large and diverse yet have a "
    "sensitive-value DISTRIBUTION far from the table's, so membership "
    "still shifts an attacker's posterior (skewness attack). Per "
    "quasi-identifier class (segment, balance band): t = variational "
    "distance between the class's nation distribution and the global "
    "one (the categorical EMD of Li et al. ICDE'07), flagged at "
    "t > 0.25. Completes the release-gate triad with "
    "customer_k_anonymity / customer_l_diversity on the SAME classes. "
    "One corpus-scale (class, nation) aggregate; the distance grid is "
    "classes x |nation| dimension rows with the global margin broadcast "
    "— never a second corpus pass. The distance numerator is exact "
    "integer cross-products (cnt*total - gcnt*class_size), one division "
    "at the edge, 4dp — hash-stable.",
    tags=("quality", "privacy"),
)
def q_customer_t_closeness(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    # cls_nat feeds the class sizes, the global distribution and the grid
    # join; glob feeds tot and the grid — unpersisted, each consumer
    # re-ran the customer scan + grouping (round-12 plan audit). Both are
    # (class x nation) sized.
    cls_nat = lifetime.persist(
        cust.groupBy(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
            "c_nationkey",
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cls = cls_nat.groupBy("c_mktsegment", "acctbal_band").agg(
        F.sum("cnt").cast("long").alias("class_size")
    )
    glob = lifetime.persist(
        cls_nat.groupBy("c_nationkey").agg(
            F.sum("cnt").cast("long").alias("gcnt")
        )
    )
    tot = glob.agg(F.sum("gcnt").cast("long").alias("total"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(
            cls_nat,
            ["c_mktsegment", "acctbal_band", "c_nationkey"],
            "left",
        )
        .select(
            "c_mktsegment",
            "acctbal_band",
            "class_size",
            "gcnt",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
        .crossJoin(F.broadcast(tot))
    )
    dist = F.sum(
        F.abs(F.col("cnt") * F.col("total") - F.col("gcnt") * F.col("class_size"))
    ) / (F.lit(2.0) * F.max("class_size") * F.max("total"))
    return (
        grid.groupBy("c_mktsegment", "acctbal_band").agg(
            F.max("class_size").cast("long").alias("class_size"),
            F.round(dist, 4).alias("t_closeness"),
            (dist > 0.25).alias("breach"),
        )
    )


# --- per-source text complexity profile ---------------------------------------


@register(
    "source_text_complexity",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS words,
         CAST(len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1
              AS BIGINT) AS syllables
  FROM documents
),
voc AS (
  SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS vocab
  FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) GROUP BY 1
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS total_words,
         CAST(sum(syllables) AS BIGINT) AS total_syllables
  FROM per_doc GROUP BY 1
)
SELECT a.source, a.n_docs, a.total_words,
       round(a.total_syllables * 1.0 / a.total_words, 6)
         AS syllables_per_word,
       round(206.835 - 1.015 * (a.total_words * 1.0 / a.n_docs)
             - 84.6 * (a.total_syllables * 1.0 / a.total_words), 4)
         AS flesch_ease,
       round(v.vocab / sqrt(CAST(a.total_words AS DOUBLE)), 6)
         AS guiraud_index
FROM agg a JOIN voc v ON v.source = a.source
""",
    description="Per-source text-complexity profile: syllables per word "
    "(vowel-group runs — the deterministic syllable heuristic), Flesch "
    "reading ease (docs are single sentences in this fixture, so the "
    "sentence term reduces to words/doc — noted, not hidden), and "
    "Guiraud's lexical-richness index V/sqrt(N) (the length-corrected "
    "type-token ratio raw TTR can't give across differently-sized "
    "sources). Together the quality-filtering complexity signals the "
    "Gopher/C4 flag set doesn't cover: too-simple text (boilerplate, "
    "SEO spam) scores high flesch + low guiraud; gibberish scores the "
    "reverse. One token pass for vocabulary + one per-doc count pass, "
    "both per-source aggregates; all ratios exact-integer until the "
    "rounded edge. Full oracle.",
    tags=("text", "llm", "quality"),
)
def q_source_text_complexity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("words"),
        (F.size(F.split(F.lower("text"), "[aeiouy]+")) - 1)
        .cast("long")
        .alias("syllables"),
    )
    voc = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
        )
        .groupBy("source")
        .agg(F.countDistinct("w").cast("long").alias("vocab"))
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").alias("total_words"),
        F.sum("syllables").alias("total_syllables"),
    )
    return agg.join(voc, "source").select(
        "source",
        "n_docs",
        "total_words",
        F.round(
            F.col("total_syllables") * 1.0 / F.col("total_words"), 6
        ).alias("syllables_per_word"),
        F.round(
            206.835
            - 1.015 * (F.col("total_words") * 1.0 / F.col("n_docs"))
            - 84.6 * (F.col("total_syllables") * 1.0 / F.col("total_words")),
            4,
        ).alias("flesch_ease"),
        F.round(
            F.col("vocab") / F.sqrt(F.col("total_words").cast("double")), 6
        ).alias("guiraud_index"),
    )


# --- column profiler (deequ-style profiles, not checks) -----------------------


@register(
    "lineitem_column_profile",
    oracle="""
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT) AS qty_nul,
         CAST(count(DISTINCT l_quantity) AS BIGINT) AS qty_dst,
         min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
         CAST(count(*) FILTER (WHERE l_discount IS NULL) AS BIGINT) AS dis_nul,
         CAST(count(DISTINCT l_discount) AS BIGINT) AS dis_dst,
         min(l_discount) AS dis_min, max(l_discount) AS dis_max,
         CAST(count(*) FILTER (WHERE l_extendedprice IS NULL) AS BIGINT)
           AS prc_nul,
         CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS prc_dst,
         min(l_extendedprice) AS prc_min, max(l_extendedprice) AS prc_max,
         CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT)
           AS rf_nul,
         CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf_dst,
         min(l_returnflag) AS rf_min, max(l_returnflag) AS rf_max,
         CAST(count(*) FILTER (WHERE l_linestatus IS NULL) AS BIGINT)
           AS ls_nul,
         CAST(count(DISTINCT l_linestatus) AS BIGINT) AS ls_dst,
         min(l_linestatus) AS ls_min, max(l_linestatus) AS ls_max
  FROM lineitem
)
SELECT 'l_quantity' AS col_name, n_rows, qty_nul AS n_nulls,
       qty_dst AS n_distinct, qty_min AS min_num, qty_max AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM a
UNION ALL
SELECT 'l_discount', n_rows, dis_nul, dis_dst, dis_min, dis_max,
       NULL, NULL FROM a
UNION ALL
SELECT 'l_extendedprice', n_rows, prc_nul, prc_dst, prc_min, prc_max,
       NULL, NULL FROM a
UNION ALL
SELECT 'l_returnflag', n_rows, rf_nul, rf_dst,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rf_min, rf_max FROM a
UNION ALL
SELECT 'l_linestatus', n_rows, ls_nul, ls_dst,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), ls_min, ls_max FROM a
""",
    description="Column profiler (deequ-style PROFILES, the discovery "
    "companion of the assertion-style data_quality_suite): per column — "
    "row count, null count, EXACT distinct count, typed min/max "
    "(numeric columns in min_num/max_num, strings in min_str/max_str — "
    "typed lanes, no cross-engine float formatting) for five lineitem "
    "columns. ONE scan: all metrics are conditional/multi-distinct "
    "aggregates of the same pass (Spark plans the count-distincts via "
    "one Expand over a shared scan; DuckDB aggregates once in a CTE "
    "and the per-column rows are constant projections of the 1-row "
    "result). The first thing a pipeline runs against an unfamiliar "
    "100 TB table — scan cost shared across every profiled column. "
    "Full oracle.",
    tags=("quality", "agg", "profiling"),
)
def q_lineitem_column_profile(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    a = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("qty_nul"),
        F.countDistinct("l_quantity").cast("long").alias("qty_dst"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.sum(F.col("l_discount").isNull().cast("long")).alias("dis_nul"),
        F.countDistinct("l_discount").cast("long").alias("dis_dst"),
        F.min("l_discount").alias("dis_min"),
        F.max("l_discount").alias("dis_max"),
        F.sum(F.col("l_extendedprice").isNull().cast("long")).alias("prc_nul"),
        F.countDistinct("l_extendedprice").cast("long").alias("prc_dst"),
        F.min("l_extendedprice").alias("prc_min"),
        F.max("l_extendedprice").alias("prc_max"),
        F.sum(F.col("l_returnflag").isNull().cast("long")).alias("rf_nul"),
        F.countDistinct("l_returnflag").cast("long").alias("rf_dst"),
        F.min("l_returnflag").alias("rf_min"),
        F.max("l_returnflag").alias("rf_max"),
        F.sum(F.col("l_linestatus").isNull().cast("long")).alias("ls_nul"),
        F.countDistinct("l_linestatus").cast("long").alias("ls_dst"),
        F.min("l_linestatus").alias("ls_min"),
        F.max("l_linestatus").alias("ls_max"),
    )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = [
        ("l_quantity", "qty_nul", "qty_dst", "qty_min", "qty_max", None),
        ("l_discount", "dis_nul", "dis_dst", "dis_min", "dis_max", None),
        ("l_extendedprice", "prc_nul", "prc_dst", "prc_min", "prc_max", None),
        ("l_returnflag", "rf_nul", "rf_dst", None, None, ("rf_min", "rf_max")),
        ("l_linestatus", "ls_nul", "ls_dst", None, None, ("ls_min", "ls_max")),
    ]
    structs = []
    for name, nul, dst, mn, mx, strs in rows:
        structs.append(
            F.struct(
                F.lit(name).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(nul).alias("n_nulls"),
                F.col(dst).alias("n_distinct"),
                (F.col(mn) if mn else null_d).alias("min_num"),
                (F.col(mx) if mx else null_d).alias("max_num"),
                (F.col(strs[0]) if strs else null_s).alias("min_str"),
                (F.col(strs[1]) if strs else null_s).alias("max_str"),
            )
        )
    return a.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
