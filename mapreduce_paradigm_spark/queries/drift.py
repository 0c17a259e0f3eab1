"""Distribution-drift and cross-corpus divergence analytics.

A 100 TB training-data pipeline re-ingests continuously; the operational
question is not just "is row X a duplicate" but "did the DISTRIBUTION
move" — between time windows (PSI), between labeled groups
(Kruskal-Wallis), and between corpus sources (Jensen-Shannon). All three
follow the house hash-stability discipline: every floating term is
computed once from exact integers with one shared expression shape,
rounded to integer micros, and aggregated as integers, so results are
independent of partition merge order on both engines.

The reference pipeline (src/main.cpp:97-188) stops at corpus statistics
(the inverted index); these are the monitoring metrics a production
deployment of that index would ship beside it.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import doc_words
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- PSI: population stability between time windows --------------------------

_PSI_SPLIT = "2024-01-16"
_PSI_BIN_W = 25
_PSI_NBINS = 11  # floor(value/25) clamped to 10 → bins 0..10 (250+ overflow)


@register(
    "events_value_psi_drift",
    oracle=f"""
WITH binned AS (
  SELECT least(CAST(floor(value / {_PSI_BIN_W}) AS BIGINT), {_PSI_NBINS - 1}) AS bin_id,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_ref
  FROM events
),
bins AS (SELECT unnest(generate_series(0, {_PSI_NBINS - 1})) AS bin_id),
counts AS (
  SELECT bins.bin_id,
         CAST(coalesce(sum(is_ref), 0) AS BIGINT) AS n_ref,
         CAST(coalesce(sum(1 - is_ref), 0) AS BIGINT) AS n_cur
  FROM bins LEFT JOIN binned ON bins.bin_id = binned.bin_id
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref, CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM counts
),
terms AS (
  SELECT bin_id, n_ref, n_cur,
         CAST(round(
           ((CAST(n_ref + 1 AS DOUBLE) / (t_ref + {_PSI_NBINS}))
            - (CAST(n_cur + 1 AS DOUBLE) / (t_cur + {_PSI_NBINS})))
           * ln((CAST(n_ref + 1 AS DOUBLE) / (t_ref + {_PSI_NBINS}))
                / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + {_PSI_NBINS})))
           * 1000000, 0) AS BIGINT) AS psi_micro
  FROM counts CROSS JOIN tot
)
SELECT bin_id, n_ref, n_cur,
       CAST(CAST(psi_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS psi_term,
       CAST(CAST(sum(psi_micro) OVER () AS DECIMAL(24,6)) / 1000000 AS DOUBLE)
         AS psi_total
FROM terms
""",
    description="Population Stability Index of events.value between the "
    "reference window (ts < Jan 16) and the current window: fixed "
    "width-25 bins clamped at 250+, Laplace-smoothed (add-1 over the 11 "
    "bins) so empty bins stay defined, per-bin (p-q)·ln(p/q) rounded to "
    "integer micros and the total PSI formed by INTEGER window-sum — "
    "order-independent across engines. The drift gate every recurring "
    "ingest needs (PSI > 0.25 = retrain/alert convention). Scale: two "
    "scans-worth of work fused into ONE aggregate over (bin, window) — "
    "11-row state, no shuffle wider than the bin table; bin edges are "
    "constants, not quantiles, so no pre-pass over the reference split.",
    tags=("statistics", "drift", "events"),
)
def q_events_value_psi_drift(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    nb = F.lit(_PSI_NBINS)
    binned = ev.select(
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("long"), F.lit(_PSI_NBINS - 1)
        ).alias("bin_id"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    bins = spark.range(_PSI_NBINS).select(F.col("id").alias("bin_id"))
    # aggregate FIRST (row-scale work collapses to ≤11 rows), then left-join
    # the bin spine — the spine join never touches corpus-scale data
    counts0 = binned.groupBy("bin_id").agg(
        F.sum("is_ref").cast("long").alias("nr"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("nc"),
    )
    counts = bins.join(counts0, "bin_id", "left").select(
        "bin_id",
        F.coalesce(F.col("nr"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.col("nc"), F.lit(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + nb)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + nb)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q) * 1e6, 0).cast("long").alias("psi_micro"),
    )
    w = Window.partitionBy()
    return terms.select(
        "bin_id",
        "n_ref",
        "n_cur",
        (F.col("psi_micro").cast("decimal(24,6)") / 1000000)
        .cast("double")
        .alias("psi_term"),
        (F.sum("psi_micro").over(w).cast("decimal(24,6)") / 1000000)
        .cast("double")
        .alias("psi_total"),
    )


# --- Kruskal-Wallis H: k-sample rank test ------------------------------------


@register(
    "qty_kruskal_wallis_h",
    oracle="""
WITH v AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
),
grid AS (SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
ranked AS (
  SELECT q, cnt,
         2 * coalesce(sum(cnt) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2
  FROM grid
),
pergroup AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(r2 AS HUGEINT)) AS HUGEINT) AS r2_sum
  FROM v JOIN ranked USING (q)
  GROUP BY 1
),
ties AS (
  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT) AS tie3
  FROM grid
),
tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM pergroup),
h AS (
  SELECT n,
         CAST(count(*) AS BIGINT) AS k,
         12.0 / (CAST(n AS DOUBLE) * (n + 1))
           * sum((CAST(r2_sum AS DOUBLE) / 2) * (CAST(r2_sum AS DOUBLE) / 2)
                 / n_g)
           - 3.0 * (n + 1) AS h_raw,
         1.0 - CAST(tie3 AS DOUBLE)
               / (CAST(n AS DOUBLE) * n * n - CAST(n AS DOUBLE)) AS c_tie
  FROM pergroup CROSS JOIN tot CROSS JOIN ties
  GROUP BY n, tie3
)
SELECT n, k, round(h_raw, 6) AS h_uncorrected,
       round(h_raw / c_tie, 6) AS h_stat
FROM h
""",
    description="Kruskal-Wallis H (rank one-way ANOVA) of l_quantity "
    "across the 3 return flags — the distribution-free complement of "
    "value_oneway_anova_f for non-normal metrics. Average ranks come "
    "from the 50-row distinct-value grid as the integer 2·avg-rank "
    "identity (2·cumulative-before + cnt + 1 — tie-exact, no fractional "
    "ranks), joined back broadcast; per-group rank sums accumulate as "
    "128-bit integers (Σ2R ≈ 2·N² overflows LONG at 60k+ rows), the tie "
    "correction Σ(t³-t) is exact integer, and H is ONE closed-form "
    "double expression over those integers — identical on both engines. "
    "Scale: the only row-scale work is one broadcast join-back + one "
    "groupBy(flag); everything else is value-cardinality-sized.",
    tags=("statistics",),
)
def q_qty_kruskal_wallis_h(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # v feeds the rank grid AND the per-group join; grid feeds ranked and
    # the tie correction; pergroup feeds tot and the final assembly —
    # unpersisted, each consumer re-ran its upstream back to the lineitem
    # scan (round-12 plan audit: 5 scans in this one plan). grid/pergroup
    # are distinct-value / group sized; v is two pruned columns.
    v = lifetime.persist(
        li.select(
            F.col("l_returnflag").alias("flag"), F.col("l_quantity").cast("long").alias("q")
        )
    )
    grid = lifetime.persist(v.groupBy("q").agg(F.count(F.lit(1)).alias("cnt")))
    wcum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "q",
        "cnt",
        (2 * F.coalesce(F.sum("cnt").over(wcum), F.lit(0)) + F.col("cnt") + 1).alias(
            "r2"
        ),
    )
    pergroup = lifetime.persist(
        v.join(F.broadcast(ranked.select("q", "r2")), "q")
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.col("r2").cast("decimal(19,0)")).alias("r2_sum"),
        )
    )
    ties = grid.agg(
        F.sum(
            F.col("cnt").cast("decimal(19,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie3")
    )
    tot = pergroup.agg(F.sum("n_g").cast("long").alias("n"))
    n = F.col("n").cast("double")
    r2s = F.col("r2_sum").cast("double")
    h_raw = (
        F.lit(12.0)
        / (n * (F.col("n") + 1))
        * F.sum((r2s / 2) * (r2s / 2) / F.col("n_g"))
        - F.lit(3.0) * (F.col("n") + 1)
    )
    c_tie = F.lit(1.0) - F.col("tie3").cast("double") / (n * n * n - n)
    h = (
        pergroup.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .groupBy("n", "tie3")
        .agg(F.count(F.lit(1)).alias("k"), h_raw.alias("h_raw"))
        .select("n", "k", F.round(F.col("h_raw"), 6).alias("h_uncorrected"),
                F.round(F.col("h_raw") / c_tie, 6).alias("h_stat"))
    )
    return h


# --- Jensen-Shannon divergence between corpus sources ------------------------

_JS_VOCAB = 200


@register(
    "source_unigram_js_divergence",
    oracle=f"""
WITH dw AS (
  SELECT d.source, lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS word
  FROM (SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents) d
  WHERE lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) <> ''
),
vocab AS (
  SELECT word FROM dw GROUP BY 1
  ORDER BY count(*) DESC, word ASC LIMIT {_JS_VOCAB}
),
sc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS c
  FROM dw JOIN vocab USING (word) GROUP BY 1, 2
),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM sc GROUP BY 1),
grid AS (
  SELECT t.source, v.word, coalesce(sc.c, 0) AS c, t.tot
  FROM totals t CROSS JOIN vocab v
  LEFT JOIN sc ON sc.source = t.source AND sc.word = v.word
),
probs AS (
  SELECT source, word,
         CAST(c + 1 AS DOUBLE) / (tot + {_JS_VOCAB}) AS p
  FROM grid
),
terms AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(round(
           0.5 * (a.p * ln(2 * a.p / (a.p + b.p))
                  + b.p * ln(2 * b.p / (a.p + b.p))) * 1000000, 0) AS BIGINT)
           AS js_micro
  FROM probs a JOIN probs b ON a.word = b.word AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(CAST(sum(js_micro) AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS js_div
FROM terms
GROUP BY 1, 2
""",
    description="Pairwise Jensen-Shannon divergence between the unigram "
    "distributions of every pair of corpus sources, over the top-200 "
    "global vocabulary (count-desc, word-asc tiebreak) with add-1 "
    "smoothing — the mixture-design metric that says WHICH sources are "
    "near-duplicates of each other's distribution (feeds "
    "source_mixture_reweighting). Per-(pair,word) JS terms are rounded "
    "to integer micros and summed as integers — merge-order-proof. "
    "Scale: corpus-sized work is ONE tokenized count pass; everything "
    "after is (sources × vocab)-sized metadata (4k rows here), the grid "
    "self-join is broadcast, and pair count grows with sources², not "
    "corpus bytes.",
    tags=("statistics", "drift", "llm"),
)
def q_source_unigram_js_divergence(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # round-12 plan audit: dw feeds vocab + sc, sc feeds totals + the grid
    # join, and grid feeds both sides of the pair self-join. sc and grid
    # are (sources x vocab)-sized and persisted; dw itself is NOT — the
    # corpus-stream persist class measured ~2x slower than recompute at
    # bench scale (see duplicate_span_extraction), so the tokenize runs
    # twice (vocab + sc) and everything downstream reads the small caches.
    dw = doc_words(docs, doc_id_col="source").select(
        F.col("doc_id").alias("source"), "word"
    )
    vocab = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("gc"))
        .orderBy(F.col("gc").desc(), F.col("word").asc())
        .limit(_JS_VOCAB)
        .select("word")
    )
    sc = lifetime.persist(
        dw.join(F.broadcast(vocab), "word")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = sc.groupBy("source").agg(F.sum("c").cast("long").alias("tot"))
    grid = lifetime.persist(
        totals.crossJoin(F.broadcast(vocab))
        .join(sc, ["source", "word"], "left")
        .select(
            "source",
            "word",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (F.col("tot") + _JS_VOCAB)).alias("p"),
        )
    )
    a, b = grid.alias("a"), grid.alias("b")
    pa, pb = F.col("a.p"), F.col("b.p")
    terms = (
        a.join(
            F.broadcast(b),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.round(
                0.5
                * (
                    pa * F.log(2 * pa / (pa + pb))
                    + pb * F.log(2 * pb / (pa + pb))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("js_micro"),
        )
    )
    return (
        terms.groupBy("source_a", "source_b").agg(
            (F.sum("js_micro").cast("decimal(24,6)") / 1000000)
            .cast("double")
            .alias("js_div")
        )
    )


# --- Welch's t-test ----------------------------------------------------------


@register(
    "value_welch_ttest",
    oracle="""
WITH v AS (
  SELECT event_type,
         CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events WHERE event_type IN ('purchase', 'view')
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(vm AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS s2
  FROM v GROUP BY 1
),
w AS (
  SELECT a.n AS n1, b.n AS n2,
         CAST(a.s1 AS DOUBLE) / a.n AS m1, CAST(b.s1 AS DOUBLE) / b.n AS m2,
         (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE) / a.n)
           / (a.n - 1) / a.n AS va,
         (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE) / b.n)
           / (b.n - 1) / b.n AS vb
  FROM s a, s b
  WHERE a.event_type = 'purchase' AND b.event_type = 'view'
)
SELECT n1, n2,
       round((m1 - m2) / 1000000, 6) AS mean_diff,
       round((m1 - m2) / sqrt(va + vb), 6) AS t_stat,
       round((va + vb) * (va + vb)
             / (va * va / (n1 - 1) + vb * vb / (n2 - 1)), 4) AS welch_df
FROM w
""",
    description="Welch's unequal-variance t-test of mean event value, "
    "purchase vs view — the means counterpart of ab_conversion_ztest "
    "(proportions): t = (m1-m2)/sqrt(s1²/n1 + s2²/n2) with the "
    "Welch-Satterthwaite degrees of freedom. Values accumulate as exact "
    "integer micros (128-bit Σv² — (5·10⁸)² per row overflows LONG), and "
    "every double derives from those integers through ONE shared "
    "expression shape, so both engines agree bit-for-bit before the "
    "final 6dp round. Scale: one 2-group aggregate — map-side partials, "
    "2-row reduce state, no shuffle wider than the group count.",
    tags=("statistics", "drift", "events"),
)
def q_value_welch_ttest(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_type", F.round(F.col("value") * 1e6, 0).cast("long").alias("vm")
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vm").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias("s2"),
    )
    a = s.filter(F.col("event_type") == "purchase").alias("a")
    b = s.filter(F.col("event_type") == "view").alias("b")
    j = a.crossJoin(F.broadcast(b))
    n1, n2 = F.col("a.n"), F.col("b.n")
    m1 = F.col("a.s1").cast("double") / n1
    m2 = F.col("b.s1").cast("double") / n2
    va = (
        (F.col("a.s2").cast("double") - F.col("a.s1").cast("double") * F.col("a.s1").cast("double") / n1)
        / (n1 - 1)
        / n1
    )
    vb = (
        (F.col("b.s2").cast("double") - F.col("b.s1").cast("double") * F.col("b.s1").cast("double") / n2)
        / (n2 - 1)
        / n2
    )
    return j.select(
        n1.alias("n1"),
        n2.alias("n2"),
        F.round((m1 - m2) / 1e6, 6).alias("mean_diff"),
        F.round((m1 - m2) / F.sqrt(va + vb), 6).alias("t_stat"),
        F.round(
            (va + vb) * (va + vb) / (va * va / (n1 - 1) + vb * vb / (n2 - 1)), 4
        ).alias("welch_df"),
    )


# --- Wasserstein-1 (earth mover) drift ---------------------------------------


@register(
    "events_value_wasserstein_drift",
    oracle=f"""
WITH v AS (
  SELECT CAST(round(value * 1000000, 0) AS BIGINT) AS vm,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_ref
  FROM events
),
grid AS (
  SELECT vm,
         CAST(sum(is_ref) AS BIGINT) AS c_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS c_cur
  FROM v GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref, CAST(sum(c_cur) AS BIGINT) AS n_cur
  FROM grid
),
cdf AS (
  SELECT vm,
         sum(c_ref) OVER (ORDER BY vm) AS f_ref,
         sum(c_cur) OVER (ORDER BY vm) AS f_cur,
         lead(vm) OVER (ORDER BY vm) AS vm_next
  FROM grid
),
terms AS (
  SELECT CAST(abs(CAST(f_ref AS HUGEINT) * n_cur - CAST(f_cur AS HUGEINT) * n_ref)
              * (vm_next - vm) AS HUGEINT) AS t
  FROM cdf CROSS JOIN tot
  WHERE vm_next IS NOT NULL
)
SELECT (SELECT n_ref FROM tot) AS n_ref,
       (SELECT n_cur FROM tot) AS n_cur,
       round(CAST(sum(t) AS DOUBLE)
             / (SELECT CAST(n_ref AS DOUBLE) * n_cur FROM tot) / 1000000, 6)
         AS w1_dist
FROM terms
""",
    description="Exact Wasserstein-1 (earth-mover) distance between the "
    "reference and current value distributions — the drift metric PSI "
    "can't give you: it weighs HOW FAR mass moved, not just which bin it "
    "left. W1 = Σ |F_ref - F_cur| dx over the merged value grid, computed "
    "ENTIRELY in integers (|cumref·n_cur − cumcur·n_ref|·Δv summed as "
    "128-bit ints, ONE division at the end) — no per-term float "
    "rounding at all, so merge order cannot matter. Scale: the grid is "
    "distinct-value-sized and the CDF needs a global order — exact form "
    "for validation windows; at corpus scale feed the same formula "
    "equi-depth histogram boundaries (price_equidepth_histogram) instead "
    "of raw distinct values.",
    bench=True,
    tags=("statistics", "drift", "events"),
)
def q_events_value_wasserstein_drift(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.round(F.col("value") * 1e6, 0).cast("long").alias("vm"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    # grid feeds the cdf window AND both ``tot`` cross-join broadcasts —
    # Catalyst plans each as an independent subtree, so without the
    # persists the full events scan + grid aggregation executed THREE
    # times (round-12 before-plan: three identical Scan→HashAggregate
    # chains, nodes 1-5, 11-15, 24-28). grid is distinct-value-sized,
    # tot is one row.
    grid = lifetime.persist(
        v.groupBy("vm").agg(
            F.sum("is_ref").cast("long").alias("c_ref"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("c_cur"),
        )
    )
    tot = lifetime.persist(
        grid.agg(
            F.sum("c_ref").cast("long").alias("n_ref"),
            F.sum("c_cur").cast("long").alias("n_cur"),
        )
    )
    wcdf = Window.orderBy("vm")
    cdf = grid.select(
        "vm",
        F.sum("c_ref").over(wcdf).alias("f_ref"),
        F.sum("c_cur").over(wcdf).alias("f_cur"),
        F.lead("vm").over(wcdf).alias("vm_next"),
    )
    terms = (
        cdf.crossJoin(F.broadcast(tot))
        .filter(F.col("vm_next").isNotNull())
        .select(
            (
                F.abs(
                    F.col("f_ref").cast("decimal(38,0)") * F.col("n_cur")
                    - F.col("f_cur").cast("decimal(38,0)") * F.col("n_ref")
                )
                * (F.col("vm_next") - F.col("vm"))
            ).alias("t")
        )
    )
    return (
        terms.agg(F.sum("t").alias("st"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_ref",
            "n_cur",
            F.round(
                F.col("st").cast("double")
                / (F.col("n_ref").cast("double") * F.col("n_cur"))
                / 1e6,
                6,
            ).alias("w1_dist"),
        )
    )


# --- sliding-window distinct users -------------------------------------------


@register(
    "events_sliding_distinct_users",
    oracle="""
WITH k AS (SELECT unnest(generate_series(0, 3)) AS k),
w AS (
  SELECT user_id,
         make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - k.k * 900) * 1000000 AS BIGINT))
           AS wstart
  FROM events, k
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(DISTINCT user_id) AS n_users
FROM w
GROUP BY 1
""",
    description="DISTINCT users per sliding window (1h width, 15min "
    "slide) — the overlapping-window set aggregate (each user dedups "
    "independently inside each of the 4 windows an event touches): "
    "rolling reach / concurrent-actives, the metric dau_wau_stickiness "
    "gives at day grain. Spark plans count_distinct over window() as "
    "partial-dedup then merge — two shuffles keyed by (window, user) "
    "then (window); no collect_set materialization.",
    tags=("window", "events", "datetime"),
)
def q_events_sliding_distinct_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_users",
        )
    )


# --- Brown-Forsythe: variance homogeneity ------------------------------------


@register(
    "qty_brown_forsythe",
    oracle="""
WITH v AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
),
grid AS (
  SELECT flag, q, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2
),
cum AS (
  SELECT flag, q, cnt,
         sum(cnt) OVER (PARTITION BY flag ORDER BY q) AS c,
         sum(cnt) OVER (PARTITION BY flag) AS n_g
  FROM grid
),
med AS (
  SELECT flag, min(q) AS med FROM cum WHERE 2 * c >= n_g GROUP BY 1
),
z AS (
  SELECT v.flag, abs(v.q - med.med) AS z
  FROM v JOIN med ON v.flag = med.flag
),
s AS (
  SELECT flag,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS s2
  FROM z GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(s1) AS HUGEINT) AS st
  FROM s
),
parts AS (
  SELECT n, k,
         sum(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_g)
           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n AS between_ss,
         sum(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_g)
           AS within_ss
  FROM s CROSS JOIN tot
  GROUP BY n, k, st
)
SELECT n, k,
       round(between_ss / (k - 1) / (within_ss / (n - k)), 6) AS f_stat
FROM parts
""",
    description="Brown-Forsythe variance-homogeneity test of l_quantity "
    "across return flags: one-way ANOVA F on z = |x − group MEDIAN| — "
    "the robust Levene variant, the SCALE-difference companion to the "
    "location tests (ANOVA F / Kruskal-Wallis). Group medians come off "
    "the per-group distinct-value grid by the integer 2·cum ≥ n lower-"
    "median cut (no interpolation, engine-agnostic); z is then exact "
    "integer, the F statistic is one closed-form double over 128-bit "
    "power sums. Scale: value-grid work + one broadcast join-back + one "
    "group aggregate — same shape as the rank tests.",
    tags=("statistics", "drift"),
)
def q_qty_brown_forsythe(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # v feeds the median grid AND the deviation join; s feeds tot and the
    # assembly — unpersisted, each consumer re-ran its upstream back to
    # the lineitem scan (round-12 plan audit).
    v = lifetime.persist(
        li.select(
            F.col("l_returnflag").alias("flag"), F.col("l_quantity").cast("long").alias("q")
        )
    )
    grid = v.groupBy("flag", "q").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.partitionBy("flag").orderBy("q")
    wg = Window.partitionBy("flag")
    cum = grid.select(
        "flag",
        "q",
        F.sum("cnt").over(wc).alias("c"),
        F.sum("cnt").over(wg).alias("n_g"),
    )
    med = (
        cum.filter(2 * F.col("c") >= F.col("n_g"))
        .groupBy("flag")
        .agg(F.min("q").alias("med"))
    )
    z = v.join(F.broadcast(med), "flag").select(
        "flag", F.abs(F.col("q") - F.col("med")).alias("z")
    )
    s = lifetime.persist(
        z.groupBy("flag").agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(F.col("z").cast("decimal(38,0)")).alias("s1"),
            F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("s2"),
        )
    )
    tot = s.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s1").alias("st"),
    )
    s1d = F.col("s1").cast("double")
    parts = (
        s.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "st")
        .agg(
            (
                F.sum(s1d * s1d / F.col("n_g"))
            ).alias("b_raw"),
            F.sum(F.col("s2").cast("double") - s1d * s1d / F.col("n_g")).alias(
                "within_ss"
            ),
        )
        .select(
            "n",
            "k",
            (
                F.col("b_raw")
                - F.col("st").cast("double") * F.col("st").cast("double") / F.col("n")
            ).alias("between_ss"),
            "within_ss",
        )
    )
    return (
        parts.select(
            "n",
            "k",
            F.round(
                F.col("between_ss")
                / (F.col("k") - 1)
                / (F.col("within_ss") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
    )


# --- mutual information ------------------------------------------------------


@register(
    "qty_flag_mutual_information",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS flag,
         CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS BIGINT) AS qb,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
m AS (
  SELECT flag, qb, c,
         CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS rm,
         CAST(sum(c) OVER (PARTITION BY qb) AS BIGINT) AS cm,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM cells
),
mi AS (
  SELECT n,
         CAST(sum(CAST(round((CAST(c AS DOUBLE) / n)
               * ln(CAST(n AS DOUBLE) * c / (CAST(rm AS DOUBLE) * cm))
               * 1000000, 0) AS BIGINT)) AS BIGINT) AS mi_micro
  FROM m GROUP BY n
),
hf AS (
  SELECT CAST(sum(CAST(round(-(CAST(rm AS DOUBLE) / n) * ln(CAST(rm AS DOUBLE) / n)
               * 1000000, 0) AS BIGINT)) AS BIGINT) AS hf_micro
  FROM (SELECT DISTINCT flag, rm, n FROM m)
),
hb AS (
  SELECT CAST(sum(CAST(round(-(CAST(cm AS DOUBLE) / n) * ln(CAST(cm AS DOUBLE) / n)
               * 1000000, 0) AS BIGINT)) AS BIGINT) AS hb_micro
  FROM (SELECT DISTINCT qb, cm, n FROM m)
)
SELECT n,
       CAST(CAST(mi_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS mi,
       CAST(CAST(hf_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS h_flag,
       CAST(CAST(hb_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS h_bin,
       round(CAST(mi_micro AS DOUBLE)
             / sqrt(CAST(hf_micro AS DOUBLE) * hb_micro), 6) AS nmi
FROM mi CROSS JOIN hf CROSS JOIN hb
""",
    description="Mutual information (and normalized MI) between return "
    "flag and quantity decile-band — the info-theoretic association "
    "measure beside chi-squared (chi2 answers 'is there dependence', MI "
    "answers 'how many bits'): MI = Σ (c/n)·ln(n·c/(rm·cm)) over the "
    "contingency cells, entropies from the margins, NMI = MI/√(H₁·H₂). "
    "Per-cell terms round to integer micros and sum as integers; margins "
    "come from windows over the 15-cell grid. One corpus-scale aggregate; "
    "everything after is contingency-grid metadata.",
    tags=("statistics", "drift"),
)
def q_qty_flag_mutual_information(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        ((F.col("l_quantity").cast("long") - 1) / 10).cast("long").alias("qb"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    m = cells.select(
        "flag",
        "qb",
        "c",
        F.sum("c").over(Window.partitionBy("flag")).alias("rm"),
        F.sum("c").over(Window.partitionBy("qb")).alias("cm"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    cd, nd = F.col("c").cast("double"), F.col("n").cast("double")
    mi = m.groupBy("n").agg(
        F.sum(
            F.round(
                (cd / F.col("n"))
                * F.log(nd * F.col("c") / (F.col("rm").cast("double") * F.col("cm")))
                * 1e6,
                0,
            ).cast("long")
        )
        .cast("long")
        .alias("mi_micro")
    )
    hf = (
        m.select("flag", "rm", "n")
        .distinct()
        .agg(
            F.sum(
                F.round(
                    -(F.col("rm").cast("double") / F.col("n"))
                    * F.log(F.col("rm").cast("double") / F.col("n"))
                    * 1e6,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("hf_micro")
        )
    )
    hb = (
        m.select("qb", "cm", "n")
        .distinct()
        .agg(
            F.sum(
                F.round(
                    -(F.col("cm").cast("double") / F.col("n"))
                    * F.log(F.col("cm").cast("double") / F.col("n"))
                    * 1e6,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("hb_micro")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hf))
        .crossJoin(F.broadcast(hb))
        .select(
            "n",
            (F.col("mi_micro").cast("decimal(24,6)") / 1000000).cast("double").alias("mi"),
            (F.col("hf_micro").cast("decimal(24,6)") / 1000000).cast("double").alias("h_flag"),
            (F.col("hb_micro").cast("decimal(24,6)") / 1000000).cast("double").alias("h_bin"),
            F.round(
                F.col("mi_micro").cast("double")
                / F.sqrt(F.col("hf_micro").cast("double") * F.col("hb_micro")),
                6,
            ).alias("nmi"),
        )
    )


# --- Cramér's V (bias-corrected optional: plain V here) ----------------------


@register(
    "priority_status_cramers_v",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS p, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
rp AS (SELECT p, CAST(sum(obs) AS BIGINT) AS rp FROM o GROUP BY 1),
cs AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cs FROM o GROUP BY 1),
chi AS (
  SELECT CAST(sum(CAST(round(power(obs - CAST(rp AS DOUBLE) * cs / n, 2)
             / (CAST(rp AS DOUBLE) * cs / n) * 1000000, 0) AS BIGINT))
         AS BIGINT) AS chi2_micro
  FROM o JOIN rp ON o.p = rp.p JOIN cs ON o.st = cs.st CROSS JOIN tot
),
dims AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM rp) AS r,
         (SELECT CAST(count(*) AS BIGINT) FROM cs) AS c
)
SELECT n, r, c,
       CAST(CAST(chi2_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS chi2,
       round(sqrt((CAST(chi2_micro AS DOUBLE) / 1000000)
                  / (CAST(n AS DOUBLE) * (least(r, c) - 1))), 6) AS cramers_v
FROM chi CROSS JOIN tot CROSS JOIN dims
""",
    description="Cramér's V for the priority × status table — the "
    "EFFECT-SIZE companion to priority_status_chi2 (chi2 scales with N, "
    "so at 100 TB everything is 'significant'; V = √(χ²/(N·(min(r,c)−1))) "
    "∈ [0,1] stays comparable across table sizes): per-cell χ² terms "
    "rounded to integer micros and integer-summed (merge-order-proof), "
    "one closed-form V from the scalar. Contingency-grid-sized after one "
    "aggregate.",
    tags=("statistics", "drift"),
)
def q_priority_status_cramers_v(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    # o (the contingency table) feeds tot/rp/cs and the chi2 join — four
    # independent subtrees, so unpersisted the full orders scan + grouping
    # re-ran per consumer (round-12 plan audit: 7 scans in this one plan);
    # rp/cs/tot each feed two consumers themselves. All are
    # contingency-table sized.
    o = lifetime.persist(
        orders.groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("st")
        ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    tot = lifetime.persist(o.agg(F.sum("obs").cast("long").alias("n")))
    rp = lifetime.persist(
        o.groupBy("p").agg(F.sum("obs").cast("long").alias("rp"))
    )
    cs = lifetime.persist(
        o.groupBy("st").agg(F.sum("obs").cast("long").alias("cs"))
    )
    e = F.col("rp").cast("double") * F.col("cs") / F.col("n")
    chi = (
        o.join(F.broadcast(rp), "p")
        .join(F.broadcast(cs), "st")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(F.pow(F.col("obs") - e, 2) / e * 1e6, 0).cast("long")
            )
            .cast("long")
            .alias("chi2_micro")
        )
    )
    dims = rp.agg(F.count(F.lit(1)).cast("long").alias("r")).crossJoin(
        cs.agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        chi.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .select(
            "n",
            "r",
            "c",
            (F.col("chi2_micro").cast("decimal(24,6)") / 1000000)
            .cast("double")
            .alias("chi2"),
            F.round(
                F.sqrt(
                    (F.col("chi2_micro").cast("double") / 1e6)
                    / (F.col("n").cast("double") * (F.least("r", "c") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --- odds ratio with CI ------------------------------------------------------


@register(
    "ab_conversion_odds_ratio",
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
  SELECT max(CASE WHEN grp = 0 THEN conv END) AS a,
         max(CASE WHEN grp = 0 THEN n - conv END) AS b,
         max(CASE WHEN grp = 1 THEN conv END) AS c,
         max(CASE WHEN grp = 1 THEN n - conv END) AS d
  FROM g
)
SELECT a, b, c, d,
       round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6) AS odds_ratio,
       round(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6) AS log_or_lo,
       round(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
             + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6) AS log_or_hi
FROM wide
""",
    description="Odds ratio with Wald 95% CI for the signup→purchase A/B "
    "split — the EFFECT SIZE beside ab_conversion_ztest's significance "
    "(same 2×2 cells a/b/c/d): OR = ad/bc, CI = ln(OR) ± 1.96·√(Σ1/cell). "
    "Exact integer cells from one per-user reduction; one shared float "
    "expression. The z-test says whether to believe a difference; this "
    "says whether it is big enough to matter.",
    tags=("statistics", "drift", "events"),
)
def q_ab_conversion_odds_ratio(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("fs"),
        )
        .filter(F.col("fs").isNotNull())
        .select(
            (F.col("user_id") % 2).cast("long").alias("grp"),
            F.when(F.col("fp") > F.col("fs"), 1).otherwise(0).cast("long").alias("converted"),
        )
    )
    g = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("a"),
        F.max(F.when(F.col("grp") == 0, F.col("n") - F.col("conv"))).alias("b"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c"),
        F.max(F.when(F.col("grp") == 1, F.col("n") - F.col("conv"))).alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    orr = a * F.col("d") / (b * F.col("c"))
    half = F.lit(1.959964) * F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return wide.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr) - half, 6).alias("log_or_lo"),
        F.round(F.log(orr) + half, 6).alias("log_or_hi"),
    )


# --- tail expectation (CVaR / expected shortfall) ----------------------------


@register(
    "order_value_cvar95",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 1000000, 0) AS BIGINT) AS vm FROM orders
),
grid AS (SELECT vm, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
cum AS (
  SELECT vm, cnt,
         sum(cnt) OVER (ORDER BY vm) AS c,
         sum(cnt) OVER () AS n
  FROM grid
),
var95 AS (
  SELECT min(vm) AS var_micro, CAST(min(n) AS BIGINT) AS n
  FROM cum WHERE 20 * c >= 19 * n
),
tail AS (
  SELECT CAST(sum(CAST(vm AS HUGEINT) * cnt) AS HUGEINT) AS ts,
         CAST(sum(cnt) AS BIGINT) AS tn
  FROM grid, var95 WHERE vm >= var_micro
)
SELECT n,
       CAST(CAST(var_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS var95,
       tn AS n_tail,
       round(CAST(ts AS DOUBLE) / tn / 1000000, 6) AS cvar95
FROM var95 CROSS JOIN tail
""",
    description="95% Value-at-Risk and Conditional VaR (expected "
    "shortfall) of order value: VaR = the exact lower 95th-percentile "
    "cut off the distinct-value grid (integer 20·cum ≥ 19·n predicate — "
    "no interpolation, no float epsilon), CVaR = mean of the tail at or "
    "beyond it from 128-bit integer sums, ONE division. The tail-risk "
    "summary quantile_percentiles' point estimates don't give (two "
    "distributions can share p95 with very different tails). "
    "Value-grid-scale work after one aggregate; same machinery as the "
    "weighted median and KS grids.",
    tags=("statistics", "drift", "orders"),
)
def q_order_value_cvar95(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 1e6, 0).cast("long").alias("vm"))
    grid = v.groupBy("vm").agg(F.count(F.lit(1)).alias("cnt"))
    cum = grid.select(
        "vm",
        "cnt",
        F.sum("cnt").over(Window.orderBy("vm")).alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    var95 = cum.filter(20 * F.col("c") >= 19 * F.col("n")).agg(
        F.min("vm").alias("var_micro"), F.min("n").alias("n")
    )
    tail = grid.crossJoin(F.broadcast(var95)).filter(
        F.col("vm") >= F.col("var_micro")
    ).agg(
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("cnt")).alias("ts"),
        F.sum("cnt").cast("long").alias("tn"),
    )
    return var95.crossJoin(F.broadcast(tail)).select(
        "n",
        (F.col("var_micro").cast("decimal(24,6)") / 1000000)
        .cast("double")
        .alias("var95"),
        F.col("tn").alias("n_tail"),
        F.round(F.col("ts").cast("double") / F.col("tn") / 1e6, 6).alias("cvar95"),
    )


# --- Chow structural-break test ----------------------------------------------


@register(
    "value_time_chow_test",
    oracle=f"""
WITH v AS (
  SELECT CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS x,
         CAST(round(value * 1000000, 0) AS BIGINT) AS y,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS seg
  FROM events
),
s AS (
  SELECT seg,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM v GROUP BY 1
),
wide AS (
  SELECT
    max(CASE WHEN seg = 0 THEN n END) AS n0,
    max(CASE WHEN seg = 0 THEN sx END) AS sx0,
    max(CASE WHEN seg = 0 THEN sy END) AS sy0,
    max(CASE WHEN seg = 0 THEN sxx END) AS sxx0,
    max(CASE WHEN seg = 0 THEN sxy END) AS sxy0,
    max(CASE WHEN seg = 0 THEN syy END) AS syy0,
    max(CASE WHEN seg = 1 THEN n END) AS n1,
    max(CASE WHEN seg = 1 THEN sx END) AS sx1,
    max(CASE WHEN seg = 1 THEN sy END) AS sy1,
    max(CASE WHEN seg = 1 THEN sxx END) AS sxx1,
    max(CASE WHEN seg = 1 THEN sxy END) AS sxy1,
    max(CASE WHEN seg = 1 THEN syy END) AS syy1
  FROM s
),
ssr AS (
  SELECT n0 + n1 AS n,
    ((CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * sy0 / n0)
     - (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sy0 / n0)
       * (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sy0 / n0)
       / (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sx0 / n0)) AS ssr0,
    ((CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n1)
     - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n1)
       * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n1)
       / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1)) AS ssr1,
    ((CAST(syy0 + syy1 AS DOUBLE)
      - CAST(sy0 + sy1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE) / (n0 + n1))
     - (CAST(sxy0 + sxy1 AS DOUBLE)
        - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE) / (n0 + n1))
       * (CAST(sxy0 + sxy1 AS DOUBLE)
          - CAST(sx0 + sx1 AS DOUBLE) * CAST(sy0 + sy1 AS DOUBLE) / (n0 + n1))
       / (CAST(sxx0 + sxx1 AS DOUBLE)
          - CAST(sx0 + sx1 AS DOUBLE) * CAST(sx0 + sx1 AS DOUBLE) / (n0 + n1)))
      AS ssrp
  FROM wide
)
SELECT n,
       round(ssrp / 1e12, 6) AS ssr_pooled_t2,
       round((ssr0 + ssr1) / 1e12, 6) AS ssr_split_t2,
       round(((ssrp - ssr0 - ssr1) / 2) / ((ssr0 + ssr1) / (n - 4)), 6)
         AS chow_f
FROM ssr
""",
    description="Chow structural-break test at the drift split (Jan 16): "
    "fit value ~ hour-index by OLS pooled and per segment, F = "
    "((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1+SSR_2)/(n−2k)), k=2 — did "
    "the RELATIONSHIP (level+slope) change, not just the marginal "
    "distribution (PSI/W1's question). Every SSR comes from exact "
    "128-bit power sums — pooled sums are the INTEGER sums of the "
    "segment sums, so all three regressions derive from one 2-row "
    "aggregate, one scan; SSRs reported in trillions (micro² scale). "
    "One shared closed-form float expression per SSR.",
    tags=("statistics", "drift", "events"),
)
def q_value_time_chow_test(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).cast("long").alias("x"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("y"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = v.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    wide = s.agg(
        *[
            F.max(F.when(F.col("seg") == seg, F.col(c))).alias(f"{c}{seg}")
            for seg in (0, 1)
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        ]
    )

    def ssr(sxx, sxy, syy, sx, sy, n):
        cyy = syy.cast("double") - sy.cast("double") * sy.cast("double") / n
        cxy = sxy.cast("double") - sx.cast("double") * sy.cast("double") / n
        cxx = sxx.cast("double") - sx.cast("double") * sx.cast("double") / n
        return cyy - cxy * cxy / cxx

    c = F.col
    ssr0 = ssr(c("sxx0"), c("sxy0"), c("syy0"), c("sx0"), c("sy0"), c("n0"))
    ssr1 = ssr(c("sxx1"), c("sxy1"), c("syy1"), c("sx1"), c("sy1"), c("n1"))
    ssrp = ssr(
        c("sxx0") + c("sxx1"),
        c("sxy0") + c("sxy1"),
        c("syy0") + c("syy1"),
        c("sx0") + c("sx1"),
        c("sy0") + c("sy1"),
        c("n0") + c("n1"),
    )
    n = (c("n0") + c("n1")).alias("n")
    return wide.select(
        n,
        F.round(ssrp / 1e12, 6).alias("ssr_pooled_t2"),
        F.round((ssr0 + ssr1) / 1e12, 6).alias("ssr_split_t2"),
        F.round(
            ((ssrp - ssr0 - ssr1) / 2) / ((ssr0 + ssr1) / (c("n0") + c("n1") - 4)), 6
        ).alias("chow_f"),
    )


# --- OLS influence diagnostics (Cook's distance) -----------------------------


@register(
    "value_time_cooks_top20",
    oracle="""
WITH v AS (
  SELECT event_id,
         CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS x,
         CAST(round(value * 1000000, 0) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM v
),
fit AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS xbar,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope,
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
          - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
           / (n - 2) AS s2,
         CAST(sy AS DOUBLE) / n AS ybar
  FROM s
),
d AS (
  SELECT v.event_id, v.x, v.y,
         (v.y - (f.ybar + f.slope * (v.x - f.xbar)))
         * (v.y - (f.ybar + f.slope * (v.x - f.xbar)))
         * (1.0 / f.n + (v.x - f.xbar) * (v.x - f.xbar) / f.cxx)
         / (2 * f.s2
            * (1 - (1.0 / f.n + (v.x - f.xbar) * (v.x - f.xbar) / f.cxx))
            * (1 - (1.0 / f.n + (v.x - f.xbar) * (v.x - f.xbar) / f.cxx)))
           AS cook
  FROM v CROSS JOIN fit f
)
SELECT event_id, x, CAST(CAST(y AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS value,
       round(cook * 1000000, 6) AS cooks_d_ppm
FROM d
ORDER BY cook DESC, event_id ASC
LIMIT 20
""",
    description="Cook's distance top-20 influential points of the "
    "value ~ time OLS — the influence diagnostic that says WHICH rows "
    "move the fit the Chow test monitors (one pathological batch can "
    "fake a structural break): D = e²h/(k·s²(1−h)²) with leverage "
    "h = 1/n + (x−x̄)²/Sxx, everything derived from the SAME one-pass "
    "128-bit power sums as the fit itself, broadcast to a row-local "
    "expression. Ranking compares per-row doubles both engines compute "
    "identically (same inputs, same tree), tie-broken by event_id; "
    "reported in ppm. One scan + TakeOrdered(20) — no global sort.",
    tags=("statistics", "drift", "events"),
)
def q_value_time_cooks_top20(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).cast("long").alias("x"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd, syyd = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cxx = sxxd - sxd * F.col("sx") / n
    cxy = sxyd - sxd * F.col("sy") / n
    cyy = syyd - syd * F.col("sy") / n
    fit = s.select(
        "n",
        (sxd / n).alias("xbar"),
        cxx.alias("cxx"),
        (cxy / cxx).alias("slope"),
        ((cyy - cxy * cxy / cxx) / (n - 2)).alias("s2"),
        (syd / n).alias("ybar"),
    )
    j = v.crossJoin(F.broadcast(fit))
    resid = F.col("y") - (
        F.col("ybar") + F.col("slope") * (F.col("x") - F.col("xbar"))
    )
    h = 1.0 / F.col("n") + (F.col("x") - F.col("xbar")) * (
        F.col("x") - F.col("xbar")
    ) / F.col("cxx")
    cook = resid * resid * h / (2 * F.col("s2") * (1 - h) * (1 - h))
    return (
        j.select(
            "event_id",
            "x",
            (F.col("y").cast("decimal(24,6)") / 1000000).cast("double").alias("value"),
            cook.alias("cook"),
        )
        .orderBy(F.col("cook").desc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", "x", "value", F.round(F.col("cook") * 1e6, 6).alias("cooks_d_ppm"))
    )


# --- partial correlation -----------------------------------------------------


@register(
    "price_qty_partial_corr",
    oracle="""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS p,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 1000000, 0) AS BIGINT) AS d
  FROM lineitem
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sp,
         CAST(sum(CAST(q AS HUGEINT)) AS HUGEINT) AS sq,
         CAST(sum(CAST(d AS HUGEINT)) AS HUGEINT) AS sd,
         CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd,
         CAST(sum(CAST(p AS HUGEINT) * q) AS HUGEINT) AS spq,
         CAST(sum(CAST(p AS HUGEINT) * d) AS HUGEINT) AS spd,
         CAST(sum(CAST(q AS HUGEINT) * d) AS HUGEINT) AS sqd
  FROM v
),
r AS (
  SELECT n,
    (CAST(n AS DOUBLE) * spq - CAST(sp AS DOUBLE) * sq)
      / sqrt((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
             * (CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)) AS rpq,
    (CAST(n AS DOUBLE) * spd - CAST(sp AS DOUBLE) * sd)
      / sqrt((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
             * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)) AS rpd,
    (CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd)
      / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
             * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)) AS rqd
  FROM s
)
SELECT n, round(rpq, 6) AS r_pq, round(rpd, 6) AS r_pd, round(rqd, 6) AS r_qd,
       round((rpq - rpd * rqd) / sqrt((1 - rpd * rpd) * (1 - rqd * rqd)), 6)
         AS r_pq_given_d
FROM r
""",
    description="First-order partial correlation of price and quantity "
    "CONTROLLING for discount: r_pq.d = (r_pq − r_pd·r_qd)/√((1−r_pd²)"
    "(1−r_qd²)) — the confound check the raw correlation matrix "
    "(lineitem_corr_matrix) can't make (a discount driving both "
    "variables fakes a price↔qty link). All three pairwise r's assemble "
    "from ONE aggregate of exact 128-bit power sums over (p, q, d) "
    "micros; the partial is a closed form over those three doubles. "
    "One scan, 10-number reduce state.",
    tags=("statistics", "drift", "mlprep"),
)
def q_price_qty_partial_corr(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 1e6, 0).cast("long").alias("p"),
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 1e6, 0).cast("long").alias("d"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("q")).alias("sq"),
        F.sum(dec("d")).alias("sd"),
        F.sum(dec("p") * F.col("p")).alias("spp"),
        F.sum(dec("q") * F.col("q")).alias("sqq"),
        F.sum(dec("d") * F.col("d")).alias("sdd"),
        F.sum(dec("p") * F.col("q")).alias("spq"),
        F.sum(dec("p") * F.col("d")).alias("spd"),
        F.sum(dec("q") * F.col("d")).alias("sqd"),
    )
    n = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb).cast("double")) / F.sqrt(
            (n * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (n * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )

    r = s.select(
        "n",
        corr("spq", "sp", "sq", "spp", "sqq").alias("rpq"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("rpd"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("rqd"),
    )
    return r.select(
        "n",
        F.round("rpq", 6).alias("r_pq"),
        F.round("rpd", 6).alias("r_pd"),
        F.round("rqd", 6).alias("r_qd"),
        F.round(
            (F.col("rpq") - F.col("rpd") * F.col("rqd"))
            / F.sqrt(
                (1 - F.col("rpd") * F.col("rpd")) * (1 - F.col("rqd") * F.col("rqd"))
            ),
            6,
        ).alias("r_pq_given_d"),
    )


# --- Durbin-Watson residual autocorrelation ----------------------------------


@register(
    "hourly_value_durbin_watson",
    oracle="""
WITH h AS (
  SELECT CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00',
                       date_trunc('hour', ts)) AS BIGINT) AS x,
         CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM h
),
fit AS (
  SELECT n, CAST(sx AS DOUBLE) / n AS xbar, CAST(sy AS DOUBLE) / n AS ybar,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope
  FROM s
),
e AS (
  SELECT h.x,
         CAST(round(h.y - (f.ybar + f.slope * (h.x - f.xbar)), 0) AS BIGINT)
           AS em
  FROM h CROSS JOIN fit f
),
d AS (
  SELECT em,
         lag(em) OVER (ORDER BY x) AS ep
  FROM e
),
agg AS (
  SELECT CAST(sum(CAST(em AS HUGEINT) * em) AS HUGEINT) AS se2,
         CAST(sum(CASE WHEN ep IS NOT NULL
                       THEN CAST(em - ep AS HUGEINT) * (em - ep) END)
              AS HUGEINT) AS sd2
  FROM d
)
SELECT (SELECT n FROM fit) AS n,
       round(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE), 6) AS dw
FROM agg
""",
    description="Durbin-Watson statistic of the hourly-revenue-vs-time "
    "OLS residuals — the serial-correlation diagnostic that says whether "
    "the regression the Chow/Cook queries examine can be trusted at all "
    "(DW≈2 independent; <2 positive autocorrelation → understated "
    "errors). Run on the HOURLY aggregate series (time-bounded) so the "
    "global order is series-scale, never corpus-scale; residuals round "
    "to integer micros per row BEFORE the two quadratic sums, which "
    "then accumulate as 128-bit integers — merge-order-proof — and DW "
    "is one final division.",
    tags=("statistics", "drift", "timeseries", "events"),
)
def q_hourly_value_durbin_watson(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))"
        ).cast("long").alias("x")
    ).agg(F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    fit = s.select(
        "n",
        (F.col("sx").cast("double") / nd).alias("xbar"),
        (F.col("sy").cast("double") / nd).alias("ybar"),
        (
            (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        ).alias("slope"),
    )
    e = h.crossJoin(F.broadcast(fit)).select(
        "x",
        F.round(
            F.col("y") - (F.col("ybar") + F.col("slope") * (F.col("x") - F.col("xbar"))),
            0,
        ).cast("long").alias("em"),
        F.col("n"),
    )
    d = e.select(
        "n", "em", F.lag("em").over(Window.orderBy("x")).alias("ep")
    )
    agg = d.groupBy("n").agg(
        F.sum(F.col("em").cast("decimal(38,0)") * F.col("em")).alias("se2"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("em") - F.col("ep")).cast("decimal(38,0)")
                * (F.col("em") - F.col("ep")),
            )
        ).alias("sd2"),
    )
    return agg.select(
        "n",
        F.round(F.col("sd2").cast("double") / F.col("se2").cast("double"), 6).alias("dw"),
    )


# --- Jarque-Bera normality screen --------------------------------------------


@register(
    "value_jarque_bera",
    oracle="""
WITH v AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
         CAST(sum(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS s3,
         CAST(sum(CAST(c AS HUGEINT) * c * c * c) AS HUGEINT) AS s4
  FROM v
),
m AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n AS m2,
         CAST(s3 AS DOUBLE) / n AS m3,
         CAST(s4 AS DOUBLE) / n AS m4
  FROM s
),
c AS (
  SELECT n,
         m2 - m1 * m1 AS mu2,
         m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS mu3,
         m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1 AS mu4
  FROM m
)
SELECT n,
       round(mu3 / sqrt(mu2 * mu2 * mu2), 6) AS skewness,
       round(mu4 / (mu2 * mu2) - 3, 6) AS excess_kurtosis,
       round(CAST(n AS DOUBLE) / 6
             * ((mu3 / sqrt(mu2 * mu2 * mu2)) * (mu3 / sqrt(mu2 * mu2 * mu2))
                + (mu4 / (mu2 * mu2) - 3) * (mu4 / (mu2 * mu2) - 3) / 4), 6)
         AS jb_stat
FROM c
""",
    description="Jarque-Bera normality screen of event value: skewness "
    "and excess kurtosis from exact integer CENTI-unit power sums (the "
    "fixture's values are 2dp, so c = round(100·v) is exact and c⁴ "
    "stays within 128-bit range where micro⁴ would overflow), central "
    "moments by the raw→central identities, JB = n/6(S² + K²/4) as one "
    "closed form. Says whether the Welch/z machinery's normal "
    "assumptions hold or the rank tests should be read instead. One "
    "scan, 5-number reduce state.",
    tags=("statistics", "drift", "events"),
)
def q_value_jarque_bera(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.round(F.col("value") * 100, 0).cast("long").alias("c"))
    dec = F.col("c").cast("decimal(38,0)")
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * F.col("c")).alias("s2"),
        F.sum(dec * F.col("c") * F.col("c")).alias("s3"),
        F.sum(dec * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    n = F.col("n")
    m = s.select(
        "n",
        *[
            (F.col(f"s{k}").cast("double") / n).alias(f"m{k}")
            for k in (1, 2, 3, 4)
        ],
    )
    m1 = F.col("m1")
    c = m.select(
        "n",
        (F.col("m2") - m1 * m1).alias("mu2"),
        (F.col("m3") - 3 * m1 * F.col("m2") + 2 * m1 * m1 * m1).alias("mu3"),
        (
            F.col("m4")
            - 4 * m1 * F.col("m3")
            + 6 * m1 * m1 * F.col("m2")
            - 3 * m1 * m1 * m1 * m1
        ).alias("mu4"),
    )
    skew = F.col("mu3") / F.sqrt(F.col("mu2") * F.col("mu2") * F.col("mu2"))
    exk = F.col("mu4") / (F.col("mu2") * F.col("mu2")) - 3
    return c.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(F.col("n").cast("double") / 6 * (skew * skew + exk * exk / 4), 6).alias(
            "jb_stat"
        ),
    )


# --- Breusch-Pagan heteroscedasticity test -----------------------------------


@register(
    "hourly_value_breusch_pagan",
    oracle="""
WITH h AS (
  SELECT CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00',
                       date_trunc('hour', ts)) AS BIGINT) AS x,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM h
),
fit AS (
  SELECT n, CAST(sx AS DOUBLE) / n AS xbar, CAST(sy AS DOUBLE) / n AS ybar,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope
  FROM s
),
e AS (
  SELECT h.x,
         CAST(round(h.y - (f.ybar + f.slope * (h.x - f.xbar)), 0) AS BIGINT)
           AS ec
  FROM h CROSS JOIN fit f
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(ec AS HUGEINT) * ec) AS HUGEINT) AS su,
         CAST(sum(CAST(ec AS HUGEINT) * ec * ec * ec) AS HUGEINT) AS suu,
         CAST(sum(CAST(x AS HUGEINT) * ec * ec) AS HUGEINT) AS sxu
  FROM e
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                   - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
             * n, 6) AS bp_lm
FROM g
""",
    description="Breusch-Pagan heteroscedasticity LM statistic for the "
    "hourly value~time OLS: regress squared residuals on x, LM = n·R² "
    "(R² of e² on x expanded as the squared Pearson correlation — one "
    "closed form over exact integer power sums of (x, e², e⁴)). "
    "Completes the regression-diagnostic triple (Durbin-Watson: serial "
    "correlation; Jarque-Bera: normality; this: variance stability — "
    "rising-variance drift is invisible to mean-based monitors). "
    "Residuals round to CENTI units per row so e⁴ stays inside 128-bit "
    "range; series-scale work after one corpus aggregate.",
    tags=("statistics", "drift", "timeseries", "events"),
)
def q_hourly_value_breusch_pagan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))"
        ).cast("long").alias("x")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    fit = s.select(
        "n",
        (F.col("sx").cast("double") / nd).alias("xbar"),
        (F.col("sy").cast("double") / nd).alias("ybar"),
        (
            (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        ).alias("slope"),
    )
    e = h.crossJoin(F.broadcast(fit)).select(
        "x",
        F.round(
            F.col("y") - (F.col("ybar") + F.col("slope") * (F.col("x") - F.col("xbar"))),
            0,
        ).cast("long").alias("ec"),
    )
    g = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("ec") * F.col("ec")).alias("su"),
        F.sum(dec("ec") * F.col("ec") * F.col("ec") * F.col("ec")).alias("suu"),
        F.sum(dec("x") * F.col("ec") * F.col("ec")).alias("sxu"),
    )
    nD = F.col("n").cast("double")
    num = nD * F.col("sxu").cast("double") - F.col("sx").cast("double") * F.col("su").cast("double")
    den = (
        nD * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * (
        nD * F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su").cast("double")
    )
    return g.select(
        "n",
        F.round(num * num / den * F.col("n"), 6).alias("bp_lm"),
    )


# --- difference-in-differences -----------------------------------------------


@register(
    "value_did_estimate",
    oracle=f"""
WITH v AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS grp,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS period,
         CAST(round(value * 1000000, 0) AS BIGINT) AS vm
  FROM events
),
s AS (
  SELECT grp, period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(vm AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS s2
  FROM v GROUP BY 1, 2
),
m AS (
  SELECT grp, period, n,
         CAST(s1 AS DOUBLE) / n AS mean,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / n
           AS mvar
  FROM s
),
wide AS (
  SELECT
    max(CASE WHEN grp = 0 AND period = 0 THEN mean END) AS m00,
    max(CASE WHEN grp = 0 AND period = 1 THEN mean END) AS m01,
    max(CASE WHEN grp = 1 AND period = 0 THEN mean END) AS m10,
    max(CASE WHEN grp = 1 AND period = 1 THEN mean END) AS m11,
    max(CASE WHEN grp = 0 AND period = 0 THEN mvar END) AS v00,
    max(CASE WHEN grp = 0 AND period = 1 THEN mvar END) AS v01,
    max(CASE WHEN grp = 1 AND period = 0 THEN mvar END) AS v10,
    max(CASE WHEN grp = 1 AND period = 1 THEN mvar END) AS v11,
    CAST(sum(n) AS BIGINT) AS n
  FROM m
)
SELECT n,
       round(((m11 - m10) - (m01 - m00)) / 1000000, 6) AS did,
       round(((m11 - m10) - (m01 - m00))
             / sqrt(v00 + v01 + v10 + v11), 6) AS did_z
FROM wide
""",
    description="Difference-in-differences estimate of the treatment "
    "(user_id%2) effect across the split: DID = (m₁₁−m₁₀)−(m₀₁−m₀₀) "
    "with its z from the four group mean-variances — the causal "
    "counterfactual frame the raw pre/post Welch t can't give (it "
    "conflates the time trend with the treatment). Event-level "
    "(docstring: production adds user-level clustering of errors); one "
    "4-row aggregate of exact integer power sums, one closed form.",
    tags=("statistics", "drift", "events"),
)
def q_value_did_estimate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 0)
        .otherwise(1)
        .alias("period"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("vm"),
    )
    s = v.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vm").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias("s2"),
    )
    m = s.select(
        "grp",
        "period",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        (
            (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("mvar"),
    )
    conds = {
        f"{a}{g}{p}": F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col(c))
        )
        for (a, c) in (("m", "mean"), ("v", "mvar"))
        for g in (0, 1)
        for p in (0, 1)
    }
    wide = m.agg(
        *[expr.alias(k) for k, expr in conds.items()],
        F.sum("n").cast("long").alias("n"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    return wide.select(
        "n",
        F.round(did / 1e6, 6).alias("did"),
        F.round(
            did / F.sqrt(F.col("v00") + F.col("v01") + F.col("v10") + F.col("v11")),
            6,
        ).alias("did_z"),
    )


# --- CUPED variance reduction ------------------------------------------------


@register(
    "user_value_cuped",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}'
                   THEN CAST(round(value * 1000000, 0) AS BIGINT) END), 0)
              AS BIGINT) AS x,
         CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}'
                   THEN CAST(round(value * 1000000, 0) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM u
),
c AS (
  SELECT n,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
  FROM s
)
SELECT n,
       round(cxy / cxx, 6) AS theta,
       round(cyy / (n - 1) / 1e12, 6) AS var_y_t2,
       round((cyy - cxy * cxy / cxx) / (n - 1) / 1e12, 6) AS var_y_adj_t2,
       round(cxy * cxy / (cxx * cyy), 6) AS var_reduction
FROM c
""",
    description="CUPED variance reduction for the post-split per-user "
    "value metric using the pre-split period as covariate: θ = "
    "cov(Y,X)/var(X), adjusted Yᵢ−θ(Xᵢ−X̄), variance falls by exactly "
    "r² — the industry-standard experiment-sensitivity booster (same "
    "experiment, tighter CI, no extra traffic). Per-user (X, Y) come "
    "from ONE conditional aggregate (zero-filled for one-sided users, "
    "mirrored in the oracle), the five power sums are 128-bit exact, "
    "every reported float is one shared closed form (variances in "
    "trillions — micro² scale).",
    tags=("statistics", "drift", "mlprep", "events"),
)
def q_user_value_cuped(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1e6, 0).cast("long")
    split = F.lit(_PSI_SPLIT).cast("timestamp_ntz")
    u = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < split, vm)), F.lit(0))
        .cast("long")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= split, vm)), F.lit(0))
        .cast("long")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    c = s.select(
        "n",
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("cxx"),
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("cxy"),
        (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("cyy"),
    )
    return c.select(
        "n",
        F.round(F.col("cxy") / F.col("cxx"), 6).alias("theta"),
        F.round(F.col("cyy") / (F.col("n") - 1) / 1e12, 6).alias("var_y_t2"),
        F.round(
            (F.col("cyy") - F.col("cxy") * F.col("cxy") / F.col("cxx"))
            / (F.col("n") - 1)
            / 1e12,
            6,
        ).alias("var_y_adj_t2"),
        F.round(
            F.col("cxy") * F.col("cxy") / (F.col("cxx") * F.col("cyy")), 6
        ).alias("var_reduction"),
    )


# --- experiment guardrails: SRM and MDE --------------------------------------


@register(
    "ab_assignment_srm",
    oracle="""
WITH g AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS grp,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n
  FROM events GROUP BY 1
),
wide AS (
  SELECT max(CASE WHEN grp = 0 THEN n END) AS n0,
         max(CASE WHEN grp = 1 THEN n END) AS n1
  FROM g
)
SELECT n0, n1,
       round((CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
             * (CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
             / (CAST(n0 + n1 AS DOUBLE) / 2)
             + (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
               * (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
               / (CAST(n0 + n1 AS DOUBLE) / 2), 6) AS srm_chi2,
       abs(CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
           / sqrt(CAST(n0 + n1 AS DOUBLE) / 4) > 3.719016 AS srm_alarm
FROM wide
""",
    description="Sample-ratio-mismatch guardrail for the user_id%2 "
    "assignment: 1-df chi-squared of observed group sizes against the "
    "designed 50/50, alarming at |z| > 3.719 (p < 1e-4, the industry "
    "SRM threshold — assignment bugs invalidate EVERY downstream "
    "readout, so the gate runs before any effect estimate is read). "
    "Distinct-user counts per arm, one closed form; the alarm compares "
    "against a shared literal, no inverse-CDF needed.",
    tags=("statistics", "drift", "events", "quality"),
)
def q_ab_assignment_srm(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy((F.col("user_id") % 2).cast("long").alias("grp")).agg(
        F.count_distinct("user_id").cast("long").alias("n")
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
    )
    tot2 = (F.col("n0") + F.col("n1")).cast("double") / 2
    d0 = F.col("n0").cast("double") - tot2
    d1 = F.col("n1").cast("double") - tot2
    return wide.select(
        "n0",
        "n1",
        F.round(d0 * d0 / tot2 + d1 * d1 / tot2, 6).alias("srm_chi2"),
        (
            F.abs(d0) / F.sqrt((F.col("n0") + F.col("n1")).cast("double") / 4)
            > 3.719016
        ).alias("srm_alarm"),
    )


@register(
    "ab_conversion_mde",
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
  SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY grp
),
wide AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(conv) AS BIGINT) AS conv,
         max(CASE WHEN grp = 0 THEN n END) AS n0,
         max(CASE WHEN grp = 1 THEN n END) AS n1
  FROM g
)
SELECT n, round(CAST(conv AS DOUBLE) / n, 6) AS pooled_rate,
       round((1.959964 + 0.841621)
             * sqrt(CAST(conv AS DOUBLE) / n * (1 - CAST(conv AS DOUBLE) / n)
                    * (1.0 / n0 + 1.0 / n1)), 6) AS mde_abs
FROM wide
""",
    description="Minimum detectable effect (80% power, two-sided 5%) of "
    "the conversion A/B at its CURRENT sample sizes: MDE = "
    "(z₀.₉₇₅+z₀.₈)·√(p̄(1−p̄)(1/n₀+1/n₁)) — the pre-readout power check "
    "(an observed lift below the MDE is noise regardless of its "
    "p-value). z constants are shared literals (no inverse normal CDF "
    "in either engine); same per-user reduction as the z-test/odds "
    "queries, one closed form.",
    tags=("statistics", "drift", "events"),
)
def q_ab_conversion_mde(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("fs"),
        )
        .filter(F.col("fs").isNotNull())
        .select(
            (F.col("user_id") % 2).cast("long").alias("grp"),
            F.when(F.col("fp") > F.col("fs"), 1).otherwise(0).cast("long").alias("converted"),
        )
    )
    g = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = g.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("conv").cast("long").alias("conv"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
    )
    p = F.col("conv").cast("double") / F.col("n")
    return wide.select(
        "n",
        F.round(p, 6).alias("pooled_rate"),
        F.round(
            (F.lit(1.959964) + F.lit(0.841621))
            * F.sqrt(p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
            6,
        ).alias("mde_abs"),
    )


# --- categorical composition drift -------------------------------------------


@register(
    "event_type_share_drift",
    oracle=f"""
WITH c AS (
  SELECT event_type,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cur
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref, CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM c
)
SELECT event_type, n_ref, n_cur,
       round(CAST(n_ref AS DOUBLE) / t_ref, 6) AS share_ref,
       round(CAST(n_cur AS DOUBLE) / t_cur, 6) AS share_cur,
       round((CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
             / sqrt((CAST(n_ref + n_cur AS DOUBLE) / (t_ref + t_cur))
                    * (1 - CAST(n_ref + n_cur AS DOUBLE) / (t_ref + t_cur))
                    * (1.0 / t_ref + 1.0 / t_cur)), 6) AS share_z
FROM c CROSS JOIN tot
""",
    description="Categorical composition drift across the split: each "
    "event type's share before/after with a pooled two-proportion z per "
    "category — the CATEGORICAL sibling of the numeric drift family "
    "(PSI/W1/KS bin values; this asks whether the event MIX moved, "
    "which value-distribution monitors can't see). One conditional "
    "aggregate over (type, window), margins broadcast, shared closed "
    "form per row.",
    tags=("statistics", "drift", "events"),
)
def q_event_type_share_drift(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_PSI_SPLIT).cast("timestamp_ntz")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    tot = c.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    sr = F.col("n_ref").cast("double") / F.col("t_ref")
    sc = F.col("n_cur").cast("double") / F.col("t_cur")
    pp = (F.col("n_ref") + F.col("n_cur")).cast("double") / (
        F.col("t_ref") + F.col("t_cur")
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round(sr, 6).alias("share_ref"),
        F.round(sc, 6).alias("share_cur"),
        F.round(
            (sc - sr)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("t_ref") + 1.0 / F.col("t_cur"))),
            6,
        ).alias("share_z"),
    )


# --- sequential probability ratio test ---------------------------------------

_SPRT_P0 = 0.30  # H0 conversion rate (design assumption)
_SPRT_P1 = 0.36  # H1: 20% relative lift
_SPRT_A = 2.944439  # ln((1-β)/α) = ln(0.95/0.05) — accept H1
_SPRT_B = -2.944439  # ln(β/(1-α)) — accept H0


@register(
    "ab_conversion_sprt",
    oracle=f"""
WITH assigned AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup') AS signup_ts,
         CASE WHEN min(ts) FILTER (WHERE event_type = 'purchase')
                   > min(ts) FILTER (WHERE event_type = 'signup')
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
  HAVING min(ts) FILTER (WHERE event_type = 'signup') IS NOT NULL
),
walk AS (
  SELECT signup_ts, user_id,
         CAST(sum(CAST(round(
           CASE WHEN converted = 1
                THEN ln({_SPRT_P1} / {_SPRT_P0})
                ELSE ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})) END * 1000000, 0)
           AS BIGINT)) OVER (ORDER BY signup_ts, user_id) AS BIGINT) AS llr_micro,
         CAST(row_number() OVER (ORDER BY signup_ts, user_id) AS BIGINT) AS n
  FROM assigned
),
crossing AS (
  SELECT min(n) AS n_decide FROM walk
  WHERE llr_micro >= {int(_SPRT_A * 1e6)} OR llr_micro <= {int(_SPRT_B * 1e6)}
),
final AS (SELECT llr_micro, n FROM walk ORDER BY n DESC LIMIT 1)
SELECT f.n AS n_total,
       CAST(CAST(f.llr_micro AS DECIMAL(24,6)) / 1000000 AS DOUBLE) AS final_llr,
       c.n_decide,
       CASE WHEN c.n_decide IS NULL THEN 'continue'
            WHEN (SELECT llr_micro FROM walk WHERE n = c.n_decide)
                 >= {int(_SPRT_A * 1e6)} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM final f CROSS JOIN crossing c
""",
    description="Wald SPRT over the signup-ordered conversion stream "
    "(H0: p=0.30 vs H1: p=0.36, α=β=0.05): the cumulative log-likelihood "
    "walk with its first boundary crossing — the sequential-monitoring "
    "answer to PEEKING (fixed-horizon z-tests inflate false positives "
    "when read early; SPRT boundaries are always-valid). Per-user LLR "
    "increments are two CONSTANTS rounded to integer micros, so the "
    "walk is an exact integer cumulative sum and the crossing index is "
    "engine-independent; the walk is a total-order window over the "
    "signup sequence (time-bounded user stream — the same scale posture "
    "as the series queries).",
    tags=("statistics", "drift", "events"),
)
def q_ab_conversion_sprt(spark, sf_dir):
    import math

    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
        )
        .filter(F.col("signup_ts").isNotNull())
        .select(
            "user_id",
            "signup_ts",
            F.when(F.col("fp") > F.col("signup_ts"), 1).otherwise(0).alias("converted"),
        )
    )
    inc_1 = int(round(math.log(_SPRT_P1 / _SPRT_P0) * 1e6))
    inc_0 = int(round(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e6))
    w = Window.orderBy("signup_ts", "user_id")
    walk = assigned.select(
        F.sum(
            F.when(F.col("converted") == 1, inc_1).otherwise(inc_0)
        )
        .over(w)
        .cast("long")
        .alias("llr_micro"),
        F.row_number().over(w).cast("long").alias("n"),
    )
    # walk feeds three subtrees (crossing, final, decide_val); cache scoped
    # to the returned plan so repeated invocations in a long-lived session
    # don't accumulate cached blocks (dedup-family discipline)
    walk = lifetime.persist(walk)
    a_mi, b_mi = int(_SPRT_A * 1e6), int(_SPRT_B * 1e6)
    crossing = walk.filter(
        (F.col("llr_micro") >= a_mi) | (F.col("llr_micro") <= b_mi)
    ).agg(F.min("n").alias("n_decide"))
    final = walk.orderBy(F.col("n").desc()).limit(1)
    decide_val = (
        walk.join(crossing, walk.n == crossing.n_decide)
        .select(F.col("llr_micro").alias("dv"))
    )
    out = (
        final.crossJoin(F.broadcast(crossing))
        .join(F.broadcast(decide_val), F.lit(True), "left")
        .select(
            F.col("n").alias("n_total"),
            (F.col("llr_micro").cast("decimal(24,6)") / 1000000)
            .cast("double")
            .alias("final_llr"),
            "n_decide",
            F.when(F.col("n_decide").isNull(), "continue")
            .when(F.col("dv") >= a_mi, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    return out


# --- group-sequential monitoring (O'Brien-Fleming) ---------------------------

# b_k = 2.04·√(K/k) for K=5 looks, two-sided α≈0.05 — the OBF shape: nearly
# unspendable early boundaries, full-strength final look. Literal doubles,
# identical in both engines.
_OBF_BOUNDS = [4.561579, 3.225523, 2.633629, 2.280789, 2.04]


@register(
    "ab_conversion_group_sequential",
    oracle=f"""
WITH assigned AS (
  SELECT user_id, user_id % 2 AS variant,
         min(ts) FILTER (WHERE event_type = 'signup') AS signup_ts,
         CASE WHEN min(ts) FILTER (WHERE event_type = 'purchase')
                   > min(ts) FILTER (WHERE event_type = 'signup')
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
  HAVING min(ts) FILTER (WHERE event_type = 'signup') IS NOT NULL
),
ranked AS (
  SELECT variant, converted,
         row_number() OVER (ORDER BY signup_ts, user_id) AS rn,
         count(*) OVER () AS n_total
  FROM assigned
),
looks AS (
  SELECT CAST(((rn - 1) * 5) // n_total + 1 AS BIGINT) AS look,
         variant, converted
  FROM ranked
),
per_look AS (
  SELECT look,
         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_i,
         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS ca_i,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb_i,
         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS cb_i
  FROM looks GROUP BY 1
),
cum AS (
  SELECT look,
         CAST(sum(na_i) OVER w AS BIGINT) AS na,
         CAST(sum(ca_i) OVER w AS BIGINT) AS ca,
         CAST(sum(nb_i) OVER w AS BIGINT) AS nb,
         CAST(sum(cb_i) OVER w AS BIGINT) AS cb
  FROM per_look
  WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT look, na, ca, nb, cb,
         round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
               / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                      * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                      * (1.0 / na + 1.0 / nb)), 6) AS z,
         CASE look {" ".join(f"WHEN {k + 1} THEN {b}" for k, b in enumerate(_OBF_BOUNDS))} END AS boundary
  FROM cum
)
SELECT look, na, ca, nb, cb, z, boundary,
       CAST(CASE WHEN abs(z) >= boundary THEN 1 ELSE 0 END AS BIGINT)
         AS crossed
FROM scored
""",
    description="O'Brien-Fleming group-sequential monitoring of the A/B "
    "conversion stream (K=5 equal-information looks, two-sided α≈0.05): "
    "per look, the cumulative two-proportion z against the OBF boundary "
    "2.04·√(K/k) — nearly unspendable early, full-strength at the final "
    "look; the scheduled-peeking complement to ab_conversion_sprt's "
    "continuous walk. Look assignment is an exact integer rank bucket, "
    "all counts are exact integer cumulative sums over a 5-row window, "
    "and z/boundary are identical double expressions in both engines — "
    "full oracle. Corpus work is one per-user aggregate + one "
    "rank window (time-bounded user stream); the look grid is 5 rows.",
    tags=("statistics", "drift", "events"),
)
def q_ab_conversion_group_sequential(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "signup_ts"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("purchase_ts"),
        )
        .filter(F.col("signup_ts").isNotNull())
        .select(
            "user_id",
            (F.col("user_id") % 2).alias("variant"),
            "signup_ts",
            F.when(
                F.col("purchase_ts") > F.col("signup_ts"), 1
            ).otherwise(0).alias("converted"),
        )
    )
    wr = Window.orderBy("signup_ts", "user_id")
    wn = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    looks = assigned.select(
        "variant",
        "converted",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_total"),
    ).select(
        (F.expr("((rn - 1) * 5) DIV n_total") + 1).cast("long").alias("look"),
        "variant",
        "converted",
    )
    per_look = looks.groupBy("look").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("na_i"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("ca_i"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("nb_i"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("cb_i"),
    )
    wc = Window.orderBy("look").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_look.select(
        "look",
        F.sum("na_i").over(wc).cast("long").alias("na"),
        F.sum("ca_i").over(wc).cast("long").alias("ca"),
        F.sum("nb_i").over(wc).cast("long").alias("nb"),
        F.sum("cb_i").over(wc).cast("long").alias("cb"),
    )
    p_pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = F.round(
        (
            F.col("ca").cast("double") / F.col("na")
            - F.col("cb").cast("double") / F.col("nb")
        )
        / F.sqrt(
            p_pool * (1 - p_pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        ),
        6,
    )
    boundary = F.element_at(
        F.array(*[F.lit(b) for b in _OBF_BOUNDS]), F.col("look").cast("int")
    )
    return cum.select(
        "look",
        "na",
        "ca",
        "nb",
        "cb",
        z.alias("z"),
        boundary.alias("boundary"),
        F.when(F.abs(z) >= boundary, 1).otherwise(0).cast("long").alias("crossed"),
    )


# --- embedding-space distribution drift --------------------------------------


@register(
    "embedding_distribution_drift",
    oracle="""
WITH ex AS (
  SELECT CAST(vec_id % 2 AS BIGINT) AS grp,
         CAST(s.ord AS BIGINT) AS dim,
         CAST(round(CAST(s.val AS DOUBLE) * 1000000) AS BIGINT) AS m
  FROM (
    SELECT vec_id,
           unnest(list_transform(embedding,
                                 (x, i) -> {'ord': i, 'val': x})) AS s
    FROM embeddings
  )
),
wide AS (
  SELECT dim,
         CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_ref,
         CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_new,
         CAST(sum(m) FILTER (WHERE grp = 0) AS BIGINT) AS s_r,
         CAST(sum(m * m) FILTER (WHERE grp = 0) AS BIGINT) AS q_r,
         CAST(sum(m) FILTER (WHERE grp = 1) AS BIGINT) AS s_c,
         CAST(sum(m * m) FILTER (WHERE grp = 1) AS BIGINT) AS q_c
  FROM ex GROUP BY 1
)
SELECT dim, n_ref, n_new,
       round(s_r * 1.0 / n_ref / 1000000.0, 6) AS mean_ref,
       round(s_c * 1.0 / n_new / 1000000.0, 6) AS mean_new,
       round((s_c * 1.0 / n_new - s_r * 1.0 / n_ref) / 1000000.0, 6)
         AS mean_shift,
       round(ln(((q_c - s_c * 1.0 * s_c / n_new) / n_new)
                / ((q_r - s_r * 1.0 * s_r / n_ref) / n_ref)), 4)
         AS var_log_ratio
FROM wide
""",
    description="Embedding-space drift monitor: per-dimension mean shift "
    "and variance log-ratio between the reference half of the corpus "
    "(even vec_id — yesterday's crawl) and the candidate half (odd — "
    "today's). THE continuous-ingest guard the lexical drift family "
    "(PSI/W1/JS) can't provide: a new crawl whose token stats look "
    "fine can still move in embedding space (encoder version bump, "
    "upstream content shift), silently invalidating ANN centroids, "
    "SemDeDup thresholds, and classifier calibrations downstream. One "
    "posexplode pass -> ONE conditional integer-micro moment agg "
    "keyed by dim (single shuffle, map-combined) "
    "(the embedding micro convention), all ratios formed once from "
    "identical BIGINTs and rounded at the edge; output is "
    "dimension-scale (64 rows), corpus never re-shuffles. Full oracle.",
    tags=("drift", "embeddings", "llm"),
)
def q_embedding_distribution_drift(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.pmod(F.col("vec_id"), F.lit(2)).cast("long").alias("grp"),
        F.posexplode(F.col("embedding")).alias("dim0", "v"),
    ).select(
        "grp",
        (F.col("dim0") + 1).cast("long").alias("dim"),  # 1-based like SQL
        F.round(F.col("v").cast("double") * 1000000)
        .cast("long")
        .alias("m"),
    )
    # ONE conditional aggregation keyed by dim (a two-branch agg+self-join
    # would scan and explode the corpus twice); single shuffle, map-combined
    ref = F.col("grp") == 0
    new = F.col("grp") == 1
    wide = ex.groupBy("dim").agg(
        F.sum(ref.cast("long")).alias("n_ref"),
        F.sum(new.cast("long")).alias("n_new"),
        F.sum(F.when(ref, F.col("m"))).alias("s_r"),
        F.sum(F.when(ref, F.col("m") * F.col("m"))).alias("q_r"),
        F.sum(F.when(new, F.col("m"))).alias("s_c"),
        F.sum(F.when(new, F.col("m") * F.col("m"))).alias("q_c"),
    )
    return wide.select(
        "dim",
        "n_ref",
        "n_new",
        F.round(F.col("s_r") * 1.0 / F.col("n_ref") / 1000000.0, 6).alias(
            "mean_ref"
        ),
        F.round(F.col("s_c") * 1.0 / F.col("n_new") / 1000000.0, 6).alias(
            "mean_new"
        ),
        F.round(
            (F.col("s_c") * 1.0 / F.col("n_new")
             - F.col("s_r") * 1.0 / F.col("n_ref"))
            / 1000000.0,
            6,
        ).alias("mean_shift"),
        F.round(
            F.log(
                ((F.col("q_c") - F.col("s_c") * 1.0 * F.col("s_c") / F.col("n_new"))
                 / F.col("n_new"))
                / ((F.col("q_r") - F.col("s_r") * 1.0 * F.col("s_r") / F.col("n_ref"))
                   / F.col("n_ref"))
            ),
            4,
        ).alias("var_log_ratio"),
    )
