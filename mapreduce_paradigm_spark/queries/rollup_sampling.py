"""Round-3 batch 6: hierarchical time rollups + weighted sampling.

``events_multigrain_rollup`` is the hypertable/continuous-aggregate
pattern: coarse grains are RE-AGGREGATED from the next-finer grain (day
from hour from minute), never from raw data — at 100 TB the raw stream is
read once and each further grain costs only the previous grain's row
count. The exact integer-micros representation rides the whole hierarchy,
so re-aggregation is bit-identical to direct aggregation (the oracle
computes every grain directly from raw events — the hash match IS the
reaggregation-correctness proof).

``weighted_sample_per_source`` is deterministic weighted sampling without
replacement (Efraimidis–Spirakis A-ES): key = u^(1/w) with u a stable
md5-derived uniform — same no-RNG-state / rerunnable posture as
``mixture_sample_by_source``, but weight-proportional.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- multi-grain rollup ------------------------------------------------------


@register(
    "events_multigrain_rollup",
    oracle="""
SELECT 'minute' AS grain, date_trunc('minute', ts) AS g,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val
FROM events GROUP BY 2
UNION ALL
SELECT 'hour', date_trunc('hour', ts), CAST(count(*) AS BIGINT),
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
FROM events GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', ts), CAST(count(*) AS BIGINT),
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
FROM events GROUP BY 2
""",
    description="Hierarchical multi-granularity rollup (the hypertable / "
    "continuous-aggregate pattern): minute aggregates come from raw "
    "events; hour aggregates RE-AGGREGATE the minute rows; day "
    "re-aggregates hour — raw data is scanned exactly once, each coarser "
    "grain costs only the finer grain's cardinality. Value sums stay in "
    "exact LONG micro-units through the whole hierarchy and convert to "
    "double once per output row, so sum-of-sums is bit-identical to a "
    "direct sum — the oracle aggregates every grain directly from raw "
    "events, making the hash match a proof of reaggregation "
    "correctness. (Plain double partial sums would NOT survive this "
    "test.) The same shape maintains streaming continuous aggregates "
    "via foreachBatch upserts.",
    bench=True,
    tags=("timeseries", "rollup", "events"),
)
def q_events_multigrain_rollup(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import _persist_if_input_ge

    ev = load_table(spark, sf_dir, "events")
    # minute feeds its own output branch AND the hour re-aggregation (which
    # in turn feeds day) — union branches are planned as independent
    # subtrees, so without the persists the raw events scan + minute
    # aggregation executes THREE times (round-12 before-plan: three
    # identical Scan→HashAggregate chains), contradicting the
    # scanned-exactly-once design this query demonstrates. Round 13: the
    # persist is SIZE-GATED — the driver's cold bench measured the r12
    # unconditional persist 0.84× (fixed cache-entry cost > megabytes of
    # page-cache re-scan at sf0.1); above the input floor the single-scan
    # design holds unchanged. minute is minute-cardinality, hour smaller
    # still — both bounded by time span, not data volume.
    minute = _persist_if_input_ge(
        ev.groupBy(F.date_trunc("minute", "ts").alias("g")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("micros"),
        ),
        ev,
    )
    hour = _persist_if_input_ge(
        minute.groupBy(F.date_trunc("hour", "g").alias("g")).agg(
            F.sum("n").alias("n"), F.sum("micros").alias("micros")
        ),
        ev,
    )
    day = hour.groupBy(F.date_trunc("day", "g").alias("g")).agg(
        F.sum("n").alias("n"), F.sum("micros").alias("micros")
    )

    def out(df, grain):
        return df.select(
            F.lit(grain).alias("grain"),
            "g",
            "n",
            (F.col("micros").cast("decimal(24,6)") / F.lit(1000000))
            .cast("double")
            .alias("val"),
        )

    return (
        out(minute, "minute").unionAll(out(hour, "hour")).unionAll(
            out(day, "day")
        )
    )


# --- weighted sampling (A-ES) ------------------------------------------------


@register(
    "weighted_sample_per_source",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         power(
           (CAST('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) + 1) / 4294967296.0,
           1.0 / n_chars
         ) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (
             PARTITION BY source ORDER BY k DESC, doc_id
         ) AS BIGINT) AS rk
  FROM keyed
)
SELECT source, doc_id, n_chars, rk FROM ranked WHERE rk <= 3
""",
    description="Weighted sampling without replacement (Efraimidis–"
    "Spirakis A-ES): per-item key u^(1/w) with weight w = n_chars and u "
    "a stable md5-derived uniform — the top-k keys per source ARE a "
    "weight-proportional sample, computed distributed with one window "
    "(or per-partition top-k at scale), no RNG state, identical on "
    "every rerun and cluster size. This is how a training pipeline "
    "over-samples long/high-quality documents reproducibly. The float "
    "key is ordering-only (never output), so cross-engine pow() ulp "
    "differences can only matter on exact key ties, which doc_id "
    "tie-breaking resolves identically.",
    tags=("llm", "sampling", "window"),
)
def q_weighted_sample_per_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.pow(u, 1.0 / F.col("n_chars")).alias("k"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", "n_chars", "rk")
    )


# --- Poisson bootstrap -------------------------------------------------------

_POIS_CDF = (
    (0.36787944117144233, 0),
    (0.7357588823428847, 1),
    (0.9196986029286058, 2),
    (0.9810118431238462, 3),
    (0.9963401531726563, 4),
    (0.9994058151824183, 5),
    (0.9999167588507119, 6),
)


@register(
    "totalprice_poisson_bootstrap_se",
    oracle="""
WITH reps AS (SELECT unnest(generate_series(0, 31)) AS b),
weighted AS (
  SELECT r.b,
         CAST(round(o.o_totalprice * 1000000, 0) AS BIGINT) AS vm,
         CAST('0x' || substr(md5('bs:' || CAST(o.o_orderkey AS VARCHAR)
                                 || ':' || CAST(r.b AS VARCHAR)), 1, 8)
              AS BIGINT) / 4294967296.0 AS u
  FROM orders o CROSS JOIN reps r
),
w AS (
  SELECT b, vm,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              WHEN u < 0.9994058151824183 THEN 5
              WHEN u < 0.9999167588507119 THEN 6
              ELSE 7 END AS wt
  FROM weighted
),
rep_means AS (
  SELECT b, CAST(sum(wt * vm) AS BIGINT) AS num, CAST(sum(wt) AS BIGINT) AS den
  FROM w GROUP BY b
),
folded AS (
  SELECT list(CAST(num AS DOUBLE) / den ORDER BY b) AS ms FROM rep_means
)
SELECT CAST(32 AS BIGINT) AS n_replicates,
       round(list_aggregate(ms, 'sum') / 32 / 1000000, 4) AS boot_mean,
       round(sqrt((list_sum(list_transform(ms, x -> x * x))
                   - list_aggregate(ms, 'sum') * list_aggregate(ms, 'sum') / 32)
                  / 31) / 1000000, 4) AS boot_se
FROM folded
""",
    description="Poisson bootstrap of the mean order price: replicate "
    "weights are Poisson(1) draws realized DETERMINISTICALLY by pushing "
    "a keyed md5 uniform through the inverse CDF (shared literal "
    "thresholds) — the distributed bootstrap that needs no sampling "
    "WITH replacement (impossible to coordinate across executors) and "
    "no RNG state: every (row, replicate) weight is a pure function of "
    "(orderkey, b), so the 32 replicate means are reproducible on any "
    "cluster and ride ONE grouped pass over the 32-fold fan-out. "
    "Replicate sums are exact integers (weight <= 7, micros values); "
    "the only float reduction — folding 32 replicate means into an SE "
    "— runs over a b-ORDERED array with a sequential fold on both "
    "engines, because a 32-value float sum in engine aggregation order "
    "is exactly the nondeterminism this registry bans.",
    tags=("sampling", "statistics", "bootstrap"),
)
def q_totalprice_poisson_bootstrap_se(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    reps = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    base = o.select(
        F.round(F.col("o_totalprice") * 1e6, 0).cast("long").alias("vm"),
        F.col("o_orderkey").cast("string").alias("okey"),
    ).select("vm", "okey", reps)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bs:"), F.col("okey"), F.lit(":"), F.col("b").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    wt = F.lit(7)
    for thr, k in reversed(_POIS_CDF):
        wt = F.when(u < F.lit(thr), F.lit(k)).otherwise(wt)
    rep = (
        base.select("b", "vm", wt.alias("wt"))
        .groupBy("b")
        .agg(F.sum(F.col("wt") * F.col("vm")).alias("num"), F.sum("wt").alias("den"))
    )
    folded = rep.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(b, CAST(num AS DOUBLE) / den AS m))), s -> s.m)"
        ).alias("ms")
    )
    s1 = F.expr("aggregate(ms, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    s2 = F.expr("aggregate(ms, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")
    return folded.select(
        F.lit(32).cast("long").alias("n_replicates"),
        F.round(s1 / 32 / 1e6, 4).alias("boot_mean"),
        F.round(F.sqrt((s2 - s1 * s1 / 32) / 31) / 1e6, 4).alias("boot_se"),
    )
