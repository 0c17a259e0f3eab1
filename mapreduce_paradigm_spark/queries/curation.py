"""Round-5 batch: corpus-curation operators a training-data pipeline runs
between raw ingest and tokenization — segment-level boilerplate removal
(the CCNet/C4 paragraph-hash step, distinct from the document-level dedup
tiers in ``operators/dedup.py``), temperature-scaled mixture shares (the
mT5/XLM-R alpha-sampling table), CMS inner-product join-size estimation
(Cormode & Muthukrishnan's count-min sketch, here doing the classic
join-cardinality estimate with its provable upper-bound contract), and
deterministic curriculum staging.

All four carry FULL DuckDB value-hash oracles: hashing is md5-derived and
arithmetic is exact-integer or explicitly rounded, computed identically in
both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# --- segment-level boilerplate removal ---------------------------------------

_SEG_W = 3  # tokens per segment ("pseudo-line" — the fixture has no newlines)
_DF_MIN = 3  # a segment repeated across >= this many docs is boilerplate


@register(
    "doc_segment_boilerplate",
    oracle=rf"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
  FROM documents
),
segs AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(a[(i*{_SEG_W}+1):(i*{_SEG_W}+{_SEG_W})], ' ') AS seg
  FROM arr, unnest(range(CAST(ceil(len(a) / {_SEG_W}.0) AS INT))) AS t(i)
),
df AS (
  SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS seg_df
  FROM segs GROUP BY 1
),
j AS (SELECT s.doc_id, s.pos, s.seg, d.seg_df FROM segs s JOIN df d USING (seg))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(*) FILTER (WHERE seg_df >= {_DF_MIN}) AS BIGINT) AS n_boiler,
       round(count(*) FILTER (WHERE seg_df >= {_DF_MIN}) * 1.0 / count(*), 4)
         AS boiler_frac,
       coalesce(string_agg(seg, ' ' ORDER BY pos)
                  FILTER (WHERE seg_df < {_DF_MIN}), '') AS clean_text
FROM j GROUP BY doc_id
""",
    description="Corpus-wide segment-level boilerplate removal (the "
    "paragraph-hash step of CCNet/C4-class web pipelines, and the line- "
    "level complement of the document-level dedup tiers): each document "
    f"is cut into consecutive {_SEG_W}-token segments, a segment present "
    f"in >= {_DF_MIN} distinct documents is boilerplate, and the output "
    "per doc is segment counts, the boilerplate fraction, and the "
    "reassembled clean text with flagged segments dropped (order "
    "preserved). Two corpus-scale exchanges, both key-partitioned on the "
    "segment hash — the inverted-index shape: the df aggregate "
    "map-combines per partition, and the flag join co-locates with it. "
    "At 100 TB the refinement is to materialize only the (small, "
    "df-filtered) boilerplate segment set and broadcast it as a semi- "
    "join mark when the flagged fraction is low; the full-df join here "
    "is the general form that also serves df-weighted variants. "
    "Reassembly is one per-doc sort of segment structs (array_sort of "
    "collect_list), never a global sort.",
    bench=True,
    tags=("llm", "quality", "dedup"),
)
def q_doc_segment_boilerplate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    # segs feeds BOTH the df aggregate and the flag join, so the tokenize
    # + segment explode executes once per consumer. A persist was
    # tried in round 12 and REVERTED on measurement — caching the exploded
    # segment-string stream cost more than the duplicated codegen pass it
    # saved (isolated A/B at sf0.1: ~1.9-2.1 s persisted vs ~1.2-1.5 s
    # recomputed; same class as duplicate_span_extraction).
    segs = (
        toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(toks)/{_SEG_W}.0) AS INT) - 1),"
                    f" i -> array_join(slice(toks, i*{_SEG_W}+1, {_SEG_W}), ' '))"
                )
            ).alias("pos", "seg"),
        ).select("doc_id", F.col("pos").cast("long").alias("pos"), "seg")
    )
    df = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").cast("long").alias("seg_df")
    )
    j = segs.join(df, "seg")
    boiler = F.col("seg_df") >= _DF_MIN
    return (
        j.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(boiler.cast("long")).alias("n_boiler"),
            F.round(
                F.sum(boiler.cast("double")) / F.count(F.lit(1)), 4
            ).alias("boiler_frac"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(~boiler, F.struct("pos", "seg")))
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


# --- temperature-scaled mixture shares ---------------------------------------

_ALPHA = 0.3  # mT5/XLM-R style temperature exponent


@register(
    "source_temperature_mixture",
    oracle=rf"""
WITH tok AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM tok GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_source),
shares AS (
  SELECT p.source, p.n_docs, p.n_tokens,
         CAST(p.n_tokens AS DOUBLE) / t.total_tokens AS p_raw,
         pow(CAST(p.n_tokens AS DOUBLE) / t.total_tokens, {_ALPHA}) AS p_alpha
  FROM per_source p CROSS JOIN tot t
),
denom AS (SELECT sum(p_alpha) AS z FROM shares)
SELECT s.source, s.n_docs, s.n_tokens,
       round(s.p_raw, 6) AS raw_share,
       round(s.p_alpha / d.z, 6) AS temp_share,
       round(s.p_alpha / d.z / s.p_raw, 4) AS sample_factor
FROM shares s CROSS JOIN denom d
""",
    description="Temperature-scaled mixture shares (the alpha-sampling "
    "rule of mT5/XLM-R multilingual training, alpha = "
    f"{_ALPHA}): per-source token counts, the raw token share p_i, the "
    "temperature share q_i = p_i^a / sum_j p_j^a, and the up/down- "
    "sampling factor q_i/p_i that the deterministic hash-threshold "
    "sampler (mixture_sample_by_source) applies. Complements "
    "source_mixture_reweighting, whose target is UNIFORM — temperature "
    "interpolates between natural (a=1) and uniform (a=0). Corpus-scale "
    "work is one per-row token count feeding one per-source aggregate; "
    "the share normalization runs on n_sources rows against broadcast "
    "one-row totals, so the whole tail is dimension-scale at any corpus "
    "size. Shares are single pow/divisions of exact integer counts, "
    "rounded 6dp/4dp — hash-stable across engines.",
    tags=("llm", "sampling"),
)
def q_source_temperature_mixture(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("n_tok"),
    )
    # per_source feeds the grand total AND the shares projection; shares
    # feeds the normalizer and the output — unpersisted, each consumer
    # re-ran the corpus token-count scan (round-12 plan audit). Both are
    # per-source sized.
    per_source = lifetime.persist(
        tok.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total_tokens"))
    shares = lifetime.persist(per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias("p_raw"),
        F.pow(
            F.col("n_tokens").cast("double") / F.col("total_tokens"), F.lit(_ALPHA)
        ).alias("p_alpha"),
    ))
    denom = shares.agg(F.sum("p_alpha").alias("z"))
    return shares.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("p_raw"), 6).alias("raw_share"),
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("temp_share"),
        F.round(F.col("p_alpha") / F.col("z") / F.col("p_raw"), 4).alias(
            "sample_factor"
        ),
    )


# --- CMS inner-product join-size estimate ------------------------------------

_CMS_D = 4
_CMS_W = 512


@register(
    "join_size_cms_estimate",
    oracle=rf"""
WITH dd AS (SELECT CAST(unnest(range({_CMS_D})) AS BIGINT) AS d),
oa AS (
  SELECT dd.d,
         ('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                             CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders CROSS JOIN dd GROUP BY 1, 2
),
ca AS (
  SELECT dd.d,
         ('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                             CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM customer CROSS JOIN dd WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2
),
est AS (
  SELECT oa.d, CAST(sum(oa.cnt * ca.cnt) AS BIGINT) AS e
  FROM oa JOIN ca ON oa.d = ca.d AND oa.b = ca.b GROUP BY 1
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_size
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
)
SELECT CAST(min(e.e) AS BIGINT) AS cms_estimate,
       ex.exact_size,
       round((min(e.e) - ex.exact_size) * 1.0 / ex.exact_size, 4)
         AS rel_overestimate,
       min(e.e) >= ex.exact_size AS upper_bound_holds
FROM est e CROSS JOIN ex GROUP BY ex.exact_size
""",
    description="Join-size estimation from count-min sketches (Cormode & "
    "Muthukrishnan '05 inner-product estimate): a depth-"
    f"{_CMS_D} x width-{_CMS_W} CMS of orders.o_custkey and one of the "
    "BUILDING-segment customer keys; est = min_d sum_b a[d][b]*b[d][b], "
    "which provably NEVER under-estimates |orders JOIN customer| — the "
    "row also carries the exact join size, the relative overestimate, "
    "and the upper_bound_holds contract boolean, all hash-matched "
    "because the md5-derived bucket hashing and integer arithmetic are "
    "identical in both engines. This is how a planner sizes a join "
    "WITHOUT running it: each side is one scan + one (d, bucket) "
    "aggregate that map-combines to d*w partial rows per partition, the "
    "sketch join is sketch-sized (broadcast), and the two sides never "
    "shuffle against each other. At 100 TB the exact companion (here "
    "the audited contract) is the one you skip — the sketches are "
    "mergeable across shards and days. Width controls the collision "
    "inflation: w >> n_distinct/eps keeps rel_overestimate ~ eps.",
    tags=("sketch", "relational"),
)
def q_join_size_cms_estimate(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    depths = F.array(*[F.lit(i) for i in range(_CMS_D)])

    def sketch(df, key):
        return (
            df.select(F.col(key).cast("string").alias("k"))
            .select(F.explode(depths).alias("d"), "k")
            .select(F.col("d").cast("long").alias("d"), "k")
            .select(
                "d",
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("d").cast("string"), F.lit(":"), F.col("k")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_W
                ).alias("b"),
            )
            .groupBy("d", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    oa = sketch(orders, "o_custkey")
    ca = sketch(cust, "c_custkey")
    est = (
        oa.join(F.broadcast(ca.withColumnRenamed("cnt", "ccnt")), ["d", "b"])
        .groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("ccnt")).cast("long").alias("e"))
    )
    exact = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_size"))
    )
    return (
        est.agg(F.min("e").cast("long").alias("cms_estimate"))
        .crossJoin(F.broadcast(exact))
        .select(
            "cms_estimate",
            "exact_size",
            F.round(
                (F.col("cms_estimate") - F.col("exact_size"))
                / F.col("exact_size"),
                4,
            ).alias("rel_overestimate"),
            (F.col("cms_estimate") >= F.col("exact_size")).alias(
                "upper_bound_holds"
            ),
        )
    )


# --- deterministic curriculum staging ----------------------------------------

_STAGES = 4


@register(
    "doc_curriculum_stages",
    oracle=rf"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tok,
         round(len(list_distinct(a)) * 1.0 / len(a), 6) AS ttr
  FROM arr
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY ttr DESC, doc_id ASC) AS BIGINT)
              AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM scored
)
SELECT (rn - 1) * {_STAGES} // n + 1 AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(min(ttr), 6) AS min_ttr,
       round(max(ttr), 6) AS max_ttr
FROM ranked GROUP BY 1
""",
    description="Deterministic curriculum staging: documents ranked by "
    "type-token ratio (a lexical-diversity difficulty proxy; ties broken "
    f"by doc_id) and cut into {_STAGES} equal-rank stages, with per-stage "
    "doc/token budgets — the schedule table a curriculum-ordered "
    "training run consumes stage by stage. Rank bucketing uses the "
    "repo's lorenz pattern ((rn-1)*k//n), identical in both engines "
    "including the tie-break, so the stage assignment — not just the "
    "aggregates — is reproducible. The global rank runs as the house "
    "two-pass distributed prefix pattern (corpus_global_shard_plan's): "
    "repartitionByRange on (ttr desc, doc_id), per-partition row counts "
    "to the driver (one bounded O(P) read), exclusive rank offsets "
    "broadcast back, per-partition row_number finishes the rank — NO "
    "Exchange SinglePartition anywhere (pinned in test_plans). The "
    "oracle's single global window IS the semantic spec; the hash match "
    "proves the two-pass plan agrees.",
    tags=("llm", "quality", "sampling"),
)
def q_doc_curriculum_stages(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("a"),
    ).select(
        "doc_id",
        F.size("a").cast("long").alias("n_tok"),
        F.round(
            F.size(F.array_distinct("a")).cast("double") / F.size("a"), 6
        ).alias("ttr"),
    )
    # pass 1: range-partition on the rank order; per-partition row counts
    # are one bounded driver read (<= shuffle-partitions rows)
    ranged = scored.repartitionByRange(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        F.col("ttr").desc(),
        F.col("doc_id").asc(),
    ).withColumn("pid", F.spark_partition_id())
    ranged = ranged.localCheckpoint(eager=False)
    pcounts = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy("pid")
        .collect()
    )
    offsets, acc = {}, 0
    for r in pcounts:
        offsets[r["pid"]] = acc
        acc += r["c"]
    n_total = acc
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "pid INT, roff BIGINT",
        )
    )
    # pass 2: per-partition row_number + broadcast offset — the window is
    # partitioned by pid, so no single-partition exchange
    wp = Window.partitionBy("pid").orderBy(
        F.col("ttr").desc(), F.col("doc_id").asc()
    )
    ranked = (
        ranged.join(off_df, "pid")
        .withColumn(
            "rn", F.row_number().over(wp).cast("long") + F.col("roff")
        )
        .select("n_tok", "ttr", "rn")
    )
    return (
        ranked.groupBy(
            (
                ((F.col("rn") - 1) * _STAGES / F.lit(n_total)).cast("long") + 1
            ).alias("stage")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.min("ttr"), 6).alias("min_ttr"),
            F.round(F.max("ttr"), 6).alias("max_ttr"),
        )
    )


# --- IPF raking to target margins --------------------------------------------

_RAKE_ROUNDS = 3


def _rake_oracle() -> str:
    parts = [
        f"""
cells AS (
  SELECT source,
         CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 250 THEN 1
              WHEN n_chars < 350 THEN 2 ELSE 3 END AS len_bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(count(DISTINCT source) AS BIGINT) AS n_src,
         CAST(count(DISTINCT len_bucket) AS BIGINT) AS n_lb
  FROM cells
),
w0 AS (SELECT source, len_bucket, n, CAST(1000000 AS BIGINT) AS w FROM cells)"""
    ]
    for r in range(1, _RAKE_ROUNDS + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""
rs{r} AS (
  SELECT source, CAST(sum(n * w) AS BIGINT) AS cur FROM {prev} GROUP BY 1
),
wa{r} AS (
  SELECT p.source, p.len_bucket, p.n,
         (p.w * (((t.total * 1000000 // t.n_src) * 1000000) // rs.cur))
           // 1000000 AS w
  FROM {prev} p JOIN rs{r} rs ON rs.source = p.source CROSS JOIN tot t
),
cs{r} AS (
  SELECT len_bucket, CAST(sum(n * w) AS BIGINT) AS cur FROM wa{r} GROUP BY 1
),
w{r} AS (
  SELECT p.source, p.len_bucket, p.n,
         (p.w * (((t.total * 1000000 // t.n_lb) * 1000000) // cs.cur))
           // 1000000 AS w
  FROM wa{r} p JOIN cs{r} cs ON cs.len_bucket = p.len_bucket CROSS JOIN tot t
)"""
        )
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT source, len_bucket, n AS n_docs, CAST(w AS BIGINT) AS weight_micro,
       CAST(n * w AS BIGINT) AS weighted_micro
FROM w{_RAKE_ROUNDS}
"""


@register(
    "corpus_raking_weights",
    oracle=_rake_oracle(),
    description="Survey-style raking (iterative proportional fitting) of "
    "the corpus to UNIFORM target margins on two dimensions at once — "
    "source and length bucket (the joint cannot be hit by per-dimension "
    f"reweighting alone; {_RAKE_ROUNDS} alternating IPF rounds converge "
    "toward both margins). This is the two-margin generalization of the "
    "single-axis mixture reweighting: the sampler consumes the final "
    "per-cell weight exactly like temperature/uniform weights. Weights "
    "live per CELL, not per document — the corpus is aggregated once "
    "into the sources x buckets cell table and every IPF round is "
    "cell-table-sized (two key aggregates + rescales), so iteration "
    "cost is independent of corpus size. All round arithmetic is "
    "integer micro fixed-point with truncating division — bit-identical "
    "across engines (the Bradley-Terry/SPRT convention); full oracle "
    "with the same unrolled rounds as DuckDB CTEs.",
    tags=("llm", "sampling", "iterative"),
)
def q_corpus_raking_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.when(F.col("n_chars") < 150, 0)
            .when(F.col("n_chars") < 250, 1)
            .when(F.col("n_chars") < 350, 2)
            .otherwise(3)
            .alias("len_bucket"),
        )
        .groupBy("source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("total"),
        F.countDistinct("source").cast("long").alias("n_src"),
        F.countDistinct("len_bucket").cast("long").alias("n_lb"),
    )
    w = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "len_bucket",
            "n",
            F.lit(1_000_000).cast("long").alias("w"),
            "total",
            "n_src",
            "n_lb",
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(_RAKE_ROUNDS):
        rs = w.groupBy("source").agg(F.sum(F.col("n") * F.col("w")).cast("long").alias("cur"))
        w = w.join(rs, "source").select(
            "source",
            "len_bucket",
            "n",
            F.expr(
                "(w * (((total * 1000000 DIV n_src) * 1000000) DIV cur)) DIV 1000000"
            ).alias("w"),
            "total",
            "n_src",
            "n_lb",
        )
        cs = w.groupBy("len_bucket").agg(
            F.sum(F.col("n") * F.col("w")).cast("long").alias("cur")
        )
        w = w.join(cs, "len_bucket").select(
            "source",
            "len_bucket",
            "n",
            F.expr(
                "(w * (((total * 1000000 DIV n_lb) * 1000000) DIV cur)) DIV 1000000"
            ).alias("w"),
            "total",
            "n_src",
            "n_lb",
        )
    return w.select(
        "source",
        "len_bucket",
        F.col("n").alias("n_docs"),
        F.col("w").cast("long").alias("weight_micro"),
        (F.col("n") * F.col("w")).cast("long").alias("weighted_micro"),
    )


# --- cross-source unigram cross-entropy matrix -------------------------------


@register(
    "source_crossentropy_matrix",
    oracle=r"""
WITH w AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS wd
  FROM documents
),
cnt AS (
  SELECT source, wd, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1, 2
),
vocab AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS v FROM cnt),
train_tot AS (
  SELECT source AS train_source, CAST(sum(n) AS BIGINT) AS n_train
  FROM cnt GROUP BY 1
),
srcs AS (SELECT DISTINCT source FROM cnt),
grid AS (
  SELECT e.source AS eval_source, e.wd, e.n AS n_eval,
         t.source AS train_source, coalesce(tc.n, 0) AS n_train_w
  FROM cnt e
  CROSS JOIN srcs t
  LEFT JOIN cnt tc ON tc.source = t.source AND tc.wd = e.wd
),
terms AS (
  SELECT g.train_source, g.eval_source, g.n_eval,
         CAST(round(ln(CAST(tt.n_train + vb.v AS DOUBLE) / (g.n_train_w + 1))
                    * 1000000, 0) AS BIGINT) AS nll_micro
  FROM grid g
  JOIN train_tot tt ON tt.train_source = g.train_source
  CROSS JOIN vocab vb
)
SELECT train_source, eval_source,
       CAST(sum(n_eval) AS BIGINT) AS n_tokens,
       CAST(sum(n_eval * nll_micro) AS DOUBLE) / sum(n_eval) / 1000000.0
         AS avg_nll
FROM terms GROUP BY 1, 2
""",
    description="Cross-source unigram cross-entropy matrix: a "
    "Laplace-smoothed unigram LM per TRAIN source (shared global-vocab "
    "denominator so every eval token has mass), evaluated on every EVAL "
    "source — H(B|A) per ordered pair. The matrix is the data-mixture "
    "designer's transferability map: which domains a source's "
    "distribution explains cheaply (low off-diagonal NLL) and which are "
    "distribution islands; diagonal ≈ each source's own entropy. The "
    "sources²-expansion happens at VOCAB scale, never corpus scale: one "
    "(source, word) count aggregate, then eval-counts x sources with a "
    "word-keyed left join against train counts. Per-term NLL is one "
    "deterministic ln on an exact-integer ratio, micro-rounded and "
    "integer-weighted-summed (the unigram-NLL convention), one exact "
    "division at the edge; full oracle.",
    tags=("llm", "quality", "sampling"),
)
def q_source_crossentropy_matrix(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("wd"),
    )
    cnt = w.groupBy("source", "wd").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = cnt.localCheckpoint(eager=True)
    vocab = cnt.agg(F.countDistinct("wd").cast("long").alias("v"))
    train_tot = cnt.groupBy(F.col("source").alias("train_source")).agg(
        F.sum("n").cast("long").alias("n_train")
    )
    srcs = cnt.select("source").distinct().select(
        F.col("source").alias("train_source")
    )
    grid = (
        cnt.select(
            F.col("source").alias("eval_source"), "wd", F.col("n").alias("n_eval")
        )
        .crossJoin(F.broadcast(srcs))
        .join(
            cnt.select(
                F.col("source").alias("train_source"),
                "wd",
                F.col("n").alias("n_train_w"),
            ),
            ["train_source", "wd"],
            "left",
        )
        .select(
            "train_source",
            "eval_source",
            "n_eval",
            F.coalesce(F.col("n_train_w"), F.lit(0)).alias("n_train_w"),
        )
    )
    terms = grid.join(F.broadcast(train_tot), "train_source").crossJoin(
        F.broadcast(vocab)
    ).select(
        "train_source",
        "eval_source",
        "n_eval",
        F.round(
            F.log(
                (F.col("n_train") + F.col("v")).cast("double")
                / (F.col("n_train_w") + 1)
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return terms.groupBy("train_source", "eval_source").agg(
        F.sum("n_eval").cast("long").alias("n_tokens"),
        (
            F.sum(F.col("n_eval") * F.col("nll_micro")).cast("double")
            / F.sum("n_eval")
            / F.lit(1e6)
        ).alias("avg_nll"),
    )


# --- vocabulary coverage curve -----------------------------------------------

_VOCAB_KS = (10, 30, 100, 300)


@register(
    "vocab_coverage_curve",
    oracle=r"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS wd
  FROM documents
),
cnt AS (SELECT wd, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
ranked AS (
  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, wd ASC) AS BIGINT) AS r
  FROM cnt
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS vsize FROM ranked),
ks AS (SELECT CAST(unnest([10, 30, 100, 300]) AS BIGINT) AS k)
SELECT ks.k,
       CAST(least(ks.k, t.vsize) AS BIGINT) AS vocab_used,
       round(CAST(sum(rk.n) AS DOUBLE) / t.total, 6) AS coverage
FROM ks
JOIN ranked rk ON rk.r <= ks.k
CROSS JOIN tot t
GROUP BY ks.k, t.vsize, t.total
""",
    description="Vocabulary coverage curve: share of the corpus token "
    "mass covered by the top-k most frequent words, k in {10, 30, 100, "
    "300} — the tokenizer-budget curve (how big a word-level vocab must "
    "be before OOV mass is negligible; the flat tail is what BPE "
    "absorbs). One word-count aggregate; only the top max(ks) words can "
    "ever contribute to the curve, so the rank runs as orderBy+limit — "
    "Catalyst plans TakeOrderedAndProject (per-partition top-k, k·P "
    "merge), NOT a vocab-wide single-partition sort — and the "
    "row_number window that follows sees <= max(ks) rows (k-scale, the "
    "same accepted bounded-window exception as the 25-row BH ranking; "
    "pinned in test_plans). Ranks are deterministic (count desc, word "
    "asc — a total order). Exact integer token masses, one division at "
    "the edge, 6dp; full oracle.",
    tags=("llm", "text", "aggregation"),
)
def q_vocab_coverage_curve(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("wd")
    )
    cnt = w.groupBy("wd").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # vocab-scale → k-scale BEFORE any global window: only r <= max(ks)
    # rows can join the curve, and orderBy+limit is TakeOrderedAndProject
    top = cnt.orderBy(F.col("n").desc(), F.col("wd").asc()).limit(_VOCAB_KS[-1])
    wr = Window.orderBy(F.col("n").desc(), F.col("wd").asc())
    ranked = top.select(
        "n", F.row_number().over(wr).cast("long").alias("r")
    )
    # totals come from the FULL count table (vsize is the whole vocab,
    # not the top-k slice)
    tot = cnt.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vsize"),
    )
    ks = docs.sparkSession.createDataFrame(
        [(k,) for k in _VOCAB_KS], "k long"
    )
    return (
        ks.join(ranked, ranked["r"] <= ks["k"])
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "vsize", "total")
        .agg(F.sum("n").alias("cov_n"))
        .select(
            "k",
            F.least(F.col("k"), F.col("vsize")).cast("long").alias("vocab_used"),
            F.round(F.col("cov_n").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
    )


# --- lexical dispersion (Gries' DP) ------------------------------------------


@register(
    "word_dispersion_dp",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
ts AS (SELECT source, CAST(count(*) AS BIGINT) AS t_s FROM toks GROUP BY 1),
tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM ts),
fws AS (
  SELECT w, source, CAST(count(*) AS BIGINT) AS f_ws
  FROM toks GROUP BY 1, 2
),
fw AS (
  SELECT w, CAST(sum(f_ws) AS BIGINT) AS f_w FROM fws GROUP BY 1
  HAVING sum(f_ws) >= 100
),
grid AS (
  SELECT fw.w, fw.f_w, ts.source, ts.t_s, COALESCE(x.f_ws, 0) AS f_ws
  FROM fw CROSS JOIN ts
  LEFT JOIN fws x ON x.w = fw.w AND x.source = ts.source
)
SELECT w, f_w,
       round(sum(abs(f_ws * t - t_s * f_w)) * 1.0 / (2.0 * f_w * t), 6)
         AS dp
FROM grid, tt
GROUP BY w, f_w, t
""",
    description="Gries' DP lexical dispersion per frequent word (total "
    "freq >= 100): 0.5 * sum_s |share of the word's tokens in source s - "
    "source s's share of the corpus| — 0 means the word is spread exactly "
    "like the corpus, -> 1 means it lives in one source. The corpus-"
    "linguistics signal that separates genuinely common vocabulary from "
    "source-local jargon/boilerplate (frequency alone can't: a template "
    "string repeated in one crawl looks 'frequent'). One token pass "
    "feeds both marginals; the |vocab_freq>=100| x |sources| grid is "
    "vocabulary-scale, never corpus-scale, and the sources side rides "
    "broadcast. Numerator is an EXACT integer cross-product sum "
    "(|f_ws*T - T_s*f_w|), one float division rounded 6dp at the edge — "
    "the house W1/dispersion convention.",
    tags=("text", "llm", "curation"),
)
def q_word_dispersion_dp(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # toks feeds ts and fws; fws feeds fw and the grid join — unpersisted,
    # the corpus tokenize re-ran per consumer (round-12 plan audit).
    toks = lifetime.persist(
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
        )
    )
    ts = toks.groupBy("source").agg(F.count(F.lit(1)).alias("t_s"))
    tt = ts.agg(F.sum("t_s").alias("t"))
    fws = lifetime.persist(
        toks.groupBy("w", "source").agg(F.count(F.lit(1)).alias("f_ws"))
    )
    fw = (
        fws.groupBy("w")
        .agg(F.sum("f_ws").alias("f_w"))
        .filter(F.col("f_w") >= 100)
    )
    grid = (
        fw.crossJoin(F.broadcast(ts))
        .join(fws, ["w", "source"], "left")
        .select(
            "w", "f_w", "t_s", F.coalesce(F.col("f_ws"), F.lit(0)).alias("f_ws")
        )
    )
    return (
        grid.crossJoin(F.broadcast(tt))
        .groupBy("w", "f_w", "t")
        .agg(
            F.sum(
                F.abs(F.col("f_ws") * F.col("t") - F.col("t_s") * F.col("f_w"))
            ).alias("num")
        )
        .select(
            "w",
            "f_w",
            F.round(
                F.col("num").cast("double") / (2.0 * F.col("f_w") * F.col("t")),
                6,
            ).alias("dp"),
        )
    )


# --- vocabulary growth curve (Heaps' law) ------------------------------------


@register(
    "vocab_growth_curve",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10
              AS BIGINT) AS bucket,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
bt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_toks FROM toks GROUP BY 1),
wb AS (SELECT w, CAST(min(bucket) AS BIGINT) AS minb FROM toks GROUP BY 1),
vb AS (SELECT minb, CAST(count(*) AS BIGINT) AS n_new FROM wb GROUP BY 1),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM unnest(range(1, 11)) t(k)),
cum AS (
  SELECT ks.k,
         (SELECT sum(n_toks) FROM bt WHERE bucket < ks.k) AS n_tokens_cum,
         (SELECT sum(n_new) FROM vb WHERE minb < ks.k) AS vocab_cum
  FROM ks
)
SELECT k, CAST(n_tokens_cum AS BIGINT) AS n_tokens_cum,
       CAST(vocab_cum AS BIGINT) AS vocab_cum,
       round(ln(CAST(vocab_cum AS DOUBLE)) / ln(CAST(n_tokens_cum AS DOUBLE)),
             6) AS heaps_exponent
FROM cum
WHERE n_tokens_cum > 0 AND vocab_cum > 0
""",
    description="Vocabulary growth curve (Heaps'/Herdan's law): cumulative "
    "distinct-vocabulary size V(N) at 10 deterministic corpus prefixes, "
    "with the pointwise exponent ln V / ln N — the tokenizer-sizing and "
    "corpus-diversity diagnostic (a flattening curve means new data adds "
    "tokens but no new vocabulary; a steep one means the corpus is still "
    "lexically open). Prefixes are HASH SLICES (md5(doc_id) % 10 "
    "buckets, prefix k = buckets < k), not rank prefixes: identical "
    "semantics at any cluster size with NO global sort/ntile (a "
    "rank-based decile would plan the single-partition window this repo "
    "bans), and V(prefix k) falls out of each word's MIN first-bucket — "
    "one word-level aggregate, bucket-scale (10-row) cumulation after. "
    "Exact integers until the one ln-ratio float, rounded 6dp.",
    tags=("text", "llm", "curation", "scale"),
)
def q_vocab_growth_curve(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    toks = docs.select(
        bucket.alias("bucket"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    bt = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_toks"))
    wb = toks.groupBy("w").agg(F.min("bucket").alias("minb"))
    vb = wb.groupBy("minb").agg(F.count(F.lit(1)).alias("n_new"))
    ks = F.broadcast(
        docs.sparkSession.range(1, 11).select(F.col("id").alias("k"))
    )
    ntc = (
        ks.crossJoin(bt)
        .filter(F.col("bucket") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_toks").alias("n_tokens_cum"))
    )
    vc = (
        ks.crossJoin(vb)
        .filter(F.col("minb") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_new").alias("vocab_cum"))
    )
    return ntc.join(vc, "k").select(
        "k",
        "n_tokens_cum",
        "vocab_cum",
        F.round(
            F.log(F.col("vocab_cum").cast("double"))
            / F.log(F.col("n_tokens_cum").cast("double")),
            6,
        ).alias("heaps_exponent"),
    )
