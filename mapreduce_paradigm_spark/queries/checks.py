"""Driver-visible invariant checks for the approximate tiers.

The registry's 19 rows-only specs (sketches, LSH/ANN, k-means dedup) are
approximate BY CONSTRUCTION — their raw outputs are engine-specific, so a
DuckDB value-hash oracle over them is impossible and the driver gate can
only record `err: no_oracle` for them (round-4 verdict ask #3: 14 gate
slots were burned that way). This module converts their hard pytest pins
(subset-of-exact-tier precision, recall floors, sketch error bounds) into
FULL-ORACLE queries the driver can hash-check: each emits

- values the oracle can recompute exactly in SQL (exact percentiles,
  exact distinct counts, exact near-dup pair counts), AND
- the approximate tier's contract as BOOLEAN columns computed Spark-side
  in exact integer arithmetic (the oracle returns the literal TRUE the
  contract demands).

A hash mismatch therefore means either the exact reference diverged
(a real correctness bug) or an approximation broke its documented bound
(a real accuracy regression) — the same signal the pytest pins give,
but recorded per-round in CORRECTNESS_r{N}.json. The rows-only specs
themselves now sort to the back of the gate queue (__spark_entry__.py)
and stop consuming hash-check budget.

Scale posture: every check reuses the production operators unchanged
(the exact tiers are the documented oracle-checkable forms; the booleans
are scalar aggregates over their outputs), so nothing here adds a plan
shape that would not already run at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table


def _scalar(df, expr, name):
    """One-row, one-column aggregate — broadcast-joinable scalar."""
    return df.agg(expr.cast("long").alias(name))


@register(
    "approx_percentile_error_check",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       quantile_cont(l_quantity, 0.95) AS p95,
       TRUE AS sketch_ok
FROM lineitem
GROUP BY l_returnflag
""",
    description="Greenwald-Khanna sketch contract as a full oracle: per "
    "return flag, the EXACT p25/p50/p75/p95 (Spark `percentile` == DuckDB "
    "`quantile_cont`, hash-checked) plus `sketch_ok` — every "
    "approx_percentile(accuracy 10000) estimate must lie inside the exact "
    "[p−0.01, p+0.01] quantile band (rank error ε = 1/accuracy = 1e-4, "
    "checked with a 100× margin so the pin is load-bearing, not brittle). "
    "Companion to rows-only quantity_approx_percentiles: that spec shows "
    "the one-pass sketch output, this one makes its error bound a "
    "driver-hashable row. One grouped aggregate — same 100 TB shape as "
    "quantity_percentiles.",
    tags=("agg", "sketch", "check"),
)
def q_approx_percentile_error_check(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    bands = [0.24, 0.25, 0.26, 0.49, 0.50, 0.51, 0.74, 0.75, 0.76, 0.94, 0.95, 0.96]
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("l_quantity", bands).alias("ex"),
        F.percentile_approx(
            "l_quantity", [0.25, 0.50, 0.75, 0.95], 10000
        ).alias("ap"),
    )
    ok = None
    for i in range(4):
        cond = F.col("ap")[i].between(F.col("ex")[3 * i], F.col("ex")[3 * i + 2])
        ok = cond if ok is None else (ok & cond)
    return g.select(
        "l_returnflag",
        "n",
        F.col("ex")[1].alias("p25"),
        F.col("ex")[4].alias("p50"),
        F.col("ex")[7].alias("p75"),
        F.col("ex")[10].alias("p95"),
        ok.alias("sketch_ok"),
    )


@register(
    "tdigest_rank_error_check",
    oracle="""
SELECT CAST(0.50 AS DOUBLE) AS q,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS exact_value,
       TRUE AS tdigest_ok
FROM lineitem
UNION ALL
SELECT CAST(0.90 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.90), 4), TRUE
FROM lineitem
UNION ALL
SELECT CAST(0.99 AS DOUBLE),
       round(quantile_cont(l_extendedprice, 0.99), 4), TRUE
FROM lineitem
""",
    description="t-digest rank-error contract as a full oracle: the EXACT "
    "p50/p90/p99 of l_extendedprice (hash-checked vs quantile_cont) plus "
    "`tdigest_ok` — each digest estimate (100 centroids, salted tree "
    "merge) must lie inside the exact [q−0.02, q+0.02] quantile band "
    "(p99's upper band is p99.9: tail capacity ∝ q(1−q) keeps it sharp). "
    "Companion to rows-only price_tdigest_quantiles — the sketch values "
    "stay implementation-defined, the BOUND becomes driver-hashable.",
    tags=("statistics", "sketch", "check"),
)
def q_tdigest_rank_error_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.tdigest import (
        tdigest_quantiles,
        tdigest_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    digest = tdigest_sketch(li, "l_extendedprice", max_centroids=100)
    est = tdigest_quantiles(digest, [0.50, 0.90, 0.99])
    bands = [0.48, 0.50, 0.52, 0.88, 0.90, 0.92, 0.97, 0.99, 0.999]
    exact = li.agg(F.percentile("l_extendedprice", bands).alias("ex"))
    lo = (
        F.when(F.col("q") == 0.50, F.col("ex")[0])
        .when(F.col("q") == 0.90, F.col("ex")[3])
        .otherwise(F.col("ex")[6])
    )
    mid = (
        F.when(F.col("q") == 0.50, F.col("ex")[1])
        .when(F.col("q") == 0.90, F.col("ex")[4])
        .otherwise(F.col("ex")[7])
    )
    hi = (
        F.when(F.col("q") == 0.50, F.col("ex")[2])
        .when(F.col("q") == 0.90, F.col("ex")[5])
        .otherwise(F.col("ex")[8])
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "q",
        F.round(mid, 4).alias("exact_value"),
        F.col("estimate").between(lo, hi).alias("tdigest_ok"),
    )


@register(
    "approx_distinct_error_check",
    oracle="""
SELECT p_brand,
       CAST(count(DISTINCT p_partkey) AS BIGINT) AS exact_parts,
       TRUE AS hll_ok
FROM part
GROUP BY p_brand
""",
    description="HyperLogLog++ contract as a full oracle: per brand, the "
    "EXACT distinct part count (hash-checked) plus `hll_ok` — the "
    "approx_count_distinct estimate must sit within 15% relative error "
    "(default rsd 5%, checked with 3σ headroom) — in exact integer "
    "arithmetic: |approx−exact|·100 ≤ 15·exact. Companion to rows-only "
    "approx_distinct_parts.",
    tags=("aggregation", "sketch", "check"),
)
def q_approx_distinct_error_check(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy("p_brand").agg(
        F.countDistinct("p_partkey").cast("long").alias("exact_parts"),
        F.approx_count_distinct("p_partkey").cast("long").alias("ap"),
    )
    ok = (
        F.abs(F.col("ap") - F.col("exact_parts")) * F.lit(100)
        <= F.lit(15) * F.col("exact_parts")
    )
    return g.select("p_brand", "exact_parts", ok.alias("hll_ok"))


@register(
    "hll_rollup_error_check",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS rollup_ok
FROM orders
GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL',
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       TRUE
FROM orders
""",
    description="Mergeable-HLL rollup contract as a full oracle: per "
    "priority AND the union-merged ALL row, the EXACT distinct customer "
    "count (hash-checked) plus `rollup_ok` — the hll_sketch_agg(lgK=14, "
    "rsd≈0.8%) estimate, including the hll_union_agg ALL row that "
    "re-merges the per-group sketches, must sit within 5% of exact in "
    "integer arithmetic. Companion to rows-only "
    "priority_customer_hll_rollup — proving the UNION of sketches "
    "estimates the union of sets, the property the 100 TB "
    "persist-daily-merge-later rollup rests on.",
    tags=("agg", "sketch", "check"),
)
def q_hll_rollup_error_check(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk"),
        F.countDistinct("o_custkey").cast("long").alias("exact_customers"),
    )
    per_group = per.select(
        "o_orderpriority",
        "exact_customers",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("ap"),
    )
    total = (
        per.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("ap")
        )
        .crossJoin(
            F.broadcast(
                orders.agg(
                    F.countDistinct("o_custkey").cast("long").alias("exact_customers")
                )
            )
        )
        .select(
            F.lit("ALL").alias("o_orderpriority"), "exact_customers", "ap"
        )
    )
    ok = (
        F.abs(F.col("ap") - F.col("exact_customers")) * F.lit(20)
        <= F.col("exact_customers")
    )
    return per_group.unionByName(total).select(
        "o_orderpriority", "exact_customers", ok.alias("rollup_ok")
    )


def _duck_shingles() -> str:
    """Reuse llm.py's DuckDB shingle fragment so this oracle's ground-truth
    pair count is definitionally the one the exact tier hashes against."""
    from mapreduce_paradigm_spark.queries.llm import _DUCK_SHINGLES

    return _DUCK_SHINGLES


def _register_pair_recall_checks() -> None:
    # deferred so the import of queries.llm happens lazily (one-way dep)
    shingles = _duck_shingles()

    @register(
        "minhash_lsh_recall_check",
        oracle=f"""
WITH {shingles},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       TRUE AS lsh_subset_ok,
       TRUE AS recall_ge_090_ok
FROM common
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE c / (s1.sz + s2.sz - c) >= 0.5
""",
        description="MinHash-LSH contract as a full oracle: the UNCAPPED "
        "exact Jaccard≥0.5 pair count (hash-checked vs the DuckDB "
        "self-join), `lsh_subset_ok` — every banded candidate that "
        "survives the exact-Jaccard verify must appear in the exact pair "
        "set (precision 1 by construction; anti-join count must be 0) — "
        "and `recall_ge_090_ok` — the banding (32 hashes, 8 bands) must "
        "recover ≥90% of true pairs on this fixture (the pytest pin, in "
        "integer arithmetic: 10·found ≥ 9·true). Companion to rows-only "
        "minhash_lsh_pairs; scalar aggregates over both tiers' outputs, "
        "joined as broadcast one-row frames.",
        tags=("dedup", "approx", "check"),
    )
    def q_minhash_lsh_recall_check(spark, sf_dir):
        from mapreduce_paradigm_spark.operators.dedup import (
            jaccard_pairs,
            minhash_lsh_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        # both tier frames feed multiple count/anti-join consumers below —
        # unpersisted, each consumer re-ran the whole pair pipeline
        # (round-12 plan audit; same fix across every *_check builder)
        true = lifetime.persist(
            jaccard_pairs(docs, k=3, threshold=0.5).select("d1", "d2")
        )
        lsh = lifetime.persist(
            minhash_lsh_pairs(
                docs, k=3, num_hashes=32, bands=8, threshold=0.5
            ).select("d1", "d2")
        )
        n_true = _scalar(true, F.count(F.lit(1)), "n_true_pairs")
        n_missed = _scalar(
            true.join(lsh, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "m"
        )
        n_extra = _scalar(
            lsh.join(true, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "x"
        )
        return (
            n_true.crossJoin(F.broadcast(n_missed))
            .crossJoin(F.broadcast(n_extra))
            .select(
                "n_true_pairs",
                (F.col("x") == 0).alias("lsh_subset_ok"),
                (
                    F.lit(10) * (F.col("n_true_pairs") - F.col("m"))
                    >= F.lit(9) * F.col("n_true_pairs")
                ).alias("recall_ge_090_ok"),
            )
        )

    @register(
        "semantic_dedup_recall_check",
        oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS sem_subset_ok,
       TRUE AS recall_ge_050_ok
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.42
""",
        description="SemDeDup contract as a full oracle: the exact "
        "cosine≥0.42 near-dup pair count (hash-checked vs the DuckDB "
        "self-join), `sem_subset_ok` — the cluster-scoped tier's pairs "
        "must be a subset of the exact tier's (its in-cluster scorer IS "
        "the exact cosine + threshold, so precision is exact by "
        "construction) — and `recall_ge_050_ok`, the pytest recall floor "
        "(co-located near-dups dominate the k-means partition) in exact "
        "integer arithmetic. Companion to rows-only "
        "embedding_semantic_cluster_dedup.",
        tags=("dedup", "similarity", "approx", "check"),
    )
    def q_semantic_dedup_recall_check(spark, sf_dir):
        from mapreduce_paradigm_spark.operators.dedup import (
            embedding_near_dup_pairs,
            semantic_cluster_near_dups,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        exact = lifetime.persist(
            embedding_near_dup_pairs(emb, threshold=0.42).select("d1", "d2")
        )
        sem = lifetime.persist(
            semantic_cluster_near_dups(emb, threshold=0.42).select("d1", "d2")
        )
        n_exact = _scalar(exact, F.count(F.lit(1)), "n_exact_pairs")
        n_missed = _scalar(
            exact.join(sem, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "m"
        )
        n_extra = _scalar(
            sem.join(exact, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "x"
        )
        return (
            n_exact.crossJoin(F.broadcast(n_missed))
            .crossJoin(F.broadcast(n_extra))
            .select(
                "n_exact_pairs",
                (F.col("x") == 0).alias("sem_subset_ok"),
                (
                    F.lit(2) * (F.col("n_exact_pairs") - F.col("m"))
                    >= F.col("n_exact_pairs")
                ).alias("recall_ge_050_ok"),
            )
        )


_register_pair_recall_checks()


@register(
    "ann_recall_check",
    oracle="""
SELECT 'ivf' AS tier,
       CAST(count(*) FILTER (WHERE vec_id % 25 = 0) AS BIGINT) AS n_queries,
       TRUE AS recall_ok
FROM embeddings
UNION ALL
SELECT 'lsh', CAST(count(*) FILTER (WHERE vec_id % 25 = 0) AS BIGINT), TRUE
FROM embeddings
UNION ALL
SELECT 'pq', CAST(count(*) FILTER (WHERE vec_id % 25 = 0) AS BIGINT), TRUE
FROM embeddings
UNION ALL
SELECT 'sq8', CAST(count(*) FILTER (WHERE vec_id % 25 = 0) AS BIGINT), TRUE
FROM embeddings
""",
    description="ANN tier recall contracts as one full-oracle query: for "
    "each approximate tier, top-5 recall against the exact topk_cosine "
    "tier over the vec_id%25 query set (the query count is hash-checked — "
    "it is SQL-derivable — the contracts are evaluated in integer "
    "arithmetic: 100·matches ≥ floor·(5·n_queries)). Floors are "
    "MEASURED with margin at sf0.01 AND sf0.1: IVF(nlist=8,nprobe=4) 50% "
    "(measured 69/71%), PQ(m=8) 25% (52/34% — PQ coarsens as the corpus "
    "grows past the codebook's resolution), SQ8 90% (measured 100% both — "
    "the ~1/512-per-dim grid is near-exact). The hyperplane-LSH row pins "
    "the DOMINANCE invariant instead of an absolute floor — "
    "multiprobe=2 must recover ≥ as many true pairs as single-probe — "
    "because 8-bit buckets over near-uniform random vectors honestly "
    "recall only 4-6% (256 buckets, ~2 vectors each: true neighbors "
    "rarely collide), and an absolute pin there would test the fixture, "
    "not the operator. Companion to the four rows-only embedding_*_topk "
    "specs.",
    bench=True,  # round 13: bench addition (VERDICT r12 ask #1)
    tags=("similarity", "approx", "check"),
)
def q_ann_recall_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.similarity import (
        AnnSharedState,
        ivf_topk_cosine,
        lsh_topk_cosine,
        pq_topk_cosine,
        sq8_topk_cosine,
        topk_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the query slice feeds every tier's query side (bucket frames ×2,
    # rerank qvec ×2, the n_queries scalar, the shared collect) — persist
    # the tiny filtered projection so each consumer reads the cache
    queries = lifetime.persist(emb.filter(F.col("vec_id") % 25 == 0))
    # shared trained state (round 13; VERDICT r12 ask #3): ONE query-matrix
    # collect, ONE deterministic training-sample pick, ONE persisted
    # unit-normalized corpus — previously each of the 6 tier invocations
    # re-ran its own (12+ driver jobs of pure repetition). Tier outputs are
    # bit-identical with/without sharing (pinned in
    # tests/test_similarity_shared.py); the persisted frames belong to
    # this builder's scope and live as long as the returned plan.
    sh = AnnSharedState(emb, queries)
    # exact feeds every tier's match join (5 consumers) — persist
    exact = lifetime.persist(
        topk_cosine(emb, queries, k=5, shared=sh).select("q_id", "neighbor_id")
    )
    n_q = _scalar(queries, F.count(F.lit(1)), "n_queries")

    def _matches(approx):
        return _scalar(
            exact.join(
                approx.select("q_id", "neighbor_id"),
                ["q_id", "neighbor_id"],
            ),
            F.count(F.lit(1)),
            "matches",
        )

    tiers = {
        "ivf": (
            ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4, shared=sh),
            50,
        ),
        "pq": (pq_topk_cosine(emb, queries, k=5, shared=sh), 25),
        "sq8": (sq8_topk_cosine(emb, queries, k=5, shared=sh), 90),
    }
    out = None
    for tier, (approx, floor_pct) in sorted(tiers.items()):
        row = (
            n_q.crossJoin(F.broadcast(_matches(approx))).select(
                F.lit(tier).alias("tier"),
                "n_queries",
                (
                    F.lit(100) * F.col("matches")
                    >= F.lit(floor_pct) * (F.lit(5) * F.col("n_queries"))
                ).alias("recall_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    # hyperplane-LSH: multiprobe dominance, not an absolute floor (see
    # description) — probing the 2 least-confident bit flips can only add
    # candidate buckets, so its true-pair haul must dominate single-probe
    mp2 = _matches(
        lsh_topk_cosine(
            emb, queries, dim=64, k=5, nbits=8, multiprobe=2, shared=sh
        )
    ).withColumnRenamed("matches", "m2")
    mp0 = _matches(
        lsh_topk_cosine(
            emb, queries, dim=64, k=5, nbits=8, multiprobe=0, shared=sh
        )
    )
    lsh_row = (
        n_q.crossJoin(F.broadcast(mp2))
        .crossJoin(F.broadcast(mp0))
        .select(
            F.lit("lsh").alias("tier"),
            "n_queries",
            (F.col("m2") >= F.col("matches")).alias("recall_ok"),
        )
    )
    return out.unionByName(lsh_row)


@register(
    "isotonic_fit_check",
    oracle="""
SELECT CAST(count(DISTINCT CAST(round(CAST(embedding[1] AS DOUBLE) * 10000, 0)
                               AS BIGINT)) AS BIGINT) AS n_grid,
       CAST(count(*) AS BIGINT) AS total_n,
       CAST(count(*) FILTER (WHERE label >= 5) AS BIGINT) AS total_pos,
       TRUE AS monotone_ok,
       TRUE AS mean_preserved_ok,
       TRUE AS bounds_ok
FROM embeddings
""",
    description="Isotonic (PAV) fit contract as a full oracle: the gridded "
    "score-axis size and the integer (n, n_pos) totals are hash-checked "
    "against SQL, and the PAV output's defining properties are booleans — "
    "`monotone_ok` (fitted rate nondecreasing along the score axis, the "
    "isotonic constraint), `mean_preserved_ok` (Σ n·rate_iso recovers "
    "Σ n_pos to 6dp-rounding tolerance — PAV is a weighted-mean-preserving "
    "projection), `bounds_ok` (rates in [0,1]). Companion to rows-only "
    "label_score_isotonic.",
    tags=("mlprep", "statistics", "check"),
)
def q_isotonic_fit_check(spark, sf_dir):
    from pyspark.sql.window import Window

    from mapreduce_paradigm_spark.operators.calibrate import (
        isotonic_calibration,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    fit = isotonic_calibration(emb, "score", "y", grid=10000)
    w = Window.orderBy("sm")
    flagged = fit.select(
        "n",
        "n_pos",
        "rate_iso",
        (F.col("rate_iso") < F.lag("rate_iso").over(w)).alias("viol"),
        ((F.col("rate_iso") < 0) | (F.col("rate_iso") > 1)).alias("oob"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_grid"),
        F.sum("n").cast("long").alias("total_n"),
        F.sum("n_pos").cast("long").alias("total_pos"),
        (F.count_if(F.col("viol")) == 0).alias("monotone_ok"),
        (
            F.abs(F.sum(F.col("n") * F.col("rate_iso")) - F.sum("n_pos"))
            < F.lit(1e-3)
        ).alias("mean_preserved_ok"),
        (F.count_if(F.col("oob")) == 0).alias("bounds_ok"),
    )


@register(
    "pca_projection_check",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS var_ordered_ok,
       TRUE AS means_zero_ok
FROM embeddings
""",
    description="PCA projection contract as a full oracle: the projected "
    "row count is hash-checked, and the eigendecomposition's defining "
    "properties are booleans — `var_ordered_ok` (sample variance of each "
    "projected coordinate is nonincreasing: components come out in "
    "descending-eigenvalue order) and `means_zero_ok` (each coordinate is "
    "mean-centered to within the 6dp output rounding). Companion to "
    "rows-only embedding_pca_project (whose loadings are pinned against "
    "an exact numpy PCA in pytest).",
    tags=("mlprep", "embeddings", "check"),
)
def q_pca_projection_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.similarity import pca_project

    proj = pca_project(
        load_table(spark, sf_dir, "embeddings"), n_components=4
    )
    agg = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[F.variance(F.col("pc")[i]).alias(f"v{i}") for i in range(4)],
        *[F.avg(F.col("pc")[i]).alias(f"m{i}") for i in range(4)],
    )
    var_ok = (
        (F.col("v0") >= F.col("v1"))
        & (F.col("v1") >= F.col("v2"))
        & (F.col("v2") >= F.col("v3"))
    )
    mean_ok = None
    for i in range(4):
        c = F.abs(F.col(f"m{i}")) < 1e-4
        mean_ok = c if mean_ok is None else (mean_ok & c)
    return agg.select(
        "n_rows",
        var_ok.alias("var_ordered_ok"),
        mean_ok.alias("means_zero_ok"),
    )


@register(
    "tdigest_grouped_error_check",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
       TRUE AS tdigest_ok
FROM lineitem
GROUP BY l_returnflag
""",
    description="GROUPED t-digest contract as a full oracle: per return "
    "flag, the exact p99 and group count are hash-checked, and "
    "`tdigest_ok` pins each per-group digest's p99 readout inside the "
    "exact [p97, p99.9] band — the grouped (tdigest_by_key) counterpart "
    "of tdigest_rank_error_check, proving the per-key Arrow sketch pass "
    "keeps the tail bound within every group, not just globally. "
    "Companion to rows-only price_tdigest_p99_by_flag.",
    tags=("statistics", "sketch", "check"),
)
def q_tdigest_grouped_error_check(spark, sf_dir):
    from mapreduce_paradigm_spark.queries.llm import (
        q_price_tdigest_p99_by_flag,
    )

    est = q_price_tdigest_p99_by_flag(spark, sf_dir).select(
        "l_returnflag", F.col("p99_est")
    )
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("l_extendedprice", [0.97, 0.99, 0.999]).alias("ex"),
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n",
        F.round(F.col("ex")[1], 4).alias("exact_p99"),
        F.col("p99_est")
        .between(F.col("ex")[0], F.col("ex")[2])
        .alias("tdigest_ok"),
    )


@register(
    "topk_sketch_exact_check",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt, TRUE AS sketch_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY cnt DESC, o_orderpriority
LIMIT 3
""",
    description="approx_top_k contract as a full oracle: the exact top-3 "
    "priorities by count (a total order — count desc, value asc — so the "
    "LIMIT is deterministic) hash-checked against SQL, with `sketch_ok` "
    "pinning that the sketch's (item, count) set equals the exact one — "
    "on a 5-distinct-value column the sketch admits no error, so set "
    "equality is the correct pin, checked via two anti-joins. Companion "
    "to rows-only orders_priority_topk_sketch (whose TIE ORDER is "
    "implementation-defined; sets compare order-free).",
    tags=("agg", "sketch", "check"),
)
def q_topk_sketch_exact_check(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    # both 3-row frames feed two anti-joins AND the final crossJoin —
    # unpersisted, the exact aggregate and the sketch pass each re-scanned
    # orders once per consumer (round-13 audit: 5 scans in this one plan)
    exact = lifetime.persist(
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("o_orderpriority").asc())
        .limit(3)
    )
    sk = lifetime.persist(
        orders.agg(F.expr("approx_top_k(o_orderpriority, 3)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("o_orderpriority"),
            F.col("e.count").cast("long").alias("cnt"),
        )
    )
    missing = _scalar(
        exact.join(sk, ["o_orderpriority", "cnt"], "left_anti"),
        F.count(F.lit(1)),
        "miss",
    )
    extra = _scalar(
        sk.join(exact, ["o_orderpriority", "cnt"], "left_anti"),
        F.count(F.lit(1)),
        "ext",
    )
    ok = F.broadcast(
        missing.crossJoin(F.broadcast(extra)).select(
            ((F.col("miss") == 0) & (F.col("ext") == 0)).alias("sketch_ok")
        )
    )
    return exact.crossJoin(ok)


@register(
    "simhash_exact_dup_check",
    oracle=r"""
WITH h AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS th
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_dup_pairs,
       TRUE AS simhash_zero_hamming_ok
FROM h a JOIN h b ON a.th = b.th AND a.doc_id < b.doc_id
""",
    description="SimHash completeness floor as a full oracle: the count of "
    "EXACT duplicate pairs (identical whitespace-normalized text — "
    "SQL-checkable) is hash-checked, and `simhash_zero_hamming_ok` pins "
    "that every such pair appears in simhash_near_pairs with hamming 0 — "
    "identical token multisets produce identical fingerprints, so the "
    "pigeonhole chunk join MUST emit them; a miss would mean the banding "
    "dropped a guaranteed candidate. Companion to rows-only "
    "simhash_near_pairs (whose general bit-threshold has no SQL twin).",
    tags=("dedup", "approx", "check"),
)
def q_simhash_exact_dup_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import (
        normalized_text,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("th")
    )
    dup_pairs = lifetime.persist(
        h.alias("a")
        .join(h.alias("b"), F.col("a.th") == F.col("b.th"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
    )
    zero = (
        simhash_near_pairs(docs, max_hamming=3)
        .filter(F.col("hamming") == 0)
        .select("d1", "d2")
    )
    n_dup = _scalar(dup_pairs, F.count(F.lit(1)), "n_exact_dup_pairs")
    missed = _scalar(
        dup_pairs.join(zero, ["d1", "d2"], "left_anti"),
        F.count(F.lit(1)),
        "m",
    )
    return (
        n_dup.crossJoin(F.broadcast(missed)).select(
            "n_exact_dup_pairs",
            (F.col("m") == 0).alias("simhash_zero_hamming_ok"),
        )
    )


@register(
    "embedding_lsh_near_dup_check",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS lsh_subset_ok,
       TRUE AS recall_ge_095_ok
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.42
""",
    description="Banded sign-LSH near-dup contract as a full oracle: the "
    "exact cosine≥0.42 pair count is hash-checked, `lsh_subset_ok` pins "
    "precision (the rerank IS the exact tier's cosine + threshold, so "
    "LSH pairs ⊆ exact pairs), and `recall_ge_095_ok` is the pytest "
    "recall floor in integer arithmetic (20·found ≥ 19·true). Companion "
    "to rows-only embedding_near_dup_lsh.",
    bench=True,  # round 13: bench addition (VERDICT r12 ask #1)
    tags=("dedup", "similarity", "approx", "check"),
)
def q_embedding_lsh_near_dup_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = lifetime.persist(
        embedding_near_dup_pairs(emb, threshold=0.42).select("d1", "d2")
    )
    lsh = lifetime.persist(
        embedding_near_dup_lsh(emb, threshold=0.42).select("d1", "d2")
    )
    n_exact = _scalar(exact, F.count(F.lit(1)), "n_exact_pairs")
    missed = _scalar(
        exact.join(lsh, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "m"
    )
    extra = _scalar(
        lsh.join(exact, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "x"
    )
    return (
        n_exact.crossJoin(F.broadcast(missed))
        .crossJoin(F.broadcast(extra))
        .select(
            "n_exact_pairs",
            (F.col("x") == 0).alias("lsh_subset_ok"),
            (
                F.lit(20) * (F.col("n_exact_pairs") - F.col("m"))
                >= F.lit(19) * F.col("n_exact_pairs")
            ).alias("recall_ge_095_ok"),
        )
    )


@register(
    "embedding_lsh_t090_recall_check",
    oracle="""
WITH
  base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
  -- twin hash binds the ORIGINAL id via the distinct name src_id; never
  -- shadow vec_id with the +1e6 alias inside the lambda (r8 advisor item)
  twins AS (
    SELECT src_id + 1000000 AS vec_id,
           list_transform(e, (x, i) -> x + 0.05 * (
             (CAST('0x' || substr(md5(CAST(src_id AS VARCHAR) || ':' ||
                                      CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
              % 2001 - 1000) / 1000.0)) AS e
    FROM (SELECT vec_id AS src_id, e FROM base WHERE vec_id % 10 = 0)
  ),
  aug AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS lsh_subset_ok,
       TRUE AS recall_ge_095_ok
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.90
""",
    description="Production-regime (t=0.90, lsh_params-derived params) "
    "sign-LSH contract as a full oracle over the planted-twin corpus: "
    "the exact cosine>=0.90 pair count is hash-checked against DuckDB "
    "replaying the SAME md5-deterministic twin construction, "
    "`lsh_subset_ok` pins precision (rerank IS the exact tier), and "
    "`recall_ge_095_ok` is the integer-arithmetic recall floor. "
    "Companion to rows-only embedding_near_dup_lsh_t090.",
    tags=("dedup", "similarity", "approx", "check"),
)
def q_embedding_lsh_t090_recall_check(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )
    from mapreduce_paradigm_spark.queries.llm import _planted_twin_embeddings

    aug = _planted_twin_embeddings(spark, sf_dir)
    exact = lifetime.persist(
        embedding_near_dup_pairs(aug, threshold=0.90, emb_col="e").select(
            "d1", "d2"
        )
    )
    lsh = lifetime.persist(
        embedding_near_dup_lsh(aug, threshold=0.90, emb_col="e").select("d1", "d2")
    )
    n_exact = _scalar(exact, F.count(F.lit(1)), "n_exact_pairs")
    missed = _scalar(
        exact.join(lsh, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "m"
    )
    extra = _scalar(
        lsh.join(exact, ["d1", "d2"], "left_anti"), F.count(F.lit(1)), "x"
    )
    return (
        n_exact.crossJoin(F.broadcast(missed))
        .crossJoin(F.broadcast(extra))
        .select(
            "n_exact_pairs",
            (F.col("x") == 0).alias("lsh_subset_ok"),
            (
                F.lit(20) * (F.col("n_exact_pairs") - F.col("m"))
                >= F.lit(19) * F.col("n_exact_pairs")
            ).alias("recall_ge_095_ok"),
        )
    )


@register(
    "hyperball_accuracy_check",
    oracle="""
WITH RECURSIVE e AS (
  SELECT DISTINCT a, b FROM (
    SELECT doc_id AS a,
           (doc_id * 31 + k.k) % (SELECT count(*) FROM documents) AS b
    FROM documents, (VALUES (1), (2), (3)) k(k)
  ) WHERE a <> b
),
bfs(src, node, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT bfs.src, e.b, bfs.depth + 1
  FROM bfs JOIN e ON e.a = bfs.node
  WHERE bfs.depth < 4
),
d AS (SELECT src, node, min(depth) AS dist FROM bfs GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_pairs_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_nodes,
       TRUE AS rel_err_le_010_ok
FROM d WHERE dist <= 4
""",
    description="HyperBall contract as a full oracle (the round-5 ask: the "
    "last rows-only tier whose accuracy is SQL-checkable): the EXACT "
    "neighborhood-function N(4) pair count is hash-checked against the "
    "DuckDB recursive-CTE BFS, `n_nodes` pins the graph size, and "
    "`rel_err_le_010_ok` pins the HLL-register estimate (m=64, "
    "xxhash64-derived — deterministic, hence assertable as a hard "
    "boolean) within 10% of the exact count — the same floor the "
    "sf0.001 pytest pin uses; per-ball std error is ~13% but the "
    "n-vertex sum concentrates well inside it. Companion to rows-only "
    "doc_graph_hyperball; the exact tier reuses "
    "doc_graph_neighborhood_function's builder, so the two registered "
    "queries can never drift apart silently.",
    tags=("graph", "sketch", "approx", "check"),
)
def q_hyperball_accuracy_check(spark, sf_dir):
    from mapreduce_paradigm_spark.queries.graphtext import (
        q_doc_graph_hyperball,
        q_doc_graph_neighborhood_function,
    )

    exact = (
        q_doc_graph_neighborhood_function(spark, sf_dir)
        .filter(F.col("radius") == 4)
        .select(F.col("pairs").cast("long").alias("n_pairs_exact"))
    )
    est = q_doc_graph_hyperball(spark, sf_dir).select(
        "nf4_est", F.col("n_nodes").cast("long").alias("n_nodes")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_pairs_exact",
        "n_nodes",
        (
            F.abs(F.col("nf4_est") - F.col("n_pairs_exact")) * 10
            <= F.col("n_pairs_exact")
        ).alias("rel_err_le_010_ok"),
    )
