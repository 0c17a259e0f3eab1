"""Opt-in skew/adversarial gate: SPARK_GRAFT_SKEW_GATE=1 pytest tests/test_skew_gate.py

The sf* fixtures are benign-uniform, so the engine's skew defenses — the
shingle df-cap (operators/dedup.py jaccard_pairs max_shingle_df) and the
salted join (operators/salted.py salted_join) — were previously argued in
docstrings, not measured. This gate builds two ADVERSARIAL fixtures at
~sf0.3 volume and pins that the mitigated plans beat the naive forms ≥2×:

- a templated near-dup-heavy corpus (15k docs, 40 template groups of 150
  near-identical docs => shared shingles with df≈130, the Σdf² blowup the
  cap exists for);
- a hot-key fact (2M rows, 90% on ONE key) joined to a 20k-row dim that is
  too big/dynamic to broadcast at scale (broadcast disabled to simulate),
  with a digest-enrichment reduce stage — the regime where one reducer
  otherwise serializes 90% of the work. AQE skew-join split is disabled
  for BOTH legs (its partition-byte thresholds don't trigger at this
  volume anyway — measured and recorded — which is precisely the
  below-threshold gap salting fills; see salted_join docstring).

Every measured number is written to .gates/skew.json so the per-round
GATES artifact can record the claim with evidence.

All data is generated with deterministic Spark expressions (xxhash64 of
row ids — no Python RNG), so the gate is reproducible bit-for-bit.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SKEW_GATE"),
    reason="adversarial skew gate is opt-in: SPARK_GRAFT_SKEW_GATE=1 "
    "(~2 min; generates ~sf0.3 skewed fixtures and times naive vs "
    "mitigated plans)",
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_OUT = os.path.join(_REPO, ".gates")


def _record(key: str, payload: dict) -> None:
    os.makedirs(_OUT, exist_ok=True)
    path = os.path.join(_OUT, "skew.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[key] = payload
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


def _timed_noop(df, reps: int = 3) -> float:
    """min-of-reps steady-state wall seconds through the noop sink."""
    df.write.format("noop").mode("overwrite").save()  # warm: plan+JIT
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.fixture(scope="module")
def skew_dir(spark):
    """Deterministic adversarial fixtures, written once per gate run."""
    d = tempfile.mkdtemp(prefix="skew_gate_")

    # --- templated near-dup corpus: 40 groups x 150 docs + 9000 uniques.
    # Template docs draw word i from a 500-word template vocab keyed by
    # group id, with ~5% of positions perturbed to a doc-unique token —
    # so within-group Jaccard stays >= ~0.8 (true near-dups) while shared
    # shingles reach df ~ 150 * 0.857 ≈ 130.
    n_docs, gsize, words, tdocs = 15000, 150, 60, 6000
    word = (
        f"CASE WHEN id < {tdocs} THEN "
        f"  CASE WHEN pmod(xxhash64(id, i, 42), 20) = 0 "
        f"       THEN concat('u', id, '_', i) "
        f"       ELSE concat('w', pmod(xxhash64(CAST(id/{gsize} AS BIGINT), i, 7), 500)) END "
        f"ELSE concat('r', pmod(xxhash64(id, i, 99), 50000)) END"
    )
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(1, {words}), i -> {word}))"
        ).alias("text"),
    ).write.mode("overwrite").parquet(os.path.join(d, "docs"))

    # --- hot-key join fixture: 2M fact rows, 90% on key 0, 20k cold keys.
    spark.range(2_000_000).select(
        F.col("id").alias("row_id"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(10)) < 9, F.lit(0))
        .otherwise(1 + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(20000)))
        .alias("k"),
    ).write.mode("overwrite").parquet(os.path.join(d, "fact"))
    spark.range(20_001).select(
        F.col("id").alias("k"),
        F.concat(F.lit("dim_"), F.col("id")).alias("name"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100)).alias("grp"),
    ).write.mode("overwrite").parquet(os.path.join(d, "dim"))
    return d


def test_dfcap_beats_uncapped_on_template_skew(spark, skew_dir):
    """The shingle df-cap must beat the uncapped inverted-list pair
    explode >= 2x on a template-heavy corpus (measured ~10x). The cap is
    the documented lossy-for-pathological-templates tier; the LOSSLESS
    exact tier at scale is jaccard_pairs_prefix_filter, whose time is
    recorded alongside for the cost picture."""
    from mapreduce_paradigm_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix_filter,
    )
    from mapreduce_paradigm_spark.lifetime import release_caches

    docs = spark.read.parquet(os.path.join(skew_dir, "docs"))
    t_capped = _timed_noop(jaccard_pairs(docs, k=3, threshold=0.5, max_shingle_df=50))
    release_caches()
    t_uncapped = _timed_noop(jaccard_pairs(docs, k=3, threshold=0.5), reps=1)
    release_caches()
    t_ppjoin = _timed_noop(
        jaccard_pairs_prefix_filter(docs, k=3, threshold=0.5), reps=1
    )
    release_caches()
    ratio = t_uncapped / t_capped
    _record(
        "dfcap_template_skew",
        {
            "capped_sec": round(t_capped, 3),
            "uncapped_sec": round(t_uncapped, 3),
            "ppjoin_lossless_sec": round(t_ppjoin, 3),
            "ratio_uncapped_over_capped": round(ratio, 2),
            "docs": 15000,
            "template_groups": 40,
            "group_size": 150,
        },
    )
    assert ratio >= 2.0, (
        f"df-cap must beat the naive uncapped explode >=2x on template "
        f"skew; got {ratio:.2f}x (capped {t_capped:.2f}s, uncapped "
        f"{t_uncapped:.2f}s)"
    )


def test_salted_join_beats_naive_on_hot_key(spark, skew_dir):
    """salted_join must beat the unsalted shuffle join >= 2x when one key
    holds 90% of the fact and the reduce side does real per-row work —
    with identical results. AQE's skew split is OFF for both legs (and
    recorded ON for the naive leg: its byte thresholds don't fire at this
    volume, the documented below-threshold gap salting fills)."""
    from mapreduce_paradigm_spark.operators.salted import salted_join

    fact = spark.read.parquet(os.path.join(skew_dir, "fact"))
    dim = spark.read.parquet(os.path.join(skew_dir, "dim"))

    def enrich(j):
        h = F.concat("name", F.col("row_id").cast("string"))
        for _ in range(8):  # digest chain: the featurize-after-join shape
            h = F.sha2(h, 256)
        return j.select("grp", h.alias("h")).groupBy("grp").agg(
            F.count("*").alias("n"), F.max("h").alias("mh")
        )

    conf = spark.conf
    old_bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_skew = conf.get("spark.sql.adaptive.skewJoin.enabled")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        naive = enrich(fact.join(dim, "k"))
        salted = enrich(salted_join(fact, dim, "k", "k", buckets=16))
        t_naive = _timed_noop(naive)
        t_salted = _timed_noop(salted)
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t_naive_aqe = _timed_noop(naive, reps=2)
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        same = (
            naive.orderBy("grp")
            .toPandas()
            .equals(salted.orderBy("grp").toPandas())
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        conf.set("spark.sql.adaptive.skewJoin.enabled", old_skew)

    ratio = t_naive / t_salted
    _record(
        "salted_join_hot_key",
        {
            "naive_sec": round(t_naive, 3),
            "salted_sec": round(t_salted, 3),
            "naive_aqe_skew_on_sec": round(t_naive_aqe, 3),
            "ratio_naive_over_salted": round(ratio, 2),
            "results_identical": bool(same),
            "fact_rows": 2_000_000,
            "hot_share": 0.9,
            "buckets": 16,
        },
    )
    assert same, "salted join must produce identical results to the plain join"
    assert ratio >= 2.0, (
        f"salted_join must beat the naive shuffle join >=2x under 90% "
        f"hot-key skew; got {ratio:.2f}x (naive {t_naive:.2f}s, salted "
        f"{t_salted:.2f}s)"
    )


def test_embedding_cluster_tier_beats_exact_on_hot_direction_cluster(spark):
    """Round-5 verdict ask #6: the SemDeDup hot-cluster claims were
    documented but unmeasured. Adversarial fixture: 30% of a 6k-vector
    corpus concentrated in one direction cone (center + 1.4x noise, so
    in-cone pairwise cosine straddles the 0.42 threshold), the regime
    where candidate generation collapses into one hot bucket/cluster.

    Measured pins (see .gates/skew.json `embedding_hot_cluster`).
    Round 12: the pins moved from WALL-CLOCK ratios to CANDIDATE-PAIR
    counts (`semdedup_stats`' n_candidate_pairs_raw vs the all-pairs
    n(n-1)/2). The old >=2x wall pin encoded the exact tier's
    interpreted-fold constant factor; this round vectorized that tier
    ~9x (see OPTIMIZATION_r12.md §4), so at 6k vectors the constant
    race flips (exact 3.7 s vs sem8 11.4 s measured) while the claim
    the gate exists to protect — the cluster-scoped tier scores
    asymptotically FEWER pairs, which is what survives at 100 TB where
    no implementation constant rescues n^2/2 — is implementation-
    independent and stays pinned:
    - sem8's scored candidate pairs must undercut all-pairs >=1.5x on
      the hot cone at recall >= 0.95 (measured 1.65x, 0.997 — the cone
      deliberately straddles the threshold, so the hot cluster is
      genuinely dense and nlist=8 cannot reduce much below the hot
      cluster's own width^2; that is exactly what the next pin's
      sub-sharding is for);
    - raising nlist must cut candidate work further (the documented
      sub-shard mitigation: cluster count scales, sum|c|^2 stays
      bounded) — pinned on counts (measured 3.85x fewer at nlist=32,
      6.4x under all-pairs), recorded in seconds;
    - wall times for every tier are still RECORDED for the ledger,
      including the hyperplane-LSH tier, which on a direction-clustered
      hot spot honestly degrades to ~all-pairs candidates (every hot
      vector shares a sign pattern) — why the operator docstring steers
      hot-cluster sub-sharding to nlist scaling, not to LSH.
    """
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    n, hot, dim = 6000, 1800, 64
    center = "(CAST(pmod(xxhash64(j, 5), 2001) AS DOUBLE) - 1000)/1000"
    noise = "(CAST(pmod(xxhash64(id, j, 13), 2001) AS DOUBLE) - 1000)/1000"
    unif = "(CAST(pmod(xxhash64(id, j, 11), 2001) AS DOUBLE) - 1000)/1000"
    d = tempfile.mkdtemp(prefix="emb_skew_")
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), j -> "
            f"CASE WHEN id < {hot} THEN {center} + 1.4*{noise} "
            f"ELSE {unif} END)"
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(d)
    emb = spark.read.parquet(d)

    t_exact = _timed_noop(embedding_near_dup_pairs(emb, threshold=0.42), reps=1)
    t_lsh = _timed_noop(embedding_near_dup_lsh(emb), reps=1)
    t_sem8 = _timed_noop(
        semantic_cluster_near_dups(emb, threshold=0.42, nlist=8), reps=1
    )
    t_sem32 = _timed_noop(
        semantic_cluster_near_dups(emb, threshold=0.42, nlist=32), reps=1
    )
    n_exact = embedding_near_dup_pairs(emb, threshold=0.42).count()
    n_sem8 = semantic_cluster_near_dups(emb, threshold=0.42, nlist=8).count()
    n_sem32 = semantic_cluster_near_dups(emb, threshold=0.42, nlist=32).count()
    cand8 = semdedup_stats(emb, nlist=8)["n_candidate_pairs_raw"]
    cand32 = semdedup_stats(emb, nlist=32)["n_candidate_pairs_raw"]
    all_pairs = n * (n - 1) // 2

    cand_ratio8 = all_pairs / cand8
    recall8 = n_sem8 / n_exact
    _record(
        "embedding_hot_cluster",
        {
            "vectors": n,
            "hot_share": hot / n,
            "exact_sec": round(t_exact, 3),
            "lsh_sec": round(t_lsh, 3),
            "sem_nlist8_sec": round(t_sem8, 3),
            "sem_nlist32_sec": round(t_sem32, 3),
            "all_pairs": all_pairs,
            "sem8_candidate_pairs": cand8,
            "sem32_candidate_pairs": cand32,
            "ratio_allpairs_over_sem8_candidates": round(cand_ratio8, 2),
            "ratio_exact_over_sem8_sec": round(t_exact / t_sem8, 2),
            "ratio_exact_over_lsh_sec": round(t_exact / t_lsh, 2),
            "true_pairs": n_exact,
            "sem8_recall": round(recall8, 4),
            "sem32_recall": round(n_sem32 / n_exact, 4),
        },
    )
    # Derivation of the 1.5 floor (r12 advisor ask — so a future failure is
    # diagnosable as fixture drift vs regression): with 30% of vectors in
    # the hot cone and the rest spread over nlist=8 clusters, candidate
    # mass is Σ|c|²/2 ≈ (0.3n)²/2 + 7·(0.1n)²/2 = 0.08n² vs all-pairs
    # n²/2 → a ~6× ideal ratio; multi-assignment (nassign=2) up to
    # quadruples candidate mass (×4 → 1.56×) in the worst case where
    # every vector's two clusters both collide. 1.5 is therefore the
    # conservative bound the GEOMETRY guarantees regardless of how Lloyd
    # refinement splits the cone; the measured value is ~1.65×. A failure
    # below 1.5 means assignment stopped respecting cluster geometry (a
    # real regression), not fixture noise — counts are deterministic for
    # fixed inputs.
    assert cand_ratio8 >= 1.5, (
        f"cluster-scoped tier must score >=1.5x fewer candidates than "
        f"all-pairs on a hot direction cluster; got {cand_ratio8:.2f}x "
        f"({cand8} of {all_pairs})"
    )
    assert recall8 >= 0.95, f"sem8 recall {recall8:.4f} under hot cluster"
    assert cand32 < cand8, (
        f"raising nlist must cut candidate work (sub-shard claim): "
        f"nlist=32 {cand32} pairs vs nlist=8 {cand8} pairs"
    )
