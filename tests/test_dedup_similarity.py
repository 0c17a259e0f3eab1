"""Dedup + similarity operator tests: planted cases and approximate-tier
recall against the exact tiers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.operators.dedup import (
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_near_pairs,
)
from mapreduce_paradigm_spark.operators.similarity import lsh_topk_cosine, topk_cosine
from mapreduce_paradigm_spark.sources.tables import load_table

from .conftest import SF_CORRECT, rerank_regime_claims


def test_exact_dedup_groups_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),  # same after normalization
            (3, "HELLO  WORLD "),
            (4, "different entirely"),
        ],
        "doc_id BIGINT, text STRING",
    )
    groups = {r["keep_doc_id"]: r["n_copies"] for r in exact_duplicate_groups(docs).collect()}
    assert groups == {1: 3, 4: 1}


def test_jaccard_pairs_identical_docs(spark):
    text = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "x y z w v u t s r q")], "doc_id BIGINT, text STRING"
    )
    rows = jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert [(r["d1"], r["d2"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_jaccard_df_cap_identical_below_cap_and_prunes_above(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    uncapped = {(r["d1"], r["d2"], r["jaccard"]) for r in jaccard_pairs(docs, 3, 0.5).collect()}
    capped = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in jaccard_pairs(docs, 3, 0.5, max_shingle_df=64).collect()
    }
    # fixture max shingle df is 7 → a 64 cap must be a no-op
    assert capped == uncapped
    # a cap below a stop-shingle's df drops it from BOTH n_common and sizes:
    # docs 1/2 share only the stop-shingle (df=3) → pair disappears under cap=2
    stop = "the quick brown"
    tiny = spark.createDataFrame(
        [(1, stop + " fox"), (2, stop + " dog"), (3, stop + " cat")],
        "doc_id BIGINT, text STRING",
    )
    with_stop = {(r["d1"], r["d2"]) for r in jaccard_pairs(tiny, 3, 0.3).collect()}
    without = {(r["d1"], r["d2"]) for r in jaccard_pairs(tiny, 3, 0.3, max_shingle_df=2).collect()}
    assert with_stop and not without


def test_minhash_lsh_recall_and_precision(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {(r["d1"], r["d2"]) for r in jaccard_pairs(docs, 3, 0.5).collect()}
    approx = {(r["d1"], r["d2"]) for r in minhash_lsh_pairs(docs, 3, 32, 8, 0.5).collect()}
    assert approx <= exact  # precision exact (verified candidates)
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall}: {exact - approx}"


def test_simhash_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww")],
        "doc_id BIGINT, text STRING",
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[1] == fp[2] != fp[3]
    pairs = {(r["d1"], r["d2"]): r["hamming"] for r in simhash_near_pairs(docs, 3).collect()}
    assert pairs == {(1, 2): 0}


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = {(r["d1"], r["d2"], r["cosine"]) for r in embedding_near_dup_pairs(emb).collect()}
    approx = {(r["d1"], r["d2"], r["cosine"]) for r in embedding_near_dup_lsh(emb).collect()}
    # rerank is the exact tier's cosine+threshold → candidates only remove pairs
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall}: missed {exact - approx}"


def test_lsh_params_scale_rule_and_recall_guarantee():
    """Pure-math pins for the banding-analysis parameter derivation
    (independent of Spark): the derived nbits tracks log2(n) at high
    thresholds, the bands cap binds at low thresholds (where sign-LSH is
    documented non-selective), and the (nbits, bands) pair always meets
    the recall guarantee P(candidate) = 1-(1-p^nbits)^bands ≥ target at
    the threshold angle."""
    import math

    from mapreduce_paradigm_spark.operators.dedup import lsh_params

    for t, recall in ((0.9, 0.95), (0.9, 0.99), (0.7, 0.95)):
        p = 1.0 - math.acos(t) / math.pi
        last_nbits = 0
        for n in (1_000, 50_000, 500_000, 5_000_000, 500_000_000):
            prm = lsh_params(n, t, target_recall=recall)
            assert prm["nbits"] >= last_nbits  # monotone in n
            last_nbits = prm["nbits"]
            got = 1.0 - (1.0 - p ** prm["nbits"]) ** prm["bands"]
            assert got >= recall - 1e-12, (t, n, prm, got)
    # high threshold, big n: optimum is 2^nbits ≈ n
    assert lsh_params(500_000, 0.9)["nbits"] == 19
    # low threshold: the auto budget SATURATES (at 8x the 128 floor) and
    # nbits stops growing — the same params come back at any corpus size
    # (non-selective regime; round 10: the saturated budget buys the
    # widest nbits 1024 bands afford, rather than collapsing to the floor)
    lo1, lo2 = lsh_params(50_000, 0.42), lsh_params(500_000_000, 0.42)
    assert lo1 == lo2 and lo1["nbits"] <= 12 and lo1["bands"] <= 1024
    # an explicit cap keeps the old floor behavior exactly
    lo_cap = lsh_params(500_000_000, 0.42, max_bands=128)
    assert lo_cap["nbits"] <= 8 and lo_cap["bands"] <= 128
    # recall guarantee still holds in both capped regimes
    p42 = 1.0 - math.acos(0.42) / math.pi
    for lo in (lo1, lo_cap):
        got = 1.0 - (1.0 - p42 ** lo["nbits"]) ** lo["bands"]
        assert got >= 0.95


def test_lsh_params_warns_when_cap_forces_width_down():
    """Round-9: the band budget's OTHER failure mode — at high thresholds
    and large n, max_bands forces nbits below ceil(log2 n) and candidate
    growth leaves the n^(1+rho) curve (measured e=2.0 on the 2M->5M count
    step at t=0.90/128 bands). That domain edge must be LOUD at scale and
    quiet in the small-n / low-threshold regimes the docstring already
    documents."""
    import warnings

    from mapreduce_paradigm_spark.operators.dedup import lsh_params

    # past the domain edge with an EXPLICIT cap: reduced width, load >= 2,
    # big n → warns (explicit budgets are respected, never auto-raised)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = lsh_params(5_000_000, 0.9, target_recall=0.99, max_bands=128)
    assert prm == {"nbits": 21, "bands": 117}
    assert len(w) == 1 and "forces nbits 23->21" in str(w[0].message)
    assert "raise max_bands" in str(w[0].message)
    # raising the budget restores the ideal width — and the warning goes
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = lsh_params(5_000_000, 0.9, target_recall=0.99, max_bands=256)
    assert prm["nbits"] == 23 and not w
    # the AUTO budget (max_bands=None, the round-10 default) derives the
    # same ideal-width setting with NO warning: the 128 floor would pin
    # nbits at 21 (load 2.4), so the budget is raised to the ideal
    # width's requirement — exactly the (23, 161) the r9 counts receipt
    # measured back on the theory curve (_b256_r9.json)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = lsh_params(5_000_000, 0.9, target_recall=0.99)
    assert prm == {"nbits": 23, "bands": 161} and not w
    # inside the domain: no reduction, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lsh_params(500_000, 0.9, target_recall=0.99, max_bands=128)
    assert not w
    # small-fixture low threshold: reduced but quiet (documented regime)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lsh_params(500, 0.42)
    assert not w
    # BIG-corpus low threshold: also quiet — the ideal width would need
    # tens of thousands of bands (>8x any sane budget), so 'raise
    # max_bands' is not actionable advice there; that regime is the
    # operator docstring's documented non-selective caveat, not a budget
    # mistake (round-9 self-review finding)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lsh_params(1_000_000, 0.42)
    assert not w


def test_lsh_params_cap_warns_with_achieved_recall():
    """Round-7 advisor: when even the nbits floor cannot meet the recall
    target within max_bands, the cap must WARN and report the achieved
    recall instead of silently violating the documented guarantee."""
    import math
    import warnings

    from mapreduce_paradigm_spark.operators.dedup import lsh_params

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = lsh_params(1_000, 0.05, target_recall=0.999, max_bands=64)
    assert prm == {"nbits": 4, "bands": 64}
    assert len(w) == 1 and issubclass(w[0].category, UserWarning)
    msg = str(w[0].message)
    assert "capping" in msg and "achieved recall" in msg
    p = 1.0 - math.acos(0.05) / math.pi
    achieved = 1.0 - (1.0 - p**4) ** 64
    assert f"{achieved:.4f}" in msg
    # the same target under the AUTO default's 128 floor is REACHABLE
    # (needs 95 bands at the nbits floor) — met exactly, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = lsh_params(1_000, 0.05, target_recall=0.999)
    assert prm["nbits"] == 4 and 64 < prm["bands"] <= 128 and not w
    got = 1.0 - (1.0 - p**4) ** prm["bands"]
    assert got >= 0.999
    # a reachable target warns nothing
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lsh_params(50_000, 0.9)
    assert not w
    # p**nbits underflow → inf sentinel, never ZeroDivisionError
    from mapreduce_paradigm_spark.operators.dedup import _bands_for_recall

    assert _bands_for_recall(0.5, 5000, 0.95) == math.inf
    assert _bands_for_recall(1.0, 8, 0.95) == 1


def test_embedding_lsh_param_modes(spark):
    """Explicit-nbits callers get a derived band count meeting the recall
    target; bands-without-nbits is rejected as ambiguous."""
    import math

    from mapreduce_paradigm_spark.operators.dedup import embedding_near_dup_lsh

    emb = load_table(spark, SF_CORRECT, "embeddings")
    with pytest.raises(ValueError, match="ambiguous"):
        embedding_near_dup_lsh(emb, bands=24)
    # nbits fixed at 12, t=0.90, target 0.99 → bands = ceil(ln.01/ln(1-p^12))
    p = 1.0 - math.acos(0.90) / math.pi
    want = math.ceil(math.log(0.01) / math.log(1.0 - p**12))
    df = embedding_near_dup_lsh(emb, threshold=0.90, nbits=12)
    assert df.columns == ["d1", "d2", "cosine"]  # plan builds lazily
    assert 1 <= want <= 64  # the derived count is in the uncapped regime
    # degenerate inputs get the SAME clear errors as the lsh_params path,
    # not math-domain crashes (round-8 review finding)
    with pytest.raises(ValueError, match="target_recall"):
        embedding_near_dup_lsh(emb, threshold=0.90, nbits=12, target_recall=1.0)
    with pytest.raises(ValueError, match="threshold"):
        embedding_near_dup_lsh(emb, threshold=1.5, nbits=12)
    # p**nbits underflow (huge nbits at a low threshold) caps with a
    # warning instead of ZeroDivisionError
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df2 = embedding_near_dup_lsh(emb, threshold=0.42, nbits=60)
    assert df2.columns == ["d1", "d2", "cosine"]
    assert any("capping" in str(x.message) for x in w)


def test_simhash_params_derivation_pins():
    """Block-count derivation: monotone in n, m > d always, the fixture
    scales keep small tables, the documented 1e7 boundary gets a wider
    layout, and an unreachable width budget warns loudly."""
    import warnings

    from mapreduce_paradigm_spark.operators.dedup import (
        _simhash_blocks,
        simhash_params,
    )

    # historical layout is the m=4 split exactly
    assert _simhash_blocks(4) == [(0, 16), (16, 16), (32, 16), (48, 15)]
    assert simhash_params(5_000) == {"n_blocks": 5}
    assert simhash_params(5_000_000) == {"n_blocks": 6}
    assert simhash_params(1_000_000_000) == {"n_blocks": 7}
    last = 0
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        m = simhash_params(n)["n_blocks"]
        assert m > 3 and m >= last
        last = m
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        prm = simhash_params(10**12, max_hamming=3, max_tables=4)
    assert prm == {"n_blocks": 4}
    assert len(w) == 1 and "superlinear" in str(w[0].message)


def test_simhash_near_pairs_layout_independent(spark):
    """The pigeonhole candidate set covers every hamming ≤ d pair in ANY
    valid block layout, so results are identical across n_blocks (absent
    megabuckets) — the derived default cannot change semantics."""
    docs = load_table(spark, SF_CORRECT, "documents")
    by_layout = [
        {
            (r["d1"], r["d2"], r["hamming"])
            for r in simhash_near_pairs(docs, 3, n_blocks=m).collect()
        }
        for m in (4, 5, 6)
    ]
    derived = {
        (r["d1"], r["d2"], r["hamming"])
        for r in simhash_near_pairs(docs, 3).collect()
    }
    assert by_layout[0] == by_layout[1] == by_layout[2] == derived
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(docs, 3, n_blocks=3)


def test_minhash_lsh_stats_counts(spark):
    """The stats helper mirrors the operator pipeline: distinct candidates
    bound raw collisions from below, signatures ≤ n·num_hashes, and every
    verified output pair is a candidate."""
    from mapreduce_paradigm_spark.operators.dedup import minhash_lsh_stats

    docs = load_table(spark, SF_CORRECT, "documents")
    st = minhash_lsh_stats(docs, k=3, num_hashes=32, bands=8)
    n = docs.count()
    assert 0 < st["n_signature_rows"] <= n * 32
    assert st["n_candidate_pairs_distinct"] <= st["n_candidate_pairs_raw"]
    verified = minhash_lsh_pairs(docs, 3, 32, 8, 0.5).count()
    assert verified <= st["n_candidate_pairs_distinct"]


def test_embedding_lsh_stats_counts(spark):
    """The embedding stats helper mirrors the operator's SHARED signature
    pipeline (``_sign_band_signatures``): signature rows are exactly
    n·bands (every vector signs every band — unlike MinHash there is no
    per-doc shingle dedup), raw collisions bound distinct candidates from
    above, and every emitted near-dup pair is a candidate."""
    from mapreduce_paradigm_spark.operators.dedup import (
        _COMBO_PAIR_EXPR,
        _sign_band_signatures,
        embedding_lsh_stats,
        embedding_near_dup_lsh,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    st = embedding_lsh_stats(emb, threshold=0.90, corpus_size=n)
    assert st["n_signature_rows"] == n * st["bands"]
    # independent distinct-candidate recount at this tiny n (the stats
    # helper deliberately never materializes pairs at scale)
    distinct = (
        lifetime.scoped(_sign_band_signatures)(
            emb, st["nbits"], st["bands"], 64, 7, "vec_id", "embedding"
        )
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_COMBO_PAIR_EXPR)).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
        .count()
    )
    assert distinct <= st["n_candidate_pairs_raw"]
    emitted = embedding_near_dup_lsh(
        emb, threshold=0.90, corpus_size=n
    ).count()
    assert emitted <= distinct


def test_semdedup_stats_counts(spark):
    """The SemDeDup stats helper mirrors the operator's SHARED quantizer
    pipeline (``_semantic_cluster_assignments``): assignment rows are
    exactly n·nassign (every non-NULL vector lands in nassign distinct
    clusters), Σ C(w,2) over cluster widths equals an independent
    pre-distinct recount of the operator's own in-cluster self-join (the
    pipeline is deterministic by construction, so two derivations agree
    exactly), the top-2 widths are consistent, and every emitted pair is
    a candidate."""
    from mapreduce_paradigm_spark.operators.dedup import (
        _semantic_cluster_assignments,
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    st = semdedup_stats(emb)
    assert st["n_vectors"] == n
    assert st["nlist"] == max(8, -(-n // 600))
    assert st["n_assignment_rows"] == n * st["nassign"]
    assert st["top2_cluster_widths"] == sorted(
        st["top2_cluster_widths"], reverse=True
    )
    assert sum(st["top2_cluster_widths"]) <= st["n_assignment_rows"]
    # independent pre-distinct recount through the operator's own
    # assignment pipeline at this tiny n (the stats helper deliberately
    # never materializes pairs at scale)
    _, assigned, _, _, _, _, _ = _semantic_cluster_assignments(
        emb, None, 2, 2, "vec_id", "embedding", None
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    raw = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.id") < F.col("b.id")),
    ).count()
    assert raw == st["n_candidate_pairs_raw"]
    emitted = semantic_cluster_near_dups(emb).count()
    assert emitted <= st["n_candidate_pairs_raw"]


def test_semdedup_two_level_quantizer(spark):
    """The Θ(n·√nlist·dim) two-level assignment (round 10 — the
    deployment shape past the flat quantizer's n≈720k FLOP crossover)
    keeps the tier's contracts: emitted pairs are a SUBSET of the exact
    tier (precision exact — same verify), reruns are deterministic, and
    with PARTIAL super probing (nlist=64 → 8 supers, 4 probed) recall
    stays within 10% of flat assignment at the same nlist. With few
    supers (fixture-derived nlist=8 → 3 supers ≤ nprobe_super) probing
    is exhaustive and the output matches flat exactly. Stats helper
    consistency holds in two-level mode too."""
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = {
        (r["d1"], r["d2"])
        for r in embedding_near_dup_pairs(emb, threshold=0.42).collect()
    }
    # exhaustive-probe regime: identical to flat
    flat = {
        (r["d1"], r["d2"]) for r in semantic_cluster_near_dups(emb).collect()
    }
    tl = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(emb, two_level=True).collect()
    }
    assert tl == flat
    # partial-probe regime: subset of exact, deterministic, recall within
    # 10% of flat at the same nlist
    flat64 = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(emb, nlist=64).collect()
    }
    tl64 = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, nlist=64, two_level=True
        ).collect()
    }
    tl64b = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, nlist=64, two_level=True
        ).collect()
    }
    assert tl64 <= exact
    assert tl64 == tl64b
    r_flat = len(flat64 & exact) / len(exact)
    r_tl = len(tl64 & exact) / len(exact)
    assert r_tl >= 0.9 * r_flat, (r_tl, r_flat)
    # stats mirror: assignment rows ≤ n·nassign (probed supers can own
    # fewer than nassign children), candidates bound emitted pairs
    st = semdedup_stats(emb, nlist=64, two_level=True)
    n = emb.count()
    assert st["n_assignment_rows"] <= n * st["nassign"]
    assert len(tl64) <= st["n_candidate_pairs_raw"]


def test_semdedup_blocked_scoring_matches_unblocked(spark, monkeypatch):
    """Round-11 continuation: the 10M phase probe OOM-killed all 32
    python workers in Lloyd's scoring pass — X @ C.T at derived
    nlist=16,667 materializes a Θ(batch·nlist) ≈ 1.3 GB float64 matrix
    PER WORKER. Both scoring passes now chunk over ≤2048-centroid blocks
    (running argmax for Lloyd, running lexsort-top-na for flat
    assignment). At fixture nlist the default block is a single slice —
    literally the old computation — so this pin FORCES tiny blocks (5
    and 7, prime vs nlist=64 so block boundaries land mid-tie) and
    requires the emitted pair set to match the single-block baseline
    exactly, on the hash fixture AND on an all-ties one-hot corpus
    (integer-exact scores — block boundaries between tied centroids are
    the adversarial case for the cross-block merge's tie rule)."""
    import mapreduce_paradigm_spark.operators.dedup as dd
    import mapreduce_paradigm_spark.operators.similarity as sim
    from mapreduce_paradigm_spark.operators.dedup import (
        semantic_cluster_near_dups,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    dim = 8
    ties = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"j -> CAST(CASE WHEN j = id % 4 THEN 1 ELSE 0 END AS DOUBLE))"
        ).alias("embedding"),
    )

    def pairs(df, **kw):
        return {
            (r["d1"], r["d2"])
            for r in semantic_cluster_near_dups(df, **kw).collect()
        }

    base_fix = pairs(emb, nlist=64)
    base_tie = pairs(ties, threshold=0.9, nlist=8, lloyd_iters=0)
    monkeypatch.setattr(dd, "_ASSIGN_SCORE_BLOCK", 7)
    monkeypatch.setattr(sim, "_LLOYD_SCORE_BLOCK", 5)
    assert pairs(emb, nlist=64) == base_fix
    assert pairs(ties, threshold=0.9, nlist=8, lloyd_iters=0) == base_tie


def test_lloyd_partials_distributed_merge_bit_identical(spark, monkeypatch):
    """Round 12: the Θ(nlist·npartitions) Lloyd-partials collect is
    itself a cliff — the 80M probe's derived nlist=133,334 × 64
    partitions aborted on spark.driver.maxResultSize (1032.9 MiB of the
    first 31 task results). Past ``_LLOYD_PARTIALS_COLLECT_MAX`` the
    partials now merge EXECUTOR-side per list, left-folding from zeros
    in the exact (n, vec_sum) sort order the driver reduce uses — so
    the refined centroids must be BIT-identical, not merely close. This
    pin forces the distributed path (threshold 0) and requires
    ``tobytes()`` equality with the collect path across two Lloyd
    iterations (any FP reorder in iteration 1 would compound through
    iteration 2's assignments), plus operator-level pair-set equality
    through semantic_cluster_near_dups."""
    import mapreduce_paradigm_spark.operators.similarity as sim
    from mapreduce_paradigm_spark.operators.dedup import (
        semantic_cluster_near_dups,
    )
    from mapreduce_paradigm_spark.operators.similarity import (
        _lloyd_refine,
        _lowest_hash_rows,
        _unit_normalized,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    norm = _unit_normalized(emb, "embedding")
    cmat0 = np.array(
        [r[0] for r in _lowest_hash_rows(norm, 16, "vec_id")],
        dtype=np.float64,
    )
    c_norm = norm.select("emb_d")
    base_cmat = _lloyd_refine(c_norm, cmat0.copy(), 2)
    base_pairs = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(emb, nlist=16).collect()
    }
    monkeypatch.setattr(sim, "_LLOYD_PARTIALS_COLLECT_MAX", 0)
    dist_cmat = _lloyd_refine(c_norm, cmat0.copy(), 2)
    assert dist_cmat.tobytes() == base_cmat.tobytes()
    dist_pairs = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(emb, nlist=16).collect()
    }
    assert dist_pairs == base_pairs


def test_semdedup_tie_break_exact_under_tied_scores(spark):
    """Round-11 advisor item: the exhaustive-probe ``two_level == flat``
    equality must hold even when child cosine scores TIE exactly — both
    shapes share the (score DESC, cluster index ASC) tie-break, flat via
    stable argsort, two-level via per-merge lexsort on (child id, −score).
    The corpus here forces massive exact ties with NO FP ambiguity:
    one-hot integer vectors (4 distinct directions over 40 rows) make
    every normalized component exactly 0.0 or 1.0 and every cosine
    exactly 0.0 or 1.0 in BOTH paths' matmuls, the duplicate vectors make
    the seed pick produce duplicate centroids, and lloyd_iters=0 keeps
    them duplicated — so every vector ties across several centroids and
    an unstable sort would legally scatter assignments."""
    from mapreduce_paradigm_spark.operators.dedup import (
        semantic_cluster_near_dups,
    )

    dim = 8
    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"j -> CAST(CASE WHEN j = id % 4 THEN 1 ELSE 0 END AS DOUBLE))"
        ).alias("embedding"),
    )
    kw = dict(threshold=0.9, nlist=8, lloyd_iters=0)
    flat = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, two_level=False, **kw
        ).collect()
    }
    # nlist=8 -> ns=3 supers <= nprobe_super=4: exhaustive probing
    tl = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, two_level=True, **kw
        ).collect()
    }
    assert flat == tl and len(flat) > 0
    # rerun-determinism under ties, both shapes
    assert flat == {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, two_level=False, **kw
        ).collect()
    }
    assert tl == {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, two_level=True, **kw
        ).collect()
    }


def test_semdedup_two_level_auto_derivation(spark):
    """``two_level=None`` (the default) derives the assignment shape from
    the effective cluster count at the ``_TWO_LEVEL_AUTO_NLIST`` crossover
    (round 11): below it — every repo fixture — flat assignment runs with
    no warning; at/above it the two-level quantizer auto-enables with a
    loud UserWarning (the lsh_params auto-budget pattern), and an explicit
    ``two_level=False`` pins flat silently at any nlist. The constant
    itself must sit at the flat-FLOPs-vs-verify crossover: derived nlist =
    ceil(n/600) reaches it at n = 720k."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import (
        _TWO_LEVEL_AUTO_NLIST,
        semdedup_stats,
    )

    assert _TWO_LEVEL_AUTO_NLIST == 1200
    assert -(-(_TWO_LEVEL_AUTO_NLIST * 600) // 600) == _TWO_LEVEL_AUTO_NLIST
    def _auto_warns(w):
        return [
            x
            for x in w
            if "auto-enabling the two-level quantizer" in str(x.message)
        ]

    emb = load_table(spark, SF_CORRECT, "embeddings")
    # fixture default: derived nlist max(8, n/600) << bar -> flat, quiet
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st = semdedup_stats(emb)
    assert st["two_level"] is False and not _auto_warns(w)
    # the effective count is min(nlist, n), so the fixture (500 vectors)
    # can never clear the bar even with a huge explicit nlist — pin that
    # clamp, then exercise the crossover on a synthetic >=bar corpus
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st_clamp = semdedup_stats(emb, nlist=10 * _TWO_LEVEL_AUTO_NLIST)
    assert st_clamp["two_level"] is False and not _auto_warns(w)
    big = spark.range(_TWO_LEVEL_AUTO_NLIST + 100).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), j -> "
            "CAST(pmod(xxhash64(id, j), 1000) AS DOUBLE) / 1000.0 + 0.001)"
        ).alias("embedding"),
    )
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st2 = semdedup_stats(
            big, nlist=_TWO_LEVEL_AUTO_NLIST, lloyd_iters=0
        )
    assert st2["two_level"] is True
    assert _auto_warns(w)
    # explicit False at the same nlist: flat, quiet
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st3 = semdedup_stats(
            big, nlist=_TWO_LEVEL_AUTO_NLIST, lloyd_iters=0,
            two_level=False,
        )
    assert st3["two_level"] is False and not _auto_warns(w)


def test_semdedup_train_sample_size(spark):
    """Subsample Lloyd training (round 11 — the tier's last super-linear
    term): ``train_sample_size`` trains the quantizer on the deterministic
    lowest-xxhash64 slice while assignment covers the full corpus. Pins:
    output is a SUBSET of the exact tier (verify unchanged), rerun- and
    partitioning-deterministic, recall stays within 20% of full-corpus
    training at the same nlist on the fixture, the stats helper keeps its
    invariants under subsampling, and a sample smaller than nlist is
    rejected (the slice must cover the seed centroids)."""
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    exact = {
        (r["d1"], r["d2"])
        for r in embedding_near_dup_pairs(emb, threshold=0.42).collect()
    }
    # sample ~= 15x nlist (the ~100x heuristic is unreachable on a
    # 500-row fixture; measured: 250/16 holds a 0.93 recall ratio where
    # 125/64 — barely 2x nlist — collapses to 0.6, the documented
    # too-thin-sample regime)
    full = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(emb, nlist=16).collect()
    }
    sub = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, nlist=16, train_sample_size=n // 2
        ).collect()
    }
    sub2 = {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, nlist=16, train_sample_size=n // 2
        ).collect()
    }
    assert sub <= exact
    assert sub == sub2
    r_full = len(full & exact) / len(exact)
    r_sub = len(sub & exact) / len(exact)
    assert r_sub >= 0.8 * r_full, (r_sub, r_full)
    # sample >= corpus degrades to full-corpus training exactly
    assert full == {
        (r["d1"], r["d2"])
        for r in semantic_cluster_near_dups(
            emb, nlist=16, train_sample_size=10 * n
        ).collect()
    }
    # stats invariants hold under subsampling
    st = semdedup_stats(emb, nlist=16, train_sample_size=n // 2)
    assert st["n_assignment_rows"] == n * st["nassign"]
    assert len(sub) <= st["n_candidate_pairs_raw"]
    with pytest.raises(ValueError, match="train_sample_size"):
        semantic_cluster_near_dups(emb, nlist=16, train_sample_size=8)


def test_semdedup_train_sample_auto_derivation(spark, monkeypatch):
    """``train_sample_size=None`` DERIVES the Lloyd training slice past
    the ``_TWO_LEVEL_AUTO_NLIST`` crossover (round 12 — the tier's last
    caller-opt-in knob): max(floor, per_centroid·nlist) capped at the
    corpus, with a loud UserWarning. Pins: (a) the constants reproduce
    the round-11 receipt value at 2M — derived == the explicit 500k the
    committed counts ladder trained on; (b) fixture-scale defaults stay
    full-corpus-trained and QUIET; (c) with the crossover forced down,
    the derived pair set is IDENTICAL to the same value passed
    explicitly; (d) recall vs full-corpus training holds the 0.8× floor;
    (e) the stats receipt reports the resolved slice."""
    import warnings as _w

    import mapreduce_paradigm_spark.operators.dedup as dd
    from mapreduce_paradigm_spark.operators.dedup import (
        _TRAIN_SAMPLE_FLOOR,
        _TRAIN_SAMPLE_PER_CENTROID,
        embedding_near_dup_pairs,
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    # (a) derived == explicit at the committed 2M receipt point: nlist =
    # ceil(2e6/600) = 3334, per-centroid term 39·3334 = 130k < the 500k
    # floor — so the derivation lands exactly on the value the r11
    # ladder trained on (.gates/sf1_zipf_semdedup_counts_2l_sub_r11.json)
    assert _TRAIN_SAMPLE_FLOOR == 500_000
    assert _TRAIN_SAMPLE_PER_CENTROID == 39
    nlist_2m = max(8, -(-2_000_000 // 600))
    assert (
        max(_TRAIN_SAMPLE_FLOOR, _TRAIN_SAMPLE_PER_CENTROID * nlist_2m)
        == 500_000
    )

    def _derive_warns(w):
        return [
            x
            for x in w
            if "auto-deriving Lloyd train_sample_size" in str(x.message)
        ]

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    # (b) fixture scale: below the crossover — full-corpus training, quiet
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st = semdedup_stats(emb)
    assert st["train_sample_size"] == st["n_vectors"]
    assert not _derive_warns(w)

    def pairs(**kw):
        return {
            (r["d1"], r["d2"])
            for r in semantic_cluster_near_dups(
                emb, nlist=16, two_level=False, **kw
            ).collect()
        }

    # full-corpus baseline BEFORE forcing the crossover down
    full = pairs()
    # (c) force the crossover below the fixture: floor 250 at nlist 16 is
    # the existing explicit-knob test's measured healthy regime (250/16 ≈
    # 15×nlist holds a 0.93 recall ratio)
    monkeypatch.setattr(dd, "_TWO_LEVEL_AUTO_NLIST", 8)
    monkeypatch.setattr(dd, "_TRAIN_SAMPLE_FLOOR", 250)
    monkeypatch.setattr(dd, "_TRAIN_SAMPLE_PER_CENTROID", 1)
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        derived = pairs()
    assert _derive_warns(w)
    explicit = pairs(train_sample_size=250)
    assert derived == explicit
    # explicit >= corpus pins full-corpus training even past the crossover
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        pinned_full = pairs(train_sample_size=10 * n)
    assert pinned_full == full and not _derive_warns(w)
    # (d) recall floor vs full training (the explicit-knob convention)
    exact = {
        (r["d1"], r["d2"])
        for r in embedding_near_dup_pairs(emb, threshold=0.42).collect()
    }
    r_full = len(full & exact) / len(exact)
    r_derived = len(derived & exact) / len(exact)
    assert r_derived >= 0.8 * r_full, (r_derived, r_full)
    # (e) the stats receipt records the resolved slice
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st2 = semdedup_stats(emb, nlist=16, two_level=False)
    assert st2["train_sample_size"] == 250 and _derive_warns(w)


def test_lowest_hash_seed_pick_two_pass(spark):
    """Round-12 seed-pick rework: the shared lowest-xxhash64 sample/seed
    pick is now two-pass (executor-side cutoff, then collect exactly ≈k
    vectors) instead of a TakeOrdered shipping P·k full vector rows to
    the driver. Pins: (a) byte-identical output — same rows, same
    ascending-hash ORDER (cluster ids key off seed order) — vs the naive
    shape on the fixture at several k; (b) empty input yields []; (c)
    the cutoff pass plans the limit UNDER the aggregate — a mid-plan
    TakeOrderedAndProject executes per-partition top-k + single-
    partition shuffle merge (executor-side doExecute), unlike the
    TERMINAL TakeOrdered of the naive collect whose executeCollect
    merges P·k full rows on the driver."""
    from mapreduce_paradigm_spark.operators.similarity import (
        _lowest_hash_rows,
        _unit_normalized,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    unit = _unit_normalized(emb).select("vec_id", "emb_d")
    for k in (1, 16, 100, 10_000_000):
        naive = (
            unit.withColumn("_h", F.xxhash64(F.col("vec_id")))
            .orderBy("_h")
            .limit(k)
            .select("emb_d")
            .collect()
        )
        got = _lowest_hash_rows(unit, k, "vec_id")
        assert got == naive, k
    assert _lowest_hash_rows(unit.filter("vec_id < 0"), 5, "vec_id") == []
    cut_plan = (
        unit.withColumn("_h", F.xxhash64(F.col("vec_id")))
        .select("_h")
        .orderBy("_h")
        .limit(16)
        .agg(F.max("_h"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the aggregate must sit ABOVE the limit: that is what flips
    # TakeOrderedAndProject from executeCollect (driver merge of P·k
    # rows) to doExecute (per-partition top-k + 1-partition exchange)
    assert "HashAggregate" in cut_plan, cut_plan
    assert cut_plan.index("HashAggregate") < cut_plan.index(
        "TakeOrderedAndProject"
    ), cut_plan
    # and the limit pass carries ONLY the 8-byte hash column
    assert "output=[_h#" in cut_plan, cut_plan


def test_lsh_derived_params_claim_verified(spark):
    """Round-12 advisor item: on the DERIVED path (nbits=None) a caller
    ``corpus_size`` is probe-verified BEFORE it feeds the nbits/bands
    derivation — an understated claim used to derive nbits too small and
    grow candidates as n²/2^nbits with no signal. Understated ⇒ warn +
    derive from a full count (params equal the no-claim derivation);
    accurate ⇒ quiet, params equal the no-claim derivation; OVERSTATED ⇒
    kept as the caller's conservative posture (more selective nbits, the
    regime-boundary pins in test_plans.py force the 100 TB merge shape
    exactly this way)."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import embedding_lsh_stats

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    honest = embedding_lsh_stats(emb, threshold=0.90)
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        lied = embedding_lsh_stats(emb, threshold=0.90, corpus_size=n // 10)
    assert any("understates the actual corpus" in str(x.message) for x in w)
    assert (lied["nbits"], lied["bands"]) == (honest["nbits"], honest["bands"])
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        claimed = embedding_lsh_stats(emb, threshold=0.90, corpus_size=n)
    assert not any(
        "understates the actual corpus" in str(x.message) for x in w
    )
    assert (claimed["nbits"], claimed["bands"]) == (
        honest["nbits"],
        honest["bands"],
    )
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        over = embedding_lsh_stats(emb, threshold=0.90, corpus_size=100 * n)
    assert not any(
        "understates the actual corpus" in str(x.message) for x in w
    )
    assert over["nbits"] >= honest["nbits"]


def test_semdedup_nonfinite_vectors_warned_and_excluded(spark):
    """Round-12 advisor item: vectors with a non-finite L2 norm (NaN/Inf
    component), an all-zero norm, or a NULL array element score NaN/NULL
    against every centroid since the round-11 strict-finite merge —
    under the old silence they emitted ZERO assignment rows and broke
    the n_assignment_rows == n·nassign receipt invariant invisibly. Now
    they are counted, warned about loudly, and excluded: every derived
    knob and receipt keys on the finite corpus, and the emitted pairs
    cover exactly the finite rows."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import (
        semantic_cluster_near_dups,
        semdedup_stats,
    )

    dim = 8
    good = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"j -> CAST(CASE WHEN j = id % 4 THEN 1 ELSE 0 END AS DOUBLE))"
        ).alias("embedding"),
    )
    bad = spark.range(3).select(
        (F.col("id") + 1000).alias("vec_id"),
        F.expr(
            f"CASE id "
            f"WHEN 0 THEN transform(sequence(0, {dim - 1}), "
            f"  j -> CAST('NaN' AS DOUBLE)) "
            f"WHEN 1 THEN transform(sequence(0, {dim - 1}), "
            f"  j -> CAST(0.0 AS DOUBLE)) "
            f"ELSE transform(sequence(0, {dim - 1}), "
            f"  j -> CAST(NULL AS DOUBLE)) END"
        ).alias("embedding"),
    )
    emb = good.unionAll(bad)
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st = semdedup_stats(emb, nlist=8, lloyd_iters=0)
    msgs = [x for x in w if "non-finite or zero L2 norm" in str(x.message)]
    assert msgs and "3 vector(s)" in str(msgs[0].message)
    assert st["n_vectors"] == 40
    assert st["n_assignment_rows"] == 40 * st["nassign"]
    got = semantic_cluster_near_dups(
        emb, threshold=0.9, nlist=8, lloyd_iters=0
    ).collect()
    ids = {r["d1"] for r in got} | {r["d2"] for r in got}
    assert ids and ids <= set(range(40))
    # an all-finite corpus stays quiet
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        semdedup_stats(good, nlist=8, lloyd_iters=0)
    assert not [
        x for x in w if "non-finite or zero L2 norm" in str(x.message)
    ]


def test_semdedup_corpus_claim_cross_checked(spark):
    """Round-11 (judge trust hazard + advisor receipt-consistency item):
    the SemDeDup tier COUNTS its checkpointed base unconditionally and
    derives every knob from the counted n — a caller ``corpus_size`` is
    only a cross-checked claim. An understated claim warns; the stats
    receipt reports the counted ``n_vectors`` (internally consistent with
    ``n_assignment_rows``) alongside the claim."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import semdedup_stats

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    # accurate claim: no warning, receipt reports both, knobs from count
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st = semdedup_stats(emb, corpus_size=n)
    assert not any("understates" in str(x.message) for x in w)
    assert st["n_vectors"] == n and st["n_vectors_claimed"] == n
    assert st["n_assignment_rows"] == n * st["nassign"]
    # understated claim: warns; nlist and n_vectors still from the count
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        st2 = semdedup_stats(emb, corpus_size=10)
    assert any("understates" in str(x.message) for x in w)
    assert st2["n_vectors"] == n and st2["n_vectors_claimed"] == 10
    assert st2["nlist"] == st["nlist"]  # derived from counted n, not 10
    # no claim: no claimed key in the receipt
    assert "n_vectors_claimed" not in semdedup_stats(emb)


def test_lsh_rerank_understated_claim_demoted(spark):
    """The LSH tier keeps ``corpus_size=`` lazy, so the rerank verifies a
    caller claim with one bounded probe before letting it select a
    broadcast regime (round 11): an understated claim warns and demotes
    to the all-merge regime — output is bit-identical (regime equality),
    and the plan holds no broadcast an executor couldn't afford."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    kw = dict(threshold=0.42, nbits=4, bands=8)
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        honest = embedding_near_dup_lsh(emb, corpus_size=n, **kw)
    assert not any(
        "understates the actual corpus" in str(x.message) for x in w
    )
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        lied = embedding_near_dup_lsh(emb, corpus_size=n // 10, **kw)
    assert any(
        "understates the actual corpus" in str(x.message) for x in w
    )
    from .test_plans import formatted_plan

    assert "BroadcastHashJoin" not in formatted_plan(lied)
    got_h = {(r["d1"], r["d2"], r["cosine"]) for r in honest.collect()}
    got_l = {(r["d1"], r["d2"], r["cosine"]) for r in lied.collect()}
    assert got_h == got_l and len(got_h) > 0


def test_lsh_params_auto_cap_message_names_auto_budget(spark):
    """Round-11 advisor item: when the nbits-floor cap binds in AUTO mode
    (max_bands=None), the warning must name the auto budget and its
    saturation ceiling — not imply the user should 'raise' a max_bands
    they never set."""
    import warnings as _w

    from mapreduce_paradigm_spark.operators.dedup import lsh_params

    # low threshold + extreme target: floor-4 nbits needs ~156 bands,
    # above the 128 floor; n is small so the auto raise never engages
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        prm = lsh_params(1_000, 0.05, target_recall=0.99999)
    assert prm["nbits"] == 4 and prm["bands"] == 128
    assert len(w) == 1
    msg = str(w[0].message)
    assert "auto band budget" in msg and "explicit larger max_bands" in msg
    assert "max_bands=128" not in msg
    # the explicit-cap phrasing is unchanged
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        lsh_params(1_000, 0.05, target_recall=0.99999, max_bands=128)
    assert len(w) == 1 and "but max_bands=128; capping" in str(w[0].message)


def test_lsh_derived_params_recall_on_fixture(spark):
    """End-to-end: embedding_near_dup_lsh under lsh_params-derived
    (nbits, bands) keeps the subset-of-exact contract and the recall
    floor on the fixture corpus — the derived settings are usable, not
    just theoretically optimal."""
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
        lsh_params,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    # derive against 0.99 and assert the empirical floor at 0.95: the
    # analytic guarantee is the EXPECTED candidate probability at the
    # threshold angle; a ~50-pair fixture draws binomially around it, so
    # the test needs slack between target and floor to be noise-proof.
    prm = lsh_params(n, 0.42, target_recall=0.99)
    exact = {
        (r["d1"], r["d2"], r["cosine"])
        for r in embedding_near_dup_pairs(emb, threshold=0.42).collect()
    }
    approx = {
        (r["d1"], r["d2"], r["cosine"])
        for r in embedding_near_dup_lsh(emb, threshold=0.42, **prm).collect()
    }
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"derived {prm}: recall {recall}"


def test_lsh_quantized_prefilter_output_equality(spark):
    """The rerank regimes (round 9) must be output-INVISIBLE: regime 1
    (small corpus, broadcast full vectors, no quantization) IS the
    unquantized rerank; regimes 2 (broadcast int8 codes + merge exact) and
    3 (all-merge quantized) keep a guaranteed superset through the int8
    error bound and apply the unchanged exact float64 cosine — so all
    three must emit the same pair set and cosine values as the unquantized
    rerank (candidates → full-vector joins → cosine filter → distinct).
    Reconstructs the pre-quantization pipeline inline from the operator's
    own candidate internals and compares sets at two thresholds × three
    regimes (regime forced via the corpus_size claim; candidates are
    pinned identical by explicit nbits/bands)."""
    from mapreduce_paradigm_spark.functions import dot_product, l2_norm
    from mapreduce_paradigm_spark.operators.dedup import (
        _COMBO_PAIR_EXPR,
        _sign_band_signatures,
        embedding_near_dup_lsh,
        lsh_params,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    n = emb.count()
    for threshold in (0.42, 0.90):
        prm = lsh_params(n, threshold, target_recall=0.99)
        sig = lifetime.scoped(_sign_band_signatures)(
            emb, prm["nbits"], prm["bands"], 64, 7, "vec_id", "embedding"
        )
        cand = (
            sig.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_set("id")).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(_COMBO_PAIR_EXPR)).alias("p"))
            .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        )
        d = emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("e"),
        ).withColumn("nn", l2_norm("e"))
        unquantized = {
            (r["d1"], r["d2"], r["cosine"])
            for r in (
                cand.join(d.alias("ea"), F.col("d1") == F.col("ea.id"))
                .join(d.alias("eb"), F.col("d2") == F.col("eb.id"))
                .withColumn(
                    "cosine",
                    dot_product("ea.e", "eb.e")
                    / (F.col("ea.nn") * F.col("eb.nn")),
                )
                .filter(F.col("cosine") >= threshold)
                .select("d1", "d2", F.round("cosine", 4).alias("cosine"))
                .distinct()
                .collect()
            )
        }
        # regime-2 claim derived from the module constants (just past the
        # vec-broadcast bar); None exercises regime 3's merge-pin path
        codes_claim, _ = rerank_regime_claims(dim=64)
        for claim in (n, codes_claim, None):  # regimes 1, 2, 3
            got = {
                (r["d1"], r["d2"], r["cosine"])
                for r in embedding_near_dup_lsh(
                    emb, threshold=threshold, corpus_size=claim, **prm
                ).collect()
            }
            assert got == unquantized, (
                threshold,
                claim,
                got ^ unquantized,
            )


def test_lsh_rerank_regimes_agree_on_pathological_vectors(spark):
    """NaN/Inf components and NULL vectors must not crash the quantized
    regimes (ANSI would throw on CAST(NaN AS TINYINT) — hence try_cast)
    and must not change output vs regime 1: NULL codes make the pre-filter
    predicate NULL, which KEEPS the pair, and the exact stage owns the
    pathological semantics (Spark orders NaN above every double, so
    NaN-cosine pairs are EMITTED by the exact filter; NULL cosines drop) —
    identical to the unquantized tier."""
    from mapreduce_paradigm_spark.operators.dedup import embedding_near_dup_lsh

    emb = spark.range(1, 6).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "CASE WHEN id = 3 THEN transform(sequence(1,64), j -> CAST('NaN' AS DOUBLE)) "
            "WHEN id = 4 THEN transform(sequence(1,64), j -> CAST(CASE WHEN j = 1 "
            "  THEN double('Infinity') ELSE CAST(j AS DOUBLE)/64 END AS DOUBLE)) "
            "WHEN id = 5 THEN CAST(NULL AS ARRAY<DOUBLE>) "
            "ELSE transform(sequence(1,64), j -> CAST(j AS DOUBLE)/64) END"
        ).alias("embedding"),
    )
    codes_claim, _ = rerank_regime_claims(dim=64)
    results = {}
    for claim in (5, codes_claim, None):  # regimes 1, 2, 3
        rows = embedding_near_dup_lsh(
            emb, threshold=0.9, nbits=2, bands=4, corpus_size=claim
        ).collect()
        results[claim] = sorted(
            (r["d1"], r["d2"], str(r["cosine"])) for r in rows
        )
    assert results[5] == results[codes_claim] == results[None], results
    # the identical finite twin pair (1,2) must be present; the NaN vector
    # pairs with others at NaN cosine (NaN >= t is TRUE in Spark ordering)
    emitted = {(d1, d2) for d1, d2, _ in results[5]}
    assert (1, 2) in emitted, results[5]


def test_lsh_quantization_error_bound_numpy():
    """The superset guarantee rests on |dot(v1,v2) − â| ≤ eps with
    â = int_dot(c1,c2)·s1·s2/127² and eps the Cauchy-Schwarz bound the
    operator evaluates per pair. Validate the inequality numerically on
    deterministic pseudo-random vector pairs spanning scales/shapes —
    including near-zero, constant, and one-hot vectors (extreme s/‖v‖
    ratios where a sloppy bound would break)."""
    import math

    rng = np.random.RandomState(7)
    dim = 64
    cases = [rng.uniform(-1, 1, dim) for _ in range(200)]
    cases += [rng.normal(0, 100.0, dim) for _ in range(100)]
    cases += [rng.normal(0, 1e-6, dim) for _ in range(50)]
    cases += [np.full(dim, 3.7), np.zeros(dim)]
    onehot = np.zeros(dim)
    onehot[13] = -2.5
    cases += [onehot]

    def quant(v):
        s = float(np.max(np.abs(v)))
        c = np.round(v / (s if s else 1.0) * 127.0).astype(np.int64)
        nhat = s / 127.0 * math.sqrt(float(np.dot(c, c)))
        return s, c, nhat

    sqrt_d = math.sqrt(dim)
    worst = 0.0
    for i in range(0, len(cases) - 1):
        v1, v2 = cases[i], cases[i + 1]
        s1, c1, nhat1 = quant(v1)
        s2, c2, nhat2 = quant(v2)
        adot = float(np.dot(c1, c2)) * s1 / 127.0 * s2 / 127.0
        eps = (
            (s1 * sqrt_d / 254.0) * nhat2
            + (s2 * sqrt_d / 254.0) * nhat1
            + s1 * s2 * dim / 64516.0
        )
        err = abs(float(np.dot(v1, v2)) - adot)
        assert err <= eps * 1.01 + 1e-12, (i, err, eps)
        if eps > 0:
            worst = max(worst, err / eps)
    # the bound should be conservative but not vacuous
    assert worst <= 1.0


def test_topk_cosine_against_numpy(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = topk_cosine(emb, queries, k=3).collect()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["rank"])):
        by_q.setdefault(r["q_id"], []).append(r["neighbor_id"])
    for q_id, neighbors in by_q.items():
        qvec = mat[ids == q_id][0]
        sims = mat @ qvec / (norms * np.linalg.norm(qvec))
        sims[ids == q_id] = -np.inf
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:3]
        assert neighbors == [int(ids[i]) for i in order], f"q={q_id}"


def test_lsh_topk_is_subset_of_bucket_exact(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    rows = lsh_topk_cosine(emb, queries, dim=64, k=5, nbits=8).collect()
    # shape sanity: ranks dense from 1, per-query ≤ 5, no self matches
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rank"])):
        assert r["q_id"] != r["neighbor_id"]
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert ranks == list(range(1, len(ranks) + 1))


def test_connected_components_union_find_oracle(spark):
    from mapreduce_paradigm_spark.operators.components import connected_components

    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = [(r["d1"], r["d2"]) for r in jaccard_pairs(docs, 3, 0.5).collect()]
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            jaccard_pairs(docs, 3, 0.5)
        ).collect()
    }
    # pure-python union-find oracle
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {v: find(v) for v in parent}
    assert got == want
    # components labeled by their minimum member
    for v, c in got.items():
        assert c <= v


def test_connected_components_star_equals_propagation(spark):
    import random

    from mapreduce_paradigm_spark.operators.components import (
        ConvergenceError,
        connected_components,
        connected_components_star,
    )

    # adversarial shapes for both variants: a long chain (diameter 60 —
    # beyond propagation's default max_iter), a star, a cycle, random blobs
    rng = random.Random(13)
    edges = [(i, i + 1) for i in range(100, 160)]  # chain, diameter 60
    edges += [(500, x) for x in range(501, 520)]  # star
    edges += [(700 + i, 700 + (i + 1) % 10) for i in range(10)]  # cycle
    edges += [(rng.randrange(900, 960), rng.randrange(900, 960)) for _ in range(80)]
    df = spark.createDataFrame(edges, "d1 BIGINT, d2 BIGINT")

    star = {
        (r["doc_id"], r["component"]) for r in connected_components_star(df).collect()
    }
    # union-find oracle
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    assert star == want

    # propagation on the diameter-60 chain must now FAIL LOUDLY, not return
    # silently-split components (the old behavior)
    import pytest as _pytest

    chain = spark.createDataFrame(edges[:60], "d1 BIGINT, d2 BIGINT")
    with _pytest.raises(ConvergenceError):
        connected_components(chain, max_iter=10)
    # and succeed when given enough rounds, agreeing with the star variant
    ok = {(r["doc_id"], r["component"]) for r in connected_components(chain, max_iter=65).collect()}
    assert ok == {(v, 100) for v in range(100, 161)}


def test_connected_components_string_ids(spark):
    """String vertex ids must converge correctly, not falsely after round 1.

    The numeric convergence check (Σ component unchanged) is undefined for
    strings — non-ANSI Spark sums a string column to NULL and NULL == NULL
    would declare convergence immediately; the operator must detect the
    type and fall back to a changed-label count. A 5-hop chain needs 5
    propagation rounds, so a round-1 false convergence returns split
    components and fails this test.
    """
    from mapreduce_paradigm_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    # chain a-b-c-d-e-f (diameter 5) plus a separate pair x-y
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "y")]
    df = spark.createDataFrame(edges, "d1 STRING, d2 STRING")
    want = {(v, "a") for v in "abcdef"} | {("x", "x"), ("y", "x")}
    got = {(r["doc_id"], r["component"]) for r in connected_components(df).collect()}
    assert got == want
    star = {(r["doc_id"], r["component"]) for r in connected_components_star(df).collect()}
    assert star == want


def test_ivf_topk_recall_against_exact(spark):
    from mapreduce_paradigm_spark.operators.similarity import ivf_topk_cosine

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in topk_cosine(emb, queries, k=5).collect()
    }
    ivf = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4).collect()
    }
    # probing half the lists on near-uniform vectors: expect moderate recall,
    # and every returned pair must be a real corpus vector (no fabrication)
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.3, f"recall {recall}"
    assert all(q != n for q, n in ivf)
    # Lloyd refinement must keep the contract (shape, no self-matches, sane
    # recall) and be deterministic: sorted-partial driver reduce → identical
    # centroids → identical probe sets on repeat runs
    ref1 = ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4, lloyd_iters=2).collect()
    ref2 = ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4, lloyd_iters=2).collect()
    assert sorted(map(tuple, ref1)) == sorted(map(tuple, ref2))
    lloyd = {(r["q_id"], r["neighbor_id"]) for r in ref1}
    assert len(lloyd & exact) / len(exact) >= 0.3
    assert all(q != n for q, n in lloyd)


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    from mapreduce_paradigm_spark.operators.similarity import lsh_topk_cosine

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["q_id"], r["neighbor_id"]) for r in topk_cosine(emb, queries, k=5).collect()
    }
    single = lsh_topk_cosine(emb, queries, dim=64, k=5, nbits=8).collect()
    multi = lsh_topk_cosine(emb, queries, dim=64, k=5, nbits=8, multiprobe=2).collect()
    r_single = len({(r["q_id"], r["neighbor_id"]) for r in single} & exact) / len(exact)
    r_multi = len({(r["q_id"], r["neighbor_id"]) for r in multi} & exact) / len(exact)
    # multi-probe candidates strictly contain the single-probe candidates,
    # so top-k recall can only improve
    assert r_multi >= r_single, f"{r_multi} < {r_single}"
    # and the output still honors the contract
    by_q: dict[int, list] = {}
    for r in sorted(multi, key=lambda r: (r["q_id"], r["rank"])):
        assert r["q_id"] != r["neighbor_id"]
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert ranks == list(range(1, len(ranks) + 1))


def test_nfc_normalization_unicode_edges(spark):
    import unicodedata

    from mapreduce_paradigm_spark.operators.textstats import nfc_normalized

    cases = [
        "café",          # decomposed é
        "émigré",    # composed
        "Å",             # decomposed Å
        "ﬁle",            # ﬁ ligature (NFC keeps it; NFKC would split)
        "plain ascii",
        "",
    ]
    docs = spark.createDataFrame(
        list(enumerate(cases, 1)), "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", nfc_normalized(F.col("text")).alias("n")
        ).collect()
    }
    for i, raw in enumerate(cases, 1):
        assert got[i] == unicodedata.normalize("NFC", raw), repr(raw)
    # composed and decomposed forms hash identically after NFC
    assert got[1] == "café"


@pytest.mark.parametrize("short_text", ["", "one", "one two"])
def test_shingles_short_docs_no_error(spark, short_text):
    docs = spark.createDataFrame([(1, short_text)], "doc_id BIGINT, text STRING")
    assert jaccard_pairs(docs, k=3, threshold=0.1).count() == 0


def test_semantic_cluster_dedup_subset_recall_and_determinism(spark):
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_cluster_near_dups,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = {
        (r["d1"], r["d2"], r["cosine"])
        for r in embedding_near_dup_pairs(emb).collect()
    }
    sem1 = {
        (r["d1"], r["d2"], r["cosine"])
        for r in semantic_cluster_near_dups(emb).collect()
    }
    # in-cluster scorer IS the exact tier → precision exact (subset)
    assert sem1 <= exact
    # co-located near-dups dominate → recall floor
    recall = len(sem1 & exact) / len(exact)
    assert recall >= 0.5, f"recall {recall}"
    # seedless init + sorted driver reduce → rerun-identical
    sem2 = {
        (r["d1"], r["d2"], r["cosine"])
        for r in semantic_cluster_near_dups(emb).collect()
    }
    assert sem1 == sem2


def test_delta_jaccard_equals_full_pairs_restricted(spark):
    """Incremental form == full all-pairs output filtered to pairs touching
    the delta — the exactness claim of the semi-join/pre-shuffle prunes
    (no candidate or common-shingle loss for any reported pair)."""
    from mapreduce_paradigm_spark.operators.dedup import delta_jaccard_pairs

    docs = load_table(spark, SF_CORRECT, "documents")
    full = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in jaccard_pairs(docs, 3, 0.5, max_shingle_df=64).collect()
        if r["d1"] % 5 == 0 or r["d2"] % 5 == 0
    }
    delta = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in delta_jaccard_pairs(
            docs, is_new=lambda d: d % 5 == 0, k=3, threshold=0.5, max_shingle_df=64
        ).collect()
    }
    assert delta == full and delta  # non-vacuous: fixture has delta pairs


def test_concurrent_dedup_builders_do_not_corrupt_each_other(spark):
    """Round-3 advisory regression pin: the old module-global cache sweep
    meant building query B invalidated the persisted intermediates behind
    a built-but-unexecuted query A. With plan-scoped caches, two dedup
    plans built INTERLEAVED (build A, build B, then execute both) must
    produce the same results as building and executing each serially."""
    from mapreduce_paradigm_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_CORRECT, "documents")

    def run(df):
        return {tuple(r) for r in df.collect()}

    # serial reference
    ref_a = run(minhash_lsh_pairs(docs, threshold=0.5))
    ref_b = run(jaccard_pairs(docs, k=3, threshold=0.5, max_shingle_df=64))
    # interleaved build, then execute: B's construction must not unpersist
    # (or otherwise perturb) the intermediates A's plan references
    plan_a = minhash_lsh_pairs(docs, threshold=0.5)
    plan_b = jaccard_pairs(docs, k=3, threshold=0.5, max_shingle_df=64)
    assert run(plan_a) == ref_a
    assert run(plan_b) == ref_b


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_prefix_filter_lossless_at_non_binary_thresholds(spark, threshold):
    """Round-5 advisor finding: the PPJoin positional-filter bound
    ceil(t*(s1+s2)/(1+t)) computed in floats can round a few ULP above an
    exact integer for thresholds not representable in binary (0.8) and
    prune true pairs sitting exactly at the threshold. The bound is now
    exact-integer rational arithmetic; pin losslessness by diffing against
    the uncapped brute self-join at several thresholds, including ones
    where the old float path was at risk."""
    from mapreduce_paradigm_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    docs = (
        load_table(spark, SF_CORRECT, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    brute = {
        (r["d1"], r["d2"], round(r["jaccard"], 9))
        for r in jaccard_pairs(docs, k=3, threshold=threshold).collect()
    }
    pp = {
        (r["d1"], r["d2"], round(r["jaccard"], 9))
        for r in jaccard_pairs_prefix_filter(
            docs, k=3, threshold=threshold
        ).collect()
    }
    assert pp == brute


def test_strongly_connected_components_tarjan_oracle(spark):
    from mapreduce_paradigm_spark.operators.components import (
        ConvergenceError,
        strongly_connected_components,
    )

    # hand-built digraph: two 3-cycles bridged one-way (separate SCCs), a
    # 2-cycle hanging off, a pure-DAG tail (singletons), an isolated vertex
    edges = [
        (0, 1), (1, 2), (2, 0),          # SCC {0,1,2}
        (2, 10), (10, 11), (11, 12), (12, 10),  # one-way into SCC {10,11,12}
        (12, 20), (20, 21), (21, 20),    # one-way into SCC {20,21}
        (21, 30), (30, 31),              # DAG tail: singletons 30, 31
        (5, 0),                          # ancestor singleton above the min id
    ]
    verts = sorted({v for e in edges for v in e} | {99})
    vdf = spark.createDataFrame([(v,) for v in verts], "node long")
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["doc_id"]: r["scc_id"]
        for r in strongly_connected_components(vdf, edf).collect()
    }

    # pure-python Tarjan oracle
    adj: dict[int, list[int]] = {v: [] for v in verts}
    for a, b in edges:
        adj[a].append(b)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]

    def strong(v):
        index[v] = low[v] = counter[0]
        counter[0] += 1
        stack.append(v)
        on.add(v)
        for w in adj[v]:
            if w not in index:
                strong(w)
                low[v] = min(low[v], low[w])
            elif w in on:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = []
            while True:
                w = stack.pop()
                on.discard(w)
                comp.append(w)
                if w == v:
                    break
            sccs.append(comp)

    for v in verts:
        if v not in index:
            strong(v)
    want = {v: min(comp) for comp in sccs for v in comp}
    assert got == want
    # every label is the minimum member, hence <= the vertex
    assert all(c <= v for v, c in got.items())

    # a long cycle exceeds max_prop -> loud ConvergenceError, never a
    # silently split component
    n = 12
    cyc = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "a long, b long")
    cvd = spark.createDataFrame([(i,) for i in range(n)], "node long")
    import pytest as _pytest

    with _pytest.raises(ConvergenceError):
        strongly_connected_components(cvd, cyc, max_prop=5)


def test_simhash_chunk_df_cap_keeps_all_hamming0_pairs(spark):
    """max_chunk_df routes megabucket members to the exact-fingerprint tier.

    Contract pinned here (round-5 verdict ask #1): capping may drop a
    hamming 1..3 pair whose every agreeing chunk is a megabucket, but it
    NEVER loses a pair the exact-dup tier would catch — identical
    fingerprints always pair, whatever the bucket widths."""
    template = " ".join(f"w{i}" for i in range(48))
    rows = []
    # 20 near-identical docs (template + 1 unique token) → correlated
    # fingerprints → wide chunk buckets (the boilerplate regime)
    for i in range(20):
        rows.append((i, template + f" unique{i}"))
    # exact-duplicate groups planted INSIDE the correlated mass
    rows += [(100, template + " dup_a"), (101, template + " dup_a")]
    rows += [
        (200, template + " dup_b"),
        (201, template + " dup_b"),
        (202, template + " dup_b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    # the fixture must actually create a megabucket at the test cap,
    # otherwise the assertion below is vacuous
    fps = [r["simhash"] for r in simhash(docs).collect()]
    widths: dict = {}
    for h in fps:
        for ci, (lo, w) in enumerate([(0, 16), (16, 16), (32, 16), (48, 15)]):
            key = (ci, (h >> lo) & ((1 << w) - 1))
            widths[key] = widths.get(key, 0) + 1
    assert max(widths.values()) > 4, "fixture failed to create a megabucket"

    uncapped = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in simhash_near_pairs(docs, 3, max_chunk_df=None).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in simhash_near_pairs(docs, 3, max_chunk_df=4).collect()
    }
    # capping never invents pairs, and agrees on hamming where both emit
    assert set(capped) <= set(uncapped)
    for p, h in capped.items():
        assert uncapped[p] == h
    # hamming-0 pairs are NEVER lost
    zeros = {p for p, h in uncapped.items() if h == 0}
    assert zeros, "fixture planted no exact-dup pairs"
    assert zeros <= set(capped)
    for p in zeros:
        assert capped[p] == 0
