"""Scaling-ladder measurement for the heavy dedup/ANN/text tier
(round-4 verdict ask #7; extended per round-5 asks #1/#2/#4/#5; round 7
added arbitrary size ladders + the scale-consistent zipf generator):
everything at sf0.1 finishes in a few seconds, so the Σdf² / Σ|c|² /
banding cost arguments need recorded 10×/100× points.

No sf1 fixture exists (and /root/testdata is read-only), so this harness
generates DISTRIBUTION-PRESERVING synthetic corpora at two sizes with the
SAME generator and times each operator at both, recording the observed
scaling exponent log10(t_10x / t_1x):

- documents: half-splice construction — each synthetic doc is the first
  half of one hash-picked sf0.1 doc's tokens plus the second half of
  another's. Shingle/token statistics track the fixture, while cross-doc
  Jaccard to parents stays ≈1/3 (< the 0.5 threshold), so near-dup
  DENSITY does not inflate with scale (naive replication would add 45
  near-identical copies per group and measure output explosion, not
  operator scaling). BOTH scale points use the construction, so the
  exponent is generator-consistent. Written as
  {tmp}/corpus_{tag}/documents.parquet so registered QUERY builders can
  be pointed at the synthetic corpus via their sf_dir argument.
- documents+dup5: the same corpus with a CONTROLLED 5% duplicate rate —
  every doc_id ≡ 0 (mod 20) has its text replaced by a lookback target's
  text (target = id − 1 − hash%59, deterministic). The plain half-splice
  corpus has no Jaccard≥0.5 pairs at all, so the round-5 CC exponent was
  vacuous (fixed overhead only); here edge count grows ~n/20 with the
  corpus and the star-contraction rounds do real work at both scales.
  Pair counts are logged next to the timing so "did the operator see
  work" is checkable in the artifact.
- embeddings: hash-uniform dim-64 vectors (the fixture's observed
  regime — see the ANN recall floors), again at both scales.

simhash_near_pairs is measured at the CAPPED DEFAULT (max_chunk_df=256,
the round-6 guard: megabucket members route to the exact-fingerprint
tier) and UNCAPPED (max_chunk_df=None — the round-5 e=1.60 correlated-
content failure regime, kept as the documented counterfactual).

semantic_cluster_near_dups is measured at the scale-aware DEFAULT
(nlist=None → max(8, ceil(n/600)); expected ≈linear) and with nlist
FORCED to 8 (the round-5 measured e=1.83 footgun — now requires an
explicit caller choice, kept for the record).

Run: python bench_sf1.py → .gates/sf1.json + stdout table.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


def build_docs(spark, sf_dir: str, n: int, out: str) -> None:
    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.split(F.lower(F.trim("text")), r"\s+").alias("toks"),
        )
    )
    nb = base.count()
    ids = spark.range(n).select(
        F.col("id").alias("new_id"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(nb)).alias("p1"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(nb)).alias("p2"),
    )
    a = base.select(
        F.col("doc_id").alias("p1"),
        F.expr("slice(toks, 1, size(toks) DIV 2)").alias("h1"),
    )
    b = base.select(
        F.col("doc_id").alias("p2"),
        F.expr("slice(toks, size(toks) DIV 2 + 1, size(toks))").alias("h2"),
    )
    (
        ids.join(a, "p1")
        .join(b, "p2")
        .select(
            F.col("new_id").alias("doc_id"),
            F.concat_ws(" ", F.concat("h1", "h2")).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )


def build_docs_zipf(spark, n: int, out: str) -> None:
    """Scale-CONSISTENT synthetic corpus: content novelty grows with n.

    The half-splice generator above preserves the fixture's token stats
    but recycles a FIXED ~2k-doc parent pool, so every shingle's df grows
    ∝ n — fine at 10x, degenerate at 100x (measured: the lossless prefix
    filter's posting lists get 10x deeper per decade and the candidate
    join OOMs at 500k docs; that measures the generator, not the
    operator — a real 10x corpus is 10x of mostly NEW content). Here each
    token is drawn by hash: 35% from a fixed 2k-word Zipf head (rank
    log-uniform ⇒ p(r) ∝ 1/r) and 65% from a tail vocabulary of size
    10·n — so common-word df keeps its constant RATE, rare-shingle df
    stays O(1), and Jaccard≥0.5 pairs exist only where build_dup_docs
    injects them. Deterministic (xxhash64 everywhere), length 80–199.
    """
    tail_v = 10 * n
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform("
            " sequence(1, 80 + CAST(pmod(xxhash64(id, 0), 120) AS INT)),"
            " j -> CASE WHEN pmod(xxhash64(id, j, 5), 100) < 35"
            "  THEN concat('h', CAST(pow(2000.0,"
            "       pmod(xxhash64(id, j, 6), 1000) / 1000.0) AS INT))"
            f" ELSE concat('w', pmod(xxhash64(id, j, 7), {tail_v}))"
            " END))"
        ).alias("text"),
    ).write.mode("overwrite").parquet(out)


def build_dup_docs(spark, src: str, out: str) -> None:
    """5% controlled duplicate density: doc_id ≡ 0 (mod 20), id ≥ 60 copies
    the text of target = id − 1 − xxhash64(id,9)%59. Targets can collide
    (clusters of 3+) and a target may itself be a dup (its original text
    then exists nowhere — a deterministic no-op that slightly lowers the
    effective rate). Everything is hash-derived: rerun-stable."""
    base = spark.read.parquet(src)
    picks = (
        base.filter((F.col("doc_id") % 20 == 0) & (F.col("doc_id") >= 60))
        .select(
            F.col("doc_id").alias("d"),
            (
                F.col("doc_id")
                - 1
                - F.pmod(F.xxhash64("doc_id", F.lit(9)), F.lit(59))
            ).alias("t"),
        )
    )
    replaced = picks.join(
        base.select(F.col("doc_id").alias("t"), F.col("text").alias("ttext")),
        "t",
    ).select(F.col("d").alias("doc_id"), "ttext")
    (
        base.join(replaced, "doc_id", "left")
        .select("doc_id", F.coalesce("ttext", "text").alias("text"))
        .write.mode("overwrite")
        .parquet(out)
    )


def build_embeddings(spark, n: int, out: str) -> None:
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), j -> "
            "(CAST(pmod(xxhash64(id, j, 17), 2001) AS DOUBLE) - 1000)/1000)"
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(out)


def main() -> None:
    from mapreduce_paradigm_spark.operators.components import (
        connected_components_star,
    )
    from mapreduce_paradigm_spark.lifetime import release_caches
    from mapreduce_paradigm_spark.operators.dedup import (
        embedding_lsh_stats,
        embedding_near_dup_lsh,
        jaccard_pairs,
        jaccard_pairs_prefix_filter,
        lsh_params,
        minhash_lsh_pairs,
        minhash_lsh_stats,
        semantic_cluster_near_dups,
        semdedup_stats,
        simhash_near_pairs,
    )
    from mapreduce_paradigm_spark.registry import all_specs
    from mapreduce_paradigm_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_SF1_MEM overrides the 8g session default — required for
    # the 5M-doc (1000x) points, where 8g OOMs the minhash shuffle; the
    # value used is recorded in the artifact so heap-sensitive exponents
    # (the documented single-JVM spill regime) stay attributable.
    mem = os.environ.get("SPARK_GRAFT_SF1_MEM")
    spark = get_spark(
        app_name="bench-sf1",
        master="local[32]",
        extra_conf={"spark.driver.memory": mem} if mem else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = os.environ.get("SPARK_GRAFT_SF1_TMP", "/tmp/sf1_scaling")
    # Default two-point curve; SPARK_GRAFT_SF1_SIZES="10x:50000,100x:500000"
    # selects other points (round 7 added a 100x run of the production tier
    # so the claimed exponents rest on a three-point power-law fit, not a
    # two-point ratio). The two documented-superlinear COUNTERFACTUAL rows
    # (uncapped simhash e≈1.5, forced nlist=8 e≈1.9) are skipped above 50k
    # docs — extrapolation puts them at ~40 min and ~7 h there; the whole
    # point of those rows is that you must not run them at scale.
    sizes_env = os.environ.get("SPARK_GRAFT_SF1_SIZES")
    if sizes_env:
        sizes = {
            kv.split(":")[0]: int(kv.split(":")[1])
            for kv in sizes_env.split(",")
        }
    else:
        sizes = {"1x": 5_000, "10x": 50_000}
    # SPARK_GRAFT_SF1_GEN=zipf selects the scale-consistent generator
    # (REQUIRED above 50k docs — see build_docs_zipf on why half-splice
    # is df-degenerate there); default keeps the fixture-derived
    # half-splice corpus the committed 1x/10x receipts used.
    gen = os.environ.get("SPARK_GRAFT_SF1_GEN", "halfsplice")
    # SPARK_GRAFT_SF1_OPS: comma list of row names to run (default all) —
    # the committed path behind the targeted artifacts (the 1000x minhash/
    # simhash/CC run, the t090 autoparams receipt), so every .gates row
    # regenerates from this harness without ad-hoc edits (advisor, round 7).
    ops_env = os.environ.get("SPARK_GRAFT_SF1_OPS")
    ops = set(ops_env.split(",")) if ops_env else None

    def want(name: str) -> bool:
        return ops is None or name in ops

    need_docs = ops is None or any(
        not o.startswith(("embedding_", "semantic_", "semdedup_", "dedup_clusters"))
        for o in (ops or set())
    )
    need_dup = want("dedup_clusters_star_dup5")
    need_emb = ops is None or any(
        o.startswith(("embedding_", "semantic_", "semdedup_"))
        for o in (ops or set())
    )
    for tag, n in sizes.items():
        if need_docs or need_dup:
            if gen == "zipf":
                build_docs_zipf(spark, n, f"{tmp}/corpus_{tag}/documents.parquet")
            else:
                build_docs(spark, sf_dir, n, f"{tmp}/corpus_{tag}/documents.parquet")
        if need_dup:
            build_dup_docs(
                spark,
                f"{tmp}/corpus_{tag}/documents.parquet",
                f"{tmp}/corpusdup_{tag}/documents.parquet",
            )
        if need_emb:
            build_embeddings(spark, n, f"{tmp}/emb_{tag}")

    results: dict[str, dict[str, float]] = {}
    notes: dict[str, dict[str, int]] = {}

    def run(name: str, tag: str, make) -> None:
        """Time thunk construction AND execution together: eager operators
        (connected_components_star's localCheckpoint loop, SemDeDup's Lloyd
        passes + centroid collects) do their real work at CONSTRUCTION time,
        so timing a pre-built DataFrame's noop write alone under-reports
        them to near-zero (caught round 7: CC over 126k edges "took" 0.04s)."""
        release_caches()
        t0 = time.perf_counter()
        df = make()
        df.write.format("noop").mode("overwrite").save()
        t = round(time.perf_counter() - t0, 2)
        results.setdefault(name, {})[tag] = t
        print(f"{name:40s} {tag:>4s}: {t:8.2f}s", flush=True)

    specs = all_specs()
    for tag in sizes:
        corpus_dir = f"{tmp}/corpus_{tag}"
        dup_dir = f"{tmp}/corpusdup_{tag}"
        docs = (
            spark.read.parquet(f"{corpus_dir}/documents.parquet")
            if (need_docs or need_dup)
            else None
        )
        dupdocs = (
            spark.read.parquet(f"{dup_dir}/documents.parquet") if need_dup else None
        )
        emb = spark.read.parquet(f"{tmp}/emb_{tag}") if need_emb else None

        if want("ngram_jaccard_pairs_dfcap64"):
            run("ngram_jaccard_pairs_dfcap64", tag,
                lambda: jaccard_pairs(docs, k=3, threshold=0.5, max_shingle_df=64))
        if want("ngram_jaccard_prefix_filter"):
            run("ngram_jaccard_prefix_filter", tag,
                lambda: jaccard_pairs_prefix_filter(docs, k=3, threshold=0.5))
        if want("minhash_lsh_pairs"):
            run("minhash_lsh_pairs", tag,
                lambda: minhash_lsh_pairs(docs, k=3, num_hashes=32, bands=8, threshold=0.5))
            # invariant cost drivers next to the wall time (round-7 verdict
            # ask #3, the CC edge-count pattern): if candidate/signature
            # counts grow linearly while wall time does not, the superlinear
            # exponent is a single-JVM spill artifact, not work growth
            mh_stats = minhash_lsh_stats(docs, k=3, num_hashes=32, bands=8)
            notes.setdefault("minhash_lsh_pairs", {}).update(
                {f"{tag}_{k}": v for k, v in mh_stats.items()}
            )
            print(f"{'minhash_lsh_pairs':40s} {tag:>4s}: {mh_stats}", flush=True)
        # historical fixed 4-block layout (comparable with the committed
        # r5-r7 receipts) AND the round-8 derived-layout default
        if want("simhash_near_pairs_capped256"):
            run("simhash_near_pairs_capped256", tag,
                lambda: simhash_near_pairs(docs, max_hamming=3, n_blocks=4))
        if want("simhash_near_pairs_derived"):
            run("simhash_near_pairs_derived", tag,
                lambda: simhash_near_pairs(docs, max_hamming=3))
        if sizes[tag] <= 50_000 and want("simhash_near_pairs_uncapped"):
            # counterfactual: superlinear by design
            run("simhash_near_pairs_uncapped", tag,
                lambda: simhash_near_pairs(docs, max_hamming=3, max_chunk_df=None,
                                           n_blocks=4))

        # CC on the controlled-dup corpus: materialize the edge list to
        # parquet FIRST so the timed run measures star-contraction scaling
        # alone — timing CC over the lazy jaccard_pairs plan would conflate
        # edge-generation cost into the exponent (advisor, round 6). The
        # edge count is logged so the exponent is demonstrably non-vacuous
        # (round-5's was: 0 pairs).
        if want("dedup_clusters_star_dup5"):
            edges_path = f"{tmp}/dup_edges_{tag}"
            jaccard_pairs(dupdocs, k=3, threshold=0.5, max_shingle_df=64) \
                .write.mode("overwrite").parquet(edges_path)
            dup_edges = spark.read.parquet(edges_path)
            n_pairs = dup_edges.count()
            notes.setdefault("dedup_clusters_star_dup5", {})[f"{tag}_pairs"] = n_pairs
            print(f"{'dedup_clusters_star_dup5':40s} {tag:>4s}: {n_pairs} edges",
                  flush=True)
            run("dedup_clusters_star_dup5", tag,
                lambda: connected_components_star(dup_edges, edges_unique=True))

        # PRODUCTION regime (threshold 0.90). Three rows: the round-8
        # DERIVED DEFAULT (nbits=None → lsh_params; the row the verdict
        # asked the ladder to certify at e≲0.7), with the derived params
        # logged; and the legacy FIXED (12, 24) counterfactual — the
        # measured e=1.81 footgun, comparable with the committed r7
        # receipt, skipped above 50k where it costs ~700 s. At low
        # thresholds (0.42) selectivity is ~nil by construction (the
        # operator docstring's caveat), so ladder points run at 0.90.
        if want("embedding_near_dup_lsh_t090_default"):
            run("embedding_near_dup_lsh_t090_default", tag,
                lambda: embedding_near_dup_lsh(emb, threshold=0.90))
            notes.setdefault("embedding_near_dup_lsh_t090_default", {})[
                f"{tag}_params"
            ] = sorted(
                # auto budget (max_bands=None) — mirrors the operator's
                # default exactly (round 10)
                lsh_params(sizes[tag], 0.90, target_recall=0.99).items()
            )
        if sizes[tag] <= 50_000 and want("embedding_near_dup_lsh_t090_fixed12"):
            # counterfactual: superlinear by design
            run("embedding_near_dup_lsh_t090_fixed12", tag,
                lambda: embedding_near_dup_lsh(emb, threshold=0.90, nbits=12,
                                               bands=24))
        if want("embedding_lsh_t090_stats"):
            # invariant cost drivers WITHOUT the candidate-distinct shuffle
            # (the minhash counts pattern, round 9): one groupBy(band,
            # bucket) aggregate — runs at sizes whose wall point cannot fit
            # this box's spill disk, so the 4th decade is attributable by
            # counts (Σ C(w,2) vs the Θ(n^(1+ρ)) theory curve) even where
            # seconds are spill-regime-polluted
            el_stats = embedding_lsh_stats(
                emb, threshold=0.90, corpus_size=sizes[tag]
            )
            notes.setdefault("embedding_lsh_t090_stats", {}).update(
                {f"{tag}_{k}": v for k, v in el_stats.items()}
            )
            print(f"{'embedding_lsh_t090_stats':40s} {tag:>4s}: {el_stats}",
                  flush=True)
        if want("embedding_lsh_t090_stats_b256"):
            # counterfactual for the max_bands=128 breakdown measured at 5M
            # (cap pins nbits at 21 where ideal is 23 → counts jump e=2.0 on
            # the 2M→5M step): with max_bands=256 the derivation keeps
            # nbits=ceil(log2 n) (23, bands=161 at 5M) and counts return to the Θ(n^(1+ρ))
            # curve — bands are linear signature cost, width is quadratic
            # candidate cost ("spend bands, never width")
            el_stats = embedding_lsh_stats(
                emb, threshold=0.90, corpus_size=sizes[tag], max_bands=256
            )
            notes.setdefault("embedding_lsh_t090_stats_b256", {}).update(
                {f"{tag}_{k}": v for k, v in el_stats.items()}
            )
            print(f"{'embedding_lsh_t090_stats_b256':40s} {tag:>4s}: {el_stats}",
                  flush=True)
        if want("semantic_cluster_dedup_default"):
            run("semantic_cluster_dedup_default", tag,
                lambda: semantic_cluster_near_dups(emb, threshold=0.42))
        if want("semdedup_cluster_stats"):
            # invariant cost drivers WITHOUT the candidate shuffle (the
            # embedding-LSH counts pattern, round 10): one
            # groupBy(cluster_id) aggregate over the operator's OWN shared
            # assignment pipeline — runs at sizes whose wall point cannot
            # fit this box's spill disk, so SemDeDup's 4th decade is
            # attributable by counts (Σ C(w,2) vs the ≈linear prediction
            # of nlist ∝ n with ~600 vectors/cluster) even where seconds
            # are spill-regime-polluted. Threshold does not enter: these
            # are cluster-geometry counts, upstream of the verify tier.
            # two_level=False pins the FLAT counterfactual explicitly:
            # since round 11 the operator's default DERIVES two-level at
            # nlist >= 1200 (n >= 720k), which would silently change what
            # this op measures at ladder sizes — and train_sample_size =
            # corpus pins FULL-corpus training the same way (round 12:
            # the default now derives a training slice past the same
            # crossover). Wall is recorded so assignment-cost regressions
            # show up next to the counts.
            t0 = time.perf_counter()
            sd_stats = semdedup_stats(
                emb, corpus_size=sizes[tag], two_level=False,
                train_sample_size=sizes[tag],
            )
            sd_stats["wall_s"] = round(time.perf_counter() - t0, 2)
            notes.setdefault("semdedup_cluster_stats", {}).update(
                {f"{tag}_{k}": v for k, v in sd_stats.items()}
            )
            print(f"{'semdedup_cluster_stats':40s} {tag:>4s}: {sd_stats}",
                  flush=True)
        if want("semdedup_cluster_stats_2l"):
            # the TWO-LEVEL quantizer's counts (round 10): assignment is
            # Θ(n·√nlist·dim) instead of Θ(n·nlist·dim), which is what
            # makes counts runs PAST the flat quantizer's FLOP wall
            # feasible (flat 5M already spends its wall in assignment;
            # 10M would be ~4x that) — same derived nlist, same verify
            # geometry counts, approximate child choice (recall-vs-flat
            # pinned at fixture scale in pytest)
            # train_sample_size >= corpus pins FULL-corpus training
            # explicitly (round 12: the default now DERIVES a training
            # slice past the crossover, which would silently change what
            # this full-training counterfactual measures)
            t0 = time.perf_counter()
            sd2 = semdedup_stats(
                emb, corpus_size=sizes[tag], two_level=True,
                train_sample_size=sizes[tag],
            )
            sd2["wall_s"] = round(time.perf_counter() - t0, 2)
            notes.setdefault("semdedup_cluster_stats_2l", {}).update(
                {f"{tag}_{k}": v for k, v in sd2.items()}
            )
            print(f"{'semdedup_cluster_stats_2l':40s} {tag:>4s}: {sd2}",
                  flush=True)
        if want("semdedup_cluster_stats_2l_sub"):
            # round 11: SUBSAMPLE Lloyd training under two-level assignment
            # — training on the deterministic 500k-row hash-slice makes
            # training cost Θ(sample·nlist·dim·iters) = LINEAR in n (nlist
            # ∝ n, sample fixed), while full-training cost is
            # Θ(n·nlist·dim·iters) = quadratic. The wall delta vs
            # semdedup_cluster_stats_2l at the same n IS the receipt that
            # the 10M two-level run no longer spends its wall in training;
            # the counts alongside show the subsampled geometry stays on
            # the ≈1200·n balanced-cluster curve.
            t0 = time.perf_counter()
            sd3 = semdedup_stats(
                emb, corpus_size=sizes[tag], two_level=True,
                train_sample_size=500_000,
            )
            sd3["wall_s"] = round(time.perf_counter() - t0, 2)
            notes.setdefault("semdedup_cluster_stats_2l_sub", {}).update(
                {f"{tag}_{k}": v for k, v in sd3.items()}
            )
            print(f"{'semdedup_cluster_stats_2l_sub':40s} {tag:>4s}: {sd3}",
                  flush=True)
        if want("semdedup_cluster_stats_2l_dtrain"):
            # round 12: train_sample_size left at the DEFAULT (None) so the
            # operator DERIVES the training slice — max(500k, 39·nlist)
            # capped at the corpus, auto-enabled past the same crossover
            # as two_level. At 2M the derivation lands exactly on the
            # explicit 500k the r11 _sub ladder trained on, so this row's
            # counts must be BYTE-IDENTICAL to the committed
            # semdedup_cluster_stats_2l_sub 400x row
            # (.gates/sf1_zipf_semdedup_counts_2l_sub_r11.json) — the
            # derived == explicit receipt the round-12 verdict asks for.
            # The resolved slice is reported in the row itself
            # (train_sample_size key, round 12).
            t0 = time.perf_counter()
            sd4 = semdedup_stats(
                emb, corpus_size=sizes[tag], two_level=True
            )
            sd4["wall_s"] = round(time.perf_counter() - t0, 2)
            notes.setdefault("semdedup_cluster_stats_2l_dtrain", {}).update(
                {f"{tag}_{k}": v for k, v in sd4.items()}
            )
            print(f"{'semdedup_cluster_stats_2l_dtrain':40s} {tag:>4s}: {sd4}",
                  flush=True)
        if sizes[tag] <= 50_000 and want("semantic_cluster_dedup_nlist8_forced"):
            # counterfactual: superlinear by design
            run("semantic_cluster_dedup_nlist8_forced", tag,
                lambda: semantic_cluster_near_dups(emb, threshold=0.42, nlist=8))

        # heavy text ops measured through their REGISTERED builders (the
        # synthetic corpus dir satisfies load_table's documents contract)
        if want("duplicate_span_extraction"):
            run("duplicate_span_extraction", tag,
                lambda: specs["duplicate_span_extraction"].builder(spark, corpus_dir))
        if want("doc_segment_boilerplate"):
            run("doc_segment_boilerplate", tag,
                lambda: specs["doc_segment_boilerplate"].builder(spark, corpus_dir))

    import math

    out = {
        "sizes": sizes,
        "generator": gen,
        "queries": {},
        "notes": notes,
        "heap": {"spark.driver.memory": mem or "8g (session default)"},
    }
    if ops is not None:
        out["ops_filter"] = sorted(ops)
    ordered = sorted(sizes, key=sizes.get)
    for name, t in sorted(results.items()):
        row = dict(t)
        # per-step exponents only — log(t_b/t_a)/log(n_b/n_a) between
        # consecutive measured points. The old "exponent" key hardcoded
        # log10(t_10x/t_1x), silently wrong whenever SPARK_GRAFT_SF1_SIZES
        # made the 1x:10x tags a non-10x ratio (advisor, round 7); the
        # exponent_1x_10x key is the correct general form of the same number.
        for a, b in zip(ordered, ordered[1:]):
            if a in t and b in t:
                row[f"exponent_{a}_{b}"] = round(
                    math.log10(t[b] / t[a]) / math.log10(sizes[b] / sizes[a]), 2
                )
        out["queries"][name] = row
        print(name, row, flush=True)
    os.makedirs(os.path.join(_REPO, ".gates"), exist_ok=True)
    out_name = os.environ.get("SPARK_GRAFT_SF1_OUT", "sf1.json")
    with open(os.path.join(_REPO, ".gates", out_name), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote .gates/{out_name}")
    spark.stop()


if __name__ == "__main__":
    main()
