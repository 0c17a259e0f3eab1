"""Physical-plan assertions: the scale posture is part of correctness.

Each test pins a plan property that must survive refactors: pushdown,
pruning, broadcast, partial aggregation, codegen fusion, top-k without
global sort.
"""

from __future__ import annotations

from mapreduce_paradigm_spark.plans import (
    count_occurrences,
    formatted_plan,
    has_pushed_filters,
)
from mapreduce_paradigm_spark.registry import all_specs

from .conftest import SF_CORRECT


def _df(spark, name):
    return all_specs()[name].builder(spark, SF_CORRECT)


def test_filters_push_to_parquet_scan(spark):
    df = _df(spark, "filter_projection")
    assert has_pushed_filters(df, "l_discount", "l_quantity")


def test_column_pruning_reads_narrow_schema(spark):
    plan = formatted_plan(_df(spark, "filter_projection"))
    # lineitem has 11 columns; this projection must scan only 5
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.split("struct<", 1)[1].count(":") <= 5, read


def test_star_join_broadcasts_all_dims(spark):
    df = _df(spark, "revenue_by_region")
    # formatted plans mention each node in tree + details: 4 joins → ≥4 hits
    assert count_occurrences(df, "BroadcastHashJoin") >= 4
    assert count_occurrences(df, "SortMergeJoin") == 0


def test_aggregate_is_partial_then_final(spark):
    plan = formatted_plan(_df(spark, "pricing_summary"))
    # map-side combine (the reference's per-doc maps, src/main.cpp:234-258)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_avoids_global_sort(spark):
    plan = formatted_plan(_df(spark, "top10_orders"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_flagship_single_wide_shuffle(spark):
    import re

    plan = formatted_plan(_df(spark, "inverted_index"))
    # one exchange for the word groupBy; partial agg before it
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(word" in plan
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final collect_set


def test_date_filter_pushdown(spark):
    df = _df(spark, "pricing_summary")
    assert has_pushed_filters(df, "l_shipdate")


def test_exists_decorrelates_to_semi_join(spark):
    plan = formatted_plan(_df(spark, "orders_priority_count_exists"))
    assert "LeftSemi" in plan or "left_semi" in plan.lower(), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_not_exists_decorrelates_to_anti_join(spark):
    plan = formatted_plan(_df(spark, "parts_never_ordered_not_exists"))
    assert "LeftAnti" in plan or "left_anti" in plan.lower(), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_correlated_scalar_subquery_becomes_aggregate_join(spark):
    # per-nation mean: one aggregate joined back — NOT a per-row nested loop
    plan = formatted_plan(_df(spark, "suppliers_above_nation_avg"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final of the decorrelated agg


def test_minhash_no_join_in_candidate_generation(spark):
    # candidates come from bucket groupBy + in-array explode; the only joins
    # are the final verify joins against sizes/candidates
    plan = formatted_plan(_df(spark, "minhash_lsh_pairs"))
    assert "CartesianProduct" not in plan


def test_bigrams_no_join(spark):
    # adjacent pairs come from array-side explosion — no self-join on positions
    plan = formatted_plan(_df(spark, "bigram_counts"))
    assert "Join" not in plan, plan


def test_positional_index_single_shuffle(spark):
    import re

    plan = formatted_plan(_df(spark, "positional_index"))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan


def test_ann_corpus_never_shuffles(spark):
    import re

    # exact ANN: scan → normalize → MapInPandas (local top-k) and then ONE
    # exchange of candidate rows only, hash-partitioned by query id, with a
    # partial WindowGroupLimit before it — the corpus itself never shuffles
    plan = formatted_plan(_df(spark, "embedding_topk_cosine"))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(q_id" in plan
    assert "row_number(), 5, Partial" in plan  # pre-shuffle top-k pruning


def test_embedding_lsh_rerank_never_broadcasts_candidates(spark):
    """The LSH rerank's candidate pair set (groupBy → explode → distinct)
    has no usable Catalyst size estimate, and the static planner was
    observed picking BroadcastHashJoin BuildLeft on it — collecting the
    corpus-derived Θ(n^(1+ρ))-row pair stream to the driver (died on
    spark.driver.maxResultSize at 1M vectors; round-9 wall run). The
    rerank's join strategy is pinned from REAL corpus knowledge, not
    Catalyst estimates (see _quantized_exact_rerank): small known corpus →
    explicit broadcast hints on the VECTOR/code sides (candidates are
    probe-side only, crossing zero exchanges); large or unknown corpus →
    merge pins (AQE may demote at RUNTIME from actual sizes). Both
    branches make a candidate-side broadcast build structurally
    impossible; this test pins each branch's static shape."""
    from mapreduce_paradigm_spark.operators.dedup import embedding_near_dup_lsh
    from mapreduce_paradigm_spark.sources.tables import load_table

    # registered queries run the derived path at fixture scale: the corpus
    # is known-small, so the rerank runs regime 0 (round 13) — the corpus
    # matrix rides a broadcast variable into ONE vectorized mapInPandas
    # pass and the candidate stream crosses NO join at all (stronger than
    # the old regime-1 pin: not even a broadcast-hash probe), and the plan
    # has no SortMergeJoin (the candidate stream never shuffles)
    from .conftest import rerank_regime_claims

    for name in ("embedding_near_dup_lsh", "embedding_near_dup_lsh_t090"):
        plan = formatted_plan(_df(spark, name))
        assert plan.count("MapInPandas") >= 2, (name, plan)  # signatures + rerank
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)  # candidates never join
    # claims derived from the regime constants (round-10: retuning the
    # bars for a deployment re-derives the pins): the smallest n past the
    # vec-broadcast bar (regime 2) and past the codes bar (regime 3)
    codes_claim, merge_claim = rerank_regime_claims(dim=64)
    # the SCALE branch: a past-the-codes-bar claimed corpus (the 100 TB
    # posture) must pin every rerank join to shuffle joins — a broadcast
    # anywhere would mean either candidates or a multi-million-vector
    # table headed for the driver
    emb = load_table(spark, SF_CORRECT, "embeddings")
    plan = formatted_plan(
        embedding_near_dup_lsh(emb, threshold=0.90, corpus_size=merge_claim)
    )
    assert "BroadcastHashJoin" not in plan, plan
    assert (
        count_occurrences(
            embedding_near_dup_lsh(emb, threshold=0.90, corpus_size=merge_claim),
            "SortMergeJoin",
        )
        >= 4
    )
    # the MIXED branch (just past the vec bar): int8 codes still fit a
    # broadcast (stage 1 = BroadcastHashJoin, candidate stream crosses zero
    # exchanges) while full float64 vectors do not (stage 2 = merge pins)
    mixed = formatted_plan(
        embedding_near_dup_lsh(emb, threshold=0.90, corpus_size=codes_claim)
    )
    assert "BroadcastHashJoin" in mixed, mixed
    assert "SortMergeJoin" in mixed, mixed


def test_runtime_bloom_filter_join_injection(spark):
    """Catalyst's runtime row-level filtering: a shuffle join whose build
    side carries a selective filter gets a bloom filter injected on the
    probe side, so non-matching rows die at the scan instead of crossing
    the exchange — the optimizer-native form of the bloom pattern
    ``operators/dedup.benchmark_contamination_bloom`` hand-builds. Pinned
    here (with local thresholds; the prod defaults gate on multi-GB scans)
    so a config or version change that silently drops the capability
    fails loudly."""
    import pyspark.sql.functions as F

    from mapreduce_paradigm_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_CORRECT, "lineitem")
        orders = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderstatus") == "P"
        )
        plan = formatted_plan(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
        ).lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    # LATERAL (... ORDER BY ... LIMIT 2) must become a window group-limit
    # over one shuffle — never a per-customer nested loop or cartesian
    plan = formatted_plan(_df(spark, "top2_orders_per_customer_lateral"))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_winsorized_thresholds_join_is_broadcast(spark):
    """The 3-row quantile-threshold table must broadcast back onto the
    ranked stream — a shuffle join here would re-partition the whole fact
    table to meet three rows."""
    df = _df(spark, "winsorized_revenue_by_flag")
    assert count_occurrences(df, "BroadcastHashJoin") >= 1
    assert count_occurrences(df, "SortMergeJoin") == 0


def test_pmi_dims_broadcast_no_pair_self_join(spark):
    """PMI joins (df per word ×2, corpus size) are all broadcast; pair
    generation is the in-array explode — no SortMergeJoin anywhere, and no
    join of the (doc, word) stream against itself."""
    df = _df(spark, "word_cooccurrence_pmi")
    assert count_occurrences(df, "BroadcastHashJoin") >= 2
    assert count_occurrences(df, "BroadcastNestedLoopJoin") >= 1  # 1-row N
    assert count_occurrences(df, "SortMergeJoin") == 0


def test_doc_pack_bins_single_shuffle(spark):
    """Sequence packing is ONE window shuffle partitioned by source; a
    second exchange would mean the running total re-partitioned."""
    import re

    plan = formatted_plan(_df(spark, "doc_pack_bins"))
    # exactly one Exchange node in the detail section (the source window)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_struct_ops_prune_dropped_member_from_scan(spark):
    """Packing a column into a struct and dropFields-ing it must erase it
    from the parquet ReadSchema entirely (nested-member pruning) — nesting
    costs nothing it doesn't use."""
    plan = formatted_plan(_df(spark, "orders_struct_ops"))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderstatus" not in read
    assert "o_totalprice" in read


def test_nullsafe_join_is_hash_join_not_nested_loop(spark):
    """Null-safe equality (<=>) must still plan as a hash join key — an
    engine that demotes it to a nested-loop residual would be quadratic."""
    df = _df(spark, "nullsafe_bucket_join")
    assert count_occurrences(df, "NestedLoop") == 0


def test_keep_latest_compaction_uses_window_group_limit(spark):
    # CDC keep-latest (rn = 1 on a desc-ordered window) must plan as
    # WindowGroupLimit — a 1-row running champion per key before the full
    # window sort, the difference between compacting a 100 TB change log
    # and materializing it sorted.
    plan = formatted_plan(_df(spark, "events_keep_latest_per_user_type"))
    assert "WindowGroupLimit" in plan


def test_not_in_nullable_plans_null_aware_anti_join(spark):
    # NOT IN (nullable subquery) must stay a broadcast hash LeftAnti (Spark's
    # null-aware anti join), never a nested-loop or a plain (wrong) anti join
    # over a join condition with OR-isnull — and the build-side filter must
    # reach the scan.
    df = _df(spark, "parts_not_in_nullable_subquery")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_pushed_filters(df, "GreaterThanOrEqual(l_quantity,48.0)")


def test_band_join_is_equi_join_not_nested_loop(spark):
    # the banded theta join must plan as an EQUI-join on the bucket id
    # (broadcast or sort-merge — either is fine); if the bucket fan-out ever
    # regresses into the raw |C|x|S| predicate join, Spark plans a
    # BroadcastNestedLoopJoin — the exact shape this operator exists to avoid
    plan = formatted_plan(_df(spark, "acctbal_band_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_null_aware_anti_join_semantics(spark):
    # x NOT IN (subquery) with an ACTUAL null in the in-list must yield zero
    # rows (UNKNOWN is not TRUE) — the semantics the null-aware anti join
    # implements; a plain anti join would wrongly keep non-matching rows.
    from mapreduce_paradigm_spark.sources.tables import register_views

    register_views(spark, SF_CORRECT)
    n = spark.sql(
        """
        SELECT count(*) AS n FROM part
        WHERE p_partkey NOT IN (
          SELECT CASE WHEN l_quantity >= 48 THEN NULL ELSE l_partkey END
          FROM lineitem
        )
        """
    ).collect()[0]["n"]
    assert n == 0


def test_simhash_fingerprints_zero_shuffle(spark):
    # a SimHash is a per-document computation: the fingerprint stage must be
    # a pure map (in-array word dedup + hash fold), with NO Exchange before
    # the near-pair bucketing consumes it
    from mapreduce_paradigm_spark.operators.dedup import simhash
    from mapreduce_paradigm_spark.sources.tables import load_table

    plan = formatted_plan(simhash(load_table(spark, SF_CORRECT, "documents")))
    assert "Exchange" not in plan


def test_embedding_lsh_derived_default_plan(spark):
    # the round-8 DERIVED default (nbits=None → lsh_params from a
    # construction-time count) must keep the banded-LSH plan shape: one
    # mapInPandas signature pass feeding a bucket groupBy + in-array pair
    # explode, exact rerank via two equi-joins — never an all-pairs
    # CartesianProduct / BroadcastNestedLoopJoin, which is exactly what a
    # broken candidate stage degenerates into
    from mapreduce_paradigm_spark.operators.dedup import embedding_near_dup_lsh
    from mapreduce_paradigm_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    plan = formatted_plan(embedding_near_dup_lsh(emb, threshold=0.90))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # one batched signature pass
    # candidate generation groups by (band, bucket): a real Exchange on the
    # bucket key, not a single-partition collapse
    assert "Exchange SinglePartition" not in plan


def test_per_document_queries_never_shuffle(spark):
    # every per-document computation (text stats, quality, fingerprints,
    # redaction, token counts, repetition, CDC-free scoring) must be a pure
    # map — an Exchange in any of these plans is a regression paying a
    # corpus-scale shuffle for row-local work
    for name in (
        "language_id",
        "text_quality_scores",
        "doc_fingerprints",
        "doc_token_counts",
        "pii_redaction",
        "doc_repetition_scores",
    ):
        plan = formatted_plan(_df(spark, name))
        assert "Exchange" not in plan, name


def test_join_hints_are_honored(spark):
    # the hinted query must contain BOTH explicitly-chosen strategies;
    # a broadcast sneaking in (AQE stats drift) would defeat the hint's
    # capacity-planning purpose
    plan = formatted_plan(_df(spark, "order_totals_hinted_joins"))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" in plan


def test_pipeline_dedup_is_partial_window_group_limit(spark):
    # the rn=1 exact-dedup filter must decorrelate to WindowGroupLimit with
    # a PARTIAL pass before the hash exchange — per-partition top-1-per-key
    # pruning, so the dedup shuffle carries survivors, not the corpus
    plan = formatted_plan(_df(spark, "training_corpus_pipeline"))
    assert "WindowGroupLimit" in plan
    assert "row_number(), 1, Partial" in plan


import os

import pytest


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_PLAN_LINT"),
    reason="full-registry plan lint is opt-in: SPARK_GRAFT_PLAN_LINT=1 "
    "(~2 min; compiles every batch query's physical plan and rejects "
    "non-broadcast CartesianProduct — the quadratic-at-scale hazard; "
    "swept clean at round 5: 289 plans, 0 flagged)",
)
def test_no_cartesian_product_anywhere(spark):
    from mapreduce_paradigm_spark.registry import all_specs

    flagged = {}
    for name, spec in sorted(all_specs().items()):
        if name.startswith("streaming_"):
            continue  # streaming builders execute; lint covers batch plans
        plan = formatted_plan(spec.builder(spark, SF_CORRECT))
        if "CartesianProduct" in plan:
            flagged[name] = True
    assert not flagged, flagged


def test_web_pipeline_single_corpus_exchange(spark):
    # the whole sessionize→funnel→rollup pipeline must pay exactly ONE
    # corpus-scale shuffle: both windows and the session aggregate share
    # the user_id partitioning; later exchanges move only the stage grid
    import re

    plan = formatted_plan(_df(spark, "web_analytics_pipeline"))
    user_exchanges = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1, plan


def test_registry_age_ledger_complete():
    """Every registered query must appear in REGISTRY_AGE.txt: the gate's
    never-checked ordering uses the ledger as registration AGE, so a name
    missing from it would implicitly sort last — fine — but an
    intentionally appended ledger keeps the ordering auditable and stops
    a new module's import position from jumping the verification queue.
    When this fails: append the new names (never reorder existing ones)."""
    import os

    from mapreduce_paradigm_spark.registry import all_specs

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "REGISTRY_AGE.txt")) as f:
        ledger = [line.strip() for line in f if line.strip()]
    assert len(ledger) == len(set(ledger)), "duplicate names in REGISTRY_AGE.txt"
    missing = sorted(set(all_specs()) - set(ledger))
    assert not missing, f"append to REGISTRY_AGE.txt: {missing}"


def test_duplicate_span_extraction_three_exchanges(spark):
    # window df (sid), dup-sid semi-join side, per-doc island rollup — the
    # documented three-shuffle budget; text columns must not survive past
    # the hash (shuffles carry 8-byte sids + positions only)
    import re

    plan = formatted_plan(_df(spark, "duplicate_span_extraction"))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) <= 4, plan
    # the semi-join's build side (small dup-sid set) must broadcast or
    # at minimum never carry text; no Exchange row mentions the text column
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_kmv_overlap_pair_stage_is_sketch_sized(spark):
    # the corpus touches only the distinct + per-source top-k; the pair
    # matrix must be built from the windowed sketch (n_sources × k rows),
    # never a corpus-scale self-join → no SortMergeJoin over the raw
    # shingle stream (all sketch joins are broadcast-able)
    plan = formatted_plan(_df(spark, "source_kmv_overlap"))
    assert "CartesianProduct" not in plan
    # sketch truncation happens before pairing: a row_number window with
    # the k-filter must appear upstream of every join
    assert "row_number" in plan


def test_sq8_corpus_never_shuffles(spark):
    # same contract as the exact ANN tier: the corpus stream feeds
    # MapInPandas without an exchange, so EVERY shuffle in the plan must be
    # keyed by q_id — i.e. it moves candidate/shortlist rows, never corpus
    import re

    plan = formatted_plan(_df(spark, "embedding_sq8_topk"))
    assert "MapInPandas" in plan
    found = [
        m.group(1)
        for m in re.finditer(
            r"^\(\d+\) Exchange\n(?:.*\n){1,4}?.*Arguments: (.*)$",
            plan,
            flags=re.M,
        )
    ]
    assert found, plan  # format drift guard: the scan must stay non-vacuous
    for args in found:
        assert "q_id" in args, args


def test_near_dedup_pipeline_no_cartesian(spark):
    plan = formatted_plan(_df(spark, "near_dedup_survivor_rates"))
    assert "CartesianProduct" not in plan


def test_golden_record_single_entity_exchange(spark):
    # all three survivorship windows, the (custkey, priority) frequency
    # count, and the final fuse groupBy must share ONE hash shuffle on the
    # entity key: hash(o_custkey) satisfies every later clustering
    import re

    plan = formatted_plan(_df(spark, "customer_golden_record"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_zone_map_grader_exchanges_are_metadata_scale(spark):
    # the ntile zone slice is the fixture stand-in for parquet footer
    # stats: one SinglePartition exchange per graded layout and no
    # corpus-scale hash shuffle anywhere
    import re

    plan = formatted_plan(_df(spark, "orders_zone_map_skipping"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3, plan
    assert "hashpartitioning" not in plan, plan


def test_partitioned_roundtrip_prunes_partitions(spark):
    plan = formatted_plan(_df(spark, "source_partitioned_roundtrip"))
    # the segment predicate must resolve against directory names at
    # planning time, not as a data filter after reading every partition
    assert "PartitionFilters" in plan
    seg_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "BUILDING" in seg_line


def test_dynamic_partition_pruning_on_partitioned_fact(spark):
    """A partitioned fact joined to a filtered dim must prune partitions
    at RUNTIME from the dim's build side (dynamicpruningexpression +
    broadcast subquery) — the mechanism that turns a star-join date
    filter into an I/O cut on a date-partitioned 100 TB fact."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_paradigm_spark.sources.tables import load_table

    d = os.path.join(tempfile.mkdtemp(prefix="dpp_"), "orders_part")
    load_table(spark, SF_CORRECT, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.createDataFrame(
        [("F", 10), ("O", 20), ("P", 30)], "st string, w int"
    ).where(F.col("w") == 10)
    j = fact.join(dim, fact["o_orderstatus"] == dim["st"]).groupBy("st").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan


def test_global_shard_plan_no_single_partition_window(spark):
    """The global running sum must run as the two-pass prefix sum — a
    naive Window.orderBy() global cumsum plans 'Exchange SinglePartition'
    (one task does the whole corpus); the shard plan must never contain
    one."""
    plan = formatted_plan(_df(spark, "corpus_global_shard_plan"))
    assert "SinglePartition" not in plan, plan


def test_curriculum_stages_no_single_partition_exchange(spark):
    """Round-5 advisor finding: the TTR rank ran as a partition-less
    Window.orderBy row_number — Exchange SinglePartition over the whole
    corpus. Now the house two-pass prefix-rank; pin the shape."""
    plan = formatted_plan(_df(spark, "doc_curriculum_stages"))
    assert "SinglePartition" not in plan, plan


def test_vocab_coverage_top_k_without_global_sort(spark):
    """The vocab rank must reach k-scale via TakeOrderedAndProject
    (per-partition top-k) BEFORE any global window; the remaining
    single-partition window sees <= max(ks)=300 rows — the accepted
    bounded-window exception (same class as the 25-row BH ranking),
    documented here."""
    plan = formatted_plan(_df(spark, "vocab_coverage_curve"))
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name, table, scans",
    [
        ("minhash_lsh_recall_check", "documents", 2),
        ("simhash_exact_dup_check", "documents", 3),
        ("hybrid_rrf_fusion", "documents", 2),
        ("ann_recall_check", "embeddings", 3),
    ],
)
def test_operator_caches_outlive_derived_plans(spark, name, table, scans):
    """Operator-internal caches live as long as the plan the builder
    returns, however the builder derived it from the operator's result.
    A cache released early (an intermediate operator frame dropped and
    collected before the plan runs) turns each of its reads back into a
    raw scan of the source table, so the pinned counts grow."""
    import gc

    df = all_specs()[name].builder(spark, SF_CORRECT)
    gc.collect()
    plan = formatted_plan(df)
    assert plan.count(f"Location: InMemoryFileIndex [file:{SF_CORRECT}/{table}") == scans
