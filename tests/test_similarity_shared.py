"""Round-13 pins for the ANN shared-state and topk additions.

1. AnnSharedState is pure reuse: every tier must emit BIT-IDENTICAL rows
   with and without the shared state (same collects, same deterministic
   sample, same normalization — sharing only removes repetition).
2. topk_cosine's chunked query-side collect (n_queries past
   _TOPK_QUERY_CHUNK) partitions the query set across per-chunk corpus
   passes — the merged result must equal the single-pass result exactly.
   A shared state does not bypass that bound.
3. rank_micros ranks by HALF_UP integer micros with ties to the lowest
   neighbor id — _half_up_micros must agree with Spark's round(x*1e6, 0)
   on adversarial values, and the selected argmax must follow the rounded
   contract when raw cosines disagree sub-micro.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.operators.similarity import (
    AnnSharedState,
    _half_up_micros,
    ivf_topk_cosine,
    lsh_topk_cosine,
    pq_topk_cosine,
    sq8_topk_cosine,
    topk_cosine,
)
from mapreduce_paradigm_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shared_state_is_output_invisible(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    cases = [
        (lambda s: topk_cosine(emb, queries, k=5, shared=s)),
        (lambda s: ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4, shared=s)),
        (lambda s: pq_topk_cosine(emb, queries, k=5, shared=s)),
        (lambda s: sq8_topk_cosine(emb, queries, k=5, shared=s)),
        (lambda s: lsh_topk_cosine(emb, queries, dim=64, k=5, nbits=8, multiprobe=2, shared=s)),
        (lambda s: lsh_topk_cosine(emb, queries, dim=64, k=5, nbits=8, multiprobe=0, shared=s)),
    ]
    with AnnSharedState(emb, queries) as sh:
        for build in cases:
            assert _rows(build(sh)) == _rows(build(None))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_shared_state_outside_a_scope_releases_on_exit(spark):
    # built outside any cache scope, the state owns its persisted corpus
    # frames: they survive the tier results that read them and are
    # released when the with-block exits
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    with AnnSharedState(emb, queries) as sh:
        _rows(topk_cosine(emb, queries, k=5, shared=sh))
        gc.collect()
        unit = sh.unit_corpus()
        lsh = sh.lsh_corpus(64, 8, 7)
        assert _cached(unit) and _cached(lsh)
    assert not _cached(unit) and not _cached(lsh)


def test_shared_state_inside_a_scope_belongs_to_the_scope(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    frames = []

    @lifetime.scoped
    def build():
        sh = AnnSharedState(emb, queries)
        out = topk_cosine(emb, queries, k=5, shared=sh).select("q_id")
        frames.append(sh.unit_corpus())
        return out

    out = build()
    gc.collect()
    assert _cached(frames[0])  # the builder's result still owns it
    del out
    gc.collect()
    assert not _cached(frames[0])


def test_shared_state_rejects_foreign_frames(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    other = emb.filter(F.col("vec_id") % 2 == 0)
    sh = AnnSharedState(emb, queries)
    with pytest.raises(ValueError):
        topk_cosine(emb, other, k=5, shared=sh)


def test_topk_chunked_queries_equal_single_pass(spark, monkeypatch):
    import mapreduce_paradigm_spark.operators.similarity as sim

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0)  # 100 queries at sf0.01
    nq = queries.count()
    single = _rows(topk_cosine(emb, queries, k=5))
    monkeypatch.setattr(sim, "_TOPK_QUERY_CHUNK", 7)  # force ~15 chunks
    chunked = _rows(topk_cosine(emb, queries, k=5, n_queries=nq))
    assert chunked == single

    # a shared state supplies the corpus only: past the chunk bound the
    # query side is still collected chunk by chunk, never all at once
    def _single_collect(self):
        raise AssertionError("shared.qrows() collected every query at once")

    monkeypatch.setattr(sim.AnnSharedState, "qrows", _single_collect)
    with sim.AnnSharedState(emb, queries) as sh:
        shared = _rows(topk_cosine(emb, queries, k=5, n_queries=nq, shared=sh))
    assert shared == single


def test_half_up_micros_matches_spark_round(spark):
    # adversarial values around .5 boundaries, negatives, and the
    # representation-edge case where floor(y + 0.5) would round wrong
    vals = [
        0.0000005, -0.0000005, 2.5e-6, -2.5e-6, 0.4999999999999999e-6,
        1.0, -1.0, 0.123456749, 0.1234567501, -0.9999995, 0.42,
        4.999999999999999e-07, 5.000000000000001e-07, 1e-12, -1e-12,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
    got_spark = [r["m"] for r in df.select(F.round(F.col("x") * 1e6, 0).alias("m")).collect()]
    import numpy as np

    got_np = _half_up_micros(np.array(vals, dtype=np.float64))
    for v, s, n in zip(vals, got_spark, got_np):
        assert s == n, (v, s, n)


def test_exact_pairs_chunked_collect_equal_single(spark, monkeypatch):
    """embedding_near_dup_pairs' bounded chunked collect (round 13) must be
    output-invisible: chunks partition the corpus and the d1<d2 filter is
    chunk-local, so the merged pair set and 4dp cosines equal the
    single-broadcast form exactly."""
    import mapreduce_paradigm_spark.operators.dedup as dd

    emb = load_table(spark, SF_CORRECT, "embeddings")
    single = _rows(dd.embedding_near_dup_pairs(emb, threshold=0.42))
    monkeypatch.setattr(dd, "_EXACT_PAIRS_CHUNK", 64)  # 500 rows → 8 chunks
    chunked = _rows(dd.embedding_near_dup_pairs(emb, threshold=0.42))
    assert chunked == single and len(single) > 0


def test_rank_micros_follows_rounded_argmax(spark):
    # two corpus vectors whose cosines to the query differ sub-micro but
    # round to the same integer micro: raw argmax picks the higher raw
    # cosine (id 2); the rounded contract picks the LOWER id (1)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),               # query
        (1, [0.42, 1.0, 0.0, 0.0]),              # cos ≈ 0.38737...
        (2, [0.42000001, 1.0, 0.0, 0.0]),        # sub-micro higher cosine
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    q = emb.filter(F.col("vec_id") == 0)
    raw = topk_cosine(emb, q, k=1).collect()[0]
    rounded = topk_cosine(emb, q, k=1, rank_micros=True).collect()[0]
    # sanity: the two candidates really do round to the same micro
    import numpy as np

    c1 = np.float64(0.42) / np.sqrt(np.float64(0.42) ** 2 + 1.0)
    c2 = np.float64(0.42000001) / np.sqrt(np.float64(0.42000001) ** 2 + 1.0)
    assert c2 > c1  # raw cosines really do disagree
    assert _half_up_micros(np.array([c1])) == _half_up_micros(np.array([c2]))
    assert raw["neighbor_id"] == 2
    assert rounded["neighbor_id"] == 1
