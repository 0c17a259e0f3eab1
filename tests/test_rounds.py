"""Driver-loop mechanism (``operators/rounds.py``): a convergent round is
one checkpoint job that also returns its metrics, the round bound raises,
and the loop builders stay within their build-time job counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_paradigm_spark.operators.rounds import ConvergenceError, fixpoint

from .conftest import SF_CORRECT, jobs_submitted


def _halve(df):
    # a shuffle per round, like every real step
    return df.groupBy((F.col("x") / 2).cast("long").alias("x")).agg(
        F.count(F.lit(1)).alias("n")
    )


def test_convergent_round_costs_no_more_than_its_checkpoint(spark):
    state = spark.range(5000).select((F.col("id") * 7 % 1999).alias("x"))
    bare = jobs_submitted(spark, lambda: _halve(state).localCheckpoint(eager=True))
    seen = []

    def done(m, prev, new, old):
        seen.append(m)
        return True

    ours = jobs_submitted(
        spark,
        lambda: fixpoint(
            state,
            _halve,
            5,
            metrics=[F.count(F.lit(1)).alias("rows"), F.sum("n").alias("total")],
            done=done,
        ),
    )
    assert ours <= bare, (ours, bare)
    assert seen == [{"rows": 1000, "total": 5000}]


def test_fixpoint_raises_after_exactly_max_rounds(spark):
    calls = []

    def step(df):
        calls.append(1)
        return _halve(df.select("x"))

    state = spark.range(64).select(F.col("id").alias("x"))
    with pytest.raises(ConvergenceError, match="3 rounds"):
        fixpoint(
            state,
            step,
            3,
            metrics=[F.count(F.lit(1)).alias("rows")],
            done=lambda *_: False,
        )
    assert len(calls) == 3
    calls.clear()
    out = fixpoint(state, step, 3)  # fixed rounds: no done, no raise
    assert len(calls) == 3
    assert sorted(r["x"] for r in out.collect()) == list(range(8))


def test_kcore_of_an_empty_edge_list(spark):
    from mapreduce_paradigm_spark.operators.components import kcore_vertices

    out = kcore_vertices(spark.createDataFrame([], "a long, b long"), k=2)
    assert out.schema.simpleString() == "struct<v:bigint,deg:bigint>"
    assert out.collect() == []


# build-time jobs (submitted before the caller's action) at SF_CORRECT on
# the test session's conf: measured 140, 13, 22 and 22 once every loop ran
# through rounds.fixpoint (190, 49, 32 and 27 before), plus a little room
# for the few jobs AQE's run-to-run choices move
@pytest.mark.parametrize(
    "name, ceiling",
    [
        ("doc_graph_scc", 145),
        ("returnflag_exact_median_histogram", 14),
        ("dedup_clusters_star", 23),
        ("doc_graph_kcore", 23),
    ],
)
def test_loop_builder_job_ceiling(spark, name, ceiling):
    from mapreduce_paradigm_spark.registry import all_specs

    builder = all_specs()[name].builder
    builder(spark, SF_CORRECT)  # warm: schema inference is not the loop's
    out = []
    jobs = jobs_submitted(spark, lambda: out.append(builder(spark, SF_CORRECT)))
    assert jobs <= ceiling, (name, jobs)
    assert out[0].count() > 0
