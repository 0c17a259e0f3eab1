"""Round-13 pins for the size-gated multi-consumer persist (VERDICT r12
ask #4): below the input floor the persist is skipped (the driver's cold
bench measured the unconditional r12 persists as regressions at fixture
scale); above it — or when input size cannot be inspected — the
scanned-once design persists exactly as before. Results are unaffected
either way (the persist is pure reuse); these tests pin the GATE."""

from __future__ import annotations

from pyspark.sql import functions as F

import mapreduce_paradigm_spark.operators.dedup as dd
from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.sources.tables import load_table

from .conftest import SF_CORRECT


@lifetime.scoped
def _gate(df, src):
    """Run the size gate inside a cache scope: (result persisted, scope
    owns the result, handles the scope owns). The tuple result is not a
    plan, so the scope releases its handles as it returns."""
    out = dd._persist_if_input_ge(df, src)
    owned = lifetime._SCOPE.get()
    return out.is_cached, any(h is out._jdf for h in owned), len(owned)


def test_gate_closed_below_floor(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    # fixture inputs are KBs, floor is 256 MiB
    assert _gate(docs.select("doc_id"), docs) == (False, False, 0)


def test_gate_open_above_floor(spark, monkeypatch):
    docs = load_table(spark, SF_CORRECT, "documents")
    monkeypatch.setattr(dd, "_PERSIST_INPUT_FLOOR", 1)  # any real file opens it
    assert _gate(docs.select("doc_id"), docs) == (True, True, 1)


def test_gate_closed_for_sourceless_frames(spark):
    # in-memory fixtures have no input files: nothing to save by caching
    df = spark.createDataFrame([(1,)], "x BIGINT")
    assert _gate(df.select("x"), df) == (False, False, 0)


def test_hybrid_bounded_shape_equals_lean_shape(spark, monkeypatch):
    """hybrid_rrf_fusion's size-gated bounded-rank shape (top-T window with
    WindowGroupLimit + 100-row broadcast count-join for vec-doc ranks) must
    emit exactly the lean single-window result — the T=140 truncation proof
    and the count-join ≡ row_number identity, pinned end to end."""
    from mapreduce_paradigm_spark.registry import all_specs

    spec = all_specs()["hybrid_rrf_fusion"]
    lean = sorted(tuple(r) for r in spec.builder(spark, SF_CORRECT).collect())
    monkeypatch.setattr(dd, "_PERSIST_INPUT_FLOOR", 1)  # open the gate
    bounded_df = spec.builder(spark, SF_CORRECT)
    plan = spark._jvm.PythonSQLUtils.explainString(
        bounded_df._jdf.queryExecution(), "formatted"
    )
    bounded = sorted(tuple(r) for r in bounded_df.collect())
    assert bounded == lean and len(lean) == 20
    # the text-rank window is WindowGroupLimit-bounded in the open-gate plan
    assert "WindowGroupLimit" in plan


def test_gated_queries_results_unchanged(spark):
    # the four re-A/B'd queries stay oracle-identical with the gate closed
    from mapreduce_paradigm_spark.oracle import compare_query

    for name in (
        "word_cooccurrence_pmi",
        "word_collocation_llr",
        "events_multigrain_rollup",
        "query_likelihood_dirichlet",
    ):
        assert compare_query(spark, name, SF_CORRECT).ok, name
