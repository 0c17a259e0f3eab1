"""Opt-in retry/recompute-determinism gate:
SPARK_GRAFT_RETRY_GATE=1 pytest tests/test_retry_gate.py

At 1000 executors, task retries, speculative duplicates, and fetch-failure
recomputes are ROUTINE — a query whose output depends on attempt identity,
partition layout, or aggregation order silently corrupts results at scale
while passing every single-run test. This gate certifies two invariances
end-to-end on real operators:

- RETRY invariance: the corpus scan is wrapped in a mapInPandas pass that
  RAISES on the first attempt of two partitions (spark.task.maxFailures=3
  via ``local[8,3]``); the rerun must produce byte-identical results to
  the clean run.
- LAYOUT invariance: the same queries over ``repartition(7)``-ed input
  must produce identical results — catches spark_partition_id /
  monotonically_increasing_id / float-merge-order leaks into output
  values. (The engine's discipline: integer-micro aggregation, salts from
  row-content hashes — operators/salted.py — and total-order tiebreaks.)

Runs in its OWN SparkSession (local[8,3] — plain local[N] treats any task
failure as fatal, so retry semantics need the explicit maxFailures
master); gates.py executes it as a separate process so it never collides
with the shared test session.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_RETRY_GATE"),
    reason="retry-determinism gate is opt-in: SPARK_GRAFT_RETRY_GATE=1 "
    "(own SparkSession with task retries enabled; ~2 min)",
)

SF_DIR = "/root/testdata/sf0.01"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def rspark():
    from mapreduce_paradigm_spark.session import get_spark

    s = get_spark(
        app_name="mapreduce-paradigm-spark-retry-gate",
        master="local[8,3]",  # N threads, maxFailures=3 — retries enabled
        shuffle_partitions=8,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _flaky_passthrough(df, fail_partitions=(0, 3)):
    """Identity mapInPandas that raises on the FIRST attempt of the given
    partitions — downstream sees the same rows, but only after Spark has
    exercised its retry path on the scan stage."""
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if (
            ctx is not None
            and ctx.partitionId() in fail_partitions
            and ctx.attemptNumber() == 0
        ):
            raise RuntimeError(
                f"injected first-attempt failure (partition {ctx.partitionId()})"
            )
        yield from batches

    return df.mapInPandas(gen, schema=schema)


def _result_hash(df) -> tuple[int, str]:
    """Order-insensitive (rows, digest) of a DataFrame: sorted row tuples."""
    import hashlib

    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    h = hashlib.sha256("\n".join("\x1f".join(r) for r in rows).encode())
    return len(rows), h.hexdigest()


def _pipelines(spark, docs):
    """Representative operator pipelines over a documents DataFrame —
    flagship index aggregation, a row-content-salted count, and a
    banded-LSH dedup (the shapes most exposed to recompute effects)."""
    from mapreduce_paradigm_spark.functions import doc_words
    from mapreduce_paradigm_spark.operators.dedup import minhash_lsh_pairs
    from mapreduce_paradigm_spark.operators.salted import salted_count

    dw = doc_words(docs)
    index = (
        dw.distinct()
        .groupBy("word")
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("doc_ids"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
        .select("word", F.array_join("doc_ids", " ").alias("postings"), "df")
    )
    salted = salted_count(dw, ["word"], buckets=8)
    lsh = minhash_lsh_pairs(docs, threshold=0.5)
    return {"inverted_index": index, "salted_word_count": salted, "minhash_lsh": lsh}


def _record(payload: dict) -> None:
    os.makedirs(os.path.join(_REPO, ".gates"), exist_ok=True)
    with open(os.path.join(_REPO, ".gates", "retry.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)


def test_results_identical_under_retries_and_relayout(rspark):
    from mapreduce_paradigm_spark.lifetime import release_caches

    docs = rspark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out = {}
    for variant, dsrc in (
        ("clean", docs),
        ("retry", _flaky_passthrough(docs)),
        ("relayout", docs.repartition(7)),
    ):
        hashes = {}
        for name, df in _pipelines(rspark, dsrc).items():
            hashes[name] = _result_hash(df)
            release_caches()
        out[variant] = hashes

    summary = {
        name: {
            "rows": out["clean"][name][0],
            "retry_identical": out["clean"][name] == out["retry"][name],
            "relayout_identical": out["clean"][name] == out["relayout"][name],
        }
        for name in out["clean"]
    }
    _record(summary)
    for name, s in summary.items():
        assert s["retry_identical"], f"{name}: differs after injected task retries"
        assert s["relayout_identical"], f"{name}: depends on partition layout"
