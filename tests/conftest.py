from __future__ import annotations

import pytest

from mapreduce_paradigm_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def rerank_regime_claims(dim: int = 64) -> tuple[int, int]:
    """Smallest ``corpus_size`` claims that push ``_quantized_exact_rerank``
    past the vec-broadcast bar (into regime 2: broadcast int8 codes) and
    past the codes-broadcast bar (into regime 3: all-merge), derived from
    the module constants so retuning the bars for a deployment re-derives
    every regime-boundary pin instead of silently invalidating it."""
    from mapreduce_paradigm_spark.operators.dedup import (
        _RERANK_CODES_BCAST_BYTES,
        _RERANK_VEC_BCAST_BYTES,
    )

    n_vec_max = _RERANK_VEC_BCAST_BYTES // (8 * dim + 48)
    n_codes_max = _RERANK_CODES_BCAST_BYTES // (dim + 48)
    assert n_vec_max + 1 <= n_codes_max, "vec bar must sit below codes bar"
    return n_vec_max + 1, n_codes_max + 1


def jobs_submitted(spark, fn) -> int:
    """Spark jobs that ``fn()`` submits, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts post async
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mapreduce-paradigm-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()
