"""Cache lifetime contract (``mapreduce_paradigm_spark.lifetime``): a
persisted frame or broadcast belongs to the scoped call that made it —
released with the outermost result, moved to the parent on a nested
exit, released at once on a raise, never shared across threads, and
refused with no scope open."""

from __future__ import annotations

import gc
import threading
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _frame(spark, n: int):
    # a distinct plan per call: equal plans share one CacheManager entry
    return spark.range(n).select((F.col("id") * 2).alias("x"))


def test_persist_without_a_scope_raises(spark):
    df = _frame(spark, 101)
    with pytest.raises(RuntimeError, match="no cache scope"):
        lifetime.persist(df)
    assert not _cached(df)
    bc = spark.sparkContext.broadcast(1)
    with pytest.raises(RuntimeError, match="no cache scope"):
        lifetime.broadcast(bc)
    bc.unpersist()


def test_outermost_result_owns_nested_caches(spark):
    made = []

    @lifetime.scoped
    def inner(n):
        made.append(lifetime.persist(_frame(spark, n)))
        return made[-1].select("x")

    @lifetime.scoped
    def outer():
        # the inner result is dropped at once; its cache must survive
        inner(201).count()
        return inner(202).filter("x > 0")

    out = outer()
    gc.collect()
    assert all(_cached(d) for d in made)
    del out
    gc.collect()
    assert not any(_cached(d) for d in made)


def test_scopes_on_two_threads_never_adopt_each_other(spark):
    barrier = threading.Barrier(2, timeout=60)
    made: dict[str, list] = {"a": [], "b": []}
    results: dict = {}
    errors: list = []

    @lifetime.scoped
    def build(tag, base):
        made[tag].append(lifetime.persist(_frame(spark, base)))
        barrier.wait()  # both scopes are open here
        made[tag].append(lifetime.persist(_frame(spark, base + 1)))
        barrier.wait()
        return made[tag][-1].select("x")

    def run(tag, base):
        try:
            results[tag] = build(tag, base)
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=("a", 301)),
        threading.Thread(target=run, args=("b", 311)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    del results["a"]
    gc.collect()
    assert not any(_cached(d) for d in made["a"])
    assert all(_cached(d) for d in made["b"])
    del results["b"]
    gc.collect()
    assert not any(_cached(d) for d in made["b"])


def test_nested_raise_releases_only_its_own_caches(spark):
    made = {}
    owned_at_return = []

    @lifetime.scoped
    def failing():
        made["inner"] = lifetime.persist(_frame(spark, 401))
        raise ValueError("inner builder failed")

    @lifetime.scoped
    def outer():
        made["outer"] = lifetime.persist(_frame(spark, 402))
        with pytest.raises(ValueError):
            failing()
        assert not _cached(made["inner"])  # released by its own scope
        owned_at_return.extend(lifetime._SCOPE.get())
        return made["outer"].select("x")

    out = outer()
    assert owned_at_return == [made["outer"]._jdf]
    assert _cached(made["outer"])
    del out
    gc.collect()
    assert not _cached(made["outer"])


def test_direct_similarity_calls_own_their_broadcasts(spark, monkeypatch):
    """A direct topk_cosine / ivf_topk_cosine call owns its broadcasts:
    an unrelated later operator call adopts none of them, and dropping
    the result releases them."""
    from mapreduce_paradigm_spark.operators.dedup import minhash_lsh_pairs
    from mapreduce_paradigm_spark.operators.similarity import (
        ivf_topk_cosine,
        topk_cosine,
    )

    made, released = [], []
    real_broadcast, real_release = lifetime.broadcast, lifetime._release

    def spy_broadcast(bc):
        made.append(bc)
        return real_broadcast(bc)

    def spy_release(handles):
        released.extend(handles)
        real_release(handles)

    monkeypatch.setattr(lifetime, "broadcast", spy_broadcast)
    monkeypatch.setattr(lifetime, "_release", spy_release)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = topk_cosine(emb, queries, k=5)
    ivf = ivf_topk_cosine(emb, queries, k=5, nlist=8, nprobe=4)
    assert len(made) == 2

    later = minhash_lsh_pairs(load_table(spark, SF_CORRECT, "documents"))
    del later
    gc.collect()
    assert not any(h is b for h in released for b in made)

    del exact, ivf
    gc.collect()
    assert all(any(h is b for h in released) for b in made)


def test_reads_of_a_persisted_aggregate_are_coalesced(spark):
    """AQE coalesces the shuffle inside a persisted plan, so an action
    over a small cached aggregate runs fewer tasks than
    ``spark.sql.shuffle.partitions`` (one per partition without it)."""
    import uuid

    sc = spark.sparkContext
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_shuffle > 1

    @lifetime.scoped
    def tasks_over_cached_aggregate() -> int:
        flags = lifetime.persist(
            load_table(spark, SF_CORRECT, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        flags.count()  # fills the cache
        group = f"cached-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            flags.filter("n > 0").collect()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts post async
        tracker = sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        assert jobs
        # completed, not numTasks: the job also lists the skipped stage
        # that computed the cached shuffle
        return sum(
            tracker.getStageInfo(s).numCompletedTasks
            for j in jobs
            for s in j.stageIds
        )

    assert tasks_over_cached_aggregate() < n_shuffle


@pytest.mark.parametrize(
    "name", ["revenue_forecast_conformal_interval", "embedding_dbscan_lite"]
)
def test_builder_caches_go_with_its_result(spark, name):
    """Three builds, each collected and dropped, leave no persisted RDD
    behind: the builder's caches are released with its result, and the
    loop checkpoints are reaped by the ContextCleaner."""
    import time

    from mapreduce_paradigm_spark.registry import all_specs

    sc = spark.sparkContext
    builder = all_specs()[name].builder

    def persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet())

    newest = sc.range(1)._jrdd.id()  # RDD ids only grow
    for _ in range(3):
        builder(spark, SF_CORRECT).collect()
    deadline = time.monotonic() + 60
    while True:
        gc.collect()
        sc._jvm.System.gc()  # lets the ContextCleaner see dropped RDDs
        left = {i for i in persisted() if i > newest}
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, (name, sorted(left))
