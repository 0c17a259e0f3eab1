"""SparkSession factory tuned for the engine.

Defaults encode the 100 TB design posture (SURVEY.md §7 M5):

- AQE on, with partition coalescing and skew-join splitting — the runtime
  generalization of the reference's dynamic work-queue scheduling
  (reference ``src/main.cpp:216-225``, ``README.md:42-44``). Persisted
  frames are coalesced by the same rule as every other shuffle.
- Explicit shuffle parallelism (sized to the cluster, AQE coalesces down).
- Arrow enabled for the few pandas-UDF escape hatches.
- UTC session timezone so timestamp semantics are stable across hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce the shuffles inside a persisted plan too: with this
    # off (Spark's default) a cached frame keeps all
    # spark.sql.shuffle.partitions partitions, and every stage that reads
    # it runs one task per partition however small the frame is. Traced
    # perfbench corpus_pipeline on local[4]: 416 -> 43 tasks per pass.
    # A reader that relied on the cache's hash partitioning may add an
    # exchange instead: 2 of the 404 registry builders do at sf0.01, and
    # both still ran faster with this on at sf0.1.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "128m",
    # low open-cost so SMALL inputs still split across all cores (split size
    # = max(openCost, bytes/cores) capped at maxPartitionBytes); at 100 TB
    # bytes/core dominates and this knob is inert.
    "spark.sql.files.openCostInBytes": "131072",
    "spark.sql.parquet.filterPushdown": "true",
    # parquet TIMESTAMP(isAdjustedToUTC=false) MUST resolve as TIMESTAMP_NTZ:
    # with this off, events.ts loads as session-zone LTZ and every
    # day/bucket derivation silently shifts near UTC midnight under
    # non-UTC sessions (the round-4 exotic-TZ gate failure on
    # events_compaction_plan — reproduced deterministically by flipping
    # this conf; see sources/tables.py::_load_events, which also asserts).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # dims (region/nation/customer/supplier/part) are broadcast-able well past
    # the 10m default at bench scale; joins also carry explicit broadcast()
    # hints so this is belt-and-braces.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # scale-dependent: local default 32 keeps the driver's bench
    # comparable across rounds; override via $SPARK_GRAFT_SHUFFLE_PARTITIONS
    # (see get_spark) for cluster runs, where the right value is
    # sized so post-shuffle partitions land in the 100 MB-1 GB band
    # (guide: ~total_shuffle_bytes / 256 MB) and AQE coalesces down,
    # persisted plans included (see canChangeCachedPlanOutputPartitioning).
    # A constant tuned to either the laptop or the cluster is the
    # documented footgun; the env override is the deployment knob.
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "mapreduce-paradigm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` resolves from the argument, then ``$SPARK_GRAFT_MASTER``, then
    ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` if unset).
    """
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_sp:
        conf["spark.sql.shuffle.partitions"] = env_sp
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
