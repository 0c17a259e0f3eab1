"""Parquet table sources for the driver testdata star schema (TESTDATA.md).

The reference's only sources are a manifest + raw text files
(``src/main.cpp:294-345``); the generalized engine adds columnar parquet
scans, which at 100 TB are the real input path: Spark's vectorized parquet
reader plus Catalyst predicate pushdown / column pruning do the heavy
lifting as long as plans stay declarative.

Schema memo: a parquet read without a schema runs one Spark job to infer it
from the footers, a round that computes nothing. ``_read_parquet`` keeps the
inferred schema per path and passes it to every later read, so repeat loads
submit no job. Only schemas are cached, never data (what a metastore keeps).
An entry is inferred again on the first read after any file under the path
changes (name, size or mtime_ns) or after a conf that changes inference
(``_SCHEMA_CONFS``) changes. Paths ``os.stat`` cannot see, such as non-local
URIs, are not memoized and are read exactly as without it.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# session confs that change what parquet schema inference returns
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# (path, conf values) -> (file fingerprint, inferred schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _fingerprint(path: str) -> tuple | None:
    """Sorted (file, size, mtime_ns) of every file under a local path; None
    when ``os.stat`` cannot see the path."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((f, st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized (see the
    module docstring): only the first read of an unchanged path infers."""
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    # infer outside the lock: concurrent first reads may both infer, and
    # the last one stores the same schema
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Keep filters/projections on top of this so Catalyst
    pushes them into the parquet scan (check ``PushedFilters`` in explain)."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts carries naive wall-clock micros (parquet TIMESTAMP with
    isAdjustedToUTC=false; historical fixtures used TIMESTAMP(NANOS), which
    Spark's reader rejects outright — PARQUET_TYPE_ILLEGAL — hence the
    ``nanosAsLong`` branch). It MUST surface as TIMESTAMP_NTZ: every
    time-derivation in the registry (day casts, epoch bucketing) is
    session-timezone-independent only on NTZ input.

    Round-5 root cause of the round-4 exotic-TZ gate flake
    (``events_compaction_plan``, GATES_r04 tz_sweep rc 1): if
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is false (non-default,
    but one runtime ``conf.set`` away on the shared test session), ts
    resolves as session-zone LTZ and ``cast(ts AS DATE)`` shifts rows near
    UTC midnight under Australia/Lord_Howe — reproduced deterministically:
    31 days vs the oracle's 30. Defense in depth: the session default pins
    the conf true (session.py), this loader re-pins it immediately before
    the read, and the type is ASSERTED after the read so any future
    resolution drift is a loud TypeError instead of silent parity skew.
    Both run on every call, memoized schema or not; the streaming events
    source shares them (``_read_events_raw``, ``_events_ts_ntz``)."""
    return _events_ts_ntz(_read_events_raw(spark, sf_dir))


def _read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as stored, with the two inference confs pinned."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    return _read_parquet(spark, table_path(sf_dir, "events"))


def _events_ts_ntz(raw: DataFrame) -> DataFrame:
    """Rebuild raw int64 nanos as TIMESTAMP_NTZ micros, then assert that
    ``ts`` is TIMESTAMP_NTZ (batch or streaming frame)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(raw.schema["ts"].dataType, LongType):
        raw = raw.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    ts_type = raw.schema["ts"].dataType
    if not isinstance(ts_type, TimestampNTZType):
        raise TypeError(
            f"events.ts resolved as {ts_type} instead of TIMESTAMP_NTZ; "
            "session-zone-dependent day/bucket derivations would silently "
            "diverge from the DuckDB oracles (see GATES_r04 tz_sweep flake)"
        )
    return raw


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries
    (grouping sets etc.) can reference them by name."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
