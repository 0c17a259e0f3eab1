"""Source/sink coverage: CSV + JSONL roundtrips, partitioned parquet sink
with pruning, and the bucketed-table shuffle elimination proof."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_paradigm_spark.plans import formatted_plan
from mapreduce_paradigm_spark.sources.files import (
    read_csv,
    read_jsonl,
    save_bucketed,
    write_csv,
    write_jsonl,
    write_parquet,
)
from mapreduce_paradigm_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE

CUSTOMER_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, c_acctbal DOUBLE, "
    "c_mktsegment STRING"
)


def _customers(spark):
    return load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("c_custkey").collect()]


def test_csv_roundtrip(spark, tmp_path):
    src = _customers(spark)
    path = str(tmp_path / "cust_csv")
    write_csv(src, path)
    back = read_csv(spark, path, CUSTOMER_SCHEMA)
    assert _sorted_rows(back) == _sorted_rows(src)


def test_jsonl_roundtrip(spark, tmp_path):
    src = _customers(spark)
    path = str(tmp_path / "cust_json")
    write_jsonl(src, path)
    back = read_jsonl(spark, path, CUSTOMER_SCHEMA)
    assert _sorted_rows(back) == _sorted_rows(src)


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from mapreduce_paradigm_spark.plans import has_pushed_filters
    from mapreduce_paradigm_spark.sources.files import read_orc, write_orc

    src = _customers(spark)
    path = str(tmp_path / "cust_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert _sorted_rows(back) == _sorted_rows(src)
    # ORC scans take predicate pushdown just like parquet
    import pyspark.sql.functions as F

    assert has_pushed_filters(back.filter(F.col("c_custkey") == 7), "c_custkey")


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 native XML source: rowTag elements round-trip with an
    explicit schema (inference is loose for XML, so the contract is pinned
    schema-first like CSV/JSONL)."""
    from mapreduce_paradigm_spark.sources.files import read_xml, write_xml

    src = _customers(spark)
    path = str(tmp_path / "cust_xml")
    write_xml(src, path, row_tag="customer", root_tag="customers")
    back = read_xml(spark, path, row_tag="customer", schema=CUSTOMER_SCHEMA).select(
        *src.columns
    )
    assert _sorted_rows(back) == _sorted_rows(src)


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    src = _customers(spark)
    path = str(tmp_path / "cust_parq")
    write_parquet(src, path, partition_by=["c_mktsegment"])
    # hive layout exists
    segs = [d for d in os.listdir(path) if d.startswith("c_mktsegment=")]
    assert len(segs) >= 2
    back = spark.read.parquet(path)
    one = back.filter(F.col("c_mktsegment") == "BUILDING")
    plan = formatted_plan(one)
    # partition pruning: the segment filter is a partition filter, not a scan
    # of all segments (the scale form of the reference's per-letter early
    # exit, src/main.cpp:72-75)
    assert "PartitionFilters" in plan and "c_mktsegment" in plan.split("PartitionFilters", 1)[1][:200]
    expected = src.filter(F.col("c_mktsegment") == "BUILDING").count()
    assert one.count() == expected


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the shuffle: the
    SortMergeJoin reads bucket-aligned files directly. This is the
    pay-the-shuffle-once design for keys joined in every query."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        cust = _customers(spark)
        orders = load_table(spark, SF_SMOKE, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        save_bucketed(cust, "cust_b", "c_custkey", 8)
        save_bucketed(
            orders.withColumnRenamed("o_custkey", "c_custkey"), "orders_b", "c_custkey", 8
        )
        joined = spark.table("cust_b").join(spark.table("orders_b"), "c_custkey")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == cust.join(
            orders, cust.c_custkey == orders.o_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS cust_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_sorted_parquet_rowgroups_carry_disjoint_stats(spark, tmp_path):
    """write_sorted_parquet must produce row groups whose min/max ranges on
    the sort key are narrow and ordered — the property parquet scan-time
    data skipping relies on. Verified against the actual footer statistics
    via pyarrow, not by re-reading through Spark."""
    import pyarrow.parquet as pq

    from mapreduce_paradigm_spark.sources.files import write_sorted_parquet
    from mapreduce_paradigm_spark.sources.tables import load_table

    li = load_table(spark, SF_CORRECT, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    out = str(tmp_path / "sorted")
    # single output partition with several row groups so ordering is testable
    write_sorted_parquet(
        li.coalesce(1), out, sort_cols=["l_orderkey"]
    )
    import glob
    import os

    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert files
    spans = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)
            assert col.path_in_schema == "l_orderkey"
            st = col.statistics
            assert st is not None and st.has_min_max
            spans.append((st.min, st.max))
    # within-file ordering: each row group's range starts at or after the
    # previous one's end (sorted write ⇒ non-overlapping except boundaries)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert lo1 <= hi1 and lo2 <= hi2
        assert hi1 <= lo2
    # and a point predicate could skip all but one span
    probe = spans[len(spans) // 2][0]
    containing = [s for s in spans if s[0] <= probe <= s[1]]
    assert len(containing) <= 2


def test_zorder_parquet_prunes_on_both_dimensions(spark, tmp_path):
    """write_zorder_parquet must leave row-group min/max spans narrow on
    BOTH clustered columns, where a single-column sort leaves the other
    column with full-range spans. Checked against the actual parquet
    footer statistics via pyarrow."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreduce_paradigm_spark.sources.files import (
        write_sorted_parquet,
        write_zorder_parquet,
    )
    from mapreduce_paradigm_spark.sources.tables import load_table

    dims = load_table(spark, SF_CORRECT, "orders").select(
        (F.col("o_custkey") % 1024).cast("bigint").alias("ck"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            % 1024
        )
        .cast("bigint")
        .alias("dy"),
        "o_orderkey",
    )

    def spans(path: str) -> dict[str, list[tuple[int, int]]]:
        out: dict[str, list[tuple[int, int]]] = {"ck": [], "dy": []}
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                for ci in range(meta.row_group(rg).num_columns):
                    col = meta.row_group(rg).column(ci)
                    if col.path_in_schema in out:
                        st = col.statistics
                        assert st is not None and st.has_min_max
                        out[col.path_in_schema].append((st.min, st.max))
        return out

    def avg_span(ss: list[tuple[int, int]]) -> float:
        return sum(hi - lo for lo, hi in ss) / len(ss)

    zpath = str(tmp_path / "zorder")
    write_zorder_parquet(dims, zpath, "ck", "dy", num_partitions=8)
    spath = str(tmp_path / "dysorted")
    write_sorted_parquet(
        dims.repartitionByRange(8, "dy"), spath, sort_cols=["dy"]
    )

    z, s = spans(zpath), spans(spath)
    full = 1023
    # one-column sort: dy narrow but ck row groups span ~the whole domain
    assert avg_span(s["ck"]) > 0.85 * full
    # z-order: BOTH dimensions substantially narrower than full range
    assert avg_span(z["ck"]) < 0.7 * full
    assert avg_span(z["dy"]) < 0.5 * full


def test_cached_rollup_feeds_coarser_grains_from_memory(spark):
    """Materialized-rollup reuse: cache the minute grain once; hour and day
    plans must both scan the InMemoryRelation, not the raw events table."""
    from pyspark.sql import functions as F

    from mapreduce_paradigm_spark.sources.tables import load_table

    ev = load_table(spark, SF_CORRECT, "events")
    minute = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    try:
        minute.count()  # materialize
        hour = minute.groupBy(F.date_trunc("hour", "g").alias("g")).agg(
            F.sum("n").alias("n")
        )
        day = minute.groupBy(F.date_trunc("day", "g").alias("g")).agg(
            F.sum("n").alias("n")
        )
        for df in (hour, day):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
        # hour totals from cache equal direct-from-raw totals
        direct = (
            ev.groupBy(F.date_trunc("hour", "ts").alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, hour.collect())) == sorted(
            map(tuple, direct.collect())
        )
    finally:
        minute.unpersist()


def test_parquet_merge_schema_additive_evolution(spark, tmp_path):
    """Writer v2 adds a column; mergeSchema read unions both generations,
    with the new column NULL for v1 rows — and an explicit-schema read of
    only the old columns still works against both generations."""
    from pyspark.sql import functions as F

    from mapreduce_paradigm_spark.sources.files import read_parquet_merged

    out = str(tmp_path / "evolving")
    spark.range(0, 5).select(
        "id", (F.col("id") * 2).alias("a")
    ).write.parquet(out + "/gen=1")
    spark.range(5, 8).select(
        "id", (F.col("id") * 2).alias("a"), F.lit("v2").alias("b")
    ).write.parquet(out + "/gen=2")

    merged = read_parquet_merged(spark, out)
    assert set(merged.columns) >= {"id", "a", "b"}
    rows = {r["id"]: r for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0]["b"] is None and rows[7]["b"] == "v2"
    assert all(rows[i]["a"] == i * 2 for i in rows)
    # old-schema projection keeps working across generations
    old = spark.read.schema("id long, a long").parquet(out)
    assert old.count() == 8


def test_fixed_width_reader_parses_columns_and_quarantines(spark, tmp_path):
    """read_fixed_width must slice 1-based column specs, cast types, and
    turn malformed numerics into NULL (try_cast) instead of failing."""
    from mapreduce_paradigm_spark.sources.files import read_fixed_width

    p = tmp_path / "fw.txt"
    p.write_text(
        "0001alpha     0042\n"
        "0002beta      00xx\n"  # malformed int field -> NULL
        "0003gamma     1234\n"
    )
    df = read_fixed_width(
        spark,
        str(p),
        [
            ("id", 1, 4, "INT"),
            ("name", 5, 10, "STRING"),
            ("qty", 15, 4, "INT"),
        ],
    )
    rows = {r["id"]: (r["name"], r["qty"]) for r in df.collect()}
    assert rows == {1: ("alpha", 42), 2: ("beta", None), 3: ("gamma", 1234)}


def test_multiline_json_roundtrip(spark, tmp_path):
    import json as _json

    from mapreduce_paradigm_spark.sources.files import read_json_multiline

    # two files, each one pretty-printed JSON ARRAY (non-splittable layout;
    # parallelism comes from file count)
    rows = [
        {"id": 1, "name": "alpha", "score": 1.5},
        {"id": 2, "name": "beta", "score": -2.0},
        {"id": 3, "name": "gamma", "score": 0.0},
        {"id": 4, "name": None, "score": 7.25},
    ]
    (tmp_path / "a.json").write_text(_json.dumps(rows[:2], indent=2))
    (tmp_path / "b.json").write_text(_json.dumps(rows[2:], indent=2))
    df = read_json_multiline(
        spark, str(tmp_path), "id BIGINT, name STRING, score DOUBLE"
    )
    got = sorted(
        [(r["id"], r["name"], r["score"]) for r in df.collect()]
    )
    assert got == [(1, "alpha", 1.5), (2, "beta", -2.0), (3, "gamma", 0.0), (4, None, 7.25)]
    # the scan parallelizes across files
    assert df.rdd.getNumPartitions() >= 1


def test_csv_quarantine_captures_malformed_rows(spark, tmp_path):
    from mapreduce_paradigm_spark.sources.files import read_csv_quarantine

    (tmp_path / "a.csv").write_text(
        "id,qty,price\n"
        "1,5,10.5\n"
        "2,notanumber,3.25\n"   # malformed qty -> quarantined
        "3,7,1.0\n"
    )
    df = read_csv_quarantine(
        spark, str(tmp_path), "id BIGINT, qty BIGINT, price DOUBLE"
    ).cache()
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["qty"] == 5 and rows[1]["_corrupt_record"] is None
    assert rows[3]["qty"] == 7 and rows[3]["_corrupt_record"] is None
    bad = rows[2]
    assert bad["qty"] is None
    assert bad["_corrupt_record"] == "2,notanumber,3.25"
    # quarantine routing: the auditable stream is exactly the bad rows
    assert df.filter("_corrupt_record IS NOT NULL").count() == 1
    df.unpersist()


def test_events_ts_pinned_ntz_under_adversarial_conf(spark):
    """Round-4 exotic-TZ gate flake, root-caused in round 5: with
    spark.sql.parquet.inferTimestampNTZ.enabled=false, events.ts resolves as
    session-zone LTZ and day derivations shift near UTC midnight under
    non-UTC sessions (events_compaction_plan: 31 days vs the oracle's 30,
    reproduced deterministically). The loader must re-pin the conf and
    surface NTZ even when the shared session has been flipped — the batch
    loader and the streaming events source alike."""
    from pyspark.sql.types import TimestampNTZType

    from mapreduce_paradigm_spark.sources.tables import load_table
    from mapreduce_paradigm_spark.streaming import _stream_table

    from .conftest import SF_SMOKE

    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        for load in (load_table, _stream_table):
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            e = load(spark, SF_SMOKE, "events")
            assert isinstance(e.schema["ts"].dataType, TimestampNTZType), load
            # the loader itself restored the pin for everything downstream
            assert (
                spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
                == "true"
            )
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def _jobs_submitted(spark, fn) -> int:
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


def test_schema_memo_second_load_submits_no_job(spark):
    from mapreduce_paradigm_spark.sources import tables

    for name in ("lineitem", "events"):
        with tables._SCHEMAS_LOCK:
            tables._SCHEMAS.clear()
        loads = []
        first = _jobs_submitted(spark, lambda: loads.append(load_table(spark, SF_SMOKE, name)))
        assert first >= 1, name  # the counter sees the inference job
        again = _jobs_submitted(spark, lambda: loads.append(load_table(spark, SF_SMOKE, name)))
        assert again == 0, name
        assert loads[0].schema == loads[1].schema


def test_schema_memo_concurrent_loads(spark):
    """Loads on concurrent threads share the memo: every load
    returns the inferred schema and the memo ends with one entry per
    table."""
    import sys
    import threading

    from mapreduce_paradigm_spark.sources import tables

    names = ("lineitem", "orders", "customer", "events")
    want = {n: load_table(spark, SF_SMOKE, n).schema for n in names}
    with tables._SCHEMAS_LOCK:
        tables._SCHEMAS.clear()
    got, errors = [], []

    def worker(i: int) -> None:
        try:
            for k in range(len(names)):
                n = names[(i + k) % len(names)]
                got.append((n, load_table(spark, SF_SMOKE, n).schema))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 12 * len(names)
    assert all(schema == want[n] for n, schema in got)
    paths = sorted(path for path, _confs in tables._SCHEMAS)
    assert paths == sorted(tables.table_path(SF_SMOKE, n) for n in names)


def test_schema_memo_rereads_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_paradigm_spark.sources.tables import _read_parquet

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _read_parquet(spark, path).columns == ["a"]
    assert _read_parquet(spark, path).columns == ["a"]  # memo hit
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = _read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_revenue_by_region_builder_rebuild_submits_no_job(spark):
    """A 5-table query rebuilt on unchanged inputs runs no schema
    inference, so nothing reaches the cluster before the caller's action."""
    from mapreduce_paradigm_spark.registry import all_specs

    build = all_specs()["revenue_by_region"].builder
    build(spark, SF_SMOKE)
    assert _jobs_submitted(spark, lambda: build(spark, SF_SMOKE)) == 0
