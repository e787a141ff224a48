"""Parity API tests: ExecutionContext + Dataframe builder verbs.

Mirrors the reference's test style — in-memory fixtures shaped like
its employee.csv (reference: testdata/employee.csv, FIXTURES.md) and
its end-to-end golden test (src/execution/mod.rs:55-85)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_query_engine import col, lit_long, lit_string

EMPLOYEES = [
    {"id": "1", "first_name": "Bob", "last_name": "Ben", "state": "CO", "salary": "1000"},
    {"id": "2", "first_name": "Ann", "last_name": "Lee", "state": "CA", "salary": "2000"},
    {"id": "3", "first_name": "Cy", "last_name": "Day", "state": "CA", "salary": "1500"},
    {"id": "4", "first_name": "Mayne", "last_name": "Vary", "state": "CO", "salary": "3000"},
]


def _employees(ctx):
    return ctx.memory(EMPLOYEES)


def test_filter_project_end_to_end(ctx):
    """The reference's flagship: filter state='CO' → project 3 cols
    (src/execution/mod.rs:55-85 expects rows 1,Bob,Ben and 4,Mayne,Vary)."""
    df = (
        _employees(ctx)
        .filter(col("state") == lit_string("CO"))
        .project(col("id"), col("first_name"), col("last_name"))
    )
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("1", "Bob", "Ben"), ("4", "Mayne", "Vary")]


def test_aggregate_min_max_count_sum(ctx):
    """Correct MIN (the reference lowers Min to Sum by mistake,
    src/query_planner/mod.rs:82-85) + MAX/COUNT/SUM end-to-end (its
    HashAggregateExec never worked, SURVEY.md §3.3)."""
    df = _employees(ctx).aggregate(
        [col("state")],
        [
            F.min(col("salary").cast("int")).alias("min_sal"),
            F.max(col("salary").cast("int")).alias("max_sal"),
            F.count(col("salary")).alias("n"),
            F.sum(col("salary").cast("int")).alias("sum_sal"),
        ],
    )
    rows = {r["state"]: (r["min_sal"], r["max_sal"], r["n"], r["sum_sal"]) for r in df.collect()}
    assert rows == {"CO": (1000, 3000, 2, 4000), "CA": (1500, 2000, 2, 3500)}


def test_limit_and_sort(ctx):
    """Completes the reference's unreachable Limit (todo!() at
    src/query_planner/mod.rs:98)."""
    df = _employees(ctx).sort(col("salary").cast("int").desc()).limit(2)
    assert [r["id"] for r in df.collect()] == ["4", "2"]


def test_cast(ctx):
    """Completes CastExpr lowering (src/query_planner/mod.rs:131)."""
    df = _employees(ctx).project(col("salary").cast("int").alias("s"))
    assert sorted(r["s"] for r in df.collect()) == [1000, 1500, 2000, 3000]
    assert df.schema()["s"].dataType.typeName() == "integer"


def test_schema_introspection(ctx):
    df = _employees(ctx)
    assert set(df.schema().fieldNames()) == {
        "id", "first_name", "last_name", "state", "salary",
    }


def test_csv_all_string_inference(ctx, tmp_path):
    """CSV default mirrors the reference: header-driven, all columns
    StringType (src/datasources/mod.rs:62-66)."""
    p = tmp_path / "emp.csv"
    p.write_text("id,name,age\n1,bob,30\n2,ann,40\n")
    df = ctx.csv(str(p))
    assert [f.dataType.typeName() for f in df.schema().fields] == ["string"] * 3
    assert df.count() == 2


def test_join_union_distinct(ctx):
    left = _employees(ctx)
    states = ctx.memory([{"state": "CO", "region": "west"}, {"state": "CA", "region": "west"}])
    joined = left.join(states, "state")
    assert joined.count() == 4
    assert left.union(left).distinct().count() == 4


def test_execute_iterator(ctx):
    rows = list(ctx.execute(_employees(ctx).project(col("id"))))
    assert len(rows) == 4


# --- schema catalog -----------------------------------------------------------


def _jobs_fired(spark, fn) -> int:
    """Run ``fn`` under a fresh job group; the Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_catalog_second_read_launches_no_job(spark, ctx, tmp_path):
    """The first read of a file infers its schema with one Spark job;
    every later read, through ``queries.load`` or ``ctx.parquet``,
    reuses it and launches none."""
    from spark_query_engine.queries import footer_rows, load

    _write(tmp_path / "t.parquet", a=[1, 2, 3], b=["x", "y", "z"])
    assert _jobs_fired(spark, lambda: load(spark, str(tmp_path), "t")) == 1
    assert _jobs_fired(spark, lambda: load(spark, str(tmp_path), "t")) == 0
    assert _jobs_fired(spark, lambda: ctx.parquet(str(tmp_path / "t.parquet"))) == 0
    assert _jobs_fired(spark, lambda: footer_rows(spark, str(tmp_path), "t")) == 0
    assert footer_rows(spark, str(tmp_path), "t") == 3
    # the served schema is the one inference gives, and the data is read in full
    df = load(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_catalog_rewritten_file_serves_new_schema(spark, ctx, tmp_path):
    """A file rewritten in place is a new version: its entry is
    replaced, so the new columns and row count are served."""
    from spark_query_engine.queries import footer_rows, load

    path = tmp_path / "t.parquet"
    _write(path, a=[1, 2])
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    assert footer_rows(spark, str(tmp_path), "t") == 2
    _write(path, a=[1, 2, 3], c=[0.5, 1.5, 2.5])
    assert load(spark, str(tmp_path), "t").columns == ["a", "c"]
    assert ctx.parquet(str(path)).columns == ["a", "c"]
    assert footer_rows(spark, str(tmp_path), "t") == 3
    assert sorted(r["c"] for r in load(spark, str(tmp_path), "t").collect()) == [0.5, 1.5, 2.5]


def test_catalog_keys_schema_by_nanos_conf(spark, tmp_path):
    """``spark.sql.legacy.parquet.nanosAsLong`` changes what inference
    returns for a TIMESTAMP(NANOS) column, so it is part of the key: a
    schema inferred with it on is never served with it off, where
    Spark itself refuses the type."""
    import pyarrow as pa
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from spark_query_engine import catalog
    from spark_query_engine.queries import load

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    path = str(tmp_path / "events.parquet")
    _write(
        tmp_path / "events.parquet",
        event_id=pa.array([0, 1], pa.int64()),
        ts=pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns")),
    )
    try:
        spark.conf.set(key, "true")
        assert isinstance(catalog.parquet_schema(spark, path)["ts"].dataType, T.LongType)
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            catalog.parquet_schema(spark, path)
        # load turns the conf back on and rebuilds ts as µs timestamp_ntz
        ev = load(spark, str(tmp_path), "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
        assert [str(r["ts"]) for r in ev.orderBy("event_id").collect()] == [
            "2023-11-14 22:13:20.123456",
            "2023-11-14 22:13:21",
        ]
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_default_driver_memory_fits_host(monkeypatch):
    """The driver-memory default is half the host's physical memory,
    capped at 16g: it never exceeds the host, however small or large."""
    from spark_query_engine import session

    page = 4096
    for host in (2 << 30, 15 << 30, 15 * (1 << 30) + 12345 * page, 256 << 30):
        pages = host // page
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda k, pages=pages: page if k == "SC_PAGE_SIZE" else pages,
        )
        mem = session.default_driver_memory()
        assert mem.endswith("m")
        mib = int(mem[:-1])
        assert 0 < mib << 20 <= min(host // 2, 16 << 30), (host, mem)
    assert session.default_driver_memory() == "16384m"  # the 256 GiB host
