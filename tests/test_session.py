"""Session factory and table loading: page sizing and the zero-job load."""

from __future__ import annotations

import os

import pytest

from movie_etl_spark.session import (
    TABLE_NAMES,
    _read_parquet,
    load_table,
    page_size_bytes,
)

from tests.conftest import TESTDATA_SF0001, jobs_in_group

MiB = 1 << 20


@pytest.mark.parametrize(
    "driver_memory, heap_mib, page",
    [("2g", 2048, MiB), ("8g", 8192, MiB), ("16g", 16384, 2 * MiB),
     ("64g", 65536, 8 * MiB), ("2048", 2048, MiB)],
)
def test_page_size_covers_pool_with_smallest_power_of_two(driver_memory, heap_mib, page):
    assert page_size_bytes(driver_memory) == page
    # one task holding the whole execution pool fits the 8192-page table,
    # and (above the 1 MiB floor) half the page size would not
    pool = (heap_mib - 300) * MiB * 0.6
    assert page * 8192 >= pool
    assert page == MiB or (page // 2) * 8192 < pool


def test_session_uses_derived_page_size(spark):
    expected = page_size_bytes(spark.conf.get("spark.driver.memory"))
    env = spark._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == expected


def test_load_table_runs_no_job_and_matches_inferred_schema(spark, tmp_path):
    for name in TABLE_NAMES:
        _, jobs = jobs_in_group(
            spark, f"load-{name}", lambda: load_table(spark, TESTDATA_SF0001, name)
        )
        assert jobs == [], name
        path = os.path.join(TESTDATA_SF0001, f"{name}.parquet")
        assert _read_parquet(spark, path).schema == spark.read.parquet(path).schema, name

    # inference itself fires a job, so the group check above can fail
    sf_orders = os.path.join(TESTDATA_SF0001, "orders.parquet")
    _, jobs = jobs_in_group(spark, "infer", lambda: spark.read.parquet(sf_orders))
    assert jobs

    # a Spark-written directory: part files plus _SUCCESS and .crc files
    out = str(tmp_path / "written")
    spark.range(50).selectExpr(
        "id", "cast(id as string) AS s", "array(id) AS a", "timestamp_seconds(id) AS t"
    ).repartition(3).write.parquet(out)
    df, jobs = jobs_in_group(spark, "load-dir", lambda: _read_parquet(spark, out))
    assert jobs == []
    assert df.schema == spark.read.parquet(out).schema
    assert df.count() == 50


def test_load_table_reads_nanos_events_without_session_conf(spark, tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    from pyspark.sql.types import TimestampType

    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_060_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "kind": ["a", "b"]}), tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    # a caller's session without the legacy conf: load_table must set it
    # before it reads the footer, or the INT64 nanos column is illegal
    spark.conf.unset(conf)
    try:
        df, jobs = jobs_in_group(
            spark, "load-events", lambda: load_table(spark, str(tmp_path), "events")
        )
        assert jobs == []
        assert _read_parquet(spark, path).schema == spark.read.parquet(path).schema
        assert dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"
    finally:
        spark.conf.set(conf, "true")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    rows = sorted(r.ts for r in df.selectExpr("cast(ts AS string) AS ts").collect())
    assert rows == ["2023-11-14 22:13:20.123456", "2023-11-14 22:14:20"]
