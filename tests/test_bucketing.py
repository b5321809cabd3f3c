"""Bucketed co-located joins: the shuffle-elimination technique for
repeated large-fact joins at 100 TB (SURVEY.md scale notes).

Writing both sides bucketed by the join key means the join needs NO
exchange at read time — the classic pre-partitioning investment that
pays off across every downstream query sharing the key.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    # warehouse dir is a static conf, set tmp-side in session.get_spark
    orders = spark.range(0, 1000).selectExpr(
        "id AS order_id", "id % 97 AS custkey", "id * 1.5 AS total"
    )
    custs = spark.range(0, 97).selectExpr("id AS custkey", "concat('c', id) AS name")
    for name, df in (("b_orders", orders), ("b_custs", custs)):
        df.write.bucketBy(8, "custkey").sortBy("custkey").mode(
            "overwrite"
        ).saveAsTable(name)
    yield spark.table("b_orders"), spark.table("b_custs")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_custs")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    orders, custs = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = orders.join(custs, "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # co-located buckets: no exchange on either side of the join
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_b1_bucketing_writes_carry_callers_job_group(spark):
    """q_b1's two concurrent bucketing writes run on threads that
    inherit the caller's job group: every job the build fires shows up
    under the group, none without one."""
    from movie_etl_spark.plans.catalog import q_b1_bucketed_join
    from tests.conftest import TESTDATA_SF0001, jobs_in_group

    # force the build: drop any tables an earlier sf0.001 run left
    for t in spark.catalog.listTables():
        if t.name.startswith("b1_") and "_sf0_001_" in t.name:
            spark.sql(f"DROP TABLE {t.name}")
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    _, jobs = jobs_in_group(
        spark, "b1-build", lambda: q_b1_bucketed_join(spark, TESTDATA_SF0001)
    )
    assert len(jobs) >= 2  # at least one job per bucketing write
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
