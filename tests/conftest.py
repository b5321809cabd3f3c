"""Shared Spark session for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import os
import sys

import pytest

# make the suite runnable from any cwd, not just the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_etl_spark.session import get_spark  # noqa: E402

#: reference checkout (read-only); golden-parity tests skip without it
REFERENCE_ROOT = "/root/reference"
TESTDATA_SF0001 = "/root/testdata/sf0.001"

# ---- hypothesis budget (VERDICT r15 #4) --------------------------------
# A falsifying example can sit undrawn at the default budget (r15:
# test_jpeg_roundtrip_property). Setting SPARK_GRAFT_HYP_PROFILE=close
# by hand for a stronger run multiplies every property test's example
# count 10x and derandomizes generation (deterministic sweep,
# reproducible red). Interactive runs keep the fast 1x budget.
HYP_MULT = 10 if os.environ.get("SPARK_GRAFT_HYP_PROFILE") == "close" else 1


def hyp_examples(n: int) -> int:
    """Per-test hypothesis example count, scaled by the active profile."""
    return n * HYP_MULT


def jobs_in_group(spark, group, thunk):
    """Run ``thunk`` under job group ``group``; returns its result and
    the ids of the jobs that carried the group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


try:  # register the close profile even when unused, so --help shows it
    from hypothesis import settings as _hsettings

    _hsettings.register_profile("close", derandomize=True, print_blob=True)
    if os.environ.get("SPARK_GRAFT_HYP_PROFILE") == "close":
        _hsettings.load_profile("close")
except ImportError:  # pragma: no cover
    pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
