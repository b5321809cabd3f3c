"""Every catalog query against its DuckDB oracle on an empty corpus.

All ten tables exist but hold zero rows. This is the regression net for
a class of edge bugs that small-but-nonempty fixtures never touch:
descending F.sequence on empty token arrays, NULL scalar marks from
empty aggregates, division by zero in ratio columns, collect_list over
nothing, and grouping-set aggregates that must still emit their
grand-total row. At 100 TB these show up as a partition-empty task, not
an empty table — same code path, so the empty-table sweep is the cheap
proxy. The comparison is ``tools/selfcheck.check_query``, one test id
per ``oracle_sql()`` entry, as in tests/test_oracle.py.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "tools")
)

import __spark_entry__ as entrymod  # noqa: E402
from selfcheck import TABLES, check_query, oracle_connection  # noqa: E402
from tests.conftest import TESTDATA_SF0001  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(TESTDATA_SF0001), reason="driver testdata not available"
)


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """A scale-factor directory with every table present but empty
    (schemas cloned from sf0.001)."""
    from movie_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        load_table(spark, TESTDATA_SF0001, t).limit(0).write.mode(
            "overwrite"
        ).parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def empty_oracle_con(empty_sf_dir):
    con = oracle_connection(empty_sf_dir)
    yield con
    con.close()


@needs_testdata
@pytest.mark.parametrize("name", list(ORACLES))
def test_query_matches_oracle_on_empty_corpus(
    spark, empty_sf_dir, empty_oracle_con, name
):
    problems = check_query(
        spark, empty_oracle_con, empty_sf_dir, QUERIES[name], ORACLES[name]
    )
    assert not problems, "\n".join(problems)
