"""End-to-end graph materialization + constraint invariants (K3/K4/D3).

Runs build_movie_graph on fixture-shaped nested docs and asserts the
uniqueness constraints mirrored from kg_scripts/1_constraints.cypher —
including the AVAILABLE_ON composite key (relationship_id, type) and
the ACTED_IN relationship_id dedup.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from movie_etl_spark.operators.clean import clean_movie_details
from movie_etl_spark.operators.upsert import assert_unique
from movie_etl_spark.plans.graph import build_movie_graph
from movie_etl_spark.schemas import RAW_MOVIE_DETAILS


@pytest.fixture(scope="module")
def clean_movies(spark):
    # two movies sharing a person; one person with two characters in one
    # movie (the ACTED_IN dedup case); one unknown crew department
    docs = [
        {
            "id": 1,
            "title": "A",
            "overview": "first",
            "release_date": "2020-01-01",
            "popularity": 1.0,
            "budget": 10,
            "revenue": 20,
            "runtime": 100,
            "belongs_to_collection": {"id": 7, "name": "C"},
            "genres": [{"id": 878, "name": "SF"}, {"id": 28, "name": "Action"}],
            "spoken_languages": [{"iso_639_1": "en", "english_name": "English"}],
            "production_countries": [{"iso_3166_1": "US", "name": "US"}],
            "credits": {
                "cast": [
                    {"id": 9, "name": "P9", "gender": 2, "character": "Hero", "order": 0},
                    {"id": 9, "name": "P9", "gender": 2, "character": "Alt", "order": 1},
                    {"id": 8, "name": "P8", "gender": 1, "character": "Cop", "order": 2},
                ],
                "crew": [
                    {"id": 5, "name": "P5", "gender": 1, "job": "Director",
                     "department": "Directing"},
                    {"id": 6, "name": "P6", "gender": 0, "job": "Mystery",
                     "department": "NotADepartment"},
                ],
            },
            "watch_providers": {
                "US": {
                    "buy": [{"provider_id": 2, "provider_name": "Apple TV"}],
                    "rent": [],
                    "flatrate": [{"provider_id": 8, "provider_name": "Netflix"}],
                }
            },
        },
        {
            "id": 2,
            "title": "B",
            "overview": "",
            "release_date": "2021-01-01",
            "popularity": 0.0,
            "budget": 0,
            "revenue": 0,
            "runtime": 90,
            "genres": [{"id": 878, "name": "SF"}],
            "spoken_languages": [],
            "production_countries": [],
            "credits": {
                "cast": [
                    {"id": 9, "name": "P9", "gender": 2, "character": "Lead", "order": 0}
                ],
                "crew": [],
            },
            "watch_providers": {},
        },
    ]
    raw = spark.createDataFrame(
        [{f.name: d.get(f.name) for f in RAW_MOVIE_DETAILS.fields} for d in docs],
        RAW_MOVIE_DETAILS,
    )
    return clean_movie_details(raw)


@pytest.fixture(scope="module")
def graph(clean_movies):
    return build_movie_graph(clean_movies)


def test_node_uniqueness(graph):
    assert_unique(graph["nodes/Movie"], ["movie_id"])
    assert_unique(graph["nodes/Person"], ["person_id"])
    assert_unique(graph["nodes/Genre"], ["genre_id"])
    assert graph["nodes/Movie"].count() == 2
    # person 9 appears in both movies but is one node
    assert graph["nodes/Person"].count() == 4


def test_acted_in_dedup_and_uniqueness(graph):
    acted = graph["edges/ACTED_IN"].collect()
    by_id = {}
    for r in acted:
        assert r["relationship_id"] not in by_id
        by_id[r["relationship_id"]] = r["role"]
    # one-movie double character collapsed; lowest role survives
    assert by_id["1-9"] == "Alt"
    assert by_id["2-9"] == "Lead"
    assert by_id["1-8"] == "Cop"


def test_crew_edges_drop_unknown_department(graph):
    crew = graph["edges/CREW"].collect()
    assert {r["rel_type"] for r in crew} == {"DIRECTED_BY"}
    assert_unique(graph["edges/CREW"], ["rel_type", "relationship_id"])


def test_available_on_composite_key(graph):
    rows = graph["edges/AVAILABLE_ON"].collect()
    # same relationship_id may repeat across types, never within one
    keys = [(r["relationship_id"], r["type"]) for r in rows]
    assert len(keys) == len(set(keys))
    types = {r["type"] for r in rows}
    assert "subscription" in types and "flatrate" not in types


def test_sentinel_nulls_on_movie_nodes(graph):
    b = {r["movie_id"]: r for r in graph["nodes/Movie"].collect()}[2]
    assert b["overview"] is None  # "" -> NULL
    assert b["popularity"] is None and b["budget"] is None  # 0 -> NULL
    assert b["runtime"] == 90


def test_person_gender_decoded(graph):
    genders = {r["person_id"]: r["gender"] for r in graph["nodes/Person"].collect()}
    assert genders[9] == "Male" and genders[5] == "Female"
    assert genders[6] == "Not specified"


def test_rollback_movie_cascades_all_tables(graph):
    """K7 multi-table compensation (utils/etl.py:87-120): removing one
    movie drops its node and every edge headed by it, leaves the other
    movie's subgraph intact, and preserves referential integrity."""
    from movie_etl_spark.operators.upsert import rollback_movie

    rolled = rollback_movie(graph, [1])

    assert {r["movie_id"] for r in rolled["nodes/Movie"].collect()} == {2}
    # every edge table headed by movies lost movie 1's edges...
    for name, df in rolled.items():
        if name.startswith("edges/"):
            heads = {r["head_id"] for r in df.collect()}
            assert 1 not in heads, name
    # ...but movie 2's edges survive
    assert {r["tail_id"] for r in rolled["edges/ACTED_IN"].collect()} == {9}
    assert {r["head_id"] for r in rolled["edges/HAS_GENRE"].collect()} == {2}
    # dimension + person nodes are NOT cascaded (reference semantics)
    assert rolled["nodes/Person"].count() == graph["nodes/Person"].count()
    assert rolled["nodes/Genre"].count() == graph["nodes/Genre"].count()
    # referential integrity after rollback: every edge head still exists
    movies_left = {r["movie_id"] for r in rolled["nodes/Movie"].collect()}
    for name in ("edges/HAS_GENRE", "edges/ACTED_IN", "edges/PART_OF",
                 "edges/AVAILABLE_ON", "edges/CREW"):
        for r in rolled[name].collect():
            assert r["head_id"] in movies_left, name
    # idempotent: rolling back the same id again changes nothing
    again = rollback_movie(rolled, [1])
    assert again["nodes/Movie"].count() == 1
    assert again["edges/ACTED_IN"].count() == rolled["edges/ACTED_IN"].count()


@pytest.fixture(scope="module")
def null_keyed_movies(spark, clean_movies):
    """The two fixture docs plus a doc whose keys are NULL where a
    bridge can carry them: the movie id itself, one genre element, one
    cast id and one crew id (the NULL-id doc also heads collection,
    company, language and country rows)."""
    docs = [
        {
            "id": None,
            "title": "N",
            "runtime": 80,
            "belongs_to_collection": {"id": 7, "name": "C"},
            "genres": [None, {"id": 28, "name": "Action"}],
            "spoken_languages": [{"iso_639_1": "fr", "english_name": "French"}],
            "production_countries": [{"iso_3166_1": "FR", "name": "France"}],
            "production_companies": [{"id": 1, "name": "Co1"}],
            "credits": {
                "cast": [
                    {"id": None, "name": "Anon", "gender": 0, "character": "X"},
                    {"id": 9, "name": "P9", "gender": 2, "character": "Cameo"},
                ],
                "crew": [
                    {"id": None, "name": "Anon", "gender": 0, "job": "Director",
                     "department": "Directing"},
                    {"id": 5, "name": "P5", "gender": 1, "job": "Writer",
                     "department": "Writing"},
                ],
            },
        },
        {
            "id": 3,
            "title": "C",
            "runtime": 70,
            "genres": [{"id": 28, "name": "Action"}, None],
            "production_companies": [{"id": 2, "name": "Co2"}, {"id": 99, "name": "?"}],
            "credits": {
                "cast": [{"id": None, "name": "Anon", "gender": 0, "character": "Y"}],
                "crew": [{"id": None, "name": "Anon", "gender": 0, "job": "Editor",
                          "department": "Editing"}],
            },
        },
    ]
    # the raw schema declares id NOT NULL; a doc read from JSON need not
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in RAW_MOVIE_DETAILS.fields]
    )
    raw = spark.createDataFrame(
        [{f.name: d.get(f.name) for f in schema.fields} for d in docs], schema
    )
    return clean_movies.unionByName(clean_movie_details(raw))


def _rows(df):
    return df.columns, Counter(tuple(r) for r in df.collect())


def test_bridge_edges_equal_semi_joined_edges(spark, null_keyed_movies):
    """Every edge table build_movie_graph derives from a bridge of
    clean_movies (a NULL filter on both keys) equals, as a multiset,
    what the referential-integrity semi joins of build_edges return over
    the same node tables."""
    from movie_etl_spark.functions.cleaning import decode_department
    from movie_etl_spark.operators.joins import build_edges
    from movie_etl_spark.operators.reshape import (
        explode_bridge,
        explode_cast,
        explode_crew,
    )
    from movie_etl_spark.operators.upsert import dedup_by_key

    clean = null_keyed_movies
    companies = spark.createDataFrame(
        [(1, "Co1", None), (2, "Co2", 1)],
        "company_id INT, name STRING, parent_company_id INT",
    )
    g = build_movie_graph(clean, companies=companies)
    movies, persons = g["nodes/Movie"], g["nodes/Person"]

    def semi_joined(array_col, key, tails, rel):
        bridge = explode_bridge(clean, "movie_id", array_col, key)
        return build_edges(bridge, movies, tails, "movie_id", key, rel)

    acted = explode_cast(clean).withColumnRenamed("character", "role")
    crew = (
        explode_crew(clean)
        .withColumn("rel", decode_department("department"))
        .filter(F.col("rel").isNotNull())
    )
    crew_edges = build_edges(
        crew, movies, persons, "movie_id", "person_id", "-", payload=["job", "rel"]
    ).select("head_id", "tail_id", "job", F.col("rel").alias("rel_type"),
             "relationship_id")
    coll = clean.filter(F.col("collection_id").isNotNull())
    expected = {
        "edges/HAS_GENRE": semi_joined(
            "genre_ids", "genre_id", g["nodes/Genre"], "HAS_GENRE"
        ),
        "edges/HAS_LANGUAGE": semi_joined(
            "language_ids", "language_id", g["nodes/Language"], "HAS_LANGUAGE"
        ),
        "edges/PRODUCTION_COUNTRY": semi_joined(
            "country_ids", "country_id", g["nodes/Country"], "PRODUCTION_COUNTRY"
        ),
        "edges/PRODUCED_BY": semi_joined(
            "company_ids", "company_id", g["nodes/Company"], "PRODUCED_BY"
        ),
        "edges/ACTED_IN": dedup_by_key(
            build_edges(
                acted, movies, persons, "movie_id", "person_id", "ACTED_IN",
                payload=["role"],
            ),
            ["relationship_id"],
            order_col="role",
        ),
        "edges/CREW": crew_edges.dropDuplicates(["rel_type", "relationship_id"]),
        "edges/PART_OF": build_edges(
            coll, movies, g["nodes/Collection"], "movie_id", "collection_id",
            "PART_OF",
        ),
    }
    for name, want in expected.items():
        assert _rows(g[name]) == _rows(want), name

    # the fixture really exercises the NULL keys a semi join would drop
    assert clean.filter(F.col("movie_id").isNull()).count() == 1
    for bridge, key in (
        (explode_bridge(clean, "movie_id", "genre_ids", "genre_id"), "genre_id"),
        (acted, "person_id"),
        (crew, "person_id"),
    ):
        assert bridge.filter(F.col(key).isNull()).count() > 0, key
    # and company 99, absent from the companies table, still drops
    assert 99 not in {r["tail_id"] for r in g["edges/PRODUCED_BY"].collect()}
