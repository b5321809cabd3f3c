"""Gold layer: property-graph node/edge tables from cleaned silver data.

The reference's final product is a Neo4j graph (8 node labels, ~17
relationship types; SURVEY.md §1.1). Here the graph is a set of columnar
tables — one DataFrame per node label with an enforced-unique id, and
edge DataFrames ``(head_id, tail_id, payload..., rel_type,
relationship_id)`` that keep the reference's referential integrity
(tasks/kg_task.py:43-80): by construction where both endpoints come
from the same cleaned frame, by semi join (operators.joins.build_edges)
where a node table comes from outside it.

Edge uniqueness mirrors kg_scripts/1_constraints.cypher — note the
AVAILABLE_ON composite key is (relationship_id, type), not
relationship_id alone (1_constraints.cypher:15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_etl_spark.functions.cleaning import decode_department, relationship_id
from movie_etl_spark.operators.joins import build_edges, edge_table, keep_existing
from movie_etl_spark.operators.reshape import (
    explode_bridge,
    explode_cast,
    explode_crew,
    invert_watch_providers,
)
from movie_etl_spark.operators.upsert import dedup_by_key


def movie_nodes(clean_movies: DataFrame) -> DataFrame:
    """Movie node table (flows/etl_flow.py:250-261 property projection)."""
    return dedup_by_key(
        clean_movies.select(
            "movie_id",
            "title",
            "overview",
            "release_date",
            "popularity",
            "budget",
            "revenue",
            "runtime",
            "wiki_id",
            "imdb_id",
        ),
        ["movie_id"],
        order_col="title",
    )


def person_nodes(clean_movies: DataFrame) -> DataFrame:
    """Person nodes discovered from cast+crew (flows/etl_flow.py:425-531):
    union of both bridges, one row per person_id."""
    cast_people = explode_cast(clean_movies).select("person_id", "name", "gender")
    crew_people = explode_crew(clean_movies).select("person_id", "name", "gender")
    return dedup_by_key(
        cast_people.unionByName(crew_people), ["person_id"], order_col="name"
    )


def build_movie_graph(
    clean_movies: DataFrame,
    collections: DataFrame | None = None,
    companies: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Assemble the node/edge table set. Returns a dict keyed by
    ``nodes/<Label>`` and ``edges/<REL_TYPE>``.

    Integrity by construction: like the reference, which builds its
    graph from one doc per movie (tasks/kg_task.py:43-80), every Movie,
    Person, Genre, Language, Country and (derived) Collection node here
    is projected from ``clean_movies`` itself, and so is every bridge an
    edge table is built from. Each non-NULL key a bridge holds therefore
    names an existing node, and the only rows an integrity semi join
    could drop are those with a NULL key. (This needs ``clean_movies``
    to read the same rows each time a table re-reads it, which a
    deterministic plan or a checkpoint gives.) Such edges are built by
    :func:`~movie_etl_spark.operators.joins.edge_table`, a NULL filter on
    both keys with the same output as ``build_edges``. Only node tables
    that come from outside ``clean_movies`` — ``companies`` (PRODUCED_BY
    tails, COMPANY_PART_OF) and a passed ``collections`` table — are
    checked with semi joins: ``build_edges``, or ``keep_existing`` on
    PRODUCED_BY's tail side alone.

    Every table is a lazy DataFrame over ``clean_movies``. A consumer
    that executes many of them should materialize ``clean_movies`` once
    first (q_g2 localCheckpoints it) so each table re-reads those blocks
    instead of the lineage behind them.
    """
    movies = movie_nodes(clean_movies)
    out: dict[str, DataFrame] = {"nodes/Movie": movies}

    for label, rel, array_col, key in (
        ("Genre", "HAS_GENRE", "genre_ids", "genre_id"),
        ("Language", "HAS_LANGUAGE", "language_ids", "language_id"),
        ("Country", "PRODUCTION_COUNTRY", "country_ids", "country_id"),
    ):
        bridge = explode_bridge(clean_movies, "movie_id", array_col, key)
        out[f"nodes/{label}"] = bridge.select(key).dropDuplicates([key])
        out[f"edges/{rel}"] = edge_table(bridge, "movie_id", key, rel)

    out["nodes/Person"] = person_nodes(clean_movies)

    acted = explode_cast(clean_movies).withColumnRenamed("character", "role")
    # a person with multiple characters in one movie is one ACTED_IN row
    # (relationship_id uniqueness, 1_constraints.cypher); lowest role wins
    # deterministically
    out["edges/ACTED_IN"] = dedup_by_key(
        edge_table(acted, "movie_id", "person_id", "ACTED_IN", payload=["role"]),
        ["relationship_id"],
        order_col="role",
    )

    crew = explode_crew(clean_movies).withColumn(
        "rel", decode_department("department")
    )
    # unknown departments drop (the reference raises KeyError —
    # utils/etl.py:36-39; we choose explicit inner-join semantics)
    crew = crew.filter(F.col("rel").isNotNull())
    out["edges/CREW"] = edge_table(
        crew, "movie_id", "person_id", F.col("rel"), payload=["job"]
    ).dropDuplicates(["rel_type", "relationship_id"])

    providers = invert_watch_providers(clean_movies)
    out["nodes/WatchProvider"] = providers.select("provider_id").dropDuplicates(
        ["provider_id"]
    )
    out["edges/AVAILABLE_ON"] = (
        providers.filter(F.size("regions") > 0)
        .select(
            F.col("movie_id").alias("head_id"),
            F.col("provider_id").alias("tail_id"),
            F.col("type"),
            F.col("regions"),
        )
        .withColumn("rel_type", F.lit("AVAILABLE_ON"))
        .withColumn("relationship_id", relationship_id("head_id", "tail_id"))
        # composite uniqueness (relationship_id, type) — constraints.cypher:15
        .dropDuplicates(["relationship_id", "type"])
    )

    coll_edges = clean_movies.filter(F.col("collection_id").isNotNull()).select(
        "movie_id", "collection_id"
    )
    if collections is None:
        out["nodes/Collection"] = coll_edges.select("collection_id").dropDuplicates(
            ["collection_id"]
        )
        out["edges/PART_OF"] = edge_table(
            coll_edges, "movie_id", "collection_id", "PART_OF"
        )
    else:
        out["nodes/Collection"] = dedup_by_key(collections, ["collection_id"], "name")
        out["edges/PART_OF"] = build_edges(
            coll_edges, movies, out["nodes/Collection"], "movie_id", "collection_id",
            "PART_OF",
        )

    if companies is not None:
        comp_nodes = dedup_by_key(companies, ["company_id"], "name")
        out["nodes/Company"] = comp_nodes
        produced = explode_bridge(clean_movies, "movie_id", "company_ids", "company_id")
        # the heads come from clean_movies, only the tails from outside
        out["edges/PRODUCED_BY"] = edge_table(
            keep_existing(produced, comp_nodes, ["company_id"]),
            "movie_id",
            "company_id",
            "PRODUCED_BY",
        )
        # company -> parent company PART_OF (tail key rename — the
        # reference's tail_map_key quirk, utils/etl.py:158-159)
        parents = companies.filter(F.col("parent_company_id").isNotNull()).select(
            F.col("company_id"), F.col("parent_company_id").alias("parent_id")
        )
        out["edges/COMPANY_PART_OF"] = build_edges(
            parents,
            comp_nodes,
            comp_nodes.select(F.col("company_id").alias("parent_id")),
            "company_id",
            "parent_id",
            "PART_OF",
        )
    return out


def bulk_load_nodes_from_csv(
    spark,
    path: str,
    id_col: str,
    schema=None,
    order_col: str | None = None,
):
    """K6 — CSV -> node table bulk load (tasks/kg_task.py:86-102's
    LOAD CSV + MERGE, assembled): scan, MERGE-dedup by id, assert the
    uniqueness constraint. The reference's bulk *relationship* Cypher is
    malformed (kg_task.py:121-124, SURVEY §2.9) — the intended set
    semantics are what this implements for nodes; edges go through
    :func:`movie_etl_spark.operators.joins.build_edges` after loading
    both endpoint tables."""
    from movie_etl_spark.operators.upsert import assert_unique, dedup_by_key
    from movie_etl_spark.sources.readers import read_csv

    raw = read_csv(spark, path, schema=schema)
    nodes = dedup_by_key(raw, [id_col], order_col)
    return assert_unique(nodes, [id_col])
