"""Seeded dimensions (S5) and file sinks (K1/K2/K5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_etl_spark.sources.dims import (
    seeded_countries,
    seeded_genres,
    seeded_languages,
    seeded_providers,
)
from movie_etl_spark.sources.readers import read_csv
from movie_etl_spark.sources.sinks import append_if_absent, write_csv, write_parquet


def test_dim_cardinalities_match_reference_seeds(spark):
    # kg_scripts/2_init_nodes.cypher: 19 + 187 + 249 + 619 MERGE literals
    assert seeded_genres(spark).count() == 19
    assert seeded_languages(spark).count() == 187
    assert seeded_countries(spark).count() == 249
    assert seeded_providers(spark).count() == 619


def test_dim_spot_values(spark):
    g = {r.genre_id: r.name for r in seeded_genres(spark).collect()}
    assert g[878] == "Science Fiction"
    langs = {r.language_id: r.name for r in seeded_languages(spark).collect()}
    assert langs["en"] == "English" and langs["ru"] == "Russian"
    c = {r.country_id: r.name for r in seeded_countries(spark).collect()}
    assert c["US"].startswith("United States")
    p = {r.provider_id: r.name for r in seeded_providers(spark).collect()}
    assert p[8] == "Netflix"


def test_csv_round_trip(spark, tmp_path):
    df = seeded_genres(spark)
    path = str(tmp_path / "genres_csv")
    write_csv(df, path, columns=["genre_id", "name"])
    back = read_csv(spark, path)
    assert {(r.genre_id, r.name) for r in back.collect()} == {
        (r.genre_id, r.name) for r in df.collect()
    }


def test_parquet_round_trip(spark, tmp_path):
    df = seeded_countries(spark)
    path = str(tmp_path / "countries_pq")
    write_parquet(df, path)
    assert spark.read.parquet(path).count() == 249


def test_append_if_absent_idempotent(spark, tmp_path):
    path = str(tmp_path / "target_pq")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    again = spark.createDataFrame([(2, "DUP"), (3, "c"), (3, "ALSO")], "k int, v string")

    assert append_if_absent(spark, first, path, ["k"]) == 2
    # keyed re-load: conflicting key dropped, internal dup collapsed
    assert append_if_absent(spark, again, path, ["k"], order_col="v") == 1
    # exact replay is a no-op
    assert append_if_absent(spark, again, path, ["k"], order_col="v") == 0

    final = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert final == {(1, "a"), (2, "b"), (3, "ALSO")}

    # NULL keys: a stored NULL key is present, for a single and a
    # composite key, so replays append nothing
    nulls = spark.createDataFrame(
        [(None, "n"), (None, None), (4, None), (5, "e")], "k int, v string"
    )
    for i, (keys, n) in enumerate(((["k"], 3), (["k", "v"], 4))):
        target = str(tmp_path / f"nulls_{i}")
        loads = [append_if_absent(spark, nulls, target, keys) for _ in range(3)]
        assert loads == [n, 0, 0], keys
        assert spark.read.parquet(target).count() == n


def test_sinks_read_existing_table_without_inference_job(spark, tmp_path, monkeypatch):
    """append_if_absent and compact_parquet read the existing table's
    schema from a footer on the Spark driver: one job fewer than letting Spark
    infer it."""
    from movie_etl_spark.sources import sinks
    from tests.conftest import jobs_in_group

    def infer(s, p):
        return s.read.parquet(p)

    readers = (sinks._read_parquet, infer)

    df = spark.range(30_000).selectExpr("id AS k", "cast(id AS string) AS v")
    path = str(tmp_path / "reappend")
    assert append_if_absent(spark, df, path, ["k"]) == 30_000
    counts = []
    for reader in readers:
        monkeypatch.setattr(sinks, "_read_parquet", reader)
        n, jobs = jobs_in_group(
            spark, f"reappend-{len(counts)}", lambda: append_if_absent(spark, df, path, ["k"])
        )
        assert n == 0
        counts.append(len(jobs))
    assert counts[0] == counts[1] - 1, counts

    counts = []
    for reader in readers:
        monkeypatch.setattr(sinks, "_read_parquet", reader)
        frag = str(tmp_path / f"frag-{len(counts)}")
        spark.range(0, 1600).repartition(4).write.parquet(frag)
        _, jobs = jobs_in_group(
            spark, f"compact-{len(counts)}", lambda: sinks.compact_parquet(spark, frag)
        )
        counts.append(len(jobs))
    assert counts[0] == counts[1] - 1, counts


def test_write_jdbc_if_absent_idempotent(spark, tmp_path):
    """K1/K2 over JDBC, round-tripped against the embedded Derby driver
    that ships with Spark — same idempotency matrix as the parquet
    sink: first write creates the table, keyed re-load drops conflicts
    and collapses in-batch dups, exact replay is a no-op, NULL keys
    included."""
    from movie_etl_spark.sources.sinks import write_jdbc_if_absent

    url = f"jdbc:derby:{tmp_path}/stage_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    again = spark.createDataFrame(
        [(2, "DUP"), (3, "c"), (3, "ALSO")], "k int, v string"
    )

    assert write_jdbc_if_absent(
        spark, first, url, "stage", ["k"], properties=props
    ) == 2
    assert write_jdbc_if_absent(
        spark, again, url, "stage", ["k"], order_col="v", properties=props
    ) == 1
    assert write_jdbc_if_absent(
        spark, again, url, "stage", ["k"], order_col="v", properties=props
    ) == 0

    back = spark.read.jdbc(url, "stage", properties=props)
    assert {(r.k, r.v) for r in back.collect()} == {(1, "a"), (2, "b"), (3, "ALSO")}

    nulls = spark.createDataFrame(
        [(None, "n"), (None, None), (4, None), (5, "e")], "k int, v string"
    )
    for i, (keys, n) in enumerate(((["k"], 3), (["k", "v"], 4))):
        loads = [
            write_jdbc_if_absent(
                spark, nulls, url, f"nulls_{i}", keys, properties=props
            )
            for _ in range(3)
        ]
        assert loads == [n, 0, 0], keys


def test_orc_round_trip(spark, tmp_path):
    """ORC is the remaining built-in columnar codec (§2.11 file
    sources): schema + values must survive a write/read cycle."""
    df = spark.createDataFrame(
        [(1, "a", 1.5, [1.0, 2.0]), (2, None, -0.25, [])],
        "k int, v string, x double, vec array<double>",
    )
    path = str(tmp_path / "orc_rt")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == df.schema
    assert sorted(
        [(r.k, r.v, r.x, r.vec) for r in back.collect()]
    ) == sorted([(r.k, r.v, r.x, r.vec) for r in df.collect()])


def test_jsonl_round_trip_preserves_types(spark, tmp_path):
    """JSON-lines write/read with an explicit schema is lossless for
    the documents shape (the s6 catalog query's contract)."""
    df = spark.createDataFrame(
        [(1, 'tricky "quoted" \\ text', "en", "src0", 21), (2, "", None, "src1", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )
    path = str(tmp_path / "jsonl_rt")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(df.schema).json(path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    from movie_etl_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 16 tiny files
    spark.range(0, 1600).repartition(16).write.parquet(path)
    import os

    def n_files(p):
        return len([f for f in os.listdir(p) if f.endswith(".parquet")])

    assert n_files(path) == 16
    before = {r.id for r in spark.read.parquet(path).collect()}
    out = compact_parquet(spark, path, target_file_bytes=10**9)
    assert out == 1 and n_files(path) == 1
    assert {r.id for r in spark.read.parquet(path).collect()} == before
    assert not os.path.exists(path + ".__compact__")
    assert not os.path.exists(path + ".__old__")


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across appended batches: a later batch adds a
    column; mergeSchema reads the union schema with NULLs backfilled —
    the contract an accreting 100 TB table relies on when a new field
    ships mid-stream."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k int, v string, score double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"k", "v", "score"}
    rows = {r.k: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """The export path of corpus splits: writing partitioned by the
    split column and reading one split back must plan a partition
    filter (directory pruning), not a full scan + row filter."""
    from movie_etl_spark.sources.sinks import write_partitioned

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 < 8 THEN 'train' WHEN id % 10 < 9 THEN 'val' "
        "ELSE 'test' END AS split",
    )
    path = str(tmp_path / "shards")
    write_partitioned(df, path, ["split"])
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("split=")
    ) == ["split=test", "split=train", "split=val"]
    back = spark.read.parquet(path).filter("split = 'val'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan
    assert back.count() == 30
    assert {r.doc_id % 10 for r in back.collect()} == {8}


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: joining a partitioned fact against a FILTERED dim must
    inject a dynamicpruning subquery on the fact's partition column —
    at 100 TB this skips every partition the dim filter excludes,
    without the filter being statically known. (The static cousin is
    test_partitioned_write_prunes_on_read.)"""
    from pyspark.sql import functions as F

    from movie_etl_spark.sources.sinks import write_partitioned

    fact = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("part_key"),
        (F.col("id") * 3).alias("val"),
    )
    path = str(tmp_path / "fact")
    write_partitioned(fact, path, ["part_key"])
    dim = spark.range(0, 7).select(
        F.col("id").alias("part_key"),
        F.when(F.col("id") < 2, "keep").otherwise("drop").alias("flag"),
    )
    joined = (
        spark.read.parquet(path)
        .join(dim.filter(F.col("flag") == "keep"), "part_key")
        .groupBy("part_key")
        .agg(F.sum("val").alias("s"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is right: partitions 0 and 1 only
    got = {r.part_key for r in joined.collect()}
    assert got == {0, 1}
