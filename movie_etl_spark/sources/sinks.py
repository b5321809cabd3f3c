"""File sinks (SURVEY.md §2.9 — the write half of K1/K2/K5).

The reference writes through psycopg2 INSERTs with ON CONFLICT DO
NOTHING (K1/K2, tasks/etl_task.py:457-524) and a pandas ``to_csv`` for
bulk graph loads (K5, utils/etl.py:140-145). Plain Parquet has no
MERGE, so idempotency is declarative: anti-join against the live table
before an append write (the same set semantics the store constraint
enforced for the reference).

Scale: appends are partitioned writes (one file per task); pass
``partition_by`` so downstream scans get partition pruning. The
anti-join in :func:`append_if_absent` reads only the key columns of the
existing table (column pruning keeps it cheap even on wide tables).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from movie_etl_spark.operators.upsert import absent_rows, dedup_by_key
from movie_etl_spark.session import _read_parquet


def write_csv(df: DataFrame, path: str, columns: list[str] | None = None) -> None:
    """K5 — ``load_to_csv`` equivalent: projected columns, header row.
    (utils/etl.py:140-145 writes ``df[property_columns].to_csv``.)"""
    out = df.select(*columns) if columns else df
    out.write.mode("overwrite").option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar sink; ``partition_by`` buys partition pruning downstream."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc_if_absent(
    spark: SparkSession,
    new: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    order_col: str | None = None,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> int:
    """K1/K2 over JDBC — the reference's ACTUAL staging store is
    Postgres via psycopg2 ``INSERT ... ON CONFLICT DO NOTHING``
    (tasks/etl_task.py:457-524). Same contract as
    :func:`append_if_absent`, targeting a JDBC table: rows whose key
    already exists are dropped, the in-batch duplicates resolve to one
    survivor (``order_col`` for a deterministic winner), re-running the
    same load is a no-op. Returns rows appended. First write (no table
    yet) creates the table.

    Scale notes:
    - The existing-keys read is column-pruned: Spark's JDBC source
      pushes the key projection into the remote query, so the anti-join
      ships only key columns, never the wide rows. For a large remote
      table pass ``properties={"partitionColumn": ..., "lowerBound":
      ..., "upperBound": ..., "numPartitions": ...}`` so the read
      parallelizes instead of arriving on one task.
    - The write itself is per-partition batched inserts
      (``batchsize``); each task holds one connection, so the write
      parallelism (and the DB's connection budget) is the partition
      count of ``new``.
    - Unlike the Postgres original there is no server-side conflict
      arbitration: concurrent writers can both pass the anti-join and
      double-insert. Single-writer pipelines (the reference's cron
      model) are safe; concurrent ones need a DB unique index as the
      final word — document parity, not a new guarantee.

    Tested against the Derby embedded driver that ships with Spark
    (tests/test_sinks_dims.py) — the same code path drives Postgres /
    MySQL with their driver jar on the classpath.
    """
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import AnalysisException

    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    try:
        existing_keys = spark.read.jdbc(url, table, properties=props).select(*keys)
        table_exists = True
    except (AnalysisException, Py4JJavaError):
        table_exists = False

    if table_exists:
        fresh = absent_rows(existing_keys, new, keys, order_col)
        # materialize before writing: fresh's plan reads the target
        # table, and appending to a table mid-read is undefined
        fresh = fresh.localCheckpoint()
    else:
        fresh = dedup_by_key(new, keys, order_col)
    n = fresh.count()
    if n:
        fresh.write.jdbc(url, table, mode="append", properties=props)
    return n


def append_if_absent(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
) -> int:
    """K1/K2 — idempotent append: rows whose key already exists in the
    parquet table at ``path`` are dropped (ON CONFLICT DO NOTHING);
    re-running the same load is a no-op. Returns rows appended.

    First write (no table yet) degenerates to a plain deduped write.
    The existing table's schema comes from one footer read on the Spark
    driver, so the re-read fires no schema-inference job.
    """
    if os.path.exists(path):
        existing_keys = _read_parquet(spark, path).select(*keys)
        fresh = absent_rows(existing_keys, new, keys, order_col)
    else:
        fresh = dedup_by_key(new, keys, order_col)
    # checkpoint before the append: fresh's plan reads the target table,
    # and writing a path mid-read is undefined — the checkpoint
    # materializes executor-side (no driver collect) and cuts the lineage
    fresh = fresh.localCheckpoint()
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files maintenance: rewrite the parquet table at ``path``
    into ceil(total_bytes / target) files and atomically swap the
    directory. Streaming sinks and incremental appends accrete small
    files; at 100 TB the fix is periodic compaction, because every
    scan pays per-file open/footer costs and the NameNode/metadata
    layer pays per-file bookkeeping. Returns the output file count.

    The rewrite stages to ``<path>.__compact__`` then renames over the
    original (rename-atomic on a posix FS; object stores would use a
    committer or table format instead — documented, not emulated).
    ``coalesce`` (not repartition): packing down needs no shuffle.
    """
    import math
    import shutil

    df = _read_parquet(spark, path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_file_bytes))
    staging = path.rstrip("/") + ".__compact__"
    df.coalesce(n_out).write.mode("overwrite").parquet(staging)
    backup = path.rstrip("/") + ".__old__"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return n_out


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Hive-style partitioned parquet export (e.g. the train/val/test
    shards of corpus.hash_split, or date partitions of an events
    table). Directory layout IS the index: a reader filtering on a
    partition column scans only matching directories (PartitionFilters
    in the plan), which at 100 TB is the difference between reading
    one split and reading the corpus."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
