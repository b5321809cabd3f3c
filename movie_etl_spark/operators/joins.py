"""Join operators: existence semi/anti, referential edges, hierarchy
closure (SURVEY.md §2.4).

The reference does all of these one row at a time over the network
(point SELECTs / MATCH probes). Set-oriented equivalents:

- existence probe (J1/J2)      -> left_semi / left_anti join
- referential edge build (J3)  -> semi join on both endpoints, or a
                                 NULL filter when the nodes come from
                                 the edge rows' own frame
- parent-company walk (J4)     -> iterative self-join to fixpoint

Scale notes: the joins carry no hints. AQE broadcasts a side that turns
out small at runtime; fact-to-fact joins are left to Catalyst + AQE
(sort-merge or shuffled hash, skew-split at runtime).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_etl_spark.functions.cleaning import relationship_id


def keep_existing(df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """J1/J2 existence probe, set form: rows of ``df`` whose key IS
    present in ``existing`` (utils/etl.py:41-58, :169-181)."""
    return df.join(existing.select(*keys), on=keys, how="left_semi")


def keep_new(df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """The insert-guard dual: rows NOT present yet (feeds
    insert-if-absent, D1/D2)."""
    return df.join(existing.select(*keys), on=keys, how="left_anti")


def build_edges(
    edges: DataFrame,
    head_nodes: DataFrame,
    tail_nodes: DataFrame,
    head_key: str,
    tail_key: str,
    rel_type: str,
    payload: list[str] | None = None,
) -> DataFrame:
    """J3/K4 — referential-integrity edge builder
    (tasks/kg_task.py:43-80) for node tables that come from OUTSIDE the
    edge rows' own frame (a separately loaded table, another source):
    an edge exists only if BOTH endpoints exist, i.e. two semi joins,
    then :func:`edge_table`'s projection and synthetic
    ``relationship_id`` (kg_task.py:61).

    When both node tables are derived from the same frame as the edge
    rows, every non-NULL key exists by construction and the semi joins
    can only drop NULL keys — call :func:`edge_table` directly instead.

    The joins carry no hint: AQE turns a semi join into a broadcast at
    runtime when a node side is small, and fact-sized node tables stay
    shuffled.
    """
    tails = tail_nodes.select(tail_key).dropDuplicates([tail_key])
    heads = head_nodes.select(head_key).dropDuplicates([head_key])
    return edge_table(
        edges.join(heads, head_key, "left_semi").join(tails, tail_key, "left_semi"),
        head_key,
        tail_key,
        rel_type,
        payload,
    )


def edge_table(
    edges: DataFrame,
    head_key: str,
    tail_key: str,
    rel_type: str | Column,
    payload: list[str] | None = None,
) -> DataFrame:
    """Edge rows ``(head_id, tail_id, payload..., rel_type,
    relationship_id)`` from bridge rows whose endpoints exist by
    construction: only rows with a NULL key on either side drop, which
    is all a semi join against keys taken from the same frame could
    remove. ``rel_type`` is a literal, or a column when one bridge fans
    out into several relationship types."""
    if isinstance(rel_type, str):
        rel_type = F.lit(rel_type)
    return (
        edges.filter(F.col(head_key).isNotNull() & F.col(tail_key).isNotNull())
        .select(
            F.col(head_key).alias("head_id"),
            F.col(tail_key).alias("tail_id"),
            *(payload or []),
            rel_type.alias("rel_type"),
        )
        .withColumn("relationship_id", relationship_id("head_id", "tail_id"))
    )


def hierarchy_closure(
    children: DataFrame,
    id_col: str,
    parent_col: str,
    max_depth: int = 20,
    strict: bool = True,
) -> DataFrame:
    """J4 — iterative closure over a parent hierarchy
    (flows/etl_flow.py:364-423's parent-company walk, rebuilt with the
    *intended* set semantics: dedup by id, no duplicate appends).

    Returns ``(id, root_id, depth)`` — every node resolved to its
    ultimate ancestor. Spark has no recursive CTE, so this is a
    driver-side loop of self-joins with a depth cap; each round only
    carries still-unresolved rows, and converges in O(max chain depth)
    rounds (company chains in the reference data are short, 2-3).

    Rows still unresolved after ``max_depth`` (cycles, or chains deeper
    than the cap) raise when ``strict`` (the default); with
    ``strict=False`` they are returned flagged ``unresolved=true`` rather
    than silently posing as resolved (strict mode keeps the 3-column
    ``(id, root_id, depth)`` shape).
    """
    edges = children.select(
        F.col(id_col).alias("_id"), F.col(parent_col).alias("_parent")
    ).dropDuplicates(["_id"])

    frontier = edges.select(
        "_id",
        F.coalesce("_parent", "_id").alias("_root"),
        F.when(F.col("_parent").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("_depth"),
        F.col("_parent").isNotNull().alias("_open"),
    )
    for _ in range(max_depth):
        open_rows = frontier.filter("_open")
        if open_rows.isEmpty():
            break
        parents = edges.withColumnRenamed("_id", "_root")
        stepped = (
            open_rows.join(parents, "_root", "left")
            .select(
                "_id",
                F.coalesce("_parent", F.col("_root")).alias("_root"),
                (F.col("_depth") + F.when(F.col("_parent").isNotNull(), 1).otherwise(0)).alias(
                    "_depth"
                ),
                F.col("_parent").isNotNull().alias("_open"),
            )
        )
        frontier = stepped.unionByName(frontier.filter(~F.col("_open"))).localCheckpoint()
    if not strict:
        return frontier.select(
            F.col("_id").alias(id_col),
            F.col("_root").alias("root_id"),
            F.col("_depth").alias("depth"),
            F.col("_open").alias("unresolved"),
        )
    leftover = frontier.filter("_open").limit(1).collect()
    if leftover:
        raise ValueError(
            f"hierarchy unresolved after max_depth={max_depth} "
            f"(cycle or deeper chain), e.g. id={leftover[0]['_id']!r}"
        )
    return frontier.select(
        F.col("_id").alias(id_col),
        F.col("_root").alias("root_id"),
        F.col("_depth").alias("depth"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    by_cols: list[str],
    payload_cols: list[str],
    prefix: str = "r_",
) -> DataFrame:
    """Backward inclusive as-of join: each left row picks up the payload
    of the LATEST right row with ``right.ts <= left.ts`` in the same
    ``by_cols`` group (NULLs when none precedes — left-join semantics).
    The operator Spark's DataFrame API lacks (pandas-on-Spark has
    merge_asof; DuckDB has native ASOF JOIN, which the oracle uses).

    Scale design — the union trick, NOT a theta-join: tag right rows 0
    and left rows 1, sort within each by-group on (ts, tag), and carry
    the most recent right payload forward with last(ignorenulls) over
    an unbounded-preceding frame. ONE hash shuffle on by_cols and a
    partition-local sort; the naive left.join(right, ts >= ts) + argmax
    formulation explodes quadratically on hot groups. Tag ordering
    makes equality ties resolve right-before-left, i.e. a right row at
    exactly left.ts IS matched. Ties BETWEEN right rows at one ts are
    resolved arbitrarily — pre-dedup the right side on (by, ts) when
    that matters.

    The payload travels as ONE struct (non-null exactly on right rows),
    so last(ignorenulls) tracks the latest right ROW even when an
    individual payload field is legitimately NULL — per-column carries
    would skip past it to an older row.
    """
    from pyspark.sql.types import StructType
    from pyspark.sql.window import Window

    pay_schema = StructType([right.schema[c] for c in payload_cols])
    l_cols = [c for c in left.columns if c not in by_cols]
    l2 = left.select(
        *by_cols,
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in l_cols],
        F.lit(None).cast(pay_schema).alias("_pay"),
    )
    r2 = right.select(
        *by_cols,
        F.lit(0).alias("_is_left"),
        F.col(ts_col),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in l_cols
            if c != ts_col
        ],
        F.struct(*[F.col(c) for c in payload_cols]).alias("_pay"),
    )
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l2.unionByName(r2).select(
        *by_cols,
        "_is_left",
        *[F.col(c) for c in l_cols],
        F.last("_pay", ignorenulls=True).over(w).alias("_pay"),
    )
    return carried.filter(F.col("_is_left") == 1).select(
        *by_cols,
        *[F.col(c) for c in l_cols],
        *[F.col("_pay")[c].alias(f"{prefix}{c}") for c in payload_cols],
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    by_cols: list[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Interval containment join: left rows matched to every right
    interval of the same ``by_cols`` group with
    ``start <= ts < end`` — the range-join family member next to
    :func:`asof_join`.

    Scale design — bucketized equi-join, NOT a theta-join: time is cut
    into ``bucket_seconds`` buckets; each left row lands in one bucket,
    each right interval explodes to the buckets it overlaps (bounded
    replication: interval_length/bucket_seconds + 1 rows — size the
    bucket near the typical interval length). The join is then a plain
    hash equi-join on (by, bucket) with the exact predicate applied to
    candidates only. A naive ts-between-start-and-end join condition
    forces BroadcastNestedLoopJoin — quadratic per group and the exact
    shape test_plans bans elsewhere. Each (left, interval) pair arises
    from exactly one bucket (the left row's), so no dedup is needed.
    """
    lb = left.withColumn(
        "_b", F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds).cast("long")
    )
    rb = right.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(
                    F.unix_timestamp(F.col(start_col)) / bucket_seconds
                ).cast("long"),
                F.floor(
                    F.unix_timestamp(F.col(end_col)) / bucket_seconds
                ).cast("long"),
            )
        ),
    )
    return (
        lb.join(rb, [*by_cols, "_b"])
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
        )
        .drop("_b")
    )
