"""SparkSession factory and test-table IO.

Scale notes (100 TB / 1000-executor design intent)
--------------------------------------------------
- AQE is always on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching do at runtime what we
  cannot know statically at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it (or rely on AQE's coalescing with a high
  initial value) to ~2-3x total executor cores.
- Session timezone is pinned to UTC so timestamp semantics are stable
  across engines (the DuckDB oracle is UTC-naive).
- Arrow is enabled for all pandas interchange (vectorized UDF path).
- Tungsten pages are sized from the driver heap (:func:`page_size_bytes`):
  the smallest power of two, at least 1 MiB, with which one task can
  still address the whole execution pool through its 8192-page table.
  That is 1 MiB up to a ~14g heap, so small operators no longer pin
  Spark's default 16-64 MiB pages, and it grows with larger heaps, so
  no heap size can fill the table.
- ``load_table`` reads the schema from one parquet footer on the driver,
  so loading a table runs no Spark job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver materializes at each scale factor.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _size_bytes(raw: str, unit: int = 1) -> int:
    """A Spark size string ('128m', '2g', '4194304') as bytes; a bare
    number counts in ``unit`` bytes. Raises ValueError otherwise."""
    raw = raw.strip().lower()
    for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * mult)
    return int(float(raw) * unit)


def page_size_bytes(driver_memory: str) -> int:
    """``spark.buffer.pageSize`` for a driver heap of ``driver_memory``.

    TaskMemoryManager addresses a task's execution memory through a page
    table of 8192 entries (13 page-number bits), so one task can hold at
    most 8192 pages. A task running alone may claim the whole execution
    pool, ``(heap - 300 MiB) * spark.memory.fraction (0.6)``, so
    ``pool / 8192`` is the smallest page that can never fill the table
    before the pool runs out. Spark's own default, ``pool / cores / 16``
    clamped to 1-64 MiB, is 16-64 MiB at a 2-8g heap, and every sort,
    hash aggregate, hash join and shuffle writer pins at least one page
    even for a few hundred rows; pages that large outlive the young
    generation and inflate the heap. Rounded up to a power of two, at
    least 1 MiB. (A bare number is MiB, as for ``spark.driver.memory``.)
    """
    pool = int((_size_bytes(driver_memory, unit=1 << 20) - (300 << 20)) * 0.6)
    smallest = max(1, -(-pool // 8192))
    return max(1 << 20, 1 << (smallest - 1).bit_length())


def get_spark(app_name: str = "movie-etl-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # NOTE (r14): raising AQE initialPartitionNum to 8x cores was
        # measured at the factor-100 point and REJECTED — finer shuffle
        # partitions made g2's sf10 wall 65% worse (176.7 -> 292.9 s
        # solo A/B at 8g, spill 0.27 -> 18 GB in the window-sort stages)
        # at identical heap, and the 6g hash-build OOM it targeted
        # persisted (the build side coalesces back under
        # parallelismFirst). On a real cluster the equivalent knob is
        # executor count, not per-executor partition fan-out.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE (r18): Arrow batch sizing across the Python boundary
        # (guide §4.2) audited and left at engine defaults — Spark
        # 4.1.2 already caps every ArrowRecordBatch at BOTH 10k rows
        # (maxRecordsPerBatch) and 64 MB (maxBytesPerBatch default
        # 67108864b, probed live), so the multimodal family's multi-MB
        # binary payloads are byte-bounded per batch out of the box;
        # adding the conf here would pin it to its own default.
        # NOTE (r18): spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
        # (guide §3.1's AQE SMJ->SHJ runtime rewrite) was probed at 64m
        # and REJECTED as dead config: the rewrite fired on a synthetic
        # fresh-shuffle join but on ZERO of the catalog's 8 SMJ-bearing
        # queries (their join inputs are persisted/localCheckpoint
        # frames, not plain shuffle stages, so DynamicJoinSelection
        # never sees the map stats it needs) — see OPTIMIZATION_r18.md.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", driver_memory)
        .config("spark.buffer.pageSize", str(page_size_bytes(driver_memory)))
        # UI off by default (benches measure compute, not the status
        # store); SPARK_GRAFT_UI=true turns it on for probe runs that
        # sample executor peakMemoryMetrics over its REST API
        # (tools/memprobe.py, VERDICT r11 item 7). Port 0 = ephemeral,
        # so concurrent probe sessions never collide.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.port", "0")
        # keep saveAsTable/bucketBy output out of the repo cwd (static
        # conf — must be set before the session exists)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/movie-etl-spark-warehouse"
            ),
        )
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one test table.

    Parquet + DataFrame reader means Catalyst gets filter pushdown and
    column pruning for free on every downstream query.

    Schema contract for ``events.ts``: downstream operators (watermarked
    streams above all) require a plain TIMESTAMP. The driver has shipped
    the column in two physical encodings so far, and each is normalized
    here — this is the single choke point, so a future re-encoding only
    ever needs a branch added in this function:

    - INT64 TIMESTAMP(NANOS) (rounds <=4): Spark rejects it outright
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet
      .nanosAsLong`` is on; the resulting nanos BIGINT is converted to a
      microsecond timestamp with integer division — bit-identical to
      DuckDB's TIMESTAMP_NS→TIMESTAMP truncation of the same column.
    - ``timestamp[us], isAdjustedToUTC=false`` (round 5+): Spark reads
      TIMESTAMP_NTZ, which ``withWatermark`` rejects
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, the round-5 incident — see
      BASELINE.md). Under the UTC-pinned session a cast to TIMESTAMP
      maps wall-clock fields to the identical instant, so oracle hashes
      are unchanged while event-time semantics come back.
    """
    # the driver may hand us its own session: pin the runtime-settable
    # confs our oracle determinism depends on (UTC casts; nanos events)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    Inference runs one Spark job per read to open a footer on an
    executor. With ``mergeSchema`` off Spark only ever reads the first
    data file's footer (in path order, skipping ``_*``/``.*`` names), so
    reading that same footer on the driver, through Spark's own
    converter under the session's current confs, yields the identical
    schema with no job. A directory with no data file at its top level
    (partitioned or empty) is left to Spark's inference.
    """
    jvm, jss = spark._jvm, spark._jsparkSession
    hadoop_conf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hadoop_conf)
    status = fs.getFileStatus(hpath)
    if status.isDirectory():
        # globStatus returns names in sorted order
        children = fs.globStatus(jvm.org.apache.hadoop.fs.Path(hpath, "[!_.]*"))
        status = next((c for c in children if c.isFile()), None)
        if status is None:
            return spark.read.parquet(path)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    metadata = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, hadoop_conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), metadata),
        parquet.ParquetToSparkSchemaConverter(jss.sessionState().conf()),
    )
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All test tables as a dict of lazily-planned DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: DataFrames persisted by operators whose plans reuse an intermediate
#: several times. Operators return lazy DataFrames, so they cannot
#: unpersist their own caches — callers that run many queries in one
#: session (bench.py, tools/selfcheck.py, the driver shim) release them
#: via :func:`release_caches` after consuming each result.
_CACHED: list[DataFrame] = []

#: sparkContext.broadcast handles built by operators (the IVF grouped-
#: scoring matrices). Unlike SQL-plan broadcasts (which the JVM
#: reference-tracks), a pickled sc.broadcast lives until destroy() — a
#: long bench session calling ivf_top_k repeatedly would otherwise
#: accumulate broadcast blocks in the driver and executors (ADVICE r12).
_BROADCASTS: list = []


def cache_tracked(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() with caller-owned lifetime (see :func:`release_caches`).

    ``storage_level``: optional ``pyspark.StorageLevel``. Big invariant
    frames that are re-read across iterations should pass DISK_ONLY —
    deserialized MEMORY_AND_DISK blocks are protected from execution-
    side eviction up to ``spark.memory.storageFraction`` of the unified
    pool, and a multi-GB pinned invariant starves iteration hash
    aggregates (the r11 g2 checkpoint lesson; gr1's sf10 OOM, r13).
    """
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _CACHED.append(df)
    return df


def broadcast_tracked(bc):
    """Register an sc.broadcast for release alongside the caches."""
    _BROADCASTS.append(bc)
    return bc


def release_caches(blocking: bool = False, destroy_broadcasts: bool = False) -> None:
    """Unpersist every operator-cached DataFrame and every operator-built
    sc.broadcast registered so far.

    Broadcasts are ``unpersist()``-ed by default: executor and driver
    blocks are dropped, but a still-referenced result DataFrame (e.g.
    an ``ivf_top_k`` output consumed *after* this call) transparently
    re-ships the value at its next action — benign recompute, same as
    the DataFrame caches.  Pass ``destroy_broadcasts=True`` only at
    terminal teardown (end of a bench session): ``destroy()`` makes any
    later task dereference a hard failure at action time (ADVICE r13).
    """
    while _CACHED:
        _CACHED.pop().unpersist(blocking=blocking)
    while _BROADCASTS:
        bc = _BROADCASTS.pop()
        bc.destroy() if destroy_broadcasts else bc.unpersist(blocking=blocking)


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A size conf as bytes; Spark accepts '128m'/'4194304'-style values."""
    try:
        return _size_bytes(str(spark.conf.get(key, str(default))))
    except ValueError:
        return default


#: logical operators under which the first executed stage is no longer
#: the file scan (a shuffle or broadcast re-partitions the data), so a
#: file-size split estimate says nothing about the frame's runtime
#: partitioning — those frames keep the exact physical-plan probe.
_NON_SCAN_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Sort", "Repartition",
    "Deduplicate", "Distinct", "GlobalLimit",
)

#: split-estimate memo (r19, VERDICT r18 item #4). ensure_parallelism
#: runs ~41 times per catalog pass, mostly over the same handful of
#: tables, and the per-file ``getsize`` loop is O(files) driver work
#: per call. The memo keys on the resolved file list plus every conf
#: the estimate depends on, so a repeat call over the same table is a
#: dict hit with ZERO stat syscalls. Process-local metadata only —
#: never persisted, never keyed on query results — and bench/oracle
#: inputs are immutable parquet for the life of a session, so cached
#: sizes cannot go stale mid-run.
_SPLIT_MEMO: dict[tuple, int] = {}
_SPLIT_MEMO_MAX = 128  # distinct (file-set, conf) shapes per session

#: above this many files the size loop STRIDE-SAMPLES instead of
#: stat-ing every file (total extrapolated from the sample mean), so
#: a million-file local scan costs 10k stats once, then memo hits —
#: never O(files) on the hot path.
_SPLIT_STAT_CAP = 10_000


def _estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan split count from file sizes — driver-side
    metadata only, no physical planning (r18).

    Mirrors Spark's ``FilePartition.maxSplitBytes`` packing:
    ``maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    padded/defaultParallelism))`` and splits ≈ ceil(padded/maxSplit)
    where padded charges every file its open cost. The estimate is
    within ±1 split of the planner for single-directory parquet scans
    (packing boundaries differ), which is harmless here: the only
    consumer compares it against the session's core count, and the
    decision band is orders of magnitude wide at both ends (KB-scale
    test inputs vs TB-scale production scans).

    Returns None (caller falls back to the exact probe) when the frame
    is not scan-rooted (shuffle/broadcast above the scan), reads
    non-local files, or has no file source at all. (Non-``file:``
    schemes have no cheap driver-side size call here; at an
    object-store deployment ``ensureParallelism.enabled=false`` remains
    the intended no-op path — the input already has thousands of
    splits.)

    Repeat calls over the same file set are memoized (``_SPLIT_MEMO``)
    and huge listings are stride-sampled (``_SPLIT_STAT_CAP``), so the
    stat loop is bounded and runs at most once per distinct table.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(node in plan for node in _NON_SCAN_PLAN_NODES):
            return None
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimation is best-effort
        return None
    if not files:
        return None
    spark = df.sparkSession
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_part = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    cores = max(1, spark.sparkContext.defaultParallelism)
    # hash(tuple) is pure CPU (~ns/file), vs a stat syscall per file;
    # len guards the astronomically unlikely hash collision down to
    # same-length collisions, whose worst case is a fan-out decision,
    # never a wrong result.
    key = (hash(tuple(files)), len(files), open_cost, max_part, cores)
    cached = _SPLIT_MEMO.get(key)
    if cached is not None:
        return cached
    sample = files
    if len(files) > _SPLIT_STAT_CAP:
        # deterministic stride sample; parquet files in one table dir
        # are near-uniform, so the extrapolated total lands within the
        # decision band (and the split math pads per-file open cost
        # with the EXACT file count regardless)
        sample = files[:: -(-len(files) // _SPLIT_STAT_CAP)]
    total = 0
    for f in sample:
        if not f.startswith("file:"):
            return None
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            return None
    if len(sample) < len(files):
        total = total * len(files) // len(sample)
    padded = total + len(files) * open_cost
    max_split = min(max_part, max(open_cost, padded // cores))
    splits = max(1, -(-padded // max(1, max_split)))
    if len(_SPLIT_MEMO) >= _SPLIT_MEMO_MAX:
        _SPLIT_MEMO.clear()
    _SPLIT_MEMO[key] = splits
    return splits


def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism.

    A small parquet file arrives as ONE split -> one task -> every other
    core idle, which turns expression-heavy per-row work (shingling,
    hashing, pandas UDFs) into a serial bottleneck. Round-robin
    repartition up to default parallelism when — and only when — the
    scan produced fewer splits; at 100 TB the input already has
    thousands of splits and this is a no-op (no shuffle added).

    The split count comes from a file-size estimate
    (:func:`_estimate_scan_partitions`) whenever the frame is
    scan-rooted: driver-side metadata math instead of the former
    ``df.rdd.getNumPartitions()`` probe, which forced a full physical
    planning pass per call — measured at 0.15-0.3 s each across the
    ~30 probes of a catalog pass (r18; guide §7.3's "planning time is
    driver time" cost, paid before every heavy dedup/multimodal/text
    query). Frames that are not scan-rooted (a shuffle or broadcast
    above the scan decides their partitioning) keep the exact probe.
    A LARGE deployment where every input already has plenty of splits
    can set ``spark.movie_etl.ensureParallelism.enabled=false`` to make
    this a true no-op (r6 verdict note); the small-file fan-out then
    never triggers, which is exactly right at that scale.
    """
    spark = df.sparkSession
    if (
        spark.conf.get("spark.movie_etl.ensureParallelism.enabled", "true")
        == "false"
    ):
        return df
    target = spark.sparkContext.defaultParallelism * factor
    est = _estimate_scan_partitions(df)
    n_parts = est if est is not None else df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df
