"""Fixture-table loaders.

``scan_parquet`` is the engine's base table access path (the analog of the
reference reading back its merged columnar ROOT output —
DAQ_self-triggering.md:306-314). Reads are declarative `spark.read.parquet`
scans so Catalyst performs predicate pushdown, column pruning and (when the
layout is partitioned) partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table.

    ``events.ts`` has shipped as TIMESTAMP(NANOS) parquet in some fixture
    generations (which Spark 4 refuses as a timestamp — read as nanosecond
    longs via ``nanosAsLong`` and truncated to microseconds) and as plain
    TIMESTAMP(MICROS, isAdjustedToUTC=false) in others (which Spark reads
    as TIMESTAMP_NTZ). Both are normalized to a session-zone TIMESTAMP in
    the UTC session (`session.py` pins ``spark.sql.session.timeZone=UTC``)
    — exactly the naive microsecond wall-clock DuckDB sees for the same
    column, so oracle comparisons agree (SURVEY.md §7.3.1).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":          # TIMESTAMP(NANOS) generation
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type != "timestamp":     # TIMESTAMP_NTZ generation
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(table(spark, sf_dir, n) for n in (names or TABLES))


def register_tables(spark: SparkSession, sf_dir: str,
                    prefix: str = "") -> None:
    """Expose every fixture table as a temp view so users can query the
    engine directly with ``spark.sql`` — the engine's SQL surface is stock
    Spark SQL (Catalyst does the planning; nothing custom to learn)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)

def _estimated_scan_splits(spark: SparkSession, files: list[str]) -> int:
    """Estimate a file-backed plan's scan-partition count from the METADATA
    of its input ``files`` only (no RDD materialization of the plan — on a
    100 TB plan ``df.rdd`` would physically plan and wrap the whole tree
    just to read one number). Mirrors Spark's split sizing
    (``FilePartition.maxSplitBytes``): maxSplit = min(maxPartitionBytes,
    max(openCostInBytes, bytesPerCore)); each file contributes
    ceil(size / maxSplit) splits. That is an UPPER bound: packing merges
    small splits into one partition, and a split holding no row-group
    midpoint reads nothing. So the estimate errs toward leaving a narrow
    scan unspread, never toward a needless repartition of a wide one."""
    sc = spark.sparkContext
    jconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    sizes = []
    for uri in files:
        jpath = jvm.org.apache.hadoop.fs.Path(uri)
        fs = jpath.getFileSystem(jconf)
        sizes.append(fs.getFileStatus(jpath).getLen())
    sconf = spark._jsparkSession.sessionState().conf()
    max_part = int(sconf.filesMaxPartitionBytes())
    open_cost = int(sconf.filesOpenCostInBytes())
    bytes_per_core = (sum(sizes) + open_cost * len(sizes)) \
        // max(1, sc.defaultParallelism)
    max_split = max(1, min(max_part, max(open_cost, bytes_per_core)))
    return sum(-(-s // max_split) for s in sizes)


def spread_small_scan(df: DataFrame, spread_col: str = "doc_id") -> DataFrame:
    """Fan a SMALL single-split scan out to the session's cores before
    CPU-heavy per-row work (optimization round 12).

    The sf fixtures are single-row-group parquet files, so every scan is
    ONE task regardless of split configuration (a parquet row group is
    unsplittable — byte-range splits assign a row group to the split
    holding its midpoint); per-row-expensive operators (rolling hashes,
    n-gram explodes, compression proxies) then serialize on one core
    while the other 31 idle. HASH-repartition on ``spread_col`` (an
    explicit, required-to-exist key — never "whatever column is first";
    a low-cardinality implicit key would silently defeat the spread) to
    defaultParallelism, but ONLY when the input scan has fewer splits:
    at 100 TB a corpus scan has thousands of splits and must never be
    collapsed — there this helper is an identity, so the lowering is
    scale-adaptive, not a local[32] constant. Hash (not round-robin)
    partitioning is deterministic per row under task retry with no
    sort-before-repartition cost, and both call sites key on the
    high-cardinality ``doc_id``."""
    if spread_col not in df.columns:
        raise ValueError(
            f"spread_small_scan: spread_col {spread_col!r} not in "
            f"{df.columns}")
    n = df.sparkSession.sparkContext.defaultParallelism
    # File-backed plans are sized from file metadata; tiny in-memory demo
    # inputs (no files) fall back to the RDD partition count, where the
    # plan is trivially small.
    files = df.inputFiles()
    if files:
        splits = _estimated_scan_splits(df.sparkSession, files)
    else:
        splits = df.rdd.getNumPartitions()
    if splits >= n:
        return df
    return df.repartition(n, F.col(spread_col))


_SCRATCH_SEQ = None  # lazily initialized (itertools.count, uuid token)


def scratch_dir(tag: str) -> str:
    """Fresh scratch directory PER CALL for demo pipelines.

    The name carries (tag, pid, process-unique token, call sequence):
    two driver processes can run the same query concurrently; a recycled
    pid can never collide with a dead predecessor's leftovers (token);
    and re-invoking the same builder twice in one process gets a new
    directory, so a lazily-read DataFrame returned by the earlier
    invocation stays valid. Everything this process created is removed
    at interpreter exit."""
    import atexit
    import itertools
    import shutil
    import tempfile
    import uuid

    global _SCRATCH_SEQ
    if _SCRATCH_SEQ is None:
        token = uuid.uuid4().hex[:8]
        created: list[str] = []

        @atexit.register
        def _cleanup():
            for path in created:
                shutil.rmtree(path, ignore_errors=True)

        _SCRATCH_SEQ = (token, itertools.count(), created)

    token, seq, created = _SCRATCH_SEQ
    d = os.path.join(
        tempfile.gettempdir(),
        f"project_etl_spark_{tag}_{os.getpid()}_{token}_{next(seq)}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    created.append(d)
    return d
