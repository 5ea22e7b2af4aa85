"""§2.1 Python DataSource API surface (Spark 4) — the packed binary run-file
format (``output_run_{run}_rb{rb}.dat``, DAQ_self-triggering.md:233-234)
exposed as a first-class table format, batch AND streaming, via
``project_etl_spark.pyds``.

Six registered queries, all hash-checked:

- ``scan_python_datasource`` — batch read through the custom format
  (partition-per-file, Arrow-batch decode), then the standard event build;
  pinned against the same golden decoded-hits parquet as
  ``scan_binary_frames``, so the two source engines (binaryFile +
  mapInPandas vs Python DataSource) are provably bit-identical.
- ``scan_python_datasource_pruned`` — the filter-pushdown variant:
  ``pushFilters`` prunes whole files from run/rb predicates before a byte
  is read (the Python-source analog of partition pruning); census pinned
  to the golden-frame counts.
- ``source_python_datasource_stream`` — the streaming side: the offset
  is the ledger of admitted landing-dir files (the watchdog's
  consumed-file ledger as a replayable offset), each new file decoded on
  an executor and sunk to parquet through a checkpoint; census pinned to
  the golden-frame counts.
- ``stream_python_datasource_partitioned`` — the same reader across a
  restart: a late file is admitted exactly once via the checkpoint.
- ``sink_python_datasource`` — the WRITE side (``DataSourceWriter`` with
  two-phase commit); proof is a full reader->writer->reader roundtrip
  hash-checked against the golden census (byte-identity pinned in
  tests/test_pyds.py).
- ``sink_stream_python_datasource`` — the STREAMING write side
  (``DataSourceStreamWriter``): per-batch append under a WAL-style
  intent/done ledger with truncate-recovery — exactly-once under any
  crash point (replay-idempotence and partial-append rewind unit-proven
  in tests/test_pyds.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_etl_spark.decode import build_hits
from project_etl_spark.io import scratch_dir as _scratch
from project_etl_spark.pyds import register_datasource
from project_etl_spark.registry import register
from project_etl_spark.session import ensure_deterministic
from project_etl_spark.streaming import drain, parquet_sink
from project_etl_spark.operators.streaming_live import (
    _few_shuffle_partitions,
    _golden_run_files,
)

# 64 data + 1 header + 1 trailer per (run, rb) golden file (filler dropped).
_GOLDEN_CENSUS_ORACLE = """
    SELECT CAST(r.run AS INT) AS run, CAST(b.rb AS INT) AS rb,
           k.kind, CAST(k.n AS BIGINT) AS n_frames
    FROM (SELECT unnest([1, 2]) AS run) r,
         (SELECT unnest([0, 1]) AS rb) b,
         (VALUES ('data', 64), ('header', 1), ('trailer', 1)) k(kind, n)
"""


def _census(df: DataFrame) -> DataFrame:
    return df.groupBy("run", "rb", "kind").agg(
        F.count(F.lit(1)).alias("n_frames"))


@register(
    "scan_python_datasource",
    oracle="""
        SELECT run, rb, elink, event_id, row, col, toa, tot
        FROM read_parquet('/root/repo/tests/fixtures/golden_frames.parquet')
    """,
    tags=("scan", "binary", "datasource"),
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of packed binary run files through the custom Spark 4
    Python DataSource (``format("etl_runfiles")``): one InputPartition per
    file, Arrow RecordBatch decode via the shared numpy kernel, then the
    standard event build. Hash-checked against the SAME golden parquet as
    ``scan_binary_frames`` — the two source implementations must agree
    bit-for-bit (DAQ_self-triggering.md:233-234, :293-294)."""
    ensure_deterministic(spark)
    d = _scratch("pyds_scan")
    _golden_run_files(d)
    register_datasource(spark)
    frames = spark.read.format("etl_runfiles").option("path", d).load()
    return build_hits(frames)


_PRUNED_ORACLE = """
    SELECT CAST(1 AS INT) AS run, CAST(r.rb AS INT) AS rb,
           CAST(64 AS BIGINT) AS n_data
    FROM (SELECT unnest([0, 1]) AS rb) r
"""


@register("scan_python_datasource_pruned", oracle=_PRUNED_ORACLE,
          tags=("scan", "binary", "datasource", "pushdown"))
def scan_python_datasource_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource: the ``run = 1``
    predicate reaches ``pushFilters`` and prunes run-2 files from the
    listing before any byte is read — the Python-source analog of
    partition pruning (zero I/O for pruned runs; at 100 TB this is the
    difference between scanning one run and scanning the archive). The
    ``kind`` predicate is NOT accepted by the source and stays with Spark.
    Census pinned to the golden-frame counts (64 data frames per file)."""
    ensure_deterministic(spark)
    d = _scratch("pyds_pruned")
    _golden_run_files(d)
    register_datasource(spark)
    # spark.sql.python.filterPushdown.enabled is pinned session-wide by
    # ensure_deterministic (session.py) — planning-time flag, so a scoped
    # override could not outlive this builder for a lazily-planned result.
    return (spark.read.format("etl_runfiles")
            .option("path", d).option("pushdown", "true").load()
            .where((F.col("run") == 1) & (F.col("kind") == "data"))
            .groupBy("run", "rb").agg(F.count(F.lit(1)).alias("n_data")))


@register("source_python_datasource_stream", oracle=_GOLDEN_CENSUS_ORACLE,
          tags=("streaming", "source", "datasource"))
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the custom Python DataSource
    (``DataSourceStreamReader``): the offset is a monotonic ledger of
    admitted filenames — the watchdog's consumed-file ledger
    (DAQ_self-triggering.md:306-311) as a replayable checkpoint offset,
    giving exactly-once file admission under ANY arrival order (a run
    file landing late, with a name sorting before already-admitted ones,
    is admitted exactly once on the next micro-batch). All four golden
    files are present at start, so one ``availableNow`` drain admits them
    and terminates deterministically (no processing-time trigger, no
    sink polling), then the census is hash-checked."""
    ensure_deterministic(spark)
    base = _scratch("pyds_stream")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing, exist_ok=True)
    _golden_run_files(landing)
    register_datasource(spark)
    with _few_shuffle_partitions(spark):
        frames = (spark.readStream.format("etl_runfiles")
                  .option("path", landing).load())
        drain(parquet_sink(frames, out, ckpt).start())
    return _census(spark.read.parquet(out))


_PARTITIONED_STREAM_ORACLE = """
    SELECT CAST(r.run AS INT) AS run, CAST(b.rb AS INT) AS rb,
           k.kind, CAST(k.n AS BIGINT) AS n_frames
    FROM (SELECT unnest([1, 2]) AS run) r,
         (SELECT unnest([0, 1]) AS rb) b,
         (VALUES ('data', 64), ('header', 1), ('trailer', 1)) k(kind, n)
    UNION ALL
    SELECT 3, 0, kind, n
    FROM (VALUES ('data', CAST(64 AS BIGINT)),
                 ('header', CAST(1 AS BIGINT)),
                 ('trailer', CAST(1 AS BIGINT))) t(kind, n)
"""


@register("stream_python_datasource_partitioned",
          oracle=_PARTITIONED_STREAM_ORACLE,
          tags=("streaming", "source", "datasource"))
def stream_python_datasource_partitioned(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """The partitioned stream reader across a query restart: the driver
    only lists the landing dir per micro-batch — each newly-landed run
    file becomes one InputPartition decoded ON EXECUTORS as Arrow batches,
    so a burst of landed files fans out across a fleet. A fifth file
    lands AFTER the first drain and must be admitted exactly once through
    the checkpointed offset — the watchdog's continuous-tail behavior
    (DAQ_self-triggering.md:306-311) driven as two ``availableNow``
    drains over ONE checkpoint, which also exercises offset replay across
    a restart; end state hash-pinned."""
    ensure_deterministic(spark)
    base = _scratch("pyds_part_stream")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing, exist_ok=True)
    _golden_run_files(landing)
    register_datasource(spark)
    from project_etl_spark.decode import write_run_file
    from project_etl_spark.operators.streaming_live import _golden_frames

    def _drain():
        frames = (spark.readStream.format("etl_runfiles")
                  .option("path", landing).load())
        drain(parquet_sink(frames, out, ckpt).start())

    with _few_shuffle_partitions(spark):
        _drain()                                  # admits the 4 initial files
        write_run_file(landing, run=3, rb=0,      # lands AFTER the first drain
                       frames=_golden_frames())
        _drain()                                  # admits ONLY the late file
    return _census(spark.read.parquet(out))


@register("sink_python_datasource", oracle=_GOLDEN_CENSUS_ORACLE,
          tags=("sink", "datasource"))
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE side of the custom format (Spark 4 ``DataSourceWriter``) —
    the reference's merge step (decoded frames back to per-(run, rb)
    packed binary files, DAQ_self-triggering.md:288-301) as a native
    ``df.write.format("etl_runfiles")`` target with a real two-phase
    commit (executor temp fragments -> driver assemble+rename; an aborted
    job leaves no partial final file). The proof is a full write-path
    roundtrip: golden run files are read with the READER (filler frames
    kept), re-written through the WRITER to a fresh directory, re-read,
    and the census hash-checked against the same golden oracle as the
    read-side queries — encode and decode are inverses through the entire
    Spark write protocol, not just in the fixture generator. Input is
    repartitioned by (run, rb), so each final file is a single fragment
    and commit is rename-cost."""
    ensure_deterministic(spark)
    base = _scratch("pyds_sink")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    os.makedirs(landing, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    _golden_run_files(landing)
    register_datasource(spark)
    frames = (spark.read.format("etl_runfiles")
              .option("path", landing).option("dropfiller", "false").load())
    (frames.repartition("run", "rb")
     .sortWithinPartitions("run", "rb", "frame_index")
     .write.format("etl_runfiles").option("path", out).mode("append").save())
    back = spark.read.format("etl_runfiles").option("path", out).load()
    return _census(back)


@register("sink_stream_python_datasource", oracle=_GOLDEN_CENSUS_ORACLE,
          tags=("sink", "streaming", "datasource"))
def sink_stream_python_datasource(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """STREAMING write side of the custom format (Spark 4
    ``DataSourceStreamWriter``): micro-batches of typed frames are
    appended to the per-(run, rb) binary files under a WAL-style
    intent/done commit ledger (``_stream_commits.jsonl``) — the
    reference's acquisition loop (append packed words, note progress in
    daq_log, DAQ_self-triggering.md:224-237, :313-314) with crash-safe
    truncate-recovery: a replayed batch is skipped via its ``done``
    record, a batch that crashed mid-append is rewound to its recorded
    pre-append file lengths before re-appending, so every batch
    materializes exactly once under any failure point (unit-proven in
    tests/test_pyds.py). The query streams the golden landing dir
    through the custom SOURCE into the custom SINK and hash-checks the
    read-back census — the full source->sink loop of the format in one
    pipeline."""
    ensure_deterministic(spark)
    base = _scratch("pyds_stream_sink")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    _golden_run_files(landing)
    register_datasource(spark)
    with _few_shuffle_partitions(spark):
        drain(spark.readStream.format("etl_runfiles")
              .option("path", landing).load()
              .writeStream.format("etl_runfiles").option("path", out)
              .option("checkpointLocation", ckpt).outputMode("append")
              .trigger(availableNow=True).start())
    back = spark.read.format("etl_runfiles").option("path", out).load()
    return _census(back)
