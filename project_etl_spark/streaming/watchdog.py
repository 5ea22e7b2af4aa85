"""Watchdog pipeline (entry point C, DAQ_self-triggering.md:306-314).

The reference's ``daq_watchdog.py`` monitors the binary-data directory; when
``output_run_{run}_rb{rb}.dat`` appears it decodes + merges to the columnar
analysis format and archives the input. Spark-shaped replacement:

    readStream(binaryFile on landing dir)
      -> vectorized frame decode (project_etl_spark.decode)
      -> filler suppression
      -> writeStream parquet partitioned by run, checkpointed

Exactly-once: the file source records consumed files in the checkpoint's
offset log, the parquet sink commits atomically per batch — the lock-file /
move-to-archive protocol of the reference, for free. The readiness join
("waits for both scope and ETROC binaries", DAQ_self-triggering.md:284) is
``await_pairs``: a ``groupBy(run)`` count of the distinct required boards
over a frame of processed hits; a run is ready when every board is there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from project_etl_spark.decode import decode_binary_frames
from project_etl_spark.streaming import parquet_sink
from project_etl_spark.streaming.ingest import streaming_hits


def streaming_frames(spark: SparkSession, landing_dir: str,
                     drop_filler: bool = True,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming decode: binaryFile stream source -> the shared decode step.

    ``maxFilesPerTrigger`` is the admission-control knob — the analog of the
    reference's 128-word block reads (DAQ_self-triggering.md:199-204):
    bounds per-micro-batch work so state and memory stay flat at scale.
    """
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp,"
                      " length long, content binary")
              .option("pathGlobFilter", "*.dat"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return decode_binary_frames(reader.load(landing_dir), drop_filler)


def start_watchdog(spark: SparkSession, landing_dir: str, out_dir: str,
                   checkpoint_dir: str, available_now: bool = True) -> StreamingQuery:
    """Decode newly-landed run files into run-partitioned parquet.

    ``partitionBy("run")`` mirrors the reference's per-run output layout
    (DAQ_self-triggering.md:288-301) and gives downstream partition pruning.
    ``availableNow`` drains the backlog then stops (batch-over-stream);
    pass False for a continuously-running watchdog.
    """
    writer = parquet_sink(streaming_frames(spark, landing_dir), out_dir,
                          checkpoint_dir).partitionBy("run")
    if not available_now:
        writer = writer.trigger(processingTime="500 milliseconds")
    return writer.start()


def await_pairs(processed: DataFrame, required_rbs: tuple[int, ...] = (0, 1)) -> DataFrame:
    """Readiness set: runs for which ALL required readout boards have landed
    (the "waits for scope + ETROC binaries" join, DAQ_self-triggering.md:284).
    Merge-eligible = count(distinct rb) == len(required)."""
    return (
        processed.where(F.col("rb").isin(*required_rbs))
        .groupBy("run")
        .agg(F.countDistinct("rb").alias("n_rbs"))
        .where(F.col("n_rbs") == len(required_rbs))
        .select("run")
    )


def start_dedup_stream(spark: SparkSession, landing_dir: str, out_dir: str,
                       checkpoint_dir: str, watermark: str = "10 minutes",
                       ts_col: str = "ts") -> StreamingQuery:
    """Online double-trigger removal (Documentation-Self-Triggering.html:239-243):
    ``dropDuplicatesWithinWatermark`` on the hit identity — state is bounded
    by the watermark horizon, so it runs forever at constant memory."""
    deduped = (streaming_hits(spark, landing_dir)
               .withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["run", "rb", "etroc", "event_id",
                                               "row", "col"]))
    return parquet_sink(deduped, out_dir, checkpoint_dir).start()
