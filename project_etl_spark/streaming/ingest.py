"""Ingest pipeline (entry point B, daq_stream.py analog —
DAQ_self-triggering.md:162-237 / SURVEY.md §3.2).

The reference's per-run reader polls the FIFO, drains 128-word blocks,
and emits per-run stats (L1A rate, events, lost events, Mbps — :235-236).
Spark-shaped replacement: a streaming hit source -> watermark -> 30 s
tumbling aggregation -> stats sink. Late hits beyond the watermark are
dropped exactly like the reference's lock-loop timeout bounds waiting
(:162-175).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from project_etl_spark.streaming import parquet_sink

HIT_SCHEMA = ("run int, rb int, etroc int, event_id long, row int, col int,"
              " toa int, tot int, ts timestamp")

# DAQ_RUN_TIME = 30 s (DAQ_self-triggering.md:452)
RUN_WINDOW = "30 seconds"
_RUN_SECONDS = float(RUN_WINDOW.split()[0])  # divisors stay in sync


def synthetic_hit_stream(spark: SparkSession, rows_per_second: int = 1000,
                         run: int = 1, rb: int = 0) -> DataFrame:
    """Live hit generator on the ``rate`` source — the self-triggered stream
    stand-in (SURVEY.md §3.2) when no detector (or file backlog) exists:
    each tick becomes one hit with deterministic field derivation from the
    monotone ``value`` counter, so downstream logic sees the exact shape of
    decoded hits (HIT_SCHEMA) with real event-time timestamps."""
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second).load())
    v = F.col("value")
    return rate.select(
        F.lit(run).alias("run"), F.lit(rb).alias("rb"),
        (v % 2).cast("int").alias("etroc"),
        (v / 3).cast("long").alias("event_id"),
        (v % 16).cast("int").alias("row"),
        ((v * 7) % 16).cast("int").alias("col"),
        (F.lit(180) + v % 60).cast("int").alias("toa"),
        (F.lit(40) + v % 30).cast("int").alias("tot"),
        F.col("timestamp").alias("ts"),
    )


def streaming_hits(spark: SparkSession, hits_dir: str,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(HIT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(hits_dir)


def windowed_run_stats(hits: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Per-(rb, 30 s window) acquisition stats — the YAML stats record
    (DAQ_self-triggering.md:235-236) as a streaming aggregation.

    l1a_rate = distinct L1As / window seconds; speed proxies bytes from the
    5-byte frame size. approx_count_distinct keeps state mergeable and
    bounded (exact distinct in streaming state grows without bound)."""
    return (
        hits.withWatermark("ts", watermark)
        .groupBy(F.window("ts", RUN_WINDOW).alias("w"), F.col("rb"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.approx_count_distinct("event_id").alias("n_events"),
            (F.approx_count_distinct("event_id") / F.lit(_RUN_SECONDS))
            .alias("l1a_rate"),
            (F.count(F.lit(1)) * F.lit(5 * 8) / F.lit(_RUN_SECONDS) / F.lit(1e6))
            .alias("speed_mbps"),
        )
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "rb", "n_hits", "n_events", "l1a_rate", "speed_mbps")
    )


def start_ingest(spark: SparkSession, hits_dir: str, out_dir: str,
                 checkpoint_dir: str, watermark: str = "2 minutes",
                 max_files_per_trigger: int | None = None) -> StreamingQuery:
    """Run the ingest aggregation with an exactly-once parquet sink.

    Append mode: a window's stats row is emitted once, when the watermark
    passes its end — the streaming analog of the reference's
    write-stats-at-run-stop (DAQ_self-triggering.md:235-237)."""
    stats = windowed_run_stats(
        streaming_hits(spark, hits_dir, max_files_per_trigger), watermark)
    return parquet_sink(stats, out_dir, checkpoint_dir).start()


def start_ledger_sink(spark: SparkSession, hits_dir: str, ledger_dir: str,
                      checkpoint_dir: str) -> StreamingQuery:
    """foreachBatch sink with side effects (the daq_log.txt ledger append +
    move-to-archive, DAQ_self-triggering.md:237, :313-314): each micro-batch
    appends a (batch_id, run, rb, n) summary to a parquet ledger —
    idempotent on replay because batch_id is part of the row, giving the
    same at-least-once-dedupable semantics as the reference's ledger."""
    hits = streaming_hits(spark, hits_dir)

    def write_ledger(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.groupBy("run", "rb")
         .agg(F.count(F.lit(1)).alias("n_hits"))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(ledger_dir))

    return (hits.writeStream
            .foreachBatch(write_ledger)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
