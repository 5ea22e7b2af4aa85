"""Structured Streaming pipelines — the reference's two streaming entry
points re-expressed (SURVEY.md §3.2-3.3):

- ``ingest``    per-run micro-batch acquisition (daq_stream.py analog)
- ``watchdog``  directory-watching decode+merge post-processor
- ``stateful``  per-key mutable state (EVENT_CNT with reset)

Where the reference coordinates processes with lock files
(DAQ_self-triggering.md:104-121, :166-175), these pipelines rely on
checkpoint/commit logs for exactly-once; where it polls every 0.5 s
(:145-147), they use micro-batch triggers.

Bounded streams. Where the reference's watchdog waits on lock files and
flushes the FIFO remainder at stop (:224-232, :306-314), a bounded stream
here is an ``availableNow`` drain, and this module holds its whole policy:

- ``parquet_sink`` is the one file-sink layout: parquet, append mode,
  checkpointed, ``availableNow`` (drain the backlog, then stop).
- ``drain`` is the one wait. It gives a started query
  ``DRAIN_TIMEOUT_S`` to finish. A query still running after that is
  stopped and ``TimeoutError`` is raised, so no caller ever reads a
  half-written sink or leaves a query running into the next one.

Every ``start_*`` function returns a started, un-awaited query; the caller
drains it when it is bounded.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

DRAIN_TIMEOUT_S = 120


def parquet_sink(df: DataFrame, out: str, ckpt: str) -> DataStreamWriter:
    """Exactly-once parquet file sink for a bounded drain: the file sink
    commits each micro-batch atomically, which is the flush-remainder-at-
    stop guarantee of the reference with no code."""
    return (df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True))


def drain(q: StreamingQuery) -> StreamingQuery:
    """Wait for a started query to finish; stop it and raise
    ``TimeoutError`` if it has not within ``DRAIN_TIMEOUT_S``. Returns the
    query so callers can read ``recentProgress``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        name = q.name or q.id
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish "
                           f"within {DRAIN_TIMEOUT_S}s")
    return q
