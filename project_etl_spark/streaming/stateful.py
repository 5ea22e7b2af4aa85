"""Per-key mutable state: the EVENT_CNT monotone counter with explicit reset
(EVENT_CNT / EVENT_CNT_RESET, Documentation-Self-Triggering.html:163-166).

Interleaved resets are not expressible as a windowed aggregation (SURVEY.md
§4.2), so this is the one operator that needs arbitrary per-key state.
Primary implementation: ``applyInPandasWithState`` (GroupState per
(etroc,) key, incremented per trigger row, zeroed by reset rows).

Note on ``transformWithStateInPandas`` (Spark 4's newer API): it is the
forward path, but its state-server protocol requires ``google.protobuf``,
which is unavailable in this runtime — the GroupState implementation below
is semantically identical for this operator (single ValueState, no timers).

A batch twin (``event_counter_batch``) computes the same semantics with a
window carry-forward for the differential tests — streaming output must
equal the batch twin on the same input (SURVEY.md §5.2.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from project_etl_spark.streaming import parquet_sink

# Input rows: one per trigger or reset command.
SIGNAL_SCHEMA = ("etroc int, seq long, is_reset boolean, ts timestamp")

OUTPUT_SCHEMA = T.StructType([
    T.StructField("etroc", T.IntegerType()),
    T.StructField("seq", T.LongType()),
    T.StructField("event_cnt", T.LongType()),
])

STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def _count_events(key, pdf_iter: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-key counter: +1 per trigger, 0 at reset; state carries across
    micro-batches. Rows within a batch are ordered by seq (the acquisition
    order — the FPGA counter is strictly sequential)."""
    (n,) = state.get if state.exists else (0,)
    etroc = key[0]
    # A group can arrive as multiple Arrow chunks that are NOT globally
    # ordered; resets must apply in seq order, so materialize the batch's
    # rows for this key and sort once (bounded by per-key rows per batch).
    chunks = [pdf for pdf in pdf_iter]
    pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
           else chunks[0]).sort_values("seq")
    out_seq, out_cnt = [], []
    for is_reset, seq in zip(pdf["is_reset"], pdf["seq"]):
        n = 0 if is_reset else n + 1
        out_seq.append(int(seq))
        out_cnt.append(n)
    state.update((n,))
    yield pd.DataFrame({"etroc": etroc, "seq": out_seq, "event_cnt": out_cnt})


def start_event_counter(spark: SparkSession, signals_dir: str, out_dir: str,
                        checkpoint_dir: str) -> StreamingQuery:
    signals = spark.readStream.schema(SIGNAL_SCHEMA).parquet(signals_dir)
    counted = (
        signals.groupBy("etroc")
        .applyInPandasWithState(_count_events, OUTPUT_SCHEMA, STATE_SCHEMA,
                                outputMode="append",
                                timeoutConf=GroupStateTimeout.NoTimeout)
    )
    return parquet_sink(counted, out_dir, checkpoint_dir).start()


def event_counter_batch(signals: DataFrame) -> DataFrame:
    """Batch twin: count triggers since the last reset, per etroc, in seq
    order — segment id = running count of resets, counter = row_number
    within segment (0 on the reset row itself)."""
    w_seq = Window.partitionBy("etroc").orderBy("seq")
    seg = F.sum(F.when(F.col("is_reset"), 1).otherwise(0)).over(w_seq)
    with_seg = signals.withColumn("seg", seg)
    w_seg = Window.partitionBy("etroc", "seg").orderBy("seq")
    cnt = F.when(F.col("is_reset"), F.lit(0)).otherwise(
        F.row_number().over(w_seg) - F.max(F.when(F.col("is_reset"), 1).otherwise(0))
        .over(w_seg.rowsBetween(Window.unboundedPreceding, 0)))
    return (with_seg
            .withColumn("event_cnt", cnt.cast("long"))
            .select("etroc", "seq", "event_cnt"))


# ---------------------------------------------------------------------------
# transformWithStateInPandas forward path (gated on google.protobuf)
# ---------------------------------------------------------------------------

def tws_available() -> bool:
    """True when Spark 4's ``transformWithStateInPandas`` can run here: its
    Python state-server protocol is protobuf-encoded, so the API needs
    ``google.protobuf`` in the executor Python environment."""
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def start_event_counter_tws(spark: SparkSession, signals_dir: str,
                            out_dir: str,
                            checkpoint_dir: str) -> StreamingQuery:
    """EVENT_CNT on the ``transformWithStateInPandas`` API — the forward
    path for arbitrary per-key state in Spark 4 (explicit ValueState
    handle, composable timers, state-v2 checkpoint layout). Semantically
    identical to :func:`start_event_counter` for this operator (single
    value state, no timers): same per-key seq-ordered counting loop, same
    OUTPUT_SCHEMA, so on a protobuf-equipped cluster the two queries are
    drop-in twins and must produce identical output (the shared oracle in
    ``stream_stateful_counter`` is the contract). Raises a descriptive
    RuntimeError in environments without ``google.protobuf`` — the
    GroupState implementation above carries the registered semantics
    there."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf, which is "
            "not installed in this runtime; use start_event_counter "
            "(applyInPandasWithState) — identical semantics for this "
            "operator.")
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class _EventCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState(
                "n", T.StructType([T.StructField("n", T.LongType())]))

        def handleInputRows(self, key, rows, timer_values):
            n = self._n.get()[0] if self._n.exists() else 0
            chunks = list(rows)
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0]).sort_values("seq")
            out_seq, out_cnt = [], []
            for is_reset, seq in zip(pdf["is_reset"], pdf["seq"]):
                n = 0 if is_reset else n + 1
                out_seq.append(int(seq))
                out_cnt.append(n)
            self._n.update((n,))
            yield pd.DataFrame({"etroc": key[0], "seq": out_seq,
                                "event_cnt": out_cnt})

        def close(self) -> None:
            pass

    signals = spark.readStream.schema(SIGNAL_SCHEMA).parquet(signals_dir)
    counted = (signals.groupBy("etroc")
               .transformWithStateInPandas(
                   statefulProcessor=_EventCountProcessor(),
                   outputStructType=OUTPUT_SCHEMA,
                   outputMode="Append",
                   timeMode="None"))
    return parquet_sink(counted, out_dir, checkpoint_dir).start()


# ---------------------------------------------------------------------------
# Event-time-timeout sessionization (custom state + watermark-fired timeouts)
# ---------------------------------------------------------------------------

SESSION_GAP_SECONDS = 60

SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("first_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
])

SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("first_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
])


def _session_fn(key, pdf_iter: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    """Custom sessionizer on EventTimeTimeout: accumulate per-user event
    counts in GroupState; when the WATERMARK passes last_event + gap the
    engine invokes this function with ``state.hasTimedOut`` and the
    closed session is emitted. This is the pattern for session logic the
    built-in ``session_window`` cannot express (dynamic gaps, per-session
    caps, emit-on-close side effects); here the gap is fixed so the
    built-in twin `stream_session_live` family pins equivalent semantics.

    Session boundaries are a pure function of EVENT time, never of
    micro-batch layout: the data branch walks the batch's events in ts
    order and SPLITS whenever an event lands more than the gap after the
    open session's last event — emitting the closed session immediately
    rather than waiting for the engine timeout (which may not have fired
    yet if the watermark lags; without the split, two events 195 s apart
    would silently merge whenever they arrive before the watermark
    catches up). Late events inside the watermark that fall at-or-before
    ``last + gap`` merge into the open session (extending ``first_us``
    backward if needed) — append mode cannot retract an emitted row, so
    backward splits are out of contract, matching ``session_window``."""
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    if state.hasTimedOut:
        (n, first_us, last_us) = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "first_us": [first_us], "last_us": [last_us]})
        return
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    us = sorted(int(v) for v in rows["ts"].astype("int64") // 1000)  # ns->us
    if state.exists:
        n0, f0, l0 = state.get
        n, first_us, last_us = int(n0), int(f0), int(l0)
    else:
        n, first_us, last_us = 0, None, None
    closed: list[tuple[int, int, int]] = []
    for t in us:
        if first_us is None:
            n, first_us, last_us = 1, t, t
        elif t > last_us + gap_us:
            closed.append((n, first_us, last_us))
            n, first_us, last_us = 1, t, t
        else:
            n += 1
            first_us = min(first_us, t)
            last_us = max(last_us, t)
    state.update((n, first_us, last_us))
    # fire when the event-time watermark passes last event + gap
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_SECONDS * 1000)
    yield pd.DataFrame({
        "user_id": pd.Series([key[0]] * len(closed), dtype="int64"),
        "n_events": pd.Series([c[0] for c in closed], dtype="int64"),
        "first_us": pd.Series([c[1] for c in closed], dtype="int64"),
        "last_us": pd.Series([c[2] for c in closed], dtype="int64")})


def start_session_closer(spark: SparkSession, events_dir: str, out_dir: str,
                         checkpoint_dir: str,
                         watermark: str = "30 seconds") -> StreamingQuery:
    """Sessions close ONLY via the engine's event-time timeout: rows
    accumulate silently; the emitted stream is exactly the closed
    sessions."""
    ev = (spark.readStream.schema("user_id long, ts timestamp")
          .option("maxFilesPerTrigger", 1).parquet(events_dir)
          .withWatermark("ts", watermark))
    closed = (ev.groupBy("user_id")
              .applyInPandasWithState(_session_fn, SESSION_OUT_SCHEMA,
                                      SESSION_STATE_SCHEMA,
                                      outputMode="append",
                                      timeoutConf=GroupStateTimeout
                                      .EventTimeTimeout))
    return parquet_sink(closed, out_dir, checkpoint_dir).start()
