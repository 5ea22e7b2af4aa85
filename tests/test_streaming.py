"""Known-count synthetic-stream tests (SURVEY.md §5.2.2): feed K synthetic
files through the streaming pipelines and assert exact output counts and
boundaries — the streaming analog of the reference's 300-injections check
(Documentation-Self-Triggering.html:239) and 10-L1A smoke
(DAQ_self-triggering.md:76).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from project_etl_spark.decode import write_run_file
from project_etl_spark.streaming import DRAIN_TIMEOUT_S, drain
from project_etl_spark.streaming.ingest import start_ingest, start_ledger_sink
from project_etl_spark.streaming.stateful import (SIGNAL_SCHEMA,
                                                  event_counter_batch,
                                                  start_event_counter)
from project_etl_spark.streaming.watchdog import (await_pairs, start_dedup_stream,
                                                  start_watchdog)

T0 = dt.datetime(2025, 1, 1, 12, 0, 0)

HIT_COLS = ["run", "rb", "etroc", "event_id", "row", "col", "toa", "tot", "ts"]


def _hit(run, rb, event_id, ts, row=1, col=1):
    return (run, rb, 0, event_id, row, col, 100, 50, ts)


def _write_hits(spark, path, rows):
    # one-slice parallelize: coalesce(1) over the default slicing computes
    # every parent slice sequentially in one task (a Python-worker
    # round-trip each — ~5 s of overhead per tiny write on local[32])
    rdd = spark.sparkContext.parallelize(rows, 1)
    (spark.createDataFrame(rdd, schema=(
        "run int, rb int, etroc int, event_id long, row int, col int,"
        " toa int, tot int, ts timestamp"))
     .write.mode("append").parquet(path))


def test_watchdog_end_to_end(spark, tmp_path):
    """Files land -> decoded, filler-suppressed, run-partitioned parquet out;
    restart with the same checkpoint reprocesses nothing (exactly-once)."""
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    frames = ([{"kind": "header", "elink": 0, "event_id": 1}]
              + [{"kind": "data", "elink": 0, "row": i % 16, "col": i % 16,
                  "toa": i % 1024, "tot": i % 512} for i in range(20)]
              + [{"kind": "filler", "elink": 0}] * 5)
    write_run_file(str(landing), run=1, rb=0, frames=frames)
    write_run_file(str(landing), run=2, rb=0, frames=frames)

    drain(start_watchdog(spark, str(landing), str(out), str(ckpt)))
    got = spark.read.parquet(str(out))
    assert got.count() == 2 * 21  # header + 20 data, filler dropped
    assert {r["run"] for r in got.select("run").distinct().collect()} == {1, 2}

    # arrival of a third file: only the delta is processed
    write_run_file(str(landing), run=3, rb=0, frames=frames)
    drain(start_watchdog(spark, str(landing), str(out), str(ckpt)))
    assert spark.read.parquet(str(out)).count() == 3 * 21


def test_await_pairs(spark, tmp_path):
    """Readiness join: a run is merge-eligible only when both RBs landed."""
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    frames = [{"kind": "header", "elink": 0, "event_id": 1}]
    write_run_file(str(landing), run=1, rb=0, frames=frames)
    write_run_file(str(landing), run=1, rb=1, frames=frames)
    write_run_file(str(landing), run=2, rb=0, frames=frames)  # rb1 missing
    drain(start_watchdog(spark, str(landing), str(out), str(ckpt)))
    ready = await_pairs(spark.read.parquet(str(out)), required_rbs=(0, 1))
    assert [r["run"] for r in ready.collect()] == [1]


def test_ingest_window_stats(spark, tmp_path):
    """30 s tumbling windows: 10 hits in window A, 5 in window B; late hit
    beyond the watermark is dropped from the appended output."""
    hits_dir = str(tmp_path / "hits")
    out = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    in_a = [_hit(1, 0, i, T0 + dt.timedelta(seconds=i)) for i in range(10)]
    in_b = [_hit(1, 0, 100 + i, T0 + dt.timedelta(seconds=30 + i)) for i in range(5)]
    # watermark-advancing future hit; windows A/B close once it's seen
    flush = [_hit(1, 0, 999, T0 + dt.timedelta(minutes=10))]
    _write_hits(spark, hits_dir, in_a + in_b)
    _write_hits(spark, hits_dir, flush)

    drain(start_ingest(spark, hits_dir, out, ckpt, watermark="1 minutes"))

    # a hit for window A arriving after the watermark passed: the restarted
    # query recovers the watermark from the checkpoint and drops it
    late = [_hit(1, 0, 1000, T0 + dt.timedelta(seconds=3))]
    _write_hits(spark, hits_dir, late)
    drain(start_ingest(spark, hits_dir, out, ckpt, watermark="1 minutes"))
    stats = {(r["window_start"].second, r["window_start"].minute): r
             for r in spark.read.parquet(out).collect()}
    a = stats[(0, 0)]
    b = stats[(30, 0)]
    assert a["n_hits"] == 10 and b["n_hits"] == 5
    assert a["n_events"] == 10  # exact at this cardinality
    # the late hit (event 1000) must NOT appear: window A emitted once
    total = sum(r["n_hits"] for r in spark.read.parquet(out).collect())
    assert total == 15  # flush-window row may not close; A+B only


def test_ledger_foreachbatch(spark, tmp_path):
    hits_dir = str(tmp_path / "hits")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    _write_hits(spark, hits_dir,
                [_hit(1, 0, i, T0 + dt.timedelta(seconds=i)) for i in range(7)]
                + [_hit(1, 1, i, T0 + dt.timedelta(seconds=i)) for i in range(3)])
    drain(start_ledger_sink(spark, hits_dir, ledger, ckpt))
    rows = {(r["run"], r["rb"]): r["n_hits"]
            for r in spark.read.parquet(ledger).collect()}
    assert rows == {(1, 0): 7, (1, 1): 3}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Double triggers (same identity) collapse to one row
    (Documentation-Self-Triggering.html:239-243)."""
    hits_dir = str(tmp_path / "hits")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = [_hit(1, 0, 1, T0), _hit(1, 0, 1, T0 + dt.timedelta(milliseconds=10)),
            _hit(1, 0, 2, T0 + dt.timedelta(seconds=1))]
    _write_hits(spark, hits_dir, base)
    drain(start_dedup_stream(spark, hits_dir, out, ckpt,
                             watermark="1 minutes"))
    got = spark.read.parquet(out)
    assert got.count() == 2  # duplicate of event 1 dropped
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2]


@pytest.mark.parametrize("use_stream", [False, True])
def test_event_counter_reset(spark, tmp_path, use_stream):
    """EVENT_CNT with interleaved resets: streaming state and batch twin
    agree (Documentation-Self-Triggering.html:163-166)."""
    signals = [
        (0, 1, False, T0), (0, 2, False, T0), (0, 3, True, T0),
        (0, 4, False, T0), (0, 5, False, T0),
        (1, 1, False, T0), (1, 2, True, T0), (1, 3, False, T0),
    ]
    expect = {(0, 1): 1, (0, 2): 2, (0, 3): 0, (0, 4): 1, (0, 5): 2,
              (1, 1): 1, (1, 2): 0, (1, 3): 1}
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(signals, 1), schema=SIGNAL_SCHEMA)
    if use_stream:
        sig_dir = str(tmp_path / "signals")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        sdf.coalesce(1).write.parquet(sig_dir)
        drain(start_event_counter(spark, sig_dir, out, ckpt))
        got = {(r["etroc"], r["seq"]): r["event_cnt"]
               for r in spark.read.parquet(out).collect()}
    else:
        got = {(r["etroc"], r["seq"]): r["event_cnt"]
               for r in event_counter_batch(sdf).collect()}
    assert got == expect


def test_synthetic_hit_stream_shape(spark, tmp_path):
    """Rate-source hit generator: rows conform to HIT_SCHEMA and fields are
    in range; stop after the first non-empty micro-batch."""
    import time
    from project_etl_spark import schemas
    from project_etl_spark.streaming.ingest import synthetic_hit_stream

    hits = synthetic_hit_stream(spark, rows_per_second=500)
    schemas.assert_schema(hits.schema, schemas.HITS)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (hits.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="300 milliseconds").start())
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    got = spark.read.parquet(out)
    bad = got.where("row < 0 OR row > 15 OR col < 0 OR col > 15 "
                    "OR toa < 180 OR toa > 239 OR tot < 40 OR tot > 69")
    assert bad.count() == 0


def test_stream_stream_join_known_counts(spark):
    """Watermarked stream-stream interval join: every synthetic hit lands in
    exactly one calibration epoch — 4 (rb, calib_id) cells of 10 hits."""
    from project_etl_spark.registry import load_all

    df = load_all()["stream_stream_join"].builder(spark, "unused")
    rows = sorted((r["rb"], r["calib_id"], r["n_hits"], r["scale"])
                  for r in df.collect())
    assert rows == [(0, 0, 10, 100), (0, 1, 10, 101),
                    (1, 0, 10, 100), (1, 1, 10, 101)]


def test_stream_stream_join_outer_flushes_gap_orphans(spark):
    """Left-outer stream-stream join: every in-epoch hit matches; hits in
    the inter-epoch gap emit null-extended once BOTH watermarks (the
    calib side gates orphan eviction) pass them — the dual far-future
    sentinels make the flush total and the end state deterministic; the
    sentinels' own state stays open at stop (bounded-state contract). The
    builder itself asserts the raw counts — here we pin the grouped
    contract exactly."""
    from project_etl_spark.registry import load_all

    rows = {r["calib_id"]: (r["n_hits"], r["first_event"]) for r in
            load_all()["stream_stream_join_outer"].builder(spark, "unused")
            .collect()}
    assert rows[0] == (10, 0) and rows[2] == (10, 20)
    assert rows[None] == (20, 10)


class _HungQuery:
    """A started query that never finishes: ``awaitTermination`` times out."""
    name, id = "hung", "0000"

    def __init__(self):
        self.waited, self.stopped = None, False

    def awaitTermination(self, timeout):
        self.waited = timeout
        return False

    def stop(self):
        self.stopped = True


def test_drain_stops_and_raises_on_timeout():
    """A drain that times out must stop the query and raise, never fall
    through to a read of a half-written sink."""
    q = _HungQuery()
    with pytest.raises(TimeoutError, match="hung"):
        drain(q)
    assert q.stopped and q.waited == DRAIN_TIMEOUT_S


def test_every_bounded_stream_goes_through_the_shared_drain():
    """The drain and the parquet file-sink layout are defined once, in
    ``project_etl_spark.streaming``: no other module waits on a query or
    builds its own parquet stream sink."""
    import glob
    import os
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "project_etl_spark")
    policy = os.path.join(pkg, "streaming", "__init__.py")
    wait = re.compile(r"\.awaitTermination\(")
    sink = re.compile(r"writeStream\s*\.format\(\s*[\"']parquet")
    bad = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == policy:
            continue
        with open(path) as fh:
            src = fh.read()
        bad += [f"{os.path.relpath(path, pkg)}: {pat.pattern}"
                for pat in (wait, sink) if pat.search(src)]
    assert not bad, bad
