"""§2.1 / §2.9 live streaming + binary-source operators (rows-only checks).

Each builder synthesizes deterministic input (derived from fixture tables or
fixed golden frames) in a scratch dir, runs the REAL pipeline — binary
decode, Structured Streaming with checkpoints, partitioned sinks — and
returns the resulting DataFrame. The driver's rows-only check verifies the
pipeline executes and yields rows; exact semantics are covered by the
known-count suites (tests/test_streaming.py, tests/test_decode.py) and the
batch twins in ``streaming_twins``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_etl_spark.decode import build_hits, decode_run_files, write_run_file
from project_etl_spark.io import scratch_dir as _scratch
from project_etl_spark.io import table
from project_etl_spark.registry import register
from project_etl_spark.session import ensure_deterministic
from project_etl_spark.streaming import drain, parquet_sink
from project_etl_spark.streaming.ingest import HIT_SCHEMA

_T0 = dt.datetime(2025, 1, 1, 12, 0, 0)


class _conf_override:
    """Scoped conf override: snapshot, set, restore in ``finally`` — the
    one copy of the pattern every conf-scoped demo query uses."""

    def __init__(self, spark: SparkSession, key: str, value: str,
                 default: str | None = None):
        self.spark, self.key, self.value = spark, key, value
        self.default = default

    def __enter__(self):
        self.prev = self.spark.conf.get(self.key, self.default)
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            # key had no prior value: truly unset it rather than set(None)
            # (which raises and would mask the in-flight exception) or
            # restoring a guessed default.
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)


class _few_shuffle_partitions(_conf_override):
    """Stateful streaming fixes its shuffle-partition count into the
    checkpoint at first start; for these demo-sized scratch pipelines 200
    state partitions is pure task overhead — pin a small count for the
    duration of the query, then restore the caller's setting."""

    def __init__(self, spark: SparkSession, n: int = 2):
        super().__init__(spark, "spark.sql.shuffle.partitions", str(n))


class _eager_emission(_conf_override):
    """Skip the trailing NO-DATA micro-batch for queries whose every
    result row is emitted eagerly in the data batches (inner
    stream-stream joins, dropDuplicates survivors): there the extra
    batch only advances the watermark to evict state — it can never add
    or remove sink rows — yet costs a full state-store commit + WAL
    round-trip (~0.6 s measured, round 13). NOT applicable to append
    aggregations / OUTER joins / session windows, where the no-data
    batch is what flushes watermark-closed results."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark,
                         "spark.sql.streaming.noDataMicroBatches.enabled",
                         "false")


#: Spark demo-schema types -> arrow types for driver-side fixture writes.
#: timestamps are written tz-aware (isAdjustedToUTC) so Spark's TIMESTAMP
#: read in the pinned UTC session sees the exact micros createDataFrame
#: used to produce (naive datetimes == UTC wall clock in both paths).
_PA_TYPES = {"int": "int32", "long": "int64", "string": "string",
             "boolean": "bool_", "double": "float64"}


def _write_fixture(spark: SparkSession, rows, schema: str, path: str) -> None:
    """Write a tiny scratch fixture as ONE parquet file, ON THE DRIVER.

    These are driver-synthesized demo tapes of a few dozen rows; pushing
    them through parallelize + a Spark write job cost ~0.25-0.5 s of pure
    job overhead per fixture (round-12 note: even the one-slice form —
    kept because the default createDataFrame sliced the list over every
    core at ~5 s per write). Round 13: synthesize the same parquet with
    pyarrow in-process (~10 ms); the queries still READ it through the
    normal Spark source, and every consumer stays hash-pinned, so any
    type-fidelity drift fails the oracle loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    for part in schema.split(","):
        name, typ = part.strip().split()
        atype = (pa.timestamp("us", tz="UTC") if typ == "timestamp"
                 else getattr(pa, _PA_TYPES[typ])())
        fields.append(pa.field(name, atype, nullable=True))
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(fields)],
        schema=pa.schema(fields))
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.snappy.parquet"),
                   compression="snappy")


def _golden_frames() -> list[dict]:
    """The canonical golden frame list (1 header + 64 data + 8 filler +
    1 trailer) shared by every golden-file writer."""
    return ([{"kind": "header", "elink": 0, "event_id": 1}]
            + [{"kind": "data", "elink": 0, "row": i % 16, "col": (3 * i) % 16,
                "toa": (37 * i) % 1024, "tot": (11 * i) % 512}
               for i in range(64)]
            + [{"kind": "filler", "elink": 0}] * 8
            + [{"kind": "trailer", "elink": 0}])


def _golden_run_files(directory: str, n_runs: int = 2) -> None:
    frames = _golden_frames()
    for run in range(1, n_runs + 1):
        for rb in (0, 1):
            write_run_file(directory, run=run, rb=rb, frames=frames)


@register(
    "scan_binary_frames",
    oracle="""
        SELECT run, rb, elink, event_id, row, col, toa, tot
        FROM read_parquet('/root/repo/tests/fixtures/golden_frames.parquet')
    """,
    tags=("scan", "binary"),
)
def scan_binary_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed binary run files -> one row per decoded 40-bit frame
    (DAQ_self-triggering.md:233-234, Documentation-Self-Triggering.html:51):
    binaryFile scan + vectorized numpy decode + event building. Hash-checked
    end to end against a golden parquet of the expected decoded hits,
    computed independently in pure Python from the golden frame definitions
    (tests/fixtures/golden_frames.parquet)."""
    ensure_deterministic(spark)
    d = _scratch("scan_binary")
    _golden_run_files(d)
    return build_hits(decode_run_files(spark, d))


_SINK_PART_ORACLE = """
    SELECT * FROM (VALUES (CAST(1 AS INT), CAST(0 AS INT), CAST(64 AS BIGINT)),
                          (CAST(1 AS INT), CAST(1 AS INT), CAST(64 AS BIGINT)))
        t(run, rb, n_hits)
"""


@register("sink_parquet_partitioned", oracle=_SINK_PART_ORACLE,
          tags=("sink",))
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-partitioned columnar sink (per-(run, rb) output layout,
    DAQ_self-triggering.md:288-301): write partitionBy(run), read back with a
    partition-pruned scan (only run=1 directories are touched). The oracle
    is the golden-frame census (64 data frames per (run, rb) by
    construction), so the hash match pins decode -> partition -> prune
    end to end."""
    ensure_deterministic(spark)
    d = _scratch("sink_partitioned")
    src = _scratch("sink_partitioned_src")
    _golden_run_files(src)
    hits = build_hits(decode_run_files(spark, src))
    hits.write.mode("overwrite").partitionBy("run", "rb").parquet(d)
    return (spark.read.parquet(d).where(F.col("run") == 1)
            .groupBy("run", "rb").agg(F.count(F.lit(1)).alias("n_hits")))


_SOURCE_STREAM_ORACLE = """
    SELECT CAST(r.run AS INT) AS run, CAST(b.rb AS INT) AS rb,
           k.kind, CAST(k.n AS BIGINT) AS n_frames
    FROM (SELECT unnest([1, 2]) AS run) r,
         (SELECT unnest([0, 1]) AS rb) b,
         (VALUES ('data', 64), ('header', 1), ('trailer', 1)) k(kind, n)
"""


@register("source_stream_files", oracle=_SOURCE_STREAM_ORACLE,
          tags=("streaming", "source"))
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-watching file source (the watchdog's landing dir,
    DAQ_self-triggering.md:306-311) with micro-batch admission control
    (maxFilesPerTrigger=1 — the 128-word block-read analog, :199-204)."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.watchdog import streaming_frames
    landing = _scratch("stream_source")
    out = os.path.join(landing, "_out")
    ckpt = os.path.join(landing, "_ckpt")
    _golden_run_files(landing)
    with _few_shuffle_partitions(spark):
        frames = streaming_frames(spark, landing, max_files_per_trigger=1)
        drain(parquet_sink(frames, out, ckpt).start())
    return spark.read.parquet(out).groupBy("run", "rb", "kind").agg(
        F.count(F.lit(1)).alias("n_frames"))


_FOREACHBATCH_ORACLE = """
    SELECT * FROM (VALUES (CAST(1 AS INT), CAST(0 AS INT),
                           CAST(16 AS BIGINT), CAST(0 AS INT)),
                          (CAST(1 AS INT), CAST(1 AS INT),
                           CAST(16 AS BIGINT), CAST(0 AS INT)))
        t(run, rb, n_hits, batch_id)
"""


@register("sink_stream_foreachBatch", oracle=_FOREACHBATCH_ORACLE,
          tags=("streaming", "sink"))
def sink_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink with ledger side effects (daq_log.txt append +
    move-to-archive, DAQ_self-triggering.md:237, :313-314). One landed
    fixture file + availableNow = exactly one micro-batch, so the ledger
    end state (per-rb hit counts under batch_id 0) is deterministic and
    the oracle pins it — a double-fire or replay without idempotence
    would surface as extra batch_id rows and fail the hash."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.ingest import start_ledger_sink
    base = _scratch("stream_ledger")
    hits_dir = os.path.join(base, "hits")
    ledger = os.path.join(base, "ledger")
    ckpt = os.path.join(base, "ckpt")
    rows = [(1, rb, 0, i, i % 16, i % 16, 100, 50,
             _T0 + dt.timedelta(seconds=i)) for rb in (0, 1) for i in range(16)]
    _write_fixture(spark, rows, HIT_SCHEMA, hits_dir)
    with _few_shuffle_partitions(spark):
        drain(start_ledger_sink(spark, hits_dir, ledger, ckpt))
    return spark.read.parquet(ledger)


_WATERMARK_ORACLE = """
    SELECT TIMESTAMP '2025-01-01 12:00:00' AS window_start,
           TIMESTAMP '2025-01-01 12:00:30' AS window_end,
           CAST(0 AS INT) AS rb,
           CAST(20 AS BIGINT) AS n_hits,
           CAST(20 AS BIGINT) AS n_events,
           (CAST(20 AS DOUBLE) / 30) AS l1a_rate,
           (CAST(20 AS DOUBLE) * 40 / 30 / 1e6) AS speed_mbps
"""


@register("stream_watermark_late", oracle=_WATERMARK_ORACLE,
          tags=("streaming", "watermark"))
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 30 s windowed aggregation in append mode: late rows beyond
    the watermark are dropped, state stays bounded
    (DAQ_self-triggering.md:162-175, :306-311). The emitted end state is
    deterministic — exactly one closed window (the 20 on-time rows; the
    30-min-late straggler advances the watermark and is itself never
    emitted) — so the oracle pins it literally, window bounds, the HLL
    event count and the IEEE rate arithmetic included. A watermark
    regression (late row leaking in, window flushed early/late) changes
    the row and fails the hash."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.ingest import start_ingest
    base = _scratch("stream_watermark")
    hits_dir = os.path.join(base, "hits")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    rows = ([(1, 0, 0, i, 1, 1, 100, 50, _T0 + dt.timedelta(seconds=i))
             for i in range(20)]
            + [(1, 0, 0, 999, 1, 1, 100, 50, _T0 + dt.timedelta(minutes=30))])
    _write_fixture(spark, rows, HIT_SCHEMA, hits_dir)
    with _few_shuffle_partitions(spark):
        drain(start_ingest(spark, hits_dir, out, ckpt,
                           watermark="2 minutes"))
    return spark.read.parquet(out)


@register(
    "stream_dedup",
    # The fixture plants 10 double-trigger pairs differing ONLY in ts;
    # dropDuplicatesWithinWatermark keeps an arbitrary survivor of each
    # pair, so the returned contract projects the deterministic identity
    # columns (every survivor agrees on them) and the oracle regenerates
    # that exact 10-row set.
    oracle="""
        SELECT 1 AS run, 0 AS rb, 0 AS etroc, t.i AS event_id,
               1 AS "row", 1 AS "col", 100 AS toa, 50 AS tot
        FROM generate_series(0, 9) t(i)
    """,
    tags=("streaming", "dedup"))
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming double-trigger removal within the watermark horizon
    (Documentation-Self-Triggering.html:239-243). The survivor of each
    double-trigger pair is engine-chosen (the two rows differ only in
    their 5 ms-apart timestamps), so the query returns the hit IDENTITY
    columns — deterministic regardless of which twin survived — and is
    hash-checked on those."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.watchdog import start_dedup_stream
    base = _scratch("stream_dedup")
    hits_dir = os.path.join(base, "hits")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    rows = []
    for i in range(10):
        ts = _T0 + dt.timedelta(seconds=i)
        rows.append((1, 0, 0, i, 1, 1, 100, 50, ts))
        rows.append((1, 0, 0, i, 1, 1, 100, 50,
                     ts + dt.timedelta(milliseconds=5)))  # double trigger
    _write_fixture(spark, rows, HIT_SCHEMA, hits_dir)
    # dropDuplicates emits each survivor eagerly in its data batch; the
    # no-data batch only evicts expired state (_eager_emission).
    with _few_shuffle_partitions(spark), _eager_emission(spark):
        drain(start_dedup_stream(spark, hits_dir, out, ckpt,
                                 watermark="1 minutes"))
    return spark.read.parquet(out).select(
        "run", "rb", "etroc", "event_id", "row", "col", "toa", "tot")


@register(
    "stream_stateful_counter",
    # The oracle replays the builder's synthetic signal tape (2 etrocs x
    # seq 1..20, reset every 5th) through the BATCH-TWIN segment algebra
    # in SQL — the hash check therefore pins streaming state carry-over
    # against an independent engine, not just our own batch twin.
    oracle="""
        WITH sig AS (
            SELECT e.etroc, t.s AS seq, (t.s % 5 = 0) AS is_reset
            FROM (SELECT unnest([0, 1]) AS etroc) e,
                 generate_series(1, 20) t(s)
        ),
        seg AS (
            SELECT etroc, seq, is_reset,
                   SUM(CASE WHEN is_reset THEN 1 ELSE 0 END)
                       OVER (PARTITION BY etroc ORDER BY seq) AS sg
            FROM sig
        )
        SELECT etroc, seq,
               CAST(CASE WHEN is_reset THEN 0 ELSE
                    ROW_NUMBER() OVER (PARTITION BY etroc, sg ORDER BY seq)
                    - MAX(CASE WHEN is_reset THEN 1 ELSE 0 END)
                      OVER (PARTITION BY etroc, sg ORDER BY seq
                            ROWS UNBOUNDED PRECEDING)
               END AS BIGINT) AS event_cnt
        FROM seg
    """,
    tags=("streaming", "stateful"))
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT_CNT with explicit reset as streaming per-key state
    (Documentation-Self-Triggering.html:163-166). Deterministic end state:
    one landed file = one availableNow micro-batch, rows applied in seq
    order per key — so the emitted (etroc, seq, event_cnt) tape is exact
    and hash-checked against a DuckDB replay of the same signal algebra."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.stateful import start_event_counter
    base = _scratch("stream_counter")
    sig_dir = os.path.join(base, "sig")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    signals = [(e, s, s % 5 == 0, _T0) for e in (0, 1) for s in range(1, 21)]
    _write_fixture(spark, signals,
                   "etroc int, seq long, is_reset boolean, ts timestamp",
                   sig_dir)
    with _few_shuffle_partitions(spark):
        drain(start_event_counter(spark, sig_dir, out, ckpt))
    return spark.read.parquet(out)


_MICRO_BATCH_ORACLE = """
    SELECT CAST(r.run AS INT) AS run, CAST(b.rb AS INT) AS rb,
           CAST(66 AS BIGINT) AS n_frames
    FROM (SELECT unnest([1, 2]) AS run) r,
         (SELECT unnest([0, 1]) AS rb) b
"""


@register("stream_trigger_micro_batch", oracle=_MICRO_BATCH_ORACLE,
          tags=("streaming", "trigger"))
def stream_trigger_micro_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size admission control under micro-batch drain: the source
    admits ONE file per trigger (``maxFilesPerTrigger=1`` — the reference's
    128-word block read, DAQ_self-triggering.md:197-204), so the 4 landed
    run files MUST drain over >= 4 separate micro-batches, verified from
    the progress log after termination. ``Trigger.AvailableNow`` keeps that
    per-batch admission contract while draining the backlog at full speed
    and terminating itself — no dead trigger-interval waits, no driver-side
    ready-poll loop (the continuous 0.5 s cadence of the reference's
    ready-poll is exercised by the other live-streaming queries, which keep
    ``processingTime`` triggers)."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.watchdog import streaming_frames
    base = _scratch("stream_trigger")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing)
    _golden_run_files(landing)  # 2 runs x 2 rbs = 4 files
    with _few_shuffle_partitions(spark):
        frames = streaming_frames(spark, landing, max_files_per_trigger=1)
        q = drain(parquet_sink(frames, out, ckpt).start())
        # one file admitted per trigger => each landed file is its own
        # non-empty micro-batch; counting those (not total rows) verifies
        # the >= 4-batch drain the docstring claims.
        drained = sum(1 for pp in q.recentProgress
                      if pp["numInputRows"] > 0)
        if drained < 4:
            raise AssertionError(
                f"stream_trigger_micro_batch: expected >= 4 non-empty "
                f"micro-batches (one per landed file), saw {drained} — "
                "maxFilesPerTrigger admission control regressed?")
    return (spark.read.parquet(out)
            .groupBy("run", "rb").agg(F.count(F.lit(1)).alias("n_frames")))


@register(
    "stream_stream_join",
    # DuckDB twin: regenerate the two synthetic tapes (40 hits, 4 calib
    # epochs) and run the identical interval join as plain SQL. Inner
    # stream-stream matches emit eagerly (watermarks bound state, not
    # inner-join emission), so the streamed result equals the batch join.
    oracle="""
        WITH hits AS (
            SELECT 1 AS run, r.rb, t.i AS event_id,
                   CAST(50 + t.i AS INTEGER) AS tot,
                   TIMESTAMP '2025-01-01 12:00:00'
                       + t.i * INTERVAL 1 SECOND AS ts
            FROM (SELECT unnest([0, 1]) AS rb) r,
                 generate_series(0, 19) t(i)
        ),
        calibs AS (
            SELECT 1 AS run, r.rb, e.e AS calib_id,
                   CAST(100 + e.e AS INTEGER) AS scale,
                   TIMESTAMP '2025-01-01 12:00:00'
                       + 10 * e.e * INTERVAL 1 SECOND AS cts
            FROM (SELECT unnest([0, 1]) AS rb) r,
                 (SELECT unnest([0, 1]) AS e) e
        )
        SELECT h.rb, c.calib_id, COUNT(*) AS n_hits, MAX(c.scale) AS scale
        FROM hits h
        JOIN calibs c
          ON h.run = c.run AND h.rb = c.rb
         AND h.ts >= c.cts AND h.ts < c.cts + INTERVAL 10 SECOND
        GROUP BY h.rb, c.calib_id
    """,
    tags=("streaming", "join"))
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INNER join — live hits enriched with the
    calibration epoch that was active when each hit arrived (the streaming
    form of the as-of enrichment, DAQ_self-triggering.md:216-231): equi
    keys (run, rb) plus an event-time interval condition
    ``hit.ts in [calib start, start + 10s)``. BOTH sides carry watermarks,
    so the join buffers only rows younger than the horizon — state is
    bounded and old calibration epochs are evicted, which is what makes
    this shape viable on an unbounded 100 TB/day feed. Each of the 40
    synthetic hits (2 rbs x 20) falls in exactly one of the two 10 s
    calibration epochs per rb; the grouped result pins 4 (rb, calib_id)
    cells of 10 hits each."""
    ensure_deterministic(spark)
    base = _scratch("stream_sjoin")
    hits_dir = os.path.join(base, "hits")
    calib_dir = os.path.join(base, "calib")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    hit_schema = "run int, rb int, event_id long, tot int, ts timestamp"
    calib_schema = "run int, rb int, calib_id int, scale int, cts timestamp"
    hits = [(1, rb, i, 50 + i, _T0 + dt.timedelta(seconds=i))
            for rb in (0, 1) for i in range(20)]
    calibs = [(1, rb, e, 100 + e, _T0 + dt.timedelta(seconds=10 * e))
              for rb in (0, 1) for e in (0, 1)]
    _write_fixture(spark, hits, hit_schema, hits_dir)
    _write_fixture(spark, calibs, calib_schema, calib_dir)
    # INNER stream-stream matches emit eagerly in their data batch; the
    # trailing no-data batch only evicts buffered state (_eager_emission).
    with _few_shuffle_partitions(spark), _eager_emission(spark):
        h = (spark.readStream.schema(hit_schema).parquet(hits_dir)
             .withWatermark("ts", "1 minute"))
        c = (spark.readStream.schema(calib_schema).parquet(calib_dir)
             .withWatermark("cts", "1 minute"))
        joined = h.join(
            c,
            (h["run"] == c["run"]) & (h["rb"] == c["rb"])
            & (h["ts"] >= c["cts"])
            & (h["ts"] < c["cts"] + F.expr("INTERVAL 10 SECONDS")),
            "inner").select(h["run"], h["rb"], "event_id", "tot",
                            "calib_id", "scale", "ts")
        drain(parquet_sink(joined, out, ckpt).start())
    return (spark.read.parquet(out)
            .groupBy("rb", "calib_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.max("scale").alias("scale")))


_SJOIN_OUTER_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(NULL AS INT), CAST(20 AS BIGINT), CAST(10 AS BIGINT)),
        (CAST(0 AS INT), CAST(10 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(2 AS INT), CAST(10 AS BIGINT), CAST(20 AS BIGINT))
    ) t(calib_id, n_hits, first_event)
"""


@register("stream_stream_join_outer", oracle=_SJOIN_OUTER_ORACLE,
          tags=("streaming", "join", "outer"))
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join — the variant that keeps
    hits with NO active calibration epoch (a real DAQ failure mode: frames
    arriving while calibration is down). Outer rows cannot emit eagerly:
    the engine must hold each unmatched hit until the watermark proves no
    matching epoch can still arrive, then emits it null-extended — so the
    fixture places its orphans in a GAP between two epochs ([0,10) and
    [20,30) s). Orphan eviction is gated by the CALIB side's watermark
    (a hit at ts is unmatched only once no calib with cts in (ts-10s, ts]
    can arrive), so each stream carries a far-future sentinel on a decoy
    rb (matching nothing) whose only job is to push both watermarks past
    every real row — the ``stream_session_live`` pattern. The sentinels'
    own state is still open at stop and correctly withheld; the result is
    filtered to the real rb. End state is deterministic — all 20 in-epoch
    hits matched, all 20 gap hits flushed null-extended — and the oracle
    pins it literally; an eviction or emission regression changes the
    rows and fails the hash."""
    ensure_deterministic(spark)
    base = _scratch("stream_sjoin_outer")
    hits_dir = os.path.join(base, "hits")
    calib_dir = os.path.join(base, "calib")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    hit_schema = "run int, rb int, event_id long, ts timestamp"
    calib_schema = "run int, rb int, calib_id int, cts timestamp"
    hits = ([(1, 0, i, _T0 + dt.timedelta(seconds=i)) for i in range(40)]
            + [(1, 9, 999, _T0 + dt.timedelta(hours=2))])  # watermark advancer
    calibs = ([(1, 0, e, _T0 + dt.timedelta(seconds=10 * e)) for e in (0, 2)]
              + [(1, 8, 99, _T0 + dt.timedelta(hours=2))])  # watermark advancer
    _write_fixture(spark, hits, hit_schema, hits_dir)
    _write_fixture(spark, calibs, calib_schema, calib_dir)
    with _few_shuffle_partitions(spark):
        h = (spark.readStream.schema(hit_schema).parquet(hits_dir)
             .withWatermark("ts", "1 second"))
        c = (spark.readStream.schema(calib_schema).parquet(calib_dir)
             .withWatermark("cts", "1 second"))
        joined = h.join(
            c,
            (h["run"] == c["run"]) & (h["rb"] == c["rb"])
            & (h["ts"] >= c["cts"])
            & (h["ts"] < c["cts"] + F.expr("INTERVAL 10 SECONDS")),
            "left_outer").select(h["run"], h["rb"], "event_id", "calib_id")
        drain(parquet_sink(joined, out, ckpt).start())
    back = spark.read.parquet(out).where(F.col("rb") == 0)
    matched = back.where(F.col("calib_id").isNotNull()).count()
    orphans = back.where(F.col("calib_id").isNull()).count()
    if matched != 20 or orphans != 20:
        raise AssertionError(
            f"outer join drift: matched={matched} (want 20), "
            f"flushed orphans={orphans} (want 20)")
    return (back.groupBy("calib_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.min("event_id").alias("first_event")))


_DYN_OVERWRITE_ORACLE = """
    SELECT * FROM (VALUES (CAST(1 AS INT), CAST(128 AS BIGINT),
                           CAST(26944 AS BIGINT)),
                          (CAST(2 AS INT), CAST(128 AS BIGINT),
                           CAST(27072 AS BIGINT)))
        t(run, n_hits, sum_tot)
"""


@register("sink_partition_overwrite_dynamic", oracle=_DYN_OVERWRITE_ORACLE,
          tags=("sink", "backfill"))
def sink_partition_overwrite_dynamic(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Incremental backfill: re-decode ONE bad run and rewrite only its
    partitions (``partitionOverwriteMode=dynamic``), leaving every other
    partition byte-untouched — the reprocessing primitive that replaces
    "rewrite the whole table" at 100 TB. Verified here: run=1 files keep
    their mtimes; run=2 content is replaced (tot values re-derived). The
    oracle pins the golden-derived end state — run=1 untouched (sum_tot
    26944), run=2 rewritten with the +1 calibration (27072 = 26944 + 128
    by construction)."""
    import glob

    ensure_deterministic(spark)
    base = _scratch("dyn_overwrite")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "table")
    os.makedirs(landing)
    _golden_run_files(landing)  # runs 1 and 2
    hits = build_hits(decode_run_files(spark, landing))
    hits.write.mode("overwrite").partitionBy("run", "rb").parquet(out)
    untouched = {p: os.path.getmtime(p)
                 for p in glob.glob(os.path.join(out, "run=1", "rb=*", "*.parquet"))}
    if not untouched:
        # an empty baseline would make the drift check vacuously pass
        raise AssertionError("no run=1 part files found to guard")
    # "re-decode" of the bad run: same rows, corrected tot calibration
    fixed = (hits.where(F.col("run") == 2)
             .withColumn("tot", F.col("tot") + F.lit(1)))
    with _conf_override(spark, "spark.sql.sources.partitionOverwriteMode",
                        "dynamic", default="static"):
        fixed.write.mode("overwrite").partitionBy("run", "rb").parquet(out)
    drifted = [p for p, m in untouched.items()
               if not os.path.exists(p) or os.path.getmtime(p) != m]
    if drifted:
        raise AssertionError(
            f"dynamic overwrite touched unrelated partitions: {drifted[:3]}")
    back = spark.read.parquet(out)
    return (back.groupBy("run")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.sum("tot").alias("sum_tot")))


_COMPACT_ORACLE = """
    SELECT CAST(r.run AS INT) AS run, CAST(b.rb AS INT) AS rb,
           CAST(64 AS BIGINT) AS n_hits,
           CAST(4 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after
    FROM (SELECT unnest([1, 2]) AS run) r, (SELECT unnest([0, 1]) AS rb) b
"""


@register("sink_compact_small_files", oracle=_COMPACT_ORACLE,
          tags=("sink", "compaction"))
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the run-merge analog
    (DAQ_self-triggering.md:288-301): acquisition lands many little files
    per (run, rb); downstream scans want few large ones. One hash
    repartition on the partition keys collapses each (run, rb) to a single
    writer task, and the rewritten multiset is verified equal to the
    original (order-independent checksum). The whole layout story is
    hash-checked from the files themselves (``_metadata.file_name`` census,
    the ``sink_sized_files`` pattern): fragmentation is deterministic —
    one writer task per (run, rb) capped at 16 records/file, so the 64
    golden hits per partition land as exactly ceil(64/16) = 4 files — and
    compaction collapses each dir to exactly 1. At 100 TB this is the
    nightly housekeeping pass; cap output file size with
    ``maxRecordsPerFile`` instead of more shuffle partitions."""
    ensure_deterministic(spark)
    base = _scratch("compact")
    landing = os.path.join(base, "landing")
    frag, compacted = os.path.join(base, "frag"), os.path.join(base, "out")
    os.makedirs(landing)
    _golden_run_files(landing)
    hits = build_hits(decode_run_files(spark, landing))
    # fragment deterministically: one writer task per (run, rb), 16-record
    # file cap => ceil(64/16) = 4 small files per partition dir
    (hits.repartition("run", "rb")
     .write.mode("overwrite").option("maxRecordsPerFile", 16)
     .partitionBy("run", "rb").parquet(frag))
    fragmented = spark.read.parquet(frag)
    before = (fragmented
              .select("run", "rb", F.col("_metadata.file_name").alias("f"))
              .groupBy("run", "rb")
              .agg(F.count_distinct("f").alias("files_before")))
    (fragmented.repartition("run", "rb")
     .write.mode("overwrite").option("maxRecordsPerFile", 5_000_000)
     .partitionBy("run", "rb").parquet(compacted))
    back = spark.read.parquet(compacted)
    # multiset equality via one-pass order-independent checksum: sum of
    # xxhash64 over the sorted column list plus the row count, per side.
    # Each side is a single map-side-combinable aggregate over one scan —
    # the shape that still works at 100 TB, where the double exceptAll
    # (two full shuffles of the table) does not. A sum collision would
    # need adversarial data; for a self-check of our own rewrite the
    # 64-bit hash-sum is plenty.
    cols = sorted(fragmented.columns)

    def _checksum(df):
        return df.select(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n")).head()

    if _checksum(fragmented) != _checksum(back):
        raise AssertionError("compaction changed row content")
    after = (back.select("run", "rb", F.col("_metadata.file_name").alias("f"))
             .groupBy("run", "rb")
             .agg(F.count(F.lit(1)).alias("n_hits"),
                  F.count_distinct("f").alias("files_after")))
    return (after.join(before, ["run", "rb"])
            .select("run", "rb", "n_hits", "files_before", "files_after"))


def _z_terms(xcol: str, ycol: str, div: str) -> str:
    """8-bit x 8-bit Morton (Z-order) interleave as pure integer algebra —
    ONE generator feeding both the Spark expression (``div``) and the
    DuckDB oracle (``//``), so the clustering key is engine-portable."""
    return " + ".join(
        f"((({xcol}) {div} {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((({ycol}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(8))


@register(
    "sink_cluster_zorder",
    oracle=f"""
        WITH z AS (
            SELECT l_orderkey, l_partkey, l_suppkey,
                   l_partkey % 256 AS x, l_suppkey % 256 AS y,
                   {_z_terms("l_partkey % 256", "l_suppkey % 256", "//")} AS zval
            FROM lineitem
        )
        SELECT CAST(zval // 1024 AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
               CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
        FROM z GROUP BY 1
    """,
    tags=("sink", "clustering"),
)
def sink_cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the data-layout maintenance pass that
    makes MULTI-dimensional filters skippable: interleaving the bits of two
    filter dimensions into one sort key keeps rows close in BOTH dimensions
    inside each file, so parquet min/max footer stats prune scans on either
    predicate (a single-column sort only helps its own column). The table
    is physically rewritten with ``repartitionByRange(zval)`` +
    ``sortWithinPartitions`` — a range shuffle, the same cost class as the
    nightly compaction pass — and the returned per-z-bucket min/max
    envelopes ARE the skipping index the footers would expose; the
    interleave itself is shared integer algebra, hash-checked against
    DuckDB. At 100 TB: cluster once per ingest batch, not per query."""
    ensure_deterministic(spark)
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"))
    z = li.withColumn("zval", F.expr(_z_terms("x", "y", "div")))
    out = _scratch("zorder")
    (z.repartitionByRange(8, "zval").sortWithinPartitions("zval")
     .write.mode("overwrite").parquet(out))
    back = spark.read.parquet(out)
    return (back.groupBy(F.expr("zval div 1024").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("x").cast("bigint").alias("min_x"),
                 F.max("x").cast("bigint").alias("max_x"),
                 F.min("y").cast("bigint").alias("min_y"),
                 F.max("y").cast("bigint").alias("max_y")))


_CALIB_REUSE_ORACLE = """
    SELECT * FROM (VALUES (CAST(0 AS INT), CAST(256 AS BIGINT),
                           CAST(256 AS BIGINT), CAST(491.5 AS DOUBLE),
                           CAST(30 AS INT)))
        t(etroc, n_pixels, n_hits, avg_threshold, offset_used)
"""


@register("calibration_reuse", oracle=_CALIB_REUSE_ORACLE,
          tags=("pipeline", "calibration"))
def calibration_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-reuse calibration caching (the reference's
    ``reuse_thresholds`` flag, DAQ_self-triggering.md:83-87, :415): run the
    per-pixel threshold scan once, persist the calibration table
    (etroc-partitioned parquet), then load it back WITHOUT recomputing.
    The second ``load_or_calibrate`` call gets empty hits and a different
    offset, so any recompute would visibly change the output — identical
    thresholds prove the cached table was used. Scale note: the calibration
    table is one row per (etroc, row, col) pixel — tiny next to hit data —
    so persisting it and broadcast-joining it downstream replaces a
    full threshold scan per session with a metadata read. The oracle pins
    the golden calibration census — 256 pixels, avg threshold 491.5 at
    offset 30; had the offset=99 second call recomputed instead of
    reusing, avg_threshold/offset_used would differ and the hash would
    fail."""
    from project_etl_spark.pipelines import load_or_calibrate
    from project_etl_spark.portable import pround

    ensure_deterministic(spark)
    base = _scratch("calib_reuse")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    _golden_run_files(landing)
    # elink -> etroc is 1:1 on this board (DAQ_self-triggering.md:85)
    hits = (build_hits(decode_run_files(spark, landing))
            .withColumn("etroc", F.col("elink")))
    cal_path = os.path.join(base, "thresholds")
    load_or_calibrate(spark, hits, cal_path, offset=30)
    # empty hits + different offset: output can only match if reused
    reused = load_or_calibrate(spark, hits.limit(0), cal_path, offset=99)
    return (reused.groupBy("etroc")
            .agg(F.count(F.lit(1)).alias("n_pixels"),
                 F.sum("n_hits").alias("n_hits"),
                 pround(F.avg("threshold"), 4).alias("avg_threshold"),
                 F.max("offset").alias("offset_used"))
            .orderBy("etroc"))


_EXACTLY_ONCE_ORACLE = """
    SELECT * FROM (VALUES (CAST(1 AS INT), CAST(132 AS BIGINT)),
                          (CAST(2 AS INT), CAST(132 AS BIGINT)))
        t(run, n_frames)
"""


@register("stream_file_sink_exactly_once", oracle=_EXACTLY_ONCE_ORACLE,
          tags=("streaming", "sink"))
def stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full watchdog: checkpointed binary decode into a run-partitioned
    parquet sink; a second run over the same checkpoint reprocesses nothing
    (exactly-once drain — the flush-remainder-at-stop analog,
    DAQ_self-triggering.md:224-237)."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.watchdog import start_watchdog
    base = _scratch("stream_watchdog")
    landing = os.path.join(base, "landing")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing)
    _golden_run_files(landing)
    with _few_shuffle_partitions(spark):
        drain(start_watchdog(spark, landing, out, ckpt))
        drain(start_watchdog(spark, landing, out, ckpt))  # no-op replay
    return spark.read.parquet(out).groupBy("run").agg(
        F.count(F.lit(1)).alias("n_frames"))


@register(
    "sink_merge_upsert",
    # The merged end state is a pure function of the orders table, so the
    # upsert SINK gets a DuckDB twin: delta rows win on key conflict,
    # untouched base rows survive, new keys append.
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice AS price
            FROM orders WHERE o_orderkey % 10 < 5
        ),
        delta AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1e0 AS price
            FROM orders WHERE o_orderkey % 10 >= 8
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice + 1e2 AS price
            FROM orders WHERE o_orderkey % 10 = 3
        ),
        merged AS (
            SELECT * FROM delta
            UNION ALL
            SELECT b.* FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM delta d
                              WHERE d.o_orderkey = b.o_orderkey)
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               (CAST(SUM(CAST(FLOOR(price * 1e2 + 5e-1) AS BIGINT)) AS BIGINT)
                / 1e2) AS total_price
        FROM merged GROUP BY o_orderstatus
    """,
    tags=("sink", "upsert", "maintenance"))
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert maintenance on a parquet table WITHOUT a lakehouse
    format: the classic anti-join + union rewrite — matched keys take the
    delta row, unmatched base rows carry over, brand-new keys append.
    This is the update-in-place primitive the reference's run-log
    maintenance implies (DAQ_self-triggering.md:254-263) expressed as an
    idempotent table rewrite.

    The base table is MATERIALIZED to scratch parquet first and the merge
    reads it back — a real sink roundtrip, not dataframe algebra over the
    source. Scale shape: the anti-join is an equi-join on the primary
    key (broadcast when the delta is small — the common case; AQE picks
    it here), and the rewrite cost is the table, or with partitioned
    layouts only the partitions holding matched keys (compose with
    ``sink_partition_overwrite_dynamic``). Hash-checked: the merged end
    state is a pure function of the inputs, so the upsert algebra gets a
    DuckDB twin — delta-wins conflict resolution included."""
    ensure_deterministic(spark)
    base_dir = os.path.join(_scratch("merge_upsert"), "orders_base")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").alias("price"))
    orders.where(F.col("o_orderkey") % 10 < 5).write.parquet(base_dir)
    base = spark.read.parquet(base_dir)
    delta = (orders.where(F.col("o_orderkey") % 10 >= 8)
             .withColumn("price", F.col("price") * F.lit(1.1))
             .unionByName(
                 orders.where(F.col("o_orderkey") % 10 == 3)
                 .withColumn("price", F.col("price") + F.lit(1e2))))
    merged = (base.join(delta.select("o_orderkey"), "o_orderkey", "left_anti")
              .unionByName(delta))
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 (F.sum(F.floor(F.col("price") * F.lit(1e2) + F.lit(0.5))
                        .cast("long")) / F.lit(1e2)).alias("total_price")))


_SESSION_LIVE_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(1 AS INT), TIMESTAMP '2025-01-01 12:00:00',
         TIMESTAMP '2025-01-01 12:07:00', CAST(3 AS BIGINT)),
        (CAST(1 AS INT), TIMESTAMP '2025-01-01 12:20:00',
         TIMESTAMP '2025-01-01 12:26:00', CAST(2 AS BIGINT)),
        (CAST(2 AS INT), TIMESTAMP '2025-01-01 12:05:00',
         TIMESTAMP '2025-01-01 12:10:00', CAST(1 AS BIGINT))
    ) t(user_id, session_start, session_end, n_events)
"""


@register("stream_session_live", oracle=_SESSION_LIVE_ORACLE,
          tags=("streaming", "session"))
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE ``session_window`` aggregation under a watermark (the batch
    twin is ``stream_session_window``): bursts separated by >5 min gaps
    become sessions whose rows merge in streaming state; a session is
    emitted (append mode) only once the watermark proves no more members
    can arrive — burst grouping as the stream sees it
    (Documentation-Self-Triggering.html:239-243 generalized). The fixture
    plants two user-1 bursts, one singleton for user 2, and a 2-hour-late
    sentinel whose only job is to advance the watermark past the real
    sessions' ends; the sentinel's own session is still open at stop and
    correctly withheld. End state is deterministic (session bounds =
    [first event, last event + gap)), so the oracle pins it literally —
    a session split/merge/eviction regression changes the rows and fails
    the hash."""
    ensure_deterministic(spark)
    base = _scratch("stream_session")
    hits_dir = os.path.join(base, "hits")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    rows = ([(1, _T0 + dt.timedelta(minutes=m)) for m in (0, 1, 2, 20, 21)]
            + [(2, _T0 + dt.timedelta(minutes=5))]
            + [(99, _T0 + dt.timedelta(hours=2))])   # watermark advancer
    _write_fixture(spark, rows, "user_id int, ts timestamp", hits_dir)
    with _few_shuffle_partitions(spark):
        stream = (spark.readStream.schema("user_id int, ts timestamp")
                  .parquet(hits_dir))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.session_window("ts", "5 minutes").alias("w"),
                        "user_id")
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select("user_id",
                       F.col("w.start").alias("session_start"),
                       F.col("w.end").alias("session_end"),
                       "n_events"))
        drain(parquet_sink(agg, out, ckpt).start())
    return spark.read.parquet(out)


_SLIDING_LIVE_ORACLE = """
    SELECT CAST(1 AS INT) AS user_id,
           TIMESTAMP '2025-01-01 12:00:00' - INTERVAL (45 - 15 * t.i) MINUTE
               AS window_start,
           TIMESTAMP '2025-01-01 13:00:00' - INTERVAL (45 - 15 * t.i) MINUTE
               AS window_end,
           CAST(3 AS BIGINT) AS n_events
    FROM generate_series(0, 3) t(i)
"""


@register("stream_sliding_live", oracle=_SLIDING_LIVE_ORACLE,
          tags=("streaming", "window"))
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE overlapping-window aggregation (60 min windows sliding by 15)
    under a watermark — the continuous rate monitor as the stream sees it
    (DAQ_self-triggering.md:195-209; batch twin ``stream_sliding_window``).
    Three events inside one quarter-hour land in exactly the four hourly
    windows that cover it; a 3-hour-late sentinel advances the watermark
    so those windows close and emit, while the sentinel's own windows
    stay open and are withheld. The emitted set is deterministic and the
    oracle derives the four covering windows arithmetically — a
    window-assignment or eviction regression fails the hash."""
    ensure_deterministic(spark)
    base = _scratch("stream_sliding")
    hits_dir = os.path.join(base, "hits")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    rows = ([(1, _T0 + dt.timedelta(minutes=m)) for m in (0, 5, 10)]
            + [(99, _T0 + dt.timedelta(hours=3))])   # watermark advancer
    _write_fixture(spark, rows, "user_id int, ts timestamp", hits_dir)
    with _few_shuffle_partitions(spark):
        stream = (spark.readStream.schema("user_id int, ts timestamp")
                  .parquet(hits_dir))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "60 minutes", "15 minutes").alias("w"),
                        "user_id")
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select("user_id",
                       F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       "n_events"))
        drain(parquet_sink(agg, out, ckpt).start())
    return (spark.read.parquet(out)
            .where(F.col("user_id") == 1))


_SIZED_FILES_ORACLE = """
SELECT event_type,
       CAST(CEIL(COUNT(*) / 1000.0) AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1
"""


@register("sink_sized_files", oracle=_SIZED_FILES_ORACLE,
          tags=("sink", "maintenance"))
def sink_sized_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write — the inverse of
    ``sink_compact_small_files``: ``maxRecordsPerFile`` caps every output
    file so one hot partition cannot produce a multi-GB file that breaks
    downstream scan parallelism (the per-run output-file discipline of the
    merge step, DAQ_self-triggering.md:288-301). One writer task per
    partition dir here, so the census is exact ceil algebra:
    ceil(rows/1000) files per event_type. Verified by reading BACK with
    the ``_metadata.file_name`` hidden column — the sink contract is
    checked from the files themselves, not the writer's claim. At scale
    the same invariant holds per (task x dir); the single-task repartition
    is only what makes the file count a closed formula for the oracle."""
    ensure_deterministic(spark)
    out = _scratch("sized_files")
    ev = table(spark, sf_dir, "events")
    (ev.repartition(1)
       .write.mode("overwrite").option("maxRecordsPerFile", 1000)
       .partitionBy("event_type").parquet(out))
    back = spark.read.parquet(out)
    return (back.select("event_type",
                        F.col("_metadata.file_name").alias("f"))
            .groupBy("event_type")
            .agg(F.count_distinct("f").alias("n_files"),
                 F.count(F.lit(1)).alias("n_rows")))


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")


@register(
    "stream_stateful_counter_rocksdb",
    # Same deterministic end state as stream_stateful_counter: the state
    # BACKEND must not change the semantics, and the shared oracle is what
    # proves it.
    oracle="""
        WITH sig AS (
            SELECT e.etroc, t.s AS seq, (t.s % 5 = 0) AS is_reset
            FROM (SELECT unnest([0, 1]) AS etroc) e,
                 generate_series(1, 20) t(s)
        ),
        seg AS (
            SELECT etroc, seq, is_reset,
                   SUM(CASE WHEN is_reset THEN 1 ELSE 0 END)
                       OVER (PARTITION BY etroc ORDER BY seq) AS sg
            FROM sig
        )
        SELECT etroc, seq,
               CAST(CASE WHEN is_reset THEN 0 ELSE
                    ROW_NUMBER() OVER (PARTITION BY etroc, sg ORDER BY seq)
                    - MAX(CASE WHEN is_reset THEN 1 ELSE 0 END)
                      OVER (PARTITION BY etroc, sg ORDER BY seq
                            ROWS UNBOUNDED PRECEDING)
               END AS BIGINT) AS event_cnt
        FROM seg
    """,
    tags=("streaming", "stateful", "rocksdb"))
def stream_stateful_counter_rocksdb(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The EVENT_CNT stateful stream on the ROCKSDB state store — the
    backend a 100 TB deployment actually runs: per-key state lives
    off-heap in RocksDB with incremental changelog checkpoints, so state
    size is bounded by disk (not executor heap) and rescaling replays the
    changelog instead of full snapshots. The provider is pinned per-query
    via a scoped conf (the checkpoint records it at first start); output
    must be BIT-IDENTICAL to the default-provider twin — same oracle —
    because a state backend is an operational choice, never a semantic
    one (Documentation-Self-Triggering.html:163-166)."""
    ensure_deterministic(spark)
    from project_etl_spark.streaming.stateful import start_event_counter
    base = _scratch("stream_counter_rocks")
    sig_dir = os.path.join(base, "sig")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    signals = [(e, s, s % 5 == 0, _T0) for e in (0, 1) for s in range(1, 21)]
    _write_fixture(spark, signals,
                   "etroc int, seq long, is_reset boolean, ts timestamp",
                   sig_dir)
    with _few_shuffle_partitions(spark), \
         _conf_override(spark, "spark.sql.streaming.stateStore.providerClass",
                        _ROCKSDB_PROVIDER):
        drain(start_event_counter(spark, sig_dir, out, ckpt))
    return spark.read.parquet(out).select("etroc", "seq", "event_cnt")


_COMPLETE_MODE_ORACLE = """
    SELECT e.etroc, CAST(20 AS BIGINT) AS n_signals,
           CAST(210 AS BIGINT) AS seq_sum
    FROM (SELECT unnest([0, 1]) AS etroc) e
"""


_STATE_STORE_ORACLE = """
    SELECT * FROM (VALUES
        (0, CAST(10 AS BIGINT), CAST(55 AS BIGINT)),
        (1, CAST(10 AS BIGINT), CAST(55 AS BIGINT))
    ) t(etroc, n_signals, seq_sum)
"""


@register("scan_state_store", oracle=_STATE_STORE_ORACLE,
          tags=("scan", "streaming", "state"))
def scan_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store DATA SOURCE: read a streaming checkpoint's
    operator state back as a plain DataFrame (``format("statestore")``) —
    the ops/debugging capability that turns opaque checkpoint binaries
    into a queryable table (inspect hot keys, audit state size, verify a
    migration) without touching the running query. The builder runs a
    keyed streaming aggregation to a checkpoint, then reads the FINAL
    per-key state straight from the store; the state must equal the
    aggregate the query would emit — pinned literally. At 100 TB this is
    how state problems are diagnosed: the reader fans out one task per
    state partition, so inspecting a TB-sized RocksDB checkpoint is an
    ordinary distributed scan."""
    ensure_deterministic(spark)
    base = _scratch("scan_statestore")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    _write_fixture(spark,
                   [(e, s, _T0) for e in (0, 1) for s in range(1, 11)],
                   "etroc int, seq long, ts timestamp", src)
    with _few_shuffle_partitions(spark):
        drain(spark.readStream.schema("etroc int, seq long, ts timestamp")
              .parquet(src)
              .groupBy("etroc")
              .agg(F.count(F.lit(1)).alias("n_signals"),
                   F.sum("seq").alias("seq_sum"))
              .writeStream.format("noop").outputMode("complete")
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
    state = spark.read.format("statestore").load(ckpt)
    # the store holds the AGGREGATION BUFFER, so fields carry the buffer
    # names (count, sum), not the output aliases — part of what the reader
    # teaches you about checkpoint internals
    return state.select(F.col("key.etroc").alias("etroc"),
                        F.col("value.count").alias("n_signals"),
                        F.col("value.sum").alias("seq_sum"))


_STATE_META_ORACLE = """
    SELECT CAST(0 AS BIGINT) AS operator_id,
           'stateStoreSave' AS operator_name,
           'default' AS state_store_name,
           CAST(2 AS INT) AS num_partitions,
           CAST(0 AS BIGINT) AS min_batch_id,
           CAST(0 AS BIGINT) AS max_batch_id
"""


@register("scan_state_metadata", oracle=_STATE_META_ORACLE,
          tags=("scan", "streaming", "state"))
def scan_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion to ``scan_state_store``: the ``state-metadata`` data
    source reads a checkpoint's OPERATOR CATALOG — which stateful
    operators exist, their store names, partition counts and retained
    batch range — the first thing an operator inspects before state
    surgery or a rescale (the partition count recorded here is the one
    the checkpoint pins forever; see ``_few_shuffle_partitions``). The
    single aggregation in the fixture pipeline yields exactly one
    stateStoreSave operator over 2 pinned partitions at batch 0,
    hash-pinned literally."""
    ensure_deterministic(spark)
    base = _scratch("scan_statemeta")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    _write_fixture(spark,
                   [(e, s, _T0) for e in (0, 1) for s in range(1, 11)],
                   "etroc int, seq long, ts timestamp", src)
    with _few_shuffle_partitions(spark):
        drain(spark.readStream.schema("etroc int, seq long, ts timestamp")
              .parquet(src)
              .groupBy("etroc").agg(F.count(F.lit(1)).alias("n_signals"))
              .writeStream.format("noop").outputMode("complete")
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
    meta = spark.read.format("state-metadata").load(ckpt)
    return meta.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("int").alias("num_partitions"),
        F.col("minBatchId").cast("long").alias("min_batch_id"),
        F.col("maxBatchId").cast("long").alias("max_batch_id"))


_UPDATE_MODE_ORACLE = """
    SELECT * FROM (VALUES
        (0, CAST(5 AS BIGINT), CAST(15 AS BIGINT)),
        (0, CAST(10 AS BIGINT), CAST(55 AS BIGINT)),
        (1, CAST(5 AS BIGINT), CAST(15 AS BIGINT)),
        (1, CAST(10 AS BIGINT), CAST(55 AS BIGINT))
    ) t(etroc, n_signals, seq_sum)
"""


@register("stream_update_mode", oracle=_UPDATE_MODE_ORACLE,
          tags=("streaming", "output-mode"))
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third leg of the output-mode triple
    (append: ``stream_watermark_late``; complete: ``stream_complete_mode``):
    each micro-batch emits ONLY the groups whose aggregate changed, which
    is the low-traffic wire format a live counter display consumes. The
    fixture makes the per-batch change set deterministic: three landed
    files admitted one per trigger (``maxFilesPerTrigger=1``, admission
    order pinned by distinct mtimes), so the sink accumulates exactly
    batch1 {etroc0: (5, 15)}, batch2 {etroc0: (10, 55), etroc1: (5, 15)},
    batch3 {etroc1: (10, 55)} — etroc0 is NOT re-emitted by batch3, the
    observable difference from complete mode, and the 4-row accumulated
    sink is hash-pinned."""
    ensure_deterministic(spark)
    base = _scratch("stream_update")
    sig_dir = os.path.join(base, "sig")
    os.makedirs(sig_dir)
    batches = [
        [(0, s, _T0) for s in range(1, 6)],
        [(0, s, _T0) for s in range(6, 11)] + [(1, s, _T0)
                                               for s in range(1, 6)],
        [(1, s, _T0) for s in range(6, 11)],
    ]
    for i, rows in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        _write_fixture(spark, rows, "etroc int, seq long, ts timestamp", d)
        import glob as _glob
        import shutil as _shutil
        src = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(sig_dir, f"batch_{i}.parquet")
        _shutil.copyfile(src, dst)
        # pin admission order: the file source sorts by (mtime, path)
        os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
    with _few_shuffle_partitions(spark):
        src = (spark.readStream.schema("etroc int, seq long, ts timestamp")
               .option("maxFilesPerTrigger", 1).parquet(sig_dir))
        agg = src.groupBy("etroc").agg(
            F.count(F.lit(1)).alias("n_signals"),
            F.sum("seq").alias("seq_sum"))
        drain(agg.writeStream.format("memory").queryName("etl_update_tbl")
              .outputMode("update").trigger(availableNow=True).start())
    return spark.table("etl_update_tbl").select("etroc", "n_signals",
                                                "seq_sum")


@register("stream_complete_mode", oracle=_COMPLETE_MODE_ORACLE,
          tags=("streaming", "sink"))
def stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode to the in-memory sink — the live-dashboard
    shape (the reference's per-run monitor plots, DAQ_self-triggering.md:91-93,
    continuously refreshed): every micro-batch re-emits the FULL aggregate
    table, so the sink always holds one self-consistent snapshot and the
    final snapshot is a pure function of the input regardless of batch
    boundaries (unlike update mode, whose sink accumulates
    arrival-order-dependent intermediates — why this query pins complete
    mode and not update). End state: 20 signals and seq-sum 1+..+20 = 210
    per etroc, hash-pinned."""
    ensure_deterministic(spark)
    base = _scratch("stream_complete")
    sig_dir = os.path.join(base, "sig")
    signals = [(e, s, _T0) for e in (0, 1) for s in range(1, 21)]
    _write_fixture(spark, signals, "etroc int, seq long, ts timestamp",
                   sig_dir)
    with _few_shuffle_partitions(spark):
        src = spark.readStream.schema("etroc int, seq long, ts timestamp") \
            .parquet(sig_dir)
        agg = src.groupBy("etroc").agg(
            F.count(F.lit(1)).alias("n_signals"),
            F.sum("seq").alias("seq_sum"))
        drain(agg.writeStream.format("memory").queryName("etl_complete_tbl")
              .outputMode("complete").trigger(availableNow=True).start())
    return spark.table("etl_complete_tbl").select("etroc", "n_signals",
                                                  "seq_sum")


# --------------------------------------------------------------------------
# stream_chained_window_agg — two stateful windowed aggs in one query
# --------------------------------------------------------------------------

_CHAINED_WINDOW_ORACLE = """
    SELECT * FROM (VALUES
        (TIMESTAMP '2025-01-01 12:00:00', TIMESTAMP '2025-01-01 12:05:00',
         CAST(6 AS BIGINT), CAST(3 AS BIGINT)),
        (TIMESTAMP '2025-01-01 12:05:00', TIMESTAMP '2025-01-01 12:10:00',
         CAST(1 AS BIGINT), CAST(1 AS BIGINT))
    ) t(window_start, window_end, n_events, n_subwindows)
"""


@register("stream_chained_window_agg", oracle=_CHAINED_WINDOW_ORACLE,
          tags=("streaming", "window", "chained"))
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark 4
    multiple-stateful-operator support): a 1-minute tumbling count rolls
    up into a 5-minute tumbling sum via ``window_time`` — the
    two-resolution rate monitor (per-block counts feeding the per-run
    dashboard, DAQ_self-triggering.md:195-209) as a single pipeline,
    where pre-Spark-3.5 engines forced an intermediate sink between the
    resolutions. Both operators share the watermark; a 2-hour-late
    sentinel closes all real windows (the ``stream_session_live``
    pattern) while its own stay open and withheld. End state is
    deterministic — minute buckets (2,1,3) land in [12:00,12:05) and (1)
    in [12:05,12:10) — and the oracle pins it literally."""
    ensure_deterministic(spark)
    base = _scratch("stream_chained")
    hits_dir = os.path.join(base, "hits")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    rows = ([(1, _T0 + dt.timedelta(minutes=0, seconds=s)) for s in (0, 30)]
            + [(1, _T0 + dt.timedelta(minutes=1, seconds=10))]
            + [(1, _T0 + dt.timedelta(minutes=3, seconds=s))
               for s in (5, 25, 45)]
            + [(1, _T0 + dt.timedelta(minutes=7, seconds=20))]
            + [(99, _T0 + dt.timedelta(hours=2))])   # watermark advancer
    _write_fixture(spark, rows, "user_id int, ts timestamp", hits_dir)
    with _few_shuffle_partitions(spark):
        stream = (spark.readStream.schema("user_id int, ts timestamp")
                  .parquet(hits_dir))
        # NO user filter before the watermark: the sentinel must flow into
        # stage 1 to advance the watermark; its own 1-min window then stays
        # open (end > watermark) and never reaches stage 2 — withheld at
        # both resolutions, so the emitted set is exactly the real windows.
        per_min = (stream
                   .withWatermark("ts", "10 minutes")
                   .groupBy(F.window("ts", "1 minute").alias("w1"))
                   .agg(F.count(F.lit(1)).alias("n")))
        rolled = (per_min
                  .groupBy(F.window(F.window_time("w1"), "5 minutes")
                           .alias("w5"))
                  .agg(F.sum("n").alias("n_events"),
                       F.count(F.lit(1)).alias("n_subwindows"))
                  .select(F.col("w5.start").alias("window_start"),
                          F.col("w5.end").alias("window_end"),
                          F.col("n_events").cast("long").alias("n_events"),
                          F.col("n_subwindows").cast("long")
                          .alias("n_subwindows")))
        drain(parquet_sink(rolled, out, ckpt).start())
    return spark.read.parquet(out)


# --------------------------------------------------------------------------
# stream_stream_join_full_outer — completes the stream-join type matrix
# --------------------------------------------------------------------------

_SJOIN_FULL_OUTER_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(NULL AS INT), CAST(20 AS BIGINT), CAST(10 AS BIGINT)),
        (CAST(0 AS INT), CAST(10 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(2 AS INT), CAST(10 AS BIGINT), CAST(20 AS BIGINT)),
        (CAST(5 AS INT), CAST(0 AS BIGINT), CAST(NULL AS BIGINT))
    ) t(calib_id, n_hits, first_event)
"""


@register("stream_stream_join_full_outer", oracle=_SJOIN_FULL_OUTER_ORACLE,
          tags=("streaming", "join", "outer"))
def stream_stream_join_full_outer(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL-OUTER watermarked stream-stream join — the last leg of the
    join-type matrix (inner / left / full): unmatched rows from BOTH
    sides flush null-extended once their watermarks prove no partner can
    arrive. The fixture adds to the left-outer scenario a calibration
    epoch ([50,60) s) during which NO hits arrived — the real DAQ audit
    question "which calibration windows saw zero traffic?" — which must
    emit as a calib-only row (n_hits = 0, no first event). Dual
    far-future sentinels on decoy rbs advance both watermarks (hit-side
    watermark gates the unmatched-CALIB flush, calib-side the
    unmatched-hit flush); the grouped end state is deterministic and
    pinned literally."""
    ensure_deterministic(spark)
    base = _scratch("stream_sjoin_full")
    hits_dir = os.path.join(base, "hits")
    calib_dir = os.path.join(base, "calib")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    hit_schema = "run int, rb int, event_id long, ts timestamp"
    calib_schema = "run int, rb int, calib_id int, cts timestamp"
    hits = ([(1, 0, i, _T0 + dt.timedelta(seconds=i)) for i in range(40)]
            + [(1, 9, 999, _T0 + dt.timedelta(hours=2))])  # watermark advancer
    calibs = ([(1, 0, e, _T0 + dt.timedelta(seconds=10 * e))
               for e in (0, 2, 5)]                          # 5 = zero-traffic
              + [(1, 8, 99, _T0 + dt.timedelta(hours=2))])  # watermark advancer
    _write_fixture(spark, hits, hit_schema, hits_dir)
    _write_fixture(spark, calibs, calib_schema, calib_dir)
    with _few_shuffle_partitions(spark):
        h = (spark.readStream.schema(hit_schema).parquet(hits_dir)
             .withWatermark("ts", "1 second"))
        c = (spark.readStream.schema(calib_schema).parquet(calib_dir)
             .withWatermark("cts", "1 second"))
        joined = (h.join(
            c,
            (h["run"] == c["run"]) & (h["rb"] == c["rb"])
            & (h["ts"] >= c["cts"])
            & (h["ts"] < c["cts"] + F.expr("INTERVAL 10 SECONDS")),
            "full_outer")
            .select(F.coalesce(h["rb"], c["rb"]).alias("rb"),
                    "event_id", "calib_id"))
        drain(parquet_sink(joined, out, ckpt).start())
    back = spark.read.parquet(out).where(F.col("rb") == 0)
    return (back.groupBy("calib_id")
            .agg(F.count("event_id").cast("long").alias("n_hits"),
                 F.min("event_id").alias("first_event")))


@register(
    "stream_static_join",
    # DuckDB twin: regenerate the 40-hit tape and the 3-row static module
    # dim and run the identical equi-join as plain SQL (stream-static
    # joins are stateless row-local lookups, so streamed == batch).
    oracle="""
        WITH hits AS (
            SELECT 1 AS run, r.rb, t.i AS event_id,
                   CAST(t.i % 3 AS INTEGER) AS etroc,
                   TIMESTAMP '2025-01-01 12:00:00'
                       + t.i * INTERVAL 1 SECOND AS ts
            FROM (SELECT unnest([0, 1]) AS rb) r,
                 generate_series(0, 19) t(i)
        ),
        dim AS (
            SELECT e.e AS etroc, 'Module_' || CAST(200 + e.e AS VARCHAR)
                       AS module, CAST(10 * (e.e + 1) AS INTEGER) AS gain
            FROM (SELECT unnest([0, 1, 2]) AS e) e
        )
        SELECT d.module, CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(SUM(h.event_id * d.gain) AS BIGINT) AS gain_weighted
        FROM hits h JOIN dim d ON h.etroc = d.etroc
        GROUP BY d.module
    """,
    tags=("streaming", "join", "static"))
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the most common production streaming shape
    (enrich each live event with a slowly-changing dimension: module
    names/gains for each etroc, the reference's config-table lookup
    applied to the live feed) and the missing member next to the three
    stream-stream variants. Semantically stateless: the static side is
    read once per micro-batch and hash/broadcast-joined row-locally, so
    NO join state accumulates, no watermark is required, and streamed
    output equals the batch join exactly (the oracle). At 100 TB/day the
    static side broadcasts (or re-broadcasts per batch when the dim file
    is replaced) — the cheap half of the enrichment spectrum, with the
    watermarked stream-stream interval join as the expensive half."""
    ensure_deterministic(spark)
    base = _scratch("stream_static")
    hits_dir = os.path.join(base, "hits")
    dim_dir = os.path.join(base, "dim")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    hit_schema = "run int, rb int, event_id long, etroc int, ts timestamp"
    hits = [(1, rb, i, i % 3, _T0 + dt.timedelta(seconds=i))
            for rb in (0, 1) for i in range(20)]
    _write_fixture(spark, hits, hit_schema, hits_dir)
    dim_rows = [(e, f"Module_{200 + e}", 10 * (e + 1)) for e in (0, 1, 2)]
    _write_fixture(spark, dim_rows, "etroc int, module string, gain int",
                   dim_dir)
    with _few_shuffle_partitions(spark):
        h = spark.readStream.schema(hit_schema).parquet(hits_dir)
        dim = F.broadcast(spark.read.parquet(dim_dir))
        joined = (h.join(dim, "etroc")
                  .select("run", "rb", "event_id", "module", "gain", "ts"))
        drain(parquet_sink(joined, out, ckpt).start())
    return (spark.read.parquet(out)
            .groupBy("module")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"),
                 F.sum(F.col("event_id") * F.col("gain")).cast("long")
                 .alias("gain_weighted")))


# --------------------------------------------------------------------------
# source_stream_rate — deterministic rate-micro-batch source, bounded drain
# --------------------------------------------------------------------------

_RATE_ROWS_PER_BATCH = 100
_RATE_BATCHES = 3


@register(
    "source_stream_rate",
    # The rate-micro-batch contract is closed-form: batch b carries
    # values [b*R, (b+1)*R) all stamped startTimestamp + b*advance, so
    # the drained 3-batch census is a pure arithmetic oracle.
    oracle=f"""
        WITH v AS (
            SELECT CAST(t.v AS BIGINT) AS val,
                   CAST(t.v // {_RATE_ROWS_PER_BATCH} AS BIGINT) AS sec
            FROM range(0, {_RATE_ROWS_PER_BATCH * _RATE_BATCHES}) t(v)
        )
        SELECT sec, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(val) AS BIGINT) AS min_value,
               CAST(MAX(val) AS BIGINT) AS max_value,
               CAST(SUM(val) AS BIGINT) AS sum_value
        FROM v GROUP BY sec
    """,
    tags=("source", "streaming", "rate"),
)
def source_stream_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `rate-micro-batch` streaming source (Spark 3.3+) drained for
    exactly 3 deterministic micro-batches: batch b emits values
    [b·R, (b+1)·R) all stamped startTimestamp + b·advanceMillis — the
    REPRODUCIBLE load generator for throughput tests and streaming-
    pipeline demos (plain `rate` ties row production to wall-clock, so
    its output is inherently flaky; rate-micro-batch is the
    deterministic twin built for exactly this). Completes the source
    family: files, Python DataSource, binary frames, and now the
    engine-native synthetic generator.

    The drain is bounded WITHOUT wall-clock coupling: foreachBatch
    persists batches 0..2 only and signals stop at batch 2, so
    a racing extra trigger can never leak rows into the result; the
    read-back census (per-timestamp-second count/min/max/sum) matches a
    pure arithmetic-series oracle — no corpus input at all.

    Scale shape: numPartitions parallelizes row generation; the census
    is one map-side-combinable groupBy over R·B rows. The pattern is
    the contract here, not the volume."""
    ensure_deterministic(spark)
    import time as _time

    base = _scratch("stream_rate")
    out = os.path.join(base, "data")
    ckpt = os.path.join(base, "ckpt")
    done = {"stop": False}

    def _sink(df, bid: int) -> None:
        if bid < _RATE_BATCHES:
            df.write.mode("append").parquet(out)
        if bid >= _RATE_BATCHES - 1:
            done["stop"] = True

    with _few_shuffle_partitions(spark):
        src = (spark.readStream.format("rate-micro-batch")
               .option("rowsPerBatch", _RATE_ROWS_PER_BATCH)
               .option("numPartitions", 4)
               .option("startTimestamp", 0)
               .option("advanceMillisPerBatch", 1000)
               .load())
        q = (src.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ckpt).start())
        t0 = _time.time()
        while not done["stop"] and _time.time() - t0 < 120:
            _time.sleep(0.1)
        q.stop()
        if not done["stop"]:
            raise TimeoutError(
                "source_stream_rate: 3-batch drain did not complete in "
                "120s — rate-micro-batch trigger regression?")
    return (spark.read.parquet(out)
            .groupBy(F.expr("unix_micros(timestamp) div 1000000")
                     .cast("long").alias("sec"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min("value").cast("long").alias("min_value"),
                 F.max("value").cast("long").alias("max_value"),
                 F.sum("value").cast("long").alias("sum_value")))


# --------------------------------------------------------------------------
# stream_merge_upsert — streaming CDC upsert via foreachBatch generations
# --------------------------------------------------------------------------

#: planted CDC tape: (key, val, seq) per landing file; includes an
#: out-of-order STALE update (k1 seq 0 after k1 seq 1) that the merge
#: must reject — the final state below is therefore order-independent.
_CDC_BATCHES = (
    (("k1", 10, 1), ("k2", 20, 1), ("k3", 30, 1), ("k4", 40, 1),
     ("k5", 50, 1)),
    (("k2", 21, 2), ("k3", 31, 2), ("k6", 60, 1)),
    (("k3", 32, 3), ("k1", 99, 0)),          # k1 seq 0 is STALE
)

_CDC_FINAL = (("k1", 10, 1), ("k2", 21, 2), ("k3", 32, 3), ("k4", 40, 1),
              ("k5", 50, 1), ("k6", 60, 1))

_CDC_ORACLE = ("SELECT * FROM (VALUES "
               + ", ".join(f"('{k}', CAST({v} AS BIGINT),"
                           f" CAST({s} AS BIGINT))"
                           for k, v, s in _CDC_FINAL)
               + ") t(key, val, seq)")


@register("stream_merge_upsert", oracle=_CDC_ORACLE,
          tags=("streaming", "sink", "cdc"))
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC upsert: a change stream drains through foreachBatch
    into a keyed snapshot maintained as immutable GENERATIONS — each
    micro-batch reads the latest generation, merges with
    highest-sequence-wins conflict resolution (a STALE out-of-order
    update in the tape must lose, and does), and writes the next
    generation. This is `sink_merge_upsert`'s batch MERGE lifted into
    Structured Streaming — the standing CDC consumer every operational
    table needs — and the generation scheme is the plain-parquet stand-in
    for a lakehouse MERGE INTO (the swap is one function body; see
    SCALE.md on table formats). maxFilesPerTrigger=1 forces one batch
    per landed change file, so the upsert path exercises multi-batch
    evolution, not one lucky union.

    Determinism: sequence-number resolution makes the final state a
    pure function of the SET of changes (batch order cannot matter);
    the oracle is the hand-computed literal end state.

    Scale shape: per batch, one key equi-join-free merge (union + per-
    key argmax by (seq) — map-side combinable via max_by) sized by
    |snapshot| + |delta|; with a partitioned snapshot only touched
    partitions rewrite (compose with dynamic partition overwrite)."""
    ensure_deterministic(spark)
    import json as _json

    base = _scratch("stream_cdc")
    landing = os.path.join(base, "landing")
    snap = os.path.join(base, "snap")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing)
    for i, batch in enumerate(_CDC_BATCHES):
        with open(os.path.join(landing, f"batch_{i:02d}.jsonl"), "w") as fh:
            for k, v, s in batch:
                fh.write(_json.dumps({"key": k, "val": v, "seq": s}) + "\n")

    schema = "key string, val long, seq long"
    gen = {"n": 0}

    def _merge(delta, bid: int) -> None:
        cur_dir = os.path.join(snap, f"gen={gen['n']}")
        if gen["n"] > 0:
            cur = delta.sparkSession.read.parquet(cur_dir)
            allrows = cur.unionByName(delta.select("key", "val", "seq"))
        else:
            allrows = delta.select("key", "val", "seq")
        resolved = (allrows.groupBy("key")
                    .agg(F.expr("max_by(val, seq)").alias("val"),
                         F.max("seq").alias("seq")))
        gen["n"] += 1
        resolved.write.mode("overwrite").parquet(
            os.path.join(snap, f"gen={gen['n']}"))

    with _few_shuffle_partitions(spark):
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(landing))
        drain(src.writeStream.foreachBatch(_merge)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
    if gen["n"] < 3:
        raise AssertionError(
            f"stream_merge_upsert: expected >= 3 merge generations (one "
            f"per landed change file), saw {gen['n']}")
    return (spark.read.parquet(os.path.join(snap, f"gen={gen['n']}"))
            .select("key", F.col("val").cast("long"),
                    F.col("seq").cast("long")))


# --------------------------------------------------------------------------
# stream_hdr_buckets — the HDR latency sketch as STREAMING state
# --------------------------------------------------------------------------

#: the bucket histogram recomputed from first principles in DuckDB: the
#: fixture rows are pure formula (lat_ms = 1 + (i²·7919) mod 5000 over
#: i = 0..599, svc = i mod 3), so the oracle derives the SAME rows from
#: generate_series and buckets them with the identical LN expression —
#: no literal freeze, the full derivation is checked.
_STREAM_HDR_ORACLE = """
WITH src AS (
    SELECT CAST(i % 3 AS BIGINT) AS svc,
           CAST(1 + (CAST(i AS BIGINT) * i * 7919) % 5000 AS BIGINT)
               AS lat_ms
    FROM generate_series(0, 599) t(i)
)
SELECT CAST(FLOOR(LN(lat_ms * 1e0) / LN(2e0) * 4e0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(FLOOR(EXP((FLOOR(LN(lat_ms * 1e0) / LN(2e0) * 4e0) + 5e-1)
                      / 4e0 * LN(2e0)) * 1e3 + 5e-1) AS BIGINT)
           AS est_ms_milli
FROM src GROUP BY 1, 3
"""


@register("stream_hdr_buckets", oracle=_STREAM_HDR_ORACLE,
          tags=("streaming", "sketch", "latency"))
def stream_hdr_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HDR-style latency sketch as STREAMING state: latency
    measurements land in micro-batches and the quarter-log2 bucket
    histogram is the running aggregate (complete mode — the live
    latency-dashboard snapshot). This is the operational punchline of
    `agg_hdr_latency_quantiles`: the sketch's whole state is ~120
    bucket rows NO MATTER the event rate, so the streaming aggregation
    carries a bounded state store where a streaming exact quantile
    would need every distinct value — the reason log-bucket histograms
    are what latency SLO pipelines actually keep in flight at 100 TB/day.

    The fixture is formula-derived (lat_ms = 1 + (i²·7919) mod 5000,
    i = 0..599, landed as 3 files admitted one per trigger), so the
    DuckDB oracle RE-DERIVES the rows from generate_series and buckets
    them with the identical LN text — end state checked from first
    principles, not a frozen literal. Complete mode makes the final
    snapshot a pure function of the input regardless of batch
    boundaries (the `stream_complete_mode` argument).

    Scale shape: map-side bucket assignment in the stream, ~120-group
    hash aggregate, bounded state; merging days/shards is bucket-wise
    SUM (`ext_sketch_shard_merge_audit` is the audit)."""
    ensure_deterministic(spark)
    base = _scratch("stream_hdr")
    sig_dir = os.path.join(base, "sig")
    os.makedirs(sig_dir)
    rows = [(i % 3, 1 + (i * i * 7919) % 5000, _T0) for i in range(600)]
    for b in range(3):
        d = os.path.join(base, f"b{b}")
        _write_fixture(spark, rows[200 * b:200 * (b + 1)],
                       "svc long, lat_ms long, ts timestamp", d)
        import glob as _glob
        import shutil as _shutil
        src = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(sig_dir, f"batch_{b}.parquet")
        _shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + 100 * b, 1_700_000_000 + 100 * b))
    with _few_shuffle_partitions(spark):
        src = (spark.readStream.schema("svc long, lat_ms long, ts timestamp")
               .option("maxFilesPerTrigger", 1).parquet(sig_dir))
        bucket = F.expr("CAST(FLOOR(LN(lat_ms * 1e0) / LN(2e0) * 4e0)"
                        " AS BIGINT)")
        agg = (src.select(bucket.alias("bucket"))
               .groupBy("bucket").agg(F.count(F.lit(1)).cast("long")
                                      .alias("n")))
        drain(agg.writeStream.format("memory").queryName("etl_hdr_tbl")
              .outputMode("complete").trigger(availableNow=True).start())
    est = F.expr("CAST(FLOOR(EXP((bucket + 5e-1) / 4e0 * LN(2e0)) * 1e3"
                 " + 5e-1) AS BIGINT)")
    return (spark.table("etl_hdr_tbl")
            .select("bucket", "n", est.alias("est_ms_milli")))


# --------------------------------------------------------------------------
# stream_session_event_timeout — custom state closed by the WATERMARK
# --------------------------------------------------------------------------

#: end state derived from the same T0/offset constants as the fixture
#: tape: session boundaries are a pure function of EVENT time — user 2's
#: two events are 195 s apart (> the 60 s gap), so they form TWO
#: single-event sessions even though the second arrives while the first
#: is still open in state (the data-branch gap split closes it; the
#: engine timeout alone would have merged them whenever the watermark
#: lagged the batch). User 1 closes via the engine's event-time timeout;
#: user 3 is still open when availableNow drains, so it must NOT be
#: emitted.
_SESSION_ETO_ORACLE = """
SELECT * FROM (VALUES
    (CAST(1 AS BIGINT), CAST(2 AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:00:00') AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:00:10') AS BIGINT)),
    (CAST(2 AS BIGINT), CAST(1 AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:00:05') AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:00:05') AS BIGINT)),
    (CAST(2 AS BIGINT), CAST(1 AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:03:20') AS BIGINT),
     CAST(epoch_us(TIMESTAMP '2025-01-01 12:03:20') AS BIGINT))
) AS t(user_id, n_events, first_us, last_us)
"""


@register("stream_session_event_timeout", oracle=_SESSION_ETO_ORACLE,
          tags=("streaming", "stateful", "session"))
def stream_session_event_timeout(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Custom sessionization closed by the ENGINE's event-time timeout
    (``GroupStateTimeout.EventTimeTimeout`` — the one
    ``applyInPandasWithState`` mode the registry did not yet exercise;
    the EVENT_CNT counter uses NoTimeout): per-user state accumulates
    silently, ``state.setTimeoutTimestamp(last + gap)`` arms the close,
    and the session row is emitted ONLY when the watermark passes it —
    the pattern for session logic the built-in ``session_window``
    cannot express (dynamic gaps, per-session caps, emit-on-close side
    effects). The tape pins the three behaviors that matter: a session
    closing in a later batch than its data (watermark-driven), a
    cross-batch GAP SPLIT (user 2's events are 195 s apart, so the open
    session closes from the data branch and a new one starts — session
    boundaries follow event time, never micro-batch layout or watermark
    lag), and a still-open session at drain (user 3 must not appear —
    append-mode discipline for timeouts).

    Scale shape: state is one (n, first, last) triple per OPEN session,
    evicted at close by the engine — constant memory per active user,
    the bound that lets custom sessionization run forever (the
    `stream_session_live` argument, for arbitrary state)."""
    import datetime as _dt
    import glob as _glob
    import shutil as _shutil

    from project_etl_spark.streaming.stateful import start_session_closer

    ensure_deterministic(spark)
    base = _scratch("stream_session_eto")
    ev_dir = os.path.join(base, "ev")
    os.makedirs(ev_dir)
    t0 = _dt.datetime(2025, 1, 1, 12, 0, 0)
    batches = [
        [(1, t0), (1, t0 + _dt.timedelta(seconds=10)),
         (2, t0 + _dt.timedelta(seconds=5))],
        [(2, t0 + _dt.timedelta(seconds=200))],
        [(3, t0 + _dt.timedelta(seconds=400))],
    ]
    for i, rows in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        _write_fixture(spark, rows, "user_id long, ts timestamp", d)
        src = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(ev_dir, f"batch_{i}.parquet")
        _shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    with _few_shuffle_partitions(spark):
        drain(start_session_closer(spark, ev_dir, os.path.join(base, "out"),
                                   os.path.join(base, "ckpt")))
    return (spark.read.parquet(os.path.join(base, "out"))
            .select("user_id", "n_events", "first_us", "last_us"))
