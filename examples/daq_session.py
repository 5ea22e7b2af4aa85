#!/usr/bin/env python
"""End-to-end DAQ session on the Spark engine — the reference's workflow
(SURVEY.md §3: config -> calibrate -> acquire -> watch -> enrich -> report)
as one runnable script.

    python examples/daq_session.py [workdir]

Stages mirror `self_trigger_daq.py` + `daq_watchdog.py`
(DAQ_self-triggering.md:96-272, :306-315), with binary run files
synthesized in place of the FPGA.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from project_etl_spark.config import module_dimension
from project_etl_spark.decode import write_run_file
from project_etl_spark.pipelines import (enrich_runs_with_env,
                                         load_or_calibrate, run_stats,
                                         threshold_heatmap)
from project_etl_spark.session import get_spark
from project_etl_spark.streaming import drain
from project_etl_spark.streaming.watchdog import await_pairs, start_watchdog

CONFIG = """
[run_config]
num_runs = 3
beam_energy = 120

[telescope_config]
l1a_delay = 12

[[telescope_config.service_hybrids]]
rb = 0
self_triggering = true

[[telescope_config.service_hybrids.modules]]
name = "Module_209"
id = 209
slot = 1
offset = {0 = 30}
"""


def synthesize_run(landing: str, run: int, rb: int, n_events: int = 50) -> None:
    """Stand-in for the FPGA stream: headers + per-event hits + filler."""
    frames = []
    for ev in range(1, n_events + 1):
        frames.append({"kind": "header", "elink": 0, "event_id": ev})
        for h in range(3):
            i = ev * 7 + h
            frames.append({"kind": "data", "elink": 0, "row": i % 16,
                           "col": (i * 3) % 16, "toa": 180 + i % 60,
                           "tot": 40 + i % 30})
        frames.append({"kind": "filler", "elink": 0})
    frames.append({"kind": "trailer", "elink": 0})
    write_run_file(landing, run=run, rb=rb, frames=frames)


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="daq_")
    landing = os.path.join(work, "landing")
    decoded = os.path.join(work, "decoded")
    ckpt = os.path.join(work, "ckpt")
    cal_path = os.path.join(work, "thresholds")
    os.makedirs(landing, exist_ok=True)

    spark = get_spark("daq-session")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. Config load & validate (TOML -> typed dimension)
    modules = module_dimension(spark, CONFIG)
    print("== modules ==")
    modules.show()

    # 2. Acquisition: three 30s runs land as binary files (2 RBs each)
    for run in (1, 2, 3):
        for rb in (0, 1):
            synthesize_run(landing, run, rb)

    # 3. Watchdog: decode + merge to columnar, checkpointed exactly-once
    drain(start_watchdog(spark, landing, decoded, ckpt))
    frames = spark.read.parquet(decoded)
    print(f"== decoded {frames.count()} frames across "
          f"{frames.select('run').distinct().count()} runs ==")

    # 4. Readiness: which runs have both readout boards?
    print("== merge-ready runs ==")
    await_pairs(frames, required_rbs=(0, 1)).show()

    # 5. Calibration (threshold scan) with write-once reuse
    from project_etl_spark.decode import build_hits
    hits = (build_hits(frames.where(F.col("run") == 1))
            .withColumn("etroc", F.lit(0)))
    cal = load_or_calibrate(spark, hits, cal_path, offset=30)
    print("== thresholds (etroc 0, heatmap corner) ==")
    threshold_heatmap(cal, etroc=0).select("row", "0", "1", "2", "3").show(4)

    # 6. Per-run stats (the YAML record analog)
    all_hits = build_hits(frames).withColumn("etroc", F.lit(0))
    print("== run stats ==")
    run_stats(all_hits).orderBy("run", "rb").show()

    # 7. Environment enrichment (as-of join of HV samples onto runs)
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    runs = spark.createDataFrame(
        [(r, 209, t0 + dt.timedelta(minutes=r)) for r in (1, 2, 3)],
        "run_number int, module int, finish_time timestamp")
    env = spark.createDataFrame(
        [(t0 + dt.timedelta(seconds=30 * i), "vmon", 209, 185.0 + i / 10)
         for i in range(10)],
        "ts timestamp, channel string, module int, value double")
    print("== runs with as-of HV ==")
    enrich_runs_with_env(runs, env, channels=("vmon",)) \
        .orderBy("run_number").show()

    # 8. Session run log: nested document maintained across runs, then
    #    written + re-read schema-enforced (daq_utils.run_log_update analog)
    from project_etl_spark.runlog import (new_run_log, read_run_log,
                                          run_log_update, runs_table,
                                          write_run_log)
    stats = {(r["run"], r["rb"]): r for r in run_stats(all_hits).collect()}
    log = new_run_log(spark, {"l1a_rate": 1000, "run_time_s": 30,
                              "offset": {0: 30}})
    for (run, rb), r in sorted(stats.items()):
        log = run_log_update(log, {
            "run": run, "rb": rb, "n_events": r["n_events"],
            "speed_mbps": r["speed_mbps"]}, {0: 480})
    runlog_path = os.path.join(work, "runlog")
    write_run_log(log, runlog_path)
    print("== run log (re-read, flattened) ==")
    runs_table(read_run_log(spark, runlog_path)) \
        .select("run", "rb", "n_events", "speed_mbps").orderBy("run", "rb").show()

    print(f"workdir: {work}")


if __name__ == "__main__":
    main()
