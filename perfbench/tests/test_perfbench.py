"""Tests of the benchmark itself: metric names and units, the run-file
generator against the engine's wire format, and a tiny smoke of each
workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import SQL_QUERIES, WORKLOADS  # noqa: E402
from project_etl_spark.decode import (blob_to_frames_pdf,  # noqa: E402
                                      encode_frames)
from project_etl_spark.io import TABLES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_runner():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} == set(_SMOKE) \
        == set(WORKLOADS)
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_metric_names_and_units_are_well_formed():
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads")
             for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer")
               for m in SPEC[key])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    # every operator family the benchmark runs has its layer metric
    assert {f"operators.{f}_s" for f in SQL_QUERIES} <= set(run.PER_LAYER)


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_pack_frames_matches_encode_frames(seed):
    """The vectorised generator emits exactly the engine's wire format."""
    f = gen.frame_arrays(np.random.default_rng(seed), n_events=40,
                         n_elinks=3)
    assert gen.pack_frames(f) == encode_frames(gen.frames_as_dicts(f))


def test_run_file_counts_match_decode():
    rf = gen.run_file(np.random.default_rng(3), run=12, rb=1, n_events=300,
                      n_elinks=4)
    pdf = blob_to_frames_pdf(rf.name, rf.blob, drop_filler=False)
    assert len(pdf) == rf.n_frames == len(rf.blob) // gen.FRAME_BYTES
    data = pdf[pdf["kind"] == "data"]
    assert len(data) == rf.n_data
    assert (pdf["run"] == 12).all() and (pdf["rb"] == 1).all()
    assert tuple(sorted(data["elink"].unique())) == rf.chips
    assert (pdf["kind"].iloc[-1]) == "trailer"


def test_generators_are_seeded():
    a = gen.run_file(np.random.default_rng(5), 1, 0, 100, 2)
    b = gen.run_file(np.random.default_rng(5), 1, 0, 100, 2)
    c = gen.run_file(np.random.default_rng(6), 1, 0, 100, 2)
    assert a.blob == b.blob and a.blob != c.blob
    d1 = gen.documents(np.random.default_rng(2), 50)
    d2 = gen.documents(np.random.default_rng(2), 50)
    assert d1.equals(d2)


def test_tables_have_fixture_schemas(tmp_path):
    gen.write_tables(str(tmp_path), seed=1, sf=0.001)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{t}.parquet" for t in TABLES)
    cols = pq.read_schema(tmp_path / "lineitem.parquet").names
    assert cols == ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                    "l_returnflag", "l_linestatus", "l_shipdate"]
    docs = pq.read_table(tmp_path / "documents.parquet")
    assert docs.schema.names == ["doc_id", "text", "lang", "source",
                                 "n_chars"]
    assert docs.num_rows == 50


def test_tail_percentile():
    assert run.tail([1.0, 2.0, 3.0]) == (50.0, 2.0)
    pct, val = run.tail([float(i) for i in range(100)])
    assert pct == 90.0 and val == 90.0


def test_refuses_without_the_program(tmp_path):
    """A directory holding only the benchmark's own files exits non-zero
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daq_backlog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_benchmark_run_length_is_within_plan(workload):
    """The run length in BENCHMARK.json plans work a run can finish."""
    wl = WORKLOADS[workload]()
    planned = (wl.rounds(SPEC["run_seconds"]) + wl.warm_rounds) * wl.round_s
    assert planned <= run.PLAN_LIMIT_S


def test_refuses_work_it_cannot_finish(capsys):
    """Too long a run is refused before any work starts, not cut short."""
    assert run.main(["--workload", "daq_backlog", "--seed", "1",
                     "--seconds", "3600", "--trace", "0"]) == 2
    out = capsys.readouterr()
    assert out.out == "" and "plans" in out.err


# Small inputs so one smoke run takes about half a minute.
_SMOKE = {
    "daq_backlog": "w.DaqBacklog, n_events=200",
    "analyst": "w.Analyst, w.SqlAnalyst(sf=0.005), w.DedupIndex(n_docs=120)",
}


@pytest.mark.parametrize("workload", sorted(_SMOKE))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    """Every workload in BENCHMARK.json runs, passes its output checks and
    prints exactly its metric set."""
    code = (
        "import functools, sys; sys.path.insert(0, %r)\n"
        "from perfbench import run, workloads as w\n"
        "w.WORKLOADS[%r] = functools.partial(%s)\n"
        "sys.exit(run.main(['--workload', %r, '--seed', '3', "
        "'--seconds', '0', '--trace', '%d']))\n"
        % (ROOT, workload, _SMOKE[workload], workload, trace))
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=170)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, p.stdout[-2000:]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
