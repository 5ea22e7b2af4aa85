"""Unit tests for the Spark 4 Python DataSource (project_etl_spark.pyds):
file-listing determinism, run/rb filter pruning (which files are READ, not
just which rows survive), and streaming offset replay bookkeeping."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, StringContains

from project_etl_spark.decode import write_run_file
from project_etl_spark.pyds import (
    RunFilesDataSource,
    RunFilesPartitionedStreamReader,
    RunFilesPushdownReader,
    RunFilesReader,
    _list_run_files,
)
from project_etl_spark.streaming import drain

FRAMES = ([{"kind": "header", "elink": 0, "event_id": 7}]
          + [{"kind": "data", "elink": 1, "row": 2, "col": 3,
              "toa": 10, "tot": 5}] * 3
          + [{"kind": "filler", "elink": 0}] * 2
          + [{"kind": "trailer", "elink": 0}])


@pytest.fixture()
def landing(tmp_path):
    d = str(tmp_path)
    for run in (1, 2, 3):
        for rb in (0, 1):
            write_run_file(d, run=run, rb=rb, frames=FRAMES)
    return d


def test_listing_is_sorted_and_complete(landing):
    files = _list_run_files(landing)
    assert len(files) == 6
    assert files == sorted(files)


def test_pushdown_prunes_whole_files(landing):
    r = RunFilesPushdownReader({"path": landing})
    leftover = list(r.pushFilters([EqualTo(("run",), 2)]))
    assert leftover == []  # run predicate fully absorbed
    parts = r.partitions()
    assert {os.path.basename(p.path) for p in parts} == {
        "output_run_2_rb0.dat", "output_run_2_rb1.dat"}


def test_pushdown_composes_and_returns_foreign_filters(landing):
    r = RunFilesPushdownReader({"path": landing})
    foreign = StringContains(("kind",), "dat")
    leftover = list(r.pushFilters([
        GreaterThan(("run",), 1), In(("rb",), (0,)), foreign]))
    assert leftover == [foreign]  # kind filter goes back to Spark
    assert {os.path.basename(p.path) for p in r.partitions()} == {
        "output_run_2_rb0.dat", "output_run_3_rb0.dat"}


def test_base_reader_reads_everything(landing):
    r = RunFilesReader({"path": landing})
    assert len(r.partitions()) == 6
    batches = list(r.read(r.partitions()[0]))
    assert sum(b.num_rows for b in batches) == 5  # filler dropped


def _batch(r, start: dict, end: dict) -> list[tuple]:
    """The micro-batch between two offsets as executors read it: every
    planned partition's Arrow batches, as tuples in schema order."""
    return [tuple(row.values())
            for part in r.partitions(start, end)
            for b in r.read(part) for row in b.to_pylist()]


def test_stream_offsets_advance_and_replay(landing):
    r = RunFilesPartitionedStreamReader({"path": landing})
    assert r.initialOffset() == {"files": []}
    start = r.initialOffset()
    end = r.latestOffset()
    rows = _batch(r, start, end)
    assert len(end["files"]) == 6
    assert len(rows) == 6 * 5
    # replay between offsets returns the identical batch
    assert sorted(_batch(r, start, end)) == sorted(rows)
    # no new files: empty batch, offset unchanged
    end2 = r.latestOffset()
    assert _batch(r, end, end2) == [] and end2 == end
    # late-arriving file is picked up by the next poll
    write_run_file(landing, run=9, rb=0, frames=FRAMES)
    end3 = r.latestOffset()
    assert len(_batch(r, end, end3)) == 5 and len(end3["files"]) == 7


def test_stream_offsets_late_file_sorting_before_admitted(landing):
    """Exactly-once admission under out-of-order arrival: a file whose name
    sorts BEFORE already-admitted ones (run 1 landing after runs up to 10
    were consumed; '10' < '2' lexicographically is the trap) must be
    admitted exactly once, with no re-emission of admitted files and no
    unstable replay slices."""
    r = RunFilesPartitionedStreamReader({"path": landing})
    write_run_file(landing, run=10, rb=0, frames=FRAMES)
    o1 = r.latestOffset()
    assert len(_batch(r, r.initialOffset(), o1)) == 7 * 5
    late = write_run_file(landing, run=1, rb=9, frames=FRAMES)
    o2 = r.latestOffset()
    assert len(_batch(r, o1, o2)) == 5           # ONLY the late file
    assert set(o2["files"]) - set(o1["files"]) == {os.path.basename(late)}
    # checkpoint replay of the earlier batch is unaffected by the landing
    assert len(_batch(r, r.initialOffset(), o1)) == 7 * 5
    o3 = r.latestOffset()
    assert _batch(r, o2, o3) == [] and o3 == o2  # nothing re-admitted


def test_legacy_index_offset_fails_loudly(landing):
    """A pre-ledger {'index': n} checkpoint must raise, never be silently
    reinterpreted as an empty ledger (which would re-admit every consumed
    file and break exactly-once admission)."""
    r = RunFilesPartitionedStreamReader({"path": landing})
    with pytest.raises(ValueError, match="unrecognized streaming offset"):
        r.partitions({"index": 3}, r.latestOffset())


def test_stream_rows_match_schema_nulls(landing):
    r = RunFilesPartitionedStreamReader({"path": landing})
    rows = _batch(r, r.initialOffset(), r.latestOffset())
    header = next(t for t in rows if t[3] == "header")
    data = next(t for t in rows if t[3] == "data")
    assert header[5] == 7 and header[6] is None  # event_id set, row NULL
    assert data[5] is None and data[6:] == (2, 3, 10, 5)


def test_partitioned_stream_reader_plans_per_file(landing):
    r = RunFilesPartitionedStreamReader({"path": landing})
    assert r.initialOffset() == {"files": []}
    end = r.latestOffset()
    assert len(end["files"]) == 6
    parts = r.partitions(r.initialOffset(), end)
    assert len(parts) == 6  # one executor partition per landed file
    batches = list(r.read(parts[0]))
    assert sum(b.num_rows for b in batches) == 5
    # incremental plan: only the new files appear in the next batch —
    # including one whose name sorts BEFORE every admitted file
    write_run_file(landing, run=0, rb=0, frames=FRAMES)
    end2 = r.latestOffset()
    assert len(end2["files"]) == 7
    parts2 = r.partitions(end, end2)
    assert len(parts2) == 1
    assert os.path.basename(parts2[0].path) == "output_run_0_rb0.dat"


def test_stream_reader_is_partitioned(landing):
    ds = RunFilesDataSource({"path": landing})
    assert isinstance(ds.streamReader(None), RunFilesPartitionedStreamReader)


def test_writer_roundtrip_is_byte_identical(spark, landing, tmp_path):
    """Reader -> writer roundtrip (filler kept) reproduces the original
    run files BYTE FOR BYTE: encode and decode are inverses through the
    whole Spark write protocol, not just in the fixture generator."""
    from project_etl_spark.pyds import register_datasource

    out = str(tmp_path / "rewritten")
    os.makedirs(out, exist_ok=True)
    register_datasource(spark)
    frames = (spark.read.format("etl_runfiles")
              .option("path", landing).option("dropfiller", "false").load())
    (frames.repartition("run", "rb")
     .sortWithinPartitions("run", "rb", "frame_index")
     .write.format("etl_runfiles").option("path", out)
     .mode("append").save())
    originals = _list_run_files(landing)
    rewritten = _list_run_files(out)
    assert [os.path.basename(p) for p in rewritten] == \
           [os.path.basename(p) for p in originals]
    for a, b in zip(originals, rewritten):
        with open(a, "rb") as fa, open(b, "rb") as fb:
            assert fa.read() == fb.read(), os.path.basename(a)
    # two-phase commit left no temp fragments behind
    assert not os.path.exists(os.path.join(out, "_etl_tmp"))


def test_writer_abort_leaves_no_partial_files(tmp_path):
    """The abort path of the commit protocol removes every temp fragment
    and never creates a final file."""
    from project_etl_spark.pyds import RunFilesWriter, _RunFilesCommit

    out = str(tmp_path / "aborted")
    os.makedirs(out, exist_ok=True)
    w = RunFilesWriter({"path": out})
    os.makedirs(w.tmpdir)
    tmp = os.path.join(w.tmpdir, "run1_rb0_part0.tmpfrag")
    with open(tmp, "wb") as fh:
        fh.write(b"\x00" * 5)
    w.abort([_RunFilesCommit(fragments=[(1, 0, 0, tmp)])])
    assert os.listdir(out) == []   # no finals, no temp dir


def _frag(tmpdir, run, rb, suffix, payload: bytes) -> tuple:
    os.makedirs(tmpdir, exist_ok=True)
    p = os.path.join(tmpdir, f"run{run}_rb{rb}_{suffix}.tmpfrag")
    with open(p, "wb") as fh:
        fh.write(payload)
    return (run, rb, suffix, p)


@pytest.mark.parametrize("stream", [False, True])
def test_commit_removes_fragments_named_in_no_message(tmp_path, stream):
    """A failed or speculative attempt leaves a fragment that no commit
    message names; commit must still build the final file from the
    committed attempt only and leave no temp directory behind. As in
    Spark, a batch commit runs on the tasks' (unpickled) writer, a stream
    commit on a writer built apart from it."""
    from project_etl_spark.pyds import (
        RunFilesStreamWriter, RunFilesWriter, _RunFilesCommit)

    out = str(tmp_path)
    cls = RunFilesStreamWriter if stream else RunFilesWriter
    tasks = cls({"path": out})
    _frag(tasks.tmpdir, 1, 0, "part000000_a0", b"XX")  # the failed attempt
    msgs = [_RunFilesCommit(
        fragments=[_frag(tasks.tmpdir, 1, 0, "part000000_a1", b"AAAAA")])]
    if stream:
        cls({"path": out}).commit(msgs, batchId=0)
    else:
        tasks.commit(msgs)
    final = os.path.join(out, "output_run_1_rb0.dat")
    assert open(final, "rb").read() == b"AAAAA"
    assert not os.path.exists(os.path.join(out, "_etl_tmp"))


def test_stream_writer_commit_is_replay_idempotent(tmp_path):
    """Re-delivering an acknowledged batch (Spark retrying after a driver
    failure post-commit) must append NOTHING a second time."""
    from project_etl_spark.pyds import RunFilesStreamWriter, _RunFilesCommit

    out = str(tmp_path)
    w = RunFilesStreamWriter({"path": out})
    tmpdir = w.tmpdir
    w.commit([_RunFilesCommit(
        fragments=[_frag(tmpdir, 1, 0, "part0_a0", b"AAAAA")])], batchId=0)
    final = os.path.join(out, "output_run_1_rb0.dat")
    assert open(final, "rb").read() == b"AAAAA"
    # replay of batch 0 with regenerated fragments: skipped via 'done'
    w.commit([_RunFilesCommit(
        fragments=[_frag(tmpdir, 1, 0, "part0_a1", b"AAAAA")])], batchId=0)
    assert open(final, "rb").read() == b"AAAAA"


def test_stream_writer_truncate_recovery_after_partial_append(tmp_path):
    """Crash between the intent record and the done record leaves a
    partial append; the retry must rewind the file to the recorded
    pre-append length before re-appending — exactly one materialized
    copy of the batch."""
    import json
    from project_etl_spark.pyds import RunFilesStreamWriter, _RunFilesCommit

    out = str(tmp_path)
    w = RunFilesStreamWriter({"path": out})
    tmpdir = w.tmpdir
    w.commit([_RunFilesCommit(
        fragments=[_frag(tmpdir, 1, 0, "part0_a0", b"AAAAA")])], batchId=0)
    final = os.path.join(out, "output_run_1_rb0.dat")
    # simulate a crashed attempt of batch 1: intent written, half the
    # payload appended, no done record
    with open(os.path.join(out, "_stream_commits.jsonl"), "a") as fh:
        fh.write(json.dumps({"batch": 1, "phase": "intent",
                             "pre": {"output_run_1_rb0.dat": 5}}) + "\n")
    with open(final, "ab") as fh:
        fh.write(b"BB")                       # partial append, then crash
    # Spark retries batch 1 with regenerated fragments
    w.commit([_RunFilesCommit(
        fragments=[_frag(tmpdir, 1, 0, "part0_a1", b"BBBBB")])], batchId=1)
    assert open(final, "rb").read() == b"AAAAA" + b"BBBBB"   # exactly once


# ---------------------------------------------------------------------------
# Crash-point sweep: a REAL streaming query killed at every commit-protocol
# stage, restarted from its checkpoint (round-7 verdict task 5 — the
# intent/done ledger claims exactly-once at ANY crash point; the unit tests
# above prove replay-idempotence and partial-append rewind in isolation,
# this drives the full engine loop through each failure).
# ---------------------------------------------------------------------------

def _register_crashy_format(spark):
    """Registers tests/_crashy_pyds.py's format (a standalone module so
    Spark's Python workers can unpickle the class by reference; shipped
    to them via addPyFile). The writer raises once at the configured
    protocol stage through the production writer's _crash_hook seam —
    every protocol line executed is the REAL one."""
    import sys
    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    spark.sparkContext.addPyFile(os.path.join(here, "_crashy_pyds.py"))
    from _crashy_pyds import CrashyRunFilesDataSource
    spark.dataSource.register(CrashyRunFilesDataSource)


def _run_stream_batch(spark, landing, out, ckpt, fmt="etl_runfiles_crashy",
                      **opts):
    q = (spark.readStream.format("etl_runfiles").option("path", landing)
         .load()
         .writeStream.format(fmt).option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True))
    for k, v in opts.items():
        q = q.option(k, v)
    drain(q.start())


def _census(spark, out):
    df = (spark.read.format("etl_runfiles").option("path", out).load()
          .where("kind <> 'filler'"))
    rows = [(r["run"], r["rb"], r["kind"], r["elink"], r["event_id"],
             r["row"], r["col"], r["toa"], r["tot"]) for r in df.collect()]
    return sorted(rows)


@pytest.mark.parametrize("crash_point", ["before_intent", "mid_append",
                                         "before_done", "after_done"])
def test_stream_sink_exactly_once_across_crash_points(spark, tmp_path,
                                                      crash_point):
    """Three micro-batches; the middle one is killed at `crash_point` and
    the query restarted from its checkpoint. The out directory must hold
    EXACTLY one materialized copy of every batch — byte-compared against
    a control run that never crashed."""
    from project_etl_spark.pyds import register_datasource

    register_datasource(spark)
    _register_crashy_format(spark)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    base = {"out": str(tmp_path / "out"), "ckpt": str(tmp_path / "ckpt")}
    ctrl = {"out": str(tmp_path / "out_ctrl"),
            "ckpt": str(tmp_path / "ckpt_ctrl")}
    for d in (base["out"], ctrl["out"]):
        os.makedirs(d)
    marker = str(tmp_path / "crash_fired")

    def both(fmt_opts_for_main):
        _run_stream_batch(spark, landing, base["out"], base["ckpt"],
                          **fmt_opts_for_main)
        _run_stream_batch(spark, landing, ctrl["out"], ctrl["ckpt"],
                          fmt="etl_runfiles")

    # batch 0: runs 1-2 (4 files), clean on both sides
    for run in (1, 2):
        for rb in (0, 1):
            write_run_file(landing, run=run, rb=rb, frames=FRAMES)
    both({})

    # batch 1: runs 3-4 — main side crashes at the configured stage...
    for run in (3, 4):
        for rb in (0, 1):
            write_run_file(landing, run=run, rb=rb, frames=FRAMES)
    with pytest.raises(Exception):
        _run_stream_batch(spark, landing, base["out"], base["ckpt"],
                          crash_point=crash_point, crash_marker=marker)
    assert os.path.exists(marker), "crash hook never fired"
    # ...and restarts from the checkpoint (crash disabled: marker exists)
    _run_stream_batch(spark, landing, base["out"], base["ckpt"],
                      crash_point=crash_point, crash_marker=marker)
    _run_stream_batch(spark, landing, ctrl["out"], ctrl["ckpt"],
                      fmt="etl_runfiles")

    # batch 2: run 5, clean again
    for rb in (0, 1):
        write_run_file(landing, run=5, rb=rb, frames=FRAMES)
    both({})

    assert _census(spark, base["out"]) == _census(spark, ctrl["out"])
    # byte-for-byte: exactly one copy of every appended batch per file
    for fname in sorted(os.listdir(ctrl["out"])):
        if not fname.endswith(".dat"):
            continue
        a = open(os.path.join(base["out"], fname), "rb").read()
        b = open(os.path.join(ctrl["out"], fname), "rb").read()
        assert a == b, f"{fname}: {len(a)} vs {len(b)} bytes"
    # the ledger holds exactly one done record per batch
    import json
    with open(os.path.join(base["out"], "_stream_commits.jsonl")) as fh:
        dones = [e["batch"] for e in map(json.loads, fh)
                 if e["phase"] == "done"]
    assert sorted(dones) == [0, 1, 2]
    # every committed micro-batch removed its temp fragments
    for side in (base, ctrl):
        assert not os.path.exists(os.path.join(side["out"], "_etl_tmp"))
