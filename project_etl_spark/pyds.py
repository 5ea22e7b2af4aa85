"""Spark 4 Python DataSource for packed binary run files (§2.1).

The reference's acquisition layer appends packed 32-bit words to
``output_run_{run}_rb{rb}.dat`` files (DAQ_self-triggering.md:233-234,
:293-294) and a watchdog tails the landing directory
(DAQ_self-triggering.md:306-311). The engine already reads that format via
``binaryFile`` + ``mapInPandas`` (``decode.decode_run_files``); this module
re-expresses the same source as a first-class **table format** through the
Spark 4 Python DataSource API, so a user writes

    spark.read.format("etl_runfiles").option("path", dir).load()
    spark.readStream.format("etl_runfiles").option("path", dir).load()

and gets typed frame rows directly — no intermediate blob column.

Scale design:

- **Batch**: one ``InputPartition`` per run file — the natural parallel unit
  (a 1000-executor cluster decodes 1000 files concurrently; the reference's
  per-(run, rb) file layout guarantees the split is clean). ``read`` yields
  **Arrow RecordBatches** built by the shared vectorized numpy kernel
  (``decode.blob_to_frames_pdf``) — no per-row Python.
- **Filter pushdown**: ``pushFilters`` accepts equality/comparison
  predicates on the filename-derived ``run``/``rb`` columns and prunes
  whole files at planning time — the Python-source analog of partition
  pruning (zero bytes read for pruned runs). All other filters stay with
  Spark.
- **Streaming**: a ``DataSourceStreamReader`` whose offset is the ledger
  of admitted landing-dir files — the watchdog's "which files have I
  consumed" record re-expressed as a replayable offset, giving
  exactly-once file admission through the checkpoint. The driver only
  lists the directory; each newly-landed file is one InputPartition
  decoded on an executor, exactly like the batch reader.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from project_etl_spark.decode import (
    DECODED_FRAME_SCHEMA,
    FILENAME_RE,
    blob_to_frames_pdf,
)

FORMAT_NAME = "etl_runfiles"


def _list_run_files(path: str) -> list[str]:
    """Landing-dir listing sorted NUMERICALLY by parsed (run, rb), then
    name (driver-side, like any file-source index). Numeric sort makes
    partition order deterministic and independent of zero-padding —
    ``run_10`` sorts after ``run_2``, unlike the lexicographic listing."""
    files = glob.glob(os.path.join(path, "output_run_*_rb*.dat"))
    return sorted(files, key=lambda p: (*_file_run_rb(p), p))


def _consumed_set(offset: dict) -> set:
    """Offset dict -> set of consumed basenames. Streaming offsets are a
    monotonic LEDGER of admitted filenames, not an index into the current
    listing: a late file that sorts before already-admitted ones (run 1
    landing after run 2 was consumed) is simply absent from the ledger and
    gets admitted next micro-batch, and no admitted file is ever re-read —
    the exactly-once admission contract holds under any arrival order. The
    ledger grows with the file count; at 100 TB retention scale you would
    compact it to a (run, rb) watermark plus a recent-files grace set.

    An offset dict WITHOUT a ``files`` key is a checkpoint this reader
    cannot interpret — e.g. the pre-ledger ``{"index": n}`` format.
    Reinterpreting it as an empty ledger would silently re-admit every
    already-consumed file (duplicating data), so fail loudly instead,
    like Spark's FileStreamSource does on an unreadable offset log."""
    if "files" not in offset:
        raise ValueError(
            "etl_runfiles: unrecognized streaming offset %r — expected a "
            "{'files': [...]} consumed-file ledger. A legacy {'index': n} "
            "checkpoint cannot be resumed safely (the listing it indexed "
            "into is gone); restart the query with a fresh checkpoint "
            "location." % (sorted(offset),))
    return set(offset["files"])


def _required_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("etl_runfiles: a directory is required — "
                         ".option('path', <dir>), .load(<dir>) or "
                         ".save(<dir>)")
    return path


def _file_run_rb(path: str) -> tuple[int, int]:
    m = FILENAME_RE.search(path)
    return (int(m.group(1)), int(m.group(2))) if m else (-1, -1)


def _keep_file(path: str, pruners: list[tuple[str, str, object]]) -> bool:
    """Apply pushed run/rb predicates to filename metadata only."""
    meta = dict(zip(("run", "rb"), _file_run_rb(path)))
    for col, op, val in pruners:
        x = meta[col]
        ok = {
            "=": lambda: x == val,
            "in": lambda: x in val,
            "<": lambda: x < val,
            "<=": lambda: x <= val,
            ">": lambda: x > val,
            ">=": lambda: x >= val,
        }[op]()
        if not ok:
            return False
    return True


class _RunFilePartition(InputPartition):
    def __init__(self, path: str, drop_filler: bool):
        self.path = path
        self.drop_filler = drop_filler


def _arrow_batches(path: str, drop_filler: bool):
    """One run file -> Arrow RecordBatches via the shared numpy kernel
    (executor-side; used by the batch and the stream reader)."""
    import pyarrow as pa
    with open(path, "rb") as fh:
        blob = fh.read()
    pdf = blob_to_frames_pdf(path, blob, drop_filler=drop_filler)
    yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)


class RunFilesReader(DataSourceReader):
    """Partition-per-file Arrow batch reader."""

    def __init__(self, options: dict):
        self.path = _required_path(options)
        self.drop_filler = str(options.get("dropfiller", "true")).lower() != "false"
        self.pruners: list[tuple[str, str, object]] = []

    def partitions(self) -> Sequence[InputPartition]:
        files = [p for p in _list_run_files(self.path)
                 if _keep_file(p, self.pruners)]
        return [_RunFilePartition(p, self.drop_filler) for p in files]

    def read(self, partition: _RunFilePartition):
        return _arrow_batches(partition.path, partition.drop_filler)


class RunFilesPushdownReader(RunFilesReader):
    """The pruning variant. Spark refuses ANY reader that defines
    ``pushFilters`` while ``spark.sql.python.filterPushdown.enabled`` is
    false, so pushdown lives in this opt-in subclass
    (``.option("pushdown", "true")`` + the conf) and the base reader stays
    usable in a vanilla session."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept filename-metadata predicates (run/rb); whole files are
        skipped in partitions() — zero bytes read for pruned runs. Every
        other filter is returned to Spark unchanged."""
        ops = {EqualTo: "=", In: "in", LessThan: "<", LessThanOrEqual: "<=",
               GreaterThan: ">", GreaterThanOrEqual: ">="}
        for f in filters:
            op = ops.get(type(f))
            col = f.attribute[0] if op and len(f.attribute) == 1 else None
            if op and col in ("run", "rb"):
                val = set(f.value) if isinstance(f, In) else f.value
                self.pruners.append((col, op, val))
            else:
                yield f  # not ours — Spark keeps it


class RunFilesPartitionedStreamReader(DataSourceStreamReader):
    """Offset = sorted ledger of landing-dir basenames already admitted
    (see ``_consumed_set`` for why a ledger, not a listing index).
    Micro-batch work is planned as one InputPartition per newly-landed
    file and DECODED ON EXECUTORS as Arrow batches — on a real cluster a
    burst of landed run files fans out across the fleet, while the driver
    only lists the directory."""

    def __init__(self, options: dict):
        self.path = _required_path(options)
        self.drop_filler = str(options.get("dropfiller", "true")).lower() != "false"

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": sorted(os.path.basename(p)
                                for p in _list_run_files(self.path))}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        batch = _consumed_set(end) - _consumed_set(start)
        files = [p for p in _list_run_files(self.path)
                 if os.path.basename(p) in batch]
        return [_RunFilePartition(p, self.drop_filler) for p in files]

    def read(self, partition: _RunFilePartition):
        return _arrow_batches(partition.path, partition.drop_filler)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint carries the offset; nothing external to ack


@dataclass
class _RunFilesCommit(WriterCommitMessage):
    """Per-task commit message: which temp fragments this task produced,
    keyed by (run, rb, fragment suffix) so the driver can assemble final
    files in a deterministic fragment order."""
    fragments: list = field(default_factory=list)  # (run, rb, suffix, tmp)


def _concat(final: str, fragments: list[str], mode: str) -> None:
    with open(final, mode) as out:
        for tmp in fragments:
            with open(tmp, "rb") as fh:
                out.write(fh.read())


class _FragmentSink:
    """The fragment bookkeeping both writers share. Executors group their
    rows by (run, rb), pack them with the shared 40-bit packer
    (``decode.encode_frames`` — the same single source of truth the
    golden-fixture generator uses) and write TEMP fragments under
    ``<path>/_etl_tmp``; nothing lands under a final name. The driver
    groups the fragments per final file and removes them afterwards."""

    def __init__(self, options: dict):
        self.path = _required_path(options)

    def write(self, iterator) -> _RunFilesCommit:
        from pyspark import TaskContext

        from project_etl_spark.decode import encode_frames
        ctx = TaskContext.get()
        # zero-padded so fragment order is partition order; the attempt id
        # keeps two attempts of one task (retry, speculation) off one file
        suffix = f"part{ctx.partitionId():06d}_a{ctx.taskAttemptId()}"
        tmpdir = os.path.join(self.path, "_etl_tmp")
        os.makedirs(tmpdir, exist_ok=True)
        groups: dict[tuple, list[dict]] = {}
        for row in iterator:
            frame = {"kind": row["kind"], "elink": int(row["elink"] or 0)}
            if row["kind"] == "data":
                frame.update(row=int(row["row"]), col=int(row["col"]),
                             toa=int(row["toa"]), tot=int(row["tot"]))
            elif row["kind"] == "header":
                frame["event_id"] = int(row["event_id"])
            groups.setdefault((int(row["run"]), int(row["rb"])),
                              []).append(frame)
        msg = _RunFilesCommit()
        for (run, rb), frames in sorted(groups.items()):
            tmp = os.path.join(tmpdir, f"run{run}_rb{rb}_{suffix}.tmpfrag")
            with open(tmp, "wb") as fh:
                fh.write(encode_frames(frames))
            msg.fragments.append((run, rb, suffix, tmp))
        return msg

    def _final_files(self, messages) -> dict[str, list[str]]:
        """Final file path -> its temp fragments in partition order, files
        in (run, rb) order. Failed tasks send no message (None)."""
        by_key: dict[tuple, list] = {}
        for m in filter(None, messages):
            for run, rb, suffix, tmp in m.fragments:
                by_key.setdefault((run, rb), []).append((suffix, tmp))
        return {os.path.join(self.path, f"output_run_{run}_rb{rb}.dat"):
                [tmp for _, tmp in sorted(frags)]
                for (run, rb), frags in sorted(by_key.items())}

    def _cleanup(self, messages) -> None:
        for m in filter(None, messages):
            for *_, tmp in m.fragments:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        try:
            os.rmdir(os.path.join(self.path, "_etl_tmp"))
        except OSError:
            pass


class RunFilesWriter(_FragmentSink, DataSourceWriter):
    """Batch WRITE side of the custom format — the reference's merge step
    (decoded hits back to per-(run, rb) binary files,
    DAQ_self-triggering.md:288-301) as a first-class ``df.write.format``
    target, with the full two-phase commit protocol: executors write temp
    fragments (``_FragmentSink.write``); ``commit`` (driver) concatenates
    them per (run, rb) in partition order into
    ``output_run_{run}_rb{rb}.dat`` — frames are a self-delimiting stream,
    so concatenation IS merge — then removes the temps. A failed job never
    leaves partial final files (``abort`` deletes fragments), which is the
    sink atomicity contract Spark's own file sinks get from their commit
    protocol.

    Scale note: repartition the input by (run, rb) so each final file is
    one fragment and the driver-side commit is a pure rename-cost loop;
    an unpartitioned write still commits correctly (fragment concat), it
    just moves the merge cost to the driver — same trade the reference's
    single-node merge step makes."""

    def commit(self, messages) -> None:
        for final, fragments in self._final_files(messages).items():
            _concat(final, fragments, "wb")
        self._cleanup(messages)

    def abort(self, messages) -> None:
        self._cleanup(messages)


class RunFilesStreamWriter(_FragmentSink, DataSourceStreamWriter):
    """STREAMING sink for the custom format with genuinely exactly-once
    per-(run, rb) file APPEND — the reference's acquisition loop (append
    packed words to the run file, note progress in the daq_log ledger,
    DAQ_self-triggering.md:224-237, :313-314) with a crash-safe twist:

    Appending to a single growing file cannot be made atomic by rename,
    so the commit uses WAL-style truncate-recovery. Per micro-batch:

    1. If the ledger (``_stream_commits.jsonl``) already holds a ``done``
       record for this batchId: Spark is replaying an acknowledged batch
       — drop the fragments, append nothing (idempotent replay).
    2. If it holds an ``intent`` but no ``done``: a previous attempt
       crashed mid-append — TRUNCATE every touched file back to the
       recorded pre-append length, erasing the partial append.
    3. Write an ``intent`` record ({file: current length}), fsync.
    4. Append the batch's fragments (partition order).
    5. Write the ``done`` record, fsync.

    Any crash point replays to exactly one materialized copy of the
    batch: before 3 -> nothing happened; between 3 and 5 -> step 2
    erases the partial append on retry; after 5 -> step 1 skips. The
    ledger is the single source of truth, exactly the role the
    reference's ``daq_log.txt`` plays for its merge step."""

    def _ledger_path(self) -> str:
        return os.path.join(self.path, "_stream_commits.jsonl")

    def _ledger(self) -> list[dict]:
        import json
        try:
            with open(self._ledger_path()) as fh:
                return [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            return []

    def _ledger_append(self, entry: dict) -> None:
        import json
        with open(self._ledger_path(), "a") as fh:
            fh.write(json.dumps(entry, sort_keys=True) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def _crash_hook(self, stage: str) -> None:
        """Test seam: the crash-point sweep in tests/test_pyds.py
        subclasses this writer and raises here to simulate a driver
        failure at each protocol stage (before_intent / mid_append /
        before_done / after_done). The production writer never acts on
        it."""
        return

    def commit(self, messages, batchId: int) -> None:
        entries = self._ledger()
        if any(e["batch"] == batchId and e["phase"] == "done"
               for e in entries):
            self._cleanup(messages)          # acknowledged replay: no-op
            return
        finals = self._final_files(messages)
        intents = [e for e in entries
                   if e["batch"] == batchId and e["phase"] == "intent"]
        if intents:                          # crashed mid-append: rewind
            for fname, pre_len in intents[-1]["pre"].items():
                full = os.path.join(self.path, fname)
                if os.path.exists(full) and os.path.getsize(full) > pre_len:
                    with open(full, "ab") as fh:
                        fh.truncate(pre_len)
        self._crash_hook("before_intent")
        pre = {os.path.basename(f):
               (os.path.getsize(f) if os.path.exists(f) else 0)
               for f in finals}
        self._ledger_append({"batch": batchId, "phase": "intent",
                             "pre": pre})
        for i, (final, fragments) in enumerate(finals.items()):
            _concat(final, fragments, "ab")
            if i == 0:
                self._crash_hook("mid_append")
        self._crash_hook("before_done")
        self._ledger_append({"batch": batchId, "phase": "done"})
        self._crash_hook("after_done")
        self._cleanup(messages)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


class RunFilesDataSource(DataSource):
    """``format("etl_runfiles")`` — batch + streaming typed frame source
    and frame sink."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return DECODED_FRAME_SCHEMA

    def reader(self, schema: StructType) -> RunFilesReader:
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return RunFilesPushdownReader(self.options)
        return RunFilesReader(self.options)

    def streamReader(self, schema: StructType) -> RunFilesPartitionedStreamReader:
        return RunFilesPartitionedStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> RunFilesWriter:
        return RunFilesWriter(self.options)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> RunFilesStreamWriter:
        return RunFilesStreamWriter(self.options)


def register_datasource(spark) -> None:
    """Idempotent format registration (re-register replaces, which is fine —
    the class is stateless)."""
    spark.dataSource.register(RunFilesDataSource)
