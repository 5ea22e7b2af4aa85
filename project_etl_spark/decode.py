"""Binary frame decode kernel (§2.10, §4.2).

The reference appends packed 32-bit words to binary run files
(``output_run_{run}_rb{rb}.dat``, DAQ_self-triggering.md:233-234), where the
wire unit is a 40-bit frame classified filler/header/data/trailer
(Documentation-Self-Triggering.html:51) and a data frame carries
(row, col, TOA 10-bit, TOT 9-bit) per hit (DAQ_self-triggering.md:344-347).

This module defines OUR wire format — a faithful re-expression, not a copy:

40-bit frame, big-endian, 5 bytes per frame:
    bits 38-39  kind        (0=filler, 1=header, 2=data, 3=trailer)
    bits 32-37  elink       (6 bits)
    data frame payload (kind=2):
        bits 28-31  row     (4 bits)
        bits 24-27  col     (4 bits)
        bits 14-23  toa     (10 bits)
        bits  5-13  tot     (9 bits)
        bits  0-4   reserved
    header frame payload (kind=1):
        bits  0-31  event_id (L1A counter, Documentation-Self-Triggering.html:163-166)

Spark-side: ``spark.read.format("binaryFile")`` -> Arrow-batched
``mapInPandas`` decode (numpy bit ops over the whole blob at once — no
per-frame Python loop) -> typed frame rows. (run, rb) recover from the file
name exactly like the reference's watchdog (DAQ_self-triggering.md:293-294).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FRAME_BYTES = 5
KIND_NAMES = {0: "filler", 1: "header", 2: "data", 3: "trailer"}

FILENAME_RE = re.compile(r"output_run_(\d+)_rb(\d+)\.dat$")

DECODED_FRAME_SCHEMA = T.StructType([
    T.StructField("run", T.IntegerType()),
    T.StructField("rb", T.IntegerType()),
    T.StructField("frame_index", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("elink", T.IntegerType()),
    T.StructField("event_id", T.LongType()),   # header frames; else null
    T.StructField("row", T.IntegerType()),     # data frames; else null
    T.StructField("col", T.IntegerType()),
    T.StructField("toa", T.IntegerType()),
    T.StructField("tot", T.IntegerType()),
])


# ---------------------------------------------------------------------------
# Encode (test/synthesis side)
# ---------------------------------------------------------------------------

def encode_frames(frames: list[dict]) -> bytes:
    """Pack frame dicts into the 40-bit wire format (golden-test generator)."""
    out = bytearray()
    for f in frames:
        kind = {v: k for k, v in KIND_NAMES.items()}[f["kind"]]
        word = (kind & 0x3) << 38 | (f.get("elink", 0) & 0x3F) << 32
        if f["kind"] == "data":
            word |= ((f["row"] & 0xF) << 28 | (f["col"] & 0xF) << 24
                     | (f["toa"] & 0x3FF) << 14 | (f["tot"] & 0x1FF) << 5)
        elif f["kind"] == "header":
            word |= f["event_id"] & 0xFFFFFFFF
        out += word.to_bytes(FRAME_BYTES, "big")
    return bytes(out)


def write_run_file(directory: str, run: int, rb: int, frames: list[dict]) -> str:
    path = os.path.join(directory, f"output_run_{run}_rb{rb}.dat")
    with open(path, "wb") as fh:
        fh.write(encode_frames(frames))
    return path


# ---------------------------------------------------------------------------
# Decode (engine side)
# ---------------------------------------------------------------------------

def _decode_blob(blob: bytes) -> dict[str, np.ndarray]:
    """Vectorized 40-bit frame decode: one numpy pass over the whole blob."""
    raw = np.frombuffer(blob, dtype=np.uint8)
    n = len(raw) // FRAME_BYTES
    raw = raw[: n * FRAME_BYTES].reshape(n, FRAME_BYTES).astype(np.int64)
    word = (raw[:, 0] << 32 | raw[:, 1] << 24 | raw[:, 2] << 16
            | raw[:, 3] << 8 | raw[:, 4])
    kind = (word >> 38) & 0x3
    is_data = kind == 2
    is_header = kind == 1
    return {
        "kind": kind,
        "elink": ((word >> 32) & 0x3F),
        "event_id": np.where(is_header, word & 0xFFFFFFFF, -1),
        "row": np.where(is_data, (word >> 28) & 0xF, -1),
        "col": np.where(is_data, (word >> 24) & 0xF, -1),
        "toa": np.where(is_data, (word >> 14) & 0x3FF, -1),
        "tot": np.where(is_data, (word >> 5) & 0x1FF, -1),
    }


_KIND_LOOKUP = np.array(["filler", "header", "data", "trailer"])


def _masked_int(vals: np.ndarray, dtype: str) -> pd.arrays.IntegerArray:
    """Sentinel (-1) -> proper NULL via a masked integer array. Keeping the
    column as a pandas nullable-int extension array (not object dtype from
    ``where(..., pd.NA)``) is what keeps the Arrow hand-off vectorized —
    object columns were a ~50x decode slowdown."""
    v = vals.astype(dtype)
    return pd.arrays.IntegerArray(v, vals < 0)


def blob_to_frames_pdf(path: str, blob: bytes,
                       drop_filler: bool = True) -> pd.DataFrame:
    """One run file -> decoded frame rows (shared by the batch and streaming
    decode paths, so wire-format changes apply to both). Pure numpy /
    nullable-array construction — no per-row Python, no object columns."""
    m = FILENAME_RE.search(path)
    run_no, rb = (int(m.group(1)), int(m.group(2))) if m else (-1, -1)
    d = _decode_blob(bytes(blob))
    kind = d["kind"]
    frame_index = np.arange(len(kind), dtype=np.int64)
    if drop_filler:
        keep = kind != 0
        kind = kind[keep]
        frame_index = frame_index[keep]
        d = {k: v[keep] for k, v in d.items() if k != "kind"}
    n = len(kind)
    return pd.DataFrame({
        "run": np.full(n, run_no, dtype=np.int32),
        "rb": np.full(n, rb, dtype=np.int32),
        "frame_index": frame_index,
        "kind": _KIND_LOOKUP[kind],
        "elink": d["elink"].astype(np.int32),
        "event_id": _masked_int(d["event_id"], "int64"),
        "row": _masked_int(d["row"], "int32"),
        "col": _masked_int(d["col"], "int32"),
        "toa": _masked_int(d["toa"], "int32"),
        "tot": _masked_int(d["tot"], "int32"),
    })


def decode_binary_frames(binary: DataFrame,
                         drop_filler: bool = True) -> DataFrame:
    """A ``binaryFile`` (path, content) frame, batch or streaming -> typed
    frame rows. The one decode step of both paths: each task decodes its
    files with one vectorized numpy pass (the reference's block-wise FIFO
    reads, DAQ_self-triggering.md:197-209, re-expressed as Arrow batches).
    Filler suppression mirrors the firmware's early discard
    (Documentation-Self-Triggering.html:51) — done before anything
    shuffles."""
    from project_etl_spark.session import _ship_package
    _ship_package(binary.sparkSession)  # the closure references this package

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                yield blob_to_frames_pdf(path, blob, drop_filler)

    return (binary.select("path", "content")
            .mapInPandas(run, DECODED_FRAME_SCHEMA))


def decode_run_files(spark: SparkSession, path_glob: str,
                     drop_filler: bool = True) -> DataFrame:
    """Binary run files -> typed frame DataFrame (``decode_binary_frames``
    over a batch ``binaryFile`` scan).

    Scale: files are split units (one task per file; ~1 run file each), so
    1000 executors decode 1000 runs concurrently; no driver involvement.
    """
    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.dat")
              .load(path_glob))
    return decode_binary_frames(binary, drop_filler)


def build_hits(frames: DataFrame) -> DataFrame:
    """Event building: attach each data frame to the latest preceding header's
    event_id within its (run, rb, elink) stream — the L1A grouping
    (DAQ_self-triggering.md:348-351). Window carry-forward, one shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (Window.partitionBy("run", "rb", "elink").orderBy("frame_index")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        frames.withColumn("evt", F.last("event_id", ignorenulls=True).over(w))
        .where(F.col("kind") == "data")
        .select("run", "rb", "elink", F.col("evt").alias("event_id"),
                "row", "col", "toa", "tot")
    )
