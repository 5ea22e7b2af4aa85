#!/usr/bin/env python
"""Regenerate the multimodal golden fixtures tests/fixtures/golden_*.parquet.

Each golden pins one `llm_multimodal` kernel to an independent answer.
The JVM-side payload assembly (`ppm_payloads` / `pcm_payloads`) is
replicated in pure Python, and every metric comes from a plain-loop twin
(here or in tools/spectral_twins.py) that shares no code with the numpy
kernel the query runs, so a kernel bug fails the fixture-backed oracle
instead of being baked into the fixture.

One layout serves every golden: the distinct (doc_id, md5(text)) over
EVERY fixture scale, in key order, one row per key with the declared
schema. The oracles join that key against the registered documents
view, so one SQL string is exact at any scale. `GOLDENS` maps each file
to its payload twin, metric twin and schema; adding a golden is one
entry. RUN THIS whenever the driver regenerates /root/testdata (the
texts, and therefore every payload byte, change with it):

    python tools/gen_golden.py
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.spectral_twins import (ppm_ahash_py, ppm_decode_py, ppm_dhash_py,
                                  ppm_phash_py, pcm_flatness_py)

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1")
FIXTURES = os.path.join(REPO, "tests", "fixtures")

CLIP_THRESHOLD = 30000


def corpus() -> list[tuple[int, str, str]]:
    """The distinct (doc_id, text_md5, text) over every scale, in key
    order — the row set and row order of every golden."""
    texts: dict[tuple[int, str], str] = {}
    for sf_dir in SF_DIRS:
        tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                            columns=["doc_id", "text"])
        for doc_id, text in zip(tbl["doc_id"].to_pylist(),
                                tbl["text"].to_pylist()):
            text_md5 = hashlib.md5(text.encode("utf-8")).hexdigest()
            texts.setdefault((doc_id, text_md5), text)
    return [(doc_id, text_md5, text)
            for (doc_id, text_md5), text in sorted(texts.items())]


# ---------------------------------------------------------------------------
# Payload twins
# ---------------------------------------------------------------------------

def ppm_payload_py(doc_id: int, text: str) -> bytes:
    """Pure-Python twin of `ppm_payloads`: width/height from the row,
    pixel bytes = utf-8 of the space-padded text, byte-truncated to
    exactly width*height*3."""
    w = 4 + doc_id % 5
    h = 4 + len(text) % 5
    need = w * h * 3
    px = text.ljust(need)[:need].encode("utf-8")[:need]
    return (f"P6\n{w} {h}\n255\n").encode() + px


def pcm_payload_py(doc_id: int, text: str) -> bytes:
    """Pure-Python twin of `pcm_payloads`."""
    n = 64 + doc_id % 64
    need = 2 * n
    smp = text.ljust(need)[:need].encode("utf-8")[:need]
    return f"PCM\n{n}\n".encode() + smp


# ---------------------------------------------------------------------------
# Metric twins (plain Python, no numpy, no reuse of the kernels)
# ---------------------------------------------------------------------------

def channel_hist_py(blob: bytes) -> dict:
    """Pure-Python channel histogram twin (loops, no numpy)."""
    # parse the P6 header: three whitespace-separated tokens after "P6"
    assert blob[:2] == b"P6"
    idx = 2
    fields = []
    while len(fields) < 3:
        while blob[idx : idx + 1].isspace():
            idx += 1
        start = idx
        while not blob[idx : idx + 1].isspace():
            idx += 1
        fields.append(int(blob[start:idx]))
    idx += 1                      # the single whitespace after maxval
    width, height, maxval = fields
    px = blob[idx : idx + width * height * 3]
    out = {"width": width, "height": height}
    totals = [0, 0, 0]
    for c, name in enumerate("rgb"):
        bins = [0, 0, 0, 0]
        for i in range(c, len(px), 3):
            v = px[i]
            bins[v >> 6] += 1
            totals[c] += v
        for b in range(4):
            out[f"{name}{b}"] = bins[b]
    best = 0
    for c in (1, 2):
        if totals[c] > totals[best]:
            best = c
    out["dominant_channel"] = best
    return out


def luma_entropy_py(blob: bytes) -> dict:
    """Pure-Python luma-entropy twin (loops, no numpy)."""
    assert blob[:2] == b"P6"
    idx = 2
    fields = []
    while len(fields) < 3:
        while blob[idx : idx + 1].isspace():
            idx += 1
        start = idx
        while not blob[idx : idx + 1].isspace():
            idx += 1
        fields.append(int(blob[start:idx]))
    idx += 1
    width, height, _maxval = fields
    px = blob[idx : idx + width * height * 3]
    bins = [0] * 16
    n = 0
    for i in range(0, len(px), 3):
        luma = (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
        bins[luma >> 4] += 1
        n += 1
    h = 0.0
    for c in bins:
        if c > 0:
            h += c * math.log(n / c)
    return {"width": width, "height": height, "n_pixels": n,
            "n_bins_used": sum(1 for c in bins if c > 0),
            "h_micro": math.floor(h / n * 1e6 + 0.5)}


def clipping_for(blob: bytes) -> dict:
    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    body = blob[nl2 + 1:nl2 + 1 + 2 * n]
    x = list(struct.unpack(f"<{n}h", body))
    n_clipped = sum(1 for v in x if abs(v) >= CLIP_THRESHOLD)
    return {"n_samples": n, "n_clipped": n_clipped,
            "clip_permille": (2000 * n_clipped + n) // (2 * n),
            "peak_abs": max(abs(v) for v in x),
            "sum_samples": sum(x)}


def sum_sq_py(blob: bytes) -> tuple[int, int]:
    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    body = blob[nl2 + 1:nl2 + 1 + 2 * n]
    total = 0
    for (v,) in struct.iter_unpack("<h", body):
        total += v * v
    return n, total


def energy_for(blob: bytes) -> dict:
    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    body = blob[nl2 + 1:nl2 + 1 + 2 * n]
    x = list(struct.unpack(f"<{n}h", body))
    n_frames = n // 16
    frame_sq = [sum(v * v for v in x[f * 16:(f + 1) * 16])
                for f in range(n_frames)]
    return {"n_samples": n, "n_frames": n_frames,
            "peak_abs": max(abs(v) for v in x),
            "total_sumsq": sum(frame_sq),
            "max_frame_sumsq": max(frame_sq)}


def vad_for(blob: bytes) -> dict:
    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    body = blob[nl2 + 1:nl2 + 1 + 2 * n]
    x = list(struct.unpack(f"<{n}h", body))
    n_frames = n // 16
    s = [sum(v * v for v in x[f * 16:(f + 1) * 16]) for f in range(n_frames)]
    total = sum(s)
    active = [e * n_frames > total for e in s]
    segments, run, first = [], 0, -1
    for i, a in enumerate(active):
        if a:
            run += 1
            if first < 0:
                first = i
        elif run:
            segments.append(run)
            run = 0
    if run:
        segments.append(run)
    return {"n_frames": n_frames, "n_active": sum(active),
            "n_segments": len(segments),
            "longest_segment": max(segments) if segments else 0,
            "first_active_frame": first}


# ---------------------------------------------------------------------------
# The goldens: file -> (payload twin, metric twin, schema)
# ---------------------------------------------------------------------------

def _schema(*cols: tuple[str, pa.DataType]) -> pa.Schema:
    """The key columns, then the golden's own columns."""
    return pa.schema([("doc_id", pa.int64()), ("text_md5", pa.string()),
                      *cols])


def _typed(dtype: pa.DataType, *names: str) -> list[tuple[str, pa.DataType]]:
    return [(n, dtype) for n in names]


I32, I64, F64 = pa.int32(), pa.int64(), pa.float64()

GOLDENS = {
    # ext_multimodal_decode
    "golden_ppm_stats.parquet": (
        ppm_payload_py,
        lambda blob: {**ppm_decode_py(blob), "n_bytes": len(blob)},
        _schema(*_typed(I32, "width", "height", "maxval"),
                *_typed(F64, "mean_r", "mean_g", "mean_b",
                        "luma_min", "luma_max"),
                ("n_bytes", I64))),
    # ext_image_ahash
    "golden_ahash.parquet": (
        ppm_payload_py, ppm_ahash_py,
        _schema(("width", I32), ("height", I32), ("ahash", I64),
                ("n_set_bits", I32))),
    # ext_image_dhash
    "golden_dhash.parquet": (
        ppm_payload_py, ppm_dhash_py,
        _schema(("width", I32), ("height", I32), ("dhash", I64),
                ("n_set_bits", I32))),
    # ext_image_phash_dct
    "golden_phash.parquet": (
        ppm_payload_py, ppm_phash_py,
        _schema(("width", I32), ("height", I32), ("phash", I64),
                ("n_set_bits", I32), ("dc_q", I64))),
    # ext_image_entropy
    "golden_entropy.parquet": (
        ppm_payload_py, luma_entropy_py,
        _schema(*_typed(I64, "width", "height", "n_pixels", "n_bins_used",
                        "h_micro"))),
    # ext_image_channel_hist
    "golden_channel_hist.parquet": (
        ppm_payload_py, channel_hist_py,
        _schema(("width", I32), ("height", I32),
                *_typed(I64, *(f"{n}{b}" for n in "rgb" for b in range(4))),
                ("dominant_channel", I32))),
    # ext_audio_energy
    "golden_pcm_energy.parquet": (
        pcm_payload_py, energy_for,
        _schema(*_typed(I64, "n_samples", "n_frames", "peak_abs",
                        "total_sumsq", "max_frame_sumsq"))),
    # ext_audio_clipping
    "golden_clipping.parquet": (
        pcm_payload_py, clipping_for,
        _schema(("n_samples", I32), ("n_clipped", I32),
                ("clip_permille", I64), ("peak_abs", I32),
                ("sum_samples", I64))),
    # ext_audio_spectral_flatness
    "golden_flatness.parquet": (
        pcm_payload_py, pcm_flatness_py,
        _schema(*_typed(I64, "n_frames", "mean_flatness_micro",
                        "min_flatness_micro", "n_tonal_frames"))),
    # ext_audio_gain_normalize
    "golden_gain.parquet": (
        pcm_payload_py,
        lambda blob: dict(zip(("n_samples", "sum_sq"), sum_sq_py(blob))),
        _schema(("n_samples", I64), ("sum_sq", I64))),
    # ext_audio_vad_segments
    "golden_vad.parquet": (
        pcm_payload_py, vad_for,
        _schema(*_typed(I32, "n_frames", "n_active", "n_segments",
                        "longest_segment", "first_active_frame"))),
}


def write_golden(name: str, docs: list[tuple[int, str, str]],
                 out_dir: str = FIXTURES) -> str:
    """Write golden `name` over `docs` (from `corpus`) into `out_dir`:
    one row per document, the key then the schema's columns taken from
    the metric twin's dict."""
    payload, metric, schema = GOLDENS[name]
    cols = schema.names[2:]
    rows = []
    for doc_id, text_md5, text in docs:
        m = metric(payload(doc_id, text))
        rows.append({"doc_id": doc_id, "text_md5": text_md5,
                     **{c: m[c] for c in cols}})
    path = os.path.join(out_dir, name)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


def main() -> None:
    docs = corpus()
    for name in GOLDENS:
        path = write_golden(name, docs)
        print(f"{path}: {len(docs)} rows over {len(SF_DIRS)} scales")


if __name__ == "__main__":
    main()
