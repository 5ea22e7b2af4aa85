"""§2.11 [EXT] Multimodal columns.

Pattern: media (image/audio/video) ride as opaque ``binary`` columns with a
typed metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas``.

The codec is a REAL pure-Python parser for binary P6 PPM images
(``ppm_decode``: magic + comment-tolerant header + raw RGB24 payload,
numpy pixel statistics) — no external decode libraries needed. Compressed
formats (JPEG/PNG/video) would need PIL/ffmpeg, absent from this
container; their decode would slot into the same ``decode_media`` batch
contract (bytes in, typed row out) unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_etl_spark.io import table
from project_etl_spark.registry import register
from project_etl_spark.session import ensure_deterministic

# Typed metadata carried next to every media payload.
MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("checksum", T.StringType()),
])


@register(
    "ext_multimodal_struct",
    oracle="""
        SELECT d.doc_id,
               d.lang,
               d.n_chars,
               octet_length(encode(d.text)) AS payload_bytes,
               md5(d.text) AS checksum,
               CAST(len(e.embedding) AS INT) AS emb_dim,
               e.label
        FROM documents d
        JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("ext", "multimodal"),
)
def ext_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: binary payload (+byte length), typed
    metadata struct, and the embedding — built as nested structs, then
    projected back out (struct field access is hash-checked via the
    flattened columns)."""
    ensure_deterministic(spark)
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    bundled = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id", "lang", "n_chars", "label", "embedding",
            F.struct(
                F.lit("text/plain").alias("media_type"),
                F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
                F.md5("text").alias("checksum"),
            ).alias("meta"),
        )
    )
    return bundled.select(
        "doc_id", "lang", "n_chars",
        F.col("meta.n_bytes").alias("payload_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.size("embedding").alias("emb_dim"),
        "label",
    )


def ppm_encode(width: int, height: int, pixels: bytes) -> bytes:
    """Build a binary P6 PPM image: ASCII header + raw RGB24 rows.
    ``pixels`` must be exactly ``width * height * 3`` bytes."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"pixel buffer is {len(pixels)} bytes, "
                         f"need {width * height * 3}")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def _ppm_parse(blob: bytes):
    """Shared P6 PPM parser: header (magic, then three whitespace-separated
    integers — width, height, maxval — tolerating ``#`` comment lines, per
    the netpbm spec), then the raw RGB24 payload as a (n_pixels, 3) float64
    array. Feeds both ``ppm_decode`` and ``ppm_ahash``."""
    import numpy as np

    if not blob:
        raise ValueError("empty payload: nothing to decode")
    if blob[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {blob[:2]!r})")

    # header tokenizer: whitespace-separated fields, '#' starts a comment
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos:pos + 1].isspace():
            pos += 1
        if pos >= len(blob):
            raise ValueError("truncated PPM header")
        if blob[pos:pos + 1] == b"#":
            while pos < len(blob) and blob[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw pixels

    width, height, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported maxval {maxval} (1-byte samples only)")
    n = width * height * 3
    if len(blob) - pos < n:
        raise ValueError(f"truncated pixel data: {len(blob) - pos} < {n}")
    px = np.frombuffer(blob, dtype=np.uint8, offset=pos, count=n)
    return width, height, maxval, px.reshape(-1, 3).astype(np.float64)


def ppm_decode(blob: bytes) -> dict:
    """Real pure-Python P6 PPM decode: parse, then numpy-reduce the RGB24
    payload to per-channel means and a luminance range."""
    width, height, maxval, rgb = _ppm_parse(blob)
    # ELEMENTWISE luma, deliberately not `rgb @ coeffs`: BLAS dgemv picks
    # size/alignment-dependent accumulation orders, so matmul results can
    # differ in the last bit between runs of different N — elementwise
    # mul+add is one fixed IEEE sequence per pixel, reproducible anywhere.
    luma = (rgb[:, 0] * 0.299 + rgb[:, 1] * 0.587 + rgb[:, 2] * 0.114)
    return {
        "width": width, "height": height, "maxval": maxval,
        "mean_r": float(rgb[:, 0].mean()),
        "mean_g": float(rgb[:, 1].mean()),
        "mean_b": float(rgb[:, 2].mean()),
        "luma_min": float(luma.min()),
        "luma_max": float(luma.max()),
    }


DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("maxval", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("luma_min", T.DoubleType()),
    T.StructField("luma_max", T.DoubleType()),
    T.StructField("n_bytes", T.LongType()),
])


def decode_media(df: DataFrame, id_col: str = "doc_id",
                 payload_col: str = "payload") -> DataFrame:
    """Arrow-batched media decode over ``mapInPandas``: each batch of binary
    payloads is decoded in one Python round-trip. This is the template for
    image resize / audio feature-extraction / video frame-sampling at scale:
    partition on the id, bound batch memory with
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    from project_etl_spark.session import _ship_package
    _ship_package(df.sparkSession)

    cols = ["width", "height", "maxval", "mean_r", "mean_g", "mean_b",
            "luma_min", "luma_max"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_decode(b) for b in pdf[payload_col]]
            out = {"doc_id": pdf[id_col].astype("int64")}
            out.update({c: [m[c] for m in meta] for c in cols})
            out["n_bytes"] = [len(b) for b in pdf[payload_col]]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, DECODED_SCHEMA)


@register(
    "ext_frame_sample",
    oracle="""
        WITH f AS (
            SELECT doc_id,
                   text,
                   CAST(ceil(length(text) / 32e0) AS INT) AS n_frames
            FROM documents
            WHERE length(text) > 0
        ),
        idx AS (
            SELECT doc_id, text,
                   unnest(range(0, n_frames, 4)) AS frame_no
            FROM f
        )
        SELECT doc_id,
               CAST(frame_no AS INT) AS frame_no,
               md5(substring(text, CAST(frame_no * 32 + 1 AS INT), 32))
                   AS frame_md5,
               CAST(length(substring(text, CAST(frame_no * 32 + 1 AS INT), 32))
                    AS INT) AS frame_len
        FROM idx
    """,
    tags=("ext", "multimodal", "sampling"),
)
def ext_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as byte-range reads: fixed 32-byte frames over the
    payload, keep every 4th — compute the sampled offsets row-locally
    (``sequence``), then slice ONLY those ranges. This is the shape that
    matters at 100 TB video: the sampled offsets are known before any
    decode, so a smart reader fetches k/4 of the bytes instead of
    materializing every frame and filtering. The fixture payload is the
    ASCII text column (1 byte/char), which keeps the slice+md5 algebra
    identical in both engines; on real media the same expressions run on
    the ``binary`` column (Spark's substring/md5 accept binary)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    nf = F.ceil(F.length("text") / F.lit(32)).cast("int")
    # empty payload -> zero frames (Spark's sequence would reject 0..-1)
    frames = (docs.where(F.length("text") > 0)
              .withColumn("n_frames", nf)
              .select("doc_id", "text",
                      F.explode(F.sequence(
                          F.lit(0), F.col("n_frames") - 1, F.lit(4)))
                      .alias("frame_no")))
    frame = F.expr("substring(text, frame_no * 32 + 1, 32)")
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.md5(frame).alias("frame_md5"),
        F.length(frame).cast("int").alias("frame_len"),
    )


def ppm_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a REAL binary P6 PPM per document, synthesized
    entirely JVM-side: width/height derived from the row, pixel bytes are
    the document's own utf-8 bytes space-padded/truncated to exactly
    width*height*3 — so each payload is a well-formed image a real PPM
    reader (or ``ppm_decode``) parses."""
    w = (F.lit(4) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(4) + F.length("text") % 5).cast("int")
    need = (w * h * F.lit(3)).cast("int")
    header = F.encode(
        F.concat_ws("", F.lit("P6\n"), w.cast("string"), F.lit(" "),
                    h.cast("string"), F.lit("\n255\n")), "UTF-8")
    # rpad pads AND truncates to char length; the byte-level substring then
    # pins exactly `need` bytes even if the text had multi-byte chars.
    px = F.expr("substring(encode(rpad(text, need, ' '), 'UTF-8'), 1, need)")
    return (docs.select("doc_id", "text")
            .withColumn("need", need)
            .select("doc_id", F.concat(header, px).alias("payload")))


@register(
    "ext_multimodal_decode",
    oracle="""
        SELECT f.doc_id, f.width, f.height, f.maxval,
               f.mean_r, f.mean_g, f.mean_b, f.luma_min, f.luma_max,
               f.n_bytes
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_ppm_stats.parquet') f
        JOIN documents d
          ON f.doc_id = d.doc_id AND f.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal"),
)
def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode pipeline: synthesize a real P6 PPM payload per
    document (JVM-side byte assembly), then Arrow-batched ``ppm_decode`` to
    typed metadata + pixel-stat rows. Hash-checked end to end: the golden
    fixture was computed by replicating the payload assembly independently
    in pure Python over every fixture scale and decoding with the
    byte-level-golden-tested codec; the oracle joins it on (doc_id,
    md5(text)) so the SAME SQL is exact at any registered scale."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    return decode_media(ppm_payloads(docs))


def ppm_ahash(blob: bytes) -> dict:
    """Average-hash (aHash) perceptual fingerprint of a P6 PPM: luma plane,
    4x4 block means (blocks partition the image via integer floor mapping,
    so any width/height >= 4 downsamples without resampling libraries),
    one bit per block = block mean > mean of block means. 16-bit hash;
    identical images always collide, near-identical ones usually do —
    the image-side analog of SimHash."""
    import numpy as np

    width, height, _maxval, rgb = _ppm_parse(blob)
    luma = (rgb[:, 0] * 0.299 + rgb[:, 1] * 0.587 + rgb[:, 2] * 0.114)
    grid = luma.reshape(height, width)
    by = (np.arange(height) * 4) // height
    bx = (np.arange(width) * 4) // width
    block = (by[:, None] * 4 + bx[None, :]).ravel()
    sums = np.zeros(16)
    counts = np.zeros(16)
    np.add.at(sums, block, grid.ravel())
    np.add.at(counts, block, 1.0)
    means = sums / counts          # every block is non-empty for w, h >= 4
    overall = means.mean()
    bits = means > overall
    return {"width": width, "height": height,
            "ahash": int(sum(1 << k for k in range(16) if bits[k])),
            "n_set_bits": int(bits.sum())}


def ppm_phash(blob: bytes) -> dict:
    """DCT perceptual hash (pHash family, per Zauner 2010): luma plane ->
    4x4 block-mean grid (same floor mapping as ``ppm_ahash``) ->
    orthonormal 2-D DCT-II -> drop the DC term, quantize the 15 AC
    coefficients to int64 1e-6 units, threshold at their (odd-count,
    hence exact) integer median -> 15-bit hash. Quantizing BEFORE the
    median/threshold makes the bit pattern immune to last-ulp float
    noise; the DC coefficient ships separately as the luma-energy
    summary. Frequency-domain bits survive brightness-preserving local
    edits that flip spatial-domain aHash bits — the standard reason
    image pipelines keep both."""
    import numpy as np

    width, height, _maxval, rgb = _ppm_parse(blob)
    luma = (rgb[:, 0] * 0.299 + rgb[:, 1] * 0.587 + rgb[:, 2] * 0.114)
    grid = luma.reshape(height, width)
    by = (np.arange(height) * 4) // height
    bx = (np.arange(width) * 4) // width
    block = (by[:, None] * 4 + bx[None, :]).ravel()
    sums = np.zeros(16)
    counts = np.zeros(16)
    np.add.at(sums, block, grid.ravel())
    np.add.at(counts, block, 1.0)
    M = (sums / counts).reshape(4, 4)
    k = np.arange(4)
    C = (np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 8.0)
         * np.sqrt(0.5))
    C[0, :] = 0.5
    D = C @ M @ C.T
    acq = np.floor(D.ravel()[1:] * 1e6 + 0.5).astype(np.int64)
    med = int(np.sort(acq)[7])     # exact integer median of 15
    bits = acq > med
    return {"width": width, "height": height,
            "phash": int(sum(1 << i for i in range(15) if bits[i])),
            "n_set_bits": int(bits.sum()),
            "dc_q": int(np.floor(D[0, 0] * 1e6 + 0.5))}


PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("phash", T.LongType()),
    T.StructField("n_set_bits", T.IntegerType()),
    T.StructField("dc_q", T.LongType()),
])


@register(
    "ext_image_phash_dct",
    oracle="""
        WITH h AS (
            SELECT g.doc_id, g.width, g.height, g.phash, g.n_set_bits,
                   g.dc_q
            FROM read_parquet(
                '/root/repo/tests/fixtures/golden_phash.parquet') g
            JOIN documents d
              ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
        )
        SELECT doc_id, width, height, phash, n_set_bits, dc_q,
               COUNT(*) OVER (PARTITION BY phash) AS n_same_hash,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY phash ORDER BY doc_id) = 1
                    THEN 1 ELSE 0 END AS is_canonical
        FROM h
    """,
    tags=("ext", "multimodal", "dedup"),
)
def ext_image_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by DCT perceptual hash — the frequency-domain twin of
    ``ext_image_ahash``: synthesize the real P6 PPM payload per document,
    Arrow-batched ``ppm_phash`` (luma -> block means -> orthonormal DCT-II
    -> median-thresholded AC bits), then the exact-dedup census per hash.
    pHash survives brightness-preserving local edits that flip aHash's
    spatial bits, which is why production image pipelines (and every
    pHash-family library) keep both fingerprints. Scale: one
    ``mapInPandas`` decode pass (bytes never shuffle), census windows over
    a 15-bit key — bounded state; hash-checked end to end via the golden
    fixture computed by a fully independent plain-loop pure-Python DCT
    twin over independently assembled payloads (tools/gen_golden.py
    + tools/spectral_twins.ppm_phash_py — no shared code with this
    kernel; sensitivity proven in tests/test_round10_fixes.py)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_phash(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [m["width"] for m in meta],
                "height": [m["height"] for m in meta],
                "phash": [m["phash"] for m in meta],
                "n_set_bits": [m["n_set_bits"] for m in meta],
                "dc_q": [m["dc_q"] for m in meta],
            })

    hashed = payloads.mapInPandas(run, PHASH_SCHEMA)
    from pyspark.sql.window import Window
    w_all = Window.partitionBy("phash")
    w_first = Window.partitionBy("phash").orderBy("doc_id")
    return hashed.select(
        "doc_id", "width", "height", "phash", "n_set_bits", "dc_q",
        F.count(F.lit(1)).over(w_all).alias("n_same_hash"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("is_canonical"))


AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("ahash", T.LongType()),
    T.StructField("n_set_bits", T.IntegerType()),
])


@register(
    "ext_image_ahash",
    oracle="""
        WITH h AS (
            SELECT g.doc_id, g.width, g.height, g.ahash, g.n_set_bits
            FROM read_parquet(
                '/root/repo/tests/fixtures/golden_ahash.parquet') g
            JOIN documents d
              ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
        )
        SELECT doc_id, width, height, ahash, n_set_bits,
               COUNT(*) OVER (PARTITION BY ahash) AS n_same_hash,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY ahash ORDER BY doc_id) = 1
                    THEN 1 ELSE 0 END AS is_canonical
        FROM h
    """,
    tags=("ext", "multimodal", "dedup"),
)
def ext_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual average-hash: synthesize the real P6 PPM
    payload per document, Arrow-batched ``ppm_ahash`` decode to a 16-bit
    luma-block fingerprint, then an exact-dedup census per hash (count of
    colliding images + first-doc canonical flag) — SimHash for the image
    modality, completing the dedup family across text and pixels. Scale:
    the decode is one ``mapInPandas`` pass (bytes never shuffle twice);
    the census is a window over the 16-bit hash — at most 65536 groups,
    bounded state. Hash-checked end to end via the independently computed
    golden fixture (same (doc_id, md5(text)) join discipline as
    ``ext_multimodal_decode``)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_ahash(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [m["width"] for m in meta],
                "height": [m["height"] for m in meta],
                "ahash": [m["ahash"] for m in meta],
                "n_set_bits": [m["n_set_bits"] for m in meta],
            })

    hashed = payloads.mapInPandas(run, AHASH_SCHEMA)
    from pyspark.sql.window import Window
    w_all = Window.partitionBy("ahash")
    w_first = Window.partitionBy("ahash").orderBy("doc_id")
    return hashed.select(
        "doc_id", "width", "height", "ahash", "n_set_bits",
        F.count(F.lit(1)).over(w_all).alias("n_same_hash"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("is_canonical"))


# --------------------------------------------------------------------------
# Audio modality: PCM payload synthesis + frame-energy extraction
# --------------------------------------------------------------------------

def pcm_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a real little-endian 16-bit PCM blob per
    document, synthesized entirely JVM-side (the audio twin of
    ``ppm_payloads``): sample count derives from the row, sample bytes are
    the document's own utf-8 bytes space-padded/truncated to exactly
    2*n_samples — a well-formed fixed-layout audio clip any PCM reader
    parses. Header: ``PCM\\n{n}\\n``."""
    n = (F.lit(64) + F.col("doc_id") % 64).cast("int")
    need = (n * F.lit(2)).cast("int")
    header = F.encode(
        F.concat_ws("", F.lit("PCM\n"), n.cast("string"), F.lit("\n")),
        "UTF-8")
    smp = F.expr("substring(encode(rpad(text, need, ' '), 'UTF-8'), 1, need)")
    return (docs.select("doc_id", "text")
            .withColumn("need", need)
            .select("doc_id", F.concat(header, smp).alias("payload")))


def pcm_energy(blob: bytes) -> dict:
    """Frame-energy extraction from a PCM blob: int16-LE samples, frames
    of 16 samples (short-time energy, the features every audio-quality
    filter starts from). Sum-of-squares is exact int64 — no floats until
    a consumer divides."""
    import numpy as np

    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    raw = np.frombuffer(blob, dtype="<i2", offset=nl2 + 1, count=n)
    x = raw.astype(np.int64)
    n_frames = n // 16
    frames = x[: n_frames * 16].reshape(n_frames, 16)
    sumsq = frames * frames
    return {"n_samples": n, "n_frames": int(n_frames),
            "peak_abs": int(np.abs(x).max()),
            "total_sumsq": int(sumsq.sum()),
            "max_frame_sumsq": int(sumsq.sum(axis=1).max())}


def pcm_vad(blob: bytes) -> dict:
    """Voice-activity segmentation over a PCM blob: per-frame short-time
    energy (16-sample frames, exact int64 sums of squares), a frame is
    ACTIVE iff its energy is strictly above the clip mean — the
    integer-exact comparison ``s_i * n_frames > total`` avoids floats
    entirely — and activity runs become segments. Emits the segment
    census an audio pipeline uses to decide trim/keep/split before
    transcription."""
    import numpy as np

    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    raw = np.frombuffer(blob, dtype="<i2", offset=nl2 + 1, count=n)
    x = raw.astype(np.int64)
    n_frames = n // 16
    s = (x[: n_frames * 16].reshape(n_frames, 16) ** 2).sum(axis=1)
    total = int(s.sum())
    active = s * n_frames > total
    # run-length encode the activity mask
    edges = np.flatnonzero(np.diff(np.concatenate(([0], active.view(np.int8),
                                                   [0]))))
    starts, ends = edges[0::2], edges[1::2]
    lengths = ends - starts
    return {"n_frames": int(n_frames),
            "n_active": int(active.sum()),
            "n_segments": int(len(starts)),
            "longest_segment": int(lengths.max()) if len(lengths) else 0,
            "first_active_frame": int(starts[0]) if len(starts) else -1}


VAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("n_active", T.IntegerType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("longest_segment", T.IntegerType()),
    T.StructField("first_active_frame", T.IntegerType()),
])


@register(
    "ext_audio_vad_segments",
    oracle="""
        SELECT g.doc_id, g.n_frames, g.n_active, g.n_segments,
               g.longest_segment, g.first_active_frame
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_vad.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal", "audio", "vad"),
)
def ext_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segment census over binary PCM payloads — the
    segmentation stage between ``ext_audio_energy``'s loudness census and
    transcription: per clip, how many above-mean-energy segments exist,
    how long the longest run is, and where activity starts (trim point).
    The activity threshold is the clip's own mean frame energy compared
    in exact integer arithmetic (``s_i * n_frames > total``), so the
    segmentation is bit-reproducible with no float in the pipeline.
    Scale: one Arrow-batched ``mapInPandas`` pass per blob (run-length
    encoding is a vectorized diff, no per-frame Python), per-clip bounded
    output. Hash-checked against a golden fixture computed over
    independently assembled payloads (tools/gen_golden.vad_for)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = pcm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [pcm_vad(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_frames": [m["n_frames"] for m in meta],
                "n_active": [m["n_active"] for m in meta],
                "n_segments": [m["n_segments"] for m in meta],
                "longest_segment": [m["longest_segment"] for m in meta],
                "first_active_frame": [m["first_active_frame"]
                                       for m in meta],
            })

    return payloads.mapInPandas(run, VAD_SCHEMA)


PCM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("peak_abs", T.LongType()),
    T.StructField("total_sumsq", T.LongType()),
    T.StructField("max_frame_sumsq", T.LongType()),
])


@register(
    "ext_audio_energy",
    oracle="""
        SELECT g.doc_id, g.n_samples, g.n_frames, g.peak_abs,
               g.total_sumsq, g.max_frame_sumsq
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_pcm_energy.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal", "audio"),
)
def ext_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-energy features over binary PCM payloads — the third
    modality (text/image/AUDIO) through the same opaque-binary-column
    plumbing the driver mandates: synthesize a real 16-bit PCM clip per
    document JVM-side, decode int16 samples in one Arrow-batched numpy
    pass, and emit per-clip short-time-energy features (frame count,
    peak, exact int64 sums of squares) — the loudness/clipping census an
    audio-quality filter runs before transcription. Hash-checked end to
    end against a golden fixture computed by an independent pure-Python
    replication of the payload assembly + energy algebra (same
    (doc_id, md5(text)) join discipline as the image modality)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = pcm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [pcm_energy(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_samples": [m["n_samples"] for m in meta],
                "n_frames": [m["n_frames"] for m in meta],
                "peak_abs": [m["peak_abs"] for m in meta],
                "total_sumsq": [m["total_sumsq"] for m in meta],
                "max_frame_sumsq": [m["max_frame_sumsq"] for m in meta],
            })

    return payloads.mapInPandas(run, PCM_SCHEMA)


# --------------------------------------------------------------------------
# ext_video_scene_cuts — the video modality's temporal structure census
# --------------------------------------------------------------------------

_SCENE_SQL = """
WITH frames AS (
    SELECT doc_id, f.f AS fno, substring(text, f.f * 32 + 1, 32) AS fr
    FROM documents, LATERAL unnest(range(0,
        CAST(ceil(length(text) / 32e0) AS INT))) f(f)
    WHERE length(text) > 0
), fsum AS (
    SELECT doc_id, fno,
           CAST(SUM(ascii(substring(fr, i.i, 1))) AS BIGINT) AS fsum
    FROM frames, LATERAL unnest(range(1, length(fr) + 1)) i(i)
    GROUP BY doc_id, fno
), d AS (
    SELECT doc_id, fno, fsum,
           fsum - lag(fsum) OVER (PARTITION BY doc_id ORDER BY fno) AS d
    FROM fsum
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN ABS(d) > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(MAX(ABS(d)) AS BIGINT) AS max_diff
FROM d GROUP BY doc_id HAVING COUNT(*) >= 2
"""


@register("ext_video_scene_cuts", oracle=_SCENE_SQL,
          tags=("ext", "multimodal", "video"))
def ext_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the video modality: the payload's fixed
    32-byte frames (``ext_frame_sample``'s layout) reduce to a per-frame
    intensity signal, and a cut is an adjacent-frame jump above threshold
    — THE shot-boundary heuristic every video-curation pipeline runs
    before keyframe extraction (which frames to caption/embed). Everything
    stays declarative: frame slicing, the per-frame reduction, and the
    lag-window cut census are Catalyst expressions — no Python decode
    kernel at all for this modality, demonstrating the binary-frame
    analysis path can be pure SQL when the frame layout is fixed-width.
    Scale: row-local explode (frames inherit corpus partitioning) + one
    per-doc window over frame counts."""
    ensure_deterministic(spark)
    from pyspark.sql.window import Window
    docs = table(spark, sf_dir, "documents")
    frames = (docs.where(F.length("text") > 0)
              .select("doc_id",
                      F.explode(F.expr(
                          "transform(sequence(0, "
                          "cast(ceil(length(text) / 32e0) as int) - 1), "
                          "f -> struct(f AS fno, "
                          "substring(text, f * 32 + 1, 32) AS fr))"))
                      .alias("x"))
              .select("doc_id", F.col("x.fno").alias("fno"),
                      F.col("x.fr").alias("fr")))
    fsum = frames.select(
        "doc_id", "fno",
        F.expr("aggregate(transform(sequence(1, length(fr)), "
               "i -> ascii(substring(fr, i, 1))), 0L, (a, x) -> a + x)")
        .alias("fsum"))
    w = Window.partitionBy("doc_id").orderBy("fno")
    diff = fsum.select("doc_id", "fno", "fsum",
                       (F.col("fsum") - F.lag("fsum").over(w)).alias("d"))
    return (diff.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_frames"),
                 F.sum((F.abs("d") > 400).cast("long")).alias("n_cuts"),
                 F.max(F.abs("d")).alias("max_diff"))
            .where(F.col("n_frames") >= 2))


def ppm_dhash(blob: bytes) -> dict:
    """Difference-hash (dHash) perceptual fingerprint of a P6 PPM: luma
    plane, 4x4 block-mean grid (same integer floor mapping as
    ``ppm_ahash``, so every block is non-empty for width/height >= 4),
    one bit per horizontal neighbor pair WITH wrap-around (m[r,c] >
    m[r,(c+1) mod 4]) -> 16-bit gradient signature. (Classic dHash uses
    a (w+1)-column grid; the wrap variant keeps 16 bits without
    requiring width >= 5.) Gradient bits are invariant to global
    brightness/contrast shifts that move every aHash block the same way
    — the third fingerprint production image-dedup stacks keep next to
    aHash (spatial) and pHash (frequency). Block means are quantized to
    int64 micro-units BEFORE the neighbor comparison, so the bit
    pattern is immune to last-ulp float noise."""
    import numpy as np

    width, height, _maxval, rgb = _ppm_parse(blob)
    luma = (rgb[:, 0] * 0.299 + rgb[:, 1] * 0.587 + rgb[:, 2] * 0.114)
    grid = luma.reshape(height, width)
    by = (np.arange(height) * 4) // height
    bx = (np.arange(width) * 4) // width
    block = (by[:, None] * 4 + bx[None, :]).ravel()
    sums = np.zeros(16)
    counts = np.zeros(16)
    np.add.at(sums, block, grid.ravel())
    np.add.at(counts, block, 1.0)
    mq = np.floor(sums / counts * 1e6 + 0.5).astype(np.int64).reshape(4, 4)
    bits = mq > np.roll(mq, -1, axis=1)
    flat = bits.ravel()
    return {"width": width, "height": height,
            "dhash": int(sum(1 << i for i in range(16) if flat[i])),
            "n_set_bits": int(flat.sum())}


DHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("dhash", T.LongType()),
    T.StructField("n_set_bits", T.IntegerType()),
])


@register(
    "ext_image_dhash",
    oracle="""
        WITH h AS (
            SELECT g.doc_id, g.width, g.height, g.dhash, g.n_set_bits
            FROM read_parquet(
                '/root/repo/tests/fixtures/golden_dhash.parquet') g
            JOIN documents d
              ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
        )
        SELECT doc_id, width, height, dhash, n_set_bits,
               COUNT(*) OVER (PARTITION BY dhash) AS n_same_hash,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY dhash ORDER BY doc_id) = 1
                    THEN 1 ELSE 0 END AS is_canonical
        FROM h
    """,
    tags=("ext", "multimodal", "dedup"),
)
def ext_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by difference hash — the gradient-domain member of the
    fingerprint family (aHash spatial, pHash frequency, dHash gradient):
    synthesize the real P6 PPM payload per document, Arrow-batched
    ``ppm_dhash`` (luma -> 4x5 block means -> micro-quantized horizontal
    neighbor comparisons -> 16 bits), then the exact-dedup census per
    hash. Scale: one ``mapInPandas`` decode pass (bytes never shuffle),
    census windows over a 16-bit key — bounded state; hash-checked end
    to end via the golden fixture computed over independently assembled
    payloads (tools/gen_golden.py)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_dhash(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [m["width"] for m in meta],
                "height": [m["height"] for m in meta],
                "dhash": [m["dhash"] for m in meta],
                "n_set_bits": [m["n_set_bits"] for m in meta],
            })

    hashed = payloads.mapInPandas(run, DHASH_SCHEMA)
    from pyspark.sql.window import Window
    w_all = Window.partitionBy("dhash")
    w_first = Window.partitionBy("dhash").orderBy("doc_id")
    return hashed.select(
        "doc_id", "width", "height", "dhash", "n_set_bits",
        F.count(F.lit(1)).over(w_all).alias("n_same_hash"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("is_canonical"))


_CLIP_THRESHOLD = 30000  # |int16| at/above this counts as clipped


def pcm_clipping(blob: bytes) -> dict:
    """Clipping/level audit of a PCM blob — the ingest gate every audio
    pipeline runs before feature extraction: int16-LE samples, count of
    samples at/above the clip threshold (|x| >= 30000 of 32767 full
    scale), exact round-half-up clip permille, signed peak, and the
    exact sample sum (the DC-offset numerator; a nonzero mean flags a
    broken recorder bias). All integer arithmetic — no floats
    anywhere."""
    import numpy as np

    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    raw = np.frombuffer(blob, dtype="<i2", offset=nl2 + 1, count=n)
    x = raw.astype(np.int64)
    n_clipped = int((np.abs(x) >= _CLIP_THRESHOLD).sum())
    return {"n_samples": n,
            "n_clipped": n_clipped,
            "clip_permille": (2000 * n_clipped + n) // (2 * n),
            "peak_abs": int(np.abs(x).max()),
            "sum_samples": int(x.sum())}


CLIP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("n_clipped", T.IntegerType()),
    T.StructField("clip_permille", T.LongType()),
    T.StructField("peak_abs", T.IntegerType()),
    T.StructField("sum_samples", T.LongType()),
])


@register(
    "ext_audio_clipping",
    oracle="""
        SELECT f.doc_id, f.n_samples, f.n_clipped, f.clip_permille,
               f.peak_abs, f.sum_samples
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_clipping.parquet') f
        JOIN documents d
          ON f.doc_id = d.doc_id AND f.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal", "audio"),
)
def ext_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio clipping/level audit: synthesize the real 16-bit PCM payload
    per document, Arrow-batched ``pcm_clipping`` — clipped-sample count
    at the 30000/32767 threshold, exact clip permille, signed peak, and
    the DC-offset sum — the drop/attenuate/keep gate that runs before
    any transcription or embedding spend. One ``mapInPandas`` pass,
    bytes never shuffle, all-integer kernel; hash-checked end to end via
    the golden fixture computed over independently assembled payloads
    (tools/gen_golden.clipping_for)."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = pcm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [pcm_clipping(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_samples": [m["n_samples"] for m in meta],
                "n_clipped": [m["n_clipped"] for m in meta],
                "clip_permille": [m["clip_permille"] for m in meta],
                "peak_abs": [m["peak_abs"] for m in meta],
                "sum_samples": [m["sum_samples"] for m in meta],
            })

    return payloads.mapInPandas(run, CLIP_SCHEMA)


# --------------------------------------------------------------------------
# ext_image_near_dup_join — perceptual-hash Hamming join over images
# --------------------------------------------------------------------------

SIG_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sig", T.LongType()),
])

_IMG_NEAR_SQL = """
WITH a AS (
    SELECT g.doc_id, g.ahash
    FROM read_parquet('/root/repo/tests/fixtures/golden_ahash.parquet') g
    JOIN documents d
      ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
),
p AS (
    SELECT g.doc_id, g.phash
    FROM read_parquet('/root/repo/tests/fixtures/golden_phash.parquet') g
    JOIN documents d
      ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
),
s AS (
    SELECT a.doc_id, a.ahash * 65536 + p.phash AS sig
    FROM a JOIN p ON a.doc_id = p.doc_id
),
b AS (
    SELECT doc_id, sig, j.j AS band, (sig >> (8 * j.j)) & 255 AS bucket
    FROM s, generate_series(0, 3) j(j)
),
pairs AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
    FROM b x
    JOIN b y ON x.band = y.band AND x.bucket = y.bucket
            AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.sig, y.sig)) <= 3
)
SELECT doc_a, doc_b, hamming FROM pairs
"""


@register("ext_image_near_dup_join", oracle=_IMG_NEAR_SQL,
          tags=("ext", "multimodal", "dedup"))
def ext_image_near_dup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate image join — the Hamming-distance stage the
    per-hash censuses (`ext_image_ahash`/`_phash`/`_dhash`, exact
    collisions only) cannot give: one decode pass computes BOTH
    fingerprints (spatial aHash + frequency pHash), packs them into one
    31-bit signature, and Manku-style pigeonhole banding (4 disjoint
    8-bit bands; hamming <= 3 implies >= 1 exact band match) turns the
    all-pairs comparison into a band-bucket equi-join with the exact
    ``bit_count(xor)`` check on candidates only — the same shape as
    `ext_simhash_hamming_join`, applied to the image modality. Combining
    both hash families in the signature means a near-pair must be close
    in BOTH spatial and frequency domains — the precision trick
    production image-dedup stacks use.

    Scale shape: one ``mapInPandas`` decode pass (bytes never shuffle;
    both hashes from one parse), signatures are one int64 per image, and
    the hamming filter runs BEFORE the candidate distinct so the dedup
    exchange is sized by the true near-dup mass. 8-bit bands are the
    31-bit signature's honest trade (256 buckets/band); with 64-bit
    production hashes the same plan uses 16-bit bands."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for blob in pdf["payload"]:
                a = ppm_ahash(blob)["ahash"]
                p = ppm_phash(blob)["phash"]
                sigs.append(a * 65536 + p)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "sig": pd.Series(sigs, dtype="int64"),
            })

    s = payloads.mapInPandas(run, SIG_SCHEMA)
    b = (s.select("doc_id", "sig",
                  F.explode(F.expr("sequence(0, 3)")).alias("band"))
         .select("doc_id", "sig", "band",
                 F.expr("(sig >> (8 * band)) & 255").alias("bucket")))
    x = b.select(F.col("doc_id").alias("doc_a"),
                 F.col("sig").alias("sa"), "band", "bucket")
    y = b.select(F.col("doc_id").alias("doc_b"),
                 F.col("sig").alias("sb"), "band", "bucket")
    return (x.join(y, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.expr("bit_count(sa ^ sb)").alias("hamming"))
            .where(F.col("hamming") <= 3).distinct()
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("int").alias("hamming")))


# --------------------------------------------------------------------------
# ext_media_type_sniff — magic-byte format dispatch over mixed payloads
# --------------------------------------------------------------------------

_SNIFF_SQL = """
WITH payloads AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'P6' ELSE 'PC' END AS magic,
           CASE WHEN doc_id % 2 = 0
                THEN 3 + length(CAST(4 + doc_id % 5 AS VARCHAR))
                     + 1 + length(CAST(4 + length(text) % 5
                                           AS VARCHAR)) + 5
                     + CAST((4 + doc_id % 5) * (4 + length(text) % 5) * 3
                            AS BIGINT)
                ELSE 4 + length(CAST(64 + doc_id % 64 AS VARCHAR))
                     + 1 + 2 * (64 + doc_id % 64)
           END AS n_bytes
    FROM documents
),
sniffed AS (
    SELECT doc_id, n_bytes,
           CASE WHEN magic = 'P6' THEN 'image/x-portable-pixmap'
                WHEN magic = 'PC' THEN 'audio/x-raw-pcm'
                ELSE 'application/octet-stream' END AS media_type
    FROM payloads
)
SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_payloads,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
       CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
FROM sniffed GROUP BY media_type
"""


@register("ext_media_type_sniff", oracle=_SNIFF_SQL,
          tags=("ext", "multimodal", "dispatch"))
def ext_media_type_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte media-type dispatch — the stage BEFORE any decode in a
    mixed-modality lake: a corpus of opaque binary payloads (here a
    50/50 synthesized mix of real P6 PPM images and PCM audio clips,
    alternating by doc_id) is classified by its leading magic bytes
    alone and censused per detected type with byte-size envelopes — the
    routing table that decides which decode kernel each payload goes to
    (`decode_media` vs `pcm_energy`) without parsing anything. Sniffing
    is a row-local ``substring(payload, 1, 2)`` on the binary column;
    payload bytes are never shuffled (the census carries only type +
    length). The oracle reconstructs byte lengths arithmetically from
    the payload-synthesis contracts — pinning exactly the header+body
    layout both synthesizers guarantee."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    img = ppm_payloads(docs.where(F.col("doc_id") % 2 == 0))
    aud = pcm_payloads(docs.where(F.col("doc_id") % 2 == 1))
    payloads = img.unionByName(aud)
    magic = F.expr("decode(substring(payload, 1, 2), 'UTF-8')")
    sniffed = payloads.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.when(magic == "P6", "image/x-portable-pixmap")
        .when(magic == "PC", "audio/x-raw-pcm")
        .otherwise("application/octet-stream").alias("media_type"))
    return (sniffed.groupBy("media_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_payloads"),
                 F.sum("n_bytes").cast("long").alias("total_bytes"),
                 F.min("n_bytes").cast("long").alias("min_bytes"),
                 F.max("n_bytes").cast("long").alias("max_bytes")))


# --------------------------------------------------------------------------
# ext_image_channel_hist — per-channel color histograms + dominance
# --------------------------------------------------------------------------

def ppm_channel_hist(blob: bytes) -> dict:
    """Per-channel 4-bin color histogram of a P6 PPM (bin = value >> 6 —
    pure integer bucketing) plus the dominant channel by total mass
    (ties to the lower channel index) — the color-profile signature
    image curation uses for grayscale/washed-out/tinted detection and as
    a cheap pre-filter before perceptual hashing (two images whose
    histograms differ wildly need no pHash comparison). All counting is
    exact integers; no floats anywhere."""
    import numpy as np

    width, height, _maxval, rgb = _ppm_parse(blob)
    out: dict = {"width": width, "height": height}
    totals = []
    for c, name in enumerate("rgb"):
        bins = np.bincount(rgb[:, c].astype(np.int64) >> 6, minlength=4)
        for b in range(4):
            out[f"{name}{b}"] = int(bins[b])
        totals.append(int(rgb[:, c].astype(np.int64).sum()))
    out["dominant_channel"] = int(max(range(3),
                                      key=lambda c: (totals[c], -c)))
    return out


CHANNEL_HIST_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()),
     T.StructField("width", T.IntegerType()),
     T.StructField("height", T.IntegerType())]
    + [T.StructField(f"{n}{b}", T.LongType())
       for n in "rgb" for b in range(4)]
    + [T.StructField("dominant_channel", T.IntegerType())])


@register(
    "ext_image_channel_hist",
    oracle="""
        SELECT g.doc_id, g.width, g.height,
               g.r0, g.r1, g.r2, g.r3, g.g0, g.g1, g.g2, g.g3,
               g.b0, g.b1, g.b2, g.b3, g.dominant_channel
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_channel_hist.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal"),
)
def ext_image_channel_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-profile extraction over the binary image column: synthesize
    the real P6 PPM payload per document, Arrow-batched
    ``ppm_channel_hist`` (per-channel 4-bin integer histograms + the
    dominant channel) — the color signature curation stacks use to flag
    grayscale/tinted/washed-out images and to pre-filter perceptual-hash
    comparisons (completes the image family: aHash spatial, pHash
    frequency, dHash gradient, and now the color marginal).

    Determinism: the histogram is pure integer bucketing (value >> 6)
    and the dominance vote is an exact integer-sum argmax with a fixed
    tie order — no floats in the kernel at all. Hash-checked end to end
    via the golden fixture computed over independently assembled
    payloads with a pure-Python histogram twin
    (tools/gen_golden.channel_hist_py).

    Scale shape: one ``mapInPandas`` decode pass — bytes never shuffle;
    the output is 15 small integers per image."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_channel_hist(b) for b in pdf["payload"]]
            cols = {"doc_id": pdf["doc_id"].astype("int64")}
            for f in CHANNEL_HIST_SCHEMA.fieldNames()[1:]:
                cols[f] = [m[f] for m in meta]
            yield pd.DataFrame(cols)

    return payloads.mapInPandas(run, CHANNEL_HIST_SCHEMA)


# --------------------------------------------------------------------------
# ext_audio_gain_normalize — target-RMS gain staging per clip
# --------------------------------------------------------------------------

_GAIN_TARGET_MS = 10000 ** 2   #: target mean-square (RMS 10000 of 32767)


def pcm_gain(blob: bytes) -> dict:
    """Loudness-normalization gain for a PCM clip: exact int64 sum of
    squares and sample count (the float-free part), from which the
    consumer derives RMS and the dB gain to reach the target level —
    the gain-staging pass every audio pipeline runs before feature
    extraction so that energy thresholds mean the same thing across
    differently-recorded sources."""
    import numpy as np

    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    smp = np.frombuffer(blob, dtype="<i2", offset=nl2 + 1, count=n)
    x = smp.astype(np.int64)
    return {"n_samples": n, "sum_sq": int((x * x).sum())}


GAIN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_sq", T.LongType()),
])


@register(
    "ext_audio_gain_normalize",
    oracle=f"""
        WITH g AS (
            SELECT f.doc_id, f.n_samples, f.sum_sq
            FROM read_parquet(
                '/root/repo/tests/fixtures/golden_gain.parquet') f
            JOIN documents d
              ON f.doc_id = d.doc_id AND f.text_md5 = md5(d.text)
        )
        SELECT doc_id, n_samples, sum_sq,
               CAST(FLOOR(sqrt(sum_sq * 1e0 / n_samples) * 1e3 + 5e-1)
                    AS BIGINT) AS rms_milli,
               CASE WHEN sum_sq = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(FLOOR(1e1 * LN({_GAIN_TARGET_MS} * 1e0
                                            / (sum_sq * 1e0 / n_samples))
                                    / LN(1e1) * 1e3 + 5e-1) AS BIGINT) END
                   AS gain_millidb
        FROM g
    """,
    tags=("ext", "multimodal", "audio"),
)
def ext_audio_gain_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness normalization (gain staging) over the binary audio
    column: per clip, the exact integer sum of squares and the dB gain
    10·log₁₀(target_ms / actual_ms) needed to hit a target RMS of
    10000/32767 full scale — the pass every audio pipeline runs before
    `ext_audio_energy`/`ext_audio_vad_segments` so their thresholds mean
    the same thing across differently-recorded sources (a quiet source
    would otherwise look all-silence to VAD). Digital-silence clips
    report gain 0 rather than +∞, spelled identically in both engines.

    Determinism: the kernel is float-free (int64 sum of squares); RMS
    and dB close in fixed-order expressions over exact integers — log₁₀
    as LN/LN(10), inside the cross-engine ln/sqrt contract. Golden
    fixture from a pure-Python sum-of-squares twin over independently
    assembled payloads (tools/gen_golden.sum_sq_py).

    Scale shape: one mapInPandas decode pass, bytes never shuffle; two
    small integers per clip cross the Arrow boundary."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = pcm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [pcm_gain(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_samples": [m["n_samples"] for m in meta],
                "sum_sq": [m["sum_sq"] for m in meta],
            })

    g = payloads.mapInPandas(run, GAIN_SCHEMA)
    rms = F.floor(F.sqrt(F.col("sum_sq") * F.lit(1e0) / F.col("n_samples"))
                  * F.lit(1e3) + F.lit(0.5)).cast("long")
    gain = F.when(F.col("sum_sq") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(F.lit(1e1)
                * F.log(F.lit(float(_GAIN_TARGET_MS)) * F.lit(1e0)
                        / (F.col("sum_sq") * F.lit(1e0)
                           / F.col("n_samples")))
                / F.log(F.lit(1e1)) * F.lit(1e3) + F.lit(0.5))
        .cast("long"))
    return g.select("doc_id", "n_samples", "sum_sq",
                    rms.alias("rms_milli"), gain.alias("gain_millidb"))


# --------------------------------------------------------------------------
# ext_image_entropy — luma-histogram entropy (blank / low-info detector)
# --------------------------------------------------------------------------

def ppm_luma_entropy(blob: bytes) -> dict:
    """16-bin luma-histogram Shannon entropy of a P6 PPM — the standard
    blank/flat/low-information image detector (a solid-color or heavily
    letterboxed frame has near-zero histogram entropy; a natural photo
    sits near the 2.77-nat ceiling of 16 bins). Integer luma
    (299r+587g+114b)//1000, integer bin counts; the only float work is
    the final Σ c·ln(n/c) / n close, micro-quantized in the kernel so
    the emitted value is an exact int64."""
    import math

    import numpy as np

    width, height, _maxval, rgb = _ppm_parse(blob)
    px = rgb.astype(np.int64)
    luma = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]) // 1000
    bins = np.bincount((luma >> 4), minlength=16)
    n = int(luma.shape[0])
    h = 0.0
    for c in bins:
        c = int(c)
        if c > 0:
            h += c * math.log(n / c)
    h_micro = math.floor(h / n * 1e6 + 0.5)
    return {"width": width, "height": height, "n_pixels": n,
            "n_bins_used": int((bins > 0).sum()), "h_micro": h_micro}


ENTROPY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_pixels", T.IntegerType()),
    T.StructField("n_bins_used", T.IntegerType()),
    T.StructField("h_micro", T.LongType()),
])


@register(
    "ext_image_entropy",
    oracle="""
        SELECT g.doc_id, g.width, g.height, g.n_pixels, g.n_bins_used,
               g.h_micro,
               CASE WHEN g.h_micro < 1000000 THEN 1 ELSE 0 END
                   AS is_low_info,
               CAST(NTILE(4) OVER (ORDER BY g.h_micro, g.doc_id)
                    AS BIGINT) AS entropy_quartile
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_entropy.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal", "quality"),
)
def ext_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-information image detection by luma-histogram entropy:
    synthesize the real P6 PPM payload per document, Arrow-batched
    ``ppm_luma_entropy`` (integer luma → 16-bin histogram → Shannon
    entropy in micro-nats), flag sub-1-nat images and cut the corpus
    into entropy quartiles — the image-quality gate multimodal curation
    runs before spending perceptual-hash or embedding compute on blank,
    letterboxed, or solid-color frames (the image-side counterpart of
    `ext_quality_score`'s text heuristics). Completes the image family:
    aHash spatial, pHash frequency, dHash gradient, channel-hist color
    marginal, and now the INFORMATION CONTENT gauge.

    Determinism: integer luma and bin counts; the entropy close is
    micro-quantized INSIDE the kernel so every emitted value is int64;
    the quartile NTILE orders by (h_micro, doc_id). Hash-checked end to
    end via the golden fixture computed over independently assembled
    payloads with plain-Python loops (tools/gen_golden.luma_entropy_py).

    Scale shape: one ``mapInPandas`` decode pass (bytes never shuffle,
    the multimodal-family invariant); the quartile window runs over the
    per-image metadata rows — at 100 TB it lowers to broadcast
    approx-quantile cutpoints like every NTILE in the engine."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = ppm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [ppm_luma_entropy(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [m["width"] for m in meta],
                "height": [m["height"] for m in meta],
                "n_pixels": [m["n_pixels"] for m in meta],
                "n_bins_used": [m["n_bins_used"] for m in meta],
                "h_micro": [m["h_micro"] for m in meta],
            })

    hashed = payloads.mapInPandas(run, ENTROPY_SCHEMA)
    from pyspark.sql.window import Window
    w = Window.orderBy("h_micro", "doc_id")
    return hashed.select(
        "doc_id", "width", "height", "n_pixels", "n_bins_used", "h_micro",
        F.when(F.col("h_micro") < 1_000_000, 1).otherwise(0)
        .alias("is_low_info"),
        F.ntile(4).over(w).cast("long").alias("entropy_quartile"))


# --------------------------------------------------------------------------
# ext_audio_spectral_flatness — tonality vs noise gauge over PCM frames
# --------------------------------------------------------------------------

def pcm_spectral_flatness(blob: bytes) -> dict:
    """Per-frame spectral flatness (Wiener entropy) of a PCM blob:
    int16-LE samples, frames of 16, real DFT power at the 8 non-DC bins,
    flatness = geometric mean / arithmetic mean of (power + 1) — 1.0 for
    white noise, → 0 for a pure tone. THE tonality gauge audio curation
    uses to separate speech/music from hum, test tones, and DTMF
    artifacts (energy and VAD cannot: a sine and noise at equal RMS have
    identical short-time energy). Quantized to micro inside the kernel;
    the golden fixture is produced by a fully independent plain-loop
    pure-Python twin (tools/spectral_twins.pcm_flatness_py) over
    independently assembled payloads, so the checked contract is payload
    assembly + framing + the DFT fingerprint, end to end, with no shared
    code between fixture and query."""
    import math

    import numpy as np

    nl1 = blob.index(b"\n")
    nl2 = blob.index(b"\n", nl1 + 1)
    n = int(blob[nl1 + 1:nl2])
    raw = np.frombuffer(blob, dtype="<i2", offset=nl2 + 1, count=n)
    x = raw.astype(np.float64)
    n_frames = n // 16
    frames = x[: n_frames * 16].reshape(n_frames, 16)
    t = np.arange(16)
    ks = np.arange(1, 9)
    cos_m = np.cos(2.0 * np.pi * ks[:, None] * t[None, :] / 16.0)
    sin_m = np.sin(2.0 * np.pi * ks[:, None] * t[None, :] / 16.0)
    re = frames @ cos_m.T
    im = frames @ sin_m.T
    p = re * re + im * im + 1.0
    gm = np.exp(np.log(p).mean(axis=1))
    am = p.mean(axis=1)
    flat = gm / am
    q = [int(math.floor(v * 1e6 + 0.5)) for v in flat]
    return {"n_frames": int(n_frames),
            "mean_flatness_micro": int(math.floor(sum(q) / n_frames + 0.5)),
            "min_flatness_micro": int(min(q)),
            "n_tonal_frames": int(sum(1 for v in q if v < 200_000))}


FLATNESS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("mean_flatness_micro", T.LongType()),
    T.StructField("min_flatness_micro", T.LongType()),
    T.StructField("n_tonal_frames", T.IntegerType()),
])


@register(
    "ext_audio_spectral_flatness",
    oracle="""
        SELECT g.doc_id, g.n_frames, g.mean_flatness_micro,
               g.min_flatness_micro, g.n_tonal_frames,
               CASE WHEN g.n_tonal_frames * 2 > g.n_frames THEN 1 ELSE 0
                    END AS is_tonal
        FROM read_parquet(
            '/root/repo/tests/fixtures/golden_flatness.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)
    """,
    tags=("ext", "multimodal", "audio", "quality"),
)
def ext_audio_spectral_flatness(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Tonality detection over the binary audio column: synthesize the
    real PCM payload per document, Arrow-batched
    ``pcm_spectral_flatness`` (framed real-DFT power → Wiener entropy
    per frame), flag majority-tonal clips — the gauge that separates
    genuine speech/music from test tones, mains hum, and DTMF noise,
    which energy (`ext_audio_energy`), VAD (`ext_audio_vad_segments`),
    clipping and gain metrics are all blind to (a sine and white noise
    at equal RMS are identical to every one of them). Completes the
    audio family with its frequency-domain member, the same step
    `ext_image_phash_dct` took for images.

    Determinism: flatness micro-quantizes INSIDE the kernel, so emitted
    values are int64; the golden fixture is generated END TO END by
    independent plain-loop pure-Python twins — payload assembly
    (tools/gen_golden.pcm_payload_py) AND the DFT/flatness fingerprint
    (tools/spectral_twins.pcm_flatness_py) — so a bug in this numpy
    kernel fails the oracle. Twin/kernel agreement at the quantized
    level is swept exhaustively in tests/test_round10_fixes.py, which
    also proves fixture sensitivity with a planted DFT off-by-one.

    Scale shape: one ``mapInPandas`` pass, bytes never shuffle; the
    is_tonal close is row-local integer algebra."""
    ensure_deterministic(spark)
    from project_etl_spark.session import _ship_package
    _ship_package(spark)
    docs = table(spark, sf_dir, "documents")
    payloads = pcm_payloads(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [pcm_spectral_flatness(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_frames": [m["n_frames"] for m in meta],
                "mean_flatness_micro": [m["mean_flatness_micro"]
                                        for m in meta],
                "min_flatness_micro": [m["min_flatness_micro"]
                                       for m in meta],
                "n_tonal_frames": [m["n_tonal_frames"] for m in meta],
            })

    out = payloads.mapInPandas(run, FLATNESS_SCHEMA)
    return out.select(
        "doc_id", "n_frames", "mean_flatness_micro", "min_flatness_micro",
        "n_tonal_frames",
        F.when(F.col("n_tonal_frames") * 2 > F.col("n_frames"), 1)
        .otherwise(0).alias("is_tonal"))
