"""Golden tests for the UDF surface: the S-curve fit (midpoint AND width,
Documentation-Self-Triggering.html:194) and the vectorized word-chunking
kernel behind ``udtf_frame_stream`` (DAQ_self-triggering.md:233-234).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from project_etl_spark.operators.udfs import (explode_words_batches,
                                              scurve_crossing, scurve_params)


class TestScurve:
    def test_linear_ramp_golden(self):
        """eff rises linearly 0 -> 1 over dac 0..10: every crossing is exact
        under piecewise-linear interpolation."""
        dac = [float(i) for i in range(11)]
        eff = [i / 10.0 for i in range(11)]
        mid, width = scurve_params(dac, eff)
        assert mid == pytest.approx(5.0)
        # 16% crossing at 1.6, 84% at 8.4 -> sigma = (8.4 - 1.6) / 2 = 3.4
        assert width == pytest.approx(3.4)

    def test_steep_step(self):
        """A hard step between two points: all crossings interpolate inside
        the single rising segment."""
        dac = [0.0, 1.0, 2.0, 3.0]
        eff = [0.0, 0.0, 1.0, 1.0]
        mid, width = scurve_params(dac, eff)
        assert mid == pytest.approx(1.5)
        assert width == pytest.approx(((1.0 + 0.84) - (1.0 + 0.16)) / 2)

    def test_never_crosses(self):
        dac = [0.0, 1.0, 2.0]
        eff = [0.6, 0.7, 0.8]
        assert math.isnan(scurve_crossing(dac, eff, 0.5))
        mid, width = scurve_params(dac, eff)
        assert math.isnan(mid) and math.isnan(width)

    def test_erf_like_curve_close(self):
        """On a smooth sigmoid sampled finely, the interpolated (mid, width)
        approximates the true (mu, sigma)."""
        mu, sigma = 450.0, 6.0
        dac = [mu + (i - 50) * 0.5 for i in range(101)]
        eff = [0.5 * (1 + math.erf((d - mu) / (sigma * math.sqrt(2))))
               for d in dac]
        mid, width = scurve_params(dac, eff)
        assert mid == pytest.approx(mu, abs=0.05)
        assert width == pytest.approx(sigma, rel=0.02)


class TestExplodeWords:
    def _run(self, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        out = pd.concat(list(explode_words_batches(iter([pdf]))),
                        ignore_index=True)
        return out

    def test_golden_words(self):
        out = self._run([(1, "abcdefgh")])
        assert list(out["word_index"]) == [0, 1]
        assert list(out["word"]) == [
            int.from_bytes(b"abcd", "big"), int.from_bytes(b"efgh", "big")]

    def test_remainder_truncated(self):
        # 9 bytes -> 2 words, trailing byte dropped (partial word is never
        # emitted — the reference drains remainders only at flush)
        out = self._run([(1, "abcdefghi")])
        assert len(out) == 2

    def test_short_and_empty_docs(self):
        out = self._run([(1, "abc"), (2, ""), (3, "wxyz")])
        assert list(out["doc_id"]) == [3]
        assert list(out["word_index"]) == [0]

    def test_multibyte_utf8(self):
        text = "héllo!"  # é is 2 bytes -> 7 bytes total -> 1 word
        out = self._run([(5, text)])
        blob = text.encode("utf-8")
        assert list(out["word"]) == [int.from_bytes(blob[:4], "big")]

    def test_word_index_resets_per_doc(self):
        out = self._run([(1, "aaaabbbb"), (2, "ccccddddeeee")])
        got = out.groupby("doc_id")["word_index"].apply(list).to_dict()
        assert got == {1: [0, 1], 2: [0, 1, 2]}


def test_pcm_energy_known_clip():
    """Byte-level golden test of the PCM decode kernel: a hand-built
    two-frame clip with known samples."""
    import struct

    from project_etl_spark.operators.llm_multimodal import pcm_energy
    samples = list(range(-16, 16))  # 32 samples = 2 frames
    blob = b"PCM\n32\n" + struct.pack("<32h", *samples)
    e = pcm_energy(blob)
    assert e["n_samples"] == 32 and e["n_frames"] == 2
    assert e["peak_abs"] == 16
    f0 = sum(v * v for v in samples[:16])
    f1 = sum(v * v for v in samples[16:])
    assert e["total_sumsq"] == f0 + f1
    assert e["max_frame_sumsq"] == max(f0, f1)


def test_pcm_payload_roundtrips_spark_vs_python(spark, sf_dir):
    """The JVM payload assembly and the pure-Python generator twin must
    produce byte-identical blobs (the precondition of the golden oracle)."""
    from project_etl_spark.io import table
    from project_etl_spark.operators.llm_multimodal import pcm_payloads
    from tools.gen_golden import pcm_payload_py
    rows = (pcm_payloads(table(spark, sf_dir, "documents").limit(20))
            .collect())
    texts = {r["doc_id"]: r["text"] for r in
             table(spark, sf_dir, "documents").limit(20).collect()}
    for r in rows:
        assert bytes(r["payload"]) == pcm_payload_py(r["doc_id"],
                                                  texts[r["doc_id"]])
