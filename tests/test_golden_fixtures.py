"""Every committed multimodal golden is byte for byte what
tools/gen_golden.py writes today, so a twin, payload or layout change
that was not followed by a regeneration fails here rather than in an
oracle join."""

from __future__ import annotations

import os

import pytest

from tools.gen_golden import FIXTURES, GOLDENS, SF_DIRS, corpus, write_golden

pytestmark = pytest.mark.skipif(
    not all(os.path.isdir(d) for d in SF_DIRS),
    reason="golden fixtures are generated from every fixture scale")


@pytest.fixture(scope="module")
def docs():
    return corpus()


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_committed_golden_is_generator_output(name, docs, tmp_path):
    with open(write_golden(name, docs, str(tmp_path)), "rb") as f:
        fresh = f.read()
    with open(os.path.join(FIXTURES, name), "rb") as f:
        assert fresh == f.read(), (
            f"{name} is stale: run `python tools/gen_golden.py`")
