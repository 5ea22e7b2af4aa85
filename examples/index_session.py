#!/usr/bin/env python
"""Dedup fragment-index lifecycle on the Spark engine — the 100 TB
maintenance workflow (SCALE.md "Dedup / similarity") as one runnable
script over the synthetic corpus:

    python examples/index_session.py [sf_dir] [workdir]

Stages: hot-shingle pre-flight audit (is the quadratic join safe? no) ->
build the persisted fragment index (one shingling pass) -> audit manifest
-> run the banding sweep OFF the index -> nightly incremental merge of a
delta batch (delta-sized work, bit-identical to a full rebuild) -> verify
merge == rebuild via the manifests. Every stage is the same shared
implementation the registered queries use (project_etl_spark/operators/
llm_dedup.py).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from project_etl_spark.io import table
from project_etl_spark.registry import load_all
from project_etl_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp()
    spark = get_spark("index-session",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    from project_etl_spark.operators.llm_dedup import (
        INDEX_FRAGMENTS, build_dedup_index, index_manifest,
        merge_dedup_index)

    print("== pre-flight: hot-shingle audit (naive pair mass per df band) ==")
    reg["ext_shingle_hot_audit"].builder(spark, sf_dir) \
        .orderBy("df_band").show(truncate=False)

    docs = table(spark, sf_dir, "documents")
    print(f"== build the fragment index -> {workdir}/full ==")
    full = build_dedup_index(spark, docs, os.path.join(workdir, "full"))
    index_manifest(spark, full).orderBy("fragment").show(truncate=False)

    print("== banding sweep OFF the persisted index ==")
    reg["ext_dedup_census_indexed"].builder(spark, sf_dir) \
        .orderBy("rows_per_band").show(truncate=False)

    print("== nightly merge: archive (doc_id % 19 != 2) + delta ==")
    merged = merge_dedup_index(spark, docs, F.expr("doc_id % 19 = 2"),
                               os.path.join(workdir, "nightly"))
    m_inc = {r["fragment"]: tuple(r)
             for r in index_manifest(spark, merged).collect()}
    m_full = {r["fragment"]: tuple(r)
              for r in index_manifest(spark, full).collect()}
    for name in INDEX_FRAGMENTS:
        status = "IDENTICAL" if m_inc[name] == m_full[name] else "MISMATCH"
        print(f"   {name:16s} merge-vs-rebuild: {status} {m_inc[name][1:]}")
    assert m_inc == m_full, "incremental merge must equal full rebuild"
    print(f"workdir kept at {workdir}")


if __name__ == "__main__":
    main()
