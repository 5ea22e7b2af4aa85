"""Dedup quality on planted duplicates: the synthetic fixture corpus has no
true near-dups, so these tests plant exact and near duplicates and assert
each dedup path finds exactly them (the operator-quality check a 100 TB
training-data pipeline actually cares about)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from project_etl_spark.operators.joins import bucketized_range_join
from project_etl_spark.operators.llm_dedup import jaccard_via_lsh

BASE = ("the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster during a wide transformation "
        "stage with adaptive query execution enabled for skew handling").split()


def _corpus(spark):
    docs = []
    # doc 0/1: exact duplicates (after normalization)
    docs.append((0, " ".join(BASE)))
    docs.append((1, "  " + " ".join(BASE).upper() + " "))
    # doc 2: near-dup of 0 (one word changed -> very high jaccard)
    w = list(BASE)
    w[5] = "hops"
    docs.append((2, " ".join(w)))
    # doc 3/4: unrelated
    docs.append((3, " ".join(reversed([x + "x" for x in BASE]))))
    docs.append((4, "completely different tokens " * 10))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_exact_dedup_finds_planted_duplicate(spark):
    docs = _corpus(spark)
    fp = docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("f"))
    groups = fp.groupBy("f").agg(F.collect_set("doc_id").alias("ids"))
    dup_groups = [sorted(r["ids"]) for r in groups.collect() if len(r["ids"]) > 1]
    assert dup_groups == [[0, 1]]


def test_lsh_jaccard_finds_planted_near_dup(spark):
    docs = _corpus(spark)
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_via_lsh(docs, threshold=0.5).collect()}
    # 0-2 is the planted near-dup (one word of ~30 changed); 0-1 is exact
    # (jaccard over case-normalized shingles differs -> 0-1 shingles differ
    #  by case, so only 0-2 is guaranteed; case-folded exact pair may or may
    #  not surface depending on shingle normalization, which is case-sensitive)
    assert (0, 2) in out
    assert out[(0, 2)] > 0.8
    assert all(not (a in (3, 4) or b in (3, 4)) for a, b in out)


def test_lsh_boilerplate_group_stays_linear(spark):
    """The 100 TB hot-bucket bound: a k-copy exact-dup group (the
    boilerplate-page case) must reach the LSH band join as ONE canonical
    row per band — candidate-join input linear in group size, never the
    k^2/2 bucket blow-up — while the expanded output still contains every
    C(k,2) within-group pair at jaccard exactly 1.0."""
    from project_etl_spark.operators.llm_dedup import (
        _shingles, collapse_exact_dups, minhash_band_buckets,
        minhash_signatures)
    k = 40
    boiler = "copyright notice all rights reserved do not redistribute " * 6
    rows = [(i, boiler) for i in range(k)]
    rows += [(100 + i, " ".join(BASE) + f" tail{i}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    canon_docs, members = collapse_exact_dups(docs)
    assert canon_docs.count() == 4          # k copies -> 1 representative
    assert members.count() == k + 3
    buckets = minhash_band_buckets(minhash_signatures(_shingles(canon_docs)))
    assert buckets.count() <= 4 * 4         # <= one row per (canonical, band)
    out = jaccard_via_lsh(docs, threshold=0.5).collect()
    within = {(r["doc_a"], r["doc_b"]) for r in out if r["doc_b"] < 100}
    assert within == {(a, b) for a in range(k) for b in range(a + 1, k)}
    assert all(r["jaccard"] == 1.0 and r["n_common"] > 0
               for r in out if r["doc_b"] < 100)
    # no cross pair may bridge the unrelated boilerplate and tail families
    assert not any(r["doc_a"] < 100 <= r["doc_b"] for r in out)


def test_incremental_archive_hot_group_contributes_no_candidates(spark):
    """The incremental-dedup delta-side bound (the nightly-ingest twin of
    the boilerplate test above): a k-copy hot group living ENTIRELY in the
    archive must contribute zero candidate pairs — corpus x corpus bucket
    collisions never form, so nightly cost is sized by the ingest, not the
    archive — while a single delta doc near-dup of the group still links
    to every archive copy (those pairs ARE the answer)."""
    from project_etl_spark.operators.llm_dedup import incremental_pairs

    k = 40
    boiler = "copyright notice all rights reserved do not redistribute " * 6
    rows = [(i, boiler) for i in range(k)]            # archive hot group
    rows += [(100 + i, " ".join(reversed([x + f"y{i}" for x in BASE])))
             for i in range(3)]                        # unrelated delta docs
    w = boiler.split()
    w[3] = "similar"
    rows.append((200, " ".join(w)))                    # delta near-dup
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_pairs(docs, F.col("doc_id") >= 100).collect()
    got = {(r["new_doc_id"], r["corpus_doc_id"]) for r in out}
    # exactly delta-200 x each archive copy; never archive x archive or
    # delta x delta
    assert got == {(200, i) for i in range(k)}
    # the repeated boilerplate has only ~11 distinct shingles, so one
    # changed word costs ~3 of them: jaccard ~0.7, well above the 0.5 gate
    assert all(r["jaccard"] > 0.6 for r in out)


def test_simhash_close_for_near_dups(spark):
    from project_etl_spark.registry import load_all
    docs = _corpus(spark)
    docs.createOrReplaceTempView("_planted")
    # run the registered builder's logic directly on planted docs
    from project_etl_spark.operators.llm_dedup import _H60_RAW
    toks = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "").distinct())
    h16 = F.expr(_H60_RAW.format(col="tok")) % 65536
    bits = (toks.select("doc_id", h16.alias("h"),
                        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"))
            .select("doc_id", "j",
                    F.expr("CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END").alias("vote")))
    votes = bits.groupBy("doc_id", "j").agg(F.sum("vote").alias("s"))
    sh = {r["doc_id"]: r["sig"] for r in
          votes.groupBy("doc_id").agg(F.sum(
              F.when(F.col("s") > 0, F.expr("cast(1 as bigint) << j")).otherwise(0)
          ).alias("sig")).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sh[0], sh[2]) <= 4       # near-dups: close signatures
    assert hamming(sh[0], sh[4]) >= hamming(sh[0], sh[2])


SETTINGS = settings(max_examples=5, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


@SETTINGS
@given(
    lefts=st.lists(st.integers(0, 500), min_size=1, max_size=10),
    rights=st.lists(st.integers(0, 500), min_size=1, max_size=10),
    width=st.sampled_from([50, 100, 250]),
)
def test_bucketized_range_join_equals_naive(spark, lefts, rights, width):
    """The bucketized rewrite returns exactly the naive theta-join pairs."""
    span = float(width)  # window span == bucket width (helper contract)
    ldf = spark.createDataFrame([(i, float(v)) for i, v in enumerate(lefts)],
                                "lid long, lv double").withColumn("k", F.lit(1))
    rdf = spark.createDataFrame([(i, float(v)) for i, v in enumerate(rights)],
                                "rid long, rv double").withColumn("k", F.lit(1))
    got = bucketized_range_join(
        ldf, rdf, on=F.col("lid") * F.lit(0) == F.col("rid") * F.lit(0),
        left_val=F.col("lv"), right_val=F.col("rv"),
        lo=F.lit(0.0), hi=F.lit(span), bucket_width=width,
    ).select("lid", "rid").collect()
    got_pairs = {(r["lid"], r["rid"]) for r in got}
    want = {(i, j) for i, lv in enumerate(lefts) for j, rv in enumerate(rights)
            if lv <= rv <= lv + span}
    assert got_pairs == want


def test_shingles_short_documents(spark):
    """Documents with < 3 tokens must yield zero shingles, not crash
    (ANSI array indexing) — and the pipeline stays consistent end to end."""
    from project_etl_spark.operators.llm_dedup import _shingles
    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "exactly three tokens"),
         (4, "a b c d")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["cnt"] for r in
           _shingles(docs).groupBy("doc_id").count()
           .withColumnRenamed("count", "cnt").collect()}
    assert 0 not in got and 1 not in got and 2 not in got
    assert got[3] == 1 and got[4] == 2
    # full pipeline over the degenerate corpus must not crash
    assert jaccard_via_lsh(docs, threshold=0.0).count() >= 0


def test_demo_guard_passes_small_and_rejects_large(spark):
    """Quadratic exact demos are bounded: under the limit the input flows
    through untouched; over it, the error names the LSH flagship."""
    from project_etl_spark.operators.demo_guard import (
        DemoScaleError, guard_demo_scale)
    small = spark.range(10).withColumnRenamed("id", "doc_id")
    assert guard_demo_scale(small, query="q", flagship="f",
                            max_rows=10).count() == 10
    big = spark.range(11)
    with pytest.raises(DemoScaleError, match="ext_dedup_near_lsh_verified"):
        guard_demo_scale(big, query="ext_dedup_near_jaccard",
                         flagship="ext_dedup_near_lsh_verified", max_rows=10)


def test_demo_guard_bound_clears_all_fixtures():
    """The default bound must pass every fixture scale (sf0.1 is the
    largest: 5 000 documents / 2 000 embeddings) with 10x headroom."""
    from project_etl_spark.operators.demo_guard import DEMO_MAX_ROWS
    assert DEMO_MAX_ROWS >= 50_000


def _clustered_embeddings(spark, n_clusters=10, per_cluster=50, dim=64):
    """Planted clustered corpus: unit-ish cluster directions + small noise,
    label = true cluster. The fixture embeddings are isotropic (within- and
    across-label mean cosine are both ~0), where NO coarse index can beat
    recall ~ n_probe/n_lists — so, like the planted-duplicate corpora above,
    the ANN quality gate plants the structure the operator is built for."""
    import math
    import random
    rng = random.Random(1234)
    dirs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c, d in enumerate(dirs):
        nrm = math.sqrt(sum(x * x for x in d))
        d = [x / nrm for x in d]
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, 0.15) for x in d]
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")


def test_ann_ivf_recall_at_10_on_clustered_data(spark):
    """Approximation-quality gate (the reference's N-in/N-out ground-truth
    counting applied to ANN): on cluster-structured data, probing 2 of 10
    inverted lists must recover >= 80% of the exact cosine top-10."""
    from project_etl_spark.operators.llm_similarity import (
        cosine, ivf_topk, query_vector)
    emb = _clustered_embeddings(spark)
    approx = {r["vec_id"] for r in ivf_topk(emb, n_probe=2, k=10).collect()}
    exact_df = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query_vector(emb)))
        .select("vec_id",
                cosine(F.col("embedding"), F.col("q_embedding")).alias("s"))
        .orderBy(F.col("s").desc(), "vec_id").limit(10)
    )
    exact = {r["vec_id"] for r in exact_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall@10 = {recall}"


def test_ann_ivf_probe_fraction_bounds_scan(spark, sf_dir):
    """On the isotropic fixture the IVF output must still be exactly k rows
    drawn only from the 2 probed lists (the scan-bound contract — recall
    there is information-theoretically ~ n_probe/n_lists)."""
    from project_etl_spark.registry import load_all
    reg = load_all()
    rows = reg["ext_ann_ivf_topk"].builder(spark, sf_dir).collect()
    assert len(rows) == 10
    assert len({r["label"] for r in rows}) <= 2


def test_connected_components_transitive_chain(spark):
    """A~B and B~C (A,C never paired) must collapse into ONE cluster with
    canonical min id; isolated vertices stay their own canonical."""
    from project_etl_spark.operators.llm_dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "doc_a long, doc_b long")
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    got = {r["doc_id"]: r["label"]
           for r in connected_components(edges, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_path_converges(spark):
    """A 12-vertex path graph needs several propagation rounds; the fixpoint
    loop must run them all and land every vertex on the global min."""
    from project_etl_spark.operators.llm_dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long")
    verts = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
    got = {r["doc_id"]: r["label"]
           for r in connected_components(edges, verts).collect()}
    assert got == {i: 1 for i in range(1, 13)}


@SETTINGS
@given(edges=st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
    max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    """Random graphs: label propagation must agree with a driver-side
    union-find on every vertex's component minimum."""
    from project_etl_spark.operators.llm_dedup import connected_components

    verts = sorted({v for e in edges for v in e} | {99})
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    for v in verts:
        r = find(v)
        want.setdefault(r, []).append(v)
    expect = {v: min(vs) for r, vs in want.items() for v in vs}

    edf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 1)],
        "doc_a long, doc_b long")
    if not edges:
        edf = edf.limit(0)
    vdf = spark.createDataFrame([(v,) for v in verts], "doc_id long")
    got = {r["doc_id"]: r["label"]
           for r in connected_components(edf, vdf).collect()}
    assert got == expect


def test_pca_matches_numpy_exactly(spark, sf_dir):
    """The distributed Gram + driver eigensolve must reproduce numpy's
    exact top-2 principal components (|cosine| >= 0.999 each) and
    eigenvalues."""
    import numpy as np

    from project_etl_spark.registry import load_all

    rows = load_all()["ext_embedding_pca"].builder(spark, sf_dir).collect()
    V = np.zeros((2, 64))
    ev = {}
    for r in rows:
        V[r["k"], r["pos"]] = r["component_q"] / 1e6
        ev[r["k"]] = r["eigenvalue_q"] / 1e6
    X = np.array(spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                 .select("embedding").toPandas()["embedding"].tolist(),
                 dtype=np.float64)
    Xc = X - X.mean(axis=0)
    evals, evecs = np.linalg.eigh(Xc.T @ Xc)
    for k in range(2):
        assert abs(float(np.dot(V[k], evecs[:, -(k + 1)]))) >= 0.999, k
        assert abs(ev[k] - evals[-(k + 1)]) / evals[-(k + 1)] < 1e-6, k


@SETTINGS
@given(edges=st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=30))
def test_star_cc_equals_label_propagation(spark, edges):
    """The large-star/small-star variant must produce the identical
    (doc_id, label) assignment as min-label propagation on random graphs."""
    from project_etl_spark.operators.llm_dedup import (
        connected_components, connected_components_star)

    verts = sorted({v for e in edges for v in e} | {77})
    edf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long")
    vdf = spark.createDataFrame([(v,) for v in verts], "doc_id long")
    lp = {r["doc_id"]: r["label"]
          for r in connected_components(edf, vdf).collect()}
    star = {r["doc_id"]: r["label"]
            for r in connected_components_star(edf, vdf).collect()}
    assert star == lp


def test_star_cc_long_path(spark):
    """A 16-vertex path: worst case for label propagation, easy for the
    star algorithm — both must land every vertex on the global min."""
    from project_etl_spark.operators.llm_dedup import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "doc_a long, doc_b long")
    verts = spark.createDataFrame([(i,) for i in range(1, 17)], "doc_id long")
    got = {r["doc_id"]: r["label"]
           for r in connected_components_star(edges, verts).collect()}
    assert got == {i: 1 for i in range(1, 17)}


def test_semdedup_drop_rule_invariants(spark, sf_dir):
    """Every dropped vector must name a smaller-id representative, sit in
    the cluster it was assigned to, and clear the cosine threshold."""
    from project_etl_spark.operators.llm_similarity import (SEMDEDUP_K,
                                                            SEMDEDUP_TAU)
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_semdedup"].builder(spark, sf_dir).collect()
    tau = float(SEMDEDUP_TAU)
    assert rows, "fixture should contain at least one semantic dup pair"
    for r in rows:
        assert r["rep_id"] < r["dup_id"]
        assert 1 <= r["cluster"] <= SEMDEDUP_K
        assert r["n_dup_neighbors"] >= 1
        # max_cos is pround(·, 4); allow half an ulp of the quantization
        assert r["max_cos"] >= tau - 5e-5


def test_unigram_logprob_bucket_shape(spark, sf_dir):
    """Tertile buckets must be 1..3 and near-balanced per language, and
    every score must be a positive NLL."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_unigram_logprob"].builder(spark, sf_dir).collect()
    per_lang: dict[str, dict[int, int]] = {}
    for r in rows:
        assert r["avg_nll"] > 0
        assert 1 <= r["ppl_bucket"] <= 3
        per_lang.setdefault(r["lang"], {}).setdefault(r["ppl_bucket"], 0)
        per_lang[r["lang"]][r["ppl_bucket"]] += 1
    for lang, buckets in per_lang.items():
        assert set(buckets) == {1, 2, 3}, lang
        assert max(buckets.values()) - min(buckets.values()) <= 1, lang


def test_substring_dupes_span_invariants(spark, sf_dir):
    """Dup counts are bounded by gram counts and spans are well-formed
    (clean docs carry the -1 sentinels and share degree 0)."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_substring_dupes"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dup_grams"] <= r["n_grams"]
        if r["n_dup_grams"] == 0:
            assert r["first_dup_pos"] == -1 and r["last_dup_end"] == -1
            assert r["max_share"] == 0
        else:
            assert 0 <= r["first_dup_pos"] <= r["last_dup_end"]
            assert r["max_share"] >= 2


def test_bm25_matches_numpy_reference(spark, sf_dir):
    """BM25 top-10 must equal a from-scratch numpy/python scoring of the
    same corpus (independent of both engines' SQL paths)."""
    import math

    from project_etl_spark.operators.llm_text import _BM25_TERMS
    from project_etl_spark.registry import load_all

    docs = {r["doc_id"]: r["text"].split(" ")
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    toks = {d: [t for t in ws if t] for d, ws in docs.items()}
    dl = {d: len(ws) for d, ws in toks.items() if ws}
    n_docs = len(dl)
    avgdl = sum(dl.values()) * 1.0 / n_docs
    tf = {d: {t: ws.count(t) for t in _BM25_TERMS if t in ws}
          for d, ws in toks.items()}
    df = {t: sum(1 for d in tf if t in tf[d]) for t in _BM25_TERMS}
    k1, b = 1.2, 0.75
    scores = {}
    for d, terms in tf.items():
        if not terms:
            continue
        s = 0.0
        for t, f_ in terms.items():
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (f_ * (k1 + 1.0)) / (
                f_ + k1 * (1.0 - b + b * dl[d] / avgdl))
        scores[d] = s
    expect = sorted(scores, key=lambda d: (-math.floor(scores[d] * 1e6 + 0.5),
                                           d))[:10]
    got = [r["doc_id"] for r in
           load_all()["ext_bm25_topk"].builder(spark, sf_dir).collect()]
    assert got == expect


def test_entropy_and_zipf_bounds(spark, sf_dir):
    """Shannon entropy must sit in [0, log2(vocab)] per language and the
    Zipf OLS slope must be negative (frequency falls with rank)."""
    import math

    from project_etl_spark.registry import load_all

    ent = load_all()["ext_corpus_entropy"].builder(spark, sf_dir).collect()
    assert ent
    for r in ent:
        assert 0.0 < r["entropy_bits"] <= math.log2(r["vocab_size"]) + 1e-9
    for r in load_all()["ext_zipf_slope"].builder(spark, sf_dir).collect():
        assert r["zipf_slope"] < 0.0
        assert r["n_types"] >= 2


def test_pagerank_is_a_distribution_over_dup_graph(spark, sf_dir):
    """After two damped power iterations over the symmetric near-dup graph
    (no dangling mass), total rank stays ~1 and every vertex holds at
    least the teleport floor 0.15/N."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_pagerank_iter"].builder(spark, sf_dir).collect()
    assert rows
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 0.01
    floor = 0.15 / len(rows)
    for r in rows:
        assert r["pagerank"] >= floor - 1e-9
        assert r["deg"] >= 1


def test_dsir_upweights_the_target_slice(spark, sf_dir):
    """The defining property of importance weights: documents FROM the
    target slice (src0/src1) must average a higher log-weight than the
    raw pool — the estimator recognizes its own target distribution."""
    from pyspark.sql import functions as F

    from project_etl_spark.io import table
    from project_etl_spark.registry import load_all

    w = load_all()["ext_dsir_weights"].builder(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    j = w.join(docs, "doc_id").withColumn(
        "tgt", F.col("source").isin("src0", "src1").cast("int"))
    means = {r["tgt"]: r["m"] for r in
             j.groupBy("tgt").agg(F.avg("dsir_logweight").alias("m")).collect()}
    assert means[1] > means[0]


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """8-permutation MinHash is coarse (granularity 1/8) but unbiased:
    estimates stay in [0,1] and the mean absolute error over candidate
    pairs stays under two granularity steps."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_minhash_accuracy"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) < 1e-6
    mae = sum(r["abs_err"] for r in rows) / len(rows)
    assert mae < 0.25, mae


def test_ngram_novelty_rates_are_fractions(spark, sf_dir):
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_ngram_novelty"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_held"]
        assert 0.0 <= r["novelty_rate"] <= 1.0


def test_shard_manifest_covers_corpus_and_balances(spark, sf_dir):
    """Every document lands in exactly one shard and longest-first dealing
    keeps token totals within a loose balance envelope."""
    from project_etl_spark.io import table
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_shard_manifest"].builder(spark, sf_dir).collect()
    assert len(rows) == 8
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    totals = [r["total_tokens"] for r in rows]
    assert max(totals) <= 2 * min(totals), totals


def test_image_ahash_collides_for_identical_payloads(spark, sf_dir):
    """Exact-duplicate texts on the same (width, height) grid synthesize
    byte-identical images, so their aHashes MUST collide; and the census
    arithmetic must be internally consistent."""
    from collections import Counter

    from project_etl_spark.registry import load_all

    rows = load_all()["ext_image_ahash"].builder(spark, sf_dir).collect()
    assert rows
    census = Counter(r["ahash"] for r in rows)
    canon = Counter()
    for r in rows:
        assert census[r["ahash"]] == r["n_same_hash"]
        canon[r["ahash"]] += r["is_canonical"]
    assert all(v == 1 for v in canon.values())


def test_rrf_fuses_both_rankers(spark, sf_dir):
    """The fused list must contain contributions from both rankers, scores
    bounded by the two-term RRF maximum 2/(k+1), and ranks within depth."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_hybrid_retrieval_rrf"].builder(spark, sf_dir).collect()
    assert rows
    assert any(r["r_bm25"] is not None for r in rows)
    assert any(r["r_cos"] is not None for r in rows)
    for r in rows:
        assert r["r_bm25"] is not None or r["r_cos"] is not None
        assert 0.0 < r["rrf_score"] <= 2.0 / 61.0 + 1e-9
        for c in ("r_bm25", "r_cos"):
            if r[c] is not None:
                assert 1 <= r[c] <= 20
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_quality_logistic_probabilities(spark, sf_dir):
    """Probabilities live strictly in (0,1) and the keep flag is exactly
    the 0.5 threshold applied to the unrounded probability."""
    from project_etl_spark.registry import load_all

    rows = load_all()["ext_quality_logistic"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["quality_prob"] < 1.0
        if r["quality_prob"] > 0.5001:
            assert r["kept"] == 1
        if r["quality_prob"] < 0.4999:
            assert r["kept"] == 0


def test_fragment_index_roundtrip_and_equivalence(spark, tmp_path):
    """The persisted fragment index (sink_dedup_index's build) must (a)
    round-trip deterministically — two independent builds of the same
    corpus produce byte-equal fragment contents — and (b) store
    signatures PROVABLY equal to the in-pipeline string-hash signatures
    over the canonical corpus (the h60 % P derivation claim), so every
    consumer that switches from recompute to index-read keeps its
    answers."""
    from project_etl_spark.operators.llm_dedup import (
        _shingles, build_dedup_index, collapse_exact_dups,
        minhash_signatures)

    k = 12
    boiler = "copyright notice all rights reserved do not redistribute " * 6
    rows = [(i, boiler) for i in range(k)]
    rows += [(100 + i, " ".join(BASE) + f" tail{i}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    p1 = build_dedup_index(spark, docs, str(tmp_path / "idx1"))
    p2 = build_dedup_index(spark, docs, str(tmp_path / "idx2"))
    for frag in ("members", "shingle_hashes", "signatures", "band_buckets"):
        a = sorted(map(tuple, spark.read.parquet(p1[frag]).collect()))
        b = sorted(map(tuple, spark.read.parquet(p2[frag]).collect()))
        assert a == b, frag

    # collapse bound: the k-copy group stores ONE canonical signature set
    sigs_idx = spark.read.parquet(p1["signatures"])
    assert sigs_idx.select("doc_id").distinct().count() == 4
    # equivalence: index signatures == pipeline signatures (canonical docs)
    canon_docs, _ = collapse_exact_dups(docs)
    sigs_pipe = minhash_signatures(_shingles(canon_docs))
    assert (sorted(map(tuple, sigs_idx.collect()))
            == sorted(map(tuple, sigs_pipe.collect())))


def test_census_indexed_finds_planted_near_dup(spark):
    """ext_dedup_census_indexed semantic check on a planted corpus via the
    same fragments: the near-dup canonical pair must verify at every
    banding that catches it, and the k-copy group must not inflate the
    candidate count (canonical collapse happens before the band join)."""
    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, minhash_band_buckets, minhash_from_hashes)

    k = 20
    boiler = "copyright notice all rights reserved do not redistribute " * 6
    w = boiler.split()
    w[3] = "similar"
    rows = [(i, boiler) for i in range(k)]
    rows.append((200, " ".join(w)))          # near-dup of the group
    rows += [(300 + i, " ".join(reversed([x + f"z{i}" for x in BASE])))
             for i in range(2)]              # unrelated
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import tempfile
    base = tempfile.mkdtemp()
    paths = build_dedup_index(spark, docs, base)
    buckets = spark.read.parquet(paths["band_buckets"])
    # canonical corpus = {0, 200, 300, 301}: candidate join input is 4 docs
    assert buckets.select("doc_id").distinct().count() == 4
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = {(r["doc_a"], r["doc_b"]) for r in
             a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct().collect()}
    assert (0, 200) in cands
    assert not any(300 <= x for pair in cands for x in pair)


def test_simhash_mega_band_bounded_and_exact(spark):
    """VERDICT-r5 hardening: a planted mega-band for the 12-bit simhash
    band join. A k-copy token-identical family collides in ALL four
    bands (the worst bucket skew the join can see); the output must be
    exactly that family's C(k,2) pairs at hamming 0 — candidate mass =
    answer mass — with zero leakage to the unrelated fill docs, and the
    hamming<=3 filter must sit BELOW the final distinct in the optimized
    plan (the narrow-exchange property SCALE.md records: only true
    near-dup rows enter the dedup shuffle)."""
    import tempfile

    from project_etl_spark.operators.llm_dedup import (
        ext_simhash_hamming_join)

    k = 25
    same = "copyright notice all rights reserved do not redistribute " * 4
    rows = [(i, same) for i in range(k)]
    rows += [(100 + i, " ".join(f"tok{i}w{j}" for j in range(40)))
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = ext_simhash_hamming_join(spark, d)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    expect = {(a, b) for a in range(k) for b in range(a + 1, k)}
    assert set(got) == expect
    assert all(h == 0 for h in got.values())
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    # the distinct lowers to Aggregate; the hamming filter must live in
    # its SUBTREE (appear after it in the top-down plan string), so only
    # true near-dup rows reach the dedup exchange
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg = plan.find("Aggregate")
    bc = plan.find("bit_count")
    assert 0 <= agg < bc, "hamming filter must be inside the distinct's subtree"


def test_index_merge_equals_full_rebuild_with_canon_handoff(spark, tmp_path):
    """merge_dedup_index must be BIT-IDENTICAL to a full rebuild, in all
    three group classes at once: untouched archive groups, a brand-new
    delta group, and — the hard case — a canonical-representative handoff
    where the delta doc's id UNDERCUTS its archive group's minimum, so
    every fragment keyed by the old canon must be rekeyed."""
    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, merge_dedup_index)

    boiler = "copyright notice all rights reserved do not redistribute " * 6
    fresh = " ".join(BASE)
    rows = [(10, boiler), (11, boiler), (20, fresh + " archive only")]
    # delta: id 2 joins the boiler group and UNDERCUTS canon 10; ids
    # 40/41 form a brand-new two-copy group; id 50 duplicates doc 20
    # without undercutting it
    rows += [(2, boiler), (40, "totally new delta page " * 8),
             (41, "totally new delta page " * 8), (50, fresh + " archive only")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    is_delta = F.col("doc_id").isin(2, 40, 41, 50)

    merged = merge_dedup_index(spark, docs, is_delta, str(tmp_path / "m"))
    full = build_dedup_index(spark, docs, str(tmp_path / "f"))
    for frag in ("members", "shingle_hashes", "signatures",
                 "signatures_wide", "band_buckets"):
        a = sorted(map(tuple, spark.read.parquet(merged[frag]).collect()))
        b = sorted(map(tuple, spark.read.parquet(full[frag]).collect()))
        assert a == b, frag
    # the handoff really happened: boiler group's canon is now delta doc 2
    mem = {r["doc_id"]: (r["canon_id"], r["gsize"])
           for r in spark.read.parquet(merged["members"]).collect()}
    assert mem[10] == (2, 3) and mem[2] == (2, 3)
    assert mem[20] == (20, 2) and mem[50] == (20, 2)
    assert mem[40] == (40, 2)


def test_index_wide_fragment_is_source_of_truth(spark, tmp_path):
    """The persisted signatures_wide fragment must reproduce BOTH audited
    signature views exactly — posexploding it equals the persisted
    row-form signatures fragment, and re-banding it equals the persisted
    band_buckets fragment — so the wide layout's content is certified
    transitively by the manifest's checksums. Merge and retract rewrite
    the wide fragment themselves, so their outputs must hold it too, and
    it must equal the wide fragment of a rebuild over the same docs."""
    from project_etl_spark.operators.llm_dedup import (
        band_buckets_from_wide, build_dedup_index, merge_dedup_index,
        retract_dedup_index, signatures_from_wide)

    rows = [(i, "copyright notice all rights reserved " * 4)
            for i in range(5)]
    rows += [(100 + i, " ".join(BASE) + f" tail{i}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # the merge delta undercuts the boilerplate group's canon and adds a
    # new singleton; the takedown removes that canon and the singleton
    picked = F.col("doc_id").isin(0, 3, 101)
    jobs = {
        "build": (build_dedup_index(spark, docs, str(tmp_path / "b")),
                  docs),
        "merge": (merge_dedup_index(spark, docs, picked,
                                    str(tmp_path / "m")), docs),
        "retract": (retract_dedup_index(spark, docs, picked,
                                        str(tmp_path / "r")),
                    docs.where(~picked)),
    }

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    for job, (p, survivors) in jobs.items():
        wide = spark.read.parquet(p["signatures_wide"])
        assert (rows_of(signatures_from_wide(wide))
                == rows_of(spark.read.parquet(p["signatures"]))), job
        assert (rows_of(band_buckets_from_wide(wide, 2))
                == rows_of(spark.read.parquet(p["band_buckets"]))), job
        reb = build_dedup_index(spark, survivors, str(tmp_path / job))
        assert rows_of(wide) == rows_of(
            spark.read.parquet(reb["signatures_wide"])), job


def test_parallel_writes_waits_for_all_and_keeps_every_error():
    """_parallel_writes must wait for every thunk, raise the FIRST error
    in submission order (not completion order), and attach each later
    error as a note instead of dropping it."""
    import time

    from project_etl_spark.operators.llm_dedup import _parallel_writes

    done = []

    def fails_late():
        time.sleep(0.2)
        raise ValueError("first submitted")

    def slow_ok():
        time.sleep(0.5)
        done.append(True)

    def fails_early():
        raise KeyError("second submitted")

    with pytest.raises(ValueError, match="first submitted") as err:
        _parallel_writes(fails_late, slow_ok, fails_early)
    assert done == [True]
    notes = getattr(err.value, "__notes__", [])
    assert len(notes) == 1 and "second submitted" in notes[0], notes


def test_index_merge_edge_cases_empty_delta_and_empty_archive(spark, tmp_path):
    """Boundary contracts of merge_dedup_index: an EMPTY delta must
    reproduce the archive index exactly (no-op nightly), and an
    all-delta corpus (first ever ingest) must equal a full build."""
    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, merge_dedup_index)

    rows = [(i, " ".join(BASE) + f" v{i % 3}") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    frags = ("members", "shingle_hashes", "signatures", "band_buckets")

    merged_none = merge_dedup_index(spark, docs, F.lit(False),
                                    str(tmp_path / "none"))
    merged_all = merge_dedup_index(spark, docs, F.lit(True),
                                   str(tmp_path / "all"))
    full = build_dedup_index(spark, docs, str(tmp_path / "full"))
    for frag in frags:
        want = sorted(map(tuple, spark.read.parquet(full[frag]).collect()))
        a = sorted(map(tuple,
                       spark.read.parquet(merged_none[frag]).collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(merged_all[frag]).collect()))
        assert a == want, f"empty-delta {frag}"
        assert b == want, f"empty-archive {frag}"


def test_index_checksums_invariant_to_partitioning(spark, tmp_path):
    """The manifest checksums are order-independent XORs and every
    fragment derivation is deterministic algebra, so the PERSISTED index
    content must be identical no matter how the input was partitioned —
    the property that makes the manifest a cross-run integrity check at
    all (a layout-sensitive build would false-alarm on every cluster
    resize)."""
    from project_etl_spark.operators.llm_dedup import build_dedup_index

    rows = [(i, " ".join(BASE) + f" v{i % 4}") for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p1 = build_dedup_index(spark, docs.repartition(7, "doc_id"),
                           str(tmp_path / "p7"))
    p2 = build_dedup_index(spark, docs.repartition(3),
                           str(tmp_path / "p3"))
    for frag in ("members", "shingle_hashes", "signatures", "band_buckets"):
        a = sorted(map(tuple, spark.read.parquet(p1[frag]).collect()))
        b = sorted(map(tuple, spark.read.parquet(p2[frag]).collect()))
        assert a == b, frag


def test_incremental_indexed_equals_from_scratch_twin(spark, sf_dir):
    """The index-backed nightly query must return the SAME drop/link list
    as the from-scratch twin on the fixture corpus: the canonical
    collapse + membership expansion and the h60-hash verify are
    implementation moves, not semantic ones."""
    from project_etl_spark.registry import load_all

    reg = load_all()
    a = sorted(map(tuple,
                   reg["ext_dedup_incremental"].builder(spark, sf_dir)
                   .collect()))
    b = sorted(map(tuple,
                   reg["ext_dedup_incremental_indexed"]
                   .builder(spark, sf_dir).collect()))
    assert a == b


def test_incremental_indexed_links_every_archive_copy(spark, tmp_path):
    """Planted: a delta near-dup of a k-copy archive boilerplate group
    must link to EVERY archive copy through the stored membership, while
    the archive group itself (canonical in the index) contributes no
    archive x archive candidates."""
    from project_etl_spark.operators.llm_dedup import (
        _H60_RAW, P, build_dedup_index, minhash_band_buckets,
        minhash_from_hashes, word_ngrams)

    k = 30
    boiler = "copyright notice all rights reserved do not redistribute " * 6
    rows = [(i, boiler) for i in range(k)]             # archive hot group
    w = boiler.split()
    w[3] = "similar"
    rows.append((200, " ".join(w)))                    # delta near-dup
    rows += [(300 + i, " ".join(reversed([x + f"q{i}" for x in BASE])))
             for i in range(2)]                        # unrelated archive
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    paths = build_dedup_index(spark, docs.where(F.col("doc_id") != 200),
                              str(tmp_path / "arch"))
    # archive band table holds only the 3 canonical docs
    assert (spark.read.parquet(paths["band_buckets"])
            .select("doc_id").distinct().count() == 3)
    delta = docs.where(F.col("doc_id") == 200)
    dsh60 = (word_ngrams(delta)
             .select("doc_id", F.expr(_H60_RAW.format(col="sh"))
                     .alias("h60")).distinct())
    dbuckets = minhash_band_buckets(
        minhash_from_hashes(dsh60.select("doc_id",
                                         (F.col("h60") % P).alias("h"))), 2)
    cands = (dbuckets.select(F.col("doc_id").alias("new_doc_id"),
                             "band", "bucket")
             .join(spark.read.parquet(paths["band_buckets"])
                   .select(F.col("doc_id").alias("canon_id"),
                           "band", "bucket"), ["band", "bucket"])
             .select("new_doc_id", "canon_id").distinct())
    got = {(r["new_doc_id"], r["canon_id"]) for r in cands.collect()}
    assert got == {(200, 0)}                 # one canonical candidate only
    members = spark.read.parquet(paths["members"])
    expanded = (cands.join(members.select("canon_id",
                                          F.col("doc_id").alias("m")),
                           "canon_id").select("m").collect())
    assert sorted(r["m"] for r in expanded) == list(range(k))


@SETTINGS
@given(
    texts=st.lists(st.sampled_from(
        ["alpha beta gamma delta " * 4, "one two three four five " * 3,
         "zeta eta theta " * 6, "shared boilerplate page body " * 5]),
        min_size=2, max_size=12),
    delta_mod=st.sampled_from([2, 3, 5]),
)
def test_index_merge_equals_rebuild_property(spark, tmp_path_factory,
                                             texts, delta_mod):
    """Generative pin of the flagship contract: for ANY corpus drawn from
    a duplicate-heavy pool and ANY modulo delta split, the incremental
    merge must be row-identical to the full rebuild, duplicate groups,
    canonical handoffs and all."""
    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, merge_dedup_index)

    tmp = tmp_path_factory.mktemp("merge_prop")
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    is_delta = F.col("doc_id") % delta_mod == 0
    merged = merge_dedup_index(spark, docs, is_delta, str(tmp / "m"))
    full = build_dedup_index(spark, docs, str(tmp / "f"))
    for frag in ("members", "shingle_hashes", "signatures", "band_buckets"):
        a = sorted(map(tuple, spark.read.parquet(merged[frag]).collect()))
        b = sorted(map(tuple, spark.read.parquet(full[frag]).collect()))
        assert a == b, frag


# ---------------------------------------------------------------------------
# Round-8 adversarial skew fixtures (verdict task 4): a planted mega-hot
# shingle and a mega-domain template family, with EXPLICIT candidate-count
# upper bounds pinned for each band join — the quantities that decide
# whether these operators survive a hot key at 100 TB.
# ---------------------------------------------------------------------------

def _hot_shingle_corpus(spark, n=60):
    """n documents with fully distinct content EXCEPT one shared
    boilerplate phrase — a shingle whose document frequency is 100% of
    the corpus (the mega-hot-key case for MinHash-LSH banding)."""
    rows = []
    for i in range(n):
        body = " ".join(f"w{i}x{j}" for j in range(40))
        rows.append((i, body + " copyright acme corp"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_candidates_bounded_under_mega_hot_shingle(spark):
    """Every doc shares one hot phrase (~3 shared shingles of ~42): the
    banded candidate join must stay FAR below all-pairs — the hot
    shingle rarely wins a whole 2-row minhash band, so collisions are
    the LSH curve's false-positive tail, not hot-bucket quadratics —
    and the exact-Jaccard verify must kill every survivor (true J
    ~ 3/81, far under the 0.5 gate)."""
    from project_etl_spark.operators.llm_dedup import (
        _shingles, collapse_exact_dups, jaccard_via_lsh,
        minhash_band_buckets, minhash_signatures)

    n = 60
    docs = _hot_shingle_corpus(spark, n)
    canon_docs, _ = collapse_exact_dups(docs)
    assert canon_docs.count() == n              # no exact dups to collapse
    buckets = minhash_band_buckets(minhash_signatures(_shingles(canon_docs)))
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    n_cands = (a.join(b, ["band", "bucket"])
               .where(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b").distinct().count())
    all_pairs = n * (n - 1) // 2                # 1770
    # Deterministic pipeline => fixed count; bound it at ~2% of all-pairs
    # (the measured value is far lower; the bound is the scale contract).
    assert n_cands <= all_pairs // 50, (
        f"hot shingle blew up the band join: {n_cands} candidates "
        f"vs {all_pairs} all-pairs")
    # verify stage: zero false near-dups survive the exact-Jaccard gate
    assert jaccard_via_lsh(docs, threshold=0.5).count() == 0


def test_simhash_band_candidates_bounded_under_mega_domain(spark):
    """Mega-domain: 15% of the corpus is one template family (near-equal
    simhashes — its C(k,2) pairs ARE the answer), the rest unrelated.
    Pin (a) the pre-hamming-filter candidate mass: answer pairs + a
    bounded random-collision tail (12-bit buckets keep unrelated
    collisions ~ C(n,2)/4096 per band), never unrelated-quadratic; and
    (b) the output: every within-family pair at hamming <= 3, zero
    cross/unrelated pairs."""
    from project_etl_spark.operators.llm_dedup import simhash48_bands

    k, n_other = 15, 85
    rows = []
    template = " ".join(f"boiler{j}" for j in range(60))
    for i in range(k):                          # one word varies per doc
        rows.append((i, template + f" unique{i}"))
    for i in range(n_other):                    # fully unrelated docs
        rows.append((100 + i,
                     " ".join(f"z{i}q{j}" for j in range(50))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = simhash48_bands(docs)
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash48").alias("sa"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash48").alias("sb"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())
    n_cands = cands.count()
    family_pairs = k * (k - 1) // 2             # 105 — the answer mass
    n = k + n_other
    collision_tail = (n * (n - 1) // 2) * 4 // 4096 + 16   # ~E + slack
    assert n_cands <= family_pairs + collision_tail, (
        f"band join candidate mass {n_cands} exceeds answer mass "
        f"{family_pairs} + collision tail {collision_tail}")
    # output contract under the skew: the banding must find EXACTLY the
    # brute-force hamming<=3 pair set (Manku's pigeonhole guarantee is
    # completeness, not "1-token-different docs land within 3 bits" —
    # a 1-token edit over a ~60-token doc flips ~48/sqrt(n) bits), and
    # none of those pairs may bridge the template family and the
    # unrelated docs.
    out = (a.join(b, ["band", "bucket"])
           .where(F.col("doc_a") < F.col("doc_b"))
           .select("doc_a", "doc_b",
                   F.expr("bit_count(sa ^ sb)").alias("hamming"))
           .where(F.col("hamming") <= 3).distinct())
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    sigs = {r["doc_id"]: r["simhash48"]
            for r in bands.select("doc_id", "simhash48").distinct().collect()}
    ids = sorted(sigs)
    brute = {(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]
             if bin(sigs[x] ^ sigs[y]).count("1") <= 3}
    assert got == brute
    assert all(x < 100 and y < 100 for x, y in got), (
        "a hamming<=3 pair bridged the template family and unrelated docs")
    assert len(got) >= k  # the mega-domain's answer mass does surface


def test_winnowing_df_cap_drops_mega_hot_fingerprints(spark):
    """A boilerplate paragraph planted in 60 docs (> _FP_DF_CAP = 50)
    must contribute ZERO candidate pairs — its fingerprints are dropped
    by the document-frequency cap BEFORE the self-join (the uncapped
    blow-up would be C(60,2) = 1770 pairs per shared fingerprint) —
    while a rare paragraph shared by exactly two docs still surfaces
    as a partial-overlap candidate."""
    from project_etl_spark.operators.llm_dedup import (
        _FP_DF_CAP, winnowing_fingerprints)

    n_hot = 60
    assert n_hot > _FP_DF_CAP
    boiler = " ".join(f"legal{j}" for j in range(30))
    rare = " ".join(f"rareword{j}" for j in range(30))
    rows = [(i, boiler + " " + " ".join(f"f{i}g{j}" for j in range(20)))
            for i in range(n_hot)]
    rows.append((500, rare + " opening remarks specific to doc five hundred"))
    rows.append((501, rare + " closing remarks specific to doc five oh one"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs).select("doc_id", "fp").distinct()
    kept = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= _FP_DF_CAP).select("fp"))
    capped = fps.join(kept, "fp")
    pairs = (capped.alias("a")
             .join(capped.alias("b"),
                   (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= 2))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # zero pairs among the hot-boilerplate family; the rare overlap found
    assert all(not (a < 100 and b < 100) for a, b in got), (
        f"hot fingerprints leaked into the self-join: "
        f"{[(x, y) for x, y in got if x < 100 and y < 100][:5]}")
    assert (500, 501) in got


def test_wide_lsh_pipeline_matches_row_form(spark, sf_dir):
    """Optimization round 12: the fused wide-signature LSH path
    (minhash_wide -> band_buckets_from_wide, one aggregate + one
    projection) must produce EXACTLY the row-form pipeline's values —
    same (doc_id, k, minhash) signature rows through minhash_from_hashes,
    and byte-identical (doc_id, band, bucket) rows for every banding the
    registry uses (1, 2 and 4 rows per band) — on the live fixture, so
    every banding consumer that switched to lsh_buckets is pinned."""
    from pyspark.sql import functions as F

    from project_etl_spark.io import table
    from project_etl_spark.operators.llm_dedup import (
        _H64, _shingles, lsh_buckets, minhash_band_buckets,
        minhash_signatures)

    docs = table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    # row-form signatures == wide-form signatures (posexplode of m0..m7)
    sigs_row = (_shingles(docs)
                .select("doc_id", F.expr(_H64.format(col="sh")).alias("h"))
                .select("doc_id", "h",
                        F.explode(F.array(*[
                            F.struct(F.lit(k).alias("k"),
                                     F.lit(a).alias("a"),
                                     F.lit(b).alias("b"))
                            for k, (a, b) in enumerate(
                                __import__("project_etl_spark.operators.llm_dedup",
                                           fromlist=["PERMS"]).PERMS)]))
                        .alias("p"))
                .groupBy("doc_id", F.col("p.k").alias("k"))
                .agg(F.min((F.col("p.a") * F.col("h") + F.col("p.b"))
                           % 2_147_483_647).alias("minhash")))
    sigs_new = minhash_signatures(sh)
    assert sorted(map(tuple, sigs_row.collect())) == \
        sorted(map(tuple, sigs_new.collect()))
    # row-form band buckets == fused projection buckets, all bandings
    for rows_per_band in (1, 2, 4):
        row_form = minhash_band_buckets(sigs_new, rows_per_band)
        fused = lsh_buckets(sh, rows_per_band)
        assert sorted(map(tuple, row_form.collect())) == \
            sorted(map(tuple, fused.collect())), rows_per_band


def test_spread_small_scan_is_scale_adaptive(spark):
    """Optimization round 12: io.spread_small_scan fans a single-split
    scan out to defaultParallelism (so CPU-heavy per-row work is not
    serialized on one core by the fixtures' single-row-group files) but
    is an IDENTITY for inputs already at or above defaultParallelism —
    the property that makes it safe at 100 TB, where collapsing a
    many-split corpus scan to the core count would be a regression."""
    from project_etl_spark.io import spread_small_scan

    n = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame([(i, f"t{i}") for i in range(100)],
                                  "doc_id long, text string").coalesce(1)
    spreaded = spread_small_scan(small)
    assert spreaded.rdd.getNumPartitions() == n
    assert sorted(map(tuple, spreaded.collect())) == \
        sorted(map(tuple, small.collect()))
    # the partitioner kind is part of the contract (round 13): an explicit
    # HASH repartition on the named spread column — deterministic per row
    # under task retry, never a round-robin and never an implicit
    # first-column key.
    plan = spreaded._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan
    with pytest.raises(ValueError, match="spread_col"):
        spread_small_scan(small.select(F.col("text")))
    wide = spark.range(0, 1000, 1, n + 4).selectExpr("id AS doc_id")
    assert spread_small_scan(wide) is wide
    # file-backed path: split count comes from file METADATA (no df.rdd
    # materialization); a tiny single parquet file still spreads, and the
    # estimator never reports fewer splits than files.
    import tempfile

    from project_etl_spark.io import _estimated_scan_splits
    d = tempfile.mkdtemp()
    small.write.mode("overwrite").parquet(d)
    scan = spark.read.parquet(d)
    assert _estimated_scan_splits(spark, scan.inputFiles()) >= 1
    assert spread_small_scan(scan).rdd.getNumPartitions() == n
