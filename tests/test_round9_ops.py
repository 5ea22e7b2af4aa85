"""Round-9 operator tests: planted fixtures checked against pure-Python
textbook references (independent of both engines), including the
DEGENERATE topologies the differential hash gate cannot see (it runs the
same SQL on both engines): zero-overlap pairs, no-bigram docs, constant
series, single-class text.
"""

from __future__ import annotations

import math

import pytest


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")


# ---------------------------------------------------------------------------
# ext_kneser_ney_bigram
# ---------------------------------------------------------------------------

def _kn_reference(docs):
    """Pure-Python interpolated KN bigram scorer (D=0.75), per language."""
    from collections import Counter, defaultdict

    per_lang = defaultdict(list)
    for doc_id, text, lang in docs:
        per_lang[lang].append((doc_id, text))
    out = {}
    for lang, entries in per_lang.items():
        tf = {}
        c2 = Counter()
        for doc_id, text in entries:
            w = text.split(" ")
            bgs = [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
            if not bgs:
                continue
            m = Counter(bgs)
            tf[doc_id] = m
            c2.update(m)
        c1_n = Counter()
        c1_n1 = Counter()
        cb = Counter()
        for bg, c in c2.items():
            w1, w2 = bg.split(" ")
            c1_n[w1] += c
            c1_n1[w1] += 1
            cb[w2] += 1
        t = len(c2)
        for doc_id, m in tf.items():
            sq = 0
            n_bg = 0
            for bg, mult in m.items():
                w1, w2 = bg.split(" ")
                p = ((c2[bg] - 0.75) / c1_n[w1]
                     + 0.75 * c1_n1[w1] / c1_n[w1] * (cb[w2] * 1.0 / t))
                sq += math.floor(mult * -math.log(p) * 1e6 + 0.5)
                n_bg += mult
            out[doc_id] = (n_bg, sq)
    return out


def test_kneser_ney_matches_textbook_reference(spark, sf_dir):
    rows = [
        (1, "the cat sat on the mat", "en", "s0", 22),
        (2, "the cat ran", "en", "s0", 11),
        (3, "san francisco san francisco", "en", "s0", 27),
        (4, "word", "en", "s0", 4),          # degenerate: zero bigrams
        (5, "le chat noir le chat", "fr", "s1", 20),
    ]
    docs = _mk_docs(spark, rows)
    docs.createOrReplaceTempView("documents_kn_test")
    import project_etl_spark.operators.llm_text as lt
    from project_etl_spark.io import table as _table

    # drive the registered builder on the planted corpus by monkeypatching
    # the table loader (the builder takes (spark, sf_dir))
    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll_kn"])
               for r in lt.ext_kneser_ney_bigram(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    ref = _kn_reference([(r[0], r[1], r[2]) for r in rows])
    assert set(got) == set(ref), "zero-bigram doc must drop out"
    assert 4 not in got
    for doc_id, (n_bg, sq) in ref.items():
        assert got[doc_id][0] == n_bg
        assert got[doc_id][1] == pytest.approx(sq / (n_bg * 1e6), abs=1e-12)


def test_kneser_ney_continuation_beats_frequency(spark, sf_dir):
    """The KN property itself: a bigram whose w2 appears in ONE context
    ('francisco' after 'san') gets lower continuation mass than a w2
    seen in many contexts, even at equal bigram frequency."""
    rows = [
        (1, "san francisco", "en", "s0", 13),
        (2, "san francisco", "en", "s0", 13),
        (3, "red cat", "en", "s0", 7),
        (4, "blue cat", "en", "s0", 8),
    ]
    ref = _kn_reference([(r[0], r[1], r[2]) for r in rows])
    # 'san francisco' (c=2, unique continuation) vs 'red cat' (c=1 but
    # 'cat' follows 2 contexts): continuation mass favors 'cat'
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["doc_id"]: r["avg_nll_kn"]
               for r in lt.ext_kneser_ney_bigram(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    for doc_id, (n_bg, sq) in ref.items():
        assert got[doc_id] == pytest.approx(sq / (n_bg * 1e6), abs=1e-12)


# ---------------------------------------------------------------------------
# ext_self_bleu_adjacent
# ---------------------------------------------------------------------------

def test_self_bleu_planted_pairs(spark, sf_dir):
    rows = [
        # pair (1,2): identical -> BLEU-2 = 1
        (1, "a b c d", "en", "s0", 7),
        (2, "a b c d", "en", "s0", 7),
        # pair (2,3): zero overlap -> 0 (LEFT join path)
        (3, "x y z w", "en", "s0", 7),
        # pair (10,11): half overlap: cand 'a b c' bgs {ab,bc}; ref
        # {ab,bq}: clipped=1 of 2 -> 0.5
        (10, "a b c", "en", "s1", 5),
        (11, "a b q", "en", "s1", 5),
        # doc 20 has no bigrams -> its pair must drop (inner join on nb)
        (20, "solo", "en", "s2", 4),
        (21, "alpha beta", "en", "s2", 10),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["source"]: (r["n_pairs"], r["sum_bleu2_micro"],
                             r["avg_bleu2_micro"])
               for r in lt.ext_self_bleu_adjacent(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    assert got["s0"] == (2, 1_000_000, 500_000)   # 1.0 and 0.0
    assert got["s1"] == (1, 500_000, 500_000)
    assert "s2" not in got                        # candidate had no bigrams


# ---------------------------------------------------------------------------
# agg_changepoint_binseg
# ---------------------------------------------------------------------------

def _binseg_reference(xs):
    n = len(xs)
    best = None
    s1t, s2t = sum(xs), sum(v * v for v in xs)
    sse0 = s2t - s1t * 1.0 * s1t / n
    for t in range(1, n):
        s1 = sum(xs[:t])
        s2 = sum(v * v for v in xs[:t])
        sse = ((s2 - s1 * 1.0 * s1 / t)
               + (s2t - s2 - (s1t - s1) * 1.0 * (s1t - s1) / (n - t)))
        key = (math.floor(sse * 1e3 + 0.5), t)
        if best is None or key < best[0]:
            best = (key, t, s1, sse)
    _, t, s1, sse = best
    return {
        "split_idx": t,
        "mean_left_milli": math.floor(s1 * 1e3 / t + 0.5),
        "mean_right_milli": math.floor((s1t - s1) * 1e3 / (n - t) + 0.5),
        "gain_milli": math.floor((sse0 - sse) * 1e3 + 0.5),
    }


def _run_binseg_on(spark, day_counts):
    import datetime as dt

    from project_etl_spark.operators import sql_surface as ss

    rows = []
    eid = 0
    for i, x in enumerate(day_counts):
        for _ in range(x):
            rows.append((eid, dt.datetime(2024, 1, 1 + i, 12, 0, 0),
                         1, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    orig = ss.table
    ss.table = lambda s, d, n: ev
    try:
        return ss.agg_changepoint_binseg(spark, sf_dir="ignored").collect()
    finally:
        ss.table = orig


def test_binseg_finds_planted_break(spark):
    xs = [5, 6, 5, 6, 5, 20, 21, 20, 22, 21]   # level shift after day 5
    got = _run_binseg_on(spark, xs)
    assert len(got) == 1
    ref = _binseg_reference(xs)
    r = got[0]
    assert r["split_idx"] == ref["split_idx"] == 5
    assert r["mean_left_milli"] == ref["mean_left_milli"]
    assert r["mean_right_milli"] == ref["mean_right_milli"]
    assert r["gain_milli"] == ref["gain_milli"]


def test_binseg_constant_series_ties_to_first_day(spark):
    """Degenerate: constant series -> every split has equal SSE; the
    quantized-SSE + day tiebreak must deterministically pick day 1,
    with zero gain and equal means."""
    xs = [7, 7, 7, 7, 7, 7]
    got = _run_binseg_on(spark, xs)
    assert len(got) == 1
    r = got[0]
    assert r["split_idx"] == 1
    assert r["gain_milli"] == 0
    assert r["mean_left_milli"] == r["mean_right_milli"] == 7000


# ---------------------------------------------------------------------------
# ext_script_mix
# ---------------------------------------------------------------------------

def test_script_mix_planted_composition(spark, sf_dir):
    rows = [
        # 10 chars: 4 alpha, 2 digit, 2 space, 2 other
        (1, "ab cd 12;;", "en", "s0", 10),
        # all-other degenerate (CJK): 0 alpha/digit/space
        (2, "中文文本", "zh", "s1", 4),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["source"]: r
               for r in lt.ext_script_mix(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    s0 = got["s0"]
    assert (s0["ascii_alpha_permille"], s0["digit_permille"],
            s0["space_permille"], s0["other_permille"]) == (400, 200,
                                                            200, 200)
    s1 = got["s1"]
    assert (s1["ascii_alpha_permille"], s1["digit_permille"],
            s1["space_permille"], s1["other_permille"]) == (0, 0, 0, 1000)


# ---------------------------------------------------------------------------
# ext_cluster_size_powerlaw
# ---------------------------------------------------------------------------

def test_powerlaw_planted_clusters(spark, sf_dir):
    """Planted cluster sizes [3, 2, 2] -> CSN MLE alpha computed
    independently; singletons must not count."""
    rows = [
        (1, "dup-a", "en", "s0", 5), (2, "dup-a", "en", "s0", 5),
        (3, "dup-a", "en", "s0", 5),
        (4, "dup-b", "en", "s0", 5), (5, "dup-b", "en", "s0", 5),
        (6, "dup-c", "en", "s0", 5), (7, "dup-c", "en", "s0", 5),
        (8, "unique-1", "en", "s0", 8), (9, "unique-2", "en", "s0", 8),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_dedup as ld

    orig = ld.table
    ld.table = lambda s, d, n: docs
    try:
        got = ld.ext_cluster_size_powerlaw(spark, sf_dir).collect()
    finally:
        ld.table = orig
    assert len(got) == 1
    r = got[0]
    assert (r["n_clusters"], r["n_dup_docs"], r["max_size"]) == (3, 7, 3)
    sq = sum(math.floor(math.log(s / 1.5) * 1e6 + 0.5) for s in (3, 2, 2))
    alpha = 1.0 + 3 * 1e6 / sq
    assert r["alpha_milli"] == math.floor(alpha * 1e3 + 0.5)


def test_powerlaw_no_duplicates_yields_no_rows(spark, sf_dir):
    """Degenerate: all-unique corpus -> zero rows in BOTH engines."""
    rows = [(i, f"unique text {i}", "en", "s0", 12) for i in range(6)]
    docs = _mk_docs(spark, rows)
    import duckdb

    import project_etl_spark.operators.llm_dedup as ld

    orig = ld.table
    ld.table = lambda s, d, n: docs
    try:
        got = ld.ext_cluster_size_powerlaw(spark, sf_dir).collect()
    finally:
        ld.table = orig
    assert got == []
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, 'unique text {i}')" for i in range(6))
                + ") AS t(doc_id, text)")
    duck = con.execute(
        ld._CLUSTER_PL_BODY.format(src="documents")).fetchall()
    con.close()
    assert duck == []


# ---------------------------------------------------------------------------
# ext_hnsw_layer_plan
# ---------------------------------------------------------------------------

def test_hnsw_levels_match_reference_hash(spark, sf_dir):
    """Levels must follow floor(-ln(U)/ln(16)) of the md5-derived U —
    recompute in Python over the fixture ids and compare the census."""
    import hashlib
    from collections import Counter

    from project_etl_spark.io import table as _t
    from project_etl_spark.operators.llm_similarity import (
        ext_hnsw_layer_plan)

    ids = [r[0] for r in _t(spark, sf_dir, "embeddings")
           .select("vec_id").collect()]
    ref = Counter()
    for v in ids:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        u = (h % 1_000_000 + 1) / 1e6
        ref[math.floor(-math.log(u) / math.log(16.0))] += 1
    got = {r["level"]: r for r in ext_hnsw_layer_plan(spark, sf_dir)
           .collect()}
    assert {k: v["n_vectors"] for k, v in got.items()} == dict(ref)
    # cumulative-from-top column really is at-or-above
    for lvl, row in got.items():
        assert row["n_at_or_above"] == sum(
            n for q, n in ref.items() if q >= lvl)


# ---------------------------------------------------------------------------
# win_hurst_exponent
# ---------------------------------------------------------------------------

def _hurst_reference(xs):
    out = {}
    for w in (5, 10, 15):
        qs = []
        for b0 in range(0, len(xs) - w + 1, w):
            blk = xs[b0:b0 + w]
            s1, s2 = sum(blk), sum(v * v for v in blk)
            a = w * s2 - s1 * s1
            if a <= 0:
                continue
            cs, yws = 0, []
            for i, v in enumerate(blk, 1):
                cs += v
                yws.append(w * cs - i * s1)
            r = max(max(yws), 0) - min(min(yws), 0)
            qs.append(math.floor(r * 1.0 / math.sqrt(a * 1.0) * 1e6 + 0.5))
        if qs:
            out[w] = (len(qs), math.floor(sum(qs) * 1.0 / len(qs) + 0.5))
    if len(out) < 3:
        return out, None
    import numpy as _np
    lw = [math.log(w * 1.0) for w in (5, 10, 15)]
    lr = [math.log(out[w][1] / 1e6) for w in (5, 10, 15)]
    lb = sum(lw) / 3.0
    rb = sum(lr) / 3.0
    num = sum((lw[i] - lb) * (lr[i] - rb) for i in range(3))
    den = sum((lw[i] - lb) ** 2 for i in range(3))
    return out, num / den


def _run_hurst_on(spark, day_counts):
    import datetime as dt

    from project_etl_spark.operators import windows as wmod

    rows = []
    eid = 0
    for i, x in enumerate(day_counts):
        for _ in range(x):
            rows.append((eid, dt.datetime(2024, 1, 1, 0, 0, 0)
                         + dt.timedelta(days=i, seconds=eid % 3600),
                         1, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    orig = wmod.table
    wmod.table = lambda s, d, n: ev
    try:
        return wmod.win_hurst_exponent(spark, sf_dir="ignored").collect()
    finally:
        wmod.table = orig


def test_hurst_matches_reference(spark):
    xs = [5, 9, 4, 11, 6, 13, 3, 10, 7, 12, 5, 9, 14, 4, 8,
          6, 11, 5, 13, 7, 9, 4, 12, 6, 10, 8, 5, 13, 7, 11]
    got = _run_hurst_on(spark, xs)
    ref, h = _hurst_reference(xs)
    assert len(got) == 1
    r = got[0]
    assert (r["n_blocks_w5"], r["rs_w5_micro"]) == ref[5]
    assert (r["n_blocks_w10"], r["rs_w10_micro"]) == ref[10]
    assert (r["n_blocks_w15"], r["rs_w15_micro"]) == ref[15]
    assert r["hurst_milli"] == math.floor(h * 1e3 + 0.5)
    # approx-random planted series: H should sit near 0.5, not at extremes
    assert 100 <= r["hurst_milli"] <= 900


def test_hurst_constant_series_yields_no_rows(spark):
    """Degenerate: constant daily counts -> every block has zero
    variance -> all blocks drop -> no output row (not a divide error)."""
    got = _run_hurst_on(spark, [7] * 30)
    assert got == []


# ---------------------------------------------------------------------------
# agg_retention_halflife
# ---------------------------------------------------------------------------

def _run_rethl_on(spark, user_weeks):
    import datetime as dt

    from project_etl_spark.operators import sql_surface as ss

    rows = []
    eid = 0
    for uid, weeks in user_weeks.items():
        for w in weeks:
            # Jan 4 2024 is a Thursday = epoch-week boundary day
            rows.append((eid, dt.datetime(2024, 1, 4, 12, 0, 0)
                         + dt.timedelta(weeks=w), uid, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    orig = ss.table
    ss.table = lambda s, d, n: ev
    try:
        return ss.agg_retention_halflife(spark, sf_dir="ignored").collect()
    finally:
        ss.table = orig


def test_retention_halflife_planted_cohort(spark):
    """Cohort of 8 first-week users; 4 retained at k=1, 3 at k=2, 2 at
    k=3 -> slope and half-life from the two-point log fit; a late
    joiner (w0 = 1) must not pollute the cohort."""
    uw = {1: [0, 1, 2, 3], 2: [0, 1, 2, 3], 3: [0, 1, 2], 4: [0, 1],
          5: [0], 6: [0], 7: [0], 8: [0],
          99: [1, 2]}   # not in the first cohort
    got = _run_rethl_on(spark, uw)
    assert len(got) == 1
    r = got[0]
    assert r["cohort_users"] == 8
    assert (r["r1"], r["r2"], r["r3"]) == (4, 3, 2)
    b = (math.log(2 / 8) - math.log(4 / 8)) / 2.0
    assert r["slope_micro"] == math.floor(b * 1e6 + 0.5)
    assert r["halflife_days_milli"] == math.floor(
        -math.log(2.0) / b * 7.0 * 1e3 + 0.5)


def test_retention_halflife_degenerate_non_decaying(spark):
    """r3 == r1 (no decay) -> slope/half-life must be NULL, never a
    divide-by-zero divergence."""
    uw = {1: [0, 1, 2, 3], 2: [0, 1, 3], 3: [0]}
    got = _run_rethl_on(spark, uw)
    r = got[0]
    assert (r["r1"], r["r3"]) == (2, 2)
    assert r["slope_micro"] is None and r["halflife_days_milli"] is None


# ---------------------------------------------------------------------------
# ext_uncertainty_sample
# ---------------------------------------------------------------------------

def test_uncertainty_sample_picks_boundary_docs(spark, sf_dir):
    """Ranks must order by |p - 0.5| ascending within each source, cap
    at 5 per source, and reproduce the classifier's probability."""
    from project_etl_spark.operators.llm_curation import (
        ext_uncertainty_sample)

    got = ext_uncertainty_sample(spark, sf_dir).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["rnk"])
        assert len(rows) <= 5
        margins = [r["margin_micro"] for r in rows]
        assert margins == sorted(margins)
        for r in rows:
            assert r["margin_micro"] == abs(r["p_micro"] - 500_000)


# ---------------------------------------------------------------------------
# agg_lorenz_curve
# ---------------------------------------------------------------------------

def test_lorenz_curve_shape_and_totals(spark, sf_dir):
    """Curve invariants a wrong NTILE/window would break: deciles 1..10
    present, cumulative share monotone, last share exactly 1e6, decile
    sums non-decreasing (poorest decile first)."""
    from project_etl_spark.operators.aggregates import agg_lorenz_curve

    rows = sorted(agg_lorenz_curve(spark, sf_dir).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share_micro"] for r in rows]
    assert shares == sorted(shares) and shares[-1] == 1_000_000
    sums = [r["decile_cents"] for r in rows]
    assert sums == sorted(sums)


# ---------------------------------------------------------------------------
# ext_ngram_entropy_rate
# ---------------------------------------------------------------------------

def test_entropy_rate_planted_corpus(spark, sf_dir):
    """Deterministic chain 'a b a b ...' -> every w1 has ONE
    continuation -> H_cond = 0 while H_joint > 0 (redundancy 1000);
    a second language with genuine branching -> H_cond > 0."""
    rows = [
        (1, "a b a b a b", "xx", "s0", 11),
        (2, "b a b a", "xx", "s0", 7),
        (3, "p q p r q p q r", "yy", "s0", 15),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["lang"]: r
               for r in lt.ext_ngram_entropy_rate(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    assert got["xx"]["h_cond_micro"] == 0
    assert got["xx"]["h_joint_micro"] > 0
    assert got["xx"]["redundancy_milli"] == 1000
    assert 0 < got["yy"]["h_cond_micro"] < got["yy"]["h_joint_micro"]
    # independent reference for yy
    from collections import Counter
    bgs = []
    for _, text, lang, _, _ in rows:
        if lang != "yy":
            continue
        w = text.split(" ")
        bgs += [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
    c2 = Counter(bgs)
    c1 = Counter()
    for bg, c in c2.items():
        c1[bg.split(" ")[0]] += c
    n = sum(c2.values())
    sc = sum(math.floor(c * math.log(c1[bg.split(" ")[0]] / c) * 1e6 + 0.5)
             for bg, c in c2.items())
    assert got["yy"]["h_cond_micro"] == math.floor(sc * 1.0 / n + 0.5)


# ---------------------------------------------------------------------------
# ext_filter_agreement
# ---------------------------------------------------------------------------

def test_filter_agreement_counts_and_kappa(spark, sf_dir):
    """The 2x2 must tie out with the two parent filters run separately,
    and kappa must equal the textbook close on those counts."""
    from project_etl_spark.operators.llm_curation import (
        ext_filter_agreement)

    got = ext_filter_agreement(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == r["n11"] + r["n10"] + r["n01"] + r["n00"]
    po = (r["n11"] + r["n00"]) / r["n"]
    assert r["agreement_micro"] == math.floor(po * 1e6 + 0.5)
    a1, b1 = r["n11"] + r["n10"], r["n11"] + r["n01"]
    a0, b0 = r["n00"] + r["n01"], r["n00"] + r["n10"]
    pe = (a1 * b1 + a0 * b0) / (r["n"] * r["n"])
    if pe < 1.0:
        kappa = (po - pe) / (1.0 - pe)
        assert r["kappa_micro"] == math.floor(kappa * 1e6 + 0.5)


def test_filter_agreement_unanimous_corpus_null_kappa(spark, sf_dir):
    """Degenerate: a corpus where BOTH filters pass everything -> P_e=1
    -> kappa NULL (never a divide), agreement 1e6."""
    text = ("word " * 60).strip()
    rows = [(i, text, "en", "s0", len(text)) for i in range(6)]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = lc.ext_filter_agreement(spark, sf_dir).collect()
    finally:
        lc.table = orig
    r = got[0]
    assert r["agreement_micro"] == 1_000_000
    assert r["kappa_micro"] is None


# ---------------------------------------------------------------------------
# scan_partition_pruned / fn_string_format
# ---------------------------------------------------------------------------

def test_partition_pruned_matches_direct_filter(spark, sf_dir):
    from project_etl_spark.io import table as _t
    from project_etl_spark.operators.scans import scan_partition_pruned

    got = {r["source"]: (r["n_docs"], r["chars"])
           for r in scan_partition_pruned(spark, sf_dir).collect()}
    import pyspark.sql.functions as F
    ref = {r["source"]: (r["n"], r["c"])
           for r in _t(spark, sf_dir, "documents")
           .where(F.col("lang") == "en").groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("c")).collect()}
    assert got == ref and got


def test_string_format_zero_pads(spark, sf_dir):
    from project_etl_spark.operators.functions import fn_string_format

    r = fn_string_format(spark, sf_dir).where("p_partkey = 1").first()
    assert r["tag"].endswith("-0000001")
    assert r["padded"] == "0000000001"
    assert r["size_label"].endswith(" units") and len(
        r["size_label"]) == len(" units") + 5


# ---------------------------------------------------------------------------
# ext_image_entropy
# ---------------------------------------------------------------------------

def test_image_entropy_kernel_vs_golden_twin():
    """The numpy kernel and the plain-loop golden twin must agree on
    planted payloads, including the degenerate solid-color image
    (entropy exactly 0, one bin used)."""
    from project_etl_spark.operators.llm_multimodal import ppm_luma_entropy
    from tools.gen_golden import luma_entropy_py

    flat = b"P6\n4 4\n255\n" + bytes([128, 128, 128] * 16)
    varied = b"P6\n4 4\n255\n" + bytes(range(48))
    for blob in (flat, varied):
        assert ppm_luma_entropy(blob) == luma_entropy_py(blob)
    assert ppm_luma_entropy(flat)["h_micro"] == 0
    assert ppm_luma_entropy(flat)["n_bins_used"] == 1
    assert ppm_luma_entropy(varied)["h_micro"] > 0


def test_image_entropy_quartiles_partition_corpus(spark, sf_dir):
    from project_etl_spark.operators.llm_multimodal import ext_image_entropy

    rows = ext_image_entropy(spark, sf_dir).collect()
    qs = [r["entropy_quartile"] for r in rows]
    assert set(qs) == {1, 2, 3, 4}
    assert max(abs(qs.count(a) - qs.count(b))
               for a in set(qs) for b in set(qs)) <= 1


# ---------------------------------------------------------------------------
# composite_market_share
# ---------------------------------------------------------------------------

def test_market_share_sums_to_one_per_year(spark, sf_dir):
    from collections import defaultdict

    from project_etl_spark.operators.composite import composite_market_share

    rows = composite_market_share(spark, sf_dir).collect()
    assert rows, "Q8 join tree returned nothing"
    per_year = defaultdict(int)
    for r in rows:
        per_year[r["o_year"]] += r["mkt_share_micro"]
        assert 0 <= r["mkt_share_micro"] <= 1_000_000
    for year, total in per_year.items():
        # floor-rounded shares: sum within n_nations half-ulps of 1
        assert abs(total - 1_000_000) <= 13, (year, total)
    assert set(per_year) == {1995, 1996}


def test_market_share_broadcasts_all_dimensions(spark, sf_dir):
    """The Q8 join tree must broadcast every dimension (no
    BroadcastNestedLoopJoin, no dimension-side SortMergeJoin) and keep
    exactly the fact joins as exchanges."""
    from project_etl_spark.operators.composite import composite_market_share

    plan = composite_market_share(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# ext_type_token_ratio
# ---------------------------------------------------------------------------

def test_ttr_planted_docs(spark, sf_dir):
    rows = [
        # 4 tokens, 4 distinct -> TTR 1000, rTTR 2000
        (1, "alpha beta gamma delta", "en", "s0", 22),
        # 4 tokens, 1 distinct -> TTR 250, rTTR 500 (the spam shape)
        (2, "spam spam spam spam", "en", "s0", 19),
        # case-folding: 'The the' is ONE type
        (3, "The the", "en", "s1", 7),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = {r["source"]: r
               for r in lt.ext_type_token_ratio(spark, sf_dir).collect()}
    finally:
        lt.table = orig
    s0 = got["s0"]
    assert (s0["n_docs"], s0["n_tokens"], s0["n_types"]) == (2, 8, 5)
    assert s0["avg_ttr_milli"] == (1000 + 250) // 2
    assert s0["avg_root_ttr_milli"] == (2000 + 500) // 2
    assert got["s1"]["n_types"] == 1
    assert got["s1"]["avg_ttr_milli"] == 500


# ---------------------------------------------------------------------------
# ext_cosine_pair_histogram
# ---------------------------------------------------------------------------

def test_cosine_pair_histogram_invariants(spark, sf_dir):
    """Bin keys/bounds and totals: every pair lands in exactly one bin,
    bin means sit inside their bin's range, and the pair count equals
    N-1 (adjacent probe)."""
    from project_etl_spark.io import table as _t
    from project_etl_spark.operators.llm_similarity import (
        ext_cosine_pair_histogram)

    n_vec = _t(spark, sf_dir, "embeddings").count()
    rows = ext_cosine_pair_histogram(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == n_vec - 1
    for r in rows:
        lo = r["bin_lo_micro"]
        hi = lo + 200_000 if r["bin"] < 9 else 1_000_000
        assert lo <= r["mean_cos_micro"] <= hi
        assert r["bin_lo_micro"] == r["bin"] * 200_000 - 1_000_000


# ---------------------------------------------------------------------------
# ext_audio_spectral_flatness
# ---------------------------------------------------------------------------

def test_spectral_flatness_tone_vs_noise():
    """The capability the op claims: a pure tone scores near 0, white
    noise scores near 1, and equal-RMS versions are ONLY separated by
    flatness (energy can't tell them apart)."""
    import struct

    from project_etl_spark.operators.llm_multimodal import (
        pcm_energy, pcm_spectral_flatness)

    n = 128
    tone = [int(10000 * math.sin(2 * math.pi * 4 * i / 16))
            for i in range(n)]
    rng_state = 12345
    noise = []
    for _ in range(n):   # deterministic LCG noise, same RMS scale
        rng_state = (1103515245 * rng_state + 12345) % (2 ** 31)
        noise.append(int((rng_state / 2 ** 31 - 0.5) * 2 * 14142))
    def blob(samples):
        return f"PCM\n{len(samples)}\n".encode() + struct.pack(
            f"<{len(samples)}h", *samples)
    ft = pcm_spectral_flatness(blob(tone))
    fn = pcm_spectral_flatness(blob(noise))
    assert ft["mean_flatness_micro"] < 100_000      # tonal
    assert fn["mean_flatness_micro"] > 400_000      # noisy
    assert ft["n_tonal_frames"] == ft["n_frames"]
    # energy is blind to the difference (same order of magnitude)
    et, en = pcm_energy(blob(tone)), pcm_energy(blob(noise))
    assert 0.2 < et["total_sumsq"] / en["total_sumsq"] < 5


def test_spectral_flatness_kernel_matches_golden_assembly():
    """Kernel over the pure-Python payload twin must equal the committed
    fixture row (the end-to-end contract the oracle join checks)."""
    import hashlib

    import pyarrow.parquet as pq

    from project_etl_spark.operators.llm_multimodal import (
        pcm_spectral_flatness)
    from tools.gen_golden import pcm_payload_py

    import duckdb
    con = duckdb.connect()
    doc_id, text = con.execute(
        "SELECT doc_id, text FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') "
        "ORDER BY doc_id LIMIT 1").fetchone()
    con.close()
    text_md5 = hashlib.md5(text.encode("utf-8")).hexdigest()
    tbl = pq.read_table("tests/fixtures/golden_flatness.parquet")
    rows = tbl.to_pylist()
    row = next(r for r in rows
               if r["doc_id"] == doc_id and r["text_md5"] == text_md5)
    m = pcm_spectral_flatness(pcm_payload_py(doc_id, text))
    for kcol in ("n_frames", "mean_flatness_micro", "min_flatness_micro",
                 "n_tonal_frames"):
        assert m[kcol] == row[kcol]


# ---------------------------------------------------------------------------
# ext_adaboost_stump_step
# ---------------------------------------------------------------------------

def test_adaboost_stump_matches_exhaustive_search(spark, sf_dir):
    """The SQL argmin must equal a brute-force stump search over the
    same (score-permille, label) pairs, and alpha must be the textbook
    close on the winning error."""
    from project_etl_spark.operators.llm_curation import (
        ext_adaboost_stump_step, ext_quality_threshold_sweep)

    got = ext_adaboost_stump_step(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n"] == r["err_cnt"] + (r["n"] - r["err_cnt"])
    assert 0 <= r["err_micro"] <= 1_000_000
    if r["err_cnt"] > 0 and 2 * r["err_cnt"] < r["n"]:
        alpha = 0.5 * math.log((r["n"] - r["err_cnt"]) / r["err_cnt"])
        assert r["alpha_micro"] == math.floor(alpha * 1e6 + 0.5)
    # brute force over the calibration bins reconstructed via the sweep's
    # own confusion numbers is heavy; instead verify optimality against
    # every threshold the sweep reports: the stump's error must be <= the
    # 0-1 error implied by each sweep threshold's confusion cells
    for s in ext_quality_threshold_sweep(spark, sf_dir).collect():
        err_at_t = min(s["fp"] + s["fn"], r["n"] - (s["fp"] + s["fn"]))
        assert r["err_cnt"] <= err_at_t


# ---------------------------------------------------------------------------
# ext_winsorized_stats
# ---------------------------------------------------------------------------

def test_winsorized_stats_planted_outlier(spark, sf_dir):
    """One extreme outlier: the plain mean moves, winsorized and trimmed
    means stay at the bulk level; p5/p95 are the exact type-1 order
    statistics."""
    lens = [100] * 19 + [1_000_000]
    rows = [(i, "x" * 1, "en", "s0", lens[i]) for i in range(20)]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_text as lt

    orig = lt.table
    lt.table = lambda s, d, n: docs
    try:
        got = lt.ext_winsorized_stats(spark, sf_dir).collect()
    finally:
        lt.table = orig
    r = {row["source"]: row for row in got}["s0"]
    # type-1 ranks over n=20: lo rank (19*5)//100+1 = 1; hi (19*95)//100+1=19
    assert (r["p5"], r["p95"]) == (100, 100)
    assert r["mean_milli"] == math.floor(sum(lens) * 1e3 / 20 + 0.5)
    assert r["winsor_mean_milli"] == 100_000        # all clipped to 100
    assert r["trim_mean_milli"] == 100_000


# ---------------------------------------------------------------------------
# ext_naive_bayes_step
# ---------------------------------------------------------------------------

def _md5_bucket(key) -> int:
    import hashlib
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % 1000


def _nb_reference(rows):
    """Pure-Python multinomial NB with the query's exact quantization."""
    from collections import Counter, defaultdict

    train, evald = [], []
    for doc_id, text, lang, _s, _n in rows:
        toks = [t for t in text.split(" ") if t]
        b = _md5_bucket(doc_id)
        if b % 10 <= 7:
            train.append((lang, toks))
        elif b % 10 == 9 and toks:
            evald.append((doc_id, lang, toks))
    tt = defaultdict(Counter)
    nd = Counter()
    for lang, toks in train:
        nd[lang] += 1
        tt[lang].update(toks)
    ndtot = sum(nd.values())
    vocab = set()
    for c in tt.values():
        vocab.update(c)
    vsz = len(vocab)
    classes = sorted(lang for lang in nd if lang in tt)
    prior = {l: math.floor(math.log(nd[l] / ndtot) * 1e6 + 0.5)
             for l in classes}
    tot = {l: sum(tt[l].values()) for l in classes}
    u = {l: math.floor(math.log(1.0 / (tot[l] + vsz)) * 1e6 + 0.5)
         for l in classes}
    term = {l: {t: math.floor(math.log((c + 1.0) / (tot[l] + vsz)) * 1e6
                              + 0.5)
                for t, c in tt[l].items()} for l in classes}
    per_class = defaultdict(lambda: [0, 0])
    for doc_id, true_lang, toks in evald:
        cnt = Counter(toks)
        best = None
        for l in classes:
            s = prior[l]
            for t, c in cnt.items():
                s += c * term[l].get(t, u[l])
            if best is None or s > best[0] or (s == best[0] and l < best[1]):
                best = (s, l)
        per_class[true_lang][0] += 1
        per_class[true_lang][1] += int(best[1] == true_lang)
    return dict(per_class)


def test_naive_bayes_matches_textbook_reference(spark, sf_dir):
    """Planted bilingual corpus: the SQL's per-class accuracy must equal
    a pure-Python NB with identical Laplace smoothing and quantization,
    including an eval doc made ENTIRELY of unseen tokens (pure
    smoothing-mass scoring) and an empty-text eval doc (excluded)."""
    # pick doc_ids by split deterministically
    train_ids = [i for i in range(1, 400) if _md5_bucket(i) % 10 <= 7]
    eval_ids = [i for i in range(1, 400) if _md5_bucket(i) % 10 == 9]
    assert len(train_ids) >= 6 and len(eval_ids) >= 4
    rows = [
        (train_ids[0], "the cat sat on the mat", "en", "s0", 22),
        (train_ids[1], "the dog ran fast", "en", "s0", 16),
        (train_ids[2], "cat and dog play", "en", "s0", 16),
        (train_ids[3], "le chat noir dort", "fr", "s1", 17),
        (train_ids[4], "le chien court vite", "fr", "s1", 19),
        (train_ids[5], "chat et chien jouent", "fr", "s1", 20),
        (eval_ids[0], "the cat ran", "en", "s0", 11),
        (eval_ids[1], "le chat court", "fr", "s1", 13),
        (eval_ids[2], "zzz qqq www", "en", "s0", 11),  # all unseen
        (eval_ids[3], "", "fr", "s1", 0),              # no tokens: excluded
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = {r["true_lang"]: r
               for r in lc.ext_naive_bayes_step(spark, sf_dir).collect()}
    finally:
        lc.table = orig
    ref = _nb_reference(rows)
    assert set(got) == set(ref)
    for lang, (n_eval, n_correct) in ref.items():
        assert got[lang]["n_eval"] == n_eval
        assert got[lang]["n_correct"] == n_correct
        assert got[lang]["acc_micro"] == math.floor(
            n_correct * 1e6 / n_eval + 0.5)
    tot_e = sum(v[0] for v in ref.values())
    tot_c = sum(v[1] for v in ref.values())
    for lang in got:
        assert got[lang]["overall_acc_micro"] == math.floor(
            tot_c * 1e6 / tot_e + 0.5)


def test_naive_bayes_separable_corpus_is_perfect(spark, sf_dir):
    """Disjoint vocabularies => 100% accuracy (the generative sanity
    check: likelihood dominates the prior when evidence is exclusive)."""
    train_ids = [i for i in range(1, 400) if _md5_bucket(i) % 10 <= 7]
    eval_ids = [i for i in range(1, 400) if _md5_bucket(i) % 10 == 9]
    rows = []
    for k in range(5):
        rows.append((train_ids[k], "alpha beta gamma", "en", "s0", 16))
        rows.append((train_ids[5 + k], "uno dos tres", "es", "s1", 12))
    rows.append((eval_ids[0], "alpha beta", "en", "s0", 10))
    rows.append((eval_ids[1], "uno tres", "es", "s1", 8))
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = {r["true_lang"]: r
               for r in lc.ext_naive_bayes_step(spark, sf_dir).collect()}
    finally:
        lc.table = orig
    assert got["en"]["n_correct"] == got["en"]["n_eval"] == 1
    assert got["es"]["n_correct"] == got["es"]["n_eval"] == 1
    assert got["en"]["overall_acc_micro"] == 1_000_000


# ---------------------------------------------------------------------------
# ext_brier_decomposition
# ---------------------------------------------------------------------------

def _brier_reference(rows):
    """Pure-Python Murphy decomposition with the query's quantization."""
    from collections import defaultdict

    bins = defaultdict(lambda: [0, 0, 0, 0])  # nk, sp, pos, sbt
    for _doc_id, text, _lang, _src, n_chars in rows:
        if n_chars <= 0:
            continue
        nw = len([t for t in text.split(" ") if t])
        awl = n_chars / (nw + 1.0)
        digits = sum(ch.isdigit() for ch in text)
        p = 1.0 / (1.0 + math.exp(-(-2.0 + 0.9 * math.log(1.0 + nw)
                                    - 0.1 * awl)))
        y = int(5 <= nw <= 500 and 2.0 <= awl <= 10.0
                and digits / n_chars <= 0.2)
        pb = min(math.floor(p * 1e3), 999)
        b = bins[pb]
        b[0] += 1
        b[1] += math.floor(p * 1e6 + 0.5)
        b[2] += y
        b[3] += math.floor((p - y) * (p - y) * 1e6 + 0.5)
    n = sum(b[0] for b in bins.values())
    np_ = sum(b[2] for b in bins.values())
    sbt = sum(b[3] for b in bins.values())
    rel = res = 0
    for nk, sp, pos, _ in bins.values():
        rel += math.floor(nk * (sp / (nk * 1e6) - pos * 1.0 / nk) ** 2
                          * 1e6 + 0.5)
        res += math.floor(nk * (pos * 1.0 / nk - np_ * 1.0 / n) ** 2
                          * 1e6 + 0.5)
    out = {
        "n": n, "n_pos": np_,
        "brier_nano": math.floor(sbt * 1e3 / n + 0.5),
        "reliability_nano": math.floor(rel * 1e3 / n + 0.5),
        "resolution_nano": math.floor(res * 1e3 / n + 0.5),
        "uncertainty_nano": math.floor((np_ / n) * (1.0 - np_ / n) * 1e9
                                       + 0.5),
    }
    if 0 < np_ < n:
        out["brier_skill_micro"] = math.floor(
            (1.0 - (sbt / (n * 1e6)) / ((np_ / n) * (1.0 - np_ / n)))
            * 1e6 + 0.5)
    else:
        out["brier_skill_micro"] = None
    return out


def test_brier_decomposition_matches_textbook_reference(spark, sf_dir):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
        (2, "a b", "en", "s0", 3),                       # too few words
        (3, "supercalifragilistic words here now ok fine", "en", "s0", 44),
        (4, "1 2 3 4 5 6 7 8 9", "en", "s0", 17),        # digit-heavy
        (5, "words " * 20, "en", "s0", 120),
        (6, "tiny doc here with five words", "en", "s0", 29),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = lc.ext_brier_decomposition(spark, sf_dir).collect()
    finally:
        lc.table = orig
    assert len(got) == 1
    ref = _brier_reference(rows)
    for k, v in ref.items():
        assert got[0][k] == v, k


def test_brier_skill_null_at_degenerate_base_rate(spark, sf_dir):
    """All docs fail the label rule => np=0 => UNC=0 and the skill ratio
    must be NULL (not NaN/error) in the engine."""
    rows = [(i, "a b", "en", "s0", 3) for i in range(1, 6)]  # all too short
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = lc.ext_brier_decomposition(spark, sf_dir).collect()
    finally:
        lc.table = orig
    r = got[0]
    assert r["n_pos"] == 0
    assert r["uncertainty_nano"] == 0
    assert r["brier_skill_micro"] is None
    assert r["resolution_nano"] == 0


# ---------------------------------------------------------------------------
# ext_cuped_adjust
# ---------------------------------------------------------------------------

def _mk_orders(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
              " o_totalprice double, o_orderdate timestamp,"
              " o_orderpriority string")


def _cuped_reference(rows):
    """Pure-Python CUPED with the query's exact dollar quantization."""
    from collections import defaultdict

    cust = defaultdict(lambda: [0, 0])
    for _ok, ck, _st, tp, od, _pr in rows:
        cents = math.floor(tp * 1e2 + 0.5)
        if od.year < 1998:
            cust[ck][0] += cents
        else:
            cust[ck][1] += cents
    pts = []
    for ck, (xc, yc) in cust.items():
        arm = "control" if _md5_bucket_60(ck) % 2 == 0 else "treatment"
        pts.append((arm, math.floor(xc / 1e2 + 0.5),
                    math.floor(yc / 1e2 + 0.5)))
    n = float(len(pts))
    sx = float(sum(p[1] for p in pts))
    sy = float(sum(p[2] for p in pts))
    sxx = float(sum(p[1] * p[1] for p in pts))
    sxy = float(sum(p[1] * p[2] for p in pts))
    syy = float(sum(p[2] * p[2] for p in pts))
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    out = {}
    for arm in ("control", "treatment"):
        sub = [p for p in pts if p[0] == arm]
        if not sub:
            continue
        n_a = len(sub)
        sxa = float(sum(p[1] for p in sub))
        sya = float(sum(p[2] for p in sub))
        theta = (n * sxy - sx * sy) / vx if vx > 0 else None
        out[arm] = {
            "n_arm": n_a,
            "mean_y_milli": math.floor(sya * 1e3 / n_a + 0.5),
            "theta_micro": (math.floor(theta * 1e6 + 0.5)
                            if theta is not None else None),
            "adj_mean_y_milli": (math.floor(
                (sya - theta * (sxa - n_a * (sx / n))) * 1e3 / n_a + 0.5)
                if theta is not None else None),
            "var_reduction_nano": (math.floor(
                (n * sxy - sx * sy) ** 2 / (vx * vy) * 1e9 + 0.5)
                if vx > 0 and vy > 0 else None),
        }
    return out


def _md5_bucket_60(key) -> int:
    import hashlib
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)


def test_cuped_matches_textbook_reference(spark, sf_dir):
    """Y = 2X + arm-effect planted data: theta/adjusted means/rho^2 must
    equal the pure-Python reference, and the adjustment must shrink the
    between-arm gap toward the true effect when the arms got imbalanced
    pre-period spend by the luck of the hash."""
    from datetime import datetime
    rows = []
    ok = 0
    for ck in range(1, 41):
        x = 100.0 + 13.0 * (ck % 7)          # pre-period spend
        eff = 50.0 if _md5_bucket_60(ck) % 2 == 1 else 0.0
        y = 2.0 * x + eff
        ok += 1
        rows.append((ok, ck, "F", x, datetime(1997, 3, 1), "1-URGENT"))
        ok += 1
        rows.append((ok, ck, "F", y, datetime(1999, 3, 1), "1-URGENT"))
    orders = _mk_orders(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: orders
    try:
        got = {r["arm"]: r
               for r in lc.ext_cuped_adjust(spark, sf_dir).collect()}
    finally:
        lc.table = orig
    ref = _cuped_reference(rows)
    assert set(got) == set(ref)
    for arm, exp in ref.items():
        for k, v in exp.items():
            assert got[arm][k] == v, (arm, k)
    # Y = 2X within arm, so pooled X must explain most (not all: the
    # planted treatment effect is real Y-variance X cannot explain) of
    # the outcome variance
    assert got["control"]["var_reduction_nano"] > 600_000_000


def test_cuped_null_guard_at_zero_pre_variance(spark, sf_dir):
    """Identical pre-period spend for every customer => var(X)=0 =>
    theta and the adjusted means must be NULL, not a divide error."""
    from datetime import datetime
    rows = []
    for ck in range(1, 11):
        rows.append((ck * 2 - 1, ck, "F", 100.0,
                     datetime(1997, 1, 1), "2-HIGH"))
        rows.append((ck * 2, ck, "F", 100.0 + ck,
                     datetime(1999, 1, 1), "2-HIGH"))
    orders = _mk_orders(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: orders
    try:
        got = lc.ext_cuped_adjust(spark, sf_dir).collect()
    finally:
        lc.table = orig
    for r in got:
        assert r["theta_micro"] is None
        assert r["adj_mean_y_milli"] is None
        assert r["var_reduction_nano"] is None
        assert r["mean_y_milli"] is not None


# ---------------------------------------------------------------------------
# ext_gumbel_topk_sample
# ---------------------------------------------------------------------------

def _gumbel_reference(rows, k=8):
    """Pure-Python Efraimidis-Spirakis with the query's exact key."""
    from collections import defaultdict

    per_src = defaultdict(list)
    for doc_id, _text, _lang, src, n_chars in rows:
        if n_chars <= 0:
            continue
        u = (_md5_bucket_60(doc_id) + 1) / 2.0 ** 60
        key = math.floor(math.log(u) / n_chars * 1e12 + 0.5)
        per_src[src].append((key, doc_id, n_chars))
    out = {}
    for src, lst in per_src.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        out[src] = [(rnk + 1, doc_id, n_chars, key)
                    for rnk, (key, doc_id, n_chars) in enumerate(lst[:k])]
    return out


def test_gumbel_topk_matches_reference_and_weights_dominate(spark, sf_dir):
    """Exact row match vs the pure-Python E-S reference; the planted
    mega-weight doc must win rank 1 of its source (its key floor is
    ln(2^-60)/1e9 ~ -42, above every small doc's best possible key
    here), and a source with fewer than k docs keeps them all."""
    rows = ([(i, "t", "en", "big", 200 + i) for i in range(1, 30)]
            + [(100, "t", "en", "big", 10**9)]       # overwhelming weight
            + [(200, "t", "en", "tiny", 50),          # source with 2 docs
               (201, "t", "en", "tiny", 70)]
            + [(300, "t", "en", "zero", 0)])          # w=0: excluded
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: docs
    try:
        got = lc.ext_gumbel_topk_sample(spark, sf_dir).collect()
    finally:
        lc.table = orig
    ref = _gumbel_reference(rows)
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(
            (r["rnk"], r["doc_id"], r["n_chars"], r["key_pico"]))
    for src in by_src:
        by_src[src].sort()
    assert by_src == ref
    assert by_src["big"][0][1] == 100          # mega-weight wins
    assert len(by_src["tiny"]) == 2            # under-k source keeps all
    assert "zero" not in by_src


def test_gumbel_inclusion_tracks_weight(spark, sf_dir):
    """Statistical sanity via the deterministic reference over many
    pseudo-draws: docs with 10x weight must be sampled first more
    often than light docs across 200 disjoint id universes."""
    heavy_wins = 0
    for trial in range(200):
        base = trial * 1000
        rows = [(base + j, "t", "en", "s", 100) for j in range(9)]
        rows.append((base + 9, "t", "en", "s", 1000))
        ref = _gumbel_reference(rows, k=1)
        if ref["s"][0][1] == base + 9:
            heavy_wins += 1
    # E[wins] = 200 * 1000/1900 ~ 105; binomial sd ~ 7
    assert 70 <= heavy_wins <= 140


# ---------------------------------------------------------------------------
# ext_ldiversity_audit
# ---------------------------------------------------------------------------

def _mk_customer(spark, rows):
    return spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int,"
              " c_acctbal double, c_mktsegment string")


def test_ldiversity_matches_textbook_reference(spark, sf_dir):
    """Planted classes: a homogeneous class (entropy-l exactly 1, not
    releasable), a uniform 3-value class (entropy-l = 3), and a skewed
    class where entropy-l < distinct-l (the homogeneity-attack gap)."""
    rows = []
    ck = 0
    # class (1, A): 6 members, all sens band 0 -> l=1
    for _ in range(6):
        ck += 1
        rows.append((ck, f"c{ck}", 1, 500.0, "A"))
    # class (2, B): 6 members, bands 0/1/2 uniform -> entropy-l = 3
    for band in (0, 1, 2) * 2:
        ck += 1
        rows.append((ck, f"c{ck}", 2, 500.0 + 2000.0 * band, "B"))
    # class (3, C): 9 members, 7-1-1 skew -> distinct 3, entropy-l < 3
    for band in [0] * 7 + [1, 2]:
        ck += 1
        rows.append((ck, f"c{ck}", 3, 500.0 + 2000.0 * band, "C"))
    cust = _mk_customer(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: cust
    try:
        got = {(r["nat"], r["seg"]): r
               for r in lc.ext_ldiversity_audit(spark, sf_dir).collect()}
    finally:
        lc.table = orig

    def ref_entropy_l(counts):
        k = sum(counts)
        clnc = sum(math.floor(c * math.log(c) * 1e6 + 0.5) for c in counts)
        return math.floor(math.exp(math.log(k) - clnc / (k * 1e6)) * 1e3
                          + 0.5)

    r1 = got[(1, "A")]
    assert (r1["k"], r1["l_distinct"], r1["entropy_l_milli"],
            r1["releasable"]) == (6, 1, 1000, 0)
    r2 = got[(2, "B")]
    assert (r2["k"], r2["l_distinct"], r2["releasable"]) == (6, 3, 1)
    assert r2["entropy_l_milli"] == ref_entropy_l([2, 2, 2]) == 3000
    r3 = got[(3, "C")]
    assert (r3["k"], r3["l_distinct"]) == (9, 3)
    assert r3["entropy_l_milli"] == ref_entropy_l([7, 1, 1])
    assert r3["entropy_l_milli"] < 3000      # skew collapses entropy-l


# ---------------------------------------------------------------------------
# agg_process_capability
# ---------------------------------------------------------------------------

def _mk_lineitem(spark, rows):
    return spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long,"
              " l_linenumber int, l_quantity double, l_extendedprice double,"
              " l_discount double, l_tax double, l_returnflag string,"
              " l_linestatus string, l_shipdate timestamp")


def test_process_capability_matches_textbook_reference(spark, sf_dir):
    """Cp/Cpk on a planted centered group vs an off-center group, plus
    the constant-quantity degenerate (sigma NULL, not sqrt(0)-division
    or a DuckDB sqrt(negative) error)."""
    from datetime import datetime
    d = datetime(1996, 1, 1)
    rows = []
    # group A: qty 23..28 centered near 25.5
    for i, q in enumerate([23, 24, 25, 26, 27, 28]):
        rows.append((i + 1, 1, 1, 1, float(q), 1.0, 0.0, 0.0, "A", "O", d))
    # group N: qty 45..49 near the USL, one out-of-spec at 55
    for i, q in enumerate([45, 46, 47, 48, 49, 55]):
        rows.append((i + 10, 1, 1, 1, float(q), 1.0, 0.0, 0.0, "N", "O", d))
    # group R: constant quantity -> zero variance
    for i in range(5):
        rows.append((i + 20, 1, 1, 1, 30.0, 1.0, 0.0, 0.0, "R", "O", d))
    li = _mk_lineitem(spark, rows)
    import project_etl_spark.operators.aggregates as ag

    orig = ag.table
    ag.table = lambda s, d_, n: li
    try:
        got = {r["l_returnflag"]: r
               for r in ag.agg_process_capability(spark, sf_dir).collect()}
    finally:
        ag.table = orig

    def ref(qs):
        n = len(qs)
        sq, sqq = sum(qs), sum(q * q for q in qs)
        var = (n * 1.0 * sqq - sq * 1.0 * sq)
        out = {"n": n, "mean_milli": math.floor(sq * 1e3 / n + 0.5),
               "oos_ppm": math.floor(
                   sum(1 for q in qs if q < 1 or q > 50) * 1e6 / n + 0.5)}
        if n > 1 and var > 0:
            sd = math.sqrt(var / (n * 1.0 * (n - 1.0)))
            mu = sq * 1.0 / n
            out["sigma_micro"] = math.floor(sd * 1e6 + 0.5)
            out["cp_milli"] = math.floor(49.0 / (6.0 * sd) * 1e3 + 0.5)
            out["cpk_milli"] = math.floor(
                min(50.0 - mu, mu - 1.0) / (3.0 * sd) * 1e3 + 0.5)
        else:
            out["sigma_micro"] = out["cp_milli"] = out["cpk_milli"] = None
        return out

    for flag, qs in (("A", [23, 24, 25, 26, 27, 28]),
                     ("N", [45, 46, 47, 48, 49, 55]),
                     ("R", [30] * 5)):
        exp = ref(qs)
        for k, v in exp.items():
            assert got[flag][k] == v, (flag, k)
    # centered group is more capable than the off-center one
    assert got["A"]["cpk_milli"] > got["N"]["cpk_milli"]
    assert got["N"]["oos_ppm"] > 0


# ---------------------------------------------------------------------------
# ext_fellegi_sunter_weights
# ---------------------------------------------------------------------------

def _fs_reference(pairs):
    """Pure-Python FS m/u/weight algebra over (mt, f_src, f_lang, f_len)
    tuples — the closing math independently of both engines."""
    nm = sum(p[0] for p in pairs)
    nu = len(pairs) - nm
    out = {}
    for j, name in ((1, "source"), (2, "lang"), (3, "len_band")):
        am = sum(p[j] for p in pairs if p[0] == 1)
        au = sum(p[j] for p in pairs if p[0] == 0)
        m = (am + 1.0) / (nm + 2.0)
        u = (au + 1.0) / (nu + 2.0)
        out[name] = {
            "n_match": nm, "n_unmatch": nu,
            "agree_match": am, "agree_unmatch": au,
            "m_micro": math.floor(m * 1e6 + 0.5),
            "u_micro": math.floor(u * 1e6 + 0.5),
            "w_agree_micro": math.floor(math.log(m / u) * 1e6 + 0.5),
            "w_disagree_micro": math.floor(
                math.log((1.0 - m) / (1.0 - u)) * 1e6 + 0.5),
        }
    return out


def _fs_pairs_via_engine(spark, docs):
    """Candidate pairs from the (independently tested) LSH machinery,
    with the feature tuple computed in plain Python per pair."""
    import hashlib

    from project_etl_spark.operators.llm_dedup import (
        _shingles, minhash_band_buckets, minhash_signatures)
    import pyspark.sql.functions as F

    buckets = minhash_band_buckets(minhash_signatures(_shingles(docs)), 2)
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct().collect())
    attrs = {r["doc_id"]: r for r in docs.collect()}

    def lb(n):
        return math.floor(math.log(max(n, 1)) * 2.0)

    pairs = []
    for r in cands:
        x, y = attrs[r["doc_a"]], attrs[r["doc_b"]]
        pairs.append((
            int(hashlib.md5(x["text"].encode()).hexdigest()
                == hashlib.md5(y["text"].encode()).hexdigest()),
            int(x["source"] == y["source"]),
            int(x["lang"] == y["lang"]),
            int(lb(x["n_chars"]) == lb(y["n_chars"]))))
    return pairs


def test_fellegi_sunter_matches_reference_and_separates_features(
        spark, sf_dir):
    """Planted: exact dups always share source; cross-source near-dup
    candidates do not => the source feature must get a clearly positive
    agreement weight, and every cell must match the pure-Python FS
    algebra over the same candidate set."""
    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    long_b = long_a + "omega psi"             # superset: Jaccard ~ 0.96
    rows = [
        (1, long_a, "en", "s0", len(long_a)),
        (2, long_a, "en", "s0", len(long_a)),      # exact dup of 1
        (3, long_a, "en", "s0", len(long_a)),      # exact dup of 1
        (4, long_b, "en", "s1", len(long_b)),      # near-dup, other source
        (5, long_b, "fr", "s2", len(long_b)),      # near-dup, other lang
        (6, "totally different text about other things entirely now",
         "en", "s0", 55),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_dedup as ld

    orig = ld.table
    ld.table = lambda s, d, n: docs
    try:
        got = {r["feature"]: r
               for r in ld.ext_fellegi_sunter_weights(spark, sf_dir)
               .collect()}
    finally:
        ld.table = orig
    pairs = _fs_pairs_via_engine(spark, docs)
    assert any(p[0] == 1 for p in pairs), "planted exact dups must block"
    assert any(p[0] == 0 for p in pairs), "planted near-dups must block"
    ref = _fs_reference(pairs)
    assert set(got) == set(ref)
    for feature, exp in ref.items():
        for k, v in exp.items():
            assert got[feature][k] == v, (feature, k)
    # matches agree on source by construction; non-match candidates
    # include cross-source pairs -> positive discriminating weight
    assert got["source"]["w_agree_micro"] > 0


def test_fellegi_sunter_no_duplicate_corpus_degenerate(spark, sf_dir):
    """No exact dups at all: nm=0, the Laplace prior pins m at exactly
    0.5 and all weights stay finite."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta " * 4
    t2 = t1.replace("beta", "bbbb")
    rows = [
        (1, t1, "en", "s0", len(t1)),
        (2, t2, "en", "s0", len(t2)),
    ]
    docs = _mk_docs(spark, rows)
    import project_etl_spark.operators.llm_dedup as ld

    orig = ld.table
    ld.table = lambda s, d, n: docs
    try:
        got = {r["feature"]: r
               for r in ld.ext_fellegi_sunter_weights(spark, sf_dir)
               .collect()}
    finally:
        ld.table = orig
    for r in got.values():
        assert r["n_match"] == 0
        assert r["m_micro"] == 500_000
        assert r["w_agree_micro"] is not None
        assert r["w_disagree_micro"] is not None


# ---------------------------------------------------------------------------
# ext_sprt_monitor
# ---------------------------------------------------------------------------

def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")


def _sprt_reference(day_counts):
    """day_counts: {day: (trials, conv)} -> per-day llr + decision."""
    k1 = math.log(0.25 / 0.20)
    k2 = math.log(0.75 / 0.80)
    bound = math.floor(math.log(19.0) * 1e6 + 0.5)
    cs = cf = 0
    out = {}
    first = None
    for day in sorted(day_counts):
        t, c = day_counts[day]
        cs += c
        cf += t - c
        llr = math.floor((cs * k1 + cf * k2) * 1e6 + 0.5)
        state = ("reject_h0" if llr >= bound
                 else "accept_h0" if llr <= -bound else "continue")
        if first is None and state != "continue":
            first = day
        out[day] = (t, c, llr, state)
    return out, first


def test_sprt_rejects_on_planted_elevated_rate(spark, sf_dir):
    """60% conversion (far above H1's 25%): the LLR must climb and
    cross +ln(19) on the exact day the reference says."""
    import datetime as dt
    rows = []
    eid = 0
    day_counts = {}
    for day in range(10):
        t, c = 20, 12                      # 60% conversion
        day_counts[19723 + day] = (t, c)   # 2024-01-01 epoch-day = 19723
        for j in range(t):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1 + day, 8, 0, j),
                         j, "purchase" if j < c else "view", 1.0, "{}"))
    ev = _mk_events(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: ev
    try:
        got = {r["day"]: r
               for r in lc.ext_sprt_monitor(spark, sf_dir).collect()}
    finally:
        lc.table = orig
    ref, first = _sprt_reference(day_counts)
    assert first is not None
    for day, (t, c, llr, state) in ref.items():
        r = got[day]
        assert (r["trials"], r["conv"], r["llr_micro"], r["state"]) == \
            (t, c, llr, state), day
        assert r["first_decision_day"] == first
    assert got[first]["state"] == "reject_h0"


def test_sprt_accepts_on_planted_null_rate(spark, sf_dir):
    """10% conversion (below H0's 20%): evidence accumulates FOR the
    null and the walk must exit through the lower boundary."""
    import datetime as dt
    rows = []
    eid = 0
    day_counts = {}
    for day in range(15):
        t, c = 30, 3                        # 10%
        day_counts[19723 + day] = (t, c)
        for j in range(t):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1 + day, 8, 0, j),
                         j, "purchase" if j < c else "click", 1.0, "{}"))
    ev = _mk_events(spark, rows)
    import project_etl_spark.operators.llm_curation as lc

    orig = lc.table
    lc.table = lambda s, d, n: ev
    try:
        got = {r["day"]: r
               for r in lc.ext_sprt_monitor(spark, sf_dir).collect()}
    finally:
        lc.table = orig
    ref, first = _sprt_reference(day_counts)
    assert first is not None and got[first]["state"] == "accept_h0"
    for day, (t, c, llr, state) in ref.items():
        assert (got[day]["llr_micro"], got[day]["state"]) == (llr, state)


# ---------------------------------------------------------------------------
# win_page_hinkley
# ---------------------------------------------------------------------------

def _ph_reference(xs, first_day):
    """Pure-Python PH with the query's milli quantization."""
    n = len(xs)
    gm = math.floor(sum(xs) * 1e3 / n + 0.5)
    lam = 3 * gm
    cum = 0
    m = 0
    mmin = None
    out = {}
    first_alarm = None
    for i, x in enumerate(xs, start=1):
        cum += x
        mu = math.floor(cum * 1e3 / i + 0.5)
        m += 1000 * x - mu - 500
        mmin = m if mmin is None else min(mmin, m)
        ph = m - mmin
        alarm = int(ph > lam)
        day = first_day + i - 1
        if alarm and first_alarm is None:
            first_alarm = day
        out[day] = (x, mu, ph, alarm)
    return out, first_alarm


def test_page_hinkley_detects_planted_level_shift(spark, sf_dir):
    """Clicks triple from day 10: PH must alarm after the shift, on the
    exact day the reference alarm fires, with every milli value equal."""
    import datetime as dt
    xs = [10] * 10 + [30] * 8
    rows = []
    eid = 0
    for i, x in enumerate(xs):
        for j in range(x):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1 + i, 9, 0, j),
                         j, "click", 1.0, "{}"))
    ev = _mk_events(spark, rows)
    import project_etl_spark.operators.windows as wn

    orig = wn.table
    wn.table = lambda s, d, n: ev
    try:
        got = {r["day"]: r
               for r in wn.win_page_hinkley(spark, sf_dir).collect()}
    finally:
        wn.table = orig
    ref, first_alarm = _ph_reference(xs, 19723)
    assert first_alarm is not None and first_alarm >= 19733
    for day, (x, mu, ph, alarm) in ref.items():
        r = got[day]
        assert (r["x"], r["mu_milli"], r["ph_milli"], r["alarm"]) == \
            (x, mu, ph, alarm), day
        assert r["first_alarm_day"] == first_alarm


def test_page_hinkley_flat_series_never_alarms(spark, sf_dir):
    """Constant series: m_t decreases by exactly delta per day, so the
    running min tracks it and PH stays 0 — no alarm, no drift."""
    import datetime as dt
    rows = []
    eid = 0
    for i in range(12):
        for j in range(15):
            eid += 1
            rows.append((eid, dt.datetime(2024, 2, 1 + i, 9, 0, j),
                         j, "click", 1.0, "{}"))
    ev = _mk_events(spark, rows)
    import project_etl_spark.operators.windows as wn

    orig = wn.table
    wn.table = lambda s, d, n: ev
    try:
        got = wn.win_page_hinkley(spark, sf_dir).collect()
    finally:
        wn.table = orig
    for r in got:
        assert r["ph_milli"] == 0
        assert r["alarm"] == 0
        assert r["first_alarm_day"] is None
