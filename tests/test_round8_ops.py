"""Planted-data tests for the round-8 operators: RSI (Wilder SMA
variant), the HDR-style log-bucketed latency quantile sketch, and the
Bradley-Terry MM fit step. Each compares the operator's grouped/window
algebra against an independent pure-Python textbook implementation —
including the degenerate topologies (flat windows, single-bucket gaps,
unanimous winners) that differential hashing can never catch because
both engines run the same shared SQL."""

from __future__ import annotations

import math


def _rsi_reference(series, period=14):
    """Textbook SMA-RSI over a (day, value) series."""
    out = {}
    vals = [v for _, v in series]
    days = [d for d, _ in series]
    diffs = [vals[i] - vals[i - 1] for i in range(1, len(vals))]
    for i in range(period, len(vals)):       # needs `period` diffs
        window = diffs[i - period:i]
        g = sum(d for d in window if d > 0)
        l = sum(-d for d in window if d < 0)
        if g + l == 0:
            continue                          # guarded out by the operator
        out[days[i]] = (g, l, math.floor(100.0 * g / (g + l) * 1e3 + 0.5))
    return out


def test_rsi_matches_textbook(spark):
    from project_etl_spark.operators.windows import _RSI_BODY

    series = [(d, 100 + ((7 * d) % 13) - ((3 * d) % 5)) for d in range(40)]
    spark.createDataFrame(series, "day long, rev_kd long") \
        .createOrReplaceTempView("rsi_planted")
    got = {r["day"]: (r["gain_kd"], r["loss_kd"], r["rsi_milli"])
           for r in spark.sql(_RSI_BODY.format(d="rsi_planted")).collect()}
    assert got == _rsi_reference(series)


def test_rsi_flat_series_is_guarded_out(spark):
    """A constant series has G+L = 0 in every window: the operator must
    return zero rows, not NaN/divide-by-zero."""
    from project_etl_spark.operators.windows import _RSI_BODY

    series = [(d, 500) for d in range(30)]
    spark.createDataFrame(series, "day long, rev_kd long") \
        .createOrReplaceTempView("rsi_flat")
    assert spark.sql(_RSI_BODY.format(d="rsi_flat")).count() == 0


def test_rsi_monotone_series_saturates(spark):
    """Strictly rising revenue => no losses => RSI exactly 100 on every
    full window (the saturation bound)."""
    from project_etl_spark.operators.windows import _RSI_BODY

    series = [(d, 100 + 3 * d) for d in range(20)]
    spark.createDataFrame(series, "day long, rev_kd long") \
        .createOrReplaceTempView("rsi_up")
    rows = spark.sql(_RSI_BODY.format(d="rsi_up")).collect()
    assert len(rows) == 6                     # days 14..19
    assert all(r["rsi_milli"] == 100_000 and r["loss_kd"] == 0
               for r in rows)


def _hdr_reference(gaps, q_permille):
    """Textbook: exact order statistic + quarter-log2 bucket estimate."""
    gaps = sorted(g for g in gaps if g >= 1)
    n = len(gaps)
    k = math.floor((q_permille * n + 999) / 1e3)
    exact = gaps[int(k) - 1]
    buckets = sorted(math.floor(math.log2(g) * 4) for g in gaps)
    b = buckets[int(k) - 1]
    est = 2 ** ((b + 0.5) / 4)
    return b, exact, est


def test_hdr_quantiles_match_textbook_and_error_bound(spark):
    from project_etl_spark.operators.sql_surface import _HDR_BODY

    gaps = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987,
            1597, 2584, 4181, 6765, 10946] * 3 + [50] * 10 + [7000] * 4
    spark.createDataFrame([(g,) for g in gaps], "gap_ms long") \
        .createOrReplaceTempView("hdr_planted")
    rows = {r["q_permille"]: r
            for r in spark.sql(_HDR_BODY.format(d="hdr_planted")).collect()}
    for q in (500, 950, 990):
        b, exact, est = _hdr_reference(gaps, q)
        r = rows[q]
        assert r["bucket"] == b, (q, r["bucket"], b)
        assert r["exact_ms"] == exact
        assert r["est_ms_milli"] == math.floor(est * 1e3 + 0.5)
        # the HDR construction bound: quarter-log2 buckets keep the
        # representative within 2^(1/8)-1 of any value in the bucket,
        # and within 2^(1/4)-1 ~ 19% of the true quantile
        assert r["rel_err_milli"] <= 190, (q, r["rel_err_milli"])


def test_hdr_single_bucket_degenerate(spark):
    """All gaps equal: every quantile reads the same bucket and the
    exact value; the estimate's error is pinned by the bucket width."""
    from project_etl_spark.operators.sql_surface import _HDR_BODY

    spark.createDataFrame([(100,)] * 25, "gap_ms long") \
        .createOrReplaceTempView("hdr_const")
    rows = spark.sql(_HDR_BODY.format(d="hdr_const")).collect()
    assert len(rows) == 3
    assert len({r["bucket"] for r in rows}) == 1
    assert all(r["exact_ms"] == 100 and r["rel_err_milli"] <= 190
               for r in rows)


def _bt_reference(matches):
    """Textbook 2-iteration MM (Hunter 2004) with sum-to-k
    normalization, mirroring the operator's quantization points."""
    sources = sorted({s for pair in matches for s in pair})
    n = {},
    n_ij = {}
    w_i = {}
    for (a, b), (na, wa) in matches.items():
        n_ij[(a, b)] = n_ij.get((a, b), 0) + na
        n_ij[(b, a)] = n_ij.get((b, a), 0) + na
        w_i[a] = w_i.get(a, 0) + wa
        w_i[b] = w_i.get(b, 0) + (na - wa)
    ni = {s: sum(n_ij[(s, j)] for j in sources if (s, j) in n_ij)
          for s in sources}
    k = len(sources)
    p = {s: w_i[s] * 2.0 / ni[s] for s in sources}
    sp = sum(math.floor(p[s] * 1e6 + 0.5) for s in sources) / 1e6
    p = {s: p[s] * k / sp for s in sources}
    p2 = {}
    for s in sources:
        den = sum(math.floor(n_ij[(s, j)] / (p[s] + p[j]) * 1e9 + 0.5)
                  for j in sources if (s, j) in n_ij) / 1e9
        p2[s] = w_i[s] / den
    sp2 = sum(math.floor(p2[s] * 1e6 + 0.5) for s in sources) / 1e6
    return {s: math.floor(p2[s] * k / sp2 * 1e6 + 0.5) for s in sources}


def test_bradley_terry_matches_textbook_mm(spark):
    """Planted doc sequence -> known match matrix -> the operator's
    ratings must equal the independent 2-iteration MM."""
    from project_etl_spark.operators.llm_curation import _BT_BODY

    # consecutive-doc matches; n_chars decides the winner
    docs, matches = [], {}
    nxt = 0
    plan = [("a", "b", 600, 100), ("a", "b", 550, 200), ("b", "a", 700, 100),
            ("a", "c", 500, 100), ("c", "a", 900, 100), ("b", "c", 800, 100),
            ("c", "b", 400, 900), ("a", "c", 450, 120)]
    for sa, sb, ca, cb in plan:
        docs.append((nxt, "x", sa, ca))
        docs.append((nxt + 1, "x", sb, cb))
        key = tuple(sorted((sa, sb)))
        na, wa = matches.get(key, (0, 0))
        winner = sa if (ca > cb or (ca == cb and sa < sb)) else sb
        matches[key] = (na + 1, wa + (1 if winner == key[0] else 0))
        nxt += 3                              # id gap: (nxt+1, nxt+2) must
                                              # not form an unplanned match
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long") \
        .createOrReplaceTempView("bt_planted")
    got = {r["source"]: (r["n_matches"], r["n_wins"], r["rating_micro"])
           for r in spark.sql(_BT_BODY.format(src="bt_planted")).collect()}
    want = _bt_reference(matches)
    for s, rating in want.items():
        assert got[s][2] == rating, (s, got[s][2], rating)
    # wins/matches bookkeeping: a plays 6 (3 vs b, 3 vs c), b and c 5
    assert got["a"][0] == 6 and got["b"][0] == 5 and got["c"][0] == 5
    # a beats b twice+; rank consistency: more rating = lower rank number
    ratings = sorted(got.values(), key=lambda t: -t[2])
    assert ratings[0][2] >= ratings[-1][2]


def test_bradley_terry_unanimous_winner_dominates(spark):
    """Degenerate topology: source 'a' wins EVERY match. Its rating is
    the strict maximum; the zero-win losers collapse to rating 0 (the
    known Bradley-Terry degeneracy — MM needs a strongly-connected win
    graph for interior estimates) WITHOUT any divide-by-zero: every
    matched pair contains at least one winner, so p_i + p_j > 0 holds
    for every denominator term."""
    from project_etl_spark.operators.llm_curation import _BT_BODY

    docs = []
    nxt = 0
    for other in ("b", "c"):
        for _ in range(4):
            docs.append((nxt, "x", "a", 1000))
            docs.append((nxt + 1, "x", other, 100))
            nxt += 3
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long") \
        .createOrReplaceTempView("bt_unan")
    got = {r["source"]: r for r in
           spark.sql(_BT_BODY.format(src="bt_unan")).collect()}
    assert got["a"]["rank"] == 1
    assert got["a"]["rating_micro"] > got["b"]["rating_micro"]
    assert got["a"]["rating_micro"] > got["c"]["rating_micro"]
    # sum-normalized to k=3 with both losers at the 0 boundary
    assert got["a"]["rating_micro"] == 3_000_000
    assert got["b"]["rating_micro"] == 0 and got["c"]["rating_micro"] == 0
    assert got["a"]["n_wins"] == 8


def test_sketch_merge_audit_clean_and_skew_visible(spark):
    """Planted sharded gaps: shard 3 is 8x slower. The merged sketch
    must equal the global one (merge_clean on every row) and shard 3's
    p95 bucket must sit strictly above the others — the skew signal
    the audit exists to surface."""
    from project_etl_spark.operators.sql_surface import _SKETCH_MERGE_BODY

    rows = []
    for shard in range(3):
        rows += [(shard, g) for g in (10, 20, 30, 40, 50) * 6]
    rows += [(3, g * 8) for g in (10, 20, 30, 40, 50) * 6]
    spark.createDataFrame(rows, "shard long, gap_ms long") \
        .createOrReplaceTempView("sm_planted")
    out = {r["shard"]: r for r in
           spark.sql(_SKETCH_MERGE_BODY.format(d="sm_planted")).collect()}
    assert len(out) == 4
    assert all(r["merge_clean"] == 1 for r in out.values())
    assert out[3]["p95_bucket"] > out[0]["p95_bucket"]
    assert out[0]["p95_bucket"] == out[1]["p95_bucket"] == out[2]["p95_bucket"]
    # global p95 identical on every row and within the shard envelope
    g = {r["global_p95_bucket"] for r in out.values()}
    assert len(g) == 1
    assert out[0]["p95_bucket"] <= g.pop() <= out[3]["p95_bucket"]


def test_sketch_merge_audit_single_shard_degenerate(spark):
    """One shard only: merged == global trivially, and the shard's p95
    equals the global p95 (the audit must not fabricate skew)."""
    from project_etl_spark.operators.sql_surface import _SKETCH_MERGE_BODY

    rows = [(0, g) for g in (5, 7, 11, 13, 17, 19, 23) * 4]
    spark.createDataFrame(rows, "shard long, gap_ms long") \
        .createOrReplaceTempView("sm_one")
    out = spark.sql(_SKETCH_MERGE_BODY.format(d="sm_one")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["merge_clean"] == 1
    assert r["p95_bucket"] == r["global_p95_bucket"]
    assert r["n_gaps"] == 28


def test_stream_hdr_buckets_state_is_bounded_and_complete(spark):
    """The streaming sketch's end state: counts sum to the 600 fixture
    rows, the state is a few dozen buckets (the boundedness that makes
    it streamable), and every row's representative matches its bucket."""
    import math as _m

    from project_etl_spark.registry import load_all

    rows = load_all()["stream_hdr_buckets"].builder(spark, "unused").collect()
    assert sum(r["n"] for r in rows) == 600
    assert 5 <= len(rows) <= 60
    for r in rows:
        assert r["est_ms_milli"] == _m.floor(
            2 ** ((r["bucket"] + 0.5) / 4) * 1e3 + 0.5)


def _manifest(spark, paths) -> dict:
    """{fragment: (fragment, n_rows, n_docs, checksum)} of an index."""
    from project_etl_spark.operators.llm_dedup import index_manifest

    return {r["fragment"]: tuple(r)
            for r in index_manifest(spark, paths).collect()}


def test_retract_equals_rebuild_across_topologies(spark, tmp_path):
    """Planted corpus with all three retraction topologies: a 5-copy
    group losing its CANONICAL member (rekey), a group removed
    entirely (dead-key drop), a removed singleton, and an untouched
    group. The retracted index must match a from-scratch rebuild over
    the survivors fragment-for-fragment (rows, docs, XOR checksum)."""
    from pyspark.sql import functions as F

    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, retract_dedup_index)

    boiler = "copyright acme corp all rights reserved " * 5
    other = "completely different words entirely " * 6
    rows = []
    rows += [(i, boiler) for i in (3, 10, 11, 12, 13)]   # canon 3 removed
    rows += [(i, other) for i in (17, 24)]               # 17+24 removed: dead
    rows.append((31, "a lone singleton document with its own words"))
    rows.append((38, "another survivor text that nobody touches here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    removed_pred = F.col("doc_id").isin(3, 17, 24, 31)

    ret = retract_dedup_index(spark, docs, removed_pred,
                              str(tmp_path / "ret"))
    reb = build_dedup_index(spark, docs.where(~removed_pred),
                            str(tmp_path / "reb"))
    assert _manifest(spark, ret) == _manifest(spark, reb)
    # the rekey actually happened: new canon of the boiler group is 10
    m = {r["doc_id"]: r["canon_id"]
         for r in spark.read.parquet(ret["members"]).collect()}
    assert m == {10: 10, 11: 10, 12: 10, 13: 10, 38: 38}


def test_ws_count_spark_sql_spelling_matches_column_twin(spark, sf_dir):
    """The Spark-SQL ws-count spelling used by shared bodies must agree
    with the DataFrame twin on every fixture document."""
    from pyspark.sql import functions as F

    from project_etl_spark.io import table
    from project_etl_spark.operators import sampling_common as _sc

    docs = table(spark, sf_dir, "documents")
    diff = (docs.select(
        _sc.ws_count_col().alias("a"),
        F.expr(_sc.WS_COUNT_SQL_SPARK).alias("b"))
        .where(F.col("a") != F.col("b")).count())
    assert diff == 0


def _qts_reference(scored, thresholds):
    """Pure-Python PR sweep mirroring the permille-bin semantics."""
    import math as _m
    out = {}
    np_ = sum(y for _, y in scored)
    for t in thresholds:
        kept = [(p, y) for p, y in scored
                if min(_m.floor(p * 1000), 999) >= t]
        tp = sum(y for _, y in kept)
        fp = len(kept) - tp
        f1 = _m.floor(2 * tp / (2 * tp + fp + (np_ - tp)) * 1e6 + 0.5)
        out[t] = (tp, fp, np_ - tp, len(kept), f1)
    return out


def test_quality_threshold_sweep_matches_reference(spark, sf_dir):
    """Operator vs an independent pure-Python PR sweep over the SAME
    scored corpus (probabilities read back from the registered
    classifier query, so the reference shares no SQL with the sweep)."""
    from project_etl_spark.registry import load_all

    reg = load_all()
    out = {r["t_permille"]: r for r in
           reg["ext_quality_threshold_sweep"].builder(spark, sf_dir)
           .collect()}
    scored_df = reg["ext_quality_calibration_bins"].builder(spark, sf_dir)
    # reference scored pairs: rebuild from the logistic + rule queries
    from pyspark.sql import functions as F
    from project_etl_spark.io import table
    from project_etl_spark.operators import sampling_common as _sc
    from project_etl_spark.operators.llm_curation import (
        _GR_MAX_AWL, _GR_MAX_DIGIT_FRAC, _GR_MAX_WORDS, _GR_MIN_AWL,
        _GR_MIN_WORDS, _QL_BIAS, _QL_W_AWL, _QL_W_LOGTOK)

    docs = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    t = _sc.ws_count_col()
    awl = F.col("n_chars").cast("double") / (t + F.lit(1.0))
    digit_frac = (F.length(F.regexp_replace("text", "[^0-9]", ""))
                  .cast("double") / F.col("n_chars"))
    z = (F.lit(float(_QL_BIAS))
         + F.lit(float(_QL_W_LOGTOK)) * F.log(F.lit(1.0) + t)
         + F.lit(float(_QL_W_AWL)) * awl)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    y = F.when((t >= _GR_MIN_WORDS) & (t <= _GR_MAX_WORDS)
               & (awl >= float(_GR_MIN_AWL)) & (awl <= float(_GR_MAX_AWL))
               & (digit_frac <= float(_GR_MAX_DIGIT_FRAC)), 1).otherwise(0)
    scored = [(r["p"], r["y"]) for r in
              docs.select(p.alias("p"), y.alias("y")).collect()]
    ref = _qts_reference(scored, sorted(out))
    for th, (tp, fp, fn, kept, f1) in ref.items():
        r = out[th]
        assert (r["tp"], r["fp"], r["fn"], r["n_kept"],
                r["f1_micro"]) == (tp, fp, fn, kept, f1), th
    # exactly the argmax rows flagged
    best = max(v[4] for v in ref.values())
    assert {th for th, v in ref.items() if v[4] == best} == \
           {th for th, r in out.items() if r["is_best_f1"] == 1}
    assert scored_df.count() >= 1          # calibration twin still runs


def test_merge_then_retract_composes_to_rebuild(spark, tmp_path):
    """Lifecycle composition: nightly MERGE of a delta batch followed by
    a takedown RETRACT spanning both archive and delta docs must equal
    a from-scratch build over (archive + delta - removed) — the
    maintenance sequence a production index actually lives through."""
    from pyspark.sql import functions as F

    from project_etl_spark.operators.llm_dedup import (
        build_dedup_index, merge_dedup_index, retract_dedup_index)

    boiler = "shared boilerplate page body repeated verbatim " * 4
    rows = [(i, boiler) for i in (2, 9, 16)]             # archive group
    rows += [(i, f"unique archive doc {i} " * 5) for i in (23, 30)]
    rows += [(101, boiler)]                              # delta joins group
    rows += [(i, f"fresh delta doc {i} " * 5) for i in (108, 115)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    is_delta = F.col("doc_id") >= 100

    merged = merge_dedup_index(spark, docs, is_delta,
                               str(tmp_path / "m"))
    # retract: the boiler group's canonical archive doc AND a delta doc
    removed = F.col("doc_id").isin(2, 108)
    merged_docs = docs                                   # corpus after merge
    # retract_dedup_index builds its own archive index from `docs`; to
    # compose, point it at the merged corpus and compare to a rebuild
    ret = retract_dedup_index(spark, merged_docs, removed,
                              str(tmp_path / "r"))
    reb = build_dedup_index(spark, merged_docs.where(~removed),
                            str(tmp_path / "b"))
    assert _manifest(spark, ret) == _manifest(spark, reb)
    # the merged index agreed with a full build too (merge contract)
    full = build_dedup_index(spark, docs, str(tmp_path / "f"))
    assert _manifest(spark, merged) == _manifest(spark, full)
    # boiler group canonical handoff: 2 removed -> canon is now 9
    m = {r["doc_id"]: r["canon_id"]
         for r in spark.read.parquet(ret["members"]).collect()}
    assert m[9] == 9 and m[16] == 9 and m[101] == 9


def _systematic_reference(weights, m):
    """Textbook systematic resampling: points at (2k+1)*W/(2m)."""
    W = sum(w for _, w in weights)
    picks = {}
    cum = 0
    for doc, w in sorted(weights):
        lo, cum = cum, cum + w
        # count k >= 0 with lo < (2k+1)*W/(2m) <= cum
        def g(c):
            return (2 * c * m - W) // (2 * W) + 1 if 2 * c * m >= W else 0
        picks[doc] = g(cum) - g(lo)
    assert sum(picks.values()) == m
    return picks


def test_resample_matches_textbook_and_budget_exact(spark):
    from project_etl_spark.operators.llm_curation import (
        _RESAMPLE_BODY, _RESAMPLE_M)

    rows = [(i, "x", ["sa", "sb", "sc"][i % 3], 50 + (i * 37) % 400)
            for i in range(500)]
    rows.append((9000, "x", "sd", 90_000))       # dominant doc
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long") \
        .createOrReplaceTempView("rs_planted")
    out = {r["source"]: r for r in spark.sql(
        _RESAMPLE_BODY.format(src="rs_planted")
        .replace("//", " div ")).collect()}
    ref = _systematic_reference([(d, c) for d, _, _, c in rows],
                                _RESAMPLE_M)
    # budget is hit EXACTLY
    assert next(iter(out.values()))["n_samples_total"] == _RESAMPLE_M
    # per-source copy totals match the reference
    src_of = {d: s for d, _, s, _ in rows}
    want = {}
    for d, p in ref.items():
        want[src_of[d]] = want.get(src_of[d], 0) + p
    assert {s: r["n_samples"] for s, r in out.items()} == want
    # the dominant doc (wt >> W/m) is picked many times, exactly ref
    assert out["sd"]["max_copies"] == ref[9000] >= 2
    # every doc with wt >= W/m is guaranteed sampled: check none missed
    W = sum(c for _, _, _, c in rows)
    guaranteed = {d for d, _, _, c in rows if c * _RESAMPLE_M >= W}
    assert all(ref[d] >= 1 for d in guaranteed)


def test_resample_single_doc_degenerate(spark):
    """One document owns all the mass: it absorbs the whole budget."""
    from project_etl_spark.operators.llm_curation import (
        _RESAMPLE_BODY, _RESAMPLE_M)

    spark.createDataFrame(
        [(1, "x", "only", 777)],
        "doc_id long, text string, source string, n_chars long") \
        .createOrReplaceTempView("rs_one")
    r = spark.sql(_RESAMPLE_BODY.format(src="rs_one")
                  .replace("//", " div ")).collect()
    assert len(r) == 1
    assert r[0]["n_samples"] == _RESAMPLE_M
    assert r[0]["max_copies"] == _RESAMPLE_M
    assert r[0]["ess_milli"] == 1000          # ESS of one doc = 1.000


def test_source_length_quantiles_match_reference(spark):
    """Grouped sketch vs pure-Python per-group order statistics on a
    planted two-source corpus with very different length profiles."""
    import math as _m

    from project_etl_spark.operators.llm_text import _SRC_LEN_Q_BODY

    rows = []
    rows += [(i, "x", "short", 40 + (i * 13) % 80) for i in range(60)]
    rows += [(100 + i, "x", "long", 800 + (i * 97) % 4000)
             for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long") \
        .createOrReplaceTempView("slq_planted")
    out = {(r["source"], r["q_permille"]): r for r in spark.sql(
        _SRC_LEN_Q_BODY.format(src="slq_planted")).collect()}
    for src in ("short", "long"):
        vals = sorted(c for _, _, s, c in rows if s == src)
        for q in (500, 950):
            k = _m.floor((q * len(vals) + 999) / 1e3)
            exact = vals[k - 1]
            bucket = sorted(_m.floor(_m.log2(v) * 4) for v in vals)[k - 1]
            r = out[(src, q)]
            assert r["exact_chars"] == exact, (src, q)
            assert r["bucket"] == bucket, (src, q)
            assert r["rel_err_milli"] <= 190
    # the two profiles are actually separated
    assert out[("long", 500)]["exact_chars"] > \
        out[("short", 950)]["exact_chars"]
