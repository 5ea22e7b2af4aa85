"""§2.11 [EXT] Deduplication for LLM training pipelines.

Exact dedup (normalized-hash), n-gram Jaccard near-dup, and a pure-SQL
MinHash whose hash algebra is portable to the DuckDB oracle:

    base hash  h(s)   = int64(first 15 hex chars of md5(s)) % P
    permutation k     = (A_k * h + B_k) % P          (P = 2^31 - 1)

A_k, B_k < 2^31 and h < 2^31, so A_k * h < 2^62 never overflows a signed 64
in either engine. At 100 TB the shingle self-join of the Jaccard variant is
replaced by MinHash banding (LSH): candidates meet only inside a band
bucket — that path is ``minhash_band_buckets`` below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from project_etl_spark.io import table
from project_etl_spark.operators import sampling_common as _sc
from project_etl_spark.operators.demo_guard import guard_demo_scale
from project_etl_spark.portable import pround
from project_etl_spark.registry import register
from project_etl_spark.session import ensure_deterministic

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# (A, B) per permutation — small primes, arbitrary but fixed.
PERMS = [(1_299_721, 7), (15_485_863, 101), (32_452_843, 907),
         (49_979_687, 3_571), (67_867_967, 9_241), (86_028_121, 17_389),
         (104_395_301, 27_803), (122_949_823, 38_651)]

_H60_RAW = "cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint)"
_H64 = _H60_RAW + " % 2147483647"


def word_ngrams(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc: explode of a window-free array slice
    (tokens are already an array); one fragment serving dedup shingling
    (n=3) and benchmark decontamination (n=5). Measured in the
    optimization round: spreading the single-split scan before this
    explode (io.spread_small_scan) made every LSH consumer SLOWER
    (method census 6.5 -> 8.7 s with a hash exchange, 27 s round-robin)
    — the added exchange costs more than the ~1 s single-task explode it
    parallelizes, and it degrades subtree sharing across the pipeline's
    many consumers. Left as the plain scan deliberately."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    parts = ", ".join(f"w[i+{j}]" for j in range(n))
    # guard: documents with < n tokens yield ZERO shingles (sequence() would
    # descend for negative spans and w[i+n-1] would ANSI-fail past the end)
    return (
        toks.select(
            "doc_id",
            F.explode(F.expr(
                f"CASE WHEN size(w) >= {n} THEN "
                f"transform(sequence(0, size(w) - {n}), "
                f"i -> concat_ws(' ', {parts})) "
                "ELSE array() END"
            )).alias("sh"))
        .distinct()
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    return word_ngrams(docs, n)


def ngrams_sql(n: int = 3, table: str = "documents") -> str:
    """DuckDB twin of :func:`word_ngrams` (1-indexed arrays: i spans
    1 .. len(w)-n+1, empty when the doc has fewer than n tokens)."""
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
    SELECT DISTINCT doc_id, {parts} AS sh
    FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - {n - 2}, 1))) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {table}))
"""


_SHINGLES_SQL = ngrams_sql(3)


@register(
    "ext_dedup_exact",
    oracle="""
        WITH fp AS (
            SELECT doc_id, md5(lower(trim(text))) AS fingerprint
            FROM documents
        )
        SELECT doc_id, fingerprint,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY fingerprint ORDER BY doc_id
               ) = 1 THEN 1 ELSE 0 END AS is_canonical
        FROM fp
    """,
    tags=("ext", "dedup"),
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized md5 fingerprint, first doc_id per fingerprint
    is canonical. Scales as one hash-shuffle on the fingerprint."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("fingerprint"))
        .withColumn("is_canonical",
                    F.when(F.row_number().over(w) == 1, 1).otherwise(0))
    )


@register(
    "ext_dedup_near_jaccard",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shingles a JOIN shingles b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b, p.n_common,
               (FLOOR(p.n_common * 1.0 / (ca.n + cb.n - p.n_common)
                      * 1000000.0 + 0.5) / 1000000.0) AS jaccard
        FROM pairs p
        JOIN counts ca ON p.doc_a = ca.doc_id
        JOIN counts cb ON p.doc_b = cb.doc_id
        WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= 0.05
    """,
    tags=("ext", "dedup"),
)
def ext_dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-trigram Jaccard >= 0.05: distinct
    shingles, equi-self-join on the shingle (never a cross join), intersection
    counts vs union. Exact-demo query: the shingle self-join is quadratic in
    hot-shingle frequency, so inputs are bounded by ``guard_demo_scale`` —
    the 100 TB path is ``ext_dedup_near_lsh_verified`` (same output
    contract, candidate-bounded cost)."""
    ensure_deterministic(spark)
    docs = guard_demo_scale(table(spark, sf_dir, "documents"),
                            query="ext_dedup_near_jaccard",
                            flagship="ext_dedup_near_lsh_verified")
    sh = _shingles(docs)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    pairs = (
        a.join(b, ["sh"]).where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
    return (
        pairs.join(ca, "doc_a").join(cb, "doc_b")
        .where(jac >= 0.05)
        .select("doc_a", "doc_b", "n_common", pround(jac, 6).alias("jaccard"))
    )


def _minhash_sql_values() -> str:
    return ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(PERMS))


def minhash_wide(hashed: DataFrame) -> DataFrame:
    """(doc_id, m0..m7): ALL permutation minima in one map-side-combinable
    groupBy(doc_id) — m_k = MIN((a_k*h + b_k) % P), the same values the
    row-form pipeline produces, without first exploding every shingle
    hash 8x into (doc, perm) rows (optimization round 12, guide §2.3:
    aggregate before you shuffle — the wide row is also 8x fewer
    rows through the exchange). Duplicate h per doc cannot change any
    MIN (as before)."""
    aggs = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % P).alias(f"m{k}")
            for k, (a, b) in enumerate(PERMS)]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_buckets_from_wide(wide: DataFrame,
                           rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, bucket) as a PURE PROJECTION over the wide signature
    row (optimization round 12): per band, the key is md5 over the same
    '-'-joined sorted 'k:minhash' strings ``minhash_band_buckets`` built
    with collect_list — but with m0..m7 in hand the sorted list is a
    literal array, so the per-band groupBy (a full shuffle of the
    signature rows per banding) disappears (guide §2.4: remove shuffles
    outright). Byte-identical bucket values by construction; pinned by
    tests/test_dedup_quality.py::test_wide_lsh_pipeline_matches_row_form."""
    n_bands = len(PERMS) // rows_per_band
    buckets = []
    for band in range(n_bands):
        elems = [F.concat_ws(":", F.lit(str(k)),
                             F.col(f"m{k}").cast("string"))
                 for k in range(band * rows_per_band,
                                (band + 1) * rows_per_band)]
        buckets.append(F.md5(F.concat_ws("-", F.array_sort(
            F.array(*elems)))))
    return wide.select(
        "doc_id", F.posexplode(F.array(*buckets)).alias("band", "bucket"))


def minhash_wide_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, m0..m7) over a distinct-shingle table — ``minhash_wide``
    composed with the pipeline's string hash, for consumers that need
    the wide row itself (per-pair agreement audits)."""
    return minhash_wide(shingles.select(
        "doc_id", F.expr(_H64.format(col="sh")).alias("h")))


def lsh_buckets(shingles: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Fused shingles -> (doc_id, band, bucket) path: one aggregate
    (``minhash_wide``) and one projection (``band_buckets_from_wide``)
    instead of the row-form explode-agg + collect_list-agg chain — two
    shuffles fewer for every LSH banding consumer, identical values."""
    return band_buckets_from_wide(minhash_wide_signatures(shingles),
                                  rows_per_band)


def signatures_from_wide(wide: DataFrame) -> DataFrame:
    """(doc_id, k, minhash) row-form view of a wide signature table —
    a pure posexplode projection, shared by ``minhash_from_hashes`` and
    the persisted-index build (where the wide fragment is the stored
    source of truth and the row form is its audit view)."""
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"m{k}")
                               for k in range(len(PERMS))]))
        .alias("k", "minhash"))


def minhash_from_hashes(hashed: DataFrame) -> DataFrame:
    """(doc_id, k, minhash) from an already-hashed (doc_id, h) table with
    h < P — the permutation/min-aggregate half of the minhash pipeline,
    split out so the persisted-index path (``build_dedup_index``) can
    derive signatures from the stored shingle-hash table without
    re-shingling. Lowered through ``minhash_wide`` (one groupBy(doc_id),
    no 8x explode before the exchange) + a posexplode back to rows —
    same (doc_id, k, minhash) rows as the historical explode-then-agg
    form. Duplicate h per doc (hash collisions after a DISTINCT on a
    wider hash) cannot change any MIN."""
    return signatures_from_wide(minhash_wide(hashed))


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, k, minhash) signature table over a distinct-shingle table —
    THE minhash pipeline, shared by ``ext_dedup_minhash`` and
    ``jaccard_via_lsh`` so the hash algebra exists exactly once."""
    return minhash_from_hashes(
        shingles.select("doc_id", F.expr(_H64.format(col="sh")).alias("h")))


#: SQL twin of ``minhash_signatures`` (CTE bodies; expects a ``shingles``
#: CTE in scope) — one copy feeding every oracle that needs signatures.
_MINHASH_SIGS_SQL = f"""
        hashed AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
                       % 2147483647 AS h
            FROM shingles
        ),
        sigs AS (
            SELECT doc_id, p.k,
                   MIN((p.a * h + p.b) % 2147483647) AS minhash
            FROM hashed, (VALUES {_minhash_sql_values()}) p(k, a, b)
            GROUP BY doc_id, p.k
        )
"""


@register(
    "ext_dedup_minhash",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL}
        SELECT doc_id, k, minhash FROM sigs
    """,
    tags=("ext", "dedup", "minhash"),
)
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 permutations) over word-trigram shingles, with
    engine-portable hash algebra — the signature table is hash-checked
    exactly against DuckDB."""
    ensure_deterministic(spark)
    return minhash_signatures(_shingles(table(spark, sf_dir, "documents")))


def minhash_band_buckets(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """LSH banding over a (doc_id, k, minhash) signature table: band id =
    k // rows_per_band, bucket = md5 of the band's concatenated minhashes.
    Docs sharing (band, bucket) are near-dup candidates — at scale this is
    the equi-join that replaces the quadratic shingle join."""
    banded = signatures.withColumn("band", (F.col("k") / rows_per_band).cast("int"))
    return (
        banded.groupBy("doc_id", "band")
        .agg(F.concat_ws("-", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("k").cast("string"),
                        F.col("minhash").cast("string"))))).alias("band_key"))
        .withColumn("bucket", F.md5("band_key"))
        .select("doc_id", "band", "bucket")
    )


def collapse_exact_dups(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical docs, membership) for exact-text duplicate groups.

    Fingerprints the RAW text (md5 of ``text`` as-is, NOT the normalized
    lower/trim fingerprint of ``ext_dedup_exact``) so that collapsed docs
    are guaranteed to have byte-identical shingle sets — the property that
    makes ``jaccard_via_lsh``'s collapse-then-expand rewrite output-exact.
    Membership is (doc_id, canon_id) with canon_id = min doc_id per group;
    one fingerprint shuffle, same cost shape as ``ext_dedup_exact``."""
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    # ONE shuffle (window over the fingerprint) instead of agg + join-back.
    # The membership table feeds several consumers downstream (canonical
    # filter, expansion sides, within-group self-join); lazy-checkpoint so
    # that shuffle runs once per action, not per consumer, and the planner
    # sees a truncated narrow (2 long + 1 int column) lineage. Lazy (not
    # eager) so plan-only consumers (explain/tests) pay nothing.
    members = (fp.select("doc_id",
                         F.min("doc_id").over(w).alias("canon_id"),
                         F.count(F.lit(1)).over(w).cast("int").alias("gsize"))
               .localCheckpoint(eager=False))
    canon_docs = docs.join(
        members.where(F.col("doc_id") == F.col("canon_id")).select("doc_id"),
        "doc_id", "left_semi")
    return canon_docs, members


def jaccard_via_lsh(docs, threshold: float = 0.5, rows_per_band: int = 2):
    """Production near-dup path (100 TB): exact-dup collapse, then
    MinHash-LSH candidate generation over the CANONICAL corpus, then EXACT
    Jaccard verification of candidates only, then expansion of the verified
    canonical pairs back to member pairs.

    Output contract matches ``ext_dedup_near_jaccard`` (doc_a, doc_b,
    n_common, jaccard) and is IDENTICAL to running the band join over the
    raw corpus: docs with byte-identical text have identical shingle sets,
    hence identical signatures and buckets, so every raw-corpus pair is
    either (a) a within-group pair — Jaccard exactly 1, reconstructed from
    group membership — or (b) a cross-group pair whose metrics equal its
    canonical pair's. The collapse is what bounds the band join at scale:
    a boilerplate page with k exact copies contributes ONE row per band to
    the self-join instead of a k^2/2 bucket blow-up; the only quadratic
    left is the within-group expansion, which is output (those pairs ARE
    the answer), never wasted candidate work. Recall for the non-identical
    pairs is the LSH curve 1 - (1 - J^rows_per_band)^n_bands — tune
    bands/rows to the target threshold (2-row bands x 4 bands catches
    J >= 0.5 with ~89% per-band math; raise the permutation count for
    higher recall).
    """
    _, members = collapse_exact_dups(docs)
    canon_ids = (members.where(F.col("doc_id") == F.col("canon_id"))
                 .select("doc_id"))
    # non-canonical members: exactly the duplicate mass. Every extra join
    # below is sized by THIS table (or by the output pair list), so a
    # singleton-only corpus pays almost nothing for the collapse machinery
    # and a boilerplate-heavy corpus pays proportional to its dup mass.
    nc = members.where(F.col("doc_id") != F.col("canon_id"))
    # The shingle table feeds four consumers (signatures, both verify
    # sides, per-doc counts). Measured: persisting it costs 3.5x at sf0.1
    # (block-manager serialization beats the cheap re-derive; SCALE.md) —
    # re-confirmed in the optimization round: a lazy localCheckpoint here
    # made every jaccard_via_lsh consumer SLOWER (e.g. method census
    # 6.5 -> 8.3 s; exchange reuse already shares the explode/shuffle,
    # and the block-manager round-trip loses to re-running the reduce
    # side). At 100 TB, write shingles to scratch parquet once instead;
    # the recompute-vs-materialize point is corpus-size dependent.
    # Shingling stays full-corpus (map-side linear); only the BAND JOIN
    # input is restricted to canonical docs — where the k^2 blow-up lived.
    sh = _shingles(docs)
    buckets = (lsh_buckets(sh, rows_per_band)
               .join(canon_ids, "doc_id", "left_semi"))
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())
    # exact verify: intersect shingle sets of candidate pairs only.
    # Measured in optimization round 13: pinning SHUFFLE_HASH on the
    # verify/count joins (to stop Catalyst broadcasting the 260k-row
    # shingle table, whose broadcast subtrees re-derive the distinct
    # aggregate per join) made every consumer SLOWER at sf0.1 — census
    # 5.87 -> 6.40 s, threshold curve 2.57 -> 3.32 s, this flagship
    # 2.88 -> 3.26 s: two extra 260k-row exchanges plus the lost
    # whole-stage pipelining cost more than the cheap map-side
    # re-derivations (third such rejection after the round-7 persist and
    # round-12 localCheckpoint measurements). At 100 TB the broadcast is
    # impossible and AQE flips these to shuffle joins from real sizes —
    # the hint is only a pessimization of the small-scale plan.
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (cands.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common")))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # checkpoint the pair-sized verified list: the two-step expansion below
    # references it four times in one plan, and without truncation each
    # reference re-runs the whole candidate+verify pipeline (measured 4x
    # at sf0.1). Lazy, so plan-only consumers still pay nothing.
    canon_pairs = (inter.join(ca, "doc_a").join(cb, "doc_b")
                   .where(jac >= threshold)
                   .select("doc_a", "doc_b", "n_common",
                           pround(jac, 6).alias("jaccard"))
                   .localCheckpoint(eager=False))
    # expand canonical pairs to all member cross pairs: substitute the
    # non-canonical members side by side (b first, then a), so the joins
    # touch only canon_pairs and nc — never the full membership table.
    # least/greatest keeps the doc_a < doc_b contract; groups are
    # disjoint, so no pair repeats.
    nc_a = nc.select(F.col("canon_id").alias("doc_a"),
                     F.col("doc_id").alias("a"))
    nc_b = nc.select(F.col("canon_id").alias("doc_b"),
                     F.col("doc_id").alias("b"))
    b_exp = canon_pairs.unionByName(
        canon_pairs.join(nc_b, "doc_b")
        .select("doc_a", F.col("b").alias("doc_b"), "n_common", "jaccard"))
    full = b_exp.unionByName(
        b_exp.join(nc_a, "doc_a")
        .select(F.col("a").alias("doc_a"), "doc_b", "n_common", "jaccard"))
    cross = full.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"), "n_common", "jaccard")
    # within-group pairs: Jaccard exactly 1, n_common = the group's distinct
    # shingle count. Self-join restricted to multi-member groups (gsize >
    # 1); the inner join on `counts` drops zero-shingle groups (< 3
    # tokens), which the raw band join also never paired.
    multi = members.where(F.col("gsize") > 1)
    x = multi.select(F.col("canon_id").alias("cid"),
                     F.col("doc_id").alias("doc_a"))
    y = multi.select(F.col("canon_id").alias("cid"),
                     F.col("doc_id").alias("doc_b"))
    within = (x.join(y, "cid").where(F.col("doc_a") < F.col("doc_b"))
              .join(counts.select(F.col("doc_id").alias("cid"),
                                  F.col("n").alias("n_common")), "cid")
              .select("doc_a", "doc_b", "n_common",
                      F.lit(1.0).alias("jaccard")))
    return cross.unionByName(within)


#: SQL twins of ``minhash_band_buckets`` + the candidate equi-join (2-row
#: bands), and of the full ``jaccard_via_lsh`` verify (threshold 0.5) —
#: each fragment exists ONCE; every oracle that needs banding composes
#: these. ``_LSH_BUCKETS_SQL`` (the band-bucket CTE alone) expects
#: ``sigs`` in scope; ``_LSH_CANDS_SQL`` composes it with the
#: self-candidate join; ``_LSH_PAIRS_SQL`` additionally expects
#: ``shingles``. Oracles with a non-self candidate join (e.g. the
#: incremental delta-vs-corpus variant) interpolate ``_LSH_BUCKETS_SQL``
#: directly so a band/hash change can never leave a stale copy behind.
_LSH_BUCKETS_SQL = """
        buckets AS (
            SELECT doc_id, k // 2 AS band,
                   md5(string_agg(
                       CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), '-'
                       ORDER BY CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR)
                   )) AS bucket
            FROM sigs
            GROUP BY doc_id, band
        )
"""

_LSH_CANDS_SQL = f"""
        {_LSH_BUCKETS_SQL},
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id < b.doc_id
        )
"""

_LSH_PAIRS_SQL = f"""
        {_LSH_CANDS_SQL},
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM cands c
            JOIN shingles sa ON sa.doc_id = c.doc_a
            JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
            GROUP BY 1, 2
        ),
        shcounts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        pairs AS (
            SELECT i.doc_a, i.doc_b, i.n_common,
                   (FLOOR(i.n_common * 1.0 / (ca.n + cb.n - i.n_common)
                          * 1000000.0 + 0.5) / 1000000.0) AS jaccard
            FROM inter i
            JOIN shcounts ca ON i.doc_a = ca.doc_id
            JOIN shcounts cb ON i.doc_b = cb.doc_id
            WHERE i.n_common * 1.0 / (ca.n + cb.n - i.n_common) >= 0.5
        )
"""


@register(
    "ext_dedup_near_lsh_verified",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_PAIRS_SQL}
        SELECT doc_a, doc_b, n_common, jaccard FROM pairs
    """,
    tags=("ext", "dedup", "lsh"),
)
def ext_dedup_near_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE near-dup flagship for 100 TB: MinHash-LSH banded candidate
    generation, then exact Jaccard verification of candidates only — cost is
    bounded by the candidate count, never by the square of a hot shingle's
    frequency. Same (doc_a, doc_b, n_common, jaccard) contract as
    ``ext_dedup_near_jaccard`` (which stays as the small-sf exact demo), and
    fully hash-checked: the md5/minhash/banding algebra is replicated in the
    DuckDB oracle step for step."""
    ensure_deterministic(spark)
    return jaccard_via_lsh(table(spark, sf_dir, "documents"),
                           threshold=0.5, rows_per_band=2)


@register(
    "ext_dedup_lsh_candidates",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_CANDS_SQL}
        SELECT doc_a, doc_b FROM cands
    """,
    tags=("ext", "dedup", "lsh"),
)
def ext_dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: signatures -> band buckets -> self
    equi-join on (band, bucket). The banding algebra (portable md5 band
    keys) is deterministic, so the candidate set itself is hash-checked."""
    ensure_deterministic(spark)
    buckets = lsh_buckets(_shingles(table(spark, sf_dir, "documents")))
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"]).where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    )


@register(
    "ext_dedup_simhash",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
        ),
        bits AS (
            SELECT doc_id, j.j,
                   CASE WHEN ((CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                               % 65536) >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS vote
            FROM toks, generate_series(0, 15) j(j)
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote_sum > 0 THEN (1 << j) ELSE 0 END)
                    AS BIGINT) AS simhash16
        FROM (SELECT doc_id, j, SUM(vote) AS vote_sum FROM bits GROUP BY 1, 2)
        GROUP BY doc_id
    """,
    tags=("ext", "dedup", "simhash"),
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each distinct token votes +-1 on each bit
    of its (portable) hash; the signature bit j is the vote-sum sign. Same
    md5-based algebra as MinHash, fully hash-checked."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "").distinct())
    h16 = F.expr(_H60_RAW.format(col="tok")) % 65536
    # One pass, no bit explode: 16 conditional vote-sums per doc in a single
    # map-side-combinable groupBy (vs 16x row inflation + an extra shuffle).
    votes = toks.select("doc_id", h16.alias("h")).groupBy("doc_id").agg(*[
        F.sum(F.expr(f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END"))
        .alias(f"v{j}")
        for j in range(16)
    ])
    sig = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.cast("bigint").alias("simhash16"))


def connected_components(edges: DataFrame, vertices: DataFrame,
                         max_iter: int = 20) -> DataFrame:
    """Minimum-label propagation connected components over duplicate pairs:
    (doc_id, label) with label = min doc_id reachable through ``edges``.

    Every vertex starts labeled with its own id; each round a vertex takes
    the min of its label and its neighbors' labels until a fixpoint. Round
    count is bounded by the largest component's diameter — near-dup clusters
    are shallow (single digits) — and each round is one equi-join shuffle
    plus one scalar convergence aggregate on the driver (the same pattern
    GraphX/GraphFrames connected components uses; the scalar is a parameter
    read, not a data collect). Each generation is ``localCheckpoint``-ed:
    persisting alone keeps the full logical plan, which DOUBLES per round
    (labels feeds both join sides) and blows up Catalyst after ~10 rounds —
    checkpointing truncates lineage so every round plans against a
    materialized table. At 100 TB use a reliable ``checkpoint`` dir instead
    of local blocks, and the alternating large-star/small-star variant to
    halve the round count; min-label propagation keeps the semantics
    portable to the recursive-SQL oracle.
    """
    # materialize the edge set ONCE: every round joins against it, and
    # without this the whole upstream pipeline (e.g. LSH candidate
    # generation) re-executes per round — measured 2x on the registered
    # query at sf0.1.
    sym = (edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
           .union(edges.select(F.col("doc_b").alias("src"),
                               F.col("doc_a").alias("dst")))
           .localCheckpoint(eager=True))
    labels = vertices.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(max_iter):
        nb = (sym.join(labels.select(F.col("doc_id").alias("dst"),
                                     F.col("label").alias("nb_label")), "dst")
              .groupBy(F.col("src").alias("doc_id"))
              .agg(F.min("nb_label").alias("nb_label")))
        merged = (labels.join(nb, "doc_id", "left")
                  .select("doc_id", F.col("label").alias("old_label"),
                          F.least("label", F.coalesce("nb_label", "label"))
                          .alias("label"))
                  .localCheckpoint(eager=True))
        changed = merged.where(F.col("label") != F.col("old_label")).count()
        labels = merged.select("doc_id", "label")
        if changed == 0:
            break
    return labels


def connected_components_star(edges: DataFrame, vertices: DataFrame,
                              max_iter: int = 30) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the variant for
    ADVERSARIAL component diameters: converges in O(log^2 n) rounds where
    min-label propagation needs O(diameter). Same (doc_id, label) contract
    as :func:`connected_components` (equivalence is property-tested).

    Each star step is two shuffles and NO neighbor-list materialization:
    per-node minima come from a groupBy-min, then a join attaches the min
    back to each edge — hot hub nodes never collect their neighborhood.
    Convergence is detected by an order-independent edge-set checksum
    (sum of xxhash64 + count), the same one-pass pattern the compaction
    sink uses.
    """
    def large_star(e: DataFrame) -> DataFrame:
        sym = (e.union(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))))
        mins = (sym.groupBy("src")
                .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        return (sym.join(mins, "src")
                .where(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"))
        mins = directed.groupBy("hi").agg(F.min("lo").alias("m"))
        attached = directed.join(mins, "hi")
        return (attached.select(F.col("lo").alias("src"),
                                F.col("m").alias("dst"))
                .union(attached.select(F.col("hi").alias("src"),
                                       F.col("m").alias("dst")))
                .where(F.col("src") != F.col("dst"))
                .distinct())

    def checksum(e: DataFrame):
        row = e.select(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n")).head()
        return (row["h"], row["n"])

    e = (edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct()
         .localCheckpoint(eager=True))
    prev = checksum(e)
    converged = False
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a non-fixpoint edge set would yield silently-wrong labels
        raise RuntimeError(
            f"connected_components_star: no fixpoint in {max_iter} rounds")
    roots = e.groupBy("src").agg(F.min("dst").alias("label"))
    return (vertices.join(roots,
                          vertices["doc_id"] == roots["src"], "left")
            .select("doc_id",
                    F.coalesce("label", "doc_id").alias("label")))


@register(
    "ext_dedup_connected_components",
    oracle=f"""
        WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_PAIRS_SQL},
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(doc_id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT w.doc_id, s.dst FROM walk w JOIN sym s ON w.r = s.src
        ),
        comp AS (SELECT doc_id, MIN(r) AS canonical_id FROM walk GROUP BY doc_id),
        sizes AS (
            SELECT canonical_id, COUNT(*) AS n FROM comp GROUP BY canonical_id
        )
        SELECT c.doc_id, c.canonical_id,
               CAST(s.n AS BIGINT) AS cluster_size,
               CASE WHEN c.doc_id = c.canonical_id THEN 1 ELSE 0 END
                   AS is_canonical
        FROM comp c JOIN sizes s ON c.canonical_id = s.canonical_id
    """,
    tags=("ext", "dedup", "graph"),
)
def ext_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster closure — the step that turns pairwise near-dup
    hits into an actual dedup decision at corpus scale: LSH-verified pairs
    (Jaccard >= 0.5) are edges, connected components assign every document
    a canonical id = min doc_id of its duplicate cluster, so transitive
    chains (A~B, B~C) collapse into one cluster even though A and C never
    matched directly. Emits (doc_id, canonical_id, cluster_size,
    is_canonical) for EVERY document (singletons are their own canonical).
    Hash-checked against a recursive-CTE reachability oracle."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    pairs = jaccard_via_lsh(docs, threshold=0.5, rows_per_band=2) \
        .select("doc_a", "doc_b")
    cc = connected_components(pairs, docs.select("doc_id"))
    sizes = cc.groupBy(F.col("label").alias("canonical_id")) \
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    return (cc.select("doc_id", F.col("label").alias("canonical_id"))
            .join(sizes, "canonical_id")
            .select("doc_id", "canonical_id", "cluster_size",
                    F.when(F.col("doc_id") == F.col("canonical_id"), 1)
                    .otherwise(0).alias("is_canonical")))


@register(
    "ext_curation_pipeline",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_PAIRS_SQL},
        canon AS (
            SELECT doc_id, lang, n_chars, text
            FROM (SELECT d.*, ROW_NUMBER() OVER (
                      PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
                  ) AS rn FROM documents d)
            WHERE rn = 1
        ),
        dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        kept AS (
            SELECT c.doc_id, c.lang, c.n_chars, c.text
            FROM canon c
            WHERE c.n_chars >= 120
              AND NOT EXISTS (SELECT 1 FROM dropped x
                              WHERE x.doc_id = c.doc_id)
        ),
        staged AS (
            SELECT lang, n_chars, text,
                   {_sc.BUCKET_SQL} AS bucket
            FROM kept
        ),
        final AS (
            SELECT lang, n_chars, text,
                   {_sc.SPLIT_SQL} AS split
            FROM staged
            WHERE bucket < {_sc.RATE_SQL}
        )
        SELECT lang, split, COUNT(*) AS n_docs,
               CAST(SUM({_sc.WS_COUNT_SQL}) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM final GROUP BY lang, split
    """,
    tags=("ext", "dedup", "curation"),
)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end training-data curation composite, every stage the
    scale path, fully hash-checked: exact dedup (one fingerprint shuffle,
    min doc_id canonical) -> LSH near-dup drop (banded candidates + exact
    verify, drop each pair's higher doc_id; policy computed corpus-wide,
    so a doc is dropped even if its near-twin also lost exact dedup — its
    content is still represented by the canonical twin. The corpus-wide
    pair list is produced collapse-then-expand inside ``jaccard_via_lsh``,
    so the band join itself only ever sees one representative per
    exact-dup group — the exact-dup mass never enters the LSH candidate
    space) -> length floor
    (n_chars >= 120) -> deterministic md5 downsample + train/val/test
    split -> per-(lang, split) doc/token/char budget. A user runs ONE
    query to go from raw corpus to split-level training budgets."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    canon = (docs
             .withColumn("fingerprint", F.md5(F.lower(F.trim("text"))))
             .withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1))
    drops = (jaccard_via_lsh(docs, threshold=0.5, rows_per_band=2)
             .select(F.col("doc_b").alias("doc_id")).distinct())
    kept = (canon.join(drops, "doc_id", "left_anti")
            .where(F.col("n_chars") >= 120))
    return (kept.withColumn("bucket", _sc.bucket_col())
            .where(F.col("bucket") < _sc.rate_col())
            .withColumn("split", _sc.split_col())
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(_sc.ws_count_col().cast("long")).alias("n_tokens"),
                 F.sum("n_chars").alias("n_chars")))


@register(
    "ext_line_dedup",
    oracle="""
        WITH w AS (
            SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
        ),
        e AS (
            SELECT doc_id, lang, w,
                   unnest(range((len(w) + 7) // 8)) AS i
            FROM w
        ),
        c AS (
            SELECT doc_id, lang, CAST(i AS BIGINT) AS chunk_idx,
                   array_to_string(list_slice(w, i*8 + 1, i*8 + 8), ' ')
                       AS chunk
            FROM e
        ),
        f AS (
            SELECT chunk, MIN(doc_id * 1048576 + chunk_idx) AS first_key
            FROM c GROUP BY chunk
        ),
        j AS (
            SELECT c.lang, c.doc_id,
                   (c.doc_id * 1048576 + c.chunk_idx = f.first_key) AS kept
            FROM c JOIN f USING (chunk)
        )
        SELECT lang,
               COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_chunks,
               CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                   AS dropped_chunks,
               COUNT(DISTINCT CASE WHEN NOT kept THEN doc_id END)
                   AS n_docs_hit
        FROM j GROUP BY lang
    """,
    tags=("ext", "dedup", "text"),
)
def ext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup, the CCNet/C4 preprocessing stage: the corpus
    is cut into fixed 8-word chunks (the fixture text is a single line, so
    chunking stands in for line splitting) and every chunk that already
    occurred earlier in the corpus — ordered by (doc_id, chunk_idx) — is
    dropped; the report is the per-language chunk retention census plus how
    many documents lost at least one chunk.

    Scale shape: one explode (~n_words/8 rows), then a groupBy(chunk)
    min-key aggregate (map-side combinable — the canonical-occurrence
    argmin never materializes per-chunk groups) and a join back on the
    SAME key, so the two shuffles share a partitioning and AQE can reuse
    it. No window over the chunk key: a hot chunk (boilerplate repeated
    millions of times at 100 TB) costs one combiner cell, not a sorted
    partition. First-occurrence keys pack (doc_id, chunk_idx) into one
    int64 (doc_id * 2^20 + idx — exact while docs stay under 2^20 chunks,
    i.e. ~8M words/doc), so the argmin is a single-column MIN in both
    engines.
    """
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    chunks = (docs
              .select("doc_id", "lang", F.split("text", " ").alias("w"))
              .select("doc_id", "lang", F.explode(F.expr(
                  "transform(sequence(0, (size(w) + 7) div 8 - 1), i -> "
                  "struct(cast(i as bigint) as chunk_idx, "
                  "array_join(slice(w, i*8 + 1, 8), ' ') as chunk))"))
                  .alias("c"))
              .select("doc_id", "lang", "c.chunk_idx", "c.chunk"))
    key = F.col("doc_id") * F.lit(1048576) + F.col("chunk_idx")
    firsts = chunks.groupBy("chunk").agg(F.min(key).alias("first_key"))
    flags = (chunks.join(firsts, "chunk")
             .withColumn("kept", key == F.col("first_key")))
    return (flags.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.col("kept").cast("long")).alias("kept_chunks"),
                 F.sum((~F.col("kept")).cast("long")).alias("dropped_chunks"),
                 F.countDistinct(
                     F.when(~F.col("kept"), F.col("doc_id")))
                 .alias("n_docs_hit")))


#: Span width (in words) for repeated-substring marking — one constant
#: feeding both the Spark builder and the DuckDB oracle.
SUBSTR_N = 8


@register(
    "ext_substring_dupes",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        g AS (
            SELECT doc_id, i - 1 AS pos,
                   {" || ' ' || ".join(f"w[i+{j}]" for j in range(8))} AS g
            FROM (SELECT doc_id, w,
                         unnest(range(1, greatest(len(w) - {8 - 2}, 1))) AS i
                  FROM w)
        ),
        d AS (
            SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
            FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        j AS (SELECT g.doc_id, g.pos, d.nd FROM g LEFT JOIN d USING (g))
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(nd) AS BIGINT) AS n_dup_grams,
               CAST(FLOOR(COUNT(nd) * 1e6 * 1.0 / COUNT(*) + 5e-1)
                    AS BIGINT) AS dup_frac_q,
               CAST(COALESCE(MIN(CASE WHEN nd IS NOT NULL THEN pos END), -1)
                    AS BIGINT) AS first_dup_pos,
               CAST(COALESCE(MAX(CASE WHEN nd IS NOT NULL THEN pos + {8 - 1}
                                 END), -1) AS BIGINT) AS last_dup_end,
               CAST(COALESCE(MAX(nd), 0) AS BIGINT) AS max_share
        FROM j GROUP BY doc_id
    """,
    tags=("ext", "dedup", "substring"),
)
def ext_substring_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring marking (Lee et al. 2022, arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"): find the
    spans of each document that occur verbatim in OTHER documents — the
    marking step of exact-substring dedup, here at word-8-gram
    granularity. Emits, per document with >= 8 tokens: gram count, how
    many of its grams are shared cross-doc, the duplicated fraction
    (int-quantized), the first/last duplicated word position (the span a
    cutter would excise; -1 when clean), and the widest sharing degree.

    Scale shape: the published suffix-array pass is not relational; the
    equivalent hash pass is — one positional gram explode (x ~tokens/doc,
    inside the scan stage), a map-side-combinable two-level aggregate for
    cross-doc gram multiplicity, and one equi-join back on the gram to
    flag positions. The join fan-out per gram equals its sharing degree —
    exactly the quantity being measured, so cost is output-bounded, never
    quadratic in corpus size. Per-doc stats are one final doc_id shuffle.
    """
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    n = SUBSTR_N
    parts = ", ".join(f"w[i+{j}]" for j in range(n))
    grams = (docs.select("doc_id", F.split("text", " ").alias("w"))
             .select("doc_id", F.posexplode(F.expr(
                 f"CASE WHEN size(w) >= {n} THEN "
                 f"transform(sequence(0, size(w) - {n}), "
                 f"i -> concat_ws(' ', {parts})) "
                 "ELSE array() END")).alias("pos", "g")))
    dup = (grams.groupBy("g")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2))
    j = grams.join(dup, "g", "left")
    agg = (j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("nd").alias("n_dup_grams"),
        F.coalesce(F.min(F.when(F.col("nd").isNotNull(), F.col("pos"))),
                   F.lit(-1)).cast("long").alias("first_dup_pos"),
        F.coalesce(F.max(F.when(F.col("nd").isNotNull(),
                                F.col("pos") + F.lit(n - 1))),
                   F.lit(-1)).cast("long").alias("last_dup_end"),
        F.coalesce(F.max("nd"), F.lit(0)).cast("long").alias("max_share")))
    return agg.select(
        "doc_id", "n_grams", "n_dup_grams",
        F.floor(F.col("n_dup_grams") * F.lit(1e6) * F.lit(1.0)
                / F.col("n_grams") + F.lit(0.5)).cast("long")
        .alias("dup_frac_q"),
        "first_dup_pos", "last_dup_end", "max_share")


# --------------------------------------------------------------------------
# ext_winnowing — MOSS document fingerprinting
# --------------------------------------------------------------------------

_WINNOW_W = 4          # winnowing window, in grams
_POSBITS = 2_097_152   # 2^21: (hash, position) packed into one int64 key

_WINNOW_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
    SELECT doc_id, i - 1 AS pos,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
    FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
          FROM toks)
), hashed AS (
    SELECT doc_id, pos,
           CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
               % 2147483647 AS h
    FROM grams
), keyed AS (
    SELECT doc_id, pos, h * {_POSBITS} + ({_POSBITS} - 1 - pos) AS key,
           COUNT(*) OVER (PARTITION BY doc_id) AS m
    FROM hashed
), wmin AS (
    SELECT doc_id, m, pos,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS kmin
    FROM keyed
)
SELECT DISTINCT doc_id,
       CAST(kmin // {_POSBITS} AS BIGINT) AS fp,
       CAST({_POSBITS} - 1 - kmin % {_POSBITS} AS INT) AS fp_pos
FROM wmin WHERE pos <= greatest(m - {_WINNOW_W}, 0)
"""


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, fp_pos) winnowing fingerprints — the shared fragment
    behind ``ext_winnowing`` and ``ext_winnowing_candidates``."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    grams = toks.select(
        "doc_id",
        F.posexplode(F.expr(
            "CASE WHEN size(w) >= 3 THEN "
            "transform(sequence(0, size(w) - 3), "
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2])) "
            "ELSE array() END")).alias("pos", "g"))
    keyed = grams.select(
        "doc_id", "pos",
        (F.expr(_H64.format(col="g")) * _POSBITS
         + (_POSBITS - 1 - F.col("pos"))).alias("key"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("m"))
    wmin = keyed.select(
        "doc_id", "m", "pos",
        F.min("key").over(Window.partitionBy("doc_id").orderBy("pos")
                          .rowsBetween(0, _WINNOW_W - 1)).alias("kmin"))
    return (wmin.where(F.col("pos") <= F.greatest(F.col("m") - _WINNOW_W,
                                                  F.lit(0)))
            .select("doc_id",
                    (F.col("kmin") / _POSBITS).cast("long").alias("fp"),
                    (_POSBITS - 1 - F.col("kmin") % _POSBITS).cast("int")
                    .alias("fp_pos"))
            .distinct())


@register("ext_winnowing", oracle=_WINNOW_SQL, tags=("ext", "dedup", "text"))
def ext_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    MOSS algorithm): hash every word trigram, slide a w-gram window, keep
    the window minimum with the RIGHTMOST-position tie-break. Guarantees a
    fingerprint in every w-gram span, so any shared run of >= w+2 words
    between two documents shares a fingerprint — position-robust partial-
    overlap detection, where the shingle/MinHash family only scores whole
    documents. The tie-break is pure integer algebra: (hash, position)
    packs into one int64 key ``h * 2^21 + (2^21-1-pos)`` whose MIN is
    min-hash-then-max-position — no argmin join, one window pass.

    Scale: everything is per-document local (partitionBy doc_id); no
    cross-document shuffle at all — the fingerprint table then feeds the
    same band/bucket join machinery as MinHash. Docs shorter than w grams
    fall back to their global minimum (the standard boundary rule)."""
    ensure_deterministic(spark)
    return winnowing_fingerprints(table(spark, sf_dir, "documents"))


_FP_DF_CAP = 50  # drop fingerprints present in more than this many docs

_WINNOW_CANDS_SQL = f"""
WITH fps AS ({_WINNOW_SQL}),
dfps AS (SELECT DISTINCT doc_id, fp FROM fps),
kept AS (
    SELECT fp FROM dfps GROUP BY fp HAVING COUNT(*) <= {_FP_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM dfps a
JOIN kept k ON a.fp = k.fp
JOIN dfps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@register("ext_winnowing_candidates", oracle=_WINNOW_CANDS_SQL,
          tags=("ext", "dedup"))
def ext_winnowing_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs from shared winnowing fingerprints
    (>= 2 shared fps — the MOSS match criterion): this is what winnowing's
    positional guarantee buys over MinHash — a document that EMBEDS a
    plagiarized paragraph inside fresh text still collides on the
    paragraph's fingerprints, while its whole-document Jaccard stays low.
    Document-frequency cap (``_FP_DF_CAP`` = 50 docs) drops boilerplate
    fingerprints BEFORE the self-join — the same hot-key bound as the LSH
    band join, so the pair count is candidate-bounded, never
    O(hot-fingerprint^2). Shape: fingerprint -> equi-join -> count, all
    map-side-combinable."""
    ensure_deterministic(spark)
    # fps feeds THREE consumers (df-cap filter + both self-join sides), and
    # two of them sit under broadcast exchanges that plan as separate jobs
    # where exchange reuse does not fire — measured 3 full derivations of
    # the gram-window pipeline per run (round-13 stage profile: three
    # identical Sort/Window/Filter(245k)/HashAggregate(101k) subtrees).
    # One lazy checkpoint of the ~101k-row (doc_id, fp) table removes two
    # of them (guide §2.4; the same fix as the round-12 bigram-LM tf
    # table). Lazy, so plan-only consumers pay nothing.
    fps = (winnowing_fingerprints(table(spark, sf_dir, "documents"))
           .select("doc_id", "fp").distinct()
           .localCheckpoint(eager=False))
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
    return pairs


# --------------------------------------------------------------------------
# ext_dedup_url_canonical
# --------------------------------------------------------------------------

_URL_CANON_SQL = """
WITH variants AS (
    SELECT doc_id, unnest([
        'HTTPS://' || upper(source) || '.Example.ORG:443/docs/' || doc_id
            || '?utm_source=feed&lang=' || lang || '#sec2',
        'https://' || source || '.example.org/docs/' || doc_id || '/?lang=' || lang,
        'https://' || source || '.example.org:443/docs/' || doc_id
            || '?lang=' || lang || '&utm_campaign=x'
    ]) AS url
    FROM documents
), canon AS (
    SELECT doc_id, url,
           'https://'
           || lower(regexp_replace(regexp_extract(url, '[a-zA-Z]+://([^/]+)', 1),
                                   ':443$', ''))
           || regexp_replace(regexp_extract(url, '[a-zA-Z]+://[^/]+(/[^?#]*)', 1),
                             '/$', '')
           || '?lang=' || regexp_extract(url, '[?&]lang=([a-z]+)', 1)
               AS canonical_url
    FROM variants
)
SELECT doc_id, canonical_url, CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants
FROM canon GROUP BY 1, 2
"""


@register("ext_dedup_url_canonical", oracle=_URL_CANON_SQL,
          tags=("ext", "dedup", "url"))
def ext_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the FIRST dedup pass of every web-corpus
    pipeline (CommonCrawl re-crawls the same page under tracking-parameter,
    case, port and fragment variants; collapsing them is cheaper than any
    content hash). Three deterministic messy variants per document
    (uppercase host, :443 default port, utm_* tracking params, #fragment,
    trailing slash) are canonicalized by pure string algebra — lowercase
    host, strip default port, strip fragment, drop tracking params, trim
    the trailing slash, keep the one semantic param — and collapse 3:1.
    Row-local regexps in the scan stage; the only shuffle is the collapse
    census itself. Same rules run verbatim in the oracle (RE2-safe
    classes, per ``fn_regex``'s dialect discipline)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    variants = docs.selectExpr(
        "doc_id",
        """explode(array(
            concat('HTTPS://', upper(source), '.Example.ORG:443/docs/',
                   doc_id, '?utm_source=feed&lang=', lang, '#sec2'),
            concat('https://', source, '.example.org/docs/', doc_id,
                   '/?lang=', lang),
            concat('https://', source, '.example.org:443/docs/', doc_id,
                   '?lang=', lang, '&utm_campaign=x')
        )) AS url""")
    canon = variants.select(
        "doc_id", "url",
        F.expr("""
          concat('https://',
                 lower(regexp_replace(
                     regexp_extract(url, '[a-zA-Z]+://([^/]+)', 1),
                     ':443$', '')),
                 regexp_replace(
                     regexp_extract(url, '[a-zA-Z]+://[^/]+(/[^?#]*)', 1),
                     '/$', ''),
                 '?lang=', regexp_extract(url, '[?&]lang=([a-z]+)', 1))
        """).alias("canonical_url"))
    return (canon.groupBy("doc_id", "canonical_url")
            .agg(F.count_distinct("url").alias("n_variants")))


# --------------------------------------------------------------------------
# ext_simhash_hamming_join — Manku-style near-dup detection
# --------------------------------------------------------------------------

_SIMHASH48_BITS = 48
_SIMHASH_BANDS = 4          # pigeonhole: hamming <= 3 shares >= 1 of 4 bands
_SIMHASH_BAND_BITS = 12     # 4096 buckets per band


def simhash48_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash48, band, bucket) — the 48-bit SimHash signature
    and its 4x12-bit pigeonhole banding, shared by the hamming-join
    operator and the adversarial-skew bound tests (so the tests pin the
    candidate mass of the REAL pipeline, not a re-implementation)."""
    # NOTE (optimization round 12): spreading the single-split scan here
    # (io.spread_small_scan) measured SLOWER (hamming join 2.9 -> 3.0 s,
    # method census 6.5 -> 7.7 s) — the distinct's exchange already
    # parallelizes the vote aggregation, so the extra exchange only adds
    # cost. Same verdict as word_ngrams; left as the plain scan.
    toks = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "").distinct())
    votes = (toks.select("doc_id", F.expr(_H60_RAW.format(col="tok")).alias("h"))
             .groupBy("doc_id").agg(*[
                 F.sum(F.expr(
                     f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END"))
                 .alias(f"v{j}") for j in range(_SIMHASH48_BITS)]))
    sig = None
    for j in range(_SIMHASH48_BITS):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    # the banded signature feeds BOTH sides of the hamming equi-join, and
    # one side is a broadcast exchange planned as its own job where
    # exchange reuse does not fire — measured 2 full derivations of the
    # token-distinct + 48-vote aggregate per run (round-13 stage profile).
    # Checkpoint the per-doc signature row (ONE int64 per doc — the
    # cheapest possible cut point) so both sides re-read ~n_docs rows
    # (guide §2.4). Lazy: plan-only consumers pay nothing.
    sigs = (votes.select("doc_id", sig.cast("bigint").alias("simhash48"))
            .localCheckpoint(eager=False))
    return (sigs.select("doc_id", "simhash48",
                        F.explode(F.expr(
                            f"sequence(0, {_SIMHASH_BANDS - 1})")).alias("band"))
            .select("doc_id", "simhash48", "band",
                    F.expr(f"(simhash48 >> ({_SIMHASH_BAND_BITS} * band)) "
                           f"& {(1 << _SIMHASH_BAND_BITS) - 1}").alias("bucket")))

_HAMMING_SQL = """
WITH toks AS (
    SELECT DISTINCT doc_id, tok
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
),
bits AS (
    SELECT doc_id, j.j,
           CASE WHEN ((CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                       >> j.j) & 1) = 1 THEN 1 ELSE -1 END AS vote
    FROM toks, generate_series(0, 47) j(j)
),
sigs AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote_sum > 0 THEN (1 << j) ELSE 0 END) AS BIGINT)
               AS simhash48
    FROM (SELECT doc_id, j, SUM(vote) AS vote_sum FROM bits GROUP BY 1, 2)
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, simhash48, b.band,
           (simhash48 >> (12 * b.band)) & 4095 AS bucket
    FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash48 AS sa, b.simhash48 AS sb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
"""


@register("ext_simhash_hamming_join", oracle=_HAMMING_SQL,
          tags=("ext", "dedup", "simhash"))
def ext_simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance near-dup join over 48-bit SimHash signatures —
    Manku/Jain/Sarma's web-crawl dedup (WWW 2007): by pigeonhole, two
    signatures within hamming distance 3 agree EXACTLY on at least one of
    4 disjoint 12-bit bands, so candidates meet in a band-bucket equi-join
    (4096 buckets per band) and the exact ``bit_count(xor)`` check runs on
    candidates only — never an all-pairs scan. The wide signature matters:
    banding a 16-bit simhash gives 16-bucket bands whose fan-out is
    ~N^2/16; 12-bit bands keep buckets selective, so the join is bounded
    by the corpus's true near-dup mass (this synthetic corpus is
    template-generated and genuinely ~8% near-dup at hamming<=3).

    One groupBy computes all 48 vote-sums map-side-combinably (same
    no-bit-explode trick as ``ext_dedup_simhash``); signatures are ~one
    int64 per doc, the cheapest near-dup index in the family."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    bands = simhash48_bands(docs)
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash48").alias("sa"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash48").alias("sb"), "band", "bucket")
    # hamming filter BEFORE the dedup shuffle: a candidate pair colliding
    # in several bands would otherwise enter the distinct k times carrying
    # both 64-bit signatures; filtering first shrinks the distinct's
    # exchange to the true near-dup mass times a narrow 3-column row —
    # the shuffle that dominates this branch at scale.
    return (a.join(b, ["band", "bucket"]).where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.expr("bit_count(sa ^ sb)").alias("hamming"))
            .where(F.col("hamming") <= 3).distinct()
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("int").alias("hamming")))


# --------------------------------------------------------------------------
# ext_dedup_method_census — capstone comparison of the dedup family
# --------------------------------------------------------------------------

_METHOD_CENSUS_SQL = f"""
SELECT 'exact' AS method, n_pairs, n_docs FROM (
    WITH fp AS (
        SELECT md5(lower(trim(text))) AS fingerprint, COUNT(*) AS cnt
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT CAST(COALESCE(SUM(cnt * (cnt - 1) // 2), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_docs
    FROM fp
)
UNION ALL
SELECT 'minhash_lsh' AS method, n_pairs, n_docs FROM (
    WITH shingles AS ({_SHINGLES_SQL}),
    {_MINHASH_SIGS_SQL},
    {_LSH_PAIRS_SQL}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
                SELECT doc_a AS d FROM pairs
                UNION SELECT doc_b FROM pairs)) AS n_docs
)
UNION ALL
SELECT 'simhash_hamming' AS method, n_pairs, n_docs FROM (
    WITH h AS ({_HAMMING_SQL})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
                SELECT doc_a AS d FROM h UNION SELECT doc_b FROM h)) AS n_docs
)
UNION ALL
SELECT 'winnowing' AS method, n_pairs, n_docs FROM (
    WITH w AS ({_WINNOW_CANDS_SQL})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
                SELECT doc_a AS d FROM w UNION SELECT doc_b FROM w)) AS n_docs
)
"""


def _pair_stats(pairs: DataFrame, method: str) -> DataFrame:
    """(method, n_pairs, n_docs) in ONE consumption of the pair list: the
    endpoint explode doubles the rows (n_pairs = count/2, exact — every
    pair contributes two endpoints) so pair count and distinct touched
    docs come out of a single aggregate, with no second scan of the pair
    pipeline and no broadcast-exchange barrier."""
    e = pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
    return e.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.count_distinct("d").alias("n_docs"),
    ).select(F.lit(method).alias("method"), "n_pairs", "n_docs")


@register("ext_dedup_method_census", oracle=_METHOD_CENSUS_SQL,
          tags=("ext", "dedup", "capstone"))
def ext_dedup_method_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side census of the four near/exact-dup detectors — the audit
    a curation team runs before choosing a dedup policy: how many pairs and
    how many touched documents does each method flag on the SAME corpus?
    Exact fingerprint groups (pairs = sum C(g,2)), MinHash-LSH verified
    pairs (Jaccard >= 0.5), SimHash hamming <= 3, and winnowing shared
    fingerprints. Each branch reuses the family's registered pipeline
    verbatim, so this row IS the cross-method comparison contract: exact ⊆
    simhash-radius ⊆ LSH-candidate space orderings show up directly in the
    counts. Cost is the sum of the four pipelines — each is the
    candidate-bounded scale shape already audited in SCALE.md."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    fp = (docs.groupBy(F.md5(F.lower(F.trim("text"))).alias("fingerprint"))
          .agg(F.count(F.lit(1)).alias("cnt")).where(F.col("cnt") > 1))
    exact = fp.agg(
        F.coalesce(F.sum(F.expr("cnt * (cnt - 1) div 2")), F.lit(0))
        .alias("n_pairs"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_docs"),
    ).select(F.lit("exact").alias("method"), "n_pairs", "n_docs")
    # _pair_stats consumes each branch's pair list exactly once (endpoint
    # explode), so the branches stay independent single-pass subtrees the
    # scheduler can run concurrently — no checkpoints, no re-derivation.
    lsh = _pair_stats(
        jaccard_via_lsh(docs, threshold=0.5, rows_per_band=2)
        .select("doc_a", "doc_b"), "minhash_lsh")
    sim = _pair_stats(
        ext_simhash_hamming_join(spark, sf_dir).select("doc_a", "doc_b"),
        "simhash_hamming")
    win = _pair_stats(
        ext_winnowing_candidates(spark, sf_dir).select("doc_a", "doc_b"),
        "winnowing")
    return exact.unionByName(lsh).unionByName(sim).unionByName(win)


@register(
    "ext_dedup_soft_downweight",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, md5(lower(trim(text))) AS fingerprint
            FROM documents
        ),
        g AS (
            SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS gsize
            FROM fp GROUP BY fingerprint
        ),
        m AS (
            SELECT fp.doc_id, g.gsize,
                   ({_sc.BUCKET_SQL}) < (1000 // g.gsize) AS kept
            FROM fp JOIN g ON fp.fingerprint = g.fingerprint
        )
        SELECT gsize,
               CAST(COUNT(DISTINCT doc_id) / gsize AS BIGINT) AS n_groups,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
               (FLOOR(COUNT(CASE WHEN kept THEN 1 END) * 1.0 / COUNT(*)
                      * 1e6 + 5e-1) / 1e6) AS kept_frac
        FROM m GROUP BY gsize
    """,
    tags=("ext", "dedup", "sampling"),
)
def ext_dedup_soft_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup by survival down-weighting: instead of hard-dropping
    duplicates, each member of a g-copy exact-dup group survives with
    probability ~1/g (md5-bucket predicate < 1000 div g — deterministic,
    reproducible across engines/runs/partitionings, never an RNG), so
    each group contributes ~one expected copy while which copy survives
    stays unbiased. This is the duplication-aware sampling used when
    duplicate COUNT is itself a quality signal (pages duplicated across
    sites are often valuable boilerplate-free content) and hard
    keep-first dedup would systematically favor low doc_ids. Cost: the
    exact-dedup fingerprint shuffle plus one broadcast-sized group join;
    the census reports survival by group size."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    fp = docs.select("doc_id",
                     F.md5(F.lower(F.trim("text"))).alias("fingerprint"))
    g = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).cast("long")
                                      .alias("gsize"))
    m = (fp.join(g, "fingerprint")
         .select("doc_id", "gsize",
                 (_sc.bucket_col()
                  < F.expr("1000 div gsize")).alias("kept")))
    return (m.groupBy("gsize")
            .agg((F.count_distinct("doc_id") / F.col("gsize")).cast("long")
                 .alias("n_groups"),
                 F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count_if("kept").cast("long").alias("n_kept"),
                 pround(F.count_if("kept") * F.lit(1.0)
                        / F.count(F.lit(1)), 6).alias("kept_frac")))


@register(
    "ext_dedup_containment",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_CANDS_SQL},
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM cands c
            JOIN shingles sa ON sa.doc_id = c.doc_a
            JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
            GROUP BY 1, 2
        ),
        shcounts AS (SELECT doc_id, COUNT(*) AS n FROM shingles
                     GROUP BY doc_id)
        SELECT i.doc_a, i.doc_b, CAST(i.n_common AS BIGINT) AS n_common,
               (FLOOR(i.n_common * 1.0 / ca.n * 1e6 + 5e-1) / 1e6)
                   AS containment_a,
               (FLOOR(i.n_common * 1.0 / cb.n * 1e6 + 5e-1) / 1e6)
                   AS containment_b
        FROM inter i
        JOIN shcounts ca ON i.doc_a = ca.doc_id
        JOIN shcounts cb ON i.doc_b = cb.doc_id
        WHERE i.n_common * 1.0 / ca.n >= 8e-1
           OR i.n_common * 1.0 / cb.n >= 8e-1
    """,
    tags=("ext", "dedup", "containment"),
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder CONTAINMENT scores (|A∩B| / |A|, asymmetric) over the LSH
    candidate pairs — the detector Jaccard structurally misses: a short
    document wholly embedded in a much longer one has LOW Jaccard (union
    is the long doc) but containment ~1 on the short side. This is the
    quote/excerpt/wrapper-page case — the practical reason dedup stacks
    run containment next to resemblance (Broder 1997 defines both).
    Candidates come from the same banding as the Jaccard flagship; the
    verify joins are identical cost; only the final algebra differs
    (per-side division, quantized, >= 0.8 on EITHER side). Note the
    recall caveat inherited from symmetric MinHash: extreme length ratios
    suppress bucket collisions — at 100 TB, containment-focused pipelines
    re-band on the SHORT side's shingles (the ``ext_line_dedup`` /
    ``ext_substring_dupes`` family covers the exact variants)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    buckets = lsh_buckets(sh, rows_per_band=2)
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (cands.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont_a = F.col("n_common") / F.col("na")
    cont_b = F.col("n_common") / F.col("nb")
    return (inter.join(ca, "doc_a").join(cb, "doc_b")
            .where((cont_a >= 0.8) | (cont_b >= 0.8))
            .select("doc_a", "doc_b",
                    F.col("n_common").cast("long").alias("n_common"),
                    pround(cont_a, 6).alias("containment_a"),
                    pround(cont_b, 6).alias("containment_b")))


_DELTA_PRED = "doc_id % 19 = 2"


@register(
    "ext_dedup_incremental",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_BUCKETS_SQL},
        cands AS (
            SELECT DISTINCT d.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
            FROM buckets d
            JOIN buckets c ON d.band = c.band AND d.bucket = c.bucket
            WHERE d.doc_id % 19 = 2 AND NOT (c.doc_id % 19 = 2)
        ),
        inter AS (
            SELECT x.new_doc_id, x.corpus_doc_id, COUNT(*) AS n_common
            FROM cands x
            JOIN shingles sa ON sa.doc_id = x.new_doc_id
            JOIN shingles sb ON sb.doc_id = x.corpus_doc_id
                            AND sb.sh = sa.sh
            GROUP BY 1, 2
        ),
        shcounts AS (SELECT doc_id, COUNT(*) AS n FROM shingles
                     GROUP BY doc_id)
        SELECT i.new_doc_id, i.corpus_doc_id,
               CAST(i.n_common AS BIGINT) AS n_common,
               (FLOOR(i.n_common * 1.0 / (ca.n + cb.n - i.n_common)
                      * 1e6 + 5e-1) / 1e6) AS jaccard
        FROM inter i
        JOIN shcounts ca ON i.new_doc_id = ca.doc_id
        JOIN shcounts cb ON i.corpus_doc_id = cb.doc_id
        WHERE i.n_common * 1.0 / (ca.n + cb.n - i.n_common) >= 5e-1
    """,
    tags=("ext", "dedup", "incremental"),
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: the daily-ingest shape at 100 TB — you never
    re-dedup the whole corpus against itself; you band the NEW delta's
    signatures and join them against the EXISTING corpus's bucket index
    (here both derived from one fixture via the deterministic
    ``doc_id % 19 = 2`` delta predicate; in production the corpus side is
    a persisted signature/bucket table maintained across ingests).
    Candidates are (new x corpus) bucket collisions only — the join is
    delta-sized on one side, so nightly cost scales with the ingest, not
    the archive — then exact Jaccard verification of candidates, >= 0.5.
    Emits (new_doc_id, corpus_doc_id, n_common, jaccard): the drop/link
    list for the ingest batch."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    return incremental_pairs(docs, F.expr(_DELTA_PRED))


def incremental_pairs(docs: DataFrame, is_delta) -> DataFrame:
    """Delta-vs-corpus banded candidates + exact Jaccard verify (>= 0.5)
    — the ``ext_dedup_incremental`` dataflow over any (docs, delta
    predicate) pair, factored out so planted-data tests can pin the
    delta-side bound: candidate rows are delta-bucket collisions ONLY, so
    a hot boilerplate group living entirely in the archive contributes
    ZERO candidates (corpus x corpus collisions never form), and the
    nightly join input is sized by the ingest, not the archive."""
    sh = _shingles(docs)
    buckets = lsh_buckets(sh, rows_per_band=2)
    d = (buckets.join(docs.where(is_delta).select("doc_id"),
                      "doc_id", "left_semi")
         .select(F.col("doc_id").alias("new_doc_id"), "band", "bucket"))
    c = (buckets.join(docs.where(~is_delta).select("doc_id"),
                      "doc_id", "left_semi")
         .select(F.col("doc_id").alias("corpus_doc_id"), "band", "bucket"))
    cands = (d.join(c, ["band", "bucket"])
             .select("new_doc_id", "corpus_doc_id").distinct())
    sa = sh.select(F.col("doc_id").alias("new_doc_id"), "sh")
    sb = sh.select(F.col("doc_id").alias("corpus_doc_id"), "sh")
    inter = (cands.join(sa, "new_doc_id")
             .join(sb, ["corpus_doc_id", "sh"])
             .groupBy("new_doc_id", "corpus_doc_id")
             .agg(F.count(F.lit(1)).alias("n_common")))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(F.col("doc_id").alias("new_doc_id"),
                       F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("corpus_doc_id"),
                       F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (inter.join(ca, "new_doc_id").join(cb, "corpus_doc_id")
            .where(jac >= 0.5)
            .select("new_doc_id", "corpus_doc_id",
                    F.col("n_common").cast("long").alias("n_common"),
                    pround(jac, 6).alias("jaccard")))


@register(
    "ext_template_dedup",
    oracle="""
        WITH t AS (
            SELECT doc_id, text,
                   md5(regexp_replace(text, '[0-9]+', '#', 'g'))
                       AS template_fp
            FROM documents
        ),
        g AS (
            SELECT template_fp,
                   CAST(COUNT(*) AS BIGINT) AS n_instances,
                   CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_raw
            FROM t GROUP BY template_fp
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_templates,
               CAST(SUM(n_instances) AS BIGINT) AS n_docs,
               CAST(SUM(n_instances) - COUNT(*) AS BIGINT) AS n_collapsed,
               CAST(COUNT(CASE WHEN n_instances > 1 THEN 1 END) AS BIGINT)
                   AS n_families,
               CAST(COALESCE(SUM(CASE WHEN n_instances > 1
                                      THEN n_instances END), 0) AS BIGINT)
                   AS docs_in_families,
               CAST(MAX(n_instances) AS BIGINT) AS largest_family
        FROM g
    """,
    tags=("ext", "dedup", "template"),
)
def ext_template_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-skeleton dedup — catches the machine-generated near-dup
    class that token-level methods pay k^2 candidates for: mask the
    variable spans (digit runs -> '#', the character-class-only regex both
    engines' dialects agree on), fingerprint the skeleton, and census the
    multi-instantiation templates (boilerplate pages differing only in
    ids, timestamps, counters). The one-row census (template count,
    collapsed-doc count, family sizes) is the policy-decision number; the
    per-family drop list is the same ``g`` table filtered to
    n_instances > 1. One row-local regex + md5 in whole-stage codegen and
    one fingerprint shuffle — the same cost class as exact dedup, at any
    corpus size."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace("text", "[0-9]+", "#"))
    g = (docs.select("doc_id", "text", fp.alias("template_fp"))
         .groupBy("template_fp")
         .agg(F.count(F.lit(1)).cast("long").alias("n_instances"),
              F.count_distinct("text").cast("long").alias("n_distinct_raw")))
    multi = F.col("n_instances") > 1
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_templates"),
        F.sum("n_instances").cast("long").alias("n_docs"),
        (F.sum("n_instances") - F.count(F.lit(1))).cast("long")
        .alias("n_collapsed"),
        F.count_if(multi).cast("long").alias("n_families"),
        F.coalesce(F.sum(F.when(multi, F.col("n_instances"))), F.lit(0))
        .cast("long").alias("docs_in_families"),
        F.max("n_instances").cast("long").alias("largest_family"))


@register(
    "ext_dedup_threshold_curve",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_PAIRS_SQL},
        thr(t) AS (VALUES (CAST(5e-1 AS DOUBLE)), (CAST(7e-1 AS DOUBLE)),
                          (CAST(9e-1 AS DOUBLE)))
        SELECT thr.t AS threshold,
               CAST(COUNT(p.doc_a) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT p.doc_b) AS BIGINT) AS n_docs_dropped
        FROM thr LEFT JOIN pairs p ON p.jaccard >= thr.t
        GROUP BY thr.t
    """,
    tags=("ext", "dedup", "audit"),
)
def ext_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate-versus-threshold curve — the audit a curation team runs
    BEFORE fixing a near-dup policy: for each candidate Jaccard threshold
    (0.5 / 0.7 / 0.9), how many verified pairs survive and how many
    documents would the drop-higher-doc_id policy remove? One LSH +
    exact-verify pass at the loosest threshold feeds every point on the
    curve (tighter thresholds are filters over the same pair list —
    checkpointed, never recomputed), so the whole curve costs one
    candidate-bounded pipeline plus a 3-row broadcast inequality join
    over the pair-sized list. Join shape matters at scale: the PAIRS side
    streams and the 3-row threshold table is the broadcast build side (an
    inner inequality join — Spark cannot broadcast the preserved side of
    a left-outer, which would invert the broadcast onto the pair list);
    thresholds that match zero pairs are restored by a 3-row equi
    left-join afterwards."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    pairs = (jaccard_via_lsh(docs, threshold=0.5, rows_per_band=2)
             .select("doc_a", "doc_b", "jaccard")
             .localCheckpoint(eager=False))
    thr = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.7), F.lit(0.9)))
        .alias("threshold"))
    counts = (pairs.join(F.broadcast(thr),
                         F.col("jaccard") >= F.col("threshold"), "inner")
              .groupBy("threshold")
              .agg(F.count("doc_a").alias("n_pairs"),
                   F.count_distinct("doc_b").alias("n_docs_dropped")))
    return (thr.join(counts, "threshold", "left")
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce("n_docs_dropped", F.lit(0)).cast("long")
                    .alias("n_docs_dropped")))


# --------------------------------------------------------------------------
# ext_dedup_resolution — which document survives each cluster
# --------------------------------------------------------------------------

_RESOLUTION_SQL = f"""
WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
{_MINHASH_SIGS_SQL},
{_LSH_PAIRS_SQL},
sym AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT w.doc_id, s.dst FROM walk w JOIN sym s ON w.r = s.src
),
comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM walk GROUP BY doc_id),
ranked AS (
    SELECT c.cluster_id, c.doc_id, d.n_chars,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY d.n_chars DESC, c.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
    FROM comp c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT cluster_id, doc_id AS survivor_doc_id,
       CAST(n_chars AS BIGINT) AS survivor_chars,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1 AND cluster_size > 1
"""


@register("ext_dedup_resolution", oracle=_RESOLUTION_SQL,
          tags=("ext", "dedup", "graph"))
def ext_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RESOLUTION — the decision step after clustering: in each
    near-dup cluster, which single document survives? Survivor = most
    content (n_chars), doc_id ascending as the total-order tie-break —
    the "keep the longest" policy most curation stacks default to
    (SemDeDup and FineWeb both resolve clusters this way). Reuses the
    connected-components closure verbatim, then one window rank per
    cluster; only multi-document clusters are reported (the actionable
    drop list: cluster sizes sum minus survivors = documents removed).
    Cluster-bounded cost on top of the candidate-bounded pair list."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    comp = ext_dedup_connected_components(spark, sf_dir).select(
        "doc_id", F.col("canonical_id").alias("cluster_id"))
    ranked = (comp.join(docs.select("doc_id", "n_chars"), "doc_id")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("cluster_id")
                  .orderBy(F.desc("n_chars"), "doc_id")))
              .withColumn("cluster_size", F.count(F.lit(1)).over(
                  Window.partitionBy("cluster_id"))))
    return (ranked.where((F.col("rn") == 1) & (F.col("cluster_size") > 1))
            .select("cluster_id",
                    F.col("doc_id").alias("survivor_doc_id"),
                    F.col("n_chars").cast("long").alias("survivor_chars"),
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    (F.col("cluster_size") - 1).cast("long").alias("n_dropped")))


# --------------------------------------------------------------------------
# ext_dedup_bloom_gate — approximate-membership pre-filter for ingest
# --------------------------------------------------------------------------

#: Bloom geometry: 65536 bits as 2048 x 32-bit words — ~13 bits/key at
#: the sf0.1 archive size, the production ~10 bits/key regime. 32-bit
#: words keep every mask < 2^31 so the bit algebra never touches the
#: sign bit in either engine; 3 hash functions derived from
#: md5(fingerprint || ':' || j).
_BLOOM_BITS = 65536
_BLOOM_WORD_BITS = 32
_BLOOM_K = 3

_BLOOM_GATE_SQL = f"""
    WITH fps AS (
        SELECT doc_id, ({_DELTA_PRED}) AS is_delta,
               md5(lower(trim(text))) AS fp
        FROM documents
    ),
    corpus_fps AS (SELECT DISTINCT fp FROM fps WHERE NOT is_delta),
    positions AS (
        SELECT fp, j.j,
               CAST(concat('0x', substr(md5(fp || ':' || CAST(j.j AS VARCHAR)),
                                        1, 8)) AS BIGINT) % {_BLOOM_BITS} AS p
        FROM corpus_fps, generate_series(0, {_BLOOM_K - 1}) j(j)
    ),
    filt AS (
        SELECT p // {_BLOOM_WORD_BITS} AS word,
               bit_or(CAST(1 AS BIGINT) << (p % {_BLOOM_WORD_BITS})) AS bits
        FROM positions GROUP BY 1
    ),
    probes AS (
        SELECT f.doc_id, f.fp, j.j,
               CAST(concat('0x', substr(md5(f.fp || ':' ||
                                            CAST(j.j AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_BLOOM_BITS} AS p
        FROM fps f, generate_series(0, {_BLOOM_K - 1}) j(j)
        WHERE f.is_delta
    ),
    hits AS (
        SELECT pr.doc_id, pr.fp,
               bool_and(COALESCE(
                   (fl.bits & (CAST(1 AS BIGINT) << (pr.p % {_BLOOM_WORD_BITS})))
                       = (CAST(1 AS BIGINT) << (pr.p % {_BLOOM_WORD_BITS})), FALSE))
                   AS flagged
        FROM probes pr
        LEFT JOIN filt fl ON pr.p // {_BLOOM_WORD_BITS} = fl.word
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT h.doc_id, h.flagged, (c.fp IS NOT NULL) AS is_dup
        FROM hits h LEFT JOIN corpus_fps c ON h.fp = c.fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_delta,
           CAST(COUNT(CASE WHEN flagged THEN 1 END) AS BIGINT) AS n_flagged,
           CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_true_dup,
           CAST(COUNT(CASE WHEN flagged AND NOT is_dup THEN 1 END) AS BIGINT)
               AS n_false_pos,
           CAST(COUNT(CASE WHEN is_dup AND NOT flagged THEN 1 END) AS BIGINT)
               AS n_missed
    FROM truth
"""


@register("ext_dedup_bloom_gate", oracle=_BLOOM_GATE_SQL,
          tags=("ext", "dedup", "incremental", "sketch"))
def ext_dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admission gate for incremental ingest — the cheap
    approximate-membership test a 100 TB pipeline runs BEFORE the exact
    (``ext_dedup_incremental``) pass: build a bitset over the archive's
    exact-text fingerprints (65536 bits as 32-bit words, 3
    md5-derived hash functions — deterministic, engine-portable integer
    algebra, never a JVM-private sketch format), broadcast it, and flag
    each delta document whose 3 bits are all set. Only flagged docs
    proceed to exact verification, so the expensive membership join is
    sized by (true dups + false positives), not the ingest. The census
    reports the gate's confusion counts; ``n_missed`` is structurally 0 —
    a Bloom filter has no false negatives, and the query proves it on
    real data. The 65536-bit geometry sits in the
    production ~10-bits/key regime at the sf0.1 archive size, so the
    census shows a realistic sub-percent false-positive row (and the
    filter saturating at larger corpora shows up as FP growth — the
    signal to re-size).

    Scale shape: build = one map-side ``bit_or`` aggregation over the
    archive (mergeable, any partitioning); the filter table is <=2048 rows,
    broadcast; probing is a map pass over the delta. No shuffle touches
    document text."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    return bloom_gate_census(docs, F.expr(_DELTA_PRED))


def bloom_gate_census(docs: DataFrame, is_delta) -> DataFrame:
    """The ``ext_dedup_bloom_gate`` dataflow over any (docs, delta
    predicate) pair — factored out so planted-data tests can pin the
    no-false-negative contract (a planted exact dup in the delta MUST be
    flagged) independently of the fixture corpus."""
    fp = F.md5(F.lower(F.trim("text")))
    fps = docs.select("doc_id", is_delta.alias("is_delta"), fp.alias("fp"))
    corpus_fps = (fps.where(~F.col("is_delta")).select("fp").distinct()
                  .localCheckpoint(eager=False))
    j = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("j")
    pos = F.expr(
        f"cast(conv(substring(md5(concat(fp, ':', cast(j as string))), 1, 8),"
        f" 16, 10) as bigint) % {_BLOOM_BITS}")
    filt = (corpus_fps.select("fp", j).select("fp", "j", pos.alias("p"))
            .groupBy((F.col("p") / _BLOOM_WORD_BITS).cast("long")
                     .alias("word"))
            .agg(F.bit_or(F.expr(
                f"shiftleft(cast(1 as bigint), "
                f"cast(p % {_BLOOM_WORD_BITS} as int))")).alias("bits")))
    probes = (fps.where("is_delta").select("doc_id", "fp", j)
              .select("doc_id", "fp", "j", pos.alias("p"))
              .withColumn("word", (F.col("p") / _BLOOM_WORD_BITS)
                          .cast("long"))
              .withColumn("mask", F.expr(
                  f"shiftleft(cast(1 as bigint), "
                  f"cast(p % {_BLOOM_WORD_BITS} as int))")))
    hits = (probes.join(F.broadcast(filt), "word", "left")
            .groupBy("doc_id", "fp")
            .agg(F.bool_and(F.coalesce(
                F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"),
                F.lit(False))).alias("flagged")))
    truth = (hits.join(corpus_fps.select(F.col("fp"),
                                         F.lit(True).alias("is_dup")),
                       "fp", "left")
             .select("doc_id", "flagged",
                     F.coalesce("is_dup", F.lit(False)).alias("is_dup")))
    return truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_delta"),
        F.count_if("flagged").cast("long").alias("n_flagged"),
        F.count_if("is_dup").cast("long").alias("n_true_dup"),
        F.count_if(F.col("flagged") & ~F.col("is_dup")).cast("long")
        .alias("n_false_pos"),
        F.count_if(F.col("is_dup") & ~F.col("flagged")).cast("long")
        .alias("n_missed"))


# --------------------------------------------------------------------------
# ext_cdc_chunking — content-defined chunking (rolling-boundary dedup)
# --------------------------------------------------------------------------

_CDC_GRAM, _CDC_MOD = 8, 32

_CDC_SQL = f"""
WITH pos AS (
    SELECT doc_id, text, n_chars,
           unnest(range(1, greatest(CAST(n_chars AS BIGINT) - {_CDC_GRAM}
                                    + 1, 1) + 1)) AS i
    FROM documents
),
bounds AS (
    SELECT doc_id, text, n_chars, CAST(i AS BIGINT) AS b
    FROM pos
    WHERE i = 1
       OR CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT),
                                              {_CDC_GRAM})), 1, 15))
               AS BIGINT) % {_CDC_MOD} = 0
),
chunks AS (
    SELECT doc_id, b,
           COALESCE(lead(b) OVER (PARTITION BY doc_id ORDER BY b),
                    n_chars + 1) - b AS clen,
           md5(substr(text, CAST(b AS INT),
                      CAST(COALESCE(lead(b) OVER (PARTITION BY doc_id
                                                  ORDER BY b),
                                    n_chars + 1) - b AS INT))) AS fp
    FROM bounds
),
census AS (
    SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
    FROM chunks GROUP BY 1
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(c.clen) AS BIGINT) AS total_len,
       CAST((2000000 * SUM(c.clen) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS mean_chunk_len_micro,
       CAST(SUM(CASE WHEN s.n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_chunks
FROM chunks c JOIN census s ON c.fp = s.fp
GROUP BY 1
"""


@register("ext_cdc_chunking", oracle=_CDC_SQL, tags=("ext", "dedup"))
def ext_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS rolling-boundary idea,
    Muthitacharoen et al. 2001): cut every document where the hash of
    the local 8-gram lands in a fixed residue class (1-in-32), so chunk
    boundaries are decided by CONTENT, not offset — insert one word at
    the top of a page and all downstream chunk fingerprints still
    match, which positional/shingle schemes lose. Per doc: chunk count,
    exact mean chunk length, and how many of its chunks also occur in
    other documents (the byte-range dedup signal backup stores and
    CommonCrawl WARC dedup rely on).

    Portability: the boundary predicate reuses the repo's one md5→int
    algebra (sampling_common.py) on identical substrings; lengths and
    the shared-chunk census are exact integers; the mean is the
    ``(2·10⁶·Σ + n) div 2n`` integer permicro form.

    Scale shape: the position explode is the honest Catalyst lowering
    at fixture scale (n_chars ≤ ~550); at 100 TB you run the identical
    boundary predicate as a byte-stream rolling hash inside
    ``mapInPandas`` (one pass, no explode) and keep THIS op's
    chunk-census shape: one doc_id window, one fingerprint-keyed
    count, one doc_id re-aggregation — all map-side-combinable
    shuffles on bounded keys."""
    ensure_deterministic(spark)
    from project_etl_spark.io import spread_small_scan

    # ~2.7M positions x one md5 each out of a single-split scan ran as
    # ONE 2.7 s task (optimization round 12); the scan has exactly one
    # downstream consumer, so spreading it across cores costs one tiny
    # exchange and parallelizes the whole rolling-hash pass (identity
    # at 100 TB where the scan is already thousands of splits).
    docs = spread_small_scan(table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.col("n_chars").cast("long").alias("n_chars")))
    pos = docs.select(
        "doc_id", "text", "n_chars",
        F.explode(F.sequence(
            F.lit(1).cast("long"),
            F.greatest(F.col("n_chars") - F.lit(_CDC_GRAM) + 1,
                       F.lit(1).cast("long")))).alias("i"))
    gram_hash = F.expr(
        f"cast(conv(substring(md5(substring(text, cast(i as int),"
        f" {_CDC_GRAM})), 1, 15), 16, 10) as bigint) % {_CDC_MOD}")
    bounds = (pos.where((F.col("i") == 1) | (gram_hash == 0))
              .select("doc_id", "text", "n_chars",
                      F.col("i").alias("b")))
    w = Window.partitionBy("doc_id").orderBy("b")
    clen = (F.coalesce(F.lead("b").over(w), F.col("n_chars") + 1)
            - F.col("b"))
    chunks = bounds.select(
        "doc_id", "b", clen.alias("clen"),
        F.md5(F.expr("substring(text, cast(b as int), cast("
                     "coalesce(lead(b) over (partition by doc_id order by"
                     " b), n_chars + 1) - b as int))")).alias("fp"))
    census = (chunks.groupBy("fp")
              .agg(F.count_distinct("doc_id").cast("long")
                   .alias("n_docs_with")))
    return (chunks.join(census, "fp")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum("clen").cast("long").alias("total_len"),
                 F.expr("(2000000 * sum(clen) + count(1))"
                        " div (2 * count(1))")
                 .alias("mean_chunk_len_micro"),
                 F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
                 .cast("long").alias("n_shared_chunks")))


# --------------------------------------------------------------------------
# The persisted dedup fragment index (SCALE.md's 100 TB prescription as
# code): sink_dedup_index builds it, ext_dedup_census_indexed consumes it.
# --------------------------------------------------------------------------

#: SQL twins of the four index fragments, recomputed from ``documents`` —
#: the manifest/consumer oracles validate the PERSISTED content against
#: this recomputation end-to-end. ``_IDX_SH60_SQL`` expects ``shingles``
#: (canonical-corpus n-grams) in scope; ``_IDX_SIGS_SQL`` expects
#: ``sh60``.
_IDX_MEMBERS_SQL = """
        members AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id,
                   CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS INT)
                       AS gsize
            FROM documents
        )
"""

_IDX_DOCSC_SQL = """
        docs_c AS (
            SELECT d.doc_id, d.text
            FROM documents d
            JOIN members m ON d.doc_id = m.doc_id AND m.doc_id = m.canon_id
        )
"""

_IDX_SH60_SQL = """
        sh60 AS (
            SELECT DISTINCT doc_id,
                   CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
                       AS h60
            FROM shingles
        )
"""

_IDX_SIGS_SQL = f"""
        sigs AS (
            SELECT doc_id, p.k,
                   MIN((p.a * (h60 % 2147483647) + p.b) % 2147483647)
                       AS minhash
            FROM sh60, (VALUES {_minhash_sql_values()}) p(k, a, b)
            GROUP BY doc_id, p.k
        )
"""


def _idx_rowstr_sql(cols: tuple[str, ...]) -> str:
    joined = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return (f"bit_xor(CAST(concat('0x', substr(md5({joined}), 1, 15))"
            " AS BIGINT))")


_SINK_INDEX_SQL = f"""
WITH {_IDX_MEMBERS_SQL},
{_IDX_DOCSC_SQL},
shingles AS ({{shingles}}),
{_IDX_SH60_SQL},
{_IDX_SIGS_SQL},
{_LSH_BUCKETS_SQL}
SELECT 'members' AS fragment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       {_idx_rowstr_sql(('doc_id', 'canon_id', 'gsize'))} AS checksum
FROM members
UNION ALL
SELECT 'shingle_hashes', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       {_idx_rowstr_sql(('doc_id', 'h60'))}
FROM sh60
UNION ALL
SELECT 'signatures', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       {_idx_rowstr_sql(('doc_id', 'k', 'minhash'))}
FROM sigs
UNION ALL
SELECT 'band_buckets', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_id) AS BIGINT),
       {_idx_rowstr_sql(('doc_id', 'band', 'bucket'))}
FROM buckets
""".format(shingles=ngrams_sql(3, "docs_c"))


#: The four audited fragments of the persisted dedup index, each with the
#: columns its manifest row hashes (``_fragment_stats``). The fifth
#: fragment, ``signatures_wide``, is the unaudited source that
#: ``signatures`` and ``band_buckets`` are projected from.
INDEX_FRAGMENTS = {
    "members": ("doc_id", "canon_id", "gsize"),
    "shingle_hashes": ("doc_id", "h60"),
    "signatures": ("doc_id", "k", "minhash"),
    "band_buckets": ("doc_id", "band", "bucket"),
}


def _parallel_writes(*thunks) -> None:
    """Run independent write actions concurrently from driver threads
    (guide §2.6): sibling fragment writes that each read only PERSISTED
    parents have no mutual dependency, so the later job's tasks back-fill
    executor slots freed by the earlier job's tail instead of waiting for
    a full barrier per write. Every write finishes before this returns;
    the first failure in submission order is raised, and each later one
    is attached to it as a note instead of being lost."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    for later in errors[1:]:
        errors[0].add_note(f"a sibling write also failed: {later!r}")
    if errors:
        raise errors[0]


def _write_projections(spark: SparkSession, paths: dict[str, str]) -> None:
    """Write the two audited views of the persisted ``signatures_wide``
    fragment: row-form ``signatures`` and the flagship ``band_buckets``
    (rows_per_band=2). Both are per-row projections of the wide row and
    neither reads the other, so their write jobs overlap."""
    wide = spark.read.parquet(paths["signatures_wide"])
    _parallel_writes(
        lambda: (signatures_from_wide(wide)
                 .write.mode("overwrite").parquet(paths["signatures"])),
        lambda: (band_buckets_from_wide(wide, 2)
                 .write.mode("overwrite").parquet(paths["band_buckets"])))


def _rekey(df: DataFrame, rekey: DataFrame,
           dead: DataFrame | None = None) -> DataFrame:
    """``df`` with each canonical doc_id in the broadcast ``rekey`` map
    (old, new) moved to its new id, after dropping the rows of the
    ``dead`` doc_ids. Text is byte-identical within a duplicate group, so
    only the key changes; every other column passes through."""
    if dead is not None:
        df = df.join(F.broadcast(dead), "doc_id", "left_anti")
    return (df.join(F.broadcast(rekey), df["doc_id"] == F.col("old"), "left")
            .select(F.coalesce("new", "doc_id").alias("doc_id"),
                    *[c for c in df.columns if c != "doc_id"]))


def build_dedup_index(spark: SparkSession, docs: DataFrame,
                      base: str) -> dict[str, str]:
    """Materialize the shared dedup fragment index to columnar scratch —
    the maintenance job SCALE.md prescribes for 100 TB, where every LSH
    consumer (flagship, census, band sweep, pagerank/recursive-CTE edge
    lists, resolution, incremental) re-deriving the shingle/signature
    pipeline per query stops being free. Five fragments, each written
    ONCE and derived from a PERSISTED parent (the corpus-scale shingling
    pass runs exactly once per build):

      members/         (doc_id, canon_id, gsize) exact-raw-text groups —
                       the collapse table that bounds every band join
      shingle_hashes/  (doc_id, h60) DISTINCT 60-bit trigram hashes of
                       CANONICAL docs only (collapsed members add no
                       information: byte-identical text, identical sets);
                       hashes, never strings — verify joins shuffle 16
                       bytes/row instead of raw shingle text
      signatures_wide/ (doc_id, m0..m7) ONE row per doc — the wide
                       MinHash signature (optimization round 13): banding
                       over it is a pure projection, so rebanding the
                       index (band sweeps, census audits) costs a
                       columnar scan instead of a collect_list shuffle
                       of the row-form table (guide §2.4); derived from
                       persisted shingle_hashes in one map-side-
                       combinable aggregate
      signatures/      (doc_id, k, minhash) — the row-form audit view,
                       now a posexplode PROJECTION of the persisted wide
                       fragment (same rows as the historical
                       explode-then-agg derivation; `minhash_from_hashes`
                       is literally wide + posexplode)
      band_buckets/    (doc_id, band, bucket), rows_per_band=2 (the
                       flagship banding) — a projection of the persisted
                       wide fragment (`band_buckets_from_wide`,
                       byte-identical buckets by the round-12 pinned
                       equivalence)

    At 100 TB the parquet writes would be bucketed-by doc_id table writes
    (co-located downstream joins) on reliable storage with partition
    overwrite per ingest batch; the fragment DAG and per-fragment schemas
    are exactly these. The manifest contract (the four audited fragments
    and their checksums) is unchanged; the wide fragment is an internal
    layout whose content is certified transitively — both audited
    signature/bucket fragments are pure projections of it. Returns
    {fragment: path}."""
    import os

    paths = {k: os.path.join(base, k)
             for k in (*INDEX_FRAGMENTS, "signatures_wide")}
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    # fp is stored alongside the membership so a later incremental merge
    # (sink_dedup_index_merge) can group-match a delta batch WITHOUT
    # re-fingerprinting the archive text (manifest checksums exclude it)
    (fp.select("doc_id", "fp",
               F.min("doc_id").over(w).alias("canon_id"),
               F.count(F.lit(1)).over(w).cast("int").alias("gsize"))
     .write.mode("overwrite").parquet(paths["members"]))
    members = spark.read.parquet(paths["members"])
    canon = (members.where(F.col("doc_id") == F.col("canon_id"))
             .select("doc_id"))
    sh = word_ngrams(docs.join(canon, "doc_id", "left_semi"))
    (sh.select("doc_id", F.expr(_H60_RAW.format(col="sh")).alias("h60"))
     .distinct()
     .write.mode("overwrite").parquet(paths["shingle_hashes"]))
    sh60 = spark.read.parquet(paths["shingle_hashes"])
    (minhash_wide(sh60.select("doc_id", (F.col("h60") % P).alias("h")))
     .write.mode("overwrite").parquet(paths["signatures_wide"]))
    _write_projections(spark, paths)
    return paths


def _fragment_stats(df: DataFrame, name: str,
                    cols: tuple[str, ...]) -> DataFrame:
    """(fragment, n_rows, n_docs, checksum) over one PERSISTED fragment.
    The checksum is an order-independent XOR of a portable 60-bit row
    hash — exact integers, so any reorder/merge plan agrees — which the
    oracle recomputes from ``documents`` from scratch: a single flipped
    bit anywhere in the persisted index fails the hash check."""
    rowstr = F.concat_ws(":", *[F.col(c).cast("string") for c in cols])
    return (df.select(F.col(cols[0]).alias("doc_id"),
                      F.conv(F.substring(F.md5(rowstr), 1, 15), 16, 10)
                      .cast("long").alias("rh"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.count_distinct("doc_id").cast("long").alias("n_docs"),
                 F.expr("bit_xor(rh)").alias("checksum"))
            .select(F.lit(name).alias("fragment"), "n_rows", "n_docs",
                    "checksum"))


def index_manifest(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """The index's audit manifest: one ``_fragment_stats`` row per
    audited fragment (``INDEX_FRAGMENTS``), each read back from its
    PERSISTED parquet."""
    from functools import reduce

    return reduce(DataFrame.unionByName, [
        _fragment_stats(spark.read.parquet(paths[name]), name, cols)
        for name, cols in INDEX_FRAGMENTS.items()])


@register("sink_dedup_index", oracle=_SINK_INDEX_SQL,
          tags=("ext", "dedup", "sink", "index"))
def sink_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted dedup fragment index (``build_dedup_index``)
    and return its audit manifest: per-fragment row count, distinct-doc
    count, and an order-independent XOR content checksum, each computed
    by READING THE PERSISTED PARQUET BACK — the oracle recomputes all
    four fragments from ``documents`` in DuckDB, so the hash check
    certifies the round-tripped index content, not just the plan.

    This is the maintenance operator the LSH family's SCALE.md notes
    kept prescribing in prose: at 100 TB you run it per ingest batch and
    every dedup consumer reads columnar fragments instead of re-deriving
    the shingle pipeline. At sf0.1 the build is ~4 s (the measured
    recompute-vs-materialize crossover numbers live in SCALE.md)."""
    from project_etl_spark.io import scratch_dir

    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    return index_manifest(
        spark, build_dedup_index(spark, docs, scratch_dir("dedup_index")))


def _census_indexed_block(rows: int) -> str:
    return f"""
SELECT {8 // rows} AS n_bands, {rows} AS rows_per_band, n_candidates,
       n_verified
FROM (
    WITH {_IDX_MEMBERS_SQL},
    {_IDX_DOCSC_SQL},
    shingles AS ({ngrams_sql(3, "docs_c")}),
    {_IDX_SH60_SQL},
    {_IDX_SIGS_SQL},
    buckets AS (
        SELECT doc_id, k // {rows} AS band,
               md5(string_agg(
                   CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), '-'
                   ORDER BY CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR)
               )) AS bucket
        FROM sigs
        GROUP BY doc_id, band
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cands c
        JOIN sh60 sa ON sa.doc_id = c.doc_a
        JOIN sh60 sb ON sb.doc_id = c.doc_b AND sb.h60 = sa.h60
        GROUP BY 1, 2
    ),
    cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh60 GROUP BY doc_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM inter i
            JOIN cnts ca ON i.doc_a = ca.doc_id
            JOIN cnts cb ON i.doc_b = cb.doc_id
            WHERE i.n_common * 1.0 / (ca.n + cb.n - i.n_common) >= 0.5)
               AS n_verified
)
"""


_CENSUS_INDEXED_SQL = "\nUNION ALL\n".join(
    _census_indexed_block(r) for r in (1, 2, 4))


@register("ext_dedup_census_indexed", oracle=_CENSUS_INDEXED_SQL,
          tags=("ext", "dedup", "lsh", "index"))
def ext_dedup_census_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-sweep/census run OFF the persisted fragment index: build
    the index once (one shingling pass total), then answer the
    banding-design question — candidates and exact-verified pairs
    (hashed-shingle Jaccard >= 0.5) for 8x1 / 4x2 / 2x4 bandings — with
    every branch reading the columnar ``signatures`` / ``shingle_hashes``
    fragments instead of re-deriving the pipeline per banding (the
    re-derivation ``ext_lsh_band_sweep`` pays by design, kept as the
    recompute twin for the crossover measurement in SCALE.md).

    Two deliberate contract differences from ``ext_lsh_band_sweep``,
    both the 100 TB shape: the sweep runs over the CANONICAL corpus
    (exact-dup groups collapsed before any band join — the hot-bucket
    bound), and verification intersects 60-bit shingle HASHES, not
    shingle strings (16 bytes/row through the verify shuffle; a cross-doc
    h60 collision needs ~2^30 distinct shingles per doc pair). The
    DuckDB oracle mirrors both choices exactly, so all three rows stay
    hash-checked."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    from project_etl_spark.io import scratch_dir

    paths = build_dedup_index(spark, docs, scratch_dir("dedup_index"))
    sh60 = spark.read.parquet(paths["shingle_hashes"])
    wide = spark.read.parquet(paths["signatures_wide"])
    counts = sh60.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    out = None
    for rows in (1, 2, 4):
        # non-flagship bandings are pure projections of the persisted
        # WIDE signature fragment (optimization round 13): no
        # collect_list shuffle per banding, byte-identical buckets
        # (round-12 pinned equivalence).
        buckets = (spark.read.parquet(paths["band_buckets"]) if rows == 2
                   else band_buckets_from_wide(wide, rows))
        # the index fragments are small parquet files, so Catalyst's
        # size estimate would broadcast the bucket self-join and run the
        # candidate explosion at the file's partitioning — a bottleneck
        # at 10x (measured on the sibling sweep: 1095s -> 381s at the
        # sf1 fixture, SCALE_SF1.json). Pin the shuffle join; the
        # candidate list feeds two consumers (count + verify), so
        # materialize it eagerly and reuse one partitioned copy.
        # (Round 13 re-measured eager-vs-lazy back to back: no stable
        # wall difference (6.34 vs 6.41 s medians) — the three checkpoint
        # barriers cost about what the blind-size downstream planning of
        # the lazy form loses. Eager kept for the known-size planning.)
        buckets = buckets.hint("shuffle_hash")
        a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        cands = (a.join(b, ["band", "bucket"])
                 .where(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b").distinct()
                 .localCheckpoint(eager=True))
        inter = (cands
                 .join(sh60.select(F.col("doc_id").alias("doc_a"), "h60"),
                       "doc_a")
                 .join(sh60.select(F.col("doc_id").alias("doc_b"), "h60"),
                       ["doc_b", "h60"])
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("n_common")))
        jac = (F.col("n_common")
               / (F.col("na") + F.col("nb") - F.col("n_common")))
        verified = (inter
                    .join(counts.select(F.col("doc_id").alias("doc_a"),
                                        F.col("n").alias("na")), "doc_a")
                    .join(counts.select(F.col("doc_id").alias("doc_b"),
                                        F.col("n").alias("nb")), "doc_b")
                    .where(jac >= 0.5))
        row = (cands.agg(F.count(F.lit(1)).cast("long")
                         .alias("n_candidates"))
               .crossJoin(F.broadcast(
                   verified.agg(F.count(F.lit(1)).cast("long")
                                .alias("n_verified"))))
               .select(F.lit(8 // rows).alias("n_bands"),
                       F.lit(rows).alias("rows_per_band"),
                       "n_candidates", "n_verified"))
        out = row if out is None else out.unionByName(row)
    return out


def merge_dedup_index(spark: SparkSession, docs: DataFrame, is_delta,
                      base: str) -> dict[str, str]:
    """Incrementally merge a delta batch into a persisted dedup fragment
    index — the nightly maintenance job at 100 TB, where rebuilding the
    index over the whole archive per ingest is the one cost that cannot
    scale. Builds the archive index, then produces the MERGED index
    paying only delta-sized text work:

      members        group-match the delta's fingerprints against the
                     STORED fp column (no archive re-fingerprinting),
                     recompute canon/gsize per touched group
      shingle_hashes three row classes: untouched groups pass through;
                     groups whose canonical REPRESENTATIVE changed (a
                     delta doc_id undercuts the archive min — text is
                     byte-identical, so only the key changes) are
                     REKEYED via a broadcast old->new map; brand-new
                     groups are shingled from their canonical delta doc
                     (the only text-sized work, sized by the ingest)
      signatures_wide the same pass-through + rekey, plus the brand-new
                     groups' wide rows from the merged shingle_hashes
      signatures /   projected from the merged signatures_wide, exactly
      band_buckets   as ``build_dedup_index`` does (a per-row projection
                     commutes with a doc_id rekey)

    The contract is the strongest one available: the merged index is
    BIT-IDENTICAL to a full rebuild over archive+delta (pinned by
    ``sink_dedup_index_merge``'s oracle, which recomputes the full-corpus
    manifest in DuckDB, and by the round-trip test). Returns the merged
    {fragment: path}."""
    import os

    arch = build_dedup_index(spark, docs.where(~is_delta),
                             os.path.join(base, "archive"))
    paths = {k: os.path.join(base, "merged", k) for k in arch}
    delta_docs = docs.where(is_delta)

    m_a = spark.read.parquet(arch["members"])
    fp_d = delta_docs.select("doc_id", F.md5("text").alias("fp"))
    astat = m_a.groupBy("fp").agg(F.min("canon_id").alias("acanon"),
                                  F.count(F.lit(1)).alias("cnt_a"))
    dstat = fp_d.groupBy("fp").agg(F.min("doc_id").alias("dmin"),
                                   F.count(F.lit(1)).alias("cnt_d"))
    gmap = (astat.join(dstat, "fp", "full")
            .select("fp",
                    F.least(F.coalesce("acanon", "dmin"),
                            F.coalesce("dmin", "acanon")).alias("new_canon"),
                    (F.coalesce("cnt_a", F.lit(0))
                     + F.coalesce("cnt_d", F.lit(0))).cast("int")
                    .alias("gsize_new"),
                    "acanon", "dmin")
            .localCheckpoint(eager=False))
    (m_a.select("doc_id", "fp").unionByName(fp_d)
     .join(gmap.select("fp", F.col("new_canon").alias("canon_id"),
                       F.col("gsize_new").alias("gsize")), "fp")
     .select("doc_id", "fp", "canon_id", "gsize")
     .write.mode("overwrite").parquet(paths["members"]))

    # groups whose canonical representative moved: old -> new key map
    # (sized by touched groups); brand-new groups (no archive match): the
    # only rows whose content must be DERIVED rather than rekeyed
    rekey = (gmap.where(F.col("acanon").isNotNull()
                        & (F.col("new_canon") != F.col("acanon")))
             .select(F.col("acanon").alias("old"),
                     F.col("new_canon").alias("new")))
    new_canon_ids = (gmap.where(F.col("acanon").isNull())
                     .select(F.col("new_canon").alias("doc_id")))

    sh_new = (word_ngrams(delta_docs.join(new_canon_ids, "doc_id",
                                          "left_semi"))
              .select("doc_id", F.expr(_H60_RAW.format(col="sh"))
                      .alias("h60"))
              .distinct())
    (_rekey(spark.read.parquet(arch["shingle_hashes"]), rekey)
     .unionByName(sh_new)
     .write.mode("overwrite").parquet(paths["shingle_hashes"]))

    wide_new = minhash_wide(
        spark.read.parquet(paths["shingle_hashes"])
        .join(new_canon_ids, "doc_id", "left_semi")
        .select("doc_id", (F.col("h60") % P).alias("h")))
    (_rekey(spark.read.parquet(arch["signatures_wide"]), rekey)
     .unionByName(wide_new)
     .write.mode("overwrite").parquet(paths["signatures_wide"]))
    _write_projections(spark, paths)
    return paths


@register("sink_dedup_index_merge", oracle=_SINK_INDEX_SQL,
          tags=("ext", "dedup", "sink", "index", "incremental"))
def sink_dedup_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, hash-checked against the full
    rebuild: split the corpus into archive vs nightly delta (the shared
    ``{pred}`` predicate that ``ext_dedup_incremental`` uses), build the
    archive index, MERGE the delta in via ``merge_dedup_index`` (only
    delta-sized text work), and emit the merged index's manifest. The
    oracle is ``sink_dedup_index``'s full-corpus recomputation — so the
    driver's hash gate certifies that incremental-merge == full-rebuild
    bit for bit, including the canonical-representative handoffs where a
    delta doc_id undercuts its archive group's minimum."""
    ensure_deterministic(spark)
    from project_etl_spark.io import scratch_dir

    docs = table(spark, sf_dir, "documents")
    return index_manifest(spark, merge_dedup_index(
        spark, docs, F.expr(_DELTA_PRED), scratch_dir("dedup_index_merge")))


sink_dedup_index_merge.__doc__ = sink_dedup_index_merge.__doc__.format(
    pred=_DELTA_PRED)


# --------------------------------------------------------------------------
# ext_shingle_hot_audit — shingle document-frequency histogram
# --------------------------------------------------------------------------

_HOT_AUDIT_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
df AS (
    SELECT sh, CAST(COUNT(*) AS BIGINT) AS df
    FROM shingles GROUP BY sh
),
banded AS (
    SELECT CASE WHEN df = 1 THEN '1'
                WHEN df <= 5 THEN '2-5'
                WHEN df <= 20 THEN '6-20'
                WHEN df <= 50 THEN '21-50'
                ELSE '>50' END AS df_band,
           df
    FROM df
)
SELECT df_band,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(df) AS BIGINT) AS posting_mass,
       CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS naive_pair_mass,
       CAST(MAX(df) AS BIGINT) AS max_df
FROM banded GROUP BY df_band
"""


@register("ext_shingle_hot_audit", oracle=_HOT_AUDIT_SQL,
          tags=("ext", "dedup", "audit"))
def ext_shingle_hot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-shingle audit — the measurement that JUSTIFIES this engine's
    dedup architecture: per document-frequency band, how many distinct
    trigram shingles, how much posting mass, and critically the NAIVE
    PAIR MASS Σ df·(df−1)/2 — exactly the number of join rows a direct
    shingle self-join (`ext_dedup_near_jaccard`) would generate from
    that band. One hot boilerplate shingle with df=10⁶ contributes
    5·10¹¹ pairs on its own; this report is how a curation team SEES
    that before launching the quadratic path, and why the flagship is
    banded MinHash-LSH (where candidate cost is output-bound) plus the
    df-capped winnowing join (`_FP_DF_CAP` = {_FP_DF_CAP}, whose cap
    this histogram calibrates).

    Scale shape: one map-side-combinable shingle reduce, then a 5-key
    band reduce — strictly cheaper than any dedup path it de-risks.
    Pair mass stays exact int64 (df ≤ corpus doc count, df² ≤ 10¹⁸ up
    to ~10⁹ docs; beyond that band the counts saturate the answer
    anyway — the decision is made long before the bound matters)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    df = (_shingles(docs).groupBy("sh")
          .agg(F.count(F.lit(1)).cast("long").alias("df")))
    banded = df.select(
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") <= 5, "2-5")
        .when(F.col("df") <= 20, "6-20")
        .when(F.col("df") <= 50, "21-50")
        .otherwise(">50").alias("df_band"), "df")
    return (banded.groupBy("df_band")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum("df").cast("long").alias("posting_mass"),
                 F.sum(F.expr("df * (df - 1) div 2")).cast("long")
                 .alias("naive_pair_mass"),
                 F.max("df").cast("long").alias("max_df")))


# --------------------------------------------------------------------------
# ext_dedup_incremental_indexed — the nightly query answered FROM the index
# --------------------------------------------------------------------------

_INC_IDX_SQL = f"""
WITH adocs AS (
    SELECT doc_id, text FROM documents WHERE NOT ({_DELTA_PRED})
),
members AS (
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
    FROM adocs
),
docs_c AS (
    SELECT a.doc_id, a.text
    FROM adocs a JOIN members m
      ON a.doc_id = m.doc_id AND m.doc_id = m.canon_id
),
shingles AS ({ngrams_sql(3, "docs_c")}),
{_IDX_SH60_SQL},
{_IDX_SIGS_SQL},
{_LSH_BUCKETS_SQL},
ddocs AS (
    SELECT doc_id, text FROM documents WHERE {_DELTA_PRED}
),
dsh AS ({ngrams_sql(3, "ddocs")}),
dsh60 AS (
    SELECT DISTINCT doc_id,
           CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h60
    FROM dsh
),
dsigs AS (
    SELECT doc_id, p.k,
           MIN((p.a * (h60 % 2147483647) + p.b) % 2147483647) AS minhash
    FROM dsh60, (VALUES {_minhash_sql_values()}) p(k, a, b)
    GROUP BY doc_id, p.k
),
dbuckets AS (
    SELECT doc_id, k // 2 AS band,
           md5(string_agg(
               CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), '-'
               ORDER BY CAST(k AS VARCHAR) || ':' || CAST(minhash AS VARCHAR)
           )) AS bucket
    FROM dsigs
    GROUP BY doc_id, band
),
cands AS (
    SELECT DISTINCT d.doc_id AS new_doc_id, b.doc_id AS canon_id
    FROM dbuckets d
    JOIN buckets b ON d.band = b.band AND d.bucket = b.bucket
),
inter AS (
    SELECT c.new_doc_id, c.canon_id, COUNT(*) AS n_common
    FROM cands c
    JOIN dsh60 x ON x.doc_id = c.new_doc_id
    JOIN sh60 y ON y.doc_id = c.canon_id AND y.h60 = x.h60
    GROUP BY 1, 2
),
dcnt AS (SELECT doc_id, COUNT(*) AS n FROM dsh60 GROUP BY doc_id),
ccnt AS (SELECT doc_id, COUNT(*) AS n FROM sh60 GROUP BY doc_id),
verified AS (
    SELECT i.new_doc_id, i.canon_id,
           CAST(i.n_common AS BIGINT) AS n_common,
           (FLOOR(i.n_common * 1.0 / (a.n + b.n - i.n_common)
                  * 1e6 + 5e-1) / 1e6) AS jaccard
    FROM inter i
    JOIN dcnt a ON i.new_doc_id = a.doc_id
    JOIN ccnt b ON i.canon_id = b.doc_id
    WHERE i.n_common * 1.0 / (a.n + b.n - i.n_common) >= 5e-1
)
SELECT v.new_doc_id, m.doc_id AS corpus_doc_id, v.n_common, v.jaccard
FROM verified v JOIN members m ON m.canon_id = v.canon_id
"""


@register("ext_dedup_incremental_indexed", oracle=_INC_IDX_SQL,
          tags=("ext", "dedup", "incremental", "index"))
def ext_dedup_incremental_indexed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The nightly dedup query answered FROM the persisted fragment index
    — completing the index trilogy (`sink_dedup_index` builds,
    `sink_dedup_index_merge` maintains, THIS queries): shingle/sign/band
    ONLY the delta, join its buckets against the STORED archive band
    table, verify candidates by exact 60-bit-hash Jaccard against the
    STORED shingle-hash table, and expand verified canonical matches
    through the STORED membership — so a delta doc near an archive
    boilerplate group links to EVERY archive copy while the archive
    contributes zero shingling, zero signatures, zero collisions of its
    own. Same (new_doc_id, corpus_doc_id, n_common, jaccard) contract as
    `ext_dedup_incremental` (the from-scratch twin), with the two
    100 TB upgrades the index buys: archive-side text is never touched
    (int64 fragments only) and the archive band join input is CANONICAL
    (the hot-bucket bound comes for free from the index).

    Delta-internal duplicates are deliberately out of contract (same as
    the twin): they are resolved when the batch is merged into the index
    (`sink_dedup_index_merge`), not at query time."""
    ensure_deterministic(spark)
    from project_etl_spark.io import scratch_dir

    docs = table(spark, sf_dir, "documents")
    is_delta = F.expr(_DELTA_PRED)
    paths = build_dedup_index(spark, docs.where(~is_delta),
                              scratch_dir("dedup_index_inc"))
    dsh60 = (word_ngrams(docs.where(is_delta))
             .select("doc_id", F.expr(_H60_RAW.format(col="sh"))
                     .alias("h60"))
             .distinct()
             .localCheckpoint(eager=False))   # feeds buckets + verify + counts
    # delta banding straight off the wide aggregate — one groupBy, no
    # row-form posexplode + collect_list re-shuffle (round 13; identical
    # buckets by the round-12 pinned equivalence).
    dbuckets = band_buckets_from_wide(
        minhash_wide(dsh60.select("doc_id",
                                  (F.col("h60") % P).alias("h"))), 2)
    abuckets = spark.read.parquet(paths["band_buckets"])
    cands = (dbuckets.select(F.col("doc_id").alias("new_doc_id"),
                             "band", "bucket")
             .join(abuckets.select(F.col("doc_id").alias("canon_id"),
                                   "band", "bucket"), ["band", "bucket"])
             .select("new_doc_id", "canon_id").distinct()
             .localCheckpoint(eager=False))   # feeds inter + verify joins
    sh60 = spark.read.parquet(paths["shingle_hashes"])
    inter = (cands
             .join(dsh60.select(F.col("doc_id").alias("new_doc_id"), "h60"),
                   "new_doc_id")
             .join(sh60.select(F.col("doc_id").alias("canon_id"), "h60"),
                   ["canon_id", "h60"])
             .groupBy("new_doc_id", "canon_id")
             .agg(F.count(F.lit(1)).alias("n_common")))
    dcnt = dsh60.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ccnt = sh60.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    verified = (inter
                .join(dcnt.select(F.col("doc_id").alias("new_doc_id"),
                                  F.col("n").alias("na")), "new_doc_id")
                .join(ccnt.select(F.col("doc_id").alias("canon_id"),
                                  F.col("n").alias("nb")), "canon_id")
                .where(jac >= 0.5)
                .select("new_doc_id", "canon_id",
                        F.col("n_common").cast("long").alias("n_common"),
                        pround(jac, 6).alias("jaccard")))
    members = spark.read.parquet(paths["members"])
    return (verified
            .join(members.select("canon_id",
                                 F.col("doc_id").alias("corpus_doc_id")),
                  "canon_id")
            .select("new_doc_id", "corpus_doc_id", "n_common", "jaccard"))


# --------------------------------------------------------------------------
# sink_dedup_index_retract — takedown processing for the fragment index
# --------------------------------------------------------------------------

def retract_dedup_index(spark: SparkSession, docs: DataFrame, is_removed,
                        base: str) -> dict[str, str]:
    """Remove a takedown set from a persisted dedup fragment index —
    the GDPR / right-to-be-forgotten / licensing-takedown job, the one
    index maintenance path `build`/`merge` do not cover. The retracted
    index pays ZERO text work (retraction is strictly metadata): rows
    for removed docs drop from `members`; in `shingle_hashes` and
    `signatures_wide`, a group whose canonical REPRESENTATIVE was removed
    but which still has survivors rekeys its rows to the new minimum (the
    `_rekey` move `merge_dedup_index` uses for canonical handoffs), and a
    group with no survivors drops its rows outright (broadcast anti-join,
    sized by dead groups). `signatures` and `band_buckets` are then
    projected from the retracted `signatures_wide`, as in a build.

    Contract: BIT-IDENTICAL to a full rebuild over the surviving
    corpus (pinned by ``sink_dedup_index_retract``'s oracle, which
    recomputes the survivors-only manifest in DuckDB from scratch, and
    by the planted round-trip test covering canon-removal, whole-group
    removal, and singleton removal). Returns {fragment: path}."""
    import os

    arch = build_dedup_index(spark, docs, os.path.join(base, "archive"))
    paths = {k: os.path.join(base, "retracted", k) for k in arch}
    m_a = spark.read.parquet(arch["members"])
    removed = docs.where(is_removed).select("doc_id")
    # touched groups: any group containing a removed member. The three
    # small tables below (touched, rekey, dead) are sized by the
    # takedown batch, never the archive.
    touched = (m_a.join(removed, "doc_id", "left_semi")
               .select("fp").distinct().localCheckpoint(eager=False))
    surv = (m_a.join(touched, "fp", "left_semi")
            .join(removed, "doc_id", "left_anti"))
    new_stat = (surv.groupBy("fp")
                .agg(F.min("doc_id").alias("new_canon"),
                     F.count(F.lit(1)).cast("int").alias("gsize_new"))
                .localCheckpoint(eager=False))
    untouched = m_a.join(touched, "fp", "left_anti")
    touched_out = (surv.select("doc_id", "fp")
                   .join(new_stat, "fp")
                   .select("doc_id", "fp",
                           F.col("new_canon").alias("canon_id"),
                           F.col("gsize_new").alias("gsize")))
    (untouched.select("doc_id", "fp", "canon_id", "gsize")
     .unionByName(touched_out)
     .write.mode("overwrite").parquet(paths["members"]))

    old_c = (m_a.where(F.col("doc_id") == F.col("canon_id"))
             .join(touched, "fp", "left_semi")
             .select("fp", F.col("doc_id").alias("old")))
    rekey = (old_c.join(new_stat, "fp")
             .where(F.col("old") != F.col("new_canon"))
             .select("old", F.col("new_canon").alias("new")))
    dead = (old_c.join(new_stat, "fp", "left_anti")
            .select(F.col("old").alias("doc_id")))

    def rewrite(fr: str) -> None:
        (_rekey(spark.read.parquet(arch[fr]), rekey, dead)
         .write.mode("overwrite").parquet(paths[fr]))

    # the two rekey rewrites are siblings: each reads ONE archive fragment
    # plus the broadcast dead/rekey maps — overlap their write jobs
    _parallel_writes(lambda: rewrite("shingle_hashes"),
                     lambda: rewrite("signatures_wide"))
    _write_projections(spark, paths)
    return paths


_RETRACT_PRED = "doc_id % 7 = 3"

_SINK_RETRACT_SQL = _SINK_INDEX_SQL.replace(
    "FROM documents\n        )",
    f"FROM documents WHERE NOT ({_RETRACT_PRED})\n        )")


@register("sink_dedup_index_retract", oracle=_SINK_RETRACT_SQL,
          tags=("ext", "dedup", "sink", "index"))
def sink_dedup_index_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown processing hash-checked against the rebuild: build the
    corpus index, RETRACT the takedown set (``{pred}`` — ~14% of docs,
    hitting canonical representatives, whole groups and singletons) via
    ``retract_dedup_index`` with zero text work, and emit the retracted
    index's manifest. The oracle recomputes the survivors-only index
    manifest in DuckDB from scratch, so the driver's hash gate
    certifies retraction == rebuild-without-the-removed bit for bit —
    completing the index lifecycle (build / census / banding-off-index /
    incremental merge / RETRACT). At 100 TB a takedown batch costs a
    members update plus two broadcast-sized fragment rewrites, while a
    rebuild would re-shingle the archive."""
    ensure_deterministic(spark)
    from project_etl_spark.io import scratch_dir

    docs = table(spark, sf_dir, "documents")
    return index_manifest(spark, retract_dedup_index(
        spark, docs, F.expr(_RETRACT_PRED),
        scratch_dir("dedup_index_retract")))


sink_dedup_index_retract.__doc__ = sink_dedup_index_retract.__doc__.format(
    pred=_RETRACT_PRED)


# --------------------------------------------------------------------------
# ext_cluster_size_powerlaw — duplicate-cluster mass distribution fit
# --------------------------------------------------------------------------

#: shared body ({src} = documents view): Clauset-Shalizi-Newman
#: continuous-MLE power-law exponent over exact-duplicate cluster sizes,
#: alpha = 1 + n / Σ ln(s_i / (s_min - 1/2)) with s_min = 2.
_CLUSTER_PL_BODY = """
WITH g AS (
    SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS s
    FROM {src} GROUP BY md5(text)
),
d AS (SELECT s FROM g WHERE s >= 2),
q AS (SELECT s, CAST(FLOOR(LN(s / 15e-1) * 1e6 + 5e-1) AS BIGINT) AS lq
      FROM d)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(s) AS BIGINT) AS n_dup_docs,
       CAST(MAX(s) AS BIGINT) AS max_size,
       CAST(FLOOR((1e0 + COUNT(*) * 1e6 / SUM(lq)) * 1e3 + 5e-1)
            AS BIGINT) AS alpha_milli
FROM q
HAVING SUM(lq) > 0
"""


@register("ext_cluster_size_powerlaw",
          oracle=_CLUSTER_PL_BODY.format(src="documents"),
          tags=("ext", "dedup", "profile"))
def ext_cluster_size_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the duplicate-cluster size distribution —
    the continuous MLE of Clauset, Shalizi & Newman 2009 (SIAM Rev.
    51:661, eq. 3.1: alpha = 1 + n / Σ ln(s_i/(s_min - 1/2)), s_min=2)
    over exact-duplicate group sizes. Web-duplicate cluster masses are
    heavy-tailed, and alpha is the ONE number dedup capacity planning
    hangs on: alpha < 2 means the biggest clusters hold a diverging
    share of the duplicate mass (hot-bucket bounds and the mega-group
    fixtures of tests/test_dedup_quality.py are mandatory), while
    alpha > 3 means near-uniform small groups where the LSH candidate
    volume is benign. The same audit re-pointed at band-bucket sizes
    prices the LSH join's skew.

    Determinism: cluster sizes are exact integer counts off the same
    raw-text md5 fingerprints as `collapse_exact_dups`; each log term
    micro-quantizes before the int64 sum (order-free); the alpha close
    is fixed-order double algebra; a corpus with NO duplicate clusters
    returns zero rows in both engines (HAVING on the empty aggregate).

    Scale shape: one fingerprint reduce (the `ext_dedup_exact` shuffle)
    into a duplicate-clusters-sized table, then a single scalar
    aggregate — scan-speed at any corpus size."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("clpl_docs")
    return spark.sql(_CLUSTER_PL_BODY.format(src="clpl_docs"))


# --------------------------------------------------------------------------
# ext_fellegi_sunter_weights — probabilistic record-linkage m/u weights
# --------------------------------------------------------------------------

_FS_AGG_SQL = """
    SELECT CAST(COALESCE(SUM(mt), 0) AS BIGINT) AS nm,
           CAST(COALESCE(SUM(1 - mt), 0) AS BIGINT) AS nu,
           CAST(COALESCE(SUM(CASE WHEN mt = 1 THEN f_src ELSE 0 END), 0)
                AS BIGINT) AS am_src,
           CAST(COALESCE(SUM(CASE WHEN mt = 0 THEN f_src ELSE 0 END), 0)
                AS BIGINT) AS au_src,
           CAST(COALESCE(SUM(CASE WHEN mt = 1 THEN f_lang ELSE 0 END), 0)
                AS BIGINT) AS am_lang,
           CAST(COALESCE(SUM(CASE WHEN mt = 0 THEN f_lang ELSE 0 END), 0)
                AS BIGINT) AS au_lang,
           CAST(COALESCE(SUM(CASE WHEN mt = 1 THEN f_len ELSE 0 END), 0)
                AS BIGINT) AS am_len,
           CAST(COALESCE(SUM(CASE WHEN mt = 0 THEN f_len ELSE 0 END), 0)
                AS BIGINT) AS au_len
    FROM feat
"""

#: identical closing algebra on both engines (am/au/nm/nu exact ints).
_FS_CLOSE_SQL = """
SELECT feature, nm AS n_match, nu AS n_unmatch,
       am AS agree_match, au AS agree_unmatch,
       CAST(FLOOR((am + 1e0) / (nm + 2e0) * 1e6 + 5e-1) AS BIGINT)
           AS m_micro,
       CAST(FLOOR((au + 1e0) / (nu + 2e0) * 1e6 + 5e-1) AS BIGINT)
           AS u_micro,
       CAST(FLOOR(LN(((am + 1e0) / (nm + 2e0))
                     / ((au + 1e0) / (nu + 2e0))) * 1e6 + 5e-1) AS BIGINT)
           AS w_agree_micro,
       CAST(FLOOR(LN((1e0 - (am + 1e0) / (nm + 2e0))
                     / (1e0 - (au + 1e0) / (nu + 2e0))) * 1e6 + 5e-1)
            AS BIGINT) AS w_disagree_micro
FROM un
"""


@register(
    "ext_fellegi_sunter_weights",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_CANDS_SQL},
        feat AS (
            SELECT CASE WHEN md5(da.text) = md5(db.text) THEN 1 ELSE 0 END
                       AS mt,
                   CASE WHEN da.source = db.source THEN 1 ELSE 0 END
                       AS f_src,
                   CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS f_lang,
                   CASE WHEN CAST(FLOOR(LN(GREATEST(da.n_chars, 1) * 1e0)
                                        * 2e0) AS BIGINT)
                             = CAST(FLOOR(LN(GREATEST(db.n_chars, 1) * 1e0)
                                          * 2e0) AS BIGINT)
                        THEN 1 ELSE 0 END AS f_len
            FROM cands c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
        ),
        agg AS ({_FS_AGG_SQL}),
        un AS (
            SELECT 'source' AS feature, nm, nu, am_src AS am, au_src AS au
            FROM agg
            UNION ALL
            SELECT 'lang', nm, nu, am_lang, au_lang FROM agg
            UNION ALL
            SELECT 'len_band', nm, nu, am_len, au_len FROM agg
        )
        {_FS_CLOSE_SQL}
    """,
    tags=("ext", "dedup", "linkage"),
)
def ext_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter (1969) probabilistic record linkage, trained on
    the engine's own dedup ground truth: over the LSH candidate pairs,
    each comparison feature (same source, same lang, same log-length
    band) gets its m = P(agree | true match) and u = P(agree | true
    non-match) — truth being exact-fingerprint equality — and the
    agreement/disagreement log-weights ln(m/u), ln((1-m)/(1-u)) that
    score a future pair by summing whichever side of each feature it
    shows. THE entity-resolution scoring layer the dedup family was
    missing: LSH proposes, Jaccard verifies CONTENT, FS weighs the
    METADATA evidence (and says which blocking keys actually carry
    signal — a near-zero weight means drop that comparison).

    Determinism: all eight cells are exact integer counts off one
    candidate-bounded reduce (+1/+2 Laplace smoothing keeps every
    ratio strictly inside (0,1), so LN never sees 0 and the
    unanimous-agreement edge is finite by construction — no guard
    needed, by algebra); the closes are fixed-order LN-over-rational
    expressions, identical text on both engines.

    Scale shape: the SAME banded candidate generation as the LSH
    flagship (cost bounded by true-duplicate mass, pinned under
    planted mega-hot-key skew in tests/test_dedup_quality.py), two
    doc_id-keyed attribute joins, ONE single-row reduce; the 3-feature
    unpivot runs on that one row. Candidate pairs are checkpointed so
    the banding pipeline is derived once."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    buckets = lsh_buckets(sh, 2)
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct()
             .localCheckpoint(eager=True))
    lenband = "cast(floor(ln(greatest({c}, 1) * 1e0) * 2e0) as bigint)"
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.md5("text").alias("fp_a"),
                     F.col("source").alias("src_a"),
                     F.col("lang").alias("lang_a"),
                     F.expr(lenband.format(c="n_chars")).alias("lb_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.md5("text").alias("fp_b"),
                     F.col("source").alias("src_b"),
                     F.col("lang").alias("lang_b"),
                     F.expr(lenband.format(c="n_chars")).alias("lb_b"))
    feat = (cands.join(da, "doc_a").join(db, "doc_b")
            .select(
                F.when(F.col("fp_a") == F.col("fp_b"), 1).otherwise(0)
                .alias("mt"),
                F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0)
                .alias("f_src"),
                F.when(F.col("lang_a") == F.col("lang_b"), 1).otherwise(0)
                .alias("f_lang"),
                F.when(F.col("lb_a") == F.col("lb_b"), 1).otherwise(0)
                .alias("f_len")))
    feat.createOrReplaceTempView("fs_feat")
    agg = spark.sql(_FS_AGG_SQL.replace("FROM feat", "FROM fs_feat"))
    agg.createOrReplaceTempView("fs_agg")
    un = spark.sql("""
        SELECT 'source' AS feature, nm, nu, am_src AS am, au_src AS au
        FROM fs_agg
        UNION ALL
        SELECT 'lang', nm, nu, am_lang, au_lang FROM fs_agg
        UNION ALL
        SELECT 'len_band', nm, nu, am_len, au_len FROM fs_agg
    """)
    un.createOrReplaceTempView("fs_un")
    return spark.sql(_FS_CLOSE_SQL.replace("FROM un", "FROM fs_un"))


# --------------------------------------------------------------------------
# ext_blocking_quality — pairs completeness / reduction ratio of a
# blocking scheme against the exact-dup ground truth
# --------------------------------------------------------------------------

_BQ_BODY = """
WITH d AS (
    SELECT doc_id, source, md5(text) AS fp,
           CAST(FLOOR(LENGTH(text) / 2e2) AS BIGINT) AS len_bucket
    FROM documents
),
blocks AS (
    SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS nb
    FROM d GROUP BY source, len_bucket
),
truth AS (
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS nt
    FROM d GROUP BY fp HAVING COUNT(*) > 1
),
cob AS (
    SELECT fp, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS k
    FROM d GROUP BY fp, source, len_bucket HAVING COUNT(*) > 1
),
s AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM blocks) AS n_blocks,
           (SELECT CAST(MAX(nb) AS BIGINT) FROM blocks) AS max_block,
           (SELECT COALESCE(CAST(SUM(CAST(nb AS DECIMAL(38,0))
                * (nb - 1)) AS DECIMAL(38,0)), 0) FROM blocks) AS cand2,
           (SELECT COALESCE(CAST(SUM(CAST(nt AS DECIMAL(38,0))
                * (nt - 1)) AS DECIMAL(38,0)), 0) FROM truth) AS true2,
           (SELECT COALESCE(CAST(SUM(CAST(k AS DECIMAL(38,0))
                * (k - 1)) AS DECIMAL(38,0)), 0) FROM cob) AS cob2
)
SELECT n_docs, n_blocks, max_block,
       CAST(FLOOR((1e0 - CAST(cand2 AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE)))
             * 1e6 + 5e-1) AS BIGINT) AS reduction_micro,
       CASE WHEN cand2 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(FLOOR(CAST(cob2 AS DOUBLE) / CAST(cand2 AS DOUBLE)
                 * 1e6 + 5e-1) AS BIGINT) END AS candidate_precision_micro,
       CASE WHEN true2 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(FLOOR(CAST(cob2 AS DOUBLE) / CAST(true2 AS DOUBLE)
                 * 1e6 + 5e-1) AS BIGINT) END AS pairs_completeness_micro
FROM s
"""


@register("ext_blocking_quality", oracle=_BQ_BODY,
          tags=("ext", "dedup", "linkage"))
def ext_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit for record linkage / dedup: score
    the (source, length-bucket) blocking key against the engine's own
    exact-duplicate ground truth with the two standard Christen-survey
    metrics — REDUCTION RATIO (fraction of all doc pairs the blocking
    never has to compare) and PAIRS COMPLETENESS (recall: fraction of
    true duplicate pairs that land in the same block), plus the
    candidate precision the two trade against. This is the pre-flight
    every LSH/banding configuration decision needs one level above
    `ext_lsh_band_sweep` (which scores banding parameters; this scores
    the blocking key itself) and the blocking-side complement of
    `ext_fellegi_sunter_weights` (which scores the comparison step).

    Determinism and headroom: every metric reduces to PAIR COUNTS held
    as DOUBLED products n*(n-1) in DECIMAL(38,0) — at the 100 TB design
    point total pairs are ~1.25e21, past int64, and a hot boilerplate
    block alone can exceed 9.2e18 pairs (the Spark-wraps/DuckDB-errors
    divergence class); raw pair counts are deliberately NOT emitted.
    The micro ratios are one double division each; degenerate corpora
    (no duplicates at small SF, or an empty candidate set) NULL their
    ratio via identical integer equality on both engines.

    Scale shape: three map-side-combinable reduces over one corpus
    scan (block sizes, truth-group sizes, co-blocked group sizes), a
    1-row close. No pair is ever materialized — the audit costs
    O(groups), not O(pairs)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("bq_docs")
    return spark.sql(_BQ_BODY.replace("FROM documents", "FROM bq_docs"))


# --------------------------------------------------------------------------
# ext_linkage_em_step — one unsupervised EM iteration over match patterns
# --------------------------------------------------------------------------

#: shared tail over a `pat(f_src, f_lang, f_len, c)` pattern-count
#: relation (<= 8 rows). Priors: p0 = 0.1 match share; per-field
#: m0 = (0.9, 0.8, 0.7), u0 = (0.5, 0.4, 0.3) — deliberately distinct
#: so the posterior is not field-symmetric. The E-step posterior g and
#: every M-step numerator/denominator term quantize per PATTERN at 1e6
#: before the bounded (<= 8-term) integer sums; closes are fixed-order.
_EM_TAIL = """
e AS (
    SELECT f_src, f_lang, f_len, c,
           (1e-1
            * (CASE WHEN f_src = 1 THEN 9e-1 ELSE 1e-1 END)
            * (CASE WHEN f_lang = 1 THEN 8e-1 ELSE 2e-1 END)
            * (CASE WHEN f_len = 1 THEN 7e-1 ELSE 3e-1 END)) AS pm,
           (9e-1
            * (CASE WHEN f_src = 1 THEN 5e-1 ELSE 5e-1 END)
            * (CASE WHEN f_lang = 1 THEN 4e-1 ELSE 6e-1 END)
            * (CASE WHEN f_len = 1 THEN 3e-1 ELSE 7e-1 END)) AS pu
    FROM pat
),
g AS (
    SELECT f_src, f_lang, f_len, c, pm / (pm + pu) AS g FROM e
),
s AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(FLOOR(c * g * 1e6 + 5e-1) AS BIGINT)) AS BIGINT)
               AS sg,
           CAST(SUM(CAST(FLOOR(c * (1e0 - g) * 1e6 + 5e-1) AS BIGINT))
                AS BIGINT) AS su,
           CAST(SUM(CASE WHEN f_src = 1 THEN
                CAST(FLOOR(c * g * 1e6 + 5e-1) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS sg_src,
           CAST(SUM(CASE WHEN f_lang = 1 THEN
                CAST(FLOOR(c * g * 1e6 + 5e-1) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS sg_lang,
           CAST(SUM(CASE WHEN f_len = 1 THEN
                CAST(FLOOR(c * g * 1e6 + 5e-1) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS sg_len,
           CAST(SUM(CASE WHEN f_src = 1 THEN
                CAST(FLOOR(c * (1e0 - g) * 1e6 + 5e-1) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS su_src,
           CAST(SUM(CASE WHEN f_lang = 1 THEN
                CAST(FLOOR(c * (1e0 - g) * 1e6 + 5e-1) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS su_lang,
           CAST(SUM(CASE WHEN f_len = 1 THEN
                CAST(FLOOR(c * (1e0 - g) * 1e6 + 5e-1) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS su_len
    FROM g
),
un AS (
    SELECT 'source' AS feature, n_pairs, sg, su, sg_src AS sgf,
           su_src AS suf FROM s
    UNION ALL
    SELECT 'lang', n_pairs, sg, su, sg_lang, su_lang FROM s
    UNION ALL
    SELECT 'len_band', n_pairs, sg, su, sg_len, su_len FROM s
)
SELECT feature, n_pairs,
       CAST(FLOOR(CAST(sgf AS DOUBLE) / sg * 1e6 + 5e-1) AS BIGINT)
           AS m1_micro,
       CAST(FLOOR(CAST(suf AS DOUBLE) / su * 1e6 + 5e-1) AS BIGINT)
           AS u1_micro,
       CAST(FLOOR(sg / 1e6 / n_pairs * 1e6 + 5e-1) AS BIGINT)
           AS p1_micro
FROM un
WHERE sg > 0 AND su > 0
"""

_EM_PAT_SQL = """
pat AS (
    SELECT f_src, f_lang, f_len, CAST(COUNT(*) AS BIGINT) AS c
    FROM feat GROUP BY f_src, f_lang, f_len
)
"""


@register(
    "ext_linkage_em_step",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        {_MINHASH_SIGS_SQL},
        {_LSH_CANDS_SQL},
        feat AS (
            SELECT CASE WHEN da.source = db.source THEN 1 ELSE 0 END
                       AS f_src,
                   CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS f_lang,
                   CASE WHEN CAST(FLOOR(LN(GREATEST(da.n_chars, 1) * 1e0)
                                        * 2e0) AS BIGINT)
                             = CAST(FLOOR(LN(GREATEST(db.n_chars, 1) * 1e0)
                                          * 2e0) AS BIGINT)
                        THEN 1 ELSE 0 END AS f_len
            FROM cands c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
        ),
        {_EM_PAT_SQL},
        {_EM_TAIL}
    """,
    tags=("ext", "dedup", "linkage"),
)
def ext_linkage_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM iteration of UNSUPERVISED Fellegi-Sunter parameter
    estimation (Winkler 1988; the Splink/fastLink fitting loop) over
    the LSH candidate pairs' comparison vectors: E-step computes each
    of the <= 8 agreement patterns' match posterior from the priors
    (p = 0.1; per-field m = .9/.8/.7, u = .5/.4/.3), M-step re-estimates
    per-field m/u and the match share. `ext_fellegi_sunter_weights`
    READS m/u off the exact-dup truth — the luxury real linkage jobs
    don't have; EM is how production linkers actually fit those
    parameters with no labels, and this is its inner loop. Emits per
    field the one-step-updated m, u and the updated match share.

    Determinism: comparison vectors are exact set algebra; pattern
    counts are exact int64; the E-step posterior is a fixed per-pattern
    IEEE chain from literal priors; every M-step term quantizes per
    pattern at 1e6 before bounded integer sums; closes fixed-order.

    Scale shape: candidate enumeration is the banding equi-join
    (bucket-bounded, AQE skew-split on hot buckets); two doc_id-keyed
    attribute joins; then ONE reduce to <= 8 pattern rows — the EM
    algebra never touches the corpus again, which is why EM-per-epoch
    costs one aggregation regardless of corpus size.

    Reference basis: iterative parameter re-estimation against
    unlabeled data (the reference's per-pixel threshold scan, which
    estimates baseline and noise_width from unlabeled hit counts,
    DAQ_self-triggering.md:84-86); EM formulation from Winkler 1988 /
    Fellegi & Sunter 1969 (public)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    buckets = lsh_buckets(sh, 2)
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cands = (a.join(b, ["band", "bucket"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct()
             .localCheckpoint(eager=True))
    lenband = "cast(floor(ln(greatest({c}, 1) * 1e0) * 2e0) as bigint)"
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("source").alias("src_a"),
                     F.col("lang").alias("lang_a"),
                     F.expr(lenband.format(c="n_chars")).alias("lb_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("source").alias("src_b"),
                     F.col("lang").alias("lang_b"),
                     F.expr(lenband.format(c="n_chars")).alias("lb_b"))
    feat = (cands.join(da, "doc_a").join(db, "doc_b")
            .select(F.when(F.col("src_a") == F.col("src_b"), 1)
                    .otherwise(0).alias("f_src"),
                    F.when(F.col("lang_a") == F.col("lang_b"), 1)
                    .otherwise(0).alias("f_lang"),
                    F.when(F.col("lb_a") == F.col("lb_b"), 1)
                    .otherwise(0).alias("f_len")))
    feat.createOrReplaceTempView("em_feat")
    body = "WITH " + _EM_PAT_SQL.strip() + ",\n" + _EM_TAIL
    return spark.sql(body.replace("FROM feat", "FROM em_feat"))


# --------------------------------------------------------------------------
# ext_chapman_dedup_estimate — capture-recapture coverage of the detector
# --------------------------------------------------------------------------

_CHAPMAN_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
{_MINHASH_SIGS_SQL},
{_LSH_BUCKETS_SQL},
ca AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id AND a.band < 2
),
cb AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id AND a.band >= 2
),
shcounts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
             FROM shingles GROUP BY doc_id),
va AS (
    SELECT c.doc_a, c.doc_b
    FROM ca c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
    JOIN shcounts na ON na.doc_id = c.doc_a
    JOIN shcounts nb ON nb.doc_id = c.doc_b
    GROUP BY c.doc_a, c.doc_b, na.n, nb.n
    HAVING COUNT(*) * 1.0 / (na.n + nb.n - COUNT(*)) >= 0.5
),
vb AS (
    SELECT c.doc_a, c.doc_b
    FROM cb c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
    JOIN shcounts na ON na.doc_id = c.doc_a
    JOIN shcounts nb ON nb.doc_id = c.doc_b
    GROUP BY c.doc_a, c.doc_b, na.n, nb.n
    HAVING COUNT(*) * 1.0 / (na.n + nb.n - COUNT(*)) >= 0.5
),
k AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM va) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM vb) AS n2,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM va JOIN vb ON va.doc_a = vb.doc_a
                           AND va.doc_b = vb.doc_b) AS m
)
SELECT n1 AS n_occ1, n2 AS n_occ2, m AS n_both,
       CAST(FLOOR(((n1 + 1e0) * (n2 + 1e0) / (m + 1e0) - 1e0) * 1e3 + 5e-1)
            AS BIGINT) AS chapman_milli,
       CAST(FLOOR(sqrt((n1 + 1e0) * (n2 + 1e0) * (n1 - m) * (n2 - m)
                       / ((m + 1e0) * (m + 1e0) * (m + 2e0))) * 1e3 + 5e-1)
            AS BIGINT) AS se_milli
FROM k
"""


@register("ext_chapman_dedup_estimate", oracle=_CHAPMAN_SQL,
          tags=("ext", "dedup", "lsh"))
def ext_chapman_dedup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate (Chapman 1951) of the TRUE
    verified near-dup pair population, from two independent detector
    passes: occasion 1 = LSH bands 0-1, occasion 2 = bands 2-3 (the 8
    MinHash permutations split into two disjoint 2x2-band detectors),
    each followed by the exact Jaccard >= 0.5 verify. N-hat =
    (n1+1)(n2+1)/(m+1) - 1 with its closed-form SE. The COVERAGE
    instrument of the dedup family: `ext_dedup_near_lsh_verified`
    reports what the full detector FOUND; Chapman estimates what
    EXISTS — including pairs both half-detectors missed — because
    each band group is an independent Bernoulli sample of the true
    pair set (per-pair catch probability 1-(1-J^2)^2 per occasion).
    n1 = n2 = m reads 'recall saturated at this threshold' (the
    frozen fixture's exact-dup-dominated regime); m << n1, n2 reads
    'the banding is leaving pairs on the table' and quantifies how
    many. The same two-occasion audit a 100 TB pipeline runs CHEAPLY
    on a sampled shard before trusting a banding config —
    complementing `ext_lsh_scurve_design` (analytic recall) with a
    measured, assumption-light estimate.

    Determinism: the shingle/minhash/banding algebra is the
    engine-portable md5 pipeline of `ext_dedup_minhash` (replicated
    step-for-step in the DuckDB oracle); candidate sets, verified
    sets and the overlap are exact integer counts; the Chapman close
    and SE are one fixed-order IEEE chain over three small integers
    (exactly representable in double), milli-quantized.

    Scale shape: identical to the LSH flagship — banding is an
    equi-join per occasion, verification is candidate-bounded; the
    overlap join runs on the two verified PAIR LISTS (output-sized);
    the close is a 1-row cross of three counts (allowlisted). At
    100 TB the production form runs after the exact-dup collapse
    (`jaccard_via_lsh`'s contract) on a sampled shard.

    Reference basis: two-pass coverage estimation of a detector
    census — the reference's N-in/N-out ground-truth methodology
    (DAQ_self-triggering.md:343-346) upgraded to an estimator of the
    unseen; estimator from Chapman 1951 (public)."""
    ensure_deterministic(spark)
    docs = table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    buckets = lsh_buckets(sh, 2)

    def occ_pairs(pred):
        b = buckets.where(pred)
        left = b.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        right = b.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        return (left.join(right, ["band", "bucket"])
                .where(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b").distinct())

    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))

    def verify(cands):
        inter = (cands.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("n_common")))
        jac = (F.col("n_common") * F.lit(1.0)
               / (F.col("na") + F.col("nb") - F.col("n_common")))
        return (inter.join(na, "doc_a").join(nb, "doc_b")
                .where(jac >= F.lit(0.5))
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=False))

    va = verify(occ_pairs(F.col("band") < 2))
    vb = verify(occ_pairs(F.col("band") >= 2))
    k = (va.agg(F.count(F.lit(1)).cast("long").alias("n1"))
         .crossJoin(vb.agg(F.count(F.lit(1)).cast("long").alias("n2")))
         .crossJoin(va.join(vb, ["doc_a", "doc_b"])
                    .agg(F.count(F.lit(1)).cast("long").alias("m"))))
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    est = (n1 + F.lit(1.0)) * (n2 + F.lit(1.0)) / (m + F.lit(1.0)) - F.lit(1.0)
    se = F.sqrt((n1 + F.lit(1.0)) * (n2 + F.lit(1.0)) * (n1 - m) * (n2 - m)
                / ((m + F.lit(1.0)) * (m + F.lit(1.0)) * (m + F.lit(2.0))))
    return k.select(
        n1.alias("n_occ1"), n2.alias("n_occ2"), m.alias("n_both"),
        F.floor(est * F.lit(1e3) + F.lit(0.5)).cast("long")
            .alias("chapman_milli"),
        F.floor(se * F.lit(1e3) + F.lit(0.5)).cast("long")
            .alias("se_milli"))
