"""The benchmark's workloads: what one op is, how inputs are made from the
seed, and how each op's output is checked outside the timed region.

Each workload drives the program's public functions from one client, in
a closed loop: the next op starts when the previous one has returned.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen


@dataclass
class Op:
    """One timed call. ``run`` is timed; ``check`` runs after it, untimed,
    and returns a list of failed checks (empty when the output is right)."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], list[str]] = lambda _r: []
    cleanup: Callable[[], None] = lambda: None


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    rng: np.random.Generator
    registry: dict
    layer_counts: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def count(self, name: str, value: float) -> None:
        self.layer_counts.setdefault(name, []).append(value)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duckdb_views(tables_dir: str):
    import duckdb

    from project_etl_spark.io import TABLES
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
    return con


def _oracle_rows(con, sql: str) -> int:
    return con.execute(f"SELECT COUNT(*) FROM ({sql}) AS q").fetchone()[0]


class Workload:
    name = ""
    # one round runs each op kind once, in this order
    kinds: tuple[str, ...] = ()
    # nominal seconds of one measured round on a 4-vCPU host: the run
    # length sets a round COUNT from it, so every run of a given length
    # does the same work whatever the host's speed that day
    round_s = 8.0
    # discarded rounds before the measured ones
    warm_rounds = 1

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))

    def setup(self, ctx: Ctx) -> None:
        """Make inputs; everything here counts in ``setup_s``."""

    def op(self, ctx: Ctx, i: int, kind: str) -> Op:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# daq_backlog
# ---------------------------------------------------------------------------

class DaqBacklog(Workload):
    """One op = one DAQ run of two readout boards landing as binary files,
    then the reference's chain over it: the watchdog commits the files
    (streaming, exactly once), the batch pass decodes and builds hits into
    run-partitioned parquet, calibration and per-run stats follow, and the
    run is read back through the ``etl_runfiles`` reader with a ``run =``
    predicate."""

    name = "daq_backlog"
    kinds = ("daq_run",)
    round_s = 9.0
    # the JVM is still compiling the chain's code in the second op, which
    # is 15-25 % slower than the ones after it
    warm_rounds = 2
    boards = (0, 1)

    # One run carries the 2M frames of the run file SCALE.md measures
    # decode on, split over the two boards: 100k events x 2 elinks (the
    # reference config's two ETROCs per module) x 5 frames per event is
    # about 1M frames, 5 MB, per file. perfbench/README.md has the
    # measured decode share that supports this size.
    def __init__(self, n_events: int = 100_000, n_elinks: int = 2):
        self.n_events, self.n_elinks = n_events, n_elinks
        self.landed: list[str] = []
        self.runs = 0

    def setup(self, ctx: Ctx) -> None:
        from project_etl_spark.pyds import register_datasource
        register_datasource(ctx.spark)
        self.land = ctx.path("landing", "")
        self.watch_out = ctx.path("watch_out")
        self.watch_ckpt = ctx.path("watch_ckpt")

    def op(self, ctx: Ctx, i: int, kind: str) -> Op:
        from pyspark.sql import functions as F

        from project_etl_spark.decode import blob_to_frames_pdf
        from project_etl_spark.pipelines import (calibrate,
                                                 process_run_directory,
                                                 run_stats)
        from project_etl_spark.streaming.watchdog import start_watchdog

        self.runs += 1
        spark, tr, run = ctx.spark, ctx.tracer, self.runs
        files = [gen.run_file(ctx.rng, run, rb, self.n_events, self.n_elinks)
                 for rb in self.boards]
        # decode kernel alone, driver-side, no Spark (traced runs only)
        if tr.enabled:
            for f in files:
                with tr.span("decode.kernel") as s:
                    blob_to_frames_pdf(f.name, f.blob)
                ctx.count("decode.kernel_ms_per_mb",
                          s.seconds * 1e3 / (len(f.blob) / 2**20))
        for f in files:
            self.landed.append(gen.write_atomic(self.land, f.name, f.blob))
        hits_dir = ctx.path("hits", f"run_{run}")
        n_elinks = self.n_elinks

        def body():
            out = {}
            with tr.span("streaming.watch"):
                q = start_watchdog(spark, self.land, self.watch_out,
                                   self.watch_ckpt, available_now=True)
                if not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError("watchdog drain did not finish")
                out["progress"] = [json.loads(p.json) for p in
                                   q.recentProgress]
            with tr.span("pipelines.process_run"):
                process_run_directory(
                    spark,
                    os.path.join(self.land, f"output_run_{run}_rb*.dat"),
                    hits_dir)
            hits = (spark.read.parquet(hits_dir)
                    .withColumn("etroc",
                                F.col("rb") * n_elinks + F.col("elink")))
            with tr.span("pipelines.calibrate"):
                out["cal"] = (calibrate(hits).groupBy("etroc").count()
                              .collect())
            with tr.span("pipelines.run_stats"):
                out["stats"] = run_stats(hits).collect()
            with tr.span("pyds.readback"):
                out["readback"] = (
                    spark.read.format("etl_runfiles")
                    .option("path", self.land).option("pushdown", "true")
                    .load().where(F.col("run") == run)
                    .groupBy("rb", "kind").count().collect())
            return out

        def check(out) -> list[str]:
            bad = []
            want = {f.rb: f for f in files}
            stats = {r["rb"]: r for r in out["stats"]}
            for rb, f in want.items():
                st = stats.get(rb)
                if st is None or st["n_hits"] != f.n_data \
                        or st["n_events"] != f.n_events:
                    bad.append(f"run_stats run {run} rb {rb}: {st} vs "
                               f"{f.n_data} hits, {f.n_events} events")
            chips = {rb * n_elinks + c
                     for rb, f in want.items() for c in f.chips}
            cal = {r["etroc"]: r["count"] for r in out["cal"]}
            if cal != dict.fromkeys(chips, 256):
                bad.append(f"calibrate run {run}: rows per chip {cal}")
            rb_data = {r["rb"]: r["count"] for r in out["readback"]
                       if r["kind"] == "data"}
            if rb_data != {rb: f.n_data for rb, f in want.items()}:
                bad.append(f"readback run {run}: {rb_data}")
            bad += self._check_watch(run, files)
            self._count_streaming(ctx, out["progress"])
            return bad

        return Op(kind, body, check,
                  cleanup=lambda: shutil.rmtree(hits_dir, ignore_errors=True))

    def _check_watch(self, run: int, files: list[gen.RunFile]) -> list[str]:
        """Every landed file is in the watchdog's offset log exactly once,
        and the sink holds this run's data frames."""
        import pyarrow.dataset as ds
        seen: Counter = Counter()
        # the file source compacts its log every few batches into
        # "<n>.compact", which repeats every earlier entry
        logs = {os.path.basename(p): p for p in
                glob.glob(os.path.join(self.watch_ckpt, "sources", "0", "*"))}
        compact = max((int(n.split(".")[0]) for n in logs
                       if n.endswith(".compact")), default=-1)
        for n, p in logs.items():
            if int(n.split(".")[0]) < compact:
                continue
            with open(p) as fh:
                for line in fh:
                    if line.startswith("{") and '"path"' in line:
                        seen[os.path.basename(json.loads(line)["path"])] += 1
        landed = Counter(os.path.basename(p) for p in self.landed)
        bad = [] if seen == landed else [
            f"watchdog commit log {dict(seen - landed)} missing "
            f"{dict(landed - seen)}"]
        part = os.path.join(self.watch_out, f"run={run}")
        n = (ds.dataset(part, format="parquet").to_table(columns=["kind"])
             .column("kind").to_pylist().count("data")
             if os.path.isdir(part) else 0)
        if n != sum(f.n_data for f in files):
            bad.append(f"watchdog sink run {run}: {n} data frames")
        return bad

    @staticmethod
    def _count_streaming(ctx: Ctx, progress: list[dict]) -> None:
        """Micro-batch phases from ``StreamingQuery.recentProgress``."""
        for p in progress:
            if not p.get("numInputRows"):
                continue
            d = p.get("durationMs", {})
            ctx.count("streaming.trigger_ms", d.get("triggerExecution", 0))
            ctx.count("streaming.add_batch_ms", d.get("addBatch", 0))
            ctx.count("streaming.query_planning_ms", d.get("queryPlanning", 0))
            ctx.count("streaming.wal_commit_ms", d.get("walCommit", 0))
            ctx.count("streaming.commit_offsets_ms", d.get("commitOffsets", 0))
            ctx.count("streaming.latest_offset_ms", d.get("latestOffset", 0))


# ---------------------------------------------------------------------------
# analyst, first half: the SQL queries
# ---------------------------------------------------------------------------

# One registered read-only query per family, run in this order (the seed
# makes the tables); perfbench/README.md says which ROADMAP item each is
# there for. ext_quade_test is built on llm_curation's rank windows;
# udfs, llm_text and llm_multimodal carry the Python-worker share.
SQL_QUERIES: dict[str, str] = {
    "composite": "composite_top_supplier",
    "aggregates": "agg_cube",
    "windows": "win_moving_avg",
    "joins": "join_asof",
    "sql_surface": "reshape_transpose",
    "llm_curation": "ext_quade_test",
    "llm_text": "ext_unicode_normalize",
    "llm_multimodal": "ext_audio_clipping",
    "udfs": "udf_arrow_batch",
}
# Registered oracles that join a golden fixture keyed to the test fixture's
# corpus text cannot match generated documents; their row-count oracle is
# the query's contract instead (one row per synthesized payload).
ROW_ORACLE_OVERRIDE = {"ext_audio_clipping": "SELECT doc_id FROM documents"}


class SqlAnalyst(Workload):
    """The first half of ``analyst``. One op = one registered query at
    sf0.1 through the ``noop`` sink. Each query's row count is checked
    against its DuckDB oracle once per run, in the warm round."""

    def __init__(self, sf: float = 0.1):
        self.sf = sf
        self.family = {q: fam for fam, q in SQL_QUERIES.items()}
        self.kinds = tuple(self.family)

    def setup(self, ctx: Ctx) -> None:
        self.tables = gen.write_tables(ctx.path("tables", ""), ctx.seed,
                                       sf=self.sf)
        con = _duckdb_views(self.tables)
        self.oracle = {
            q: _oracle_rows(con, ROW_ORACLE_OVERRIDE.get(
                q, ctx.registry[q].oracle)) for q in self.kinds}
        con.close()

    def op(self, ctx: Ctx, i: int, kind: str) -> Op:
        spec = ctx.registry[kind]
        span = f"operators.{self.family[kind]}"
        if i < 0:   # warm round: the count is the output check
            def body():
                with ctx.tracer.span(span):
                    return spec.builder(ctx.spark, self.tables).count()

            return Op(kind, body, lambda n: [] if n == self.oracle[kind] else
                      [f"{kind}: {n} rows, oracle {self.oracle[kind]}"])

        def run():
            with ctx.tracer.span(span):
                _noop(spec.builder(ctx.spark, self.tables))
        return Op(kind, run)


# ---------------------------------------------------------------------------
# analyst, second half: the dedup-index lifecycle
# ---------------------------------------------------------------------------

_FRAGS = (
    ("members", ("doc_id", "canon_id", "gsize")),
    ("shingle_hashes", ("doc_id", "h60")),
    ("signatures", ("doc_id", "k", "minhash")),
    ("band_buckets", ("doc_id", "band", "bucket")),
)


class DedupIndex(Workload):
    """The second half of ``analyst``. One op = one dedup-index lifecycle
    call over a fixed ``documents`` corpus: ``merge_dedup_index`` of a
    seeded delta (``doc_id % 19 = k``), ``retract_dedup_index`` of a
    seeded takedown (``doc_id % 7 = j``), or the indexed nightly query
    ``ext_dedup_incremental_indexed``."""

    kinds = ("merge", "retract", "indexed_query")

    corpus_seed = 42   # the corpus is fixed; the seed picks k and j

    def __init__(self, n_docs: int = 600):
        self.n_docs = n_docs

    def setup(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq
        self.tables = ctx.path("corpus", "")
        docs = gen.documents(np.random.default_rng(self.corpus_seed),
                             self.n_docs)
        pq.write_table(docs, os.path.join(self.tables, "documents.parquet"))
        self.doc_ids = np.asarray(docs.column("doc_id"))
        con = _duckdb_views(self.tables)
        reg = ctx.registry
        # merge == full rebuild: the full-corpus manifest, from scratch
        self.full_manifest = {
            r[0]: tuple(r[1:]) for r in
            con.execute(reg["sink_dedup_index"].oracle).fetchall()}
        self.indexed_rows = _oracle_rows(
            con, reg["ext_dedup_incremental_indexed"].oracle)
        con.close()
        self.docs = ctx.spark.read.parquet(
            os.path.join(self.tables, "documents.parquet"))

    def op(self, ctx: Ctx, i: int, kind: str) -> Op:
        from pyspark.sql import functions as F

        from project_etl_spark.operators.llm_dedup import (
            _fragment_stats, merge_dedup_index, retract_dedup_index)
        spark, tr = ctx.spark, ctx.tracer
        base = ctx.path("index", f"op{i + 1000}")
        cleanup = lambda: shutil.rmtree(base, ignore_errors=True)  # noqa: E731

        if kind == "merge":
            k = int(ctx.rng.integers(0, 19))

            def run():
                with tr.span("llm_dedup.merge"):
                    return merge_dedup_index(
                        spark, self.docs, F.expr(f"doc_id % 19 = {k}"), base)

            def check(paths) -> list[str]:
                got = {}
                for name, cols in _FRAGS:
                    r = _fragment_stats(spark.read.parquet(paths[name]),
                                        name, cols).collect()[0]
                    got[name] = (r["n_rows"], r["n_docs"], r["checksum"])
                return [] if got == self.full_manifest else [
                    f"merge k={k}: manifest {got} != rebuild "
                    f"{self.full_manifest}"]
            return Op(kind, run, check, cleanup)

        if kind == "retract":
            j = int(ctx.rng.integers(0, 7))

            def run():
                with tr.span("llm_dedup.retract"):
                    return retract_dedup_index(
                        spark, self.docs, F.expr(f"doc_id % 7 = {j}"), base)

            def check(paths) -> list[str]:
                import pyarrow.dataset as ds
                n = ds.dataset(paths["members"], format="parquet").count_rows()
                want = int((self.doc_ids % 7 != j).sum())
                return [] if n == want else [
                    f"retract j={j}: {n} members, {want} survivors"]
            return Op(kind, run, check, cleanup)

        spec = ctx.registry["ext_dedup_incremental_indexed"]

        def indexed():
            with tr.span("llm_dedup.indexed_query"):
                df = spec.builder(spark, self.tables)
                if i < 0:   # warm round: the count is the output check
                    return df.count()
                _noop(df)
        def check(n) -> list[str]:
            if i >= 0 or n == self.indexed_rows:
                return []
            return [f"indexed query: {n} rows, oracle {self.indexed_rows}"]
        return Op(kind, indexed, check)


# ---------------------------------------------------------------------------
# analyst: both halves in one session
# ---------------------------------------------------------------------------

class Analyst(Workload):
    """An analyst's session: every ``SqlAnalyst`` query, then the three
    ``DedupIndex`` lifecycle ops, per round. One workload instead of two
    because each run pays 20-30 s of session start and warm-up, and the
    benchmark's budget (4 + 22 runs per workload in 3420 s) does not fit
    a third."""

    name = "analyst"

    def __init__(self, sql: SqlAnalyst | None = None,
                 dedup: DedupIndex | None = None):
        self.sql, self.dedup = sql or SqlAnalyst(), dedup or DedupIndex()
        self.kinds = self.sql.kinds + self.dedup.kinds
        self.round_s = self.sql.round_s + self.dedup.round_s

    def setup(self, ctx: Ctx) -> None:
        self.sql.setup(ctx)
        self.dedup.setup(ctx)

    def op(self, ctx: Ctx, i: int, kind: str) -> Op:
        part = self.dedup if kind in self.dedup.kinds else self.sql
        return part.op(ctx, i, kind)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (DaqBacklog, Analyst)}
