"""Seeded input generators for the benchmark.

Two kinds of input:

- DAQ run files in the engine's 40-bit wire format
  (``project_etl_spark.decode``), packed with numpy instead of the
  per-frame ``encode_frames`` loop so a backlog of megabyte files is cheap
  to make. ``tests/test_perfbench.py`` pins the bytes to ``encode_frames``.
- The ten fixture tables the registered queries read (``io.TABLES``),
  with the schemas and value domains of the synthetic test fixture
  (FIXTURES.md), written as parquet into the benchmark's own work dir.

Everything is a pure function of the seed: the same seed gives the same
bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRAME_BYTES = 5
KIND = {"filler": 0, "header": 1, "data": 2, "trailer": 3}


# ---------------------------------------------------------------------------
# DAQ run files
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class RunFile:
    """One generated run file and the counts its decode must reproduce."""

    run: int
    rb: int
    blob: bytes
    n_frames: int          # every frame, filler included
    n_data: int            # data frames == hits after event building
    n_events: int          # distinct event ids that carry at least one hit
    chips: tuple[int, ...]  # elinks present in the file

    @property
    def name(self) -> str:
        return f"output_run_{self.run}_rb{self.rb}.dat"


def frame_arrays(rng: np.random.Generator, n_events: int, n_elinks: int,
                 mean_hits: float = 3.0,
                 filler_share: float = 1.0) -> dict[str, np.ndarray]:
    """Frame columns for one readout board: per event and elink a header
    (the L1A counter) followed by its data frames and, with probability
    ``filler_share``, one filler; one trailer at the end. Returned in wire
    order. The defaults follow ``examples/daq_session.py``'s run
    synthesizer (header, three hits and one filler per event), with the
    hit count drawn from a Poisson of the same mean."""
    n_groups = n_events * n_elinks
    hits = rng.poisson(mean_hits, n_groups)
    group_elink = np.tile(np.arange(n_elinks), n_events)
    group_event = np.repeat(np.arange(1, n_events + 1), n_elinks)
    # each group is [header, data * hits]; fillers go after a group
    fill = rng.random(n_groups) < filler_share
    sizes = 1 + hits + fill
    n = int(sizes.sum()) + 1
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    group_of = np.repeat(np.arange(n_groups), sizes)
    pos = np.arange(n - 1) - starts[group_of]

    kind = np.full(n, KIND["trailer"], dtype=np.int64)
    body = kind[:-1]
    body[:] = KIND["data"]
    body[pos == 0] = KIND["header"]
    body[fill[group_of] & (pos == sizes[group_of] - 1)] = KIND["filler"]
    elink = np.zeros(n, dtype=np.int64)
    elink[:-1] = group_elink[group_of]
    event_id = np.zeros(n, dtype=np.int64)
    event_id[:-1] = group_event[group_of]
    row = rng.integers(0, 16, n)
    col = rng.integers(0, 16, n)
    # TOA around a per-pixel baseline, so calibrate has a real spread
    toa = np.clip(180 + row * 3 + col + rng.normal(0, 6, n).astype(np.int64),
                  0, 1023)
    tot = rng.integers(20, 120, n)
    return {"kind": kind, "elink": elink, "event_id": event_id, "row": row,
            "col": col, "toa": toa, "tot": tot}


def pack_frames(f: dict[str, np.ndarray]) -> bytes:
    """Vectorised twin of ``decode.encode_frames`` over frame columns."""
    kind = f["kind"].astype(np.uint64)
    word = (kind & 0x3) << 38 | (f["elink"].astype(np.uint64) & 0x3F) << 32
    data = kind == KIND["data"]
    header = kind == KIND["header"]
    payload = ((f["row"].astype(np.uint64) & 0xF) << 28
               | (f["col"].astype(np.uint64) & 0xF) << 24
               | (f["toa"].astype(np.uint64) & 0x3FF) << 14
               | (f["tot"].astype(np.uint64) & 0x1FF) << 5)
    word |= np.where(data, payload, 0).astype(np.uint64)
    word |= np.where(header, f["event_id"].astype(np.uint64) & 0xFFFFFFFF,
                     0).astype(np.uint64)
    big = word.astype(">u8").view(np.uint8).reshape(-1, 8)
    return big[:, 8 - FRAME_BYTES:].tobytes()


def frames_as_dicts(f: dict[str, np.ndarray]) -> list[dict]:
    """The same frames in ``encode_frames``' input form (test reference)."""
    names = {v: k for k, v in KIND.items()}
    out = []
    for i in range(len(f["kind"])):
        kind = names[int(f["kind"][i])]
        d = {"kind": kind, "elink": int(f["elink"][i])}
        if kind == "header":
            d["event_id"] = int(f["event_id"][i])
        elif kind == "data":
            d.update(row=int(f["row"][i]), col=int(f["col"][i]),
                     toa=int(f["toa"][i]), tot=int(f["tot"][i]))
        out.append(d)
    return out


def run_file(rng: np.random.Generator, run: int, rb: int, n_events: int,
             n_elinks: int) -> RunFile:
    f = frame_arrays(rng, n_events, n_elinks)
    data = f["kind"] == KIND["data"]
    return RunFile(run=run, rb=rb, blob=pack_frames(f),
                   n_frames=len(f["kind"]), n_data=int(data.sum()),
                   n_events=len(np.unique(f["event_id"][data])),
                   chips=tuple(int(e) for e in np.unique(f["elink"][data])))


def write_atomic(directory: str, name: str, blob: bytes) -> str:
    """Land a file the way a DAQ writer should: write aside, then rename,
    so a watcher never lists a half-written file."""
    path = os.path.join(directory, name)
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Fixture tables
# ---------------------------------------------------------------------------

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(outdir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def documents(rng: np.random.Generator, n_docs: int,
              dup_share: float = 0.02) -> pa.Table:
    """Word-salad documents over the fixture's 31-word vocabulary, with a
    share of exact duplicates planted so dedup has groups to collapse."""
    vocab = np.array(VOCAB)
    n_words = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, n_words)]
    victims = rng.choice(np.arange(1, n_docs), int(n_docs * dup_share),
                         replace=False)
    for v in victims:
        text[v] = text[int(rng.integers(0, v))]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def write_tables(outdir: str, seed: int, sf: float = 0.1,
                 n_docs: int | None = None) -> str:
    """Write all ten fixture tables at scale ``sf`` (lineitem ~6M * sf
    rows) into ``outdir``; returns ``outdir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_emb = int(1_000_000 * sf), int(20_000 * sf)
    n_docs = n_docs or int(50_000 * sf)

    _write(outdir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(outdir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(outdir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)]})
    _write(outdir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot",
                    "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate",
                     "rod", "anvil"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(outdir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    _write(outdir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    _write(outdir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86_400_000_000, n_ev)
                 .astype("timedelta64[us]"))
    _write(outdir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    pq.write_table(documents(rng, n_docs),
                   os.path.join(outdir, "documents.parquet"))
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 0.15, (10, 64))
    vecs = (centroids[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(
        np.float32)
    _write(outdir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return outdir
