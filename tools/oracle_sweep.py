"""Full-registry differential sweep at an arbitrary scale factor.

Mirrors the external driver's t2 gate (and tests/test_oracle.py) but as a
standalone CLI that emits ONE JSON artifact, so the hash contract can be
exercised at sf0.1 — ten times the scale the per-round driver sweep binds
at — and the result committed as round evidence (VERDICT r7 task 2: int64
headroom bugs of the `ext_chi2_independence` class hide at sf0.01 and
would have been caught empirically by a 10x fixture).

Usage:
    python tools/oracle_sweep.py [--sf-dir /root/testdata/sf0.1] \
        [--out ORACLE_SF01_r08.json] [--bitexact] [--only name1,name2]

Per query it records rows/schema-kind/value matches exactly like the
driver (order-insensitive, column-name-sorted), plus a FLOAT-HEX
bit-identity flag when --bitexact is set. Exit code 1 if any query fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from project_etl_spark.io import TABLES  # noqa: E402
from project_etl_spark.registry import load_all  # noqa: E402
from project_etl_spark.session import get_spark  # noqa: E402
from tools import gen_evidence  # noqa: E402

_KIND = {
    "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
    "float": "f", "double": "f", "boolean": "b", "string": "s",
    "date": "d", "timestamp": "t", "timestamp_ntz": "t",
}


def _arrow_kind(t) -> str:
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "i"
    if pt.is_floating(t) or pt.is_decimal(t):
        return "f"
    if pt.is_boolean(t):
        return "b"
    if pt.is_string(t) or pt.is_large_string(t):
        return "s"
    if pt.is_timestamp(t):
        return "t"
    if pt.is_date(t):
        return "d"
    return "?"


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        # NaN must stay distinguishable from NULL even in the default
        # (non --bitexact) sweep: mapping NaN -> None would mask exactly
        # the divide-by-zero divergence class (Spark NaN vs DuckDB NULL)
        # the WHERE guards exist for (round-8 ADVICE).
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if hasattr(v, "item"):
        return _norm_cell(v.item())
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _hexcanon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        tuple((r[i].hex() if isinstance(r[i], float) else str(r[i]))
              for i in order)
        for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="ORACLE_SWEEP.json")
    ap.add_argument("--bitexact", action="store_true")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = get_spark("oracle-sweep", master=f"local[{cpus}]",
                      extra_conf={"spark.sql.shuffle.partitions": "32",
                                  "spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf_dir}/{t}.parquet')")

    registry = load_all()
    names = [n for n in registry]
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    t0 = time.time()
    results: dict[str, dict] = {}
    n_fail = 0
    for i, name in enumerate(names):
        spec = registry[name]
        rec: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "bitexact": None,
                     "spark_rows": None, "oracle_rows": None,
                     "sec": None, "err": None}
        try:
            tq = time.time()
            sdf = spec.builder(spark, args.sf_dir)
            spark_cols = sdf.columns
            spark_kinds = {f.name: _KIND.get(f.dataType.simpleString(), "?")
                           for f in sdf.schema.fields}
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
            if not spec.oracle:
                rec["rows_match"] = rec["schema_match"] = True
                rec["hash_match"] = "rows_only"
                rec["sec"] = round(time.time() - tq, 3)
            else:
                arrow = con.execute(spec.oracle).fetch_arrow_table()
                ddb_cols = arrow.schema.names
                ddb_kinds = {f.name: _arrow_kind(f.type)
                             for f in arrow.schema}
                ddb_rows = [tuple(r.values()) for r in arrow.to_pylist()]
                rec["oracle_rows"] = len(ddb_rows)
                rec["rows_match"] = len(spark_rows) == len(ddb_rows)
                rec["schema_match"] = (
                    sorted(spark_cols) == sorted(ddb_cols)
                    and all(spark_kinds[c] == ddb_kinds[c]
                            for c in spark_kinds))
                rec["hash_match"] = (
                    _normalize(spark_rows, spark_cols)
                    == _normalize(ddb_rows, ddb_cols))
                if args.bitexact:
                    rec["bitexact"] = (
                        _hexcanon(spark_rows, spark_cols)
                        == _hexcanon(ddb_rows, ddb_cols))
                rec["sec"] = round(time.time() - tq, 3)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        ok = (rec["err"] is None and rec["rows_match"]
              and rec["schema_match"]
              and rec["hash_match"] in (True, "rows_only")
              and rec["bitexact"] in (True, None))
        if not ok:
            n_fail += 1
            print(f"[{i+1}/{len(names)}] FAIL {name}: {rec}", flush=True)
        elif (i + 1) % 25 == 0:
            print(f"[{i+1}/{len(names)}] ... {name} ok "
                  f"({time.time()-t0:.0f}s elapsed)", flush=True)
        results[name] = rec

    artifact = {
        "sf_dir": args.sf_dir,
        "bitexact": args.bitexact,
        "n_queries": len(names),
        "n_fail": n_fail,
        "total_sec": round(time.time() - t0, 1),
        "queries": results,
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"{len(names) - n_fail}/{len(names)} green -> {args.out} "
          f"({artifact['total_sec']}s)")
    # EVIDENCE.md cites the newest committed sweep artifact, so every
    # artifact write must refresh the ledger or it goes stale
    gen_evidence.main()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
