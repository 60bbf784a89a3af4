"""Replicate the driver's correctness gate at sf0.01.

Runs every __spark_entry__.queries() entry against its oracle_sql() on
DuckDB, comparing row count, column names (sorted), and a value hash
(rows sorted, floats rounded to 6dp). Prints one line per query and a
summary; exit 1 on any mismatch.
"""
import decimal
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as em
from apollo_service_spark.plans.queries import release_all
from apollo_service_spark.session import build_session

USAGE = "usage: python scripts/verify_gate.py [--json OUT.json] [query ...]"

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        # + 0.0 folds -0.0 into 0.0 so the engines can't disagree on sign
        return f"{f + 0.0:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if v is None:
        return ""
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print(f"--json needs a path\n{USAGE}", file=sys.stderr)
            sys.exit(2)
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)
    spark = build_session(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    queries = em.queries()
    oracles = em.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)
    bad = []
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name}: rows-only ({len(srows)} rows, no oracle)")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            sc, sr = _canon(scols, srows)
            oc, orr = _canon(ocols, orows)
            ok_rows = len(sr) == len(orr)
            ok_schema = sc == oc
            ok_hash = sr == orr
            status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
            # the driver's CORRECTNESS_r*.json row schema, verbatim
            results[name] = {
                "rows_match": ok_rows,
                "schema_match": ok_schema,
                "hash_match": ok_hash,
                "spark_rows": len(sr),
                "oracle_rows": len(orr),
                "err": None,
            }
            if status == "FAIL":
                bad.append(name)
                detail = {
                    "rows": (len(sr), len(orr)),
                    "schema": (sc, oc) if not ok_schema else "match",
                }
                if ok_schema and ok_rows and not ok_hash:
                    for a, b in zip(sr, orr):
                        if a != b:
                            detail["first_diff"] = (a, b)
                            break
                print(f"{name}: FAIL {json.dumps(detail, default=str)[:500]}")
            else:
                print(f"{name}: OK ({len(sr)} rows)")
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {e}",
            }
            print(f"{name}: ERR {type(e).__name__}: {e}")
        finally:
            release_all()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{len(bad)} failures" + (f": {bad}" if bad else ""))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
