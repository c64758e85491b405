"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at a given sf_dir and compares against its
``oracle_sql()`` twin in DuckDB: row count, schema (sorted column names),
and an order-insensitive value comparison (columns sorted by name, rows
sorted, values normalized). Usage:

    python tools/oracle_check.py [--extra] [--json PATH] [sf_dir] [query ...]

``--extra`` checks the EXTRA-tier entries (outside the driver's graded
window) with the identical protocol instead of the graded tier.
``--json PATH`` additionally writes a driver-format correctness artifact
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}) so ungraded tiers get the same evidence shape as CORRECTNESS_r{N}
(rows-only entries carry null schema/hash fields).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from parallel_dataflow_spark.session import get_spark
from parallel_dataflow_spark.sources.tables import TABLES


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, str):
        # Tagged so a string never collides with a number: the driver's
        # value-hash is typed ("42" != 42 — the exact r3 running_doc_stats
        # failure this local gate couldn't see).
        return "str:" + v
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main():
    argv = sys.argv[1:]
    extra = "--extra" in argv
    argv = [a for a in argv if a != "--extra"]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as drv

    if extra:
        from parallel_dataflow_spark.plans.registry import (
            EXTRA_ORACLE_SQL,
            EXTRA_QUERIES,
        )

        qs, oracles = EXTRA_QUERIES, EXTRA_ORACLE_SQL
    else:
        # build only the oracles of the queries that run: a lazy one may
        # need inputs (the Bril corpus) that a subset run does not
        from parallel_dataflow_spark.plans.registry import (
            LAZY_ORACLE_SQL,
            ORACLE_SQL,
        )

        qs = drv.queries()
        oracles = {
            n: ORACLE_SQL[n] if n in ORACLE_SQL else LAZY_ORACLE_SQL[n]()
            for n in only or qs
            if n in ORACLE_SQL or n in LAZY_ORACLE_SQL
        }

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:500],
            }
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            report[name] = {
                "rows_match": True, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None,
            }
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"duckdb error: {e}"[:500],
            }
            n_fail += 1
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        issues = []
        if sc != dc:
            issues.append(f"schema {sc} vs {dc}")
        if len(sr) != len(dr):
            issues.append(f"rowcount {len(sr)} vs {len(dr)}")
        if not issues and sr != dr:
            k = sum(1 for a, b in zip(sr, dr) if a != b)
            first = next(((a, b) for a, b in zip(sr, dr) if a != b), None)
            issues.append(f"values differ in {k}/{len(sr)} rows; first diff {first}")
        report[name] = {
            "rows_match": len(sr) == len(dr),
            "schema_match": sc == dc,
            "hash_match": sr == dr and sc == dc and len(sr) == len(dr),
            "spark_rows": len(sr),
            "oracle_rows": len(dr),
            "err": "; ".join(issues)[:500] if issues else None,
        }
        if issues:
            print(f"FAIL  {name}: {'; '.join(issues)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"OK    {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=1)

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
