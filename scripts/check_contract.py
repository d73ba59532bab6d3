"""Local stand-in for the driver's correctness gate: runs every
__spark_entry__ query and compares row count + sorted values against
the DuckDB oracle.

Usage: python scripts/check_contract.py [--json OUT.json] [sf_dir] [only_query ...]

--json writes a per-round machine-readable artifact (one row per
registered query: status ok/rows-only/fail, row count, seconds) so the
full-contract evidence is committed even when the driver's own gate
samples a subset of the registry (r5 verdict item #4: the driver ran
50/54 and orphaned four green rows).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            elif isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def check(spark, con, sf_dir, fn, oracle):
    """Run one query on ``spark`` and compare its rows with ``oracle``
    (DuckDB SQL on ``con``, or None): (status, n_rows, detail) with
    status "ok", "rows-only" or "fail"; detail says why it failed."""
    try:
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
    except Exception as exc:  # noqa: BLE001
        return "fail", 0, f"spark error {type(exc).__name__}: {exc}"
    if oracle is None:
        return "rows-only", len(rows), None
    try:
        res = con.sql(oracle)
        o_cols = res.columns
        o_rows = res.fetchall()
    except Exception as exc:  # noqa: BLE001
        return "fail", len(rows), f"duckdb error {exc}"
    if sorted(cols) != sorted(o_cols):
        return "fail", len(rows), f"columns {sorted(cols)} != {sorted(o_cols)}"
    a = normalize(rows, cols)
    b = normalize(o_rows, o_cols)
    if len(a) != len(b):
        return "fail", len(a), f"{len(a)} spark rows vs {len(b)} oracle rows"
    if a != b:
        diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
        detail = f"value mismatch at sorted rows {diff}"
        for i in diff[:2]:
            detail += f"\n      spark : {a[i]}\n      oracle: {b[i]}"
        return "fail", len(a), detail
    return "ok", len(a), None


def parse_args(argv):
    """(json_out, sf_dir, only) from the command-line arguments."""
    argv = list(argv)
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: check_contract.py [--json OUT.json] "
                     "[sf_dir] [only_query ...]")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    return json_out, sf_dir, set(argv[1:])


def connect(sf_dir):
    """A DuckDB connection with one view per contract table of ``sf_dir``."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in entrymod._TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def main():
    json_out, sf_dir, only = parse_args(sys.argv[1:])
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from weak_supervision_for_ner_spark.config import get_spark

    spark = get_spark("contract-check", cores=8, shuffle_partitions=8)
    con = connect(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results = {}

    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status, n_rows, detail = check(spark, con, sf_dir, fn, oracles.get(name))
        sec = time.time() - t0
        results[name] = {"status": status, "rows": n_rows, "sec": round(sec, 2)}
        if detail:
            results[name]["detail"] = detail
        if status == "fail":
            failures.append(name)
            print(f"FAIL  {name}: {detail}")
        elif status == "rows-only":
            print(f"rows  {name}: {n_rows} rows ({sec:.1f}s) [no oracle]")
        else:
            print(f"ok    {name}: {n_rows} rows match ({sec:.1f}s)")
    n_run = len([q for q in queries if not only or q in only])
    print("\n%d/%d failed" % (len(failures), n_run))
    if json_out:
        summary = {
            "sf_dir": sf_dir,
            "n_registered": len(queries),
            "n_run": n_run,
            "n_ok": sum(1 for r in results.values() if r["status"] == "ok"),
            "n_rows_only": sum(1 for r in results.values()
                               if r["status"] == "rows-only"),
            "n_failed": len(failures),
            "failures": failures,
            "load_1m": round(os.getloadavg()[0], 2),
            "queries": results,
        }
        with open(json_out, "w") as fd:
            json.dump(summary, fd, indent=1)
        print(f"wrote {json_out}")
    if failures:
        print("failures:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
