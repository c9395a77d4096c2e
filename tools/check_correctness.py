"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count + schema width + order-insensitive value hash (columns sorted by
name, floats rounded to 9 significant digits).

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Exit 0 when every selected query matches its oracle, 1 on any failure, 2
on a usage error: an unknown query name, or a selection that ran no query.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for _, row in df.iterrows():
        cells = []
        for v in row:
            if isinstance(v, float):
                cells.append(f"{v:.9g}")
            elif isinstance(v, bool):
                cells.append(str(bool(v)))
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("error: --json requires a path argument", file=sys.stderr)
            return 2
        json_path = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    import __spark_entry__ as entrymod
    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        print(f"error: no such query: {', '.join(unknown)}", file=sys.stderr)
        return 2
    # fixture-backed oracles must read the SAME scale the queries run at;
    # they resolve the name under /root/testdata, so a custom sf_dir outside
    # that root would silently point them at the wrong data (ADVICE r6)
    if os.path.dirname(os.path.abspath(sf_dir.rstrip("/"))) != "/root/testdata":
        print(f"error: sf_dir must live under /root/testdata "
              f"(fixture-backed oracles resolve scale names there), "
              f"got {sf_dir}", file=sys.stderr)
        return 2
    os.environ["SPARK_GRAFT_ORACLE_SF"] = os.path.basename(
        sf_dir.rstrip("/"))
    from bloom_filter_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            record[name] = {"ok": False, "err": f"spark error: {e}"[:300]}
            failures += 1
            continue
        took = time.time() - t0
        if name not in oracles:
            # LOUD (r6 verdict #5): a silently-degraded rows-only check is a
            # gate failure — fixture-fallback oracles must not vanish quietly
            print(f"FAIL  {name}: rows={len(sdf)} ({took:.1f}s) — NO ORACLE")
            record[name] = {"ok": False, "rows": len(sdf), "sec": round(took, 2),
                            "err": "no oracle registered"}
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            record[name] = {"ok": False, "err": f"oracle error: {e}"[:300]}
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and canon(sdf) != canon(odf):
            problems.append("value hash mismatch")
            merged = sdf.reindex(sorted(sdf.columns), axis=1)
            print(merged.head(3).to_string(), "\n--- oracle ---\n",
                  odf.reindex(sorted(odf.columns), axis=1).head(3).to_string())
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({took:.1f}s)")
            record[name] = {"ok": False, "err": "; ".join(problems),
                            "sec": round(took, 2)}
            failures += 1
        else:
            print(f"ok    {name}: rows={len(sdf)} hash match ({took:.1f}s)")
            record[name] = {"ok": True, "rows": len(sdf), "sec": round(took, 2)}
    if not record:
        print("error: no query ran", file=sys.stderr)
        return 2
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_path:
        import json as _json
        ok = sum(1 for r in record.values() if r["ok"])
        with open(json_path, "w") as f:
            _json.dump({"sf_dir": sf_dir, "n_queries": len(record),
                        "n_oracles": sum(1 for n in record if n in oracles),
                        "n_ok": ok, "all_ok": failures == 0,
                        "total_spark_sec": round(sum(
                            r.get("sec", 0) for r in record.values()), 1),
                        "queries": record}, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
