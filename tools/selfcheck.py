"""Run every registered query against its DuckDB oracle at a given
scale factor. Usage:

    python tools/selfcheck.py [--json OUT.json] [sf_dir] [name_filter ...]

With --json, writes a driver-shaped report: one row per query with
rows/schema/hash match flags, so the full registry has committed
hard-signal evidence even when a later check samples a subset.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_retail_e_inventarios_spark.registry import oracle_sql, queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.testing import compare_query
from tools.harness import unpersist_new_rdds


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    headline_only = False
    # Flags accepted in any order (an order-sensitive parse once made
    # `--headline --json out.json` treat '--json' as the sf_dir).
    rest: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--json":
            if i + 1 >= len(argv):
                print("--json requires an output path", file=sys.stderr)
                return 2
            json_out = argv[i + 1]
            i += 2
        elif a == "--headline":
            headline_only = True
            i += 1
        elif a.startswith("--"):
            print(f"unknown flag {a!r}", file=sys.stderr)
            return 2
        else:
            rest.append(a)
            i += 1
    argv = rest
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    # split commas too: a comma-joined list would otherwise be ONE
    # filter that matches nothing -> vacuous "ALL OK" (bitten once).
    filters = [p for a in argv[1:] for p in a.split(",") if p]
    headline = None
    if headline_only:
        from bench import HEADLINE

        headline = set(HEADLINE)
    spark = get_spark("selfcheck")
    qs, oracles = queries(), oracle_sql()
    report: dict[str, dict] = {}
    failed = 0
    for name, fn in qs.items():
        if headline is not None and name not in headline:
            continue
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            with unpersist_new_rdds(spark):
                res = compare_query(spark, name, fn, oracles[name], sf_dir)
            ok = res.ok
            print(f"{res}  ({time.time()-t0:.1f}s)", flush=True)
            report[name] = {
                "rows_match": res.rows_spark == res.rows_oracle,
                "schema_match": not any("columns differ" in i for i in res.issues),
                "hash_match": res.ok,
                "spark_rows": res.rows_spark,
                "oracle_rows": res.rows_oracle,
                "err": None if ok else "; ".join(res.issues[:3]),
                "sec": round(time.time() - t0, 2),
            }
        except Exception as e:
            ok = False
            print(f"[ERR ] {name}: {type(e).__name__}: {str(e)[:500]}", flush=True)
            report[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {str(e)[:300]}",
                "sec": round(time.time() - t0, 2),
            }
        failed += (not ok)
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": report}, f, indent=1)
        print(f"wrote {json_out} ({len(report)} queries)")
    if not report:
        print("\nNO QUERIES MATCHED — check the filter")
        return 2
    print(f"\n{'ALL OK' if not failed else f'{failed} FAILED'}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
