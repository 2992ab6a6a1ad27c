"""Dump formatted physical plans for NAMED queries to a directory:

    python tools/dump_plans.py --out plans --suffix before name ...

Explain-only (no timed execution — queries whose builders materialize
intermediates inside the function body do run those side effects, at
the sf0.001 default scale). Companion to tools/opt_probe.py when only
the plan artifact is needed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from tools.harness import formatted_plan


def main() -> None:
    argv = sys.argv[1:]
    out_dir = "plans"
    suffix = "before"
    sf_dir = "/root/testdata/sf0.001"
    names: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--out":
            out_dir = argv[i + 1]; i += 2
        elif a == "--suffix":
            suffix = argv[i + 1]; i += 2
        elif a == "--sf":
            sf_dir = argv[i + 1]; i += 2
        else:
            names.append(a); i += 1
    spark = get_spark("dump-plans")
    qs = queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = formatted_plan(spark, qs[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{path}: Exchange x{plan.count('Exchange')}")


if __name__ == "__main__":
    main()
