"""Optimization probe: isolated timing + stage-level breakdown for
named registered queries.

Usage:
    python tools/opt_probe.py [--sf SF_DIR] [--runs N] name [name ...]

For each query: warm the JVM once, then run count() N times (min
reported). Each run carries its own Spark job group, and the per-stage
tasks, task time, shuffle read/write and input bytes of the LAST run are
read from the live status store (tools/harness.job_stages), so the slow
stage — scan, exchange, python eval — is attributable without guesswork
(guide §1.1/§7.1). The session is ``session.get_spark``, the one tests
and bench use. For the formatted plan, use tools/dump_plans.py.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from tools.harness import best_of, job_stages


def stage_report(spark, group: str) -> list[str]:
    out = []
    for job, stages in job_stages(spark, group):
        out.append(f"  job {job.job_id:>3} [{job.name[:60]}]")
        for s in stages:
            out.append(
                f"    stage {s['stage']:>4} tasks={s['tasks']:>3}"
                f" taskTime={s['task_s']:7.2f}s"
                f" shufR={s['shuffle_read'] >> 10}K"
                f" shufW={s['shuffle_write'] >> 10}K"
                f" in={s['input'] >> 10}K  {s['name'][:70]}"
            )
    return out


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    names: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            sf_dir = argv[i + 1]; i += 2
        elif a == "--runs":
            runs = int(argv[i + 1]); i += 2
        else:
            names.append(a); i += 1
    spark = get_spark("opt-probe")
    sc = spark.sparkContext
    qs = queries()
    qs["flagship_inventory"](spark, "/root/testdata/sf0.001").count()  # warm

    results = {}
    for name in names:
        fn = qs[name]
        run_ids = itertools.count()

        def run():
            group = f"{name} run{next(run_ids)}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            fn(spark, sf_dir).count()
            return group

        gc.collect()
        best, last_group = best_of(run, runs)
        sc.setLocalProperty("spark.jobGroup.id", None)
        results[name] = round(best, 3)
        print(f"\n=== {name}: min {best:.3f}s of {runs} runs")
        for line in stage_report(spark, last_group):
            print(line)
    print("\n" + json.dumps(results))


if __name__ == "__main__":
    main()
