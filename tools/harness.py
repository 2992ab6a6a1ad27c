"""Measurement helpers shared by bench.py and tools/: the min-of-N timing
loop, the formatted physical plan, and per-stage metrics of a job group
read from the SparkContext's live status store (no UI or REST server
needed, so it works under ``session.get_spark``'s ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import re
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

from perfbench.tracing import StatusStore, _seq


def best_of(fn, runs: int):
    """Call ``fn()`` ``runs`` times; return (fastest wall seconds, last result)."""
    if runs < 1:
        raise ValueError(f"runs must be >= 1, got {runs}")
    best = float("inf")
    out = None
    for _ in range(runs):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


# Numbers in plan text that come from JVM-global counters, so the same
# plan built twice prints them differently: expression ids, exchange
# plan ids, lambda-variable suffixes and RDD ids.
_COUNTERS = (
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(lambda \w+?_)(\d+)\b"),
    re.compile(r"(RDD\[)(\d+)"),
)


def _renumber(text: str, pattern: re.Pattern) -> str:
    """Replace each distinct counter value by its order of first appearance."""
    ids: dict[str, int] = {}

    def sub(m: re.Match) -> str:
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids)))

    return pattern.sub(sub, text)


# The checkout's own root, printed as "<repo>/" so a plan that reads a
# table under the checkout (spark-warehouse/) prints the same in any checkout.
_REPO_ROOT = str(Path(__file__).resolve().parents[1]) + "/"


def formatted_plan(spark, df) -> str:
    """``df.explain("formatted")`` as a string, with every JVM-global
    counter renumbered per plan and the checkout root replaced by
    ``<repo>``, so the same plan always prints the same."""
    text = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pattern in _COUNTERS:
        text = _renumber(text, pattern)
    return text.replace(_REPO_ROOT, "<repo>/")


def job_stages(spark, group: str) -> list[tuple]:
    """(job, completed stages) for every job of job group ``group``.

    Each stage is a dict of its id, first name line, completed tasks,
    task time in seconds, shuffle read/write bytes and input bytes.
    """
    store = StatusStore(spark.sparkContext)
    status = store.jsc.statusStore()
    empty = store.jvm.java.util.ArrayList()
    no_q = store.sc._gateway.new_array(store.jvm.double, 0)
    out = []
    for job in store.jobs():
        if job.group != group:
            continue
        stages = []
        for sid in sorted(job.stages):
            try:
                attempts = _seq(status.stageData(sid, False, empty, False, no_q))
            except Py4JJavaError:  # skipped, or no longer retained by the store
                continue
            for st in attempts:
                if str(st.status()) != "COMPLETE":
                    continue
                stages.append(
                    {
                        "stage": sid,
                        "name": st.name().split("\n")[0],
                        "tasks": st.numCompleteTasks(),
                        "task_s": st.executorRunTime() / 1000.0,
                        "shuffle_read": st.shuffleReadBytes(),
                        "shuffle_write": st.shuffleWriteBytes(),
                        "input": st.inputBytes(),
                    }
                )
        out.append((job, stages))
    return out
