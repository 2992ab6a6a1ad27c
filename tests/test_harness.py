"""tools/harness.py: the shared min-of-N timer, the formatted-plan builder
and the status-store stage reader that bench.py and tools/ use."""

from pathlib import Path
from types import SimpleNamespace

import pytest

from dataframe_retail_e_inventarios_spark.registry import queries
from tests.conftest import SF_SMOKE
from tools import harness
from tools.harness import best_of, formatted_plan, job_stages, unpersist_new_rdds


def test_best_of_runs_fn_exactly_runs_times_and_returns_min(monkeypatch):
    ticks = iter([0.0, 5.0, 10.0, 12.0, 20.0, 23.0])  # durations 5, 2, 3
    monkeypatch.setattr(harness, "time", SimpleNamespace(perf_counter=lambda: next(ticks)))
    calls = []
    best, last = best_of(lambda: calls.append(len(calls)) or len(calls), 3)
    assert calls == [0, 1, 2]
    assert best == 2.0
    assert last == 3
    with pytest.raises(ValueError):
        best_of(lambda: None, 0)


def test_job_stages_reads_status_store_with_ui_off(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    sc.setLocalProperty("spark.jobGroup.id", "test_harness")
    try:
        queries()["flagship_inventory"](spark, SF_SMOKE).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    report = job_stages(spark, "test_harness")
    assert report
    stages = [s for _, per_job in report for s in per_job]
    assert stages
    assert any(s["task_s"] > 0 and s["tasks"] > 0 for s in stages)


def test_formatted_plan_is_the_same_for_the_same_plan(spark):
    # Built, not executed: explainString plans the query without running it.
    build = queries()["flagship_inventory"]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    first, second = build(spark, SF_SMOKE), build(spark, SF_SMOKE)
    raw = [df._jdf.queryExecution().explainString(mode) for df in (first, second)]
    assert raw[0] != raw[1]
    assert formatted_plan(spark, first) == formatted_plan(spark, second)


def test_formatted_plan_has_no_checkout_path(spark):
    # The partitioned flagship scans a table it writes under the checkout.
    df = queries()["flagship_inventory_partitioned"](spark, SF_SMOKE)
    text = formatted_plan(spark, df)
    assert str(Path(harness.__file__).resolve().parents[1]) + "/" not in text
    assert "<repo>/spark-warehouse/" in text


def test_unpersist_new_rdds_frees_only_what_the_block_pinned(spark):
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    start = persisted()
    before = spark.range(100).localCheckpoint(eager=True)
    pinned_before = persisted() - start
    assert pinned_before
    with unpersist_new_rdds(spark):
        inside = spark.range(50).localCheckpoint(eager=True)
        pinned_inside = persisted() - start - pinned_before
        assert pinned_inside
        assert inside.count() == 50
    assert not pinned_inside & persisted()
    assert pinned_before <= persisted()
    assert before.count() == 100
