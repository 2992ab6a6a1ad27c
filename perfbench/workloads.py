"""The benchmark's workloads: the reference retail workflow and a mix of
registered queries.

Each workload makes its inputs from the seed (``prepare``), runs one
pass (``run_pass``; ``WARM_PASSES`` of them warm a session up) untraced
or traced, turns a traced pass into per-layer metrics
(``layer_metrics``) and checks the outputs of the last pass (``check``).

Layers are named by module. A traced pass wraps the module attributes
that the layer above resolves at call time (``INNER``), so it runs the
same code as an untraced pass, with each layer's output materialized.
"""

from __future__ import annotations

import builtins
import glob
import os
from unittest import mock

import numpy as np
import pandas as pd

import gen
from tracing import BUILD, Tracer, attribute, plan_shape

from dataframe_retail_e_inventarios_spark import registry, testing
from dataframe_retail_e_inventarios_spark.plans import flagship, pipeline, queries_forecast
from dataframe_retail_e_inventarios_spark.plans.pipeline import (
    build_report,
    forecast_inventory,
    load_ventas,
    read_results_csv,
    write_results_csv,
)
from dataframe_retail_e_inventarios_spark.plans.report_render import render_report
from dataframe_retail_e_inventarios_spark.schemas import (
    FORECAST_RESULTS_CSV_SCHEMA,
    VENTAS_SCHEMA,
)
from dataframe_retail_e_inventarios_spark.sources.readers import read_csv

KEYS = ["product_id", "store_id"]
SECTION = "Analisis Detallado de SKU:"
REFERENCE_SAMPLE = 60  # series compared against the pandas reference port
MAPE_DIGITS = 3  # decimals of MAPE in the results and in the reference port
FLOAT_NOISE = 1e-9  # relative difference of two float orders of the same sum

# Layers timed by span, each with self time, task time, shuffle and spill.
LAYERS = ("sources", "resample", "winsorize", "stats", "fit", "sink", "report", "render")

# (module, attribute) -> (layer, materialize the output?)
INNER = {
    (flagship, "weekly_dense_resample"): ("resample", True),
    (pipeline, "weekly_dense_resample"): ("resample", True),
    (flagship, "winsorize_by_group"): ("winsorize", False),
    (flagship, "add_recency_rank"): ("winsorize", True),
    (queries_forecast, "weekly_dense_resample"): ("resample", True),
    (queries_forecast, "forecast_with_models"): ("fit", True),
}


def _group_metrics(store, by_group: dict, groups) -> dict[str, float]:
    return store.stage_metrics([s for g in groups for j in by_group.get(g, []) for s in j.stages])


def _common_metrics(t: Tracer, store, jobs) -> dict[str, float]:
    """Per-layer times, series counts of the resample layer, jobs
    started while plans were built, and Spark runtime totals of one traced pass."""
    by_group = attribute(jobs, t.spans)
    selfs = t.self_times()
    m: dict[str, float] = {}
    for layer in LAYERS:
        st = _group_metrics(store, by_group, (layer, layer + BUILD))
        m[f"{layer}.s"] = selfs.get(layer, 0.0)
        for k in ("task_s", "shuffle_mb", "spill_mb"):
            m[f"{layer}.{k}"] = st[k]
    if "resample" in t.outputs:
        series_in = t.inputs["resample"].select(*KEYS).distinct().count()
        admitted = t.outputs["resample"].select(*KEYS).distinct().count()
        m["resample.series_in"] = series_in
        m["resample.series_admitted"] = admitted
        m["resample.admit_ratio"] = admitted / series_in if series_in else 0.0
    build_groups = [g for g in by_group if g and g.endswith(BUILD)]
    m["build.jobs"] = sum(len(by_group[g]) for g in build_groups)
    m["build.task_s"] = _group_metrics(store, by_group, build_groups)["task_s"]
    tot = store.stage_metrics([s for j in jobs for s in j.stages])
    m["spark.failed_tasks"] = tot["failed_tasks"]
    m["spark.gc_s"] = tot["gc_s"]
    return m


def _plan_metrics(frames) -> dict[str, int]:
    tot: dict[str, int] = {}
    for df in frames:
        for k, v in plan_shape(df).items():
            tot[f"plan.{k}"] = tot.get(f"plan.{k}", 0) + v
    return tot


# ---------------------------------------------------------------------------
# Retail workflow
# ---------------------------------------------------------------------------


class RetailNative:
    """The README workflow on the native plan: ventas.csv -> load_ventas
    -> forecast_inventory -> write_results_csv -> read_results_csv ->
    build_report -> render_report."""

    # Passes keep getting faster until about the seventh: one seed on
    # 4 vCPUs ran 13.7, 4.7, 3.4, 3.5, 2.8, 2.9, 2.7, 2.4, 2.2 and 2.5 s.
    # Ten seeds gave a wall_s IQR/median of 0.29 after three warm-ups
    # and 0.15 after six.
    WARM_PASSES = 6

    def __init__(self, work: str):
        self.work = work
        self.res_dir = os.path.join(work, "out", "results_csv")
        self.doc_path = os.path.join(work, "out", "informe.txt")
        self.plain_frames: tuple = ()

    def prepare(self, seed: int) -> dict:
        self.seed = seed
        d, sizes = gen.cached("ventas", seed, os.path.join(self.work, "data"))
        self.csv = os.path.join(d, "ventas.csv")
        return {"ventas": sizes}

    def run_pass(self, spark, t) -> tuple[int, int, list[str]]:
        with t.patch(INNER):
            sales = t.call("sources", load_ventas, spark, self.csv, force=True)
            results = t.call("stats", forecast_inventory, sales, force=True)
            t.call("sink", write_results_csv, results, self.res_dir)
            report = t.call(
                "report", lambda: build_report(read_results_csv(spark, self.res_dir)), force=True
            )
            t.call("render", render_report, report, self.doc_path)
        if not t.traced:
            self.plain_frames = (results, report)
        return 1, 0, []

    def plan_metrics(self) -> dict[str, int]:
        return _plan_metrics(self.plain_frames)

    def layer_metrics(self, spark, t: Tracer, store, jobs) -> dict[str, float]:
        m = _common_metrics(t, store, jobs)
        m.update({
            "sources.rows_in": read_csv(spark, self.csv, VENTAS_SCHEMA).count(),
            "sources.rows_kept": t.outputs["sources"].count(),
            "sink.bytes": _dir_bytes(self.res_dir),
            "report.rows": t.outputs["report"].count(),
            "report.header_mismatch_files": header_mismatch_files(self.res_dir),
            "render.bytes": os.path.getsize(self.doc_path),
            "build.s": t.build_self_s(),
        })
        return m

    def predicted_zero(self) -> tuple[str, ...]:
        """No eager materialization inside the retail layers, and no
        model fit on the native path."""
        return ("build.jobs", "build.task_s", "fit.s", "fit.task_s", "plan.python_nodes")

    def check(self, spark) -> dict[str, list[str]]:
        """Problems in the last pass's outputs (one operation): results
        against the pandas port of the reference pipeline on a seeded
        sample of series; report rows and document sections against
        result rows."""
        res = read_results_frame(self.res_dir)
        problems = self._check_reference(res)
        n_report = build_report(read_results_csv(spark, self.res_dir)).count()
        if n_report != len(res):
            problems.append(f"report rows {n_report} != result rows {len(res)}")
        with open(self.doc_path, encoding="utf-8") as f:
            sections = sum(1 for line in f if line.startswith(SECTION))
        if sections != len(res):
            problems.append(f"document sections {sections} != result rows {len(res)}")
        return {"retail_pass": problems}

    def _check_reference(self, res: pd.DataFrame) -> list[str]:
        import tests.test_flagship_differential as port

        df = pd.read_csv(self.csv, dtype={"StockCode": str, "Country": str, "Quantity": str},
                         parse_dates=["InvoiceDate"])
        df = df.rename(columns={"StockCode": "Product_ID", "Country": "Store_ID",
                                "Quantity": "Units_Sold"})
        df["Units_Sold"] = pd.to_numeric(df["Units_Sold"], errors="coerce").fillna(0)
        df = df[df["Units_Sold"] >= 0]
        groups = df.groupby(["Product_ID", "Store_ID"])
        keys = sorted(groups.groups)
        rng = np.random.default_rng(self.seed)
        picked = rng.choice(len(keys), min(REFERENCE_SAMPLE, len(keys)), replace=False)
        got = res.set_index(["SKU", "Store"])
        problems = []
        for key in (keys[i] for i in picked):
            series = groups.get_group(key)[["InvoiceDate", "Units_Sold"]]
            with mock.patch.object(port, "round", _round_but_mape, create=True):
                exp = port.reference_process_sku(series)
            if exp is None:
                if key in got.index:
                    problems.append(f"{key}: gated out by the reference but present")
                continue
            if key not in got.index:
                problems.append(f"{key}: admitted by the reference but missing")
                continue
            g = got.loc[key]
            for col, ref in (("Safety_Stock", "safety_stock"), ("Reorder_Point", "reorder_point"),
                             ("Qty_to_Order", "qty_to_order")):
                if int(g[col]) != exp[ref]:
                    problems.append(f"{key}: {col} {g[col]} != {exp[ref]}")
            if not mape_rounds(float(g["MAPE"]), exp["mape"]):
                problems.append(
                    f"{key}: MAPE {g['MAPE']} is not {exp['mape']!r} to {MAPE_DIGITS} decimals"
                )
            if abs(parse_list(g["Forecast"])[0] - exp["forecast_wk"]) > 1e-9:
                problems.append(f"{key}: Forecast[0] {g['Forecast']} != {exp['forecast_wk']}")
        return problems


def _round_but_mape(x, ndigits=None):
    """``round`` for the reference port that leaves its MAPE unrounded."""
    return float(x) if ndigits == MAPE_DIGITS else builtins.round(x, ndigits)


def mape_rounds(got: float, exact: float) -> bool:
    """Whether ``got`` is ``exact`` rounded to MAPE_DIGITS decimals. The
    engine and the port sum MAPE in different orders, so when its
    decimal value ends in 5 just past those digits (150.8875) one of
    them reads 150.88749999999996 and the two round apart; there either
    neighbour is a rounding of it."""
    unit = 10.0 ** -MAPE_DIGITS
    on_grid = abs(got / unit - builtins.round(got / unit)) < 1e-6
    return on_grid and abs(got - exact) <= unit / 2 + FLOAT_NOISE * max(1.0, abs(exact))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p))


def _part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*")))


def read_results_frame(path: str) -> pd.DataFrame:
    parts = [pd.read_csv(p, dtype={"SKU": str, "Store": str}) for p in _part_files(path)]
    return pd.concat(parts, ignore_index=True)


def parse_list(s: str) -> list[float]:
    return [float(x) for x in s.strip("[]").split(",") if x.strip()]


def header_mismatch_files(path: str) -> int:
    """Result files whose header names a different column than the read
    schema at the same position: ``read_results_csv`` applies its schema
    by position, so such a file's column is read under the wrong name."""
    names = [f.name for f in FORECAST_RESULTS_CSV_SCHEMA.fields]
    bad = 0
    for p in _part_files(path):
        with open(p, encoding="utf-8") as f:
            header = f.readline().strip().split(",")
        if any(h != n for h, n in zip(header, names)):
            bad += 1
    return bad


# ---------------------------------------------------------------------------
# Registered-query mix
# ---------------------------------------------------------------------------

# One query per role: entity, similarity, dedup (an eager checkpoint
# inside its query function) and the model fit (Arrow mapInPandas over the
# resampled series).
QUERIES = (
    "fuzzy_part_name_pairs",
    "sparse_cosine_topk",
    "dedup_jaccard_threshold_sweep",
    "forecast_udf_ensemble",
)


class QueryMix:
    """Each query's function call (plan building plus any eager jobs)
    and its ``count()``, over generated synthetic test tables."""

    # The cold pass takes ~25 s on 4 vCPUs; over ten seeds the first
    # timed pass after it ran ~8% slower than the second. A second
    # warm-up would cost ~8 s of every run's time budget.
    WARM_PASSES = 1

    def __init__(self, work: str):
        self.work = work
        self.last: dict = {}
        self.plain_last: dict = {}

    def prepare(self, seed: int) -> dict:
        self.tables, sizes = gen.cached("tables", seed, os.path.join(self.work, "data"))
        q, o = registry.queries(), registry.oracle_sql()
        self.fns = {n: q[n] for n in QUERIES}
        self.oracles = {n: o[n] for n in QUERIES}
        return {"tables": sizes, "queries": list(QUERIES)}

    def run_pass(self, spark, t) -> tuple[int, int, list[str]]:
        failed, errors, frames = 0, [], {}
        with t.patch(INNER):
            for name in QUERIES:
                try:
                    with t.span(f"q.{name}{BUILD}"):
                        df = self.fns[name](spark, self.tables)
                    with t.span(f"q.{name}.action"):
                        df.count()
                    frames[name] = df
                except Exception as e:  # one query fails alone, with its error
                    failed += 1
                    errors.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
        self.last = frames
        if not t.traced:
            self.plain_last = frames
        return len(QUERIES), failed, errors

    def plan_metrics(self) -> dict[str, int]:
        return _plan_metrics(self.plain_last.values())

    def layer_metrics(self, spark, t: Tracer, store, jobs) -> dict[str, float]:
        m = _common_metrics(t, store, jobs)
        by_group = attribute(jobs, t.spans)
        selfs = t.self_times()
        for n in QUERIES:
            m[f"q.{n}.build_s"] = selfs.get(f"q.{n}{BUILD}", 0.0)
            m[f"q.{n}.action_s"] = selfs.get(f"q.{n}.action", 0.0)
        action = _group_metrics(store, by_group, [f"q.{n}.action" for n in QUERIES])
        m.update({
            "build.s": sum(m[f"q.{n}.build_s"] for n in QUERIES),
            "action.s": sum(m[f"q.{n}.action_s"] for n in QUERIES),
            "action.task_s": action["task_s"],
            "action.shuffle_mb": action["shuffle_mb"],
            "action.spill_mb": action["spill_mb"],
            "fit.series": t.outputs["fit"].count(),
        })
        m["fit.series_per_s"] = m["fit.series"] / m["fit.s"] if m["fit.s"] else 0.0
        return m

    def predicted_zero(self) -> tuple[str, ...]:
        return ()

    def check(self, spark) -> dict[str, list[str]]:
        """Each query's last result against its DuckDB oracle."""
        out = {}
        for name, df in self.last.items():
            r = testing.compare_query(
                spark, name, lambda s, d, df=df: df, self.oracles[name], self.tables
            )
            out[name] = r.issues
        return out


def make(name: str, work: str):
    return QueryMix(work) if name == "query_mix" else RetailNative(work)
