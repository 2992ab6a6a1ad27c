"""Benchmark of the reference retail workflow and a registered-query mix.

Run from the repository root::

    python3 perfbench/run.py --workload retail_native --seed 1 --seconds 10 --trace 0

Workloads (``retail_native``, ``query_mix``) and metrics are declared in
BENCHMARK.json. One run:

1. makes the workload's inputs from ``--seed`` (cached per seed under
   ``perfbench/.work/data``; not timed);
2. sets up: starts a ``local[nproc]`` session (JVM launch included) and
   warms it up with the workload's ``WARM_PASSES`` untimed passes; that
   is ``setup_s``;
3. waits for the process tree to go idle, then runs passes for
   ``--seconds`` (at least ``MIN_PASSES``). ``--trace 0`` reports the
   end-to-end metrics; ``--trace 1`` alternates untraced and traced
   passes and reports the per-layer metrics of the traced ones, with
   the difference of the two pass medians as ``trace.overhead_s``;
4. checks the outputs of the last pass against references.

It prints an artifact header (code, box, Spark conf, load, inputs),
every metric by name with its unit, the correctness verdict, and as the
last line the JSON result. The full record is written to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracing import NullTracer, RssSampler, StatusStore, Tracer, misplaced_jobs, tree_cpu_s, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_PASSES = 2
SETTLE_MAX_S = 5.0
PKG = "dataframe_retail_e_inventarios_spark"


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark starts import the package from it."""
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    # The package's own session defaults, whatever the caller's shell
    # sets, except the driver heap: with get_spark's default 8g the JVM
    # heap grows at GC-dependent moments and five-seed peak_rss_mb
    # spreads (IQR/median) were 0.14-0.40; capped at 2g they were
    # 0.07-0.13.
    for k in ("SPARK_GRAFT_SESSION_TZ", "SPARK_GRAFT_ANSI", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf", f"spark.hadoop.hadoop.tmp.dir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _worker_package(_):
    import dataframe_retail_e_inventarios_spark as pkg

    return pkg.__file__


def start_session():
    """A ``local[nproc]`` session from the package's own ``get_spark``, after
    checking that its Python workers import the package from here."""
    from dataframe_retail_e_inventarios_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        where = spark.sparkContext.parallelize([0], 1).map(_worker_package).collect()[0]
    except Exception as e:
        raise RuntimeError(f"Python workers cannot import {PKG}: {e}") from e
    if not os.path.abspath(where).startswith(ROOT + os.sep):
        raise RuntimeError(f"Python workers import {PKG} from {where}, not from {ROOT}")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, the JVM and every process they started; wait for all."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while (left := tree_pids(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def settle() -> float:
    """Wait (at most SETTLE_MAX_S) until this process tree uses less than
    a quarter of a core: JIT compilation and GC after the warm-up done."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < SETTLE_MAX_S:
        c0 = tree_cpu_s(os.getpid())
        time.sleep(0.5)
        if tree_cpu_s(os.getpid()) - c0 < 0.125:
            break
    return time.monotonic() - t0


def source_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PKG)
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def header(spark, args, inputs, load_before, load_after, settle_s) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(),
        "source_sha256": source_sha256(),
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "conf": {
            k: conf.get(k, None)
            for k in (
                "spark.master",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.ansi.enabled",
                "spark.driver.memory",
                "spark.sql.session.timeZone",
            )
        },
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "settle_s": round(settle_s, 3),
        "inputs": inputs,
    }


def run_op(fn, *args) -> tuple[int, int, list[str]]:
    """One pass -> (attempted, failed, errors); a pass that raises counts
    as one failed operation."""
    try:
        return fn(*args)
    except Exception as e:  # the run goes on and reports the failure
        return 1, 1, [f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"]


class Passes:
    """Outcome of the timed passes of one run."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.plain: list[float] = []
        self.traced: list[float] = []
        self.layer_rows: list[dict] = []
        self.attribution: list[dict] = []
        self.peak_rss = 0

    def add(self, outcome: tuple[int, int, list[str]]) -> None:
        self.attempted += outcome[0]
        self.failed += outcome[1]
        self.errors += outcome[2]


def timed_passes(wl, spark, seconds: float, trace: bool) -> Passes:
    """Untraced passes for ``seconds`` (at least MIN_PASSES); with
    ``trace``, each is followed by a traced pass turned into per-layer
    metrics (at least one pair). Turning a traced pass into metrics is
    an operation of its own: it fails if it raises."""
    p = Passes()
    sc = spark.sparkContext
    store = StatusStore(sc)
    t_end = time.monotonic() + seconds
    min_passes = 1 if trace else MIN_PASSES
    with RssSampler() as rss:
        while len(p.plain) < min_passes or time.monotonic() < t_end:
            t0 = time.time()
            p.add(run_op(wl.run_pass, spark, NullTracer()))
            p.plain.append(time.time() - t0)
            if not trace:
                continue
            tr, first = Tracer(sc), store.next_job_id()
            t0 = time.time()
            outcome = run_op(wl.run_pass, spark, tr)
            wall = time.time() - t0
            p.add(outcome)
            p.traced.append(wall)
            jobs = store.jobs(first)
            try:
                m = wl.layer_metrics(spark, tr, store, jobs)
            except Exception as e:  # a failed traced pass leaves layers unmeasured
                p.add((1, 1, [f"layer metrics: {type(e).__name__}: {e}"]))
                continue
            p.add((1, 0, []))
            selfs = tr.self_times()
            # wall = sum(self times) + remainder by construction; the
            # remainder is negative only if spans overlap.
            m["trace.unattributed_s"] = wall - sum(selfs.values())
            p.layer_rows.append(m)
            p.attribution.append({
                "wall_s": wall,
                "self_s": selfs,
                "unattributed_s": m["trace.unattributed_s"],
                "jobs": len(jobs),
                "misplaced_jobs": misplaced_jobs(jobs, tr.spans),
            })
    p.peak_rss = rss.peak
    return p


def per_layer_metrics(wl, p: Passes, declared: list[dict]) -> tuple[dict, list[str]]:
    """Medians over the traced passes; layers a workload does not run
    read 0. The attribution check is one operation of ``p``, failed by
    any of: no traced pass measured, spans that overlap, jobs that ran
    outside the span of the layer they are attributed to, and predicted
    zeros that are not (in any traced pass or in the executed plans).
    Returns the metrics and those problems."""
    plan = wl.plan_metrics()
    problems = [] if p.layer_rows else ["no traced pass produced layer metrics"]
    for k in wl.predicted_zero():
        seen = [r[k] for r in p.layer_rows if r.get(k)] + ([plan[k]] if plan.get(k) else [])
        if seen:
            problems.append(f"{k} = {seen[0]} (predicted 0)")
    for a in p.attribution:
        if a["unattributed_s"] < -0.01:
            problems.append(f"spans cover more than the pass wall: {a['unattributed_s']:.3f} s")
        problems += a["misplaced_jobs"][:5]
    p.add((1, int(bool(problems)), [f"attribution: {x}" for x in problems]))

    metrics = {m["name"]: 0.0 for m in declared}
    rows = {k: statistics.median(r[k] for r in p.layer_rows) for k in (p.layer_rows or [{}])[0]}
    rows.update(plan)
    rows["trace.overhead_s"] = statistics.median(p.traced) - statistics.median(p.plain)
    rows["error_rate"] = p.failed / p.attempted
    unknown = set(rows) - set(metrics)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics.update(rows)
    return metrics, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    declared = bench["per_layer" if args.trace else "end_to_end"]

    prepare_env()
    import workloads

    wl = workloads.make(args.workload, WORK)
    inputs = wl.prepare(args.seed)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        for _ in range(wl.WARM_PASSES):
            wl.run_pass(spark, NullTracer())
        setup_s = time.perf_counter() - t0

        load_before = loadavg()
        settle_s = settle()
        p = timed_passes(wl, spark, args.seconds, bool(args.trace))
        load_after = loadavg()
        try:
            checks = wl.check(spark)
        except Exception as e:  # a check that cannot run fails the run's output
            checks = {"check": [f"{type(e).__name__}: {e}"]}
        bad = {op: problems for op, problems in checks.items() if problems}
        p.attempted += len(checks)
        p.failed += len(bad)

        if args.trace:
            metrics, attribution_problems = per_layer_metrics(wl, p, declared)
        else:
            metrics = {
                "wall_s": statistics.median(p.plain),
                "setup_s": setup_s,
                "peak_rss_mb": p.peak_rss / 1e6,
            }
            attribution_problems = []
            if set(metrics) != {m["name"] for m in declared}:
                raise KeyError("end-to-end metrics differ from BENCHMARK.json")
        head = header(spark, args, inputs, load_before, load_after, settle_s)
    finally:
        if spark is not None:
            shutdown(spark)

    units = {m["name"]: m["unit"] for m in declared}
    result = {
        "correct": p.failed == 0,
        "attempted": p.attempted,
        "failed": p.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "header": head,
        "setup_s": setup_s,
        "passes_s": p.plain,
        "traced_passes_s": p.traced,
        "errors": p.errors,
        "checks": checks,
        "attribution": p.attribution,
        "attribution_problems": attribution_problems,
        "result": result,
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for k, v in head.items():
        print(f"# {k}: {json.dumps(v, default=str)}")
    print(f"# passes_s: {[round(s, 3) for s in p.plain]}"
          + (f"  traced_passes_s: {[round(s, 3) for s in p.traced]}" if p.traced else ""))
    for k, v in metrics.items():
        print(f"{k:44s} {v:>14.6g} {units[k]}")
    for e in p.errors:
        print(f"ERROR {e}")
    for op, problems in bad.items():
        print(f"CHECK FAILED {op}: {'; '.join(problems[:5])}")
    print(f"correct: {result['correct']} ({p.attempted - p.failed}/{p.attempted} operations ok)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
