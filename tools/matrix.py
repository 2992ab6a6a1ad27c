"""Consolidated sweep matrix (r8 verdict #5): the five per-config
selfcheck sweeps — full sf0.01, hostile session timezone, reduced
parallelism/partitioning, legacy ANSI mode, sf0.1 headline — as ONE
artifact keyed by (config, query).

    python tools/matrix.py [--out MATRIX.json]

Each config runs tools/selfcheck.py in a SUBPROCESS because the knobs
are process-level (TZ env, JVM session conf fixed at SparkSession
creation); the per-config JSON is merged here. Replaces the separate
SELFCHECK_{full,tz,part,sf01,ansi}.json files of rounds 5-8.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

CONFIGS = [
    # (name, extra argv, env overrides, sf_dir)
    ("full_sf001", [], {}, "/root/testdata/sf0.01"),
    (
        "hostile_tz",
        [],
        {"TZ": "America/New_York", "SPARK_GRAFT_SESSION_TZ": "America/New_York"},
        "/root/testdata/sf0.01",
    ),
    ("local3_part4", [], {"SPARK_GRAFT_CPUS": "3"}, "/root/testdata/sf0.01"),
    ("ansi_legacy", [], {"SPARK_GRAFT_ANSI": "false"}, "/root/testdata/sf0.01"),
    ("headline_sf01", ["--headline"], {}, "/root/testdata/sf0.1"),
]


def _is_bad(r: dict) -> bool:
    """A row fails the gate iff it errored or its oracle compare
    mismatched."""
    return r.get("err") is not None or not (
        r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    )


def main() -> int:
    out_path = "MATRIX.json"
    argv = sys.argv[1:]
    if argv and argv[0] == "--out":
        out_path = argv[1]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    matrix: dict[str, dict] = {}
    summary: dict[str, dict] = {}
    failed_cfgs = []
    for name, extra, env_over, sf_dir in CONFIGS:
        env = {**os.environ, **env_over}
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            tmp = tf.name
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "tools/selfcheck.py", "--json", tmp, *extra, sf_dir],
            cwd=repo,
            env=env,
            capture_output=True,
            text=True,
        )
        dt = round(time.time() - t0, 1)
        try:
            data = json.load(open(tmp))
            # selfcheck --json wraps per-query rows under "results"
            rows = data.get("results", data) if isinstance(data, dict) else {}
        except Exception:
            rows = {}
        finally:
            os.unlink(tmp)
        if not rows:
            # zero parsed rows is a failure regardless of exit code —
            # a format drift or truncated temp JSON must not count as
            # a green config with nothing checked
            failed_cfgs.append(name)
            print(f"[ERR] {name}: no selfcheck rows parsed "
                  f"(rc={proc.returncode})\n{proc.stderr[-2000:]}")
            continue
        matrix[name] = rows
        n_bad = sum(1 for r in rows.values() if _is_bad(r))
        summary[name] = {
            "n_queries": len(rows),
            "n_bad": n_bad,
            "wall_sec": dt,
            "sf_dir": sf_dir,
            "env": env_over,
        }
        print(f"[{'OK ' if n_bad == 0 else 'BAD'}] {name}: {len(rows)} queries, "
              f"{n_bad} bad, {dt}s")
    report = {"summary": summary, "failed_configs": failed_cfgs, "matrix": matrix}
    with open(os.path.join(repo, out_path), "w") as f:
        json.dump(report, f, indent=1)
    total_bad = sum(s["n_bad"] for s in summary.values()) + len(failed_cfgs)
    print(f"wrote {out_path}: {len(summary)} configs, {total_bad} total bad")
    return 1 if total_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
