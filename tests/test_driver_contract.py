"""Driver-contract guards: the names bench.py references must exist,
__spark_entry__ must export the three driver hooks with consistent
key sets, and tools/gate.sh must name tools that exist. A typo in any
of these would crash the DRIVER's run (or the gate), not ours — fail
here instead."""

import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod
from bench import CURVE, DEMO, HEADLINE
from dataframe_retail_e_inventarios_spark.registry import oracle_sql, queries


def test_bench_names_exist():
    qs = queries()
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, f"bench.HEADLINE references unknown queries: {missing}"
    # CURVE may draw from HEADLINE or DEMO (the scale-curve runner
    # resolves names against the full registry); anything else is a typo
    assert set(CURVE) <= set(HEADLINE) | set(DEMO)


def test_entry_exports():
    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    assert callable(entrymod.entry)
    assert set(oq) == set(qs)
    assert len(qs) == len(queries())
    assert set(oq) == set(oracle_sql())
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and s.strip() for s in oq.values())


def test_gate_script_names_existing_tools():
    gate = REPO / "tools" / "gate.sh"
    subprocess.run(["bash", "-n", str(gate)], check=True)
    text = gate.read_text()
    named = set(re.findall(r"\btools/\w+\.py\b", text))
    assert named, "gate.sh names no tools/*.py"
    missing = sorted(n for n in named if not (REPO / n).is_file())
    assert not missing, f"gate.sh names missing tools: {missing}"
    assert not re.search(r"\bgit\s", text), "gate.sh must not run git"


@pytest.mark.parametrize("tool", ["plan_audit", "fuzz_oracles", "selfcheck", "recall"])
def test_tool_imports_from_any_directory(tool, tmp_path):
    """A tool finds the package and bench.py from its own path, not
    from the directory it is started in."""
    script = REPO / "tools" / f"{tool}.py"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", f"import runpy; runpy.run_path({str(script)!r})"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
