"""Driver-contract guards: the names bench.py references must exist,
__spark_entry__ must export the three driver hooks with consistent
key sets, and tools/gate.sh must name tools that exist. A typo in any
of these would crash the DRIVER's run (or the gate), not ours — fail
here instead. The operator layer carries no option that no caller
sets."""

import ast
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


PKG = REPO / "dataframe_retail_e_inventarios_spark"
OPTION_SCOPE = [PKG / d for d in ("operators", "functions", "sources", "streaming")] + [
    PKG / "plans" / f for f in ("pipeline.py", "flagship.py", "report.py", "report_render.py")
]


def _package_names(tree: ast.Module) -> set[str]:
    """Names a module binds by importing from the package."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.level or (node.module or "").startswith(PKG.name)):
            names |= {a.asname or a.name for a in node.names}
        elif isinstance(node, ast.Import):
            names |= {a.asname or a.name.split(".")[0] for a in node.names if a.name.startswith(PKG.name)}
    return names


def _root_name(expr: ast.expr) -> str | None:
    while isinstance(expr, (ast.Attribute, ast.Call, ast.Subscript)):
        expr = expr.func if isinstance(expr, ast.Call) else expr.value
    return expr.id if isinstance(expr, ast.Name) else None


def test_operator_options_are_set_by_some_caller():
    """Every optional parameter of a top-level function in the operator
    layer is passed a value other than its default, by keyword or by
    position, at some call in the repo. An option no caller sets is a
    constant. Calls count when the called name is defined in the
    calling module or imported from the package."""
    defs = {}
    for base in OPTION_SCOPE:
        for path in [base] if base.is_file() else sorted(base.rglob("*.py")):
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, ast.FunctionDef):
                    defs.setdefault(node.name, []).append((path, node))
    calls = {}
    for path in REPO.rglob("*.py"):
        if "artifacts" in path.parts or ".work" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        known = _package_names(tree) | {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name) and fn.id in known:
                calls.setdefault(fn.id, []).append(node)
            elif isinstance(fn, ast.Attribute) and _root_name(fn.value) in known:
                calls.setdefault(fn.attr, []).append(node)
    unset = []
    for name, sites in sorted(defs.items()):
        for path, fn in sites:
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            options = [(p.arg, first + i, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
            options += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for arg, index, default in options:
                default = ast.unparse(default)
                if not any(
                    any(k.arg == arg and ast.unparse(k.value) != default for k in call.keywords)
                    or (index is not None and index < len(call.args)
                        and not any(isinstance(x, ast.Starred) for x in call.args[: index + 1])
                        and ast.unparse(call.args[index]) != default)
                    for call in calls.get(name, [])
                ):
                    unset.append(f"{path.relative_to(REPO)}:{fn.lineno} {name}({arg}={default})")
    assert not unset, f"{len(unset)} options no caller sets:\n" + "\n".join(unset)
