"""The scripts and entry points outside the package: command-line handling,
names that resolve, and the scaling script's statistics."""

import builtins
import glob
import importlib.util
import os
import symtable

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, folder="scripts"):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, folder, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_verify_gate_json_without_path_prints_usage(monkeypatch, capsys):
    """``--json`` as the last argument is a usage error (exit 2) reported
    before any Spark session starts."""
    gate = _load("verify_gate")

    def no_session(*a, **k):
        raise AssertionError("session started before argument checks")

    monkeypatch.setattr(gate, "build_session", no_session)
    monkeypatch.setattr(gate.sys, "argv", ["verify_gate.py", "--json"])
    with pytest.raises(SystemExit) as exc:
        gate.main()
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "usage:" in err and "--json" in err


# names the interpreter gives every module
_MODULE_NAMES = {"__file__", "__name__", "__doc__", "__spec__", "__loader__",
                 "__package__", "__builtins__", "__annotations__"}


def _undefined_globals(source: str, filename: str) -> list:
    """Global names some scope reads that the module neither binds, imports
    nor gets from ``builtins``: each is a ``NameError`` when that code runs.
    Only a compiler's symbol table is read, so no script is executed."""
    tables = [symtable.symtable(source, filename, "exec")]
    bound = set(_MODULE_NAMES) | set(dir(builtins))
    read = set()
    while tables:
        table = tables.pop()
        tables.extend(table.get_children())
        top = table.get_type() == "module"
        for sym in table.get_symbols():
            name = sym.get_name()
            if (top or sym.is_declared_global()) and (
                sym.is_assigned() or sym.is_imported()
            ):
                bound.add(name)
            elif sym.is_referenced() and (top or sym.is_global()):
                read.add(name)
    return sorted(read - bound)


def test_entry_points_use_no_undefined_global():
    assert _undefined_globals(
        "import os\ndef f():\n    return os.sep + release_all()\n", "probe"
    ) == ["release_all"]
    paths = sorted(
        glob.glob(os.path.join(ROOT, "scripts", "*.py"))
        + glob.glob(os.path.join(ROOT, "bench*.py"))
        + [os.path.join(ROOT, "submit_crawl.py"),
           os.path.join(ROOT, "__spark_entry__.py")]
    )
    found = {}
    for path in paths:
        with open(path) as fh:
            names = _undefined_globals(fh.read(), path)
        if names:
            found[os.path.relpath(path, ROOT)] = names
    assert len(paths) >= 9
    assert found == {}


def _run(executors, wall_s, cpu_s, failed=0, busy=0.5, run_s=10.0, task_cpu=5.0):
    return {
        "workload": "crawl", "executors": executors, "work": 100, "wall_s": wall_s,
        "cpu_s": cpu_s, "attempted": 4, "failed": failed, "peak_rss_mb": 1000.0,
        "status": {"spark.core_busy_frac": busy, "spark.executor_run_s": run_s,
                   "spark.executor_cpu_s": task_cpu},
    }


def test_scaling_efficiencies_and_exclusions():
    """The scaling script's statistics on canned runs: paired efficiencies
    by wall and by CPU, their median and IQR, and pairs with a failed check
    or a failed run left out and counted."""
    scaling = _load("bench_scaling", folder="")
    # 4N does the same 100 units in half the wall, with 25% more CPU
    assert scaling.efficiencies(_run(1, 10.0, 40.0), _run(4, 5.0, 50.0)) == (0.5, 0.8)
    assert scaling.median_iqr([5.0, 1.0, 4.0, 2.0, 3.0]) == {
        "median": 3.0, "q1": 2.0, "q3": 4.0, "n": 5
    }
    pairs = [
        {"runs": [_run(1, 10.0, 40.0), _run(4, wall, 40.0)]} for wall in (2.5, 5.0, 10.0)
    ] + [
        {"runs": [_run(1, 10.0, 40.0), _run(4, 2.5, 40.0, failed=1)]},
        {"runs": [{"workload": "crawl", "executors": 1, "error": "timed out"},
                  _run(4, 2.5, 40.0)]},
    ]
    out = scaling.summarize("crawl", pairs)
    assert (out["pairs_used"], out["pairs_excluded"]) == (3, 2)
    assert out["wall_efficiency"] == {"median": 0.5, "q1": 0.375, "q3": 0.75, "n": 3}
    assert out["cpu_efficiency"]["median"] == 1.0
    assert out["sizes"][4]["wall_s"] == 5.0
    # same task time and busy share at both sizes: the wall loss has no
    # named place; CPU is not below the target
    assert out["below_target"] == {"wall": "unknown"}
    slow_tasks = [{"runs": [_run(1, 10.0, 40.0), _run(4, 5.0, 40.0, run_s=20.0)]}]
    assert scaling.summarize("crawl", slow_tasks)["below_target"]["wall"].startswith(
        "executor tasks"
    )
