"""The scripts and entry points outside the package: command-line handling,
and names that resolve."""

import builtins
import glob
import importlib.util
import os
import symtable

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "scripts", f"{name}.py")
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
    assert len(paths) >= 11
    assert found == {}
