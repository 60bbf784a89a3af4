"""Command-line handling of the scripts under ``scripts/``."""

import importlib.util
import os

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
