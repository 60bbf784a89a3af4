"""Every top-level function and class of the package has a caller outside
``tests/``.

Code that only tests call is deleted rather than kept (ROADMAP aim 2): a
path with no registry query, benchmark workload, script or entry point
behind it has nothing that checks it does the job it claims. This guard
lists the package's top-level ``def``/``class`` names with ``ast`` and fails
on any name that no code outside ``tests/`` references: a name, an
attribute or an import of it. A mention in a docstring, comment or string
is not a caller. "Outside" is the package itself, ``scripts/``,
``bench*.py``, ``perfbench/``, ``submit_crawl.py`` and
``__spark_entry__.py``. Every file is parsed with warnings turned into
errors, so a file whose parse only warns (an invalid escape sequence in a
string) fails here too.
"""

import ast
import glob
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "apollo_service_spark"

# Names kept without an outside caller, each for a stated reason.
ALLOWED = {
    # pure-Python references the tests hold the Catalyst/Arrow kernels to
    "sanitize_filename_py",
    "categorize_py",
    "extract_year_py",
    "path_prefix_py",
    "parse_sitemap_locs_py",
    "surt_key_py",
    # reference-parity operators PARITY.md cites with a reference file:line
    "cluster_summary",
    "year_clusters",
    # the Catalyst test reference the repetition kernel is held to
    "_repetition_raw_cols",
    # the north star's Iceberg binding of the snapshot contract: it runs only
    # where an Iceberg catalog is configured, and its contract test skips
    # where none is
    "IcebergSnapshotStore",
}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh, warnings.catch_warnings():
        warnings.simplefilter("error")
        return ast.parse(fh.read(), filename=path)


def _outside_files() -> list:
    patterns = [
        f"{PACKAGE}/**/*.py",
        "scripts/**/*.py",
        "bench*.py",
        "perfbench/**/*.py",
        "submit_crawl.py",
        "__spark_entry__.py",
    ]
    files = set()
    for pat in patterns:
        for path in glob.glob(os.path.join(ROOT, pat), recursive=True):
            rel = os.path.relpath(path, ROOT)
            if f"{os.sep}tests{os.sep}" not in f"{os.sep}{rel}":
                files.add(path)
    return sorted(files)


def _package_names() -> list:
    """(module, name) of every top-level function and class."""
    out = []
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        tree = _parse(path)
        mod = os.path.relpath(path, ROOT)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.append((mod, node.name))
    return out


def _referenced_names() -> set:
    """Every name, attribute and imported name in the code outside tests."""
    names = set()
    for path in _outside_files():
        tree = _parse(path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names


def unreferenced() -> list:
    referenced = _referenced_names()
    return [
        f"{mod}::{name}"
        for mod, name in _package_names()
        if name not in ALLOWED and name not in referenced
    ]


def test_every_package_name_has_a_caller_outside_tests():
    missing = unreferenced()
    assert not missing, (
        "mentioned nowhere outside tests/ (delete them, or give them a "
        f"caller): {missing}"
    )
