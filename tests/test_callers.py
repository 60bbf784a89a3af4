"""Every top-level function and class of the package has a caller outside
``tests/``.

Code that only tests call is deleted rather than kept (ROADMAP aim 2): a
path with no registry query, benchmark workload, script or entry point
behind it has nothing that checks it does the job it claims. This guard
lists the package's top-level ``def``/``class`` names with ``ast`` and fails
on any name that no file outside ``tests/`` mentions, its own definition
aside. "Outside" is the package itself, ``scripts/``, ``bench*.py``,
``perfbench/``, ``submit_crawl.py`` and ``__spark_entry__.py``.
"""

import ast
import glob
import os
import re

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
    # reference-parity operators PARITY.md cites with a reference file:line
    "cluster_summary",
    "year_clusters",
    # the CDX row of PARITY.md; no registry query or script builds an index
    # yet, so it is the next to get a caller or go
    "cdx_index",
}


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
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        mod = os.path.relpath(path, ROOT)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.append((mod, node.name))
    return out


def unreferenced() -> list:
    text = []
    for path in _outside_files():
        with open(path, encoding="utf-8") as fh:
            text.append(fh.read())
    corpus = "\n".join(text)
    missing = []
    for mod, name in _package_names():
        if name in ALLOWED:
            continue
        mentions = len(re.findall(rf"\b{re.escape(name)}\b", corpus))
        definitions = len(
            re.findall(rf"^\s*(?:async\s+)?(?:def|class)\s+{re.escape(name)}\b", corpus, re.M)
        )
        if mentions <= definitions:
            missing.append(f"{mod}::{name}")
    return missing


def test_every_package_name_has_a_caller_outside_tests():
    missing = unreferenced()
    assert not missing, (
        "mentioned nowhere outside tests/ (delete them, or give them a "
        f"caller): {missing}"
    )
