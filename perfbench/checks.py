"""Output checks. Each returns a list of mismatch descriptions (empty = ok).

The references are computed outside the timed region: the single-process
crawl simulator (``oracle.simulator``), the Python HTML extractor
(``functions.html.extract_text_only``) and the DuckDB oracles
(``oracle_sql()``) over the same generated inputs.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from collections import Counter


def set_hash(items) -> str:
    """Order-independent hash of a collection of strings."""
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(item.encode("utf-8"))
        h.update(b"\0")
    return h.hexdigest()


def sim_iterations(sim, pages: dict, robots: dict, depth_limit: int | None = None) -> list:
    """Per-iteration (scheduled, pages_fetched, links_found) of a
    ``SimResult``.

    The simulator reports links only as a run total, so the split per
    iteration re-counts each fetched page's surviving links with the
    simulator's own predicates (``urlkit`` mirrors and ``robots_allow_py``)
    and is only trusted when it adds up to the simulator's total."""
    from urllib.parse import urlparse

    from apollo_service_spark.functions import urlkit
    from apollo_service_spark.functions.html import extract_links
    from apollo_service_spark.operators.robots import robots_allow_py

    sched: Counter = Counter()
    fetched: Counter = Counter()
    links: Counter = Counter()
    for row in sim.crawl_log:
        it = row["iteration"]
        sched[it] += 1
        if row["status"] == "error":
            continue
        fetched[it] += 1
        if row["status"] != "fetched":
            continue
        if depth_limit is not None and row["depth"] >= depth_limit:
            continue
        for link in extract_links(pages[row["url"]], row["url"]):
            canon = urlkit.canonicalize_py(link)
            if urlkit.is_ignored_py(canon):
                continue
            parsed = urlparse(canon)
            if robots_allow_py(parsed.path, robots.get(parsed.netloc)):
                links[it] += 1
    if sum(links.values()) != sim.links_processed:
        raise ValueError("per-iteration link split disagrees with the simulator total")
    return [(sched[i], fetched[i], links[i]) for i in range(sim.iterations)]


def check_crawl(metrics: list, seen_urls, expected: list, sim_seen_hash: str) -> list:
    """Engine ``iteration_metrics()`` rows and committed seen set against
    the simulator's :func:`sim_iterations` and :func:`set_hash` of its seen
    set. Returns one entry per failed superstep; a seen-set mismatch fails
    one more."""
    failed = []
    for i, m in enumerate(metrics):
        want = expected[i] if i < len(expected) else None
        got = (m.get("scheduled"), m.get("pages_fetched"), m.get("links_found"))
        if want != got:
            failed.append(f"superstep {i}: scheduled/fetched/links {got} != simulator {want}")
    if len(metrics) < len(expected):
        failed.append(f"supersteps {len(metrics)} < simulator {len(expected)}")
    if set_hash(seen_urls) != sim_seen_hash:
        failed.append("seen-set hash differs from simulator")
    return failed


def check_texts(got: dict, want: list) -> list:
    """Extracted text per doc_id must equal the Python extractor's output
    byte for byte."""
    failed = []
    for doc_id, text in enumerate(want):
        if got.get(doc_id) != text:
            failed.append(f"doc {doc_id}: extracted text differs")
    extra = set(got) - set(range(len(want)))
    if extra:
        failed.append(f"{len(extra)} unexpected doc ids")
    return failed


def _norm(value) -> str:
    """One cell as the registry's correctness gate prints it."""
    if isinstance(value, (float, decimal.Decimal)):
        f = float(value)
        if math.isnan(f):
            return "nan"
        return f"{f + 0.0:.6f}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(value, bool):
        return str(int(value))
    if value is None:
        return ""
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_norm(v) for v in value) + "]"
    return str(value)


def row_digest(columns: list, rows) -> tuple:
    """(row count, order-independent hash) of a result set: columns sorted
    by name and hashed with the rows, floats rounded to 6 digits, rows
    hashed as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["\x1f".join(_norm(row[i]) for i in order) for row in rows]
    header = "\x1f".join(columns[i] for i in order)
    return len(lines), set_hash([header + "\x1e" + line for line in lines])


def check_rows(name: str, got: tuple, want: tuple) -> list:
    """Compare two :func:`row_digest` results."""
    if got == want:
        return []
    return [f"{name}: rows/hash {got[0]}/{got[1][:12]} != reference {want[0]}/{want[1][:12]}"]
