"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: one ``random.Random``
(or ``numpy`` generator) seeded from ``seed`` drives every choice, no clock
or hash randomization is read, and the parquet writers fix compression and
row-group size, so the same seed gives byte-identical files.

* :func:`crawl_corpus` — a link graph in the shape of ``bench_soak``: Zipf
  hosts with one mega-host, every page linking to a few real pages and to
  many dead urls (the never-fetchable frontier tail), plus links the engine
  must drop (ignore patterns, robots-disallowed paths, mailto/javascript).
  Comes with raw robots.txt bodies and per-host budgets.
* :func:`curate_pages` — HTML pages over a few-thousand-word Zipf vocabulary
  with boilerplate the extractor strips, copied passages (span dedup) and
  passages lifted from benchmark docs (decontamination), so every stage of
  ``corpus_prepare`` keeps some rows and drops some.
* :func:`query_tables` — the ``bench.py`` tables (documents, embeddings, the
  TPC-H-ish relational tables, events) at a small scale factor, with the
  31-word saturated document vocabulary of ``bench.py``'s data.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from apollo_service_spark.functions.html import extract_text_only
from apollo_service_spark.operators.robots import parse_robots_py

_EPOCH = datetime(2024, 1, 1)


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (fixed codec, no stats drift)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# --------------------------------------------------------------------------
# crawl corpus
# --------------------------------------------------------------------------

MEGA_SHARE = 0.4  # share of the pages on host 0, the mega-host
DOCUMENT_SHARE = 0.05  # share of the pages that are non-HTML documents
_SECTIONS = ("news", "docs", "blog", "shop", "help")
_CRAWL_WORDS = (
    "market rate branch account loan card deposit saving credit report "
    "annual digital service customer office policy notice update press"
).split()


def _token(rng: random.Random) -> str:
    return f"{rng.getrandbits(40):010x}"


def crawl_corpus(
    seed: int,
    n_pages: int,
    n_hosts: int,
    real_links: int,
    dead_links: int,
    default_budget: int,
    mega_budget: int,
    seed_share: float,
) -> dict:
    """Link graph + robots bodies + budgets for a crawl to exhaustion.

    Returns ``pages`` (url → html bytes, ``None`` for non-HTML documents),
    ``seeds`` (every host root plus ``seed_share`` of the html pages),
    ``robots_bodies`` (host → robots.txt
    text), ``robots`` (host → parsed disallow prefixes, the simulator's
    form) and ``politeness`` (host → per-superstep budget).
    """
    rng = random.Random(seed)
    hosts = [f"h{k:03d}.bench.test" for k in range(n_hosts)]
    weights = [1.0 / (k + 1) for k in range(n_hosts)]
    weights[0] = 0.0
    rest = sum(weights)
    weights = [MEGA_SHARE] + [(1 - MEGA_SHARE) * w / rest for w in weights[1:]]

    owner = [k for k in range(n_hosts)]  # every host owns its root page
    owner += rng.choices(range(n_hosts), weights=weights, k=n_pages - n_hosts)
    urls: list = []
    by_host: dict = {k: [] for k in range(n_hosts)}
    for i, k in enumerate(owner):
        if i < n_hosts:
            path = "/"
        elif rng.random() < DOCUMENT_SHARE:
            path = f"/{rng.choice(_SECTIONS)}/{_token(rng)}.pdf"
        else:
            path = f"/{rng.choice(_SECTIONS)}/{_token(rng)}.html"
        urls.append(f"https://{hosts[k]}{path}")
        by_host[k].append(i)

    pages: dict = {}
    for i, url in enumerate(urls):
        if url.endswith(".pdf"):
            pages[url] = None
            continue
        k = owner[i]
        host = hosts[k]
        hrefs = []
        for _ in range(real_links):
            if rng.random() < 0.7:
                j = rng.choice(by_host[k])
            else:
                j = rng.randrange(n_pages)
            target = urls[j]
            form = rng.random()
            if form < 0.3 and owner[j] == k:
                target = target[len(f"https://{host}"):]  # relative link
            elif form < 0.45:
                target += "#top"  # fragment variant, canonicalized away
            hrefs.append(target)
        for _ in range(dead_links):
            hrefs.append(f"/{rng.choice(_SECTIONS)}/{_token(rng)}.html")
        # links the engine drops: ignore patterns, robots, non-http schemes
        hrefs.append(f"/{rng.choice(_SECTIONS)}/{_token(rng)}.jpg")
        hrefs.append("/account/logout")
        if rng.random() < 0.5:
            hrefs.append(f"/private/{_token(rng)}.html")
        hrefs.append("mailto:desk@bench.test")
        rng.shuffle(hrefs)
        words = " ".join(rng.choice(_CRAWL_WORDS) for _ in range(40))
        items = "".join(f'<li><a href="{h}">{rng.choice(_CRAWL_WORDS)}</a></li>' for h in hrefs)
        html = (
            f"<html><head><title>{host} {i}</title></head><body>"
            f"<nav><a href=\"/\">home</a></nav>"
            f"<div class='main-content'><h1>Page {i}</h1><p>{words}</p>"
            f"<ul>{items}</ul></div></body></html>"
        )
        pages[url] = html.encode("utf-8")

    robots_bodies = {}
    for k, host in enumerate(hosts):
        lines = ["# generated", "User-agent: *"]
        if k % 2 == 0:
            lines.append("Disallow: /private")
        if k % 3 == 0:
            lines.append("Disallow: /help/")
        lines.append("Crawl-delay: 1")
        robots_bodies[host] = "\n".join(lines) + "\n"
    robots = {h: parse_robots_py(b) for h, b in robots_bodies.items()}
    politeness = {h: (mega_budget if k == 0 else default_budget) for k, h in enumerate(hosts)}
    return {
        "pages": pages,
        "seeds": [f"https://{h}/" for h in hosts] + [
            u for u in urls[n_hosts:] if pages[u] is not None and rng.random() < seed_share
        ],
        "robots_bodies": robots_bodies,
        "robots": robots,
        "politeness": politeness,
    }


def write_crawl_corpus(corpus: dict, out_dir: str) -> dict:
    """Write the corpus as the engine's input tables; returns their paths."""
    urls = sorted(corpus["pages"])
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                [_EPOCH + timedelta(seconds=i) for i in range(len(urls))],
                pa.timestamp("us"),
            ),
            "html": pa.array([corpus["pages"][u] for u in urls], pa.binary()),
        }
    )
    hosts = sorted(corpus["robots_bodies"])
    tables = {
        "pages": pages,
        "seeds": pa.table({"url": pa.array(corpus["seeds"], pa.string())}),
        "robots_bodies": pa.table(
            {"host": hosts, "body": [corpus["robots_bodies"][h] for h in hosts]}
        ),
        "politeness": pa.table(
            {
                "host": hosts,
                "budget": pa.array([corpus["politeness"][h] for h in hosts], pa.int32()),
            }
        ),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(table, paths[name])
    return paths


# --------------------------------------------------------------------------
# curate pages
# --------------------------------------------------------------------------

CURATE_VOCABULARY = 4000
_STOP = "the and of to a in is it that for with as on by this be are from at".split()
_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl pr st tr".split()
_NUCLEI = "a e i o u ai ea ou io".split()
_CODAS = "n r s t l m nd st rk".split() + [""]


def _vocabulary(rng: random.Random, n_words: int) -> list:
    words: set = set()
    while len(words) < n_words:
        n_syl = rng.choice((1, 2, 2, 3))
        words.add(
            "".join(
                rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
                for _ in range(n_syl)
            )
        )
    return sorted(words)


def curate_pages(seed: int, n_pages: int, n_sources: int) -> dict:
    """HTML pages for the curate workload: ``html`` (list of bytes, index =
    doc_id) and ``source`` (list of str)."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, CURATE_VOCABULARY)
    cum = np.cumsum(1.0 / np.arange(1, CURATE_VOCABULARY + 1) ** 1.05)
    cum /= cum[-1]
    np_rng = np.random.default_rng(seed)

    def sentence(n: int) -> str:
        idx = np.searchsorted(cum, np_rng.random(n))
        toks = []
        for w in idx:
            toks.append(rng.choice(_STOP) if rng.random() < 0.3 else vocab[w])
        return " ".join(toks).capitalize() + "."

    bodies: list = []
    for i in range(n_pages):
        kind = rng.random()
        n_par = rng.randint(2, 5)
        paragraphs = [sentence(rng.randint(15, 40)) for _ in range(n_par)]
        if kind < 0.08 and i > 0:
            # a passage copied from an earlier page (span dedup drops it)
            donor = bodies[rng.randrange(len(bodies))]
            paragraphs = donor[: max(2, len(donor) - 1)] + paragraphs[:1]
        elif kind < 0.12 and i >= 50:
            # a passage lifted from a benchmark doc (decontamination drops it)
            donor = bodies[50 * rng.randrange(i // 50)]
            paragraphs.insert(1, donor[0])
        elif kind < 0.16:
            paragraphs = ["Ok."] * n_par  # too short (quality drops it)
        elif kind < 0.19:
            # no stopwords at all: language undetermined
            paragraphs = [
                " ".join(vocab[int(w)] for w in np_rng.integers(50, CURATE_VOCABULARY, 25))
                for _ in range(n_par)
            ]
        bodies.append(paragraphs)

    html_rows, sources = [], []
    for i, paragraphs in enumerate(bodies):
        paras = "".join(f"<p>{p}</p>" for p in paragraphs)
        html = (
            f"<html><head><title>Article {i}</title></head><body>"
            f"<header class='header-main-subpages'>site header</header>"
            f"<nav class='top-bar'>home about contact</nav>"
            f"<div class='main-content'><h2>{vocab[i % CURATE_VOCABULARY].title()}</h2>{paras}"
            f"<img src='/img/{i}.png' alt='figure'></div>"
            f"<div class='footer-wrapper'>footer text</div></body></html>"
        ).encode("utf-8")
        html_rows.append(html)
        sources.append(f"site{i % n_sources:02d}")
    return {"html": html_rows, "source": sources}


def extract_texts(html_rows: list) -> list:
    """The extractor oracle: ``extract_text_only`` per page, in doc_id order."""
    return [extract_text_only(h) for h in html_rows]


def write_documents(texts: list, sources: list, path: str) -> None:
    """A ``bench.py``-schema documents table for the DuckDB oracles."""
    write_parquet(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )


def prepare_oracle(documents_path: str) -> tuple:
    """DuckDB ``oracle_sql()["corpus_prepare"]`` over a documents table, and
    the rows each of its stages keeps. Returns ``(funnel, columns, rows)``.

    Raises ``ValueError`` when a stage would keep no rows: an empty stage
    means the workload would time quota, split and pack on nothing (the
    saturated-vocabulary trap of the ``bench.py`` data)."""
    import duckdb

    from apollo_service_spark.plans.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
        )

        def count(query: str) -> int:
            return int(con.execute(f"SELECT count(*) FROM ({query})").fetchone()[0])

        cur = con.execute(sql["corpus_prepare"])
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
        funnel = {
            "docs_in": count("SELECT * FROM documents"),
            "kept_clean": count(f"SELECT * FROM ({sql['corpus_clean']}) WHERE keep"),
            "kept_spans": count(f"SELECT * FROM ({sql['dup_span_stats']}) WHERE keep"),
            "kept_decon": count(
                f"SELECT * FROM ({sql['decontaminate']}) WHERE NOT contaminated"
            ),
            "rows_out": len(rows),
        }
    finally:
        con.close()
    empty = [stage for stage, n in funnel.items() if n == 0]
    if empty:
        raise ValueError(f"curate funnel stages keep 0 rows: {empty} ({funnel})")
    return funnel, columns, rows


def write_curate_pages(pages: dict, out_dir: str, n_files: int) -> list:
    """Write the pages as ``n_files`` parquet files of consecutive doc_ids
    (one file would be read as one partition, so extraction would run on
    one core). Returns the file paths."""
    n = len(pages["html"])
    paths = []
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        paths.append(os.path.join(out_dir, f"part-{k:02d}.parquet"))
        write_parquet(
            pa.table(
                {
                    "doc_id": pa.array(range(lo, hi), pa.int64()),
                    "source": pa.array(pages["source"][lo:hi], pa.string()),
                    "html": pa.array(pages["html"][lo:hi], pa.binary()),
                }
            ),
            paths[-1],
        )
    return paths


# --------------------------------------------------------------------------
# query tables (bench.py schema, saturated vocabulary)
# --------------------------------------------------------------------------

_QUERY_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_W = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "login"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def query_tables(seed: int, sf: float) -> dict:
    """The ``bench.py`` tables at scale factor ``sf`` (sf0.01 = 500 documents,
    60k lineitem rows), as ``{name: pyarrow.Table}``."""
    rng = np.random.default_rng(seed)
    n_docs = int(50_000 * sf)
    n_cust, n_orders, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))

    lens = rng.integers(10, 101, size=n_docs)
    words = _QUERY_VOCAB[rng.integers(0, len(_QUERY_VOCAB), size=int(lens.sum()))]
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n_docs)]
    doc_id = np.arange(n_docs, dtype=np.int64)
    day = np.datetime64("1992-01-01", "us")

    def dates(n, span_days):
        return day + rng.integers(0, span_days, size=n).astype("timedelta64[D]")

    tables = {
        "documents": pa.table(
            {
                "doc_id": doc_id,
                "text": texts,
                "lang": _LANGS[rng.choice(len(_LANGS), size=n_docs, p=_LANG_W)],
                "source": np.char.add("src", (doc_id % 20).astype(str)),
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n_docs, dtype=np.int64),
                "embedding": pa.array(
                    list(rng.standard_normal((n_docs, 64)).astype(np.float32)),
                    type=pa.list_(pa.float32()),
                ),
                "label": rng.integers(0, 10, size=n_docs).astype(np.int32),
            }
        ),
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, size=n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.array(["small ", "large ", "medium "])[rng.integers(0, 3, n_part)],
                    np.array(["ring", "bolt", "gear", "pipe"])[rng.integers(0, 4, n_part)],
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 6, n_part).astype(str)),
                "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, n_part)],
                "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900, 2000, size=n_part), 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": np.round(rng.uniform(1000, 400000, size=n_orders), 2),
                "o_orderdate": pa.array(dates(n_orders, 2400), pa.timestamp("us")),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_orders, size=n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, size=n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, size=n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_line), 2),
                "l_discount": np.round(rng.integers(0, 11, size=n_line) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, size=n_line) / 100.0, 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
                "l_shipdate": pa.array(dates(n_line, 2500), pa.timestamp("us")),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_events)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, n_users, size=n_events).astype(np.int64),
                "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
                "value": np.round(rng.uniform(0, 100, size=n_events), 2),
                "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, n_events)],
            }
        ),
    }
    return tables


def write_query_tables(tables: dict, out_dir: str) -> None:
    for name, table in tables.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
