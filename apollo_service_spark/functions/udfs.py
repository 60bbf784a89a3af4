"""Arrow-vectorized pandas UDFs — the only Python in the hot path.

These kernels cross the Arrow boundary (everything else in the engine is a
Catalyst column expression):

* ``extract_text_udf``  — HTML→markdown extraction, semantics of the
  reference extractor (`scraper.py:211-292`), byte-identical per row with the
  in-repo oracle because both call ``functions.html.extract_text``.
* ``expand_links_udf`` — the crawl frontier's expand phase for each page:
  a[href] link extraction + urljoin + fragment strip (`apollo.py:359-371`),
  then canonicalization, the ignore patterns and the host/path split
  (``urlkit.expand_link_py``), returning array<struct<url, host, path>> that
  the frontier ``explode``s.
* ``extract_links_udf`` — the extraction step alone, returning the raw
  array<string> of links. The engine no longer runs it; only perfbench's
  traced replay does, timing it apart from the Catalyst ``urlkit``
  expressions.
* ``repetition_stats_udf`` — the Gopher repetition scalars; SQL-expressible
  (the Catalyst folds exist and are the test reference) but measured 4×
  slower than this Counter kernel at corpus scale, so the Arrow form is the
  only production path of the standalone repetition gate
  (plans/queries.py ``_with_repetition_stats``; BENCH/ROUND5.md).
* ``doc_pass_udf`` — ``corpus_prepare``'s single read of each document: the
  same repetition scalars plus 64-bit hashes of its CCNet lines and its
  4-grams, which ``curation.doc_pass_flags`` explodes once for the
  line-dedup, span and decontamination verdicts.

Batch sizing is controlled by ``spark.sql.execution.arrow.maxRecordsPerBatch``
(set in ``session.build_session``); the per-row functions are pure so the
kernels are embarrassingly parallel across Arrow batches and executors.

Each Python task has a fixed cost before it reads a row, whatever the batch
size: the worker's set-up, plus, under stock ``pyspark.daemon`` on Python
3.11, 0.17-0.23 CPU-s of zip-directory re-reads (``session.py``). The
session's worker daemon (``worker_daemon.py``) removes the re-reads; a task
over an empty partition then costs about 0.03 CPU-s of worker CPU. A kernel
that runs over many small partitions pays this once per partition.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from .html import extract_links, extract_text_only
from .textstats import doc_pass_py, repetition_stats_py
from .urlkit import expand_link_py


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_only)


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_links(h, b) for h, b in zip(html, base_url)],
        index=html.index,
        dtype=object,
    )


_LINK_FIELDS = ["url", "host", "path"]
_LINKS_TYPE = ArrayType(
    StructType([StructField(name, StringType()) for name in _LINK_FIELDS])
)


def expand_links_udf(extra_ignore_patterns: list | None = None):
    """The Arrow kernel of the frontier's expand phase: for each (html,
    base url), the page's candidate links as (url, host, path) structs, in
    ``extract_links`` order, with the ignored ones left out. Canonicalizing
    here, once per link, keeps the ~50-node Catalyst ``canonicalize`` tree
    out of the superstep's plan; the strings equal those of the Catalyst
    composition (tests/test_urlkit_fuzz.py)."""
    extra = list(extra_ignore_patterns or [])

    @F.arrow_udf(_LINKS_TYPE)
    def expand_links(html: pa.Array, base_url: pa.Array) -> pa.Array:
        offsets = [0]
        columns = ([], [], [])
        for page, base in zip(html.to_pylist(), base_url.to_pylist()):
            for link in extract_links(page, base):
                row = expand_link_py(link, extra)
                if row is not None:
                    for column, value in zip(columns, row):
                        column.append(value)
            offsets.append(len(columns[0]))
        structs = pa.StructArray.from_arrays(
            [pa.array(column, pa.string()) for column in columns],
            names=_LINK_FIELDS,
        )
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), structs)

    return expand_links


_REPETITION_SCHEMA = StructType(
    [
        StructField("wchars", LongType()),
        StructField("top_cnt", LongType()),
        StructField("top_g", StringType()),
        StructField("dupchars", LongType()),
    ]
)


@F.pandas_udf(_REPETITION_SCHEMA)
def repetition_stats_udf(text: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized repetition scalars — the Counter-based twin of the
    Catalyst ``word_char_count``/``top_run``/``dup_run_chars`` folds
    (semantics pinned in ``textstats.repetition_stats_py``; equality
    property-tested).  Exists because the interpreted higher-order-function
    fold is the measured bottleneck of the cleaning stack at corpus scale
    (~1.2k docs/s/core vs 7.5k–16k for every other stage), and both
    Catalyst rewrites LOST (BENCH/ROUND5.md) — this is the winnow
    precedent: when the expression evaluator is the limit, cross the Arrow
    boundary once with a pure per-row kernel."""
    rows = text.map(repetition_stats_py)
    return pd.DataFrame(
        {
            "wchars": rows.map(lambda r: r[0]),
            "top_cnt": rows.map(lambda r: r[1]),
            "top_g": rows.map(lambda r: r[2]),
            "dupchars": rows.map(lambda r: r[3]),
        },
        index=text.index,
    )


_DOC_PASS_SCHEMA = StructType(
    _REPETITION_SCHEMA.fields
    + [
        StructField("line_h", ArrayType(LongType())),
        StructField("line_chars", ArrayType(IntegerType())),
        StructField("gram_h", ArrayType(LongType())),
    ]
)


@F.pandas_udf(_DOC_PASS_SCHEMA)
def doc_pass_udf(text: pd.Series) -> pd.DataFrame:
    """One read of each document for the whole curation filter stack
    (``textstats.doc_pass_py``): the repetition scalars plus the 64-bit
    hashes of its CCNet lines (with their lengths) and of its overlapping
    4-grams, which ``curation.doc_pass_flags`` explodes once."""
    return pd.DataFrame(
        [doc_pass_py(t) for t in text],
        columns=_DOC_PASS_SCHEMA.fieldNames(),
        index=text.index,
    )
