"""Arrow-vectorized pandas UDFs — the only Python in the hot path.

These kernels cross the Arrow boundary (everything else in the engine is a
Catalyst column expression):

* ``extract_text_udf``  — HTML→markdown extraction, semantics of the
  reference extractor (`scraper.py:211-292`), byte-identical per row with the
  in-repo oracle because both call ``functions.html.extract_text``.
* ``extract_links_udf`` — a[href] link extraction + urljoin + fragment strip
  (`apollo.py:359-371`), returning array<string> that callers ``explode``.
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
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from .html import extract_links, extract_text, extract_text_only
from .textstats import doc_pass_py, repetition_stats_py


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_only)


_DOC_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("clean_title", StringType()),
        StructField("page_title", StringType()),
    ]
)


def _extract_doc(html) -> tuple:
    if html is None:
        return ("", "", "")
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8", errors="replace")
        except Exception:
            return ("", "", "")
    return extract_text(html)


@F.pandas_udf(_DOC_SCHEMA)
def extract_doc_udf(html: pd.Series) -> pd.DataFrame:
    """Full extraction record: markdown text + cleaned title + raw title
    (the reference scraper's per-page output, scraper.py:211-330) in one
    Arrow pass — callers derive metadata (sha2 doc ids, display names)
    JVM-side from the struct fields."""
    rows = html.map(_extract_doc)
    return pd.DataFrame(
        {
            "text": rows.map(lambda r: r[0]),
            "clean_title": rows.map(lambda r: r[1]),
            "page_title": rows.map(lambda r: r[2]),
        },
        index=html.index,
    )


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_links(h, b) for h, b in zip(html, base_url)],
        index=html.index,
        dtype=object,
    )


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
