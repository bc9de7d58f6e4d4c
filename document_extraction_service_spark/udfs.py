"""Vectorized UDF layer — the only Python on the hot path.

One iterator-form pandas UDF runs the whole per-document pipeline
(SURVEY §2.10 folds the reference's ~40 per-document operators into
the UDF chain) and returns the RESULT struct directly through Arrow —
no JSON round trip (measured 2.3x faster on the write path than
udf->json->from_json, because the JVM otherwise re-parses the full
nested payload at materialization time).

The iterator form matters: module imports and compiled regexes are
paid once per Python worker, not per batch — the inversion of the
reference's per-document spaCy reload
(/root/reference/app/core/extraction_modul/extraction_model.py:87).

Every Python UDF in the package is wrapped in `releases_zip_importers`
(CLAUDE.md #25; tests/test_packaging.py enforces it).
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .extract.pipeline import extract_document
from .schema import RESULT


def releases_zip_importers(fn: Callable) -> Callable:
    """Wrap a Python UDF so that, when its iterator ends (exhausted,
    closed or failed) or its call returns, the worker forgets every
    zipimporter in `sys.path_importer_cache`.

    Spark's worker calls `importlib.invalidate_caches()` at the start
    of every task; on CPython < 3.12 each cached zipimporter then
    re-reads its whole archive directory (pyspark.zip: ~9 ms each on a
    4-vCPU VM, one per imported sub-package, 14+ after a UDF's imports;
    fixed upstream in 3.12 by gh-103200).  The cache is only a cache: the next import
    miss rebuilds an entry from `zipimport`'s own directory cache
    without touching the archive, so the next task on this worker has
    nothing zip-backed left to invalidate.  The signature passes through
    (`__signature__`, which `inspect.getfullargspec` also reads): pandas_udf
    infers the UDF type from the hints, and the grouped-map worker picks
    `f(rows)` or `f(key, rows)` by the positional argument count."""

    def release() -> None:
        cache = sys.path_importer_cache
        for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
            del cache[path]

    if inspect.isgeneratorfunction(fn):
        @functools.wraps(fn)
        def run(*args):
            try:
                yield from fn(*args)
            finally:
                release()
    else:
        @functools.wraps(fn)
        def run(*args):
            try:
                return fn(*args)
            finally:
                release()
    run.__signature__ = inspect.signature(fn)
    return run


@F.pandas_udf(RESULT)
@releases_zip_importers
def extract_struct_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    for html, url, lang, text in it:
        res = [
            extract_document(h, u, l, t)
            for h, u, l, t in zip(html, url, lang, text)
        ]
        yield pd.DataFrame(
            {
                "extraction": [r["extraction"] for r in res],
                "status": [r["status"] for r in res],
            }
        )


def extraction_col(html: str | Column = "html", url: str | Column = "url",
                   lang: str | Column = "lang",
                   text: str | Column = "text") -> Column:
    """Column expression: parse+extract -> RESULT struct (Arrow-direct).
    `text` is the crawl-provided plain text, used only as the
    null-html fallback (status.fallback)."""
    return extract_struct_udf(html, url, lang, text)


def with_extraction(df: DataFrame) -> DataFrame:
    """pages df -> (url, warc_ts, extraction, status).

    The heavy `html` column is consumed here and not carried further —
    downstream stages and writes never shuffle page payloads.
    """
    return df.select(
        "url",
        "warc_ts",
        extraction_col().alias("_res"),
    ).select(  # noqa: E501 — heavy html/text consumed in the projection above
        "url",
        "warc_ts",
        F.col("_res.extraction").alias("extraction"),
        F.col("_res.status").alias("status"),
    )
