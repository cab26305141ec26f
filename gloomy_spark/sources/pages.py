"""Common-Crawl-style pages source (the north-rule input shape).

The corpus is an Iceberg table with columns
(url string, warc_ts timestamp, html binary, text string, lang string);
`read_pages` dispatches on the source spec so the SAME pipeline code runs
against a catalog table in production and parquet fixtures in this
sandbox (which has no Iceberg jars — the store layout maps 1:1 onto
Iceberg tables, see index_store.py):

- ``"catalog.db.pages"`` (a dotted identifier, no path separator) →
  ``spark.read.table`` — with an Iceberg catalog configured this is a
  snapshot-isolated scan with partition pruning and hidden-partition
  evolution handled by the table format;
- ``"/path/to/pages.parquet"`` / any path or glob → ``spark.read.parquet``.

Column pruning and predicate pushdown behave identically either way: the
build reads only (doc_id/url, text[, lang]) so the html binary column is
never fetched (ReadSchema excludes it — asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Pages corpus from a table identifier or a parquet path/glob.

    Dispatch is explicit-first, then existence-based — never a pure
    string-shape guess (a relative dir like ``"pages_data"`` must not be
    routed to an unrelated catalog table of the same name):

    - ``"table:catalog.db.pages"`` / ``"path:fixtures"`` force the branch;
    - anything that exists on the local filesystem (or is a glob whose
      parent exists, or carries a URI scheme like ``s3://``/``hdfs://``)
      is read as parquet;
    - otherwise a dotted identifier with no path separator goes to
      ``spark.read.table``.
    """
    import glob as _glob
    import os
    import re

    if source.startswith("table:"):
        return spark.read.table(source[len("table:"):])
    if source.startswith("path:"):
        return spark.read.parquet(source[len("path:"):])
    has_scheme = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", source) is not None
    exists_locally = os.path.exists(source) or bool(_glob.glob(source))
    looks_like_path = (
        has_scheme
        or "/" in source
        or source.endswith(".parquet")
        or exists_locally
    )
    if looks_like_path:
        if exists_locally and not has_scheme:
            # the JVM resolves relative paths against ITS cwd, which can
            # differ from the Python process's — absolutize here
            source = os.path.abspath(source)
        return spark.read.parquet(source)
    return spark.read.table(source)


def read_docs(spark: SparkSession, source: str) -> DataFrame:
    """A forward store (kwic/collocations) from ``source``: the table as
    read when it already carries ``doc_id``, else a pages corpus
    projected through :func:`pages_to_docs`."""
    docs = read_pages(spark, source)
    return docs if "doc_id" in docs.columns else pages_to_docs(docs)


def pages_to_docs(pages: DataFrame) -> DataFrame:
    """Project the pages shape to the builder's (doc_id, text, url, lang)
    — doc_id is the 64-bit url hash (urls are the corpus's primary key),
    so re-ingesting the same snapshot at any parallelism yields identical
    ids. The html column is intentionally NOT selected: Catalyst prunes it
    from the scan (a build must never pay for the raw bytes).

    Collision budget (64-bit birthday bound, n²/2⁶⁵ expected pairs):
    ~5×10⁻⁸ at 10⁹ docs, ~0.05 at 10¹⁰ — i.e. effectively zero through
    tens of billions of pages. At the 10¹² design ceiling the expectation
    is ~3×10⁴ merged pairs; runs at that scale should pass
    ``verify_unique_doc_ids=True`` to ``IndexBuilder.build`` (an exact
    count-distinct check over the already-materialized docs dimension
    that raises loudly instead of silently merging two urls), and the
    docs dimension always retains the full ``url`` as the authoritative
    per-document key for metadata reconciliation."""
    return pages.select(
        F.xxhash64("url").alias("doc_id"),
        "text",
        "url",
        "lang",
    )
