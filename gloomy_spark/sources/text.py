"""Corpus sources: one record source for every file reader, plus the
plain-text and whole-file readers.

Reference parity: gloomy reads every corpus through one reader, files.
NewReader, with transparent gz/bz2 handling (index/builder/files/
util.go:28-56) and a charset decode (simple.go:84-90). Here that reader
is `_file_records`; the plain-text and both vertical readers
(sources/vertical.py) are built on it and share one content-stable
doc_id rule, `xxhash64(path, content key, occurrence)`, for every
charset and codec.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _file_records(
    spark: SparkSession, path: str, sep: str | None, charset: str
) -> DataFrame:
    """(path, rec): the records of every file under `path` — its lines
    when `sep` is None, else the text between consecutive `sep`s (which
    are consumed).

    UTF-8 goes through Spark's text source, which is SPLITTABLE: one
    multi-GB plain file parallelizes at record boundaries, and Hadoop
    decompresses .gz / .bz2 by extension (bz2 splits too; gzip stays one
    task per file, as in the reference). Other charsets cannot be split
    at byte offsets, so each file is loaded whole, decompressed by
    extension, decoded and split (`splitlines()` for lines)."""
    from ..session import ship_package

    ship_package(spark)
    if charset.lower() in ("utf-8", "utf8"):
        reader = spark.read if sep is None else spark.read.option("lineSep", sep)
        return reader.text(path).select(
            F.input_file_name().alias("path"), F.col("value").alias("rec")
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bz2
        import gzip

        for pdf in batches:
            paths, recs = [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                body = bytes(content)
                if p.endswith(".gz"):
                    body = gzip.decompress(body)
                elif p.endswith(".bz2"):
                    body = bz2.decompress(body)
                text = body.decode(charset)
                parts = text.splitlines() if sep is None else text.split(sep)
                paths.extend([p] * len(parts))
                recs.extend(parts)
            yield pd.DataFrame({"path": paths, "rec": recs})

    return (
        spark.read.format("binaryFile").load(path)
        .select("path", "content")
        .mapInPandas(decode, "path string, rec string")
    )


def _occurrence(*keys) -> Column:
    """1..k over the rows that share `keys`. Which duplicate gets which
    number is arbitrary, but the emitted set of numbers is not, so ids
    built from (keys, occurrence) are the same at any split layout. Costs
    one shuffle on `keys`; only exact duplicates share one."""
    w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id())
    return F.row_number().over(w)


def read_plaintext_docs(
    spark: SparkSession, path: str, charset: str = "utf-8"
) -> DataFrame:
    """One document per line: (doc_id, text), from plain, .gz or .bz2
    files in any charset (see `_file_records`).

    doc_ids are CONTENT-stable: doc_id = xxhash64(path, text,
    occurrence), where occurrence numbers duplicate (path, text) lines
    1..k, so re-reading the same corpus at any parallelism / split layout
    yields the identical (doc_id, text) set, and inserting a line leaves
    every other line's id unchanged. Duplicate groups are numbered on one
    task (no layout-free salt exists for byte-identical rows), so a file
    that is mostly ONE repeated line concentrates on that task — dedup
    such corpora first."""
    lines = _file_records(spark, path, None, charset)
    return lines.select(
        F.xxhash64("path", "rec", _occurrence("path", F.xxhash64("rec"))).alias(
            "doc_id"
        ),
        F.col("rec").alias("text"),
    )


def read_wholefile_docs(spark: SparkSession, path: str) -> DataFrame:
    """One document per file: (doc_id, url=path, text)."""
    df = spark.read.text(path, wholetext=True).withColumn(
        "url", F.input_file_name()
    )
    return df.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        F.col("value").alias("text"),
    )
