"""Explicit skew-handling utilities (north rule: "partitioning / shuffle /
skew handled explicitly").

Where skew lives in this engine and what handles it:

1. postings build — NO per-term shuffle exists anymore (per-partition
   Arrow inversion), so head terms never form a hot key;
2. dictionary df/cf — groupBy(term) relies on map-side partial
   aggregation: every task emits at most |local vocab| rows per term, so
   "the" contributes one partial row per task, not one row per posting;
3. segment writing — repartitionByRange(term_id, doc_id) splits a head
   term's postings across many range partitions (each a doc slice);
4. LSH band buckets — boilerplate-heavy corpora create giant buckets
   whose self-join is quadratic; `cap_buckets` bounds any bucket to a
   sample of `max_bucket` members (candidate recall trades against the
   quadratic blowup, standard at web scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_N_SALTS = 8


def cap_buckets(
    keyed: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """Bound any join bucket to `max_bucket` deterministic members.

    Uses a per-bucket rank; the window itself would re-concentrate the hot
    key on one task, so the rank runs over a SALTED sub-bucket first and
    keeps `max_bucket // n_salts` per sub-bucket — no single task ever
    sees a whole giant bucket. Truncation is observable via
    `capped_bucket_stats` (same salt layout, exact dropped-row count)."""
    per_salt = max(1, max_bucket // _N_SALTS)
    salted = keyed.withColumn(
        "_salt", (F.crc32(F.col(order_col).cast("string")) % _N_SALTS)
    )
    w = Window.partitionBy(*key_cols, "_salt").orderBy(order_col)
    return (
        salted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= per_salt)
        .drop("_rn", "_salt")
    )


def capped_bucket_stats(
    keyed: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """One-row DataFrame (n_buckets_capped, n_rows_dropped): exactly what
    `cap_buckets` with the same arguments would truncate. Recall loss from
    capping is a silent trade otherwise — callers that cap by default
    (minhash_lsh_pairs) expose this so truncation is a metric, not a
    mystery. Costs one extra aggregation pass over `keyed`."""
    per_salt = max(1, max_bucket // _N_SALTS)
    salted = keyed.withColumn(
        "_salt", (F.crc32(F.col(order_col).cast("string")) % _N_SALTS)
    )
    sub = salted.groupBy(*key_cols, "_salt").agg(F.count("*").alias("n"))
    per_bucket = sub.groupBy(*key_cols).agg(
        F.sum(F.greatest(F.col("n") - per_salt, F.lit(0))).alias("dropped")
    )
    return per_bucket.agg(
        F.count(F.when(F.col("dropped") > 0, 1)).alias("n_buckets_capped"),
        F.coalesce(F.sum("dropped"), F.lit(0)).cast("long").alias("n_rows_dropped"),
    )
