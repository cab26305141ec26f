"""Near-real-time serving: BM25 over the compacted segment index PLUS
uncompacted streaming runs — the segments+memtable story of real search
engines, without waiting for compaction.

Exactness contract (tested): `nrt_bm25_topk` returns the SAME top-k (ids
and scores) as rebuilding the whole index over the merged corpus. That
requires adjusting the GLOBAL statistics, not just unioning postings:

- a doc re-ingested in a run overrides its base version (same rule as
  `IncrementalIndexer.compact`: last run wins), so its base postings are
  excluded and its doclen replaced;
- n_docs / avgdl / per-term df are recomputed for the merged corpus —
  df(t) = df_base(t) − |overridden base docs containing t| + df_runs(t).

Costs are proportional to the QUERY TERMS' postings plus the run sizes
(runs are the recent tail — small relative to the base by design), never
to the base corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .incremental import latest_runs


def nrt_merged_stats(si, run_docs: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) for base ⊎ runs with overridden base docs replaced.
    TWO collects total, shared by every query in a batch."""
    base_docs = si.docs.select("doc_id", F.col("doclen").alias("dl"))
    overridden = base_docs.join(run_docs, "doc_id", "leftsemi")
    n_base = si.manifest.n_docs
    sum_base = si.manifest.avgdl * n_base
    ov = overridden.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    rn = run_docs.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    n_docs = n_base - int(ov["n"]) + int(rn["n"])
    avgdl = (sum_base - float(ov["s"]) + float(rn["s"])) / max(n_docs, 1)
    return n_docs, avgdl


def nrt_bm25_topk_batch(
    si, runs_dir: str, queries: list[str], k: int = 10
) -> DataFrame:
    """Score MANY queries over base ⊎ runs in ONE job →
    (query_id, doc_id, score), each query's rows exact vs a full rebuild.

    Shares everything shareable across the batch: the merged global
    stats (two collects total), ONE pushed-down base-postings decode for
    the union of all query terms (`postings_multi` — not one scan + one
    term-id collect per term), one runs scan, one per-term df/idf
    aggregation; queries then gather their terms via a broadcast
    (query_id, term) map and a per-query top-k window (map-side group
    limit — never a global sort). The serving-throughput twin of
    `bm25_topk_batch`, applied to the NRT merge."""
    from ..textnorm import tokenize

    spark = si.spark
    cfg = si.cfg
    k1, b = cfg.bm25.k1, cfg.bm25.b
    toks_by_q = {
        qi: list(dict.fromkeys(tokenize(q, cfg))) for qi, q in enumerate(queries)
    }
    toks_by_q = {qi: ts for qi, ts in toks_by_q.items() if ts}
    all_toks = list(dict.fromkeys(t for ts in toks_by_q.values() for t in ts))
    if not all_toks:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")

    run_posts = latest_runs(spark, runs_dir).select("term", "doc_id", "tf", "dl")
    run_docs = run_posts.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    n_docs, avgdl = nrt_merged_stats(si, run_docs)

    base = si.postings_multi(all_toks).join(
        run_docs.select("doc_id"), "doc_id", "left_anti"
    )
    merged = base.select("term", "doc_id", "tf", "dl").unionByName(
        run_posts.where(F.col("term").isin(all_toks))
    )

    # df as a window count keeps the plan SINGLE-PASS over the merged
    # postings: a groupBy-df + re-join would consume `merged` twice, and
    # the optimizer does not dedupe the two subtrees — the base-postings
    # decode would run twice (one scan per batch is asserted in tests)
    from pyspark.sql import Window

    wterm = Window.partitionBy("term")
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    qmap = spark.createDataFrame(
        [(qi, t) for qi, ts in toks_by_q.items() for t in ts],
        "query_id int, term string",
    )
    scored = (
        merged.withColumn("df", F.count("*").over(wterm))
        .withColumn(
            "contrib",
            idf
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))),
        )
        .join(F.broadcast(qmap), "term")
    )
    per_q = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_q.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def nrt_bm25_topk(
    si, runs_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Top-k BM25 over base index ⊎ uncompacted runs (exact vs rebuild).

    `si` is a SearchIndex over the compacted base. Thin wrapper over the
    batched scorer (one decode of the query terms' base postings, one
    runs scan, exact merged stats — see nrt_bm25_topk_batch)."""
    return (
        nrt_bm25_topk_batch(si, runs_dir, [query], k)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
