"""Skew utilities + IVF ANN recall tests."""

import os

import pytest
from pyspark.sql import functions as F

from gloomy_spark.ops.dedup import minhash_lsh_pairs
from gloomy_spark.ops.simsearch import cosine_topk, ivf_topk
from gloomy_spark.ops.skew import cap_buckets

SF = "/root/testdata/sf0.01"


@pytest.mark.spark
def test_cap_buckets_bounds_and_determinism(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    # all docs share one bucket key → the pathological giant bucket
    keyed = docs.select("doc_id", F.lit("k").alias("key"))
    capped1 = sorted(r.doc_id for r in cap_buckets(keyed, ["key"], 40).collect())
    capped2 = sorted(r.doc_id for r in cap_buckets(keyed, ["key"], 40).collect())
    assert len(capped1) <= 40
    assert capped1 == capped2  # deterministic sample


@pytest.mark.spark
def test_lsh_bucket_cap_reduces_pairs(spark):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    full = minhash_lsh_pairs(docs, 24, 6, 2).count()
    capped = minhash_lsh_pairs(docs, 24, 6, 2, max_bucket=16).count()
    assert capped <= full


@pytest.mark.spark
def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    exact = [r.vec_id for r in cosine_topk(emb, 0, 10).collect()]
    approx = [r.vec_id for r in ivf_topk(emb, 0, 10, n_lists=8, n_probe=4).collect()]
    # results that IVF returns must be exact-correct cosines in exact order
    # w.r.t. the probed subset; recall vs brute force should be substantial
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, (exact, approx)
    # determinism
    again = [r.vec_id for r in ivf_topk(emb, 0, 10, n_lists=8, n_probe=4).collect()]
    assert approx == again
