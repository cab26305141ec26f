"""LSH+rerank pipeline vs exact all-pairs jaccard (candidate-recall aware)."""

import os

import pytest

from gloomy_spark.ops.dedup import (
    jaccard_pairs,
    lsh_jaccard_pipeline,
    minhash_lsh_pairs,
    simhash,
)


@pytest.mark.spark
def test_lsh_jaccard_pipeline_subset_and_exact_values(spark):
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, shingle_k=2, threshold=0.3).collect()
    }
    piped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_jaccard_pipeline(
            docs, num_hashes=24, bands=6, shingle_k=2, threshold=0.3
        ).collect()
    }
    # every piped pair is exact-correct (same jaccard value)
    for k, v in piped.items():
        assert k in exact and exact[k] == v
    # recall: LSH with 6 bands x 4 rows at j>=0.3... candidates must cover
    # the high-similarity pairs (j >= 0.8 pairs are near-certain hits)
    high = {k for k, v in exact.items() if v >= 0.8}
    assert high <= set(piped), "missed near-certain near-dups"
    # overall recall sanity
    assert len(piped) >= max(1, int(0.5 * len(exact)))


@pytest.mark.spark
def test_simhash_drops_ignore_strings_like_registry_sql(spark):
    """A standalone '"' token is an ignore string: the registry's DuckDB
    SQL (and the index tokenizer) drop it, so simhash must too."""
    import duckdb
    import pandas as pd

    from gloomy_spark.entry_queries import q_simhash

    documents = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            'he said " stop " and left',
            '" " " quoted text " with marks',
            "no marks here at all",
        ],
    })
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(spark.createDataFrame(documents)).collect()
    }
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        want = dict(con.execute(q_simhash()[1]).fetchall())
    finally:
        con.close()
    assert got == want
