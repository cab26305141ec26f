"""Round-4 closures and new query operators: true-LRU posting cache,
doc_attrs race contract, read_pages dispatch, segment-writer loud
bounds, inverter-backed incremental ingest, LSH store fingerprint,
doc_id collision check; boolean doc-set retrieval, KWIC concordance,
collocation measures, faceted BM25 (engine + service endpoints), and
the posting-scan column-pruning plan audit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gloomy_spark.config import EngineConfig


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    idx = str(tmp_path_factory.mktemp("r4idx") / "idx")
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text", "url")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=2, url_col="url")
    return SearchIndex(spark, idx).cache()


@pytest.mark.spark
def test_posting_cache_true_lru(small_index):
    """A hit must refresh recency: after q1, q2, q1-again, inserting q3
    under a tight budget evicts q2's terms first — q1's survive."""
    si = small_index
    q1, q2, q3 = "the data", "and to", "that was"

    # measure per-query cached postings with an unbounded budget
    si._POSTING_CACHE_MAX = 10**9
    with si._posting_cache_lock:
        si._posting_cache.clear()
    si.bm25_serve(q1, 5)
    tids1 = set(si._posting_cache)
    si.bm25_serve(q2, 5)
    tids2 = set(si._posting_cache) - tids1
    si.bm25_serve(q3, 5)
    tids3 = set(si._posting_cache) - tids1 - tids2
    assert tids1 and tids2 and tids3
    sizes = {t: len(v[0]) for t, v in si._posting_cache.items()}
    s1 = sum(sizes[t] for t in tids1)
    s3 = sum(sizes[t] for t in tids3)

    # replay with a budget that fits q1+q3 but NOT q2 as well
    with si._posting_cache_lock:
        si._posting_cache.clear()
    si._POSTING_CACHE_MAX = s1 + s3
    si.bm25_serve(q1, 5)
    si.bm25_serve(q2, 5)
    si.bm25_serve(q1, 5)  # the hit that must refresh q1's recency
    si.bm25_serve(q3, 5)
    with si._posting_cache_lock:
        cached = set(si._posting_cache)
    assert tids1 <= cached, "recently-HIT q1 terms were evicted (FIFO, not LRU)"
    assert not (tids2 <= cached), "oldest-unused q2 terms should evict first"
    si._POSTING_CACHE_MAX = type(si)._POSTING_CACHE_MAX


@pytest.mark.spark
def test_doc_attrs_more_ids_than_cache_cap(small_index):
    """Requesting more ids than the cache cap must still return real
    attrs for every existing doc — the cache is an optimization, never
    the source of truth (round-4 ADVICE race)."""
    si = small_index
    ids = [r["doc_id"] for r in si.docs.select("doc_id").limit(10).collect()]
    si._doc_attr_cache.clear()
    old_max = si._DOC_ATTR_CACHE_MAX
    si._DOC_ATTR_CACHE_MAX = 3  # instance attr shadows the class constant
    try:
        got = si.doc_attrs(ids, ["url", "doclen"])
    finally:
        si._DOC_ATTR_CACHE_MAX = old_max
        si._doc_attr_cache.clear()
    assert set(got) == set(int(i) for i in ids)
    for d, row in got.items():
        assert row.get("url"), f"doc {d} lost its attrs to cache eviction"


@pytest.mark.spark
def test_read_pages_dispatch(spark, tmp_path, monkeypatch):
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.sources.pages import read_pages

    fixture = tmp_path / "pages_data"  # no slash when referenced relatively
    pages_df(spark, 5, partitions=1).write.mode("overwrite").parquet(str(fixture))

    # a relative existing dir must go to the parquet branch, not a catalog
    monkeypatch.chdir(tmp_path)
    assert read_pages(spark, "pages_data").count() == 5
    # explicit prefixes force the branch
    assert read_pages(spark, f"path:{fixture}").count() == 5
    spark.read.parquet(str(fixture)).createOrReplaceTempView("r4_pages_tbl")
    try:
        assert read_pages(spark, "table:r4_pages_tbl").count() == 5
        # bare identifier with no such file → table branch
        assert read_pages(spark, "r4_pages_tbl").count() == 5
    finally:
        spark.catalog.dropTempView("r4_pages_tbl")


@pytest.mark.spark
def test_segment_writer_partition_bound_raises(spark, tmp_path, monkeypatch):
    """The writer's in-memory sort must fail LOUDLY when a shuffle
    partition exceeds its bounds, instead of corrupting offsets/OOMing."""
    import gloomy_spark.build as build_mod
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df

    monkeypatch.setattr(build_mod, "_SEGMENT_PARTITION_MAX_ROWS", 10)
    cfg = EngineConfig(shuffle_partitions=1, doc_bucket_width=64)
    docs = pages_df(spark, 30, partitions=1).select("doc_id", "text")
    with pytest.raises(Exception, match="exceeds the in-memory sort bound"):
        IndexBuilder(spark, cfg).build(
            docs, str(tmp_path / "idx"), n_buckets=1, resume=False
        )


@pytest.mark.spark
def test_incremental_runs_use_inverter_binary_positions(spark, tmp_path):
    """Micro-batch runs now come from the shared _partition_inverter:
    positions land PRE-ENCODED (binary postings_raw contract) and compact
    consumes them without the legacy array<int> conversion."""
    from gloomy_spark.streaming.incremental import IncrementalIndexer
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(src)

    inc = IncrementalIndexer(spark, str(tmp_path / "work"), cfg)
    inc.start(src, "doc_id long, text string").awaitTermination(120)

    runs = spark.read.option("basePath", inc.runs_dir).parquet(
        os.path.join(inc.runs_dir, "run=*")
    )
    ptype = dict((f.name, f.dataType.simpleString()) for f in runs.schema.fields)
    assert ptype["positions"] == "binary"

    idx = str(tmp_path / "idx")
    inc.compact(idx, n_buckets=1)
    si = SearchIndex(spark, idx)
    pos = {
        r["doc_id"]: list(r["positions"])
        for r in si.postings_positions("alpha").collect()
    }
    assert pos == {1: [0, 2]}
    pos_b = {
        r["doc_id"]: list(r["positions"])
        for r in si.postings_positions("beta").collect()
    }
    assert pos_b == {1: [1], 2: [0]}


@pytest.mark.spark
def test_compact_rejects_array_positions_run(spark, tmp_path):
    """compact hands run positions to the segment writer as the binary
    postings_raw form; a run holding array<int> positions would be
    misread there, so compact refuses it up front."""
    from gloomy_spark.streaming.incremental import IncrementalIndexer

    cfg = EngineConfig(shuffle_partitions=2, doc_bucket_width=64)
    inc = IncrementalIndexer(spark, str(tmp_path / "work"), cfg)
    spark.createDataFrame(
        [("alpha", 1, 2, 3, [0, 2])],
        "term string, doc_id long, tf int, dl int, positions array<int>",
    ).write.parquet(os.path.join(inc.runs_dir, "run=0"))
    with pytest.raises(ValueError, match="not the binary postings_raw form"):
        inc.compact(str(tmp_path / "idx"), n_buckets=1)


def test_lsh_store_fingerprint_changes_on_rewrite(tmp_path):
    from gloomy_spark.entry_queries import _emb_fingerprint

    emb = tmp_path / "embeddings.parquet"
    emb.mkdir()
    f = emb / "part-0.parquet"
    f.write_bytes(b"AAAA")
    fp1 = _emb_fingerprint(str(tmp_path))
    assert fp1 == _emb_fingerprint(str(tmp_path))  # stable
    os.utime(f, ns=(1, 1))  # same bytes, regenerated file → new mtime
    assert _emb_fingerprint(str(tmp_path)) != fp1
    f.write_bytes(b"AAAABBBB")
    assert _emb_fingerprint(str(tmp_path)) not in (fp1,)


@pytest.mark.spark
def test_verify_unique_doc_ids(spark, tmp_path):
    from gloomy_spark.build import IndexBuilder

    cfg = EngineConfig(shuffle_partitions=2, doc_bucket_width=64)
    dup = spark.createDataFrame(
        [(7, "one two"), (7, "three four"), (9, "five")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="doc_id collision"):
        IndexBuilder(spark, cfg).build(
            dup, str(tmp_path / "idx_dup"), n_buckets=1,
            resume=False, verify_unique_doc_ids=True,
        )
    ok = spark.createDataFrame(
        [(7, "one two"), (8, "three four")], "doc_id long, text string"
    )
    m = IndexBuilder(spark, cfg).build(
        ok, str(tmp_path / "idx_ok"), n_buckets=1,
        resume=False, verify_unique_doc_ids=True,
    )
    assert m.n_docs == 2


def _assert_prefix_pages_agree(spark, idx, port, capsys):
    """CLI search and HTTP /search return the same term-sorted page of a
    prefix query with more matches than the page, at offset 0 and past
    it."""
    import json
    import urllib.request

    from gloomy_spark.cli import main
    from gloomy_spark.query.engine import SearchIndex

    terms = sorted(
        r["term"] for r in SearchIndex(spark, idx).search_prefix("t").collect()
    )
    limit = 3
    assert len(terms) > 2 * limit
    for offset in (0, limit):
        assert main(
            ["search", "--index", idx, "--query", "t*",
             "--offset", str(offset), "--limit", str(limit)],
            spark=spark,
        ) == 0
        cli = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?corpus=main&q=t*"
            f"&offset={offset}&limit={limit}",
            timeout=120,
        ) as r:
            http = json.loads(r.read())["rows"]
        assert cli == http, offset
        assert [r["term"] for r in cli] == terms[offset : offset + limit], offset


@pytest.mark.spark
def test_service_search_attrs(spark, tmp_path, capsys):
    """/search?attrs= must attach per-(term, attr-values) occurrence
    counts (reference search-result Args) and key the cache on attrs;
    prefix pages match the CLI, term-sorted from offset 0."""
    import json
    import urllib.request

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    idx = str(tmp_path / "aidx")
    docs = pages_df(spark, 60, partitions=2).select("doc_id", "text", "url", "lang")
    IndexBuilder(spark, cfg).build(
        docs, idx, n_buckets=1, url_col="url", lang_col="lang"
    )
    svc = SearchService(spark, {"main": idx})
    port = svc.start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=120
            ) as r:
                return json.loads(r.read())

        plain = get("/search?corpus=main&q=the&qtype=default")
        assert "args" not in plain["rows"][0]
        out = get("/search?corpus=main&q=the&qtype=default&attrs=lang")
        row = out["rows"][0]
        assert row["term"] == "the" and row["args"], row
        # counts must equal a direct postings⨝docs aggregation
        si = svc.indexes["main"]
        posts = {r["doc_id"]: r["tf"] for r in si.postings("the").collect()}
        langs = {r["doc_id"]: r["lang"] for r in si.docs.collect()}
        want: dict[str, int] = {}
        for d, tf in posts.items():
            want[langs[d]] = want.get(langs[d], 0) + tf
        got = {a["lang"]: a["count"] for a in row["args"]}
        assert got == want
        assert sum(got.values()) == row["cf"]
        # attrs participates in the cache key: the plain result must not
        # be served for the attrs request or vice versa
        again = get("/search?corpus=main&q=the&qtype=default&attrs=lang")
        assert again["cached"] and again["rows"][0]["args"] == row["args"]
        plain2 = get("/search?corpus=main&q=the&qtype=default")
        assert "args" not in plain2["rows"][0]
        _assert_prefix_pages_agree(spark, idx, port, capsys)
    finally:
        svc.stop()


@pytest.mark.spark
def test_lsh_store_prefix_partitioning_bounds_fanout(spark, tmp_path):
    """n_planes above max_partition_bits must partition by a fixed-width
    code PREFIX (bounded directory count) while search stays identical to
    the inline scanner and prunes on the prefix at the file level."""
    import glob

    from gloomy_spark.ops import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "lsh20")
    meta = simsearch.lsh_build(emb, out, n_planes=20, max_partition_bits=8)
    assert meta["prefix_bits"] == 8 and meta["partition_col"] == "lsh_prefix"
    assert sum(meta["bucket_counts"].values()) == emb.count()
    dirs = glob.glob(f"{out}/vectors/lsh_prefix=*")
    assert 0 < len(dirs) <= 2**8
    assert not glob.glob(f"{out}/vectors/lsh_bucket=*")

    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    res = simsearch.lsh_search(spark, out, qv, k=10, exclude_vec_id=0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "lsh_prefix" in plan.split("PartitionFilters")[1][:200], plan
    # the exact-bucket filter reaches the parquet scan as a pushed filter
    assert "lsh_bucket" in plan.split("PushedFilters")[1][:300], plan

    inline = [tuple(r) for r in simsearch.ann_lsh_topk(emb, 0, 10, n_planes=20).collect()]
    store = [tuple(r) for r in res.collect()]
    assert store == inline

    exact = [tuple(r) for r in simsearch.cosine_topk(emb, 0, 10).collect()]
    full = [
        tuple(r)
        for r in simsearch.lsh_search(
            spark, out, qv, k=10, min_candidates=2**62, exclude_vec_id=0
        ).collect()
    ]
    assert full == exact


@pytest.mark.spark
def test_iceberg_publish_capability_gated(spark, tmp_path):
    """Sandbox has no Iceberg jars: the probe must say so and the publish
    branch must raise the actionable error up front (SURVEY §1.3 target
    exists as a real code path, gated on capability)."""
    from gloomy_spark.index_store import iceberg_available, publish_index_to_iceberg

    ok, detail = iceberg_available(spark)
    assert ok is False and detail
    with pytest.raises(RuntimeError, match="Iceberg write path unavailable"):
        publish_index_to_iceberg(spark, str(tmp_path / "nope"), "cat.db")


@pytest.mark.spark
def test_attr_rollup_build_and_query(spark, tmp_path):
    """attr_rollup_cols materializes (term, attrs, count) at build time;
    term_attr_counts answers from it (term filter pushed to the scan) and
    re-aggregates when fewer attrs are requested — values identical to
    the on-the-fly postings⨝docs path."""
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    docs = pages_df(spark, 80, partitions=2).select("doc_id", "text", "url", "lang")

    idx_roll = str(tmp_path / "idx_roll")
    IndexBuilder(spark, cfg).build(
        docs, idx_roll, n_buckets=1, url_col="url", lang_col="lang",
        attr_rollup_cols=["lang", "url"],
    )
    idx_plain = str(tmp_path / "idx_plain")
    IndexBuilder(spark, cfg).build(
        docs, idx_plain, n_buckets=1, url_col="url", lang_col="lang"
    )

    si_r = SearchIndex(spark, idx_roll)
    si_p = SearchIndex(spark, idx_plain)
    assert os.path.exists(os.path.join(idx_roll, "attr_rollup", "_SUCCESS"))

    for req in (["lang"], ["lang", "url"]):
        df_r = si_r.term_attr_counts(["the", "data"], req)
        got_r = sorted(tuple(r) for r in df_r.collect())
        got_p = sorted(
            tuple(r) for r in si_p.term_attr_counts(["the", "data"], req).collect()
        )
        assert got_r == got_p and got_r, req
    # the rollup path pushes the term filter into the parquet scan
    plan = (
        si_r.term_attr_counts(["the"], ["lang"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:200]
    # a plain index ignores the rollup branch entirely
    assert not os.path.exists(os.path.join(idx_plain, "attr_rollup"))


@pytest.mark.spark
def test_service_ngram_regexp_qtype(spark, tmp_path):
    """qtype=regexp with a space-separated query applies one anchored
    pattern per n-gram position (reference searchByRegexp parity)."""
    import json
    import urllib.request

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    idx = str(tmp_path / "ngidx")
    docs = pages_df(spark, 60, partitions=2).select("doc_id", "text")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=1, ngram_size=2)
    svc = SearchService(spark, {"main": idx})
    port = svc.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?corpus=main&q=th.*%20.*a.*"
            "&qtype=regexp&limit=100000",
            timeout=120,
        ) as r:
            out = json.loads(r.read())
        got = {row["term"] for row in out["rows"]}
        want = {
            r["term"]
            for r in svc.indexes["main"].search_ngram_regexp(["th.*", ".*a.*"]).collect()
        }
        assert got and got == want
        import re

        for t in got:
            a, b = t.split(" ")
            assert re.fullmatch("th.*", a) and re.fullmatch(".*a.*", b)
    finally:
        svc.stop()


@pytest.mark.spark
def test_service_info_endpoint(spark, tmp_path):
    """GET / returns service info (reference actionInfo parity)."""
    import json
    import urllib.request

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    idx = str(tmp_path / "iidx")
    IndexBuilder(spark, cfg).build(
        pages_df(spark, 20, partitions=1).select("doc_id", "text"), idx, n_buckets=1
    )
    svc = SearchService(spark, {"main": idx, "other": idx})
    port = svc.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/", timeout=60) as r:
            out = json.loads(r.read())
        assert out["corpora"] == ["main", "other"]
        assert "gloomy-spark" in out["name"] and out["version"]
    finally:
        svc.stop()


@pytest.mark.spark
def test_cli_search_attrs_and_ngram_regexp(spark, tmp_path, capsys):
    """CLI search: --attrs attaches per-attr-values counts (reference
    searchCLI meta output); regexp qtype with spaces is per-position;
    prefix pages match HTTP /search, term-sorted from offset 0."""
    import json

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.cli import main
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    idx = str(tmp_path / "cidx")
    docs = pages_df(spark, 40, partitions=1).select("doc_id", "text", "lang")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=1, lang_col="lang")

    rc = main(
        ["search", "--index", idx, "--query", "the", "--attrs", "lang"],
        spark=spark,
    )
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows[0]["term"] == "the" and rows[0]["args"]
    assert sum(a["count"] for a in rows[0]["args"]) == rows[0]["cf"]

    rc = main(
        ["search", "--index", idx, "--query", "th.* .*", "--qtype", "regexp",
         "--limit", "5"],
        spark=spark,
    )
    assert rc == 0
    out2 = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    # unigram index → no bigram terms; per-position dispatch must not blow up
    assert out2 == []

    svc = SearchService(spark, {"main": idx})
    port = svc.start(warm=False)
    try:
        _assert_prefix_pages_agree(spark, idx, port, capsys)
    finally:
        svc.stop()


@pytest.mark.spark
def test_service_nrt_bm25_and_streaming_cli(spark, tmp_path, capsys):
    """End-to-end streaming serving: CLI ingest-stream → /bm25?nrt=1
    equals nrt_bm25_topk directly, NRT cache entries don't outlive the
    run set, and CLI compact produces a queryable index."""
    import json
    import urllib.request

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.cli import main
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex
    from gloomy_spark.service import SearchService
    from gloomy_spark.streaming.nrt import nrt_bm25_topk

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    base_idx = str(tmp_path / "base_idx")
    base_docs = pages_df(spark, 50, partitions=2).select("doc_id", "text")
    IndexBuilder(spark, cfg).build(base_docs, base_idx, n_buckets=1)

    # stream 10 NEW docs into runs via the CLI
    stream_in = str(tmp_path / "stream_in")
    pages_df(spark, 60, partitions=1).where("doc_id >= 50").select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(stream_in)
    work = str(tmp_path / "work")
    rc = main(
        ["ingest-stream", "--input", stream_in, "--work-dir", work,
         "--shuffle-partitions", "4"],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["runs"] >= 1

    runs_dir = summary["runs_dir"]
    svc = SearchService(spark, {"main": f"{base_idx}@{runs_dir}"})
    port = svc.start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=120
            ) as r:
                return json.loads(r.read())

        q = "the data"
        si = svc.indexes["main"]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in nrt_bm25_topk(si, runs_dir, q, 5).collect()
        ]
        out = get(f"/bm25?corpus=main&q=the%20data&k=5&nrt=1")
        got = [(r["doc_id"], round(r["score"], 9)) for r in out["rows"]]
        assert got == want
        base_only = get(f"/bm25?corpus=main&q=the%20data&k=5")
        assert [r["doc_id"] for r in base_only["rows"]] != [] and (
            got != [(r["doc_id"], round(r["score"], 9)) for r in base_only["rows"]]
        )
        # cached on repeat, with the SAME run set
        again = get(f"/bm25?corpus=main&q=the%20data&k=5&nrt=1")
        assert again["cached"] is True

        # new micro-batch arrives → the version key changes → fresh compute
        pages_df(spark, 70, partitions=1).where("doc_id >= 60").select(
            "doc_id", "text"
        ).write.mode("append").parquet(stream_in)
        rc = main(
            ["ingest-stream", "--input", stream_in, "--work-dir", work,
             "--shuffle-partitions", "4"],
            spark=spark,
        )
        assert rc == 0
        capsys.readouterr()
        fresh = get(f"/bm25?corpus=main&q=the%20data&k=5&nrt=1")
        assert fresh["cached"] is False
        want2 = [
            (r["doc_id"], round(r["score"], 9))
            for r in nrt_bm25_topk(si, runs_dir, q, 5).collect()
        ]
        assert [(r["doc_id"], round(r["score"], 9)) for r in fresh["rows"]] == want2
    finally:
        svc.stop()

    # CLI compact → queryable index covering base ∪ streamed docs
    out_idx = str(tmp_path / "compacted")
    rc = main(
        ["compact", "--work-dir", work, "--out", out_idx, "--buckets", "1",
         "--shuffle-partitions", "4"],
        spark=spark,
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] == 20  # the 20 streamed docs
    assert SearchIndex(spark, out_idx).terms.count() > 0


# ----------------------------------------------------- micro-batched serving --


@pytest.mark.spark
def test_microbatcher_rank_identical_and_coalesced(small_index):
    """Concurrent clients through Bm25MicroBatcher get results
    rank-identical to per-query bm25_topk, and arrivals within the window
    coalesce into far fewer Spark jobs than queries."""
    from concurrent.futures import ThreadPoolExecutor

    from gloomy_spark.query.microbatch import Bm25MicroBatcher

    si = small_index
    base = ["the data", "and to", "that was", "scan the", "of in and",
            "zzzz-no-such-term"]
    qs = base * 3  # duplicates exercise in-batch dedup
    mb = Bm25MicroBatcher(si, window_ms=150)
    with ThreadPoolExecutor(max_workers=len(qs)) as ex:
        got = list(ex.map(lambda q: mb.query(q, 5), qs))
    for q, rows in zip(qs, got):
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in si.bm25_topk(q, 5).collect()
        ]
        assert [(d, round(s, 9)) for d, s in rows] == want, q
    assert mb.queries_served == len(qs)
    assert mb.batches_run <= 3, (
        f"{mb.batches_run} batches for {len(qs)} concurrent queries — "
        "window did not coalesce"
    )


@pytest.mark.spark
def test_microbatcher_mixed_k_same_window(small_index):
    """Requests with different k in one window each get exactly their k."""
    from concurrent.futures import ThreadPoolExecutor

    from gloomy_spark.query.microbatch import Bm25MicroBatcher

    si = small_index
    mb = Bm25MicroBatcher(si, window_ms=150)
    with ThreadPoolExecutor(max_workers=2) as ex:
        f3 = ex.submit(mb.query, "the data", 3)
        f7 = ex.submit(mb.query, "the data", 7)
        r3, r7 = f3.result(), f7.result()
    assert len(r3) == 3 and len(r7) == 7
    assert r7[:3] == r3
    assert mb.batches_run == 1


@pytest.mark.spark
def test_service_distributed_path_microbatches(spark, tmp_path):
    """SearchService /bm25 without a driver term map routes through the
    per-corpus micro-batcher (and still matches bm25_topk)."""
    import json as _json
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    idx = str(tmp_path / "svcidx")
    docs = pages_df(spark, 80, partitions=4).select("doc_id", "text", "url")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=1, url_col="url")

    svc = SearchService(spark, {"main": idx})
    si = svc.indexes["main"]
    si._term_map = None  # force the distributed (non-driver-local) path
    port = svc.start()
    try:
        qs = ["the%20data", "and%20to", "that%20was", "scan%20the"]

        def get(q):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/bm25?corpus=main&q={q}&k=5"
            ) as r:
                return _json.loads(r.read())

        with ThreadPoolExecutor(max_workers=len(qs)) as ex:
            outs = list(ex.map(get, qs))
        assert svc._batchers["main"].batches_run >= 1
        for q, out in zip(qs, outs):
            plain = q.replace("%20", " ")
            want = [
                (r["doc_id"], round(r["score"], 9))
                for r in si.bm25_topk(plain, 5).collect()
            ]
            assert [
                (r["doc_id"], round(r["score"], 9)) for r in out["rows"]
            ] == want
    finally:
        svc.stop()


# ------------------------------------------------- violation-gated entries --


@pytest.mark.spark
def test_ann_and_pair_gates_empty_on_fixtures(spark):
    """The r4 violation-gate entries (ann_lsh_gate / ann_ivf_gate /
    embedding_near_pairs_gate) must return ZERO violations on the
    deterministic fixtures — the exact property the DuckDB oracle pins."""
    from gloomy_spark.entry_queries import registry

    reg = registry()
    for key in ("ann_lsh_gate", "ann_ivf_gate", "embedding_near_pairs_gate"):
        fn, sql = reg[key]
        assert sql is not None, f"{key} must be value-oracled"
        rows = fn(spark, "/root/testdata/sf0.001").collect()
        assert rows == [], f"{key} violations: {rows}"


@pytest.mark.spark
def test_ann_gate_catches_broken_scores(spark):
    """_ann_gate is a real check: feed it rows with a corrupted score and
    a fabricated vec_id — both must surface as violations."""
    from pyspark.sql import Row

    from gloomy_spark.entry_queries import _ann_gate
    from gloomy_spark.ops import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    good = simsearch.cosine_topk(emb, 0, 10).collect()
    bad = [Row(vec_id=good[0]["vec_id"], cos_sim=good[0]["cos_sim"] + 0.5)] + good[1:]
    v = {r["violation"] for r in _ann_gate(spark, "/root/testdata/sf0.001", 0, 10, bad, 0.3).collect()}
    assert "score" in v
    # perfect rows → no violations at all
    v2 = _ann_gate(spark, "/root/testdata/sf0.001", 0, 10, good, 0.3).collect()
    assert v2 == []


@pytest.mark.spark
def test_batch_scorer_partition_cap(small_index, spark):
    """The batch scorer's doc_bucket exchange is capped at
    min(cfg.shuffle_partitions, doc buckets) (_scorer_parts): python
    tasks cost ~90 ms each even when empty, so scheduling
    shuffle.partitions-many tasks for a handful of buckets multiplies
    fixed latency (BENCH/BASELINE.md r4). The session's
    shuffle.partitions must not leak into it; a plan with no such
    exchange (coalesce(1), one task) passes trivially."""
    import re

    si = small_index
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        df = si.bm25_topk_batch(["the data", "of the"], 5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the python-scorer exchange partitions by doc_bucket; the later
        # per-query top-k window exchange (JVM-side, cheap tasks) is
        # allowed to keep the session's shuffle.partitions
        counts = [
            int(n)
            for n in re.findall(
                r"Exchange hashpartitioning\(doc_bucket[^)]*, (\d+)\)", plan
            )
        ]
        cap = min(int(si.cfg.shuffle_partitions), si._n_doc_buckets)
        assert all(c <= cap for c in counts), (counts, cap, plan)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _python_input_partitions(df) -> list[int]:
    """Partition count of the input of every Python node (MapInArrow,
    MapInPandas) in ``df``'s physical plan, as planned before it runs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if node.nodeName() in ("MapInArrow", "MapInPandas"):
            out.append(kids[0].outputPartitioning().numPartitions())
        stack.extend(kids)
    return out


def _small_batch(si, n=40):
    """``n`` two- and three-term queries over the index's 60 most
    frequent terms."""
    import random

    head = [r["term"] for r in si.terms.orderBy(F.desc("df"), F.asc("term")).limit(60).collect()]
    rng = random.Random(5)
    return [" ".join(rng.sample(head, rng.choice((2, 3)))) for _ in range(n)]


@pytest.mark.spark
def test_boolean_search_plan_is_per_bucket(small_index):
    """boolean_search runs the per-bucket plan: one MapInArrow bucket
    kernel over the compressed blocks, with no doc_id aggregate and no
    doc_id exchange (no decoded posting is shuffled)."""
    df = small_index.boolean_search(["the"], ["data", "of"], ["and"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


@pytest.mark.spark
def test_boolean_search_dedups_terms_after_lowercasing(small_index):
    """Terms differing only in case are one term: ["The", "the"] as must
    asks for one term, not two (which no doc could satisfy)."""
    a = small_index.boolean_search(["The", "the"], ["OF", "of"]).collect()
    b = small_index.boolean_search(["the"], ["of"]).collect()
    assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.spark
def test_small_queries_run_one_python_task(small_index):
    """A query whose posting volume (Σ df; weighted cf for
    postings_positions) is under the per-task floor
    feeds its Python node from one partition: boolean_search,
    postings_multi, postings_positions (kwic, collocations) and a
    40-query bm25_topk_batch. Each extra python task costs a fixed
    worker setup that dwarfs the kernel work of such a query."""
    si = small_index
    batch = _small_batch(si)
    cases = {
        "boolean_search": si.boolean_search(["the"], ["data", "of"], ["and"]),
        "postings_multi": si.postings_multi(["the", "of", "and"]),
        "postings_positions": si.postings_positions("the"),
        "bm25_topk_batch": si.bm25_topk_batch(batch, 10),
    }
    for name, df in cases.items():
        assert _python_input_partitions(df) == [1], name


@pytest.mark.spark
def test_past_floor_plans(small_index, spark):
    """Past the per-task floor (lowered on the instance, so this index's
    queries cross it) the batch scorer keeps its doc_bucket exchange,
    capped at min(cfg.shuffle_partitions, doc buckets) whatever the
    session's shuffle.partitions; postings_multi keeps the segment
    scan's partitions with no exchange; boolean_search and
    postings_multi return the same rows as on one task."""
    import re

    si = small_index
    mid = si.terms.orderBy(F.desc("df"), F.asc("term")).offset(100).first()["term"]
    queries = {
        "boolean_search": lambda: si.boolean_search(["the"], ["data", "of"], [mid]),
        "postings_multi": lambda: si.postings_multi(["the", "of", "and"]),
    }
    one_task = {k: sorted(map(tuple, q().collect())) for k, q in queries.items()}
    assert all(one_task.values()), one_task
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    si._SCORER_MIN_POSTINGS = 1
    try:
        for k, q in queries.items():
            assert sorted(map(tuple, q().collect())) == one_task[k], k
        assert _python_input_partitions(queries["postings_multi"]()) == [
            si.segments.rdd.getNumPartitions()
        ]
        df = si.bm25_topk_batch(_small_batch(si), 5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = [
            int(n)
            for n in re.findall(
                r"Exchange hashpartitioning\(doc_bucket[^)]*, (\d+)\)", plan
            )
        ]
        cap = min(int(si.cfg.shuffle_partitions), si._n_doc_buckets)
        assert cap > 1 and counts == [cap], (counts, cap, plan)
    finally:
        del si._SCORER_MIN_POSTINGS
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.spark
def test_stage_volume_counts_its_own_work(small_index):
    """postings_positions measures its volume in weighted positions (cf
    × _SLOW_UNIT_COST) and phrase_match weighs each posting by
    _SLOW_UNIT_COST: with the floor set to the plain Σ df,
    postings_positions keeps the segment scan's partitions and
    phrase_match keeps its doc_bucket exchange, each returning the same
    rows as on one task."""
    import re

    si = small_index
    found = si._lookup(["of", "the"])
    _, _, df_the, cf_the = found["the"]
    assert cf_the > df_the

    def rows(df):
        return sorted((r[0], tuple(r[-1])) for r in df.collect())

    def positions():
        return si.postings_positions("the")

    def phrase():
        return si.phrase_match("of the", with_positions=True)

    want_pos, want_phrase = rows(positions()), rows(phrase())
    assert want_phrase
    try:
        si._SCORER_MIN_POSTINGS = df_the
        assert _python_input_partitions(positions()) == [si.segments.rdd.getNumPartitions()]
        assert rows(positions()) == want_pos
        si._SCORER_MIN_POSTINGS = df_the + found["of"][2]
        plan = phrase()._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"Exchange hashpartitioning\(doc_bucket", plan), plan
        assert rows(phrase()) == want_phrase
    finally:
        del si._SCORER_MIN_POSTINGS


@pytest.mark.spark
def test_microbatcher_survives_batch_failure(small_index):
    """A failing batch job propagates its error to that batch's callers
    and the worker keeps serving: the NEXT batch succeeds."""
    from gloomy_spark.query.microbatch import Bm25MicroBatcher

    si = small_index
    mb = Bm25MicroBatcher(si, window_ms=30)
    real = si.bm25_topk_batch
    calls = {"n": 0}

    def flaky(queries, k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected batch failure")
        return real(queries, k)

    si.bm25_topk_batch = flaky
    try:
        with pytest.raises(RuntimeError, match="injected batch failure"):
            mb.query("the data", 5)
        got = mb.query("the data", 5)
    finally:
        si.bm25_topk_batch = real
    want = sorted(
        ((r["doc_id"], round(r["score"], 9)) for r in real(["the data"], 5).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert [(d, round(s, 9)) for d, s in got] == want
    # close() rejects new work but releases the thread cleanly
    mb.close()
    with pytest.raises(RuntimeError, match="closed"):
        mb.query("x", 1)


# ------------------------------------------------------ boolean search --


def _bool_oracle(o, must, should, must_not):
    """Set-algebra reference: (∩ must) ∩ (∪ should) − (∪ must_not) with
    tf = total positive-term occurrences."""
    docs = set(o.doclen)
    for t in must:
        docs &= set(o.tf.get(t, {}))
    if should:
        hit = set()
        for t in should:
            hit |= set(o.tf.get(t, {}))
        docs &= hit
    for t in must_not:
        docs -= set(o.tf.get(t, {}))
    pos = list(dict.fromkeys([*must, *should]))
    return {
        d: sum(o.tf.get(t, {}).get(d, 0) for t in pos) for d in docs
    }


@pytest.mark.spark
def test_boolean_search_fuzz_vs_set_algebra(small_index):
    """40 random (must, should, must_not) triples drawn from the corpus
    vocabulary (plus injected absent terms) must match the exhaustive
    python set-algebra oracle doc-for-doc and tf-for-tf."""
    import random

    import numpy as np

    from gloomy_spark.corpus import generate_pages_batch
    from gloomy_spark.oracle import OracleIndex

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    local = generate_pages_batch(np.arange(120))
    o = OracleIndex(list(zip(local.doc_id, local.text)), cfg)
    vocab = sorted(o.tf)
    rng = random.Random(77)
    for trial in range(40):
        pick = lambda n: [
            rng.choice(vocab + ["zzz_absent"] * (1 if trial % 5 == 0 else 0))
            for _ in range(rng.randint(0, n))
        ]
        must, should, must_not = pick(3), pick(2), pick(2)
        if not must and not should:
            must = [rng.choice(vocab)]
        got = {
            r["doc_id"]: r["tf"]
            for r in small_index.boolean_search(must, should, must_not).collect()
        }
        assert got == _bool_oracle(o, must, should, must_not), (
            trial, must, should, must_not
        )


@pytest.mark.spark
def test_boolean_search_edges(small_index):
    """Unindexed must term → empty; a term in both must and must_not →
    empty; no positive terms → ValueError; duplicates dedup."""
    assert small_index.boolean_search(["zzz_absent", "the"]).count() == 0
    assert small_index.boolean_search(["the"], (), ["the"]).count() == 0
    with pytest.raises(ValueError):
        small_index.boolean_search((), (), ["the"])
    a = small_index.boolean_search(["the", "the"]).collect()
    b = small_index.boolean_search(["the"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --------------------------------------------------------------- kwic --


def _kwic_oracle(texts, query, width, cfg):
    """Exhaustive python reference: tokenize every doc, scan for the
    phrase, emit (doc_id, pos, lctx, kw, rctx) windows."""
    from gloomy_spark.textnorm import tokenize

    terms = tokenize(query, cfg)
    n = len(terms)
    out = set()
    for doc_id, text in texts:
        toks = tokenize(text, cfg)
        for i in range(len(toks) - n + 1):
            if toks[i : i + n] == terms:
                out.add((
                    doc_id,
                    i,
                    " ".join(toks[max(0, i - width) : i]),
                    " ".join(toks[i : i + n]),
                    " ".join(toks[i + n : i + n + width]),
                ))
    return out


@pytest.mark.spark
def test_kwic_fuzz_vs_python_oracle(spark, small_index):
    """Random terms and phrases (lifted from real docs so phrases DO hit,
    plus absent ones) at several widths must match the exhaustive window
    oracle row-for-row, including doc-edge truncation."""
    import random

    import numpy as np

    from gloomy_spark.corpus import generate_pages_batch, pages_df
    from gloomy_spark.textnorm import tokenize

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    local = generate_pages_batch(np.arange(120))
    texts = list(zip(local.doc_id.tolist(), local.text.tolist()))
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text")
    rng = random.Random(99)
    queries = []
    for _ in range(6):  # phrases lifted verbatim from documents
        d, t = texts[rng.randrange(len(texts))]
        toks = tokenize(t, cfg)
        i = rng.randrange(max(1, len(toks) - 3))
        queries.append(" ".join(toks[i : i + rng.randint(1, 3)]))
    queries += ["the", "data", "zzz_absent", "data zzz_absent"]
    for q in queries:
        width = rng.choice([1, 2, 3, 5])
        got = {
            (r["doc_id"], r["pos"], r["lctx"], r["kw"], r["rctx"])
            for r in small_index.kwic(q, docs, width=width).collect()
        }
        assert got == _kwic_oracle(texts, q, width, cfg), (q, width)


@pytest.mark.spark
def test_postings_positions_prep_runs_no_job(spark, small_index):
    """On a cached index the term id comes from the driver-side term map:
    building the positions DataFrame (kwic's single-term path) submits
    no Spark job; only executing it does."""
    sc = spark.sparkContext
    group = "postings-positions-prep"
    sc.setJobGroup(group, "postings_positions prep")
    try:
        df = small_index.postings_positions("The")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert df.count() > 0
        # the group does see jobs that run under it
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.spark
def test_collocations_prep_runs_no_job(spark, small_index):
    """On a cached index the node's cf comes from the term map and the
    corpus token count from cache(): building the collocations DataFrame
    submits no Spark job; only executing it does."""
    from gloomy_spark.corpus import pages_df

    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text")
    sc = spark.sparkContext
    group = "collocations-prep"
    sc.setJobGroup(group, "collocations prep")
    try:
        df = small_index.collocations("The", docs)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert df.count() > 0
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.spark
def test_phrase_match_positions_consistent(spark, small_index):
    """with_positions=True returns the same doc set as the plain matcher
    and every anchor is a true phrase start (positions are sorted,
    non-empty, deduplicated)."""
    import numpy as np

    from gloomy_spark.corpus import generate_pages_batch
    from gloomy_spark.textnorm import tokenize

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    local = generate_pages_batch(np.arange(120))
    toks_by_doc = {
        int(d): tokenize(t, cfg) for d, t in zip(local.doc_id, local.text)
    }
    # a phrase guaranteed to exist: first two tokens of doc 0
    phrase = " ".join(toks_by_doc[0][:2])
    plain = {r["doc_id"] for r in small_index.phrase_match(phrase).collect()}
    withpos = {
        r["doc_id"]: list(r["positions"])
        for r in small_index.phrase_match(phrase, with_positions=True).collect()
    }
    assert set(withpos) == plain and plain
    terms = tokenize(phrase, cfg)
    for doc_id, anchors in withpos.items():
        assert anchors == sorted(set(anchors)) and anchors
        toks = toks_by_doc[doc_id]
        expect = [
            i
            for i in range(len(toks) - len(terms) + 1)
            if toks[i : i + len(terms)] == terms
        ]
        assert anchors == expect, doc_id


@pytest.mark.spark
def test_service_boolean_and_kwic_endpoints(spark, tmp_path):
    """/boolean pages the engine's doc-set retrieval; /kwic serves
    concordance windows when a forward store is configured and returns a
    clear 400 when it isn't."""
    import json
    import urllib.error
    import urllib.request

    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.service import SearchService

    cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=64)
    idx = str(tmp_path / "bkidx")
    fwd = str(tmp_path / "fwd.parquet")
    docs = pages_df(spark, 60, partitions=2).select("doc_id", "text", "lang")
    docs.write.parquet(fwd)
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=1, lang_col="lang")
    svc = SearchService(spark, {"main": idx, "bare": idx}, docs={"main": fwd})
    port = svc.start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=120
            ) as r:
                return json.loads(r.read())

        si = svc.indexes["main"]
        # real corpus terms (the synthetic vocab is generator-defined —
        # don't hardcode words): t1 near-ubiquitous, t2 rare, so
        # "t1 AND NOT t2" is non-empty
        t1 = si.terms.orderBy(F.desc("df"), F.asc("term")).first()["term"]
        t2 = si.terms.orderBy(F.asc("df"), F.asc("term")).first()["term"]
        out = get(f"/boolean?corpus=main&must={t1}&must_not={t2}&limit=500")
        want = {
            (r["doc_id"], r["tf"])
            for r in si.boolean_search([t1], (), [t2]).collect()
        }
        assert {(r["doc_id"], r["tf"]) for r in out["rows"]} == want and want
        assert get(f"/boolean?corpus=main&must={t1}&must_not={t2}&limit=500")[
            "cached"
        ]

        kw = get(f"/kwic?corpus=main&q={t1}&width=2&limit=5")
        assert kw["size"] == 5
        direct = [
            (r["doc_id"], r["pos"], r["lctx"], r["kw"], r["rctx"])
            for r in si.kwic(t1, docs, width=2)
            .orderBy("doc_id", "pos")
            .limit(5)
            .collect()
        ]
        assert [
            (r["doc_id"], r["pos"], r["lctx"], r["kw"], r["rctx"])
            for r in kw["rows"]
        ] == direct
        # offset paging: page 2 continues exactly where page 1 ended
        p2 = get(f"/kwic?corpus=main&q={t1}&width=2&offset=5&limit=5")
        all10 = [
            (r["doc_id"], r["pos"])
            for r in si.kwic(t1, docs, width=2)
            .orderBy("doc_id", "pos")
            .limit(10)
            .collect()
        ]
        assert [(r["doc_id"], r["pos"]) for r in p2["rows"]] == all10[5:]

        # /bm25?filter= serves faceted top-k == direct engine call
        langs = sorted(
            r["lang"] for r in si.docs.select("lang").distinct().collect()
        )
        fb = get(f"/bm25?corpus=main&q={t1}&k=5&filter=lang:{langs[0]}")
        want_fb = [
            {"doc_id": r["doc_id"], "score": r["score"]}
            for r in si.bm25_topk_filtered(t1, 5, "lang", [langs[0]]).collect()
        ]
        assert fb["rows"] == want_fb and want_fb
        allowed = {
            r["doc_id"]
            for r in si.docs.where(F.col("lang") == langs[0]).collect()
        }
        assert all(r["doc_id"] in allowed for r in fb["rows"])

        # /kwic?attrs= attaches per-doc metadata from the doc-attr LRU
        ka = get(f"/kwic?corpus=main&q={t1}&width=2&limit=3&attrs=doclen")
        assert all("doclen" in r and r["doclen"] > 0 for r in ka["rows"]), ka

        # /collocations: endpoint rows == direct engine call, same order
        co = get(f"/collocations?corpus=main&node={t1}&window=2&min_freq=2&limit=5")
        want_co = [
            r.asDict()
            for r in si.collocations(t1, docs, window=2, min_freq=2)
            .orderBy(F.desc("log_dice"), F.asc("collocate"))
            .limit(5)
            .collect()
        ]
        assert co["rows"] == want_co and want_co

        # no forward store → 400 with a clear error, not a silent empty page
        try:
            get(f"/kwic?corpus=bare&q={t1}")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "forward store" in json.loads(e.read())["error"]
    finally:
        svc.stop()


@pytest.mark.spark
def test_postings_scan_prunes_block_columns(spark, tmp_path):
    """Single-term posting decodes on an UNCACHED index must not read
    block columns the decoder never touches (max_score/sum_tf/doc
    ranges) — the pruned ReadSchema is what keeps per-term IO
    proportional to payload. (A .cache()d index intentionally scans all
    columns once to populate the cache, and Spark's CacheManager
    substitutes that relation for any scan of the same files — so this
    test builds its own never-cached index.)"""
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(shuffle_partitions=2, doc_bucket_width=64)
    idx = str(tmp_path / "pruneidx")
    IndexBuilder(spark, cfg).build(
        pages_df(spark, 30, partitions=1).select("doc_id", "text"),
        idx, n_buckets=1,
    )
    si = SearchIndex(spark, idx)
    t = si.terms.orderBy(F.desc("df"), F.asc("term")).first()["term"]
    for df in (si.postings(t), si.postings_positions(t)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        rs = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "max_score" not in rs and "sum_tf" not in rs, rs
        assert "docs" in rs and "tfs" in rs


@pytest.mark.spark
def test_collocations_vs_python_oracle(spark, small_index):
    """Window co-occurrence counts and all three association measures
    must match an exhaustive python computation for several windows,
    including doc-edge truncation and min_freq filtering."""
    import math

    import numpy as np

    from gloomy_spark.corpus import generate_pages_batch, pages_df
    from gloomy_spark.textnorm import tokenize

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    local = generate_pages_batch(np.arange(120))
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text")
    toks_all = [tokenize(t, cfg) for t in local.text]
    cf: dict[str, int] = {}
    for ts in toks_all:
        for t in ts:
            cf[t] = cf.get(t, 0) + 1
    n_tokens = sum(cf.values())
    node = max(cf, key=lambda t: cf[t])  # most frequent real token
    for window, min_freq in [(1, 1), (3, 2), (5, 1)]:
        fxy: dict[str, int] = {}
        for ts in toks_all:
            for i, t in enumerate(ts):
                if t != node:
                    continue
                for j in range(max(0, i - window), min(len(ts), i + window + 1)):
                    if j != i:
                        fxy[ts[j]] = fxy.get(ts[j], 0) + 1
        f_x = cf[node]
        want = {}
        for y, f in fxy.items():
            if f < min_freq:
                continue
            want[y] = (
                f, cf[y],
                round(14 + math.log2(2 * f / (f_x + cf[y])), 4),
                round(math.log2(f * n_tokens / (f_x * cf[y])), 4),
                round((f - f_x * cf[y] / n_tokens) / math.sqrt(f), 4),
            )
        got = {
            r["collocate"]: (
                r["f_xy"], r["f_y"], round(r["log_dice"], 4),
                round(r["mi"], 4), round(r["t_score"], 4),
            )
            for r in small_index.collocations(
                node, docs, window=window, min_freq=min_freq
            ).collect()
        }
        assert got == want, (node, window, min_freq)
    # unindexed node → empty; multi-token node → ValueError
    assert small_index.collocations("zzz_absent", docs).count() == 0
    with pytest.raises(ValueError):
        small_index.collocations("two words", docs)


@pytest.mark.spark
def test_bm25_filtered_differential(spark, tmp_path):
    """Faceted BM25 must equal 'unfiltered scores of the allowed docs':
    exhaustive top-k over the allowed set, corpus-wide statistics. An
    all-covering filter equals the unfiltered ranking; an empty facet is
    empty."""
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    idx = str(tmp_path / "fidx")
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text", "lang")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=2, lang_col="lang")
    si = SearchIndex(spark, idx)
    langs = sorted(r["lang"] for r in si.docs.select("lang").distinct().collect())
    assert len(langs) >= 2
    q = si.terms.orderBy(F.desc("df")).first()["term"] + " " + (
        si.terms.orderBy(F.asc("df")).first()["term"]
    )
    allowed_langs = langs[:1]
    allowed_ids = {
        r["doc_id"]
        for r in si.docs.where(F.col("lang").isin(allowed_langs)).collect()
    }
    # exhaustive reference: all scores, keep allowed, top-10
    full = si.bm25_topk(q, k=10**6).collect()
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in full
        if r["doc_id"] in allowed_ids
    ][:10]
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in si.bm25_topk_filtered(q, 10, "lang", allowed_langs).collect()
    ]
    assert got == want and got
    # all-covering filter == unfiltered ranking
    got_all = [
        (r["doc_id"], round(r["score"], 6))
        for r in si.bm25_topk_filtered(q, 10, "lang", langs).collect()
    ]
    assert got_all == [(r["doc_id"], round(r["score"], 6)) for r in full[:10]]
    # facet matching nothing → empty
    assert si.bm25_topk_filtered(q, 10, "lang", ["xx"]).count() == 0
