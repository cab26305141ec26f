"""End-to-end differential tests: build the index over the synthetic corpus,
compare dictionary / postings / BM25 top-k against the exhaustive
pure-Python oracle, and exercise crash-resume."""

from __future__ import annotations

import numpy as np
import pytest

from gloomy_spark.build import IndexBuilder
from gloomy_spark.config import EngineConfig, BM25Config
from gloomy_spark.corpus import generate_pages_batch, pages_df
from gloomy_spark.oracle import OracleIndex
from gloomy_spark.query.engine import SearchIndex

N_DOCS = 300
CFG = EngineConfig(
    bm25=BM25Config(k1=1.2, b=0.75),
    block_size=64,          # small blocks → many blocks → real pruning paths
    doc_bucket_width=64,    # tiny width → multi-bucket WAND even at 300 docs
    shuffle_partitions=8,
)

QUERIES = [
    "the",                    # head term: hits nearly every doc
    "of and",                 # two head terms
    "žluťoučký",              # diacritic tail term
    "zoba",                   # maybe-absent term
    "the of kade nonexistentterm",   # mixed present/absent
    "data index engine the",  # mixed head/tail
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("idx"))
    pages = pages_df(spark, N_DOCS, partitions=6)
    docs = pages.select("doc_id", "url", "text", "lang")
    manifest = IndexBuilder(spark, CFG).build(
        docs, idx_dir, url_col="url", lang_col="lang", n_buckets=3
    )
    local = generate_pages_batch(np.arange(N_DOCS))
    oracle = OracleIndex(list(zip(local.doc_id, local.text)), CFG)
    return SearchIndex(spark, idx_dir), oracle, manifest


def test_manifest_stats(built):
    index, oracle, manifest = built
    assert manifest.n_docs == oracle.n_docs == N_DOCS
    assert manifest.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    assert manifest.n_terms == len(oracle.tf)
    assert manifest.postings_total == sum(len(v) for v in oracle.tf.values())


def test_dictionary_matches_oracle(built):
    index, oracle, _ = built
    rows = index.terms.collect()
    assert len(rows) == len(oracle.tf)
    for r in rows:
        assert r["df"] == oracle.df(r["term"]), r["term"]
        assert r["cf"] == oracle.cf(r["term"]), r["term"]
        assert r["idf"] == pytest.approx(oracle.idf(r["term"]), rel=1e-12)
    # dense ids 0..N-1 in lexicographic order
    by_id = sorted(rows, key=lambda r: r["term_id"])
    assert [r["term_id"] for r in by_id] == list(range(len(rows)))
    assert [r["term"] for r in by_id] == sorted(r["term"] for r in rows)


@pytest.mark.parametrize("term", ["the", "of", "žluťoučký"])
def test_postings_match_oracle(built, term):
    index, oracle, _ = built
    got = sorted(
        (r["doc_id"], r["tf"]) for r in index.postings(term).collect()
    )
    assert got == oracle.postings(term)


def test_segments_globally_doc_sorted(built):
    index, _, _ = built
    segs = index.segments.select(
        "term_id", "first_doc", "last_doc", "n_docs"
    ).collect()
    by_term: dict[int, list] = {}
    for r in segs:
        assert r["first_doc"] <= r["last_doc"]
        by_term.setdefault(r["term_id"], []).append((r["first_doc"], r["last_doc"]))
    for tid, blocks in by_term.items():
        blocks.sort()
        for (f1, l1), (f2, _) in zip(blocks, blocks[1:]):
            assert l1 < f2, f"overlapping blocks for term {tid}"


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("batch", [True, False])
def test_bm25_rank_identical(built, query, batch):
    """bm25_topk (batch=False) and bm25_topk_batch on a one-query batch
    (batch=True) against the oracle's top-10."""
    index, oracle, _ = built
    expected = oracle.bm25_topk(query, k=10)
    if batch:
        rows = index.bm25_topk_batch([query], k=10).collect()
        assert all(r["query_id"] == 0 for r in rows), query
        got = sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))
    else:
        got = index.bm25_topk(query, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected], query
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-9), query


def test_term_search_exact_prefix_regex(built):
    index, oracle, _ = built
    r = index.search_exact("the").collect()
    assert len(r) == 1 and r[0]["cf"] == oracle.cf("the")
    assert index.search_exact("missingterm").count() == 0

    prefix_terms = {t for t in oracle.tf if t.startswith("th")}
    got = {r["term"] for r in index.search_prefix("th*").collect()}
    assert got == prefix_terms

    import re

    pat = "th[ea]"
    expected = {t for t in oracle.tf if re.fullmatch(pat, t)}
    got = {r["term"] for r in index.search_regexp(pat).collect()}
    assert got == expected


def test_slice_pagination(built):
    index, oracle, _ = built
    page = index.slice(index.search_prefix("t*"), offset=2, limit=3).collect()
    all_terms = sorted(t for t in oracle.tf if t.startswith("t"))
    assert [r["term"] for r in page] == all_terms[2:5]


def test_resume_after_injected_failure(spark, tmp_path):
    idx_dir = str(tmp_path / "idx_resume")
    docs = pages_df(spark, 80, partitions=4).select("doc_id", "text")
    builder = IndexBuilder(spark, CFG)
    with pytest.raises(RuntimeError, match="injected failure"):
        builder.build(docs, idx_dir, n_buckets=3, fail_after_bucket=0)
    store_ledger = open(f"{idx_dir}/ledger.jsonl").read().strip().splitlines()
    assert len(store_ledger) == 1  # only bucket 0 committed

    manifest = builder.build(docs, idx_dir, n_buckets=3, resume=True)
    index = SearchIndex(spark, idx_dir)
    local = generate_pages_batch(np.arange(80))
    oracle = OracleIndex(list(zip(local.doc_id, local.text)), CFG)
    assert manifest.n_docs == 80
    expected = oracle.bm25_topk("the data of", k=5)
    got = index.bm25_topk("the data of", k=5).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    # ledger shows all 3 buckets exactly once
    lines = open(f"{idx_dir}/ledger.jsonl").read().strip().splitlines()
    import json

    buckets = [json.loads(l)["bucket"] for l in lines]
    assert sorted(buckets) == [0, 1, 2]


def test_build_restores_session_confs(spark, tmp_path):
    """build scopes three session confs to itself: after a build, and
    after one that fails, each is back at its earlier value, and a conf
    that was unset before is unset again (not pinned to its default)."""
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    split = "spark.sql.files.maxPartitionBytes"
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    keys = (batch, split, arrow)
    saved = {k: spark.conf.get(k, None) for k in keys}
    docs = pages_df(spark, 40, partitions=2).select("doc_id", "text")
    builder = IndexBuilder(spark, CFG)

    def now():
        return {k: spark.conf.get(k, None) for k in keys}

    try:
        spark.conf.unset(batch)
        spark.conf.set(split, "67108864")
        spark.conf.set(arrow, "false")
        before = now()
        assert before == {batch: None, split: "67108864", arrow: "false"}
        builder.build(docs, str(tmp_path / "ok"), n_buckets=2)
        assert now() == before
        with pytest.raises(RuntimeError, match="injected failure"):
            builder.build(docs, str(tmp_path / "bad"), n_buckets=2,
                          fail_after_bucket=0)
        assert now() == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_resume_skips_torn_ledger_line(spark, tmp_path):
    """A crash mid-append leaves half a JSON line at the end of the
    ledger. That bucket never committed: completed_buckets skips the line,
    the resume rebuilds the bucket, and the index equals an uninterrupted
    build. A bad line that is not the last one still raises."""
    import json

    from gloomy_spark.index_store import IndexStore

    docs = pages_df(spark, 80, partitions=4).select("doc_id", "text")
    builder = IndexBuilder(spark, CFG)
    whole = str(tmp_path / "idx_whole")
    builder.build(docs, whole, n_buckets=3)
    idx_dir = str(tmp_path / "idx_torn")
    with pytest.raises(RuntimeError, match="injected failure"):
        builder.build(docs, idx_dir, n_buckets=3, fail_after_bucket=0)
    ledger = f"{idx_dir}/ledger.jsonl"
    with open(ledger, "a") as f:
        f.write('{"bucket": 1, "term_id_lo": 4')  # torn: no closing brace
    store = IndexStore(idx_dir)
    assert sorted(store.completed_buckets()) == [0]

    builder.build(docs, idx_dir, n_buckets=3, resume=True)

    def spans(recs):
        return sorted(
            (r.bucket, r.term_id_lo, r.term_id_hi, r.n_postings)
            for r in recs.values()
        )

    assert spans(store.completed_buckets()) == spans(
        IndexStore(whole).completed_buckets()
    )
    assert [b for b, *_ in spans(store.completed_buckets())] == [0, 1, 2]
    a, b = SearchIndex(spark, whole), SearchIndex(spark, idx_dir)
    for q in QUERIES:
        assert a.bm25_topk(q, 10).collect() == b.bm25_topk(q, 10).collect(), q

    lines = open(ledger).read().splitlines()
    with open(ledger, "w") as f:
        f.write("\n".join([lines[0], '{"bucket": 1, "ter', *lines[1:]]) + "\n")
    with pytest.raises(json.JSONDecodeError):
        store.completed_buckets()


def test_cached_dictionary_fast_path_identical(built):
    index, oracle, _ = built
    from gloomy_spark.query.engine import SearchIndex

    cached = SearchIndex(index.spark, index.store.index_dir).cache()
    assert cached._term_map is not None
    for q in ["the of kade nonexistentterm", "žluťoučký", "qqqzz"]:
        a = [(r.doc_id, round(r.score, 9)) for r in index.bm25_topk(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in cached.bm25_topk(q, 10).collect()]
        assert a == b, q

    # every other operator that resolves terms: the cached term map and
    # the uncached dictionary collect give the same rows, absent terms
    # included
    assert index._term_map is None
    docs = pages_df(index.spark, N_DOCS, partitions=6).select("doc_id", "text")
    absent = "qqqzz"
    ops = {
        "postings": lambda si: si.postings("the"),
        "postings absent": lambda si: si.postings(absent),
        "positions": lambda si: si.postings_positions("of"),
        "positions absent": lambda si: si.postings_positions(absent),
        "phrase": lambda si: si.phrase_match("of the", with_positions=True),
        "phrase absent": lambda si: si.phrase_match(f"of {absent}"),
        "boolean": lambda si: si.boolean_search(["the"], ["and", absent], ["in", absent]),
        "boolean must absent": lambda si: si.boolean_search(["the", absent]),
        "collocations": lambda si: si.collocations("to", docs),
        "collocations absent": lambda si: si.collocations(absent, docs),
        "attr counts": lambda si: si.term_attr_counts(["the", "zosa", absent], ["lang"]),
    }
    for name, op in ops.items():
        a = sorted(tuple(r) for r in op(index).collect())
        b = sorted(tuple(r) for r in op(cached).collect())
        assert a == b, name
        assert bool(a) != name.endswith("absent"), name


@pytest.mark.spark
def test_bm25_random_query_fuzz_all_paths(built):
    """Seeded random-workload differential fuzz: 100 queries of 1-6 terms
    sampled from the REAL vocabulary (15% replaced by unknown tokens,
    duplicates allowed) must be rank-identical and score-equal (1e-9)
    against the exhaustive python oracle on BOTH throughput paths — the
    batch scorer (one job for all 100) and driver-local serve — plus a
    spot-check of the per-query block-max path. Random workloads reach
    tie-break, absent-term, and repeated-term corners the curated QUERIES
    list cannot."""
    import random

    index, oracle, _ = built
    index.cache()  # bm25_serve needs the driver term map (idempotent)
    rng = random.Random(99)
    vocab = sorted(oracle.tf)
    queries = []
    for _ in range(100):
        n = rng.randint(1, 6)
        toks = [
            rng.choice(vocab) if rng.random() > 0.15 else f"zz{rng.randint(0, 9)}q"
            for _ in range(n)
        ]
        queries.append(" ".join(toks))

    def check(got, q):
        want = oracle.bm25_topk(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), q

    # ONE batch job scores the whole workload
    by_q: dict[int, list] = {}
    for r in index.bm25_topk_batch(queries, 10).collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"]))
        )
    for qi, q in enumerate(queries):
        got = sorted(by_q.get(qi, []), key=lambda t: (-t[1], t[0]))
        check(got, q)
        check(index.bm25_serve(q, 10), q)
    for q in rng.sample(queries, 8):
        got = [
            (r["doc_id"], r["score"]) for r in index.bm25_topk(q, 10).collect()
        ]
        check(got, q)


@pytest.mark.spark
def test_phrase_random_fuzz(built):
    """Seeded phrase fuzz vs an exhaustive positions oracle: 40 phrases —
    30 REAL n-grams lifted from random corpus positions (guaranteed ≥1
    match, exercising adjacency verification) + 10 random token combos
    (mostly absent, exercising the empty doc-set short-circuit). A doc
    matches [t0..tn] iff some p has p+i ∈ positions(ti, doc) for all i."""
    import random

    index, oracle, _ = built
    rng = random.Random(123)
    doc_tokens: dict[int, list[str]] = {}
    for t, by_doc in oracle.positions.items():
        for d, ps in by_doc.items():
            for p in ps:
                doc_tokens.setdefault(d, [])
    # rebuild per-doc token sequences from the oracle's positions
    for t, by_doc in oracle.positions.items():
        for d, ps in by_doc.items():
            seq = doc_tokens[d]
            for p in ps:
                while len(seq) <= p:
                    seq.append(None)
                seq[p] = t

    docs = sorted(doc_tokens)
    phrases = []
    while len(phrases) < 30:
        d = rng.choice(docs)
        seq = doc_tokens[d]
        if len(seq) < 4:
            continue
        i = rng.randrange(0, len(seq) - 3)
        n = rng.randint(2, 4)
        toks = seq[i:i + n]
        if any(t is None for t in toks):
            continue
        phrases.append(" ".join(toks))
    vocab = sorted(oracle.tf)
    for _ in range(10):
        phrases.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 3))))

    def oracle_phrase(toks: list[str]) -> set[int]:
        if any(t not in oracle.positions for t in toks):
            return set()
        out = set()
        first = oracle.positions[toks[0]]
        for d, ps in first.items():
            if all(d in oracle.positions[t] for t in toks[1:]):
                later = [set(oracle.positions[t][d]) for t in toks[1:]]
                if any(all(p + i + 1 in s for i, s in enumerate(later)) for p in ps):
                    out.add(d)
        return out

    n_nonempty = 0
    for ph in phrases:
        got = {r["doc_id"] for r in index.phrase_match(ph).collect()}
        want = oracle_phrase(ph.split(" "))
        assert got == want, ph
        n_nonempty += bool(want)
    assert n_nonempty >= 30  # the lifted n-grams really matched


@pytest.mark.spark
def test_term_search_random_fuzz(built):
    """Seeded prefix + restricted-regex fuzz vs python re over the oracle
    vocabulary: 30 random prefixes (drawn from real term heads, some
    missing) and 20 random character-class patterns must select exactly
    the same term sets."""
    import random
    import re

    index, oracle, _ = built
    rng = random.Random(7)
    vocab = sorted(oracle.tf)

    for _ in range(30):
        t = rng.choice(vocab)
        p = t[: rng.randint(1, min(4, len(t)))]
        if rng.random() < 0.2:
            p = p + "zq"  # likely-missing prefix
        want = {t for t in vocab if t.startswith(p)}
        got = {r["term"] for r in index.search_prefix(p + "*").collect()}
        assert got == want, p

    for _ in range(20):
        t = rng.choice(vocab)
        if len(t) < 3:
            continue
        i = rng.randrange(0, len(t) - 1)
        alt = rng.choice("abcdefgh")
        pat = t[:i] + f"[{t[i]}{alt}]" + t[i + 1:]
        want = {v for v in vocab if re.fullmatch(pat, v)}
        got = {r["term"] for r in index.search_regexp(pat).collect()}
        assert got == want, pat
        assert t in got  # the seed term always matches its own pattern
