"""Sources (plaintext/gzip/vertical/charset), n-gram index builds,
min-freq/custom filters, metadata join, TSV export, HTTP service."""

from __future__ import annotations

import gzip
import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from gloomy_spark.build import IndexBuilder
from gloomy_spark.config import EngineConfig
from gloomy_spark.corpus import pages_df, generate_pages_batch
from gloomy_spark.oracle import OracleIndex
from gloomy_spark.query.engine import SearchIndex
from gloomy_spark.sources import (
    read_plaintext_docs,
    read_vertical_docs,
    read_wholefile_docs,
)
from gloomy_spark.sources.vertical import parse_vertical
from gloomy_spark.textnorm import ngrams

CFG = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)

LOREM_LINE1 = "Lorem ipsum dolor sit amet, consectetur adipiscing elit"


@pytest.mark.spark
def test_plaintext_and_gzip_source(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text(f"{LOREM_LINE1}\nsecond line here\n")
    df = read_plaintext_docs(spark, str(p))
    rows = sorted(r.text for r in df.collect())
    assert rows == sorted([LOREM_LINE1, "second line here"])

    gz = tmp_path / "corpus2.txt.gz"
    gz.write_bytes(gzip.compress("alpha beta\ngamma delta\n".encode()))
    rows = sorted(r.text for r in read_plaintext_docs(spark, str(gz)).collect())
    assert rows == ["alpha beta", "gamma delta"]


@pytest.mark.spark
def test_charset_source(spark, tmp_path):
    # windows-1250 golden (reference simple_test.go:83-95)
    txt = "Žluťoučký kůň úpěl ďábelské ódy"
    p = tmp_path / "cs.txt"
    p.write_bytes(txt.encode("windows-1250"))
    rows = [r.text for r in read_plaintext_docs(spark, str(p), charset="windows-1250").collect()]
    assert rows == [txt]


def test_parse_vertical_pure():
    body = (
        '<doc file="a.txt" n="1">\n'
        "Hello\tUH\thello\n"
        "world\tNN\tworld\n"
        "<s>\n"
        "again\tRB\tagain\n"
        "</s>\n"
        "</doc>\n"
        '<doc file="b.txt" n="2">\n'
        "second\tJJ\tsecond\n"
        "</doc>\n"
    )
    docs = parse_vertical(body)
    assert len(docs) == 2
    # <s>…</s> injects stop-char boundaries (window reset, builder.go:142-144);
    # the trailing boundary before </doc> is trimmed
    assert docs[0]["text"] == "Hello world . again"
    assert docs[0]["attrs"] == {"file": "a.txt", "n": "1"}
    assert docs[1]["attrs"]["file"] == "b.txt"


@pytest.mark.spark
def test_vertical_source(spark, tmp_path):
    p = tmp_path / "corp.vert"
    p.write_text(
        '<doc file="x" n="1">\nfoo\tA\nbar\tB\n</doc>\n<doc file="y" n="2">\nbaz\tC\n</doc>\n'
    )
    df = read_vertical_docs(spark, str(p), attrs=["file", "n"])
    rows = sorted((r.text, r.file, r.n) for r in df.collect())
    assert rows == [("baz", "y", "2"), ("foo bar", "x", "1")]


# one vertical and one plain corpus, with doc attrs, <s n=…> structures,
# a duplicate doc, a duplicate line and characters outside ASCII
VERT_BODY = (
    '<doc file="a" n="1">\n<s n="1">\nŽluťoučký\tA\nkůň\tN\n</s>\n'
    '<s n="2">\núpěl\tV\n</s>\n</doc>\n'
    '<doc file="b" n="2">\nďábelské\tA\n<s n="3">\nódy\tN\n</s>\n</doc>\n'
    '<doc file="a" n="1">\n<s n="1">\nŽluťoučký\tA\nkůň\tN\n</s>\n'
    '<s n="2">\núpěl\tV\n</s>\n</doc>\n'
)
PLAIN_BODY = "Žluťoučký kůň\núpěl ďábelské ódy\n\nŽluťoučký kůň\nčtvrtý řádek\n"


def _source_rows(spark, vert, plain, charset):
    from collections import Counter

    from gloomy_spark.sources import read_vertical_structs

    docs = read_vertical_docs(spark, vert, attrs=["file", "n"], charset=charset)
    structs = read_vertical_structs(
        spark, vert, attrs=["doc.file", "s.n"], charset=charset
    )
    lines = read_plaintext_docs(spark, plain, charset=charset)
    return (
        Counter((r.text, r.file, r.n) for r in docs.collect()),
        Counter((r.text, r.doc_file, r.s_n) for r in structs.collect()),
        Counter(r.text for r in lines.collect()),
    )


@pytest.mark.spark
def test_utf8_and_windows1250_bz2_read_the_same_rows(spark, tmp_path):
    """Every reader goes through one record source: the same corpus as
    UTF-8 and as windows-1250 .bz2 gives the same (text, attrs) rows for
    docs, structure runs and plain lines."""
    import bz2

    paths = {}
    for name, enc, pack in (("u8", "utf-8", bytes), ("cp", "windows-1250", bz2.compress)):
        vert = tmp_path / f"{name}.vert{'.bz2' if name == 'cp' else ''}"
        plain = tmp_path / f"{name}.txt{'.bz2' if name == 'cp' else ''}"
        vert.write_bytes(pack(VERT_BODY.encode(enc)))
        plain.write_bytes(pack(PLAIN_BODY.encode(enc)))
        paths[enc] = (str(vert), str(plain))
    utf8 = _source_rows(spark, *paths["utf-8"], "utf-8")
    cp = _source_rows(spark, *paths["windows-1250"], "windows-1250")
    assert utf8 == cp
    docs, structs, lines = utf8
    assert docs[("Žluťoučký kůň . úpěl", "a", "1")] == 2
    assert structs == {
        ("Žluťoučký kůň", "a", "1"): 2, ("úpěl", "a", "2"): 2,
        ("ďábelské", "b", None): 1, ("ódy", "b", "3"): 1,
    }
    assert lines == {
        "Žluťoučký kůň": 2, "úpěl ďábelské ódy": 1, "": 1, "čtvrtý řádek": 1,
    }


@pytest.mark.spark
def test_windows1250_ids_survive_an_insert_at_the_top(spark, tmp_path):
    """Non-UTF-8 doc_ids follow the content rule too: putting a new doc
    (or line) at the top of a windows-1250 file leaves every other doc's
    doc_id unchanged; duplicates still get distinct ids."""
    vert, plain = tmp_path / "c.vert", tmp_path / "c.txt"
    new_doc = '<doc file="z" n="0">\nnový\tA\n</doc>\n'
    new_line = "nový řádek\n"

    def read():
        docs = read_vertical_docs(spark, str(vert), attrs=["file"],
                                  charset="windows-1250")
        lines = read_plaintext_docs(spark, str(plain), charset="windows-1250")
        return (
            sorted((r.text, r.file, r.doc_id) for r in docs.collect()),
            sorted((r.text, r.doc_id) for r in lines.collect()),
        )

    vert.write_bytes(VERT_BODY.encode("windows-1250"))
    plain.write_bytes(PLAIN_BODY.encode("windows-1250"))
    docs, lines = read()
    vert.write_bytes((new_doc + VERT_BODY).encode("windows-1250"))
    plain.write_bytes((new_line + PLAIN_BODY).encode("windows-1250"))
    docs2, lines2 = read()

    assert len(docs) == 3 and len({d for *_, d in docs}) == 3
    assert len(lines) == 5 and len({d for _, d in lines}) == 5
    assert [r for r in docs2 if r[1] != "z"] == docs
    assert [r for r in lines2 if r[0] != "nový řádek"] == lines


@pytest.fixture(scope="module")
def bigram_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("bidx"))
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text")
    IndexBuilder(spark, CFG).build(docs, idx, n_buckets=2, ngram_size=2, min_term_freq=3)
    import numpy as np

    local = generate_pages_batch(np.arange(120))
    return SearchIndex(spark, idx), local


@pytest.mark.spark
def test_ngram_index_counts_match_oracle(bigram_index):
    si, local = bigram_index
    from collections import Counter

    counts = Counter()
    for _, row in local.iterrows():
        counts.update(ngrams(row.text, 2, CFG))
    expected = {t: c for t, c in counts.items() if c >= 3}
    got = {r.term: r.cf for r in si.terms.collect()}
    assert got == expected


@pytest.mark.spark
def test_ngram_first_token_search_and_multi_regexp(bigram_index):
    si, local = bigram_index
    # first-token prefix search over bigrams (gloomy CLI 'abs*' semantics)
    got = {r.term for r in si.search_prefix("the*").collect()}
    assert got == {t for t in (r.term for r in si.terms.collect()) if t.startswith("the")}
    # per-position regex (searchByRegexp: phrase split on spaces)
    hits = {r.term for r in si.search_ngram_regexp(["the", ".*"]).collect()}
    all_terms = {r.term for r in si.terms.collect()}
    assert hits == {t for t in all_terms if t.split(" ")[0] == "the"}


@pytest.mark.spark
def test_custom_term_filter(spark, tmp_path):
    idx = str(tmp_path / "fidx")
    docs = pages_df(spark, 60, partitions=2).select("doc_id", "text")
    # F5 custom-filter analog: drop terms shorter than 4 chars
    IndexBuilder(spark, CFG).build(
        docs, idx, n_buckets=1, term_filter=lambda t: F.length(t) >= 4
    )
    si = SearchIndex(spark, idx)
    assert si.terms.where(F.length("term") < 4).count() == 0
    assert si.terms.count() > 0


@pytest.mark.spark
def test_metadata_join_and_tsv_export(spark, tmp_path):
    idx = str(tmp_path / "midx")
    docs = pages_df(spark, 60, partitions=2)
    IndexBuilder(spark, CFG).build(
        docs.select("doc_id", "text", "url", "lang"), idx,
        url_col="url", lang_col="lang", n_buckets=1,
    )
    si = SearchIndex(spark, idx)
    hits = si.bm25_topk("the data", 5)
    joined = si.with_doc_metadata(hits).collect()
    assert all(r.url and r.url.startswith("https://example-") for r in joined)

    out = str(tmp_path / "tsv")
    si.export_ngrams_tsv(out, min_freq=2)
    import glob

    lines = []
    for f in glob.glob(out + "/part-*"):
        lines += open(f).read().splitlines()
    assert lines and all("\t" in l for l in lines)


@pytest.mark.spark
def test_http_service(spark, tmp_path):
    from gloomy_spark.service import SearchService

    idx = str(tmp_path / "sidx")
    docs = pages_df(spark, 80, partitions=2).select("doc_id", "text")
    IndexBuilder(spark, CFG).build(docs, idx, n_buckets=1)
    svc = SearchService(spark, {"main": idx})
    port = svc.start()
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
                return json.loads(r.read())

        out = get("/search?corpus=main&q=the&qtype=default")
        assert out["size"] == 1 and out["rows"][0]["term"] == "the"
        out = get("/search?corpus=main&q=th*&qtype=prefix&limit=5")
        assert 1 <= out["size"] <= 5
        out = get("/bm25?corpus=main&q=the%20data&k=3")
        assert out["size"] == 3 and "score" in out["rows"][0]
        # error path: unknown corpus → 400 with JSON error
        try:
            get("/search?corpus=nope&q=x")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "unknown corpus" in json.loads(e.read())["error"]
        try:  # a non-integer k is the request's fault too
            get("/bm25?corpus=main&q=the&k=ten")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # a fault of the service, not of the request → 500, same JSON body
        def broken(*a, **kw):
            raise RuntimeError("scorer died")

        svc.bm25 = broken
        try:
            get("/bm25?corpus=main&q=the")
            raise AssertionError("expected 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert json.loads(e.read())["error"] == "scorer died"
    finally:
        svc.stop()
