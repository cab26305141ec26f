"""Self-test of the correctness checks: each check must accept the right
answer and reject a perturbed one (a swapped rank, a dropped posting, a
wrong pair, ...).  Needs no Spark session:

    python3 perfbench/selftest.py

The right answers come from perfbench/oracle.py itself; the index check
runs on an index written here in the program's on-disk layout.
"""

from __future__ import annotations

import os
import sys
import tempfile
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WIDTH = 16


def leb128(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def write_index(c: oracle.Corpus, path: str) -> types.SimpleNamespace:
    """Terms, docs and posting blocks (one block per term and doc bucket)."""
    terms = sorted(c.postings)
    os.makedirs(os.path.join(path, "segments", "bucket=0"))
    pq.write_table(pa.table({
        "term": terms, "term_id": list(range(len(terms))),
        "df": [len(c.postings[t][0]) for t in terms], "cf": [int(c.postings[t][1].sum()) for t in terms],
        "idf": [c.idf[t] for t in terms],
    }), os.path.join(path, "terms.parquet"))
    os.makedirs(os.path.join(path, "terms"))
    os.replace(os.path.join(path, "terms.parquet"), os.path.join(path, "terms", "part-0.parquet"))
    os.makedirs(os.path.join(path, "docs"))
    pq.write_table(pa.table({
        "doc_id": list(range(c.n_docs)), "url": c.urls, "lang": c.lang.tolist(), "doclen": c.dl.tolist(),
    }), os.path.join(path, "docs", "part-0.parquet"))
    rows = {k: [] for k in ("term_id", "doc_bucket", "first_doc", "last_doc", "n_docs",
                            "max_score", "docs", "tfs", "dls")}
    for tid, t in enumerate(terms):
        d, tf = c.postings[t]
        for bucket in np.unique(d // WIDTH):
            m = d // WIDTH == bucket
            bd, btf = d[m], tf[m]
            s = oracle.idf(c.n_docs, len(d)) * btf * 2.2 / (btf + 1.2 * (0.25 + 0.75 * c.dl[bd] / c.avgdl))
            for k, v in (("term_id", tid), ("doc_bucket", int(bucket)), ("first_doc", int(bd[0])),
                         ("last_doc", int(bd[-1])), ("n_docs", len(bd)), ("max_score", float(s.max())),
                         ("docs", leb128(np.diff(bd, prepend=0))), ("tfs", leb128(btf)),
                         ("dls", leb128(c.dl[bd]))):
                rows[k].append(v)
    pq.write_table(pa.table(rows), os.path.join(path, "segments", "bucket=0", "part-0.parquet"))
    return types.SimpleNamespace(postings_total=sum(len(p[0]) for p in c.postings.values()),
                                 avgdl=c.avgdl)


def perturb_segments(path: str, fn) -> None:
    f = os.path.join(path, "segments", "bucket=0", "part-0.parquet")
    t = pq.read_table(f).to_pydict()
    fn(t)
    pq.write_table(pa.table(t), f)


def main() -> int:
    p = gen.pages(1, 80, 3)
    c = oracle.Corpus(p.frame)
    dd = oracle.Dedup(p.frame["text"].tolist())
    terms = c.terms_by_df()
    assert oracle.doc_freq(p.frame["text"]) == {t: len(d) for t, (d, _) in c.postings.items()}
    q = " ".join(terms[5:8])
    results = []

    def expect(name: str, good, bad) -> None:
        ok = good is None and bad is not None
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: right answer -> {good!r}; perturbed -> {bad!r}")

    top = c.topk(q, 10)
    i = next(i for i in range(len(top) - 1) if top[i][1] - top[i + 1][1] > 1e-6)
    swapped = top[:i] + [top[i + 1], top[i]] + top[i + 2:]
    expect("bm25 top-k, swapped rank", oracle.check_topk(c, q, 10, top),
           oracle.check_topk(c, q, 10, swapped))
    expect("bm25 top-k, wrong score", None,
           oracle.check_topk(c, q, 10, [(top[0][0], top[0][1] * 1.001)] + top[1:]))
    ftop = c.topk(q, 10, ("cs", "de"))
    outside = next(d for d in range(c.n_docs) if c.lang[d] == "en")
    expect("faceted top-k, doc outside facet", oracle.check_topk(c, q, 10, ftop, ("cs", "de")),
           oracle.check_topk(c, q, 10, [(outside, 1.0)] + ftop[1:], ("cs", "de")))

    must, should, must_not = terms[3:4], terms[4:5], terms[9:10]
    bset = c.boolean(must, should, must_not)
    expect("boolean set algebra, dropped doc", oracle.check_equal("b", bset, set(bset)),
           oracle.check_equal("b", bset, set(list(bset)[1:])))
    phrase = gen.phrases(1, p.frame["text"], oracle.tokens, 1, 3)[0]
    anchors = set(c.phrase_anchors(phrase))
    expect("phrase positional scan, extra doc", oracle.check_equal("p", anchors, set(anchors)),
           oracle.check_equal("p", anchors, anchors | {max(set(range(c.n_docs)) - anchors)}))
    kw = c.kwic(terms[20], 3)
    bad_kw = [kw[0][:4] + (kw[0][4] + " x",)] + kw[1:]
    expect("kwic positional scan, wrong context", oracle.check_equal("k", kw, list(kw)),
           oracle.check_equal("k", kw, bad_kw))

    pairs = [(a, b, j) for (a, b), j in dd.pairs().items()]
    a0 = pairs[0]
    expect("lsh_jaccard exact Jaccard, wrong pair", oracle.check_pairs(dd, pairs, p.planted),
           oracle.check_pairs(dd, pairs + [(0, c.n_docs - 1, 0.9)], p.planted))
    expect("lsh_jaccard exact Jaccard, wrong value", None,
           oracle.check_pairs(dd, [(a0[0], a0[1], a0[2] - 0.01)] + pairs[1:], p.planted))
    expect("lsh_jaccard, planted pair missing", None, oracle.check_pairs(dd, pairs[1:], p.planted))
    expect("minhash candidates, wrong pair", oracle.check_equal("c", dd.candidates, set(dd.candidates)),
           oracle.check_equal("c", dd.candidates, set(dd.candidates) | {(0, 1)}))
    sim = oracle.simhash_expected(p.frame)
    flipped = dict(sim)
    flipped[0] ^= 1
    expect("simhash registry SQL, flipped bit", oracle.check_equal("s", sim, dict(sim)),
           oracle.check_equal("s", sim, flipped))

    with tempfile.TemporaryDirectory() as tmp:
        def fresh() -> tuple[str, types.SimpleNamespace]:
            path = tempfile.mkdtemp(dir=tmp)
            return path, write_index(c, path)

        path, man = fresh()
        good = oracle.check_index(c, path, man, WIDTH)

        def drop_posting(t):
            i = next(i for i, n in enumerate(t["n_docs"]) if n > 1)
            gaps = oracle.varints(t["docs"][i])
            t["docs"][i] = leb128(gaps[:-1])
            t["tfs"][i] = leb128(oracle.varints(t["tfs"][i])[:-1])
            t["dls"][i] = leb128(oracle.varints(t["dls"][i])[:-1])
            t["n_docs"][i] -= 1
            t["last_doc"][i] = int(np.cumsum(gaps[:-1].astype(np.int64))[-1])

        path, man = fresh()
        perturb_segments(path, drop_posting)
        expect("index postings, dropped posting", good, oracle.check_index(c, path, man, WIDTH))

        def low_max(t):
            t["max_score"][0] *= 0.5

        path, man = fresh()
        perturb_segments(path, low_max)
        expect("index block max_score, below a posting", None, oracle.check_index(c, path, man, WIDTH))
        path, man = fresh()
        man.postings_total += 1
        expect("index sum(df) = postings_total", None, oracle.check_index(c, path, man, WIDTH))

    print(f"{sum(results)}/{len(results)} checks catch their perturbation")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
