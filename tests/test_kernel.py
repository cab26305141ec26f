"""query/kernel.py against the reference numerics it replaced: np.unique +
np.add.at accumulation, then a full lexsort (score desc, doc_id asc).
Equality is bit-for-bit (array_equal on the float scores, no tolerance)."""

from __future__ import annotations

import numpy as np
import pytest

from gloomy_spark.query.kernel import accumulate, topk


def _reference(docs_list, scores_list, k):
    if not docs_list:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.concatenate(docs_list).astype(np.int64)
    scores = np.concatenate(scores_list)
    uniq, inv = np.unique(docs, return_inverse=True)
    tot = np.zeros(len(uniq))
    np.add.at(tot, inv, scores)
    order = np.lexsort((uniq, -tot))[:k]
    return uniq[order], tot[order]


def _check(docs_list, scores_list, k):
    got_d, got_s = topk(*accumulate(docs_list, scores_list), k)
    want_d, want_s = _reference(docs_list, scores_list, k)
    assert got_d.dtype == np.int64
    assert np.array_equal(got_d, want_d)
    assert np.array_equal(got_s, want_s)


def _term_lists(rng, n_terms, n_docs, lo=0, stride=1):
    """Per-term posting lists: sorted unique doc ids, positive scores."""
    docs_l, scores_l = [], []
    for _ in range(n_terms):
        n = int(rng.integers(1, n_docs + 1))
        d = np.sort(rng.choice(n_docs, size=n, replace=False)) * stride + lo
        docs_l.append(d.astype(np.int64))
        scores_l.append(rng.random(len(d)) * 10.0)
    return docs_l, scores_l


@pytest.mark.parametrize("seed", range(20))
def test_random_inputs_bit_identical(seed):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    n_docs = int(rng.integers(1, 3000))
    lo = int(rng.integers(0, 1 << 40))
    # strides up to 64 spread the ids past the dense guard on some seeds
    stride = int(rng.integers(1, 65))
    docs_l, scores_l = _term_lists(rng, n_terms, n_docs, lo, stride)
    for k in (1, 10, 100):
        _check(docs_l, scores_l, k)


def test_all_equal_scores_ties_at_kth():
    # every doc scores exactly the same: the doc_id tie-break alone decides,
    # and the partition prefilter (n > 4k) must keep every tied candidate
    rng = np.random.default_rng(1)
    docs_l = [rng.permutation(5000).astype(np.int64), np.arange(0, 5000, 7)]
    scores_l = [np.full(5000, 1.5), np.zeros(len(docs_l[1]))]
    for k in (1, 10, 999):
        _check(docs_l, scores_l, k)
    d, _ = topk(*accumulate(docs_l, scores_l), 10)
    assert d.tolist() == list(range(10))


def test_k_larger_than_n():
    rng = np.random.default_rng(2)
    docs_l, scores_l = _term_lists(rng, 3, 20)
    _check(docs_l, scores_l, 1000)


def test_empty_inputs():
    _check([], [], 10)
    e_d, e_s = np.empty(0, np.int64), np.empty(0, np.float64)
    _check([e_d], [e_s], 10)
    _check([e_d, e_d], [e_s, e_s], 10)
    d, s = topk(np.array([3, 1], np.int64), np.array([1.0, 2.0]), 0)
    assert len(d) == 0 and len(s) == 0


def test_single_list_returned_as_is():
    d = np.array([4, 9, 17], np.int64)
    s = np.array([0.5, 2.0, 1.0])
    got_d, got_s = accumulate([d], [s])
    assert got_d is d and got_s is s
    _check([d], [s], 2)


@pytest.mark.parametrize("extra", [0, 1])
def test_dense_guard_both_branches(extra):
    """n postings over a doc span of exactly max(8n, 4096) take the dense
    bincount; one more doc of span takes the sort path. Both must match."""
    n_half = 300  # n = 600 postings → guard = max(4800, 4096) = 4800
    guard = max(8 * 2 * n_half, 4096)
    lo = 10**9
    rng = np.random.default_rng(3)
    inner = np.sort(rng.choice(np.arange(1, guard - 1), 2 * n_half - 4, replace=False))
    a = np.concatenate([[0], inner[: n_half - 2], [guard - 1 + extra]]) + lo
    b = np.concatenate([[0], inner[n_half - 2 :], [guard - 1 + extra]]) + lo
    docs_l = [a.astype(np.int64), b.astype(np.int64)]
    scores_l = [rng.random(len(a)), rng.random(len(b))]
    n = sum(map(len, docs_l))
    assert n == 2 * n_half
    assert int(docs_l[0].max() - docs_l[0].min()) + 1 == guard + extra
    for k in (5, n):
        _check(docs_l, scores_l, k)


def test_zero_score_docs_kept():
    # a dense accumulator must not mistake a zero sum for an absent doc
    docs_l = [np.array([1, 2], np.int64), np.array([2, 3], np.int64)]
    scores_l = [np.array([0.0, 1.0]), np.array([0.0, 0.0])]
    _check(docs_l, scores_l, 10)
    assert topk(*accumulate(docs_l, scores_l), 10)[0].tolist() == [2, 1, 3]


# ------------------------------------------------ engine's bucket kernel --


def _encoded_bucket(rng, ties, stride, idf_by_tid):
    """One bucket's posting blocks for the terms of ``idf_by_tid``,
    hand-encoded: mixed block sizes, doc ranges overlapping across the
    terms, rows shuffled so the terms' blocks interleave. Doc ids are
    ``lo + stride * i`` for i < 300. Returns (blocks frame, lo)."""
    import pandas as pd

    from gloomy_spark.codecs import encode_posting_block
    from gloomy_spark.query.kernel import bm25_scores

    lo = int(rng.integers(-(2**62), 2**62))
    rows = []
    for tid, idf in idf_by_tid.items():
        docs = lo + stride * np.unique(rng.integers(0, 300, size=int(rng.integers(1, 120))))
        i = 0
        while i < len(docs):
            d = docs[i : i + int(rng.choice([1, 2, 5, 8, 32]))]
            if ties:
                tf, dl = np.ones(len(d), np.int64), np.full(len(d), 50, np.int64)
            else:
                tf = rng.integers(1, 20, size=len(d))
                dl = rng.integers(1, 200, size=len(d))
            s = bm25_scores(tf, dl, idf, 1.2, 0.75, 50.0)
            payload = encode_posting_block(d, tf, dl)
            rows.append((tid, int(d[0]), int(d[-1]), len(d), float(s.max()), *payload))
            i += len(d)
    rows = [rows[i] for i in rng.permutation(len(rows))]
    cols = ["term_id", "first_doc", "last_doc", "n_docs", "max_score", "docs", "tfs", "dls"]
    blocks = pd.DataFrame(rows, columns=cols)
    blocks.insert(0, "doc_bucket", 0)
    return blocks, lo


def _with_allowed(rng, blocks, allow):
    """``blocks`` plus bm25_topk_filtered's allowed-doc rows (term_id -1,
    n_docs 0, the doc id in first_doc/last_doc, null payload), shuffled
    in among the blocks as they may arrive from the exchange."""
    import pandas as pd

    tagged = pd.DataFrame({
        "doc_bucket": 0, "term_id": -1, "first_doc": allow, "last_doc": allow,
        "n_docs": 0, "max_score": np.nan, "docs": None, "tfs": None, "dls": None,
    })
    rows = pd.concat([blocks, tagged], ignore_index=True)
    return rows.iloc[rng.permutation(len(rows))]


@pytest.mark.parametrize("seed", range(8))
def test_batch_bucket_scorer_matches_per_term(seed):
    """engine._bucket_scorer, the one kernel of bm25_topk,
    bm25_topk_filtered and bm25_topk_batch (blocks of three terms
    arriving interleaved, one bulk decode per bucket, one top-k per
    distinct term set, an optional facet allow set) against a per-term
    decode + bm25_scores (+ np.isin) + accumulate + topk in sorted-term
    order: same rows, same float bits. Covers queries sharing one term
    set, a query repeating a term, a query whose terms are all absent
    from the bucket, k above the candidate count, and allow sets that
    are a subset, empty, and (stride 1009) a sparse id grid that keeps
    np.isin off its lookup-table method, as on real ids."""
    from gloomy_spark.query.engine import _bucket_scorer, _Bm25Params, _decode_blocks
    from gloomy_spark.query.kernel import bm25_scores

    rng = np.random.default_rng(seed)
    idf_by_tid = {-7: 2.3, 3: 1.7, 9: 0.4}
    stride = 1 if seed % 2 else 1009
    blocks, lo = _encoded_bucket(rng, seed % 3 == 0, stride, idf_by_tid)
    absent = {41: 0.9, 77: 3.1}  # batch terms with no block in this bucket
    queries = [[3, 9], [9, 3], [-7, 9, -7], [41, 77], [9], [3, -7, 9, 41], [3, 3]]
    qids_by_tset = {}
    for qi, q in enumerate(queries):
        qids_by_tset.setdefault(tuple(sorted(set(q))), []).append(qi)
    some = lo + stride * np.unique(rng.integers(0, 300, size=90))
    for k in (1, 5, 10_000):
        p = _Bm25Params(k1=1.2, b=0.75, avgdl=50.0, k=k)
        for allow in (None, some, lo + np.arange(0)):
            score = _bucket_scorer(
                p, {**idf_by_tid, **absent}, qids_by_tset, facet=allow is not None
            )
            got = score(blocks if allow is None else _with_allowed(rng, blocks, allow))
            assert not (got["query_id"] == 3).any()
            for qi, q in enumerate(queries):
                docs_l, scores_l = [], []
                for t in sorted(set(q)):
                    rows = blocks[blocks["term_id"] == t]
                    d, tf, dl = _decode_blocks(rows)
                    idf = np.repeat(rows["term_id"].map(idf_by_tid).to_numpy(np.float64), rows["n_docs"])
                    s = bm25_scores(tf.astype(np.float64), dl.astype(np.float64), idf, 1.2, 0.75, 50.0)
                    m = np.ones(len(d), bool) if allow is None else np.isin(d, allow)
                    docs_l.append(d[m])
                    scores_l.append(s[m])
                want_d, want_s = topk(*accumulate(docs_l, scores_l), k)
                mine = got[got["query_id"] == qi]
                order = np.lexsort((mine["doc_id"].to_numpy(), -mine["score"].to_numpy()))
                assert mine["doc_id"].to_numpy()[order].tolist() == want_d.tolist()
                assert [x.hex() for x in mine["score"].to_numpy()[order]] == [
                    x.hex() for x in want_s
                ]
            if k == 10_000 and allow is None:  # every candidate of query [9]
                n9 = int(blocks.loc[blocks["term_id"] == 9, "n_docs"].sum())
                assert int((got["query_id"] == 4).sum()) == n9
            if allow is not None and not len(allow):
                assert got.empty
