"""Shared scoring numerics: the BM25 term score, per-doc score
accumulation and exact top-k.

Every BM25 scorer (the distributed per-bucket kernel behind
``bm25_topk``, ``bm25_topk_filtered`` and ``bm25_topk_batch``, and
driver-local ``bm25_serve``) scores postings with :func:`bm25_scores`,
sums per-term (doc_id, score) arrays and ranks the sums by score desc,
doc_id asc; the segment writer computes each block's ``max_score`` with
the same :func:`bm25_scores`. Each step lives here so it has one
implementation. Sums are added in input order (``np.bincount`` walks its
input front to back), so scores are bit-identical to summing each doc's
postings list by list.
"""

from __future__ import annotations

import numpy as np

_EMPTY_DOCS = np.empty(0, np.int64)
_EMPTY_SCORES = np.empty(0, np.float64)


def bm25_scores(tf, dl, idf, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 score of each posting: ``idf * tf * (k1 + 1) / (tf + k1 *
    (1 - b + b * dl / avgdl))``, elementwise over arrays (integer tf/dl
    are promoted to float64 exactly). ``idf=1.0`` gives the tf part alone
    (``1.0 * x == x``), which callers may scale by idf later."""
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))


def accumulate(
    docs_list: list[np.ndarray], scores_list: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Sum scores per doc over several (doc_ids, scores) lists → (docs,
    scores), docs unique. One list is returned as is: a term's (or a
    block's) doc ids are already unique. A doc range no wider than
    ``max(8 * n, 4096)`` for n postings is summed with a dense
    ``bincount`` over ``docs - lo`` (a second, unweighted bincount marks
    presence, so zero-score docs survive); wider ranges sort with
    ``np.unique``."""
    if len(docs_list) == 1:
        return docs_list[0], scores_list[0]
    if not docs_list:
        return _EMPTY_DOCS, _EMPTY_SCORES
    docs = np.concatenate(docs_list)
    if not len(docs):
        return _EMPTY_DOCS, _EMPTY_SCORES
    scores = np.concatenate(scores_list)
    lo = int(docs.min())
    span = int(docs.max()) - lo + 1
    if span <= max(8 * len(docs), 4096):
        off = docs - lo
        present = np.nonzero(np.bincount(off, minlength=span))[0]
        sums = np.bincount(off, weights=scores, minlength=span)
        return present + lo, sums[present]
    uniq, inv = np.unique(docs, return_inverse=True)
    return uniq, np.bincount(inv, weights=scores, minlength=len(uniq))


def topk(
    docs: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k as arrays: score desc, doc_id asc tie-break. Past 4k
    candidates an O(n) ``np.partition`` prefilter keeps everything at or
    above the k-th score (ties included, so the lexsort still breaks
    them exactly) and only that survivor set is sorted."""
    if len(docs) == 0 or k <= 0:
        return _EMPTY_DOCS, _EMPTY_SCORES
    if len(docs) > 4 * k:
        thr = np.partition(scores, len(scores) - k)[len(scores) - k]
        keep = scores >= thr
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores))[:k]
    return docs[order].astype(np.int64), scores[order]
