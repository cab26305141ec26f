"""Seeded input generators for the benchmark.

Everything here derives from the ``seed`` argument through numpy's PCG64
and never imports the program, so a change to the program cannot change
the inputs.  The pages corpus has the shape of FIXTURES.md section 1: a
Zipf(1.07) vocabulary of ~10k words, log-normal document lengths
(median ~200 tokens), en/cs/de at 90/8/2 %, sentence punctuation from the
tokenizer's split class, stray ``"`` ignore-tokens, ``<p>`` paragraphs of
60 tokens and ``<nav>``/``<script>`` boilerplate on 10 % of pages.
The last ``n_dups`` pages are planted near-duplicates: a copy of an
earlier page with one extra token appended, so each planted pair has a
3-shingle Jaccard of at least 150/151.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
HEAD_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an had they you were their one all we "
    "can her has there"
).split()
CS_WORDS = ["žluťoučký", "kůň", "úpěl", "ďábelské", "ódy", "příliš", "dům"]
DE_WORDS = ["über", "größe", "straße", "müde", "schön"]
SYLLABLES = (
    "al an ar as at ba be bi bo ca ce co da de di do du el en er es fa fi ga "
    "go ha he in is ka la le li lo ma me mi mo na ne ni no or pa pe po ra re "
    "ri ro sa se si so ta te ti to tu ul um un ur va ve vi vo za ze zo"
).split()
SEPARATORS = np.array([". ", "? ", "! ", "; ", ": ", ", "], dtype=object)
SEP_P = np.array([0.45, 0.1, 0.1, 0.1, 0.1, 0.15])
BOILERPLATE = (
    "<nav><p>home about contact sitemap</p></nav>"
    "<script>var t=1;function f(){return t}</script>"
)
DUP_MIN_TOKENS = 150


@dataclass
class Pages:
    frame: pd.DataFrame  # doc_id, url, warc_ts, html, text, lang
    planted: list[tuple[int, int]]  # (original doc_id, duplicate doc_id)


def vocabulary(rng: np.random.Generator) -> list[str]:
    """Head words first, then syllable words in a seeded order: index = Zipf rank."""
    words = list(HEAD_WORDS)
    seen = set(words) | set(CS_WORDS) | set(DE_WORDS)
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n_syl))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def pages(seed: int, n_docs: int, n_dups: int) -> Pages:
    """``n_docs`` pages, of which the last ``n_dups`` are planted near-duplicates."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary(rng), dtype=object)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-ZIPF_S)
    cdf /= cdf[-1]
    n_orig = n_docs - n_dups
    doclen = np.clip(np.exp(np.log(200.0) + 0.6 * rng.standard_normal(n_orig)), 5, 5000)
    doclen = doclen.astype(np.int64)
    lang = rng.choice(np.array(["en", "cs", "de"], dtype=object), n_orig, p=[0.9, 0.08, 0.02])

    texts, titles = [], []
    for i in range(n_orig):
        n = int(doclen[i])
        words = vocab[np.searchsorted(cdf, rng.random(n))]
        if lang[i] != "en":
            extra = CS_WORDS if lang[i] == "cs" else DE_WORDS
            dia = rng.random(n) < 0.03
            words[dia] = np.array(extra, dtype=object)[rng.integers(0, len(extra), int(dia.sum()))]
        words[rng.random(n) < 0.005] = '"'
        seps = np.full(n, " ", dtype=object)
        pos = 0
        while pos < n:  # sentences of 6..14 tokens, capitalised first word
            end = min(n, pos + int(rng.integers(6, 15)))
            if words[pos][:1].isascii():
                words[pos] = words[pos].capitalize()
            seps[end - 1] = SEPARATORS[rng.choice(len(SEPARATORS), p=SEP_P)]
            pos = end
        pieces = words + seps
        paras = ["".join(pieces[j : j + 60]).rstrip() for j in range(0, n, 60)]
        titles.append(" ".join(words[: min(5, n)]))
        texts.append([titles[-1]] + paras)

    planted = []
    long_docs = np.nonzero(doclen >= DUP_MIN_TOKENS)[0]
    src = rng.choice(long_docs, n_dups, replace=False) if n_dups else []
    for j, s in enumerate(src):
        parts = list(texts[s])
        parts[-1] = parts[-1] + " " + vocab[int(rng.integers(100, VOCAB_SIZE))]
        texts.append(parts)
        titles.append(titles[s])
        lang = np.append(lang, lang[s])
        planted.append((int(s), n_orig + j))

    boiler = rng.random(n_docs) < 0.10
    site = (1000 * rng.random(n_docs) ** 3).astype(np.int64)
    urls = [f"https://example-{site[i]:04d}.test/page/{i:06d}" for i in range(n_docs)]
    walk = np.cumsum(rng.integers(0, 86400, n_docs))
    htmls = []
    for i, parts in enumerate(texts):
        body = "".join(f"<p>{p}</p>" for p in parts[1:])
        html = (
            f"<html><head><title>{parts[0]}</title></head>"
            f"<body>{BOILERPLATE if boiler[i] else ''}{body}</body></html>"
        )
        htmls.append(html.encode("utf-8"))
    frame = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "url": urls,
            "warc_ts": pd.Timestamp(datetime(2024, 1, 1)) + pd.to_timedelta(walk, unit="s"),
            "html": htmls,
            "text": ["\n".join(p) for p in texts],
            "lang": list(lang),
        }
    )
    return Pages(frame, planted)


def zipf_draws(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """``size`` indices into ``range(n_items)``, Zipf(s) by index."""
    w = np.arange(1, n_items + 1, dtype=np.float64) ** -s
    return np.searchsorted(np.cumsum(w) / w.sum(), rng.random(size))


def queries(seed: int, terms_by_df: list[str], n: int, stream: int) -> list[str]:
    """``n`` queries of 1-4 terms; terms Zipf(1.0) over ``terms_by_df`` (most frequent first)."""
    rng = np.random.default_rng([seed, stream])
    lens = rng.choice([1, 2, 3, 4], n, p=[0.35, 0.35, 0.2, 0.1])
    idx = zipf_draws(rng, len(terms_by_df), int(lens.sum()), 1.0)
    out, k = [], 0
    for m in lens:
        out.append(" ".join(terms_by_df[i] for i in idx[k : k + m]))
        k += m
    return out


def phrases(seed: int, texts, tokenize, n: int, stream: int) -> list[str]:
    """``n`` 2-3 token phrases cut from random documents, so each matches at least once.

    Only the drawn documents are tokenized (with ``tokenize``)."""
    rng = np.random.default_rng([seed, stream])
    texts = list(texts)
    out = []
    while len(out) < n:
        toks = tokenize(texts[int(rng.integers(len(texts)))])
        if len(toks) < 3:
            continue
        m = int(rng.integers(2, 4))
        p = int(rng.integers(0, len(toks) - m + 1))
        out.append(" ".join(toks[p : p + m]))
    return out
