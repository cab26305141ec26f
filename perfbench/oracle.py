"""Independent correctness checks.

Every expected result here is computed from the raw generated text with
this module's own tokenizer and arithmetic; nothing is imported from the
program except the registry's DuckDB SQL for ``simhash`` (the program's
stated oracle for that operator).  Each ``check_*`` function returns
``None`` when the program's output is right and a short message when it
is not.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPLIT = re.compile(r"[,\.\s;\?\!:]+")
K1, B = 1.2, 0.75
TOL = 1e-9
M31 = 2_147_483_647


def tokens(text: str) -> list[str]:
    """Index tokenizer: split on ``[,.\\s;?!:]+``, lowercase, drop empties and ``"``."""
    return [t for t in SPLIT.split(text.lower()) if t and t != '"']


def shingle_tokens(text: str) -> list[str]:
    """Dedup tokenizer: the same split, but only empty strings are dropped."""
    return [t for t in SPLIT.split(text.lower()) if t]


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def doc_freq(texts) -> dict[str, int]:
    """Document frequency of every token, one document at a time."""
    df: dict[str, int] = {}
    for text in texts:
        for t in set(tokens(text)):
            df[t] = df.get(t, 0) + 1
    return df


class Corpus:
    """Postings, positions and BM25 statistics of a generated pages frame."""

    def __init__(self, frame):
        self.texts = frame["text"].tolist()
        self.urls = frame["url"].tolist()
        self.lang = np.asarray(frame["lang"].tolist(), dtype=object)
        if not np.array_equal(frame["doc_id"].to_numpy(), np.arange(len(frame))):
            raise ValueError("doc ids must be dense from 0")
        self.toks = [tokens(t) for t in self.texts]
        self.n_docs = len(self.toks)
        self.dl = np.array([len(t) for t in self.toks], dtype=np.int64)
        self.avgdl = float(self.dl.mean())
        self.positions: dict[str, dict[int, list[int]]] = {}
        for d, toks in enumerate(self.toks):
            for p, t in enumerate(toks):
                self.positions.setdefault(t, {}).setdefault(d, []).append(p)
        self.postings = {
            t: (np.fromiter(by_doc, np.int64), np.fromiter(map(len, by_doc.values()), np.int64))
            for t, by_doc in self.positions.items()
        }
        self.idf = {t: idf(self.n_docs, len(p[0])) for t, p in self.postings.items()}
        self._topk: dict[tuple, list] = {}

    def terms_by_df(self) -> list[str]:
        return sorted(self.postings, key=lambda t: (-len(self.postings[t][0]), t))

    def scores(self, query: str) -> np.ndarray:
        """Dense BM25 score per doc id; NaN where no query term occurs."""
        acc = np.full(self.n_docs, np.nan)
        for t in dict.fromkeys(tokens(query)):
            if t not in self.postings:
                continue
            docs, tf = self.postings[t]
            tf = tf.astype(np.float64)
            norm = K1 * (1.0 - B + B * (self.dl[docs] / self.avgdl))
            part = self.idf[t] * (tf * (K1 + 1.0)) / (tf + norm)
            acc[docs] = np.where(np.isnan(acc[docs]), 0.0, acc[docs]) + part
        return acc

    def topk(self, query: str, k: int, langs=None) -> list[tuple[int, float]]:
        """Exhaustive top-k: score descending, then doc id ascending."""
        key = (query, k, tuple(langs) if langs is not None else None)
        if key not in self._topk:
            self._topk[key] = self._exhaustive(query, k, langs)
        return self._topk[key]

    def _exhaustive(self, query: str, k: int, langs) -> list[tuple[int, float]]:
        s = self.scores(query)
        ok = ~np.isnan(s)
        if langs is not None:
            ok &= np.isin(self.lang, list(langs))
        docs = np.nonzero(ok)[0]
        order = np.lexsort((docs, -s[docs]))[:k]
        return [(int(docs[i]), float(s[docs[i]])) for i in order]

    def boolean(self, must, should, must_not) -> set[tuple[int, int]]:
        def docs(t):
            return set(self.positions.get(t, {}))

        cand = set.intersection(*(docs(t) for t in must)) if must else set()
        if should:
            any_should = set().union(*(docs(t) for t in should))
            cand = cand & any_should if must else any_should
        for t in must_not:
            cand -= docs(t)
        return {
            (d, sum(len(self.positions.get(t, {}).get(d, ())) for t in set(must) | set(should)))
            for d in cand
        }

    def phrase_anchors(self, phrase: str) -> dict[int, list[int]]:
        """doc -> positions where the phrase's token sequence starts."""
        seq = tokens(phrase)
        out: dict[int, list[int]] = {}
        if not seq or seq[0] not in self.positions:
            return out
        for d, starts in self.positions[seq[0]].items():
            toks = self.toks[d]
            hits = [p for p in starts if toks[p : p + len(seq)] == seq]
            if hits:
                out[d] = hits
        return out

    def kwic(self, query: str, width: int) -> list[tuple]:
        n = len(tokens(query))
        rows = []
        for d, anchors in self.phrase_anchors(query).items():
            toks = self.toks[d]
            for p in anchors:
                rows.append(
                    (d, p, " ".join(toks[max(0, p - width) : p]), " ".join(toks[p : p + n]),
                     " ".join(toks[p + n : p + n + width]))
                )
        return sorted(rows)


# ------------------------------------------------------------ result checks


def check_topk(corpus: Corpus, query: str, k: int, got, langs=None) -> str | None:
    """``got``: [(doc_id, score)] in the program's order."""
    want = corpus.topk(query, k, langs)
    if len(got) != len(want):
        return f"{query!r}: {len(got)} results, expected {len(want)}"
    s = corpus.scores(query)
    prev = None
    for i, ((d, sc), (_wd, ws)) in enumerate(zip(got, want)):
        d = int(d)
        true = s[d] if 0 <= d < corpus.n_docs else np.nan
        if langs is not None and corpus.lang[d] not in langs:
            return f"{query!r}: doc {d} outside the facet"
        if np.isnan(true) or abs(true - ws) > TOL * max(1.0, abs(ws)):
            return f"{query!r}: rank {i} doc {d} scores {true}, expected {ws}"
        if abs(sc - true) > TOL * max(1.0, abs(true)):
            return f"{query!r}: doc {d} reported score {sc}, true {true}"
        # order by the reported scores (ties: doc id ascending); true scores may
        # differ from them in the last bits, so they are compared with TOL
        if prev is not None and (
            sc > prev[1] or (sc == prev[1] and d <= prev[0])
            or prev[2] < true - TOL * max(1.0, abs(true))
        ):
            return f"{query!r}: rank {i} out of order"
        prev = (d, sc, true)
    if len({int(d) for d, _ in got}) != len(got):
        return f"{query!r}: duplicate docs"
    return None


def check_equal(what: str, want, got) -> str | None:
    if want == got:
        return None
    if isinstance(want, (set, frozenset)):
        return f"{what}: {len(want - got)} missing, {len(got - want)} unexpected"
    return f"{what}: differs from the independent result"


# ------------------------------------------------------------- index checks


def varints(buf: bytes) -> np.ndarray:
    """LEB128 stream -> uint64 values (written apart from the program's codec)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = np.zeros(len(ends), dtype=np.uint64)
    lengths = ends - starts + 1
    for j in range(int(lengths.max()) if len(lengths) else 0):
        m = lengths > j
        vals[m] |= (b[starts[m] + j] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
    return vals


def decode_segments(index_dir: str):
    """All posting blocks of an index -> per-posting arrays and per-block metadata."""
    files = sorted(glob.glob(os.path.join(index_dir, "segments", "bucket=*", "*.parquet")))
    cols = ["term_id", "doc_bucket", "first_doc", "last_doc", "n_docs", "max_score", "docs", "tfs", "dls"]
    t = pa.concat_tables([pq.read_table(f, columns=cols) for f in files])
    n = t.column("n_docs").to_numpy().astype(np.int64)
    blocks = {c: t.column(c).to_numpy() for c in cols[:6]}
    gaps = varints(b"".join(t.column("docs").to_pylist()))
    tfs = varints(b"".join(t.column("tfs").to_pylist())).astype(np.int64)
    dls = varints(b"".join(t.column("dls").to_pylist())).astype(np.int64)
    if not (len(gaps) == len(tfs) == len(dls) == int(n.sum())):
        raise ValueError("posting payload lengths disagree with n_docs")
    # delta decode restarting at each block: the first value of a block is absolute
    block_of = np.repeat(np.arange(len(n)), n)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    csum = np.cumsum(gaps.astype(np.int64))
    base = np.where(starts > 0, csum[np.maximum(starts - 1, 0)], 0)
    docs = csum - base[block_of]
    return blocks, block_of, docs, tfs, dls


def check_index(corpus: Corpus, index_dir: str, manifest, bucket_width: int) -> str | None:
    """Terms, docs and every posting block of a built index against the raw text."""
    terms = pq.read_table(os.path.join(index_dir, "terms")).to_pandas()
    want_df = {t: len(p[0]) for t, p in corpus.postings.items()}
    got_df = dict(zip(terms["term"], terms["df"].astype(int)))
    if got_df != want_df:
        return f"dictionary: {len(set(want_df) ^ set(got_df))} terms differ or df wrong"
    want_cf = {t: int(p[1].sum()) for t, p in corpus.postings.items()}
    if dict(zip(terms["term"], terms["cf"].astype(int))) != want_cf:
        return "dictionary: cf wrong"
    total = sum(want_df.values())
    if int(terms["df"].sum()) != manifest.postings_total or total != manifest.postings_total:
        return f"sum(df)={int(terms['df'].sum())}, postings_total={manifest.postings_total}, expected {total}"
    docs = pq.read_table(os.path.join(index_dir, "docs")).to_pandas().sort_values("doc_id")
    if (
        docs["doc_id"].tolist() != list(range(corpus.n_docs))
        or docs["doclen"].astype(int).tolist() != corpus.dl.tolist()
        or docs["url"].tolist() != corpus.urls
        or docs["lang"].tolist() != corpus.lang.tolist()
    ):
        return "docs table differs from the generated pages"

    blocks, block_of, d, tf, dl = decode_segments(index_dir)
    term_of_id = dict(zip(terms["term_id"].astype(int), terms["term"]))
    tid = blocks["term_id"][block_of]
    got = {}
    order = np.lexsort((d, tid))
    tid, d, tf, dl, block_of = tid[order], d[order], tf[order], dl[order], block_of[order]
    bounds = np.flatnonzero(np.diff(tid)) + 1
    for lo, hi in zip(np.concatenate(([0], bounds)), np.concatenate((bounds, [len(tid)]))):
        got[term_of_id[int(tid[lo])]] = (d[lo:hi], tf[lo:hi])
    if got.keys() != corpus.postings.keys():
        return "posting lists: term set differs"
    for t, (wd, wtf) in corpus.postings.items():
        gd, gtf = got[t]
        if not (np.array_equal(gd, wd) and np.array_equal(gtf, wtf)):
            return f"posting list of {t!r} differs"
    if not np.array_equal(dl, corpus.dl[d]):
        return "posting doc lengths differ"

    first = blocks["first_doc"][block_of]
    last = blocks["last_doc"][block_of]
    if ((d < first) | (d > last) | (d // bucket_width != blocks["doc_bucket"][block_of])).any():
        return "a posting lies outside its block's doc range or bucket"
    idf_of = np.array([corpus.idf[term_of_id[int(x)]] for x in blocks["term_id"]])
    tff = tf.astype(np.float64)
    score = idf_of[block_of] * tff * (K1 + 1.0) / (tff + K1 * (1.0 - B + B * dl / manifest.avgdl))
    bmax = np.full(len(blocks["max_score"]), -np.inf)
    np.maximum.at(bmax, block_of, score)
    if (bmax > blocks["max_score"] + TOL * np.maximum(1.0, np.abs(bmax))).any():
        return "a block's max_score is below one of its postings' scores"
    return None


# ------------------------------------------------------------- dedup checks


def _splitmix(i: int, seed: int = 42) -> int:
    z = (i + 0x9E3779B97F4A7C15 * (seed + 1)) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return (z ^ (z >> 31)) & 0xFFFFFFFFFFFFFFFF


class Dedup:
    """Exact shingle sets, MinHash-LSH candidates and Jaccard for a corpus.

    Parameters follow the operators' defaults: 3-token shingles, 24
    md5-seeded universal hashes over 2^31-1 in 6 bands of 4 rows, and a
    Jaccard threshold of 0.5 rounded to 6 places."""

    def __init__(self, texts: list[str], shingle_k=3, num_hashes=24, bands=6):
        self.sh = []
        for t in texts:
            toks = shingle_tokens(t)
            self.sh.append({" ".join(toks[i : i + shingle_k]) for i in range(len(toks) - shingle_k + 1)})
        a = np.array([(_splitmix(2 * i) % (M31 - 1)) + 1 for i in range(num_hashes)], np.int64)
        b = np.array([_splitmix(2 * i + 1) % M31 for i in range(num_hashes)], np.int64)
        rows = num_hashes // bands
        buckets: dict[tuple, list[int]] = {}
        for d, shs in enumerate(self.sh):
            if not shs:
                continue
            base = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % M31 for s in shs], np.int64)
            sig = ((a[:, None] * base[None, :] + b[:, None]) % M31).min(axis=1)
            for j in range(bands):
                key = "_".join(str(v) for v in sig[j * rows : (j + 1) * rows])
                buckets.setdefault((j, key), []).append(d)
        if max((len(v) for v in buckets.values()), default=0) > 256:
            raise ValueError("an LSH bucket exceeds the operator's 256-member cap")
        self.candidates = {
            (x, y) for m in buckets.values() for i, x in enumerate(m) for y in m[i + 1 :]
        }

    def jaccard(self, a: int, b: int) -> float:
        inter = len(self.sh[a] & self.sh[b])
        return inter / (len(self.sh[a]) + len(self.sh[b]) - inter)

    def pairs(self, threshold: float = 0.5) -> dict[tuple[int, int], float]:
        out = {}
        for a, b in self.candidates:
            j = round(self.jaccard(a, b), 6)
            if j >= threshold:
                out[(a, b)] = j
        return out


def check_pairs(dd: Dedup, got: list[tuple[int, int, float]], planted) -> str | None:
    """``lsh_jaccard_pipeline`` rows against exact Jaccard over the LSH candidates."""
    want = dd.pairs()
    gotd = {(int(a), int(b)): float(j) for a, b, j in got}
    if len(gotd) != len(got):
        return "duplicate pairs"
    for p in planted:
        if p not in gotd:
            return f"planted pair {p} not found"
    if gotd.keys() != want.keys():
        return f"pairs: {len(want.keys() - gotd.keys())} missing, {len(gotd.keys() - want.keys())} unexpected"
    for p, j in gotd.items():
        if abs(j - want[p]) > 1e-6:
            return f"pair {p}: jaccard {j}, exact {want[p]}"
    return None


def simhash_sql() -> str:
    """The registry's DuckDB SQL for ``simhash`` over a ``documents`` table."""
    from gloomy_spark.entry_queries import q_simhash

    return q_simhash()[1]


def simhash_expected(frame) -> dict[int, int]:
    import duckdb

    con = duckdb.connect()
    try:
        documents = frame[["doc_id", "text"]]  # noqa: F841 - read by name in the SQL
        con.register("documents", documents)
        rows = con.execute(simhash_sql()).fetchall()
    finally:
        con.close()
    return {int(d): int(h) for d, h in rows}
