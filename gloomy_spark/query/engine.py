"""Query engine: term search (exact / prefix / restricted-regex) + BM25 top-k.

Reference parity (service/search.go:174-200 dispatch; index.go:291-306
first-token lookup; README query dialect) re-expressed over columnar
tables, plus the BM25/block-max layer mandated by BASELINE.json.

Distributed scoring plan (bm25_topk, bm25_topk_filtered, phrase_match,
bm25_topk_batch):
    segments.where(term_id IN query terms)       ── parquet pushdown; idf
      [∪ tagged allowed-doc rows (facets)]          attached in python
      repartition(n, doc_bucket) | coalesce(1)   ── all of a bucket's rows
                                                    in one task; n from the
                                                    query's posting volume
      mapInArrow(_per_bucket_arrow)              ── per bucket: one bulk
                                                    decode; BM25: one top-k
                                                    per distinct term set;
                                                    one python call per task
      orderBy(score desc, doc_id asc) LIMIT k    ── TakeOrderedAndProject
      | row_number() per query_id <= k           ── batch: WindowGroupLimit

Every posting decode goes through ``decode_posting_blocks_bulk`` (one
call per bucket or Arrow batch, never one per block). The three BM25
operators share one bucket kernel, ``_bucket_scorer``: it decodes and
scores every shipped block of the bucket, drops non-allowed docs for
faceted search (the allowed docs ride in the blocks' exchange), and sums
each doc's term scores in sorted term_id order, so a query gets the same
score bits from all three. The kernel is exhaustive over the blocks it
receives; block ``max_score`` stays in the index for pruning blocks at
the scan. Every BM25 scorer, driver-local ``bm25_serve`` included,
shares the numerics in ``query/kernel.py``: the term score, per-doc
accumulation and exact top-k.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..codecs import decode_position_lists, decode_posting_blocks_bulk
from ..config import EngineConfig
from ..index_store import IndexStore, Manifest
from ..textnorm import tokenize
from .kernel import accumulate, bm25_scores, topk
from .regexparser import regex_to_prefixes

TOPK_SCHEMA = "doc_id long, score double"
_SCORED_SCHEMA = "query_id int, " + TOPK_SCHEMA
_SCORED_ARROW = pa.schema(
    [("query_id", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())]
)
_NO_POSTINGS = (np.empty(0, np.int64), np.empty(0, np.float64))


def _in_longs(col: str, vals) -> "F.Column":
    """``col IN (...)`` over integer values as ONE py4j round-trip.
    ``Column.isin`` builds a java literal per element (~1 ms each — 0.8 s
    of driver time for the ~1000 distinct terms of a 1000-query batch,
    profiled); parsing one SQL string is microseconds. Small lists keep
    isin (the string build isn't free either, and plans stay readable)."""
    vs = [int(v) for v in vals]
    if not vs:
        return F.lit(False)
    if len(vs) <= 64:
        return F.col(col).isin(vs)
    return F.expr(f"{_quote_ident(col)} IN ({','.join(map(str, vs))})")


def _quote_ident(col: str) -> str:
    """Backtick-quote a column identifier for interpolation into F.expr.
    Values were always escaped; the identifier must be too, otherwise a
    caller-supplied column name (e.g. an HTTP facet attr) becomes an SQL
    injection point into the serving session once the >64-value path
    switches from Column.isin to a parsed expression."""
    return "`" + col.replace("`", "``") + "`"


def _in_strings(col: str, vals) -> "F.Column":
    """String variant of :func:`_in_longs` (values backslash-escaped)."""
    vs = [str(v) for v in vals]
    if not vs:
        return F.lit(False)
    if len(vs) <= 64:
        return F.col(col).isin(vs)
    quoted = ",".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vs
    )
    return F.expr(f"{_quote_ident(col)} IN ({quoted})")


@dataclass
class _Bm25Params:
    k1: float
    b: float
    avgdl: float
    k: int


def _term_entry(r) -> tuple[int, float, int, int]:
    """One dictionary row as the (term_id, idf, df, cf) tuple of the term map."""
    return int(r["term_id"]), float(r["idf"]), int(r["df"]), int(r["cf"])


def _decode_blocks(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every posting block in ``pdf`` (rows in block order) decoded in one
    bulk pass → (doc_ids, tfs, dls); block i is the slice
    ``offsets[i]:offsets[i+1]`` with ``offsets = [0, cumsum(n_docs)]``.
    One call per frame instead of one per block: a per-block decode pays
    a fixed numpy dispatch cost that dominates blocks of a few postings."""
    return decode_posting_blocks_bulk(
        pdf["docs"].tolist(), pdf["tfs"].tolist(), pdf["dls"].tolist(),
        pdf["n_docs"].to_numpy(np.int64),
    )


def _bucket_scorer(
    p: _Bm25Params, idf_by_tid: dict[int, float],
    qids_by_tset: dict[tuple[int, ...], list[int]], facet: bool = False,
):
    """The BM25 kernel for one doc_bucket, shared by bm25_topk,
    bm25_topk_filtered and bm25_topk_batch → (query_id, doc_id, score)
    frame holding each query's exact top-k within the bucket.

    The bucket's blocks are stable-sorted by term_id, bulk-decoded and
    scored once, so every term is one contiguous (doc, score) span. With
    ``facet``, rows tagged ``n_docs = 0`` carry the allowed doc ids (in
    first_doc), and postings of any other doc are dropped after decode.
    Each distinct sorted term set then sums its terms' spans in
    sorted-term order (absent terms as empty spans) and takes one top-k
    shared by all its queries. Every shipped block is decoded; block
    max_score bounds can only prune blocks before they are shipped."""
    groups = [(tset, np.asarray(qids, np.int32)) for tset, qids in qids_by_tset.items()]
    empty = pd.DataFrame({"query_id": [], "doc_id": [], "score": []})

    def score(blocks: pd.DataFrame) -> pd.DataFrame:
        if facet:
            tagged = blocks["n_docs"].to_numpy() == 0
            allow = blocks["first_doc"].to_numpy(np.int64)[tagged]
            blocks = blocks[~tagged]
            if not len(allow) or not len(blocks):
                return empty
        tids = blocks["term_id"].to_numpy(np.int64)
        order = np.argsort(tids, kind="stable")
        blocks, tids = blocks.iloc[order], tids[order]
        n = blocks["n_docs"].to_numpy(np.int64)
        d, tf, dl = _decode_blocks(blocks)
        idf = np.repeat(blocks["term_id"].map(idf_by_tid).to_numpy(np.float64), n)
        s = bm25_scores(tf, dl, idf, p.k1, p.b, p.avgdl)
        uniq, first = np.unique(tids, return_index=True)
        cuts = np.concatenate(([0], np.cumsum(n)))[np.append(first, len(tids))]
        if facet:
            # not assume_unique: d holds a doc once per query term
            keep = np.isin(d, allow)
            d, s = d[keep], s[keep]
            cuts = np.concatenate(([0], np.cumsum(keep)))[cuts]
        cuts = cuts.tolist()
        spans = {
            t: (d[a:b], s[a:b]) for t, a, b in zip(uniq.tolist(), cuts[:-1], cuts[1:])
        }
        out_q, out_d, out_s = [], [], []
        for tset, qids in groups:
            parts = [spans.get(t, _NO_POSTINGS) for t in tset]
            td, ts = topk(*accumulate([x[0] for x in parts], [x[1] for x in parts]), p.k)
            if len(td):
                out_q.append(np.repeat(qids, len(td)))
                out_d.append(np.tile(td, len(qids)))
                out_s.append(np.tile(ts, len(qids)))
        if not out_q:
            return empty
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        })

    return score


def _per_bucket_arrow(fn, arrow_schema):
    """mapInArrow driver: one hash-partitioned task runs ``fn`` over
    every doc_bucket group of its partition in a single python call. The
    grouped pandas-UDF shape paid a Sort below its exchange plus one
    grouped-protocol round trip per bucket (~100 buckets/query on the
    bench index — measured ~0.7 s of a 0.85 s single-query job in that
    stage); here the rows arrive as one Arrow stream per task and bucket
    grouping is a pandas groupby, which keeps each bucket's rows in
    arrival order. The output is cast to ``arrow_schema`` explicitly."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        pdf = pa.Table.from_batches(bl).to_pandas()
        outs = [r for _, g in pdf.groupby("doc_bucket", sort=False) if len(r := fn(g))]
        if outs:
            yield pa.RecordBatch.from_pandas(
                pd.concat(outs, ignore_index=True),
                schema=arrow_schema, preserve_index=False,
            )

    return run


def _merge_topk(per_bucket: DataFrame, k: int) -> DataFrame:
    """A single query's global top-k from its per-bucket rows (query_id
    is always 0): score desc, doc_id asc, as one TakeOrderedAndProject."""
    return per_bucket.drop("query_id").orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


class SearchIndex:
    """Open, query-ready index. Long-lived (unlike the reference, which
    reloads per request — service/search.go:176-181): segments and terms
    DataFrames are cached in the session.

    Every operator resolves its terms through ``_lookup`` (term →
    term_id, idf, df, cf). After ``cache()`` that reads the driver-resident
    term map, so resolution runs no Spark job; on an uncached index it is
    one dictionary collect per call."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from ..session import ship_package

        ship_package(spark)
        # term → (term_id, idf, df, cf), loaded by cache(); read only by _lookup
        self._term_map: dict[str, tuple[int, float, int, int]] | None = None
        self._n_doc_buckets: int | None = None
        self._total_cf: int | None = None  # corpus token count (Σ cf)
        # decoded-postings LRU for the driver-local serving fast path (the
        # analog of the reference preloading col0 into RAM, index.go:502-504).
        # Served from ThreadingHTTPServer threads, so all lookup/insert/
        # eviction happens under _posting_cache_lock; the postings counter
        # is recomputed from the dict (never incrementally drifted).
        self._posting_cache: "OrderedDict[int, tuple[np.ndarray, np.ndarray]]" = (
            OrderedDict()
        )
        self._posting_cache_lock = threading.Lock()
        # per-doc attrs LRU for the /bm25?attrs= serving fast path
        self._doc_attr_cache: dict[int, dict] = {}
        self._doc_attr_cache_lock = threading.Lock()
        self.spark = spark
        self.store = IndexStore(index_dir)
        self.manifest = Manifest.load(index_dir)
        self.cfg = EngineConfig.from_json(
            open(f"{index_dir}/config.json").read()
        )
        self.terms = spark.read.parquet(self.store.terms_path)
        from ..session import ensure_min_partitions

        # a small index writes few (large) segment files since the r6
        # chunk-size floor, which would serialize the decode paths
        # (postings/kwic/boolean) on a handful of tasks; redistribute to
        # the cluster's slots when the scan is that narrow. Term filters
        # still push into the parquet scan BELOW the added exchange, and
        # at scale (files >> slots) this is a no-op. Measured on the
        # bench index: head-term kwic 1.2-1.8 s -> 0.7 s, postings decode
        # 0.6 -> 0.5 s.
        self.segments = ensure_min_partitions(
            spark.read.parquet(f"{self.store.segments_path}/bucket=*")
        )
        self.docs = spark.read.parquet(self.store.docs_path)

    # driver-side dictionary cap: the reference preloads col0 into memory
    # (index.go:502-504); our analog is a driver/broadcast term map, only
    # viable while the vocabulary fits comfortably on the driver
    _TERM_MAP_LIMIT = 5_000_000
    # floor on (estimated) postings per scorer task — sizes the scorer
    # shuffle from the query's dictionary-known posting volume instead of
    # a fixed partition count (see bm25_topk)
    _SCORER_MIN_POSTINGS = 16384

    def _scorer_parts(self, est_postings: int) -> int:
        """Partition count for a per-bucket python scorer shuffle:
        data-derived from the query's posting volume, Σ df of its terms
        (guide §2.2 — near-empty python tasks cost ~90 ms each), capped
        by bucket count and shuffle width."""
        nb = self._n_doc_buckets
        sp = int(self.cfg.shuffle_partitions)
        cap = max(1, min(sp, nb)) if nb else sp
        return max(1, min(cap, -(-est_postings // self._SCORER_MIN_POSTINGS)))

    def _per_bucket(
        self, rows: DataFrame, est_postings: int, fn, arrow_schema, schema: str
    ) -> DataFrame:
        """The per-bucket plan shared by the distributed scorers:
        hash-repartition ``rows`` by doc_bucket (every row of a bucket
        lands in one task; no Sort) and run ``fn`` over each bucket
        through one mapInArrow call per task (_per_bucket_arrow).
        Partition count is DATA-derived (guide §2.2, _scorer_parts): tiny
        queries run 1-2 python tasks while head queries fan out to the
        full shuffle width — a fixed count of near-empty python tasks
        cost ~0.45 s/query at 64 partitions vs ~0.25 s at the derived
        width on the bench index. One partition trivially co-locates
        every bucket, so a narrow coalesce replaces the exchange outright
        (guide §2.4 "remove shuffles") — repartition(1) would still
        shuffle-write and -read every row."""
        n_parts = self._scorer_parts(est_postings)
        rows = (
            rows.coalesce(1)
            if n_parts == 1
            else rows.repartition(n_parts, "doc_bucket")
        )
        return rows.mapInArrow(_per_bucket_arrow(fn, arrow_schema), schema)

    def cache(self) -> "SearchIndex":
        self.terms.cache().count()
        self.segments.cache().count()
        # doc-bucket count caps the scorer shuffle width (_scorer_parts);
        # one tiny agg over block METADATA rows, amortized across the
        # cached index's lifetime
        self._n_doc_buckets = int(
            self.segments.select(
                F.countDistinct("doc_bucket").alias("nb")
            ).collect()[0]["nb"]
        )
        if self.manifest.n_terms <= self._TERM_MAP_LIMIT:
            self._term_map = {r["term"]: _term_entry(r) for r in self.terms.collect()}
            self._total_cf = sum(e[3] for e in self._term_map.values())
        return self

    def _lookup(self, terms) -> dict[str, tuple[int, float, int, int]]:
        """The read path's one term resolution: term → (term_id, idf, df,
        cf) for the indexed terms among ``terms``, in input order (absent
        terms are left out). Reads the driver-resident term map of a
        cached index, so it runs no Spark job; otherwise one pushed-down
        dictionary collect."""
        uniq = list(dict.fromkeys(terms))
        tm = self._term_map
        if tm is None:
            if not uniq:
                return {}
            rows = self.terms.where(_in_strings("term", uniq)).collect()
            tm = {r["term"]: _term_entry(r) for r in rows}
        return {t: tm[t] for t in uniq if t in tm}

    # ------------------------------------------------------ term search --
    def search_exact(self, term: str) -> DataFrame:
        """Q1 analog: dictionary row(s) for an exact term."""
        return self.terms.where(F.col("term") == term.lower()).select(
            "term", "term_id", "df", "cf"
        )

    def search_prefix(self, prefix: str) -> DataFrame:
        """Q2 analog: all terms with the given prefix (input may carry the
        trailing '*' of the CLI dialect)."""
        p = prefix[:-1] if prefix.endswith("*") else prefix
        return self.terms.where(F.col("term").startswith(p.lower())).select(
            "term", "term_id", "df", "cf"
        )

    def search_regexp(self, pattern: str) -> DataFrame:
        """Q3/Q4 analog: compile the restricted regex to literal/prefix
        alternatives, union the narrowed candidates, post-filter with the
        full anchored regex (service/search.go:136-172 semantics)."""
        return (
            self.search_regexp_candidates(pattern)
            .where(F.col("term").rlike(f"^{pattern}$"))
            .select("term", "term_id", "df", "cf")
        )

    def search_ngram_regexp(self, patterns: list[str]) -> DataFrame:
        """Multi-position regex search over an n-gram index (reference
        searchByRegexp semantics, service/search.go:136-172): the FIRST
        pattern narrows the candidate set via the prefix compiler; every
        position is then post-filtered with its own anchored regex."""
        first = self.search_regexp_candidates(patterns[0])
        cond = F.lit(True)
        for i, p in enumerate(patterns):
            cond = cond & F.split(F.col("term"), " ").getItem(i).rlike(f"^{p}$")
        return first.where(F.size(F.split(F.col("term"), " ")) == len(patterns)).where(
            cond
        ).select("term", "term_id", "df", "cf")

    def search_regexp_candidates(self, pattern: str) -> DataFrame:
        """Prefix-compiler narrowing only (no post-filter) — the candidate
        set the reference unions before filtering."""
        alts = regex_to_prefixes(pattern)
        exact = [a for a in alts if not a.endswith("*")]
        prefixes = [a[:-1] for a in alts if a.endswith("*")]
        cond = F.lit(False)
        if exact:
            # n-gram terms: first token equality/prefix (space-joined)
            for e in exact:
                el = e.lower()
                cond = cond | (F.col("term") == el) | F.col("term").startswith(el + " ")
        for p in prefixes:
            cond = cond | F.col("term").startswith(p.lower())
        return self.terms.where(cond)

    def with_doc_metadata(self, hits: DataFrame, attrs: list[str] | None = None) -> DataFrame:
        """Q11 metadata decode: broadcast-join the docs dimension onto a
        hits DataFrame carrying doc_id (url/lang/doclen or chosen attrs)."""
        cols = ["doc_id"] + (attrs or ["url", "lang", "doclen"])
        dim = self.docs.select(*[c for c in cols if c in self.docs.columns])
        return hits.join(F.broadcast(dim), "doc_id", "left")

    _DOC_ATTR_CACHE_MAX = 100_000
    # term_attr_counts fallback: max summed df of the requested page's
    # terms for which broadcasting the postings side is allowed (~rows;
    # 2M posting rows ≈ tens of MB — well under a sane broadcast bound).
    # Above this the join shuffles instead.
    _ATTR_COUNT_BROADCAST_MAX_DF = 2_000_000

    def doc_attrs(
        self, doc_ids: list[int], attrs: list[str] | None = None
    ) -> dict[int, dict]:
        """Driver-side Q11 for the serving fast path: metadata for a
        handful of doc_ids without a full Spark join job. Cache misses cost
        ONE pushed-down docs scan (doc_id ∈ PushedFilters — at 10¹² docs
        this touches only the row groups holding those ids); hits are free.
        Whole rows are cached so any later attr set reuses them. Used by
        SearchService./bm25?attrs=… after bm25_serve. Thread-safe."""
        ids = [int(d) for d in doc_ids]
        cols = [
            c for c in (attrs or ["url", "lang", "doclen"])
            if c in self.docs.columns
        ]
        # The local `got` dict is the source of truth for THIS call: cache
        # hits are captured at check time and merged with the freshly
        # fetched rows, so concurrent eviction (cache at its cap, or more
        # ids than _DOC_ATTR_CACHE_MAX in one call) can never turn an
        # existing doc into {} attrs. The cache is an optimization only —
        # same contract as bm25_serve's posting cache.
        got: dict[int, dict] = {}
        with self._doc_attr_cache_lock:
            for d in ids:
                if d in self._doc_attr_cache:
                    got[d] = self._doc_attr_cache[d]
        missing = [d for d in ids if d not in got]
        if missing:
            rows = self.docs.where(_in_longs("doc_id", missing)).collect()
            fetched = {int(r["doc_id"]): r.asDict() for r in rows}
            for d in missing:
                # absent docs resolve as {} so callers see a stable shape
                got[d] = fetched.get(d, {})
            with self._doc_attr_cache_lock:
                for d in missing:
                    self._doc_attr_cache.setdefault(d, got[d])
                while len(self._doc_attr_cache) > self._DOC_ATTR_CACHE_MAX:
                    del self._doc_attr_cache[next(iter(self._doc_attr_cache))]
        return {d: {c: row.get(c) for c in cols} for d, row in got.items()}

    def term_attr_counts(self, terms: list[str], attrs: list[str]) -> DataFrame:
        """Per-(term, attr-values) occurrence counts — the reference's
        search-result Args (service/search.go:72-83, builder.go:130-139):
        every n-gram result row carries the struct/metadata attr values it
        occurred under, with counts grouped by (ngram, args).

        Spark shape: the matched terms' postings (term_id-pushed-down
        segment scan, bulk-decoded) joined to the docs dimension's attr
        columns, then a partial-agg groupBy. The postings side of a search
        result is the small side, so it broadcasts; the dim scan is pruned
        to (doc_id + attrs). For head terms at 10¹² docs this is
        O(postings of term) — the reference pays the same cost at BUILD
        time by materializing per-(ngram, args) counts; build with
        ``attr_rollup_cols=[…]`` to get the same here — when the index
        carries an attr_rollup table covering the requested attrs, this
        answers from a term-pushed-down scan of it, O(result) even for
        head terms (used automatically below)."""
        import os

        lowered = [t.lower() for t in dict.fromkeys(terms)]
        roll_path = self.store.attr_rollup_path
        if os.path.exists(os.path.join(roll_path, "_SUCCESS")):
            roll = self.spark.read.parquet(roll_path)
            cols = [c for c in attrs if c in roll.columns]
            if cols and all(c in roll.columns for c in attrs if c in self.docs.columns):
                return (
                    roll.where(_in_strings("term", lowered))
                    # re-aggregate: the rollup may carry MORE attr columns
                    # than this request (e.g. built with [lang, url],
                    # queried with [lang])
                    .groupBy("term", *cols)
                    .agg(F.sum("count").cast("long").alias("count"))
                )
        cols = [c for c in attrs if c in self.docs.columns]
        posts = self.postings_multi(lowered).select("term", "doc_id", "tf")
        dim = self.docs.select("doc_id", *cols)
        # broadcast is only safe while the postings side is small; a head
        # term in the requested page (no rollup covering it) can carry
        # O(corpus) postings, which must NOT be broadcast. df is free from
        # the dictionary, so guard on it and fall back to a shuffle join.
        total_df = sum(df for _, _, df, _ in self._lookup(lowered).values())
        if total_df <= self._ATTR_COUNT_BROADCAST_MAX_DF:
            posts = F.broadcast(posts)
        return (
            posts.join(dim, "doc_id")
            .groupBy("term", *cols)
            .agg(F.sum("tf").cast("long").alias("count"))
        )

    def export_ngrams_tsv(self, path: str, min_freq: int = 1) -> None:
        """S8 analog: dump (term, cf) as TSV (extras.ExtractUniqueNgrams)."""
        (
            self.terms.where(F.col("cf") >= min_freq)
            .select("term", "cf")
            .write.mode("overwrite")
            .option("sep", "\t")
            .csv(path)
        )

    def slice(self, df: DataFrame, offset: int, limit: int) -> DataFrame:
        """Q10 pagination: deterministic lexicographic order + offset/limit.

        offset+limit push down to the sort (CollectLimit / TakeOrdered) —
        no single-partition window Exchange, so paging a 10⁹-term result
        never materializes a global sort."""
        return df.orderBy("term").offset(offset).limit(limit)

    def term_search(
        self, q: str, qtype: str, offset: int, limit: int, attrs: list[str]
    ) -> list[dict]:
        """The term-search query dialect (reference service/search.go:174-200
        dispatch) → one page of dictionary rows sorted by term. ``qtype``
        "regexp" takes one anchored pattern, or with spaces one pattern
        PER n-gram position (searchByRegexp, search.go:137-158); "prefix"
        or a trailing ``*`` is a prefix search; anything else is exact.
        With ``attrs`` each row carries ``args``, its per-attr-values
        occurrence counts (search-result Args, search.go:72-83), computed
        for the returned page only, so the postings side stays small."""
        if qtype == "regexp":
            pats = q.split(" ")
            res = (
                self.search_ngram_regexp(pats)
                if len(pats) > 1
                else self.search_regexp(q)
            )
        elif qtype == "prefix" or q.endswith("*"):
            res = self.search_prefix(q)
        else:
            res = self.search_exact(q)
        rows = [r.asDict() for r in self.slice(res, offset, limit).collect()]
        if attrs and rows:
            by_term: dict[str, list] = {}
            counts = self.term_attr_counts([row["term"] for row in rows], attrs)
            for r in counts.collect():
                d = r.asDict()
                by_term.setdefault(d.pop("term"), []).append(d)
            for row in rows:
                row["args"] = by_term.get(row["term"], [])
        return rows

    # -------------------------------------------------------- postings --
    def postings(self, term: str) -> DataFrame:
        """Decoded posting list of one term: (doc_id, tf, dl)."""
        return self.postings_multi([term.lower()]).select("doc_id", "tf", "dl")

    def postings_multi(self, terms: list[str]) -> DataFrame:
        """Decoded postings of MANY terms in one pushed-down scan:
        (term, doc_id, tf, dl). Terms missing from the dictionary emit no
        rows (they may still live in uncompacted streaming runs — the NRT
        merger unions those in). One Spark scan total, vs one scan + one
        driver round-trip PER TERM with repeated `postings()` calls."""
        term_of = {e[0]: t for t, e in self._lookup(terms).items()}
        if not term_of:
            return self.spark.createDataFrame(
                [], "term string, doc_id long, tf int, dl int"
            )
        segs = self.segments.where(
            _in_longs("term_id", term_of)
        ).select("term_id", "n_docs", "docs", "tfs", "dls")

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                d, tf, dl = _decode_blocks(pdf)
                term = np.repeat(
                    pdf["term_id"].map(term_of).to_numpy(),
                    pdf["n_docs"].to_numpy(np.int64),
                )
                yield pd.DataFrame(
                    {
                        "term": term,
                        "doc_id": d,
                        "tf": tf.astype(np.int32),
                        "dl": dl.astype(np.int32),
                    }
                )

        return segs.mapInPandas(decode, "term string, doc_id long, tf int, dl int")

    def postings_positions(self, term: str) -> DataFrame:
        """Posting list with decoded positions: (doc_id, tf, positions)."""
        if not self.cfg.store_positions:
            # fail loud and early: without this the scan raises a cryptic
            # missing-column AnalysisException (pos_counts/positions).
            # Guards kwic's single-term path and collocations too.
            raise ValueError(
                "positions retrieval (kwic/collocations/term_positions) "
                "requires an index built with store_positions=True"
            )
        term = term.lower()
        found = self._lookup([term])
        if not found:
            return self.spark.createDataFrame(
                [], "doc_id long, tf int, positions array<int>"
            )
        segs = self.segments.where(F.col("term_id") == found[term][0]).select(
            "n_docs", "docs", "tfs", "dls", "pos_counts", "positions"
        )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                d, tf, _dl = _decode_blocks(pdf)
                pos = [
                    p.astype(np.int32)
                    for c, b, n in zip(pdf["pos_counts"], pdf["positions"], pdf["n_docs"])
                    for p in decode_position_lists(c, b, int(n))
                ]
                yield pd.DataFrame(
                    {"doc_id": d, "tf": tf.astype(np.int32), "positions": pos}
                )

        return segs.mapInPandas(decode, "doc_id long, tf int, positions array<int>")

    def boolean_search(
        self,
        must: list[str] | tuple[str, ...] = (),
        should: list[str] | tuple[str, ...] = (),
        must_not: list[str] | tuple[str, ...] = (),
    ) -> DataFrame:
        """Boolean doc-set retrieval: docs containing ALL ``must`` terms,
        at least one ``should`` term (when any are given), and NONE of
        ``must_not``. Returns (doc_id, tf) with tf = total occurrences of
        the positive (must+should) terms in the doc.

        This is new query capability relative to the reference (gloomy
        returns per-n-gram rows, index/index.go:241-258, and unions
        sub-results — Q7; it has no doc-set algebra because it has no doc
        ids). Scale shape: ONE pushed-down segments scan for every term in
        the query (term_id IN (...) reaches the parquet scan), per-block
        parallel decode, then a single partial-agg shuffle on doc_id — no
        joins, no per-term scans, no driver materialization. Exclusion
        needs no anti-join: any result doc must carry a positive term, so
        grouping the combined postings by doc_id sees the must_not hits
        of every candidate doc.
        """
        must = [t.lower() for t in dict.fromkeys(must)]
        should = [t.lower() for t in dict.fromkeys(should)]
        must_not = [t.lower() for t in dict.fromkeys(must_not)]
        if not must and not should:
            raise ValueError("boolean_search needs at least one must/should term")
        empty = self.spark.createDataFrame([], "doc_id long, tf int")
        if len(self._lookup(must)) < len(must):
            return empty  # an unindexed must term can match nothing
        p = self.postings_multi(must + should + must_not)
        is_must = _in_strings("term", must) if must else F.lit(False)
        is_should = _in_strings("term", should) if should else F.lit(False)
        is_not = _in_strings("term", must_not) if must_not else F.lit(False)
        # (term, doc_id) is unique in decoded postings (each doc lives in
        # exactly one block of a term), so a conditional COUNT replaces
        # count-distinct — no Expand in the plan
        agg = p.groupBy("doc_id").agg(
            F.sum(F.when(is_must, 1).otherwise(0)).alias("_nm"),
            F.max(F.when(is_should, 1).otherwise(0)).alias("_hs"),
            F.max(F.when(is_not, 1).otherwise(0)).alias("_hn"),
            F.sum(F.when(~is_not, F.col("tf")).otherwise(0))
            .cast("int")
            .alias("tf"),
        )
        cond = F.col("_hn") == 0
        if must:
            cond = cond & (F.col("_nm") == len(must))
        if should:
            cond = cond & (F.col("_hs") == 1)
        return agg.where(cond).select("doc_id", "tf")

    def phrase_match(self, phrase: str, with_positions: bool = False) -> DataFrame:
        """Docs containing the exact token phrase (adjacent positions).

        Scale-safe plan (a phrase containing "the" must NOT explode the
        corpus-wide position list of "the"): compressed posting blocks of
        the phrase terms are shuffled once by doc_bucket, and inside each
        group the matcher (a) intersects doc-id sets rarest-first from the
        cheap doc payloads, (b) decodes POSITIONS only for blocks that
        still overlap the surviving candidate docs, then (c) verifies
        adjacency per candidate. No explode, no position decode for
        non-candidate docs.

        ``with_positions=True`` adds a ``positions array<int>`` column
        carrying the anchor positions (token offset of the phrase's FIRST
        token) of every occurrence in the doc — the anchors are a free
        by-product of step (c), so this costs nothing extra."""
        schema = (
            "doc_id long, positions array<int>" if with_positions else "doc_id long"
        )
        if not self.cfg.store_positions:
            raise ValueError(
                "phrase queries require an index built with store_positions=True"
            )
        terms = tokenize(phrase, self.cfg)
        if not terms:
            return self.spark.createDataFrame([], schema)
        found = self._lookup(terms)
        if len(found) < len(set(terms)):
            return self.spark.createDataFrame([], schema)
        # term_id → phrase offsets (a repeated token occupies several slots)
        slot_map: dict[int, list[int]] = {}
        for slot, t in enumerate(terms):
            slot_map.setdefault(found[t][0], []).append(slot)
        n_terms_distinct = len(slot_map)

        segs = self.segments.where(
            _in_longs("term_id", slot_map)
        ).select(
            "doc_bucket", "term_id", "first_doc", "last_doc", "n_docs",
            "docs", "tfs", "dls", "pos_counts", "positions",
        )

        def match(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": np.array([], dtype=np.int64)})
            if with_positions:
                empty["positions"] = pd.Series([], dtype=object)
            groups = {
                int(tid): g.sort_values("first_doc")
                for tid, g in pdf.groupby("term_id")
            }
            if len(groups) < n_terms_distinct:
                return empty  # a phrase term has no postings in this bucket

            # (a) doc-set intersection, rarest term first — positions
            # unread; ONE bulk decode per term, whose doc ids (block j is
            # offs[j]:offs[j+1]) step (b) reuses
            doc_sets: dict[int, np.ndarray] = {}
            offs: dict[int, np.ndarray] = {}
            for tid, g in groups.items():
                doc_sets[tid] = _decode_blocks(g)[0]
                offs[tid] = np.concatenate(
                    ([0], np.cumsum(g["n_docs"].to_numpy(np.int64)))
                )
            by_rarity = sorted(doc_sets, key=lambda t: len(doc_sets[t]))
            cand = doc_sets[by_rarity[0]]
            for tid in by_rarity[1:]:
                cand = np.intersect1d(cand, doc_sets[tid], assume_unique=True)
                if len(cand) == 0:
                    return empty

            # (b) positions only for candidate docs, in overlapping blocks
            pos_by_tid: dict[int, dict[int, np.ndarray]] = {}
            lo_c, hi_c = int(cand[0]), int(cand[-1])
            for tid, g in groups.items():
                docpos: dict[int, np.ndarray] = {}
                o = offs[tid]
                for j, r in enumerate(g.to_dict("records")):
                    if r["last_doc"] < lo_c or r["first_doc"] > hi_c:
                        continue
                    d = doc_sets[tid][o[j] : o[j + 1]]
                    hit = np.isin(d, cand, assume_unique=True)
                    if not hit.any():
                        continue
                    pos = decode_position_lists(
                        r["pos_counts"], r["positions"], int(r["n_docs"])
                    )
                    for i in np.nonzero(hit)[0]:
                        docpos[int(d[i])] = pos[i].astype(np.int64)
                pos_by_tid[tid] = docpos

            # (c) adjacency: one anchor must carry every phrase slot
            out: list[int] = []
            out_pos: list[np.ndarray] = []
            for doc in cand.tolist():
                anchors: np.ndarray | None = None
                for tid, slots in slot_map.items():
                    p = pos_by_tid[tid].get(doc)
                    if p is None:
                        anchors = None
                        break
                    for s in slots:
                        shifted = p - s
                        anchors = (
                            shifted
                            if anchors is None
                            else np.intersect1d(anchors, shifted, assume_unique=True)
                        )
                        if len(anchors) == 0:
                            break
                    if anchors is not None and len(anchors) == 0:
                        anchors = None
                        break
                if anchors is not None and len(anchors) > 0:
                    out.append(doc)
                    if with_positions:
                        out_pos.append(np.sort(anchors).astype(np.int32))
            res = pd.DataFrame({"doc_id": np.array(out, dtype=np.int64)})
            if with_positions:
                res["positions"] = pd.Series(out_pos, dtype=object)
            return res

        # doc_buckets are disjoint doc ranges → no cross-bucket duplicates
        est = sum(found[t][2] for t in terms)
        fields = [pa.field("doc_id", pa.int64())]
        if with_positions:
            fields.append(pa.field("positions", pa.list_(pa.int32())))
        return self._per_bucket(segs, est, match, pa.schema(fields), schema)

    def _hit_tokens(self, docs: DataFrame, hits: DataFrame) -> DataFrame:
        """(doc_id, pos, _toks): `hits` (doc_id, positions) joined to the
        forward store `docs`, one row per hit position with the doc's
        token array. kwic and collocations slice their windows from it.

        _toks is materialized in a projection BELOW the explode: Generate
        re-evaluates sibling expressions once per emitted element, so a
        same-projection tokens_col would re-tokenize the doc once per hit
        (tf(query, doc) times). A separate select keeps split() under the
        Generate node (CollapseProject cannot merge across Generate — the
        child projection is requiredChildOutput); pinned by
        test_kwic_tokenizes_below_explode and
        test_collocations_tokenize_below_explode."""
        from ..functions.text import tokens_col

        return (
            docs.select("doc_id", "text")
            .join(hits, "doc_id")
            .select(
                "doc_id",
                "positions",
                tokens_col(F.col("text"), self.cfg).alias("_toks"),
            )
            .select("doc_id", F.explode("positions").alias("pos"), "_toks")
        )

    def kwic(self, query: str, docs: DataFrame, width: int = 3) -> DataFrame:
        """Keyword-in-context concordance: every occurrence of ``query``
        (a single term or an exact phrase) with up to ``width`` tokens of
        context on each side. Returns (doc_id, pos, lctx, kw, rctx) — pos
        is the 0-based token offset of the match start, lctx/rctx are
        space-joined context windows (shorter at doc edges).

        This is reference parity with a corpus-concordancer front end
        over the n-gram service (the reference exposes per-n-gram rows
        plus document Args, service/search.go; a KonText-style client
        renders the context — here the engine computes it directly).

        Scale shape: hit positions come from the index (pushed-down
        postings scan for a term; the bucketed phrase matcher with free
        anchor positions for a phrase — never a corpus scan), then ONE
        join against the forward store restricted to (doc_id, text), with
        tokenization and window slicing AFTER the join so only matched
        docs are tokenized, all in JVM expressions (slice/array_join —
        no Python, no explode of full token streams). The hits side is
        tiny relative to the corpus for selective queries; AQE sizes it
        at runtime and picks a broadcast join, so the 100 TB forward
        store is never shuffled.
        """
        out_schema = "doc_id long, pos int, lctx string, kw string, rctx string"
        terms = tokenize(query, self.cfg)
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        n = len(terms)
        if n == 1:
            hits = self.postings_positions(terms[0]).select("doc_id", "positions")
        else:
            hits = self.phrase_match(query, with_positions=True)

        w = F.lit(int(width))
        joined = self._hit_tokens(docs, hits)
        start1 = F.col("pos") + 1  # 1-based index of the match start
        return joined.select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.array_join(
                F.slice(
                    "_toks", F.greatest(F.lit(1), start1 - w), F.least(F.col("pos"), w)
                ),
                " ",
            ).alias("lctx"),
            F.array_join(F.slice("_toks", start1, n), " ").alias("kw"),
            F.array_join(F.slice("_toks", start1 + n, w), " ").alias("rctx"),
        )

    def collocations(self, node: str, docs: DataFrame, window: int = 3,
                     min_freq: int = 1) -> DataFrame:
        """Collocation extraction: tokens co-occurring with ``node``
        within ±``window`` positions, ranked by association strength.
        Returns (collocate, f_xy, f_y, log_dice, mi, t_score) with the
        standard corpus-linguistics measures (public formulas; the
        reference's ecosystem — KonText-style concordancers — computes
        these client-side from n-gram counts):

            log_dice = 14 + log2(2·f_xy / (f_x + f_y))
            mi       = log2(f_xy · N / (f_x · f_y))
            t_score  = (f_xy − f_x·f_y/N) / sqrt(f_xy)

        where f_x = corpus frequency of the node, f_y of the collocate,
        f_xy = window co-occurrence count (every node occurrence
        contributes its window; overlapping windows double-count, the
        standard convention), N = total corpus tokens.

        Scale shape: node positions from ONE pushed-down postings scan;
        forward store joined and tokenized only for matching docs (same
        plan as kwic — AQE broadcasts the hit side against a 100 TB
        store); window tokens sliced and exploded in JVM expressions;
        one groupBy(collocate) partial agg; marginals attached by ONE
        join against the term dictionary (f_xy side is vocabulary-
        bounded). f_x (``_lookup``) and N (Σ cf) are driver scalars; on a
        cached index neither runs a Spark job."""
        out_schema = (
            "collocate string, f_xy long, f_y long, "
            "log_dice double, mi double, t_score double"
        )
        toks = tokenize(node, self.cfg)
        if len(toks) != 1:
            raise ValueError("collocations takes a single node token")
        node_term = toks[0]
        found = self._lookup([node_term])
        if not found:
            return self.spark.createDataFrame([], out_schema)
        f_x = found[node_term][3]
        if self._total_cf is None:
            # uncached index: one tiny dictionary agg, amortized across the
            # index's life (the dictionary is write-once, so the total
            # never changes); cache() sets it from the term map
            self._total_cf = int(
                self.terms.agg(F.sum("cf").alias("n")).collect()[0]["n"]
            )
        n_tokens = self._total_cf

        w = F.lit(int(window))
        hits = self.postings_positions(node_term).select("doc_id", "positions")
        j = self._hit_tokens(docs, hits)
        start1 = F.col("pos") + 1
        ctx = j.select(
            F.explode(
                F.concat(
                    F.slice("_toks", F.greatest(F.lit(1), start1 - w),
                            F.least(F.col("pos"), w)),
                    F.slice("_toks", start1 + 1, w),
                )
            ).alias("collocate")
        )
        fxy = ctx.groupBy("collocate").agg(
            F.count("*").cast("long").alias("f_xy")
        )
        if min_freq > 1:
            fxy = fxy.where(F.col("f_xy") >= min_freq)
        joined = fxy.join(
            self.terms.select(F.col("term").alias("collocate"),
                              F.col("cf").alias("f_y")),
            "collocate",
        )
        fxy_c, fy_c = F.col("f_xy"), F.col("f_y")
        return joined.select(
            "collocate",
            "f_xy",
            fy_c.cast("long").alias("f_y"),
            F.round(
                F.lit(14.0) + F.log2(F.lit(2.0) * fxy_c / (F.lit(f_x) + fy_c)), 4
            ).alias("log_dice"),
            F.round(
                F.log2(fxy_c * F.lit(float(n_tokens)) / (F.lit(f_x) * fy_c)), 4
            ).alias("mi"),
            F.round(
                (fxy_c - F.lit(f_x) * fy_c / F.lit(float(n_tokens)))
                / F.sqrt(fxy_c),
                4,
            ).alias("t_score"),
        )

    # ------------------------------------------------------------ BM25 --
    def _bm25_params(self, k: int) -> _Bm25Params:
        return _Bm25Params(
            k1=self.cfg.bm25.k1, b=self.cfg.bm25.b, avgdl=self.manifest.avgdl, k=k
        )

    def _query_blocks(
        self, toks: list[str]
    ) -> tuple[DataFrame, dict[int, float], int, dict[str, int]] | None:
        """Posting blocks of the indexed terms among ``toks`` (term_id
        pushed into the scan), idf by term_id, their posting volume (Σ df,
        which sizes the scorer shuffle) and term_id by term; None when no
        token is indexed. Terms resolve through ``_lookup``. idf is
        attached inside the python scorer, not as a literal map in the
        plan: per-query literals
        force a fresh whole-stage-codegen compile for every query, a
        fixed ~0.1 s/query the python-side map avoids (measured 4.8 →
        3.9 s over 10 warm queries)."""
        hits = self._lookup(toks)
        if not hits:
            return None
        idf_by_tid = {tid: idf for tid, idf, _, _ in hits.values()}
        blocks = self.segments.where(_in_longs("term_id", idf_by_tid)).select(
            "doc_bucket", "term_id", "first_doc", "last_doc", "n_docs",
            "max_score", "docs", "tfs", "dls",
        )
        est = sum(df for _, _, df, _ in hits.values())
        return blocks, idf_by_tid, est, {t: e[0] for t, e in hits.items()}

    def bm25_topk(self, query: str, k: int = 10) -> DataFrame:
        """Top-k BM25: score desc, doc_id asc tie-break — rank-identical
        with the exhaustive oracle."""
        found = self._query_blocks(tokenize(query, self.cfg))
        if found is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        blocks, idf_by_tid, est, _ = found
        score = _bucket_scorer(
            self._bm25_params(k), idf_by_tid, {tuple(sorted(idf_by_tid)): [0]}
        )
        per_bucket = self._per_bucket(blocks, est, score, _SCORED_ARROW, _SCORED_SCHEMA)
        return _merge_topk(per_bucket, k)

    def bm25_topk_filtered(
        self, query: str, k: int, attr: str, values: list[str]
    ) -> DataFrame:
        """Faceted top-k BM25: rank only docs whose dimension attribute
        ``attr`` is in ``values`` (e.g. lang='en'). IDF/avgdl stay
        CORPUS-WIDE — the facet restricts the result set, not the
        collection statistics (the conventional faceted-search contract;
        scores equal the unfiltered scores of the surviving docs).

        Scale shape: bm25_topk's plan with the allowed doc set riding
        along. The allowed docs come from ONE pushed-down docs-dimension
        scan (a dictionary-encoded parquet column filter — PushedFilters,
        no corpus scan), bucketed by the same doc_bucket as the segments
        and unioned, tagged, into the query blocks' doc_bucket exchange;
        inside each bucket the kernel drops the postings of docs outside
        the allowed ids after decode, before accumulation."""
        # attr arrives unvalidated from /bm25?filter=attr:v1,… — reject
        # anything that is not an actual docs-dimension column BEFORE it
        # reaches an expression builder (defense in depth on top of the
        # identifier quoting in _in_strings).
        if attr not in self.docs.columns:
            raise KeyError(
                f"unknown facet attribute {attr!r}; "
                f"available: {sorted(self.docs.columns)}"
            )
        found = self._query_blocks(tokenize(query, self.cfg))
        if found is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        blocks, idf_by_tid, est, _ = found
        w = int(self.cfg.doc_bucket_width)
        # Allowed-doc rows carry their doc id in first_doc/last_doc and
        # are tagged by n_docs = 0 (no posting block is empty). Every
        # integer column is filled: a null would make pandas read it as
        # float64, which rounds doc ids past 2^53. The bucket is exact
        # int64 floor division (numpy // semantics, toward −∞).
        allowed = self.docs.where(_in_strings(attr, list(values))).selectExpr(
            f"(doc_id div {w}) - (CASE WHEN doc_id < 0 AND doc_id % {w} != 0 "
            "THEN 1 ELSE 0 END) AS doc_bucket",
            "doc_id AS first_doc", "doc_id AS last_doc",
            "0 AS n_docs", "-1L AS term_id",
        )
        score = _bucket_scorer(
            self._bm25_params(k), idf_by_tid, {tuple(sorted(idf_by_tid)): [0]},
            facet=True,
        )
        per_bucket = self._per_bucket(
            blocks.unionByName(allowed, allowMissingColumns=True),
            est, score, _SCORED_ARROW, _SCORED_SCHEMA,
        )
        return _merge_topk(per_bucket, k)

    # driver-local serving fast path: total postings across the query's
    # terms must fit comfortably on the driver; heavier queries fall back
    # to the distributed scorer. 5M postings ≈ 120 MB decoded.
    _LOCAL_MAX_POSTINGS = 5_000_000
    _POSTING_CACHE_MAX = 20_000_000

    def bm25_serve(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """Low-latency BM25 top-k: score on the DRIVER from a decoded-
        postings LRU (the reference keeps its first trie column in RAM,
        index.go:502-504 — this is the posting-list analog). Terms missing
        from the cache are fetched with one pushed-down segments scan;
        repeat terms cost no Spark job at all. Falls back to the
        distributed scorer (bm25_topk) when the query's total df exceeds
        the driver budget — at 10¹² docs a head-term query MUST stay
        distributed. Returns [(doc_id, score)] (already exact-ordered,
        score desc / doc_id asc). Requires .cache()."""
        if self._term_map is None:
            raise ValueError("bm25_serve requires a cached index (.cache())")
        k1, b, avgdl = self.cfg.bm25.k1, self.cfg.bm25.b, self.manifest.avgdl
        found = self._lookup(tokenize(query, self.cfg))
        if not found:
            return []
        if sum(df for _, _, df, _ in found.values()) > self._LOCAL_MAX_POSTINGS:
            rows = self.bm25_topk(query, k).collect()  # distributed fallback
            return [(r["doc_id"], r["score"]) for r in rows]

        # grab references for cached terms UNDER the lock; entries are
        # immutable (np arrays) so holding a reference keeps them valid
        # even if another thread evicts the dict slot a microsecond later
        tids = [tid for tid, *_ in found.values()]
        with self._posting_cache_lock:
            entries = {}
            for tid in tids:
                if tid in self._posting_cache:
                    entries[tid] = self._posting_cache[tid]
                    # true LRU: a hit refreshes recency, so a hot head term
                    # fetched early can't be evicted ahead of cold tail terms
                    self._posting_cache.move_to_end(tid)
        missing = [tid for tid in tids if tid not in entries]
        if missing:
            # fetch OUTSIDE the lock (a Spark scan must not serialize other
            # threads' cache hits); two threads missing the same term just
            # fetch twice and the second insert is a no-op
            pdf = (
                self.segments.where(_in_longs("term_id", missing))
                .select("term_id", "n_docs", "docs", "tfs", "dls")
                .toPandas()
            )
            fetched: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for tid, g in pdf.groupby("term_id"):
                d, tf, dl = _decode_blocks(g)
                # cache the tf part of the score (idf applied at query time)
                part = bm25_scores(tf, dl, 1.0, k1, b, avgdl)
                fetched[int(tid)] = (d, part)
            # score from the locally-fetched arrays DIRECTLY — the cache
            # is an optimization, never the source of truth, so a
            # cross-thread eviction between insert and use can't force a
            # fallback (results stay deterministic driver-local arithmetic)
            entries.update(fetched)
            with self._posting_cache_lock:
                for tid, ent in fetched.items():
                    if tid in self._posting_cache:
                        self._posting_cache.move_to_end(tid)
                    else:
                        self._posting_cache[tid] = ent
                # LRU eviction: drop least-recently-USED entries (hits
                # move_to_end above). Recompute the size from the dict — an
                # incrementally-drifted counter under concurrency
                # over-evicts forever.
                total = sum(len(v[0]) for v in self._posting_cache.values())
                while total > self._POSTING_CACHE_MAX and len(self._posting_cache) > 1:
                    old_tid = next(iter(self._posting_cache))
                    total -= len(self._posting_cache[old_tid][0])
                    del self._posting_cache[old_tid]

        docs_l, scores_l = [], []
        for tid, idf, _, _ in found.values():
            ent = entries.get(tid)
            if ent is None:
                # term indexed but zero blocks fetched (can only happen on
                # an empty postings anomaly) — skip it, contributes nothing
                continue
            docs_l.append(ent[0])
            scores_l.append(ent[1] * idf)
        d, s = topk(*accumulate(docs_l, scores_l), k)
        return list(zip(d.tolist(), s.tolist()))

    def bm25_topk_batch(
        self, queries: list[str], k: int = 10, use_blockmax: bool = True
    ) -> DataFrame:
        """Score MANY queries in ONE Spark job → (query_id, doc_id, score).

        Serving-throughput path: per-query jobs pay Spark's scheduling
        floor (~0.3-1s) each; batching amortizes it. The plan is
        bm25_topk's (_per_bucket): ONE segments scan over the union of
        all query terms, ONE doc_bucket shuffle of each block (no
        per-query payload duplication: idf is a term property, so each
        block is decoded and scored once per bucket and every query just
        gathers its terms' (doc, score) spans), then a PARTITIONED top-k
        window per query (map-side WindowGroupLimit, never a global
        single-task sort). query_id is the queries-list index; queries
        with no indexed terms emit no rows. Scores are bit-identical to
        bm25_topk's for the same query (the same bucket kernel).
        ``use_blockmax`` is ignored; it stays for callers that pass it
        positionally."""
        toks_by_q = [tokenize(q, self.cfg) for q in queries]
        found = self._query_blocks([t for ts in toks_by_q for t in ts])
        if found is None:
            return self.spark.createDataFrame([], _SCORED_SCHEMA)
        blocks, idf_by_tid, est, tid_by_term = found
        # queries normalizing to the SAME indexed term set share one
        # scoring pass (frequent in serving workloads)
        qids_by_tset: dict[tuple[int, ...], list[int]] = {}
        for qi, ts in enumerate(toks_by_q):
            tset = tuple(sorted({tid_by_term[t] for t in ts if t in tid_by_term}))
            if tset:
                qids_by_tset.setdefault(tset, []).append(qi)
        score = _bucket_scorer(self._bm25_params(k), idf_by_tid, qids_by_tset)
        per = self._per_bucket(blocks, est, score, _SCORED_ARROW, _SCORED_SCHEMA)
        # A driver-side final merge (takeOrdered pattern: Arrow toPandas of
        # the ≤ buckets×queries×k per-bucket top-k rows + numpy lexsort)
        # was A/B-measured here and REJECTED: warm-session walls were
        # identical to the window path (5.9-6.1s vs 5.8-6.3s at 4 cores,
        # 1000 queries) — the window below is already map-side limited
        # (WindowGroupLimit) and its exchange moves only top-k rows, so
        # there is nothing to save.
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )
