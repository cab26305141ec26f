"""The benchmark's workloads: set-up, one round of operations, and checks.

Every call into the program goes through ``Ctx.call``, which sets a Spark
job group named after the layer, times the call and keeps its output so
that it can be checked after the timed window.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
from dataclasses import dataclass, field
from time import perf_counter, time
from typing import Any, Callable

import numpy as np

import gen
import oracle

N_DUPS = 8
SIMHASH_SEED = 0  # simhash fails its check on every corpus; its input does not follow --seed
BUCKET_WIDTH = 512
K = 10
FACET = ("cs", "de")
BATCH = 40
PER_CLIENT = 1
SERVE_POOL = 3000
SERVE_ROUND = 16000
SERVE_WARM = 500


@dataclass
class Op:
    name: str
    gid: str
    t0: float
    t1: float
    prep_s: float | None
    result: Any
    error: str | None
    check: Callable[[Any], str | None] | None
    timed: bool
    info: dict = field(default_factory=dict)


class Ctx:
    """One benchmark process: the Spark session, the inputs and every call made."""

    def __init__(self, spark, seed: int, work: str, clients: int, n_docs: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.clients = clients
        self.ops: list[Op] = []
        self.timed = False
        self.setup_s = 0.0
        self._ids = itertools.count()
        self.pages = gen.pages(seed, n_docs, N_DUPS)
        # only document frequencies before the timed window: the full oracle is
        # built after it, so its memory stays out of peak_rss_mb
        self.df = oracle.doc_freq(self.pages.frame["text"])
        self.terms_by_df = sorted(self.df, key=lambda t: (-self.df[t], t))
        from gloomy_spark.config import EngineConfig

        self.cfg = EngineConfig(shuffle_partitions=4, doc_bucket_width=BUCKET_WIDTH)

    @functools.cached_property
    def corpus(self) -> oracle.Corpus:
        return oracle.Corpus(self.pages.frame)

    def group(self, name: str) -> str:
        gid = f"{name}#{next(self._ids)}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid

    def call(self, name, make, run=None, check=None, gid=None, **info) -> Any:
        """Time ``run(make())``; ``make`` alone is the preparation (DataFrame construction)."""
        gid = gid or self.group(name)
        res, err, prep = None, None, None
        t0 = perf_counter()
        try:
            res = make()
            if run is not None:
                prep = perf_counter() - t0
                info["prep_end_ms"] = time() * 1e3  # epoch, comparable with Spark's job submit times
                res = run(res)
        except Exception as ex:  # a raised operation is a failed one, reported with its type
            err = f"{type(ex).__name__}: {ex}"
        t1 = perf_counter()
        self.ops.append(Op(name, gid, t0, t1, prep, res, err, check, self.timed, info))
        return res

    def setup_step(self, fn, label: str = ""):
        t0 = perf_counter()
        try:
            return fn()
        finally:
            self.setup_s += perf_counter() - t0
            if label:
                print(f"# set-up {label}: {perf_counter() - t0:.2f} s", file=sys.stderr)

    def load_pages(self, pages: gen.Pages | None = None):
        cols = ["doc_id", "url", "warc_ts", "html", "text", "lang"]
        schema = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
        frame = (pages or self.pages).frame
        df = self.spark.createDataFrame(frame[cols], schema).cache()
        df.count()
        return df

    def build_index(self, pages_df, path: str):
        from gloomy_spark.build import IndexBuilder, extracted_docs

        return IndexBuilder(self.spark, self.cfg).build(
            extracted_docs(pages_df), path, url_col="url", lang_col="lang",
            n_buckets=2, resume=False,
        )


def each(calls, concurrent: bool) -> None:
    """Run ``calls`` one after another, or all at once on threads of their own
    (warm-up rounds only: every path still runs once, in less set-up time)."""
    if not concurrent:
        for c in calls:
            c()
        return
    threads = [threading.Thread(target=c) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def rows(*cols):
    return lambda df: [tuple(r[c] for c in cols) for r in df.collect()]


def check_extraction(ctx: Ctx, pages_df) -> str | None:
    from gloomy_spark.build import extracted_docs

    ctx.group("perfbench.check")
    got = {r["url"]: r["text"] for r in extracted_docs(pages_df).select("url", "text").collect()}
    want = dict(zip(ctx.pages.frame["url"], ctx.pages.frame["text"]))
    bad = [u for u in want if got.get(u) != want[u]]
    return f"extraction differs for {len(bad)} urls" if bad or len(got) != len(want) else None


# ---------------------------------------------------------------- build


class Build:
    """Full builds, then the three dedup operators, over one pages corpus.

    ``simhash`` runs over a second corpus of the same shape made from a fixed
    seed: it fails its check on every corpus (see README), and a failure the
    benchmark keeps must come from inputs that do not depend on ``--seed``."""

    # 400 pages, not FIXTURES' 1000: at 1000 the one timed round (~20 s) spread
    # 0.24-0.35 over ten runs, with the JIT compiler still busy in the window,
    # and a run took 60-78 s
    N_DOCS = 400

    def setup(self, ctx: Ctx) -> list[str | None]:
        from gloomy_spark.build import extracted_docs

        self.pages = ctx.pages
        self.fixed = gen.pages(SIMHASH_SEED, self.N_DOCS, N_DUPS)
        self.pages_df = ctx.setup_step(ctx.load_pages, "load pages")
        self.docs = ctx.setup_step(
            lambda: extracted_docs(self.pages_df).select("doc_id", "text").cache()
        )
        ctx.setup_step(self.docs.count)
        self.fixed_docs = ctx.setup_step(
            lambda: extracted_docs(ctx.load_pages(self.fixed)).select("doc_id", "text").cache()
        )
        ctx.setup_step(self.fixed_docs.count, "simhash corpus")
        self.n = 0
        self.index_dir = None
        # warm every path once on the same DataFrames, so the timed round runs plans
        # whose generated code is already compiled
        ctx.setup_step(lambda: self.round(ctx, concurrent=True), "warm-up round")
        return [check_extraction(ctx, self.pages_df)]

    @functools.cached_property
    def dedup(self) -> oracle.Dedup:
        return oracle.Dedup(self.pages.frame["text"].tolist())

    @functools.cached_property
    def simhash(self) -> dict[int, int]:
        return oracle.simhash_expected(self.fixed.frame)

    def round(self, ctx: Ctx, concurrent=False) -> None:
        from gloomy_spark.ops.dedup import lsh_jaccard_pipeline, minhash_lsh_pairs, simhash

        pages_df, docs, fixed_docs = self.pages_df, self.docs, self.fixed_docs
        path = os.path.join(ctx.work, f"index{self.n}")
        self.index_dir = path
        self.n += 1
        each([
            lambda: ctx.call(
                "build", lambda: ctx.build_index(pages_df, path),
                check=lambda m: oracle.check_index(ctx.corpus, path, m, BUCKET_WIDTH),
                index_dir=path,
            ),
            lambda: ctx.call(
                "ops.lsh_jaccard", lambda: lsh_jaccard_pipeline(docs),
                rows("doc_a", "doc_b", "jaccard"),
                check=lambda got: oracle.check_pairs(self.dedup, got, ctx.pages.planted),
            ),
            lambda: ctx.call(
                "ops.minhash_lsh", lambda: minhash_lsh_pairs(docs), rows("doc_a", "doc_b"),
                check=lambda got: oracle.check_equal("candidates", self.dedup.candidates, set(got))
                or (None if len(set(got)) == len(got) else "duplicate candidates"),
            ),
            lambda: ctx.call(
                "ops.simhash", lambda: simhash(fixed_docs), rows("doc_id", "simhash"),
                check=lambda got: oracle.check_equal("simhash", self.simhash, dict(got)),
            ),
        ], concurrent)


# ---------------------------------------------------------------- search


class _BatchProbe:
    """Stands in for the SearchIndex a micro-batcher holds: tags each batch
    with a job group and records when it started and which queries it held."""

    def __init__(self, ctx: Ctx, si):
        self.ctx, self.si = ctx, si
        self.batches: list[tuple[float, set[str]]] = []
        self.lock = threading.Lock()

    def bm25_topk_batch(self, queries, k=10, use_blockmax=True):
        self.ctx.group("query.microbatch.batch")
        with self.lock:
            self.batches.append((perf_counter(), set(queries)))
        return self.si.bm25_topk_batch(queries, k, use_blockmax)


class Search:
    """Queries against one built index.  A round runs the five distributed
    query operators on one query, a 40-query batch, a micro-batched phase
    of concurrent clients, and a burst of in-process ``SearchService.bm25``
    calls drawn from a query pool much larger than the service's result
    LRU, with every posting list the pool needs already in its posting LRU."""

    N_DOCS = 1000  # FIXTURES.md's tiny scale

    def setup(self, ctx: Ctx) -> list[str | None]:
        from gloomy_spark.build import extracted_docs
        from gloomy_spark.query.engine import SearchIndex
        from gloomy_spark.query.microbatch import Bm25MicroBatcher

        from gloomy_spark.service import SearchService

        terms = ctx.terms_by_df
        self.stream = gen.queries(ctx.seed, terms, 4000, stream=2)
        self.phrases = gen.phrases(ctx.seed, ctx.pages.frame["text"], oracle.tokens, 1000, stream=3)
        self.pos = 0
        pool = gen.queries(ctx.seed, terms, SERVE_POOL, stream=4)
        rng = np.random.default_rng([ctx.seed, 5])
        self.serve_stream = [pool[i] for i in gen.zipf_draws(rng, SERVE_POOL, 200_000, 1.0)]
        self.serve_pos = 0
        pages_df = ctx.setup_step(ctx.load_pages, "load pages")
        self.index_dir = os.path.join(ctx.work, "index")
        ctx.setup_step(lambda: ctx.call(
            "build", lambda: ctx.build_index(pages_df, self.index_dir),
            check=lambda m: oracle.check_index(ctx.corpus, self.index_dir, m, BUCKET_WIDTH),
            index_dir=self.index_dir))
        self.si = ctx.setup_step(lambda: SearchIndex(ctx.spark, self.index_dir).cache(), "open index")
        self.docs = ctx.setup_step(
            lambda: extracted_docs(pages_df).select("doc_id", "text").cache()
        )
        ctx.setup_step(self.docs.count, "forward store")
        self.probe = _BatchProbe(ctx, self.si)
        self.batcher = Bm25MicroBatcher(self.probe)
        self.svc = ctx.setup_step(lambda: SearchService(ctx.spark, {"bench": self.index_dir}), "service")
        # one query naming every term of the serve pool pulls their posting lists into the LRU
        pool_terms = " ".join(dict.fromkeys(t for q in pool for t in oracle.tokens(q)))
        ctx.setup_step(lambda: self.svc.indexes["bench"].bm25_serve(pool_terms, K), "posting LRU")
        ctx.setup_step(lambda: self.round(ctx, SERVE_WARM, concurrent=True), "warm-up round")
        self._http(ctx, pool[:5])
        return [check_extraction(ctx, pages_df)]

    def next_queries(self, n: int) -> list[str]:
        out = [self.stream[(self.pos + i) % len(self.stream)] for i in range(n)]
        self.pos += n
        return out

    def round(self, ctx: Ctx, serve_calls: int = SERVE_ROUND, concurrent: bool = False) -> None:
        si = self.si
        q = self.next_queries(1)[0]
        phrase = self.phrases[self.pos % len(self.phrases)]
        toks = list(dict.fromkeys(oracle.tokens(q)))
        must, should, must_not = toks[:1], toks[1:2], toks[2:3]
        term = min(toks, key=lambda t: (ctx.df.get(t, 0), t))
        batch = self.next_queries(BATCH)
        each([
            lambda: ctx.call(
                "query.engine.bm25_topk", lambda: si.bm25_topk(q, K), rows("doc_id", "score"),
                check=lambda got: oracle.check_topk(ctx.corpus, q, K, got), terms=toks),
            lambda: ctx.call(
                "query.engine.bm25_topk_filtered",
                lambda: si.bm25_topk_filtered(q, K, "lang", list(FACET)), rows("doc_id", "score"),
                check=lambda got: oracle.check_topk(ctx.corpus, q, K, got, FACET), terms=toks),
            lambda: ctx.call(
                "query.engine.phrase_match", lambda: si.phrase_match(phrase), rows("doc_id"),
                check=lambda got: oracle.check_equal(
                    phrase, set(ctx.corpus.phrase_anchors(phrase)), {d for (d,) in got}),
                terms=oracle.tokens(phrase)),
            lambda: ctx.call(
                "query.engine.boolean_search",
                lambda: si.boolean_search(must, should, must_not), rows("doc_id", "tf"),
                check=lambda got: oracle.check_equal(
                    q, ctx.corpus.boolean(must, should, must_not), set(got)),
                terms=toks[:3]),
            lambda: ctx.call(
                "query.engine.kwic", lambda: si.kwic(term, self.docs, 3),
                rows("doc_id", "pos", "lctx", "kw", "rctx"),
                check=lambda got: oracle.check_equal(term, ctx.corpus.kwic(term, 3), sorted(got)),
                terms=[term]),
            lambda: ctx.call(
                "query.engine.bm25_topk_batch", lambda: si.bm25_topk_batch(batch, K),
                rows("query_id", "doc_id", "score"),
                check=lambda got: _check_batch(ctx.corpus, batch, got), queries=batch),
        ], concurrent)
        self._microbatch(ctx)
        self._serve(ctx, serve_calls)

    def _microbatch(self, ctx: Ctx) -> None:
        qs = self.next_queries(ctx.clients * PER_CLIENT)

        def client(j: int) -> None:
            for q in qs[j::ctx.clients]:
                ctx.call("query.microbatch", lambda: self.batcher.query(q, K),
                         check=lambda got, q=q: oracle.check_topk(ctx.corpus, q, K, got),
                         gid="query.microbatch", query=q)

        threads = [threading.Thread(target=client, args=(j,)) for j in range(ctx.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _serve(self, ctx: Ctx, calls: int) -> None:
        gid = ctx.group("service.bm25")
        for _ in range(calls):
            q = self.serve_stream[self.serve_pos % len(self.serve_stream)]
            self.serve_pos += 1
            ctx.call("service.bm25", lambda: self.svc.bm25("bench", q, K, []),
                     check=lambda got, q=q: oracle.check_topk(
                         ctx.corpus, q, K, [(r["doc_id"], r["score"]) for r in got["rows"]]),
                     gid=gid)

    def _http(self, ctx: Ctx, queries) -> None:
        """Send ``queries`` over the HTTP front end, untimed; checked with the rest."""
        import json
        from urllib.parse import urlencode
        from urllib.request import urlopen

        def get(q):
            url = f"http://127.0.0.1:{port}/bm25?" + urlencode({"corpus": "bench", "q": q, "k": K})
            with urlopen(url, timeout=30) as r:
                return [(x["doc_id"], x["score"]) for x in json.loads(r.read())["rows"]]

        port = self.svc.start(port=0, warm=False)
        try:
            for q in queries:
                ctx.call("service.http", lambda: get(q),
                         check=lambda got, q=q: oracle.check_topk(ctx.corpus, q, K, got))
        finally:
            self.svc.stop()

    def close(self) -> None:
        self.batcher.close()


def _check_batch(c, batch, got) -> str | None:
    by_q: dict[int, list] = {i: [] for i in range(len(batch))}
    for qi, d, s in got:
        by_q[int(qi)].append((d, s))
    for qi, hits in by_q.items():
        hits.sort(key=lambda h: (-h[1], h[0]))
        msg = oracle.check_topk(c, batch[qi], K, hits)
        if msg:
            return f"batch query {qi}: {msg}"
    return None


WORKLOADS = {"build_dedup": Build, "search_serve": Search}
