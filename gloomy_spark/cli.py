"""Command-line entry point (reference gloomy.go:142-162 dispatch parity:
create-index / search / extract-ngrams / search-service, plus the bm25
command for the engine's ranking surface).

Run as ``python -m gloomy_spark <command> ...``. Every command prints one
JSON object per result row (or a summary object) to stdout, so output is
scriptable. A SparkSession can be injected for tests via main(spark=...).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="gloomy_spark")
    sub = ap.add_subparsers(dest="command", required=True)

    ci = sub.add_parser("create-index", help="build an index from a corpus")
    ci.add_argument("--input", required=True, help="corpus path (glob ok)")
    ci.add_argument("--out", required=True, help="index output directory")
    ci.add_argument(
        "--format", default="text",
        choices=["text", "vertical", "wholefile", "parquet"],
    )
    ci.add_argument("--charset", default="utf-8")
    ci.add_argument("--ngram-size", type=int, default=1)
    ci.add_argument("--min-freq", type=int, default=1)
    ci.add_argument("--buckets", type=int, default=4)
    ci.add_argument("--attrs", default="", help="comma-separated vertical attrs")
    ci.add_argument("--no-positions", action="store_true")

    se = sub.add_parser("search", help="dictionary search")
    se.add_argument("--index", required=True)
    se.add_argument("--query", required=True)
    se.add_argument("--qtype", default="default", choices=["default", "prefix", "regexp"])
    se.add_argument("--offset", type=int, default=0)
    se.add_argument("--limit", type=int, default=10)
    se.add_argument(
        "--attrs", default="",
        help="comma-separated metadata attrs: each result row carries its "
        "per-attr-values occurrence counts (reference searchCLI meta)",
    )

    bm = sub.add_parser("bm25", help="BM25 top-k ranking")
    bm.add_argument("--index", required=True)
    bm.add_argument("--query", required=True)
    bm.add_argument("-k", type=int, default=10)
    bm.add_argument("--attrs", default="", help="metadata attrs to join")
    bm.add_argument(
        "--filter", default="",
        help="attr:v1,v2 — faceted top-k restricted to matching docs",
    )

    bo = sub.add_parser("boolean", help="boolean doc-set retrieval")
    bo.add_argument("--index", required=True)
    bo.add_argument("--must", default="", help="space-separated AND terms")
    bo.add_argument("--should", default="", help="space-separated OR terms")
    bo.add_argument("--must-not", default="", help="space-separated NOT terms")
    bo.add_argument("--limit", type=int, default=100)

    kw = sub.add_parser("kwic", help="keyword-in-context concordance")
    kw.add_argument("--index", required=True)
    kw.add_argument("--docs", required=True, help="forward store (parquet path or table)")
    kw.add_argument("--query", required=True, help="term or exact phrase")
    kw.add_argument("--width", type=int, default=3, help="context tokens per side")
    kw.add_argument("--limit", type=int, default=100)

    cl = sub.add_parser("collocations", help="collocation extraction around a node term")
    cl.add_argument("--index", required=True)
    cl.add_argument("--docs", required=True, help="forward store (parquet path or table)")
    cl.add_argument("--node", required=True, help="node token")
    cl.add_argument("--window", type=int, default=3)
    cl.add_argument("--min-freq", type=int, default=3)
    cl.add_argument("--limit", type=int, default=50)

    ex = sub.add_parser("extract-ngrams", help="dump (term, cf) TSV")
    ex.add_argument("--index", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--min-freq", type=int, default=1)

    sv = sub.add_parser("search-service", help="HTTP search service")
    sv.add_argument(
        "--corpus", action="append", required=True,
        help="name=index_dir (repeatable); name=index_dir@runs_dir also "
        "serves /bm25?nrt=1 over uncompacted streaming runs",
    )
    sv.add_argument(
        "--docs", action="append", default=[],
        help="name=forward_store (repeatable); enables /kwic for that corpus",
    )
    sv.add_argument("--port", type=int, default=8090)
    sv.add_argument(
        "--batch-window-ms", type=float, default=50.0,
        help="micro-batch window for concurrent /bm25 on the distributed "
        "path: requests arriving within the window share one batch job "
        "(0 still batches whatever has queued, with no added wait)",
    )

    st = sub.add_parser("stats", help="index manifest + bucket ledger")
    st.add_argument("--index", required=True)

    ig = sub.add_parser(
        "ingest-stream",
        help="stream a directory of corpus parquet into posting runs "
        "(Structured Streaming, availableNow; exactly-once per file)",
    )
    ig.add_argument("--input", required=True, help="input parquet directory")
    ig.add_argument("--work-dir", required=True, help="ingestion work dir")
    ig.add_argument("--schema", default="doc_id long, text string")

    co = sub.add_parser(
        "compact", help="merge posting runs into a block-compressed index"
    )
    co.add_argument("--work-dir", required=True)
    co.add_argument("--out", required=True, help="index output directory")
    co.add_argument("--buckets", type=int, default=4)

    for p in (ci, se, bm, bo, kw, cl, ex, sv, st, ig, co):
        p.add_argument("--master", default="local[*]")
        p.add_argument("--shuffle-partitions", type=int, default=32)
    return ap


def _session(args):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(args.master)
        .appName(f"gloomy-{args.command}")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def _emit(obj) -> None:
    sys.stdout.write(json.dumps(obj, default=str) + "\n")


def main(argv: list[str] | None = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "stats":  # pure file reads — no SparkSession needed
        from dataclasses import asdict

        from .index_store import IndexStore, Manifest

        m = Manifest.load(args.index)
        _emit(
            {
                "n_docs": m.n_docs,
                "n_terms": m.n_terms,
                "postings": m.postings_total,
                "avgdl": round(m.avgdl, 3),
                "build_seconds": round(m.build_seconds, 3),
                "stages": m.stages,
            }
        )
        for rec in IndexStore(args.index).completed_buckets().values():
            _emit(asdict(rec))
        return 0

    spark = spark or _session(args)

    if args.command == "create-index":
        from .build import IndexBuilder
        from .config import EngineConfig
        from .sources import (
            read_plaintext_docs,
            read_vertical_docs,
            read_wholefile_docs,
        )

        attrs = [a for a in args.attrs.split(",") if a]
        if args.format == "text":
            docs = read_plaintext_docs(spark, args.input, charset=args.charset)
        elif args.format == "vertical":
            docs = read_vertical_docs(
                spark, args.input, attrs=attrs, charset=args.charset
            )
        elif args.format == "wholefile":
            docs = read_wholefile_docs(spark, args.input)
        else:
            docs = spark.read.parquet(args.input)
        cfg = EngineConfig(
            shuffle_partitions=args.shuffle_partitions,
            store_positions=not args.no_positions,
        )
        url_col = "url" if "url" in docs.columns else None
        manifest = IndexBuilder(spark, cfg).build(
            docs, args.out,
            url_col=url_col,
            n_buckets=args.buckets,
            ngram_size=args.ngram_size,
            min_term_freq=args.min_freq,
            attr_cols=attrs,
            input_snapshot=args.input,
        )
        _emit(
            {
                "n_docs": manifest.n_docs,
                "n_terms": manifest.n_terms,
                "postings": manifest.postings_total,
                "build_seconds": round(manifest.build_seconds, 3),
                "docs_per_sec": round(manifest.docs_per_sec, 1),
            }
        )
        return 0

    if args.command == "search":
        from .query.engine import SearchIndex

        si = SearchIndex(spark, args.index)
        attrs = [a for a in args.attrs.split(",") if a]
        for row in si.term_search(
            args.query, args.qtype, args.offset, args.limit, attrs
        ):
            _emit(row)
        return 0

    if args.command == "bm25":
        from .query.engine import SearchIndex

        si = SearchIndex(spark, args.index)
        if args.filter:
            fa, _, fv = args.filter.partition(":")
            hits = si.bm25_topk_filtered(
                args.query, args.k, fa, [v for v in fv.split(",") if v]
            )
        else:
            hits = si.bm25_topk(args.query, args.k)
        attrs = [a for a in args.attrs.split(",") if a]
        if attrs:
            hits = si.with_doc_metadata(hits, attrs)
        for r in hits.collect():
            _emit(r.asDict())
        return 0

    if args.command == "boolean":
        from pyspark.sql import functions as F

        from .query.engine import SearchIndex

        si = SearchIndex(spark, args.index)
        res = si.boolean_search(
            args.must.split(), args.should.split(), args.must_not.split()
        )
        for r in res.orderBy(F.desc("tf"), F.asc("doc_id")).limit(
            args.limit
        ).collect():
            _emit(r.asDict())
        return 0

    if args.command == "kwic":
        from pyspark.sql import functions as F

        from .query.engine import SearchIndex
        from .sources.pages import read_docs

        docs = read_docs(spark, args.docs)
        si = SearchIndex(spark, args.index)
        res = si.kwic(args.query, docs, width=args.width)
        for r in res.orderBy(F.asc("doc_id"), F.asc("pos")).limit(
            args.limit
        ).collect():
            _emit(r.asDict())
        return 0

    if args.command == "collocations":
        from pyspark.sql import functions as F

        from .query.engine import SearchIndex
        from .sources.pages import read_docs

        docs = read_docs(spark, args.docs)
        si = SearchIndex(spark, args.index)
        res = si.collocations(
            args.node, docs, window=args.window, min_freq=args.min_freq
        )
        for r in res.orderBy(F.desc("log_dice"), F.asc("collocate")).limit(
            args.limit
        ).collect():
            _emit(r.asDict())
        return 0

    if args.command == "extract-ngrams":
        from .query.engine import SearchIndex

        si = SearchIndex(spark, args.index)
        si.export_ngrams_tsv(args.out, min_freq=args.min_freq)
        _emit({"out": args.out, "min_freq": args.min_freq})
        return 0

    if args.command == "ingest-stream":
        from .config import EngineConfig
        from .streaming.incremental import IncrementalIndexer

        inc = IncrementalIndexer(
            spark, args.work_dir,
            EngineConfig(shuffle_partitions=args.shuffle_partitions),
        )
        inc.start(args.input, args.schema).awaitTermination()
        n_runs = 0
        if os.path.exists(inc.run_ledger):
            with open(inc.run_ledger) as f:
                n_runs = sum(1 for l in f if l.strip())
        _emit({"work_dir": args.work_dir, "runs": n_runs,
               "runs_dir": inc.runs_dir})
        return 0

    if args.command == "compact":
        from .config import EngineConfig
        from .streaming.incremental import IncrementalIndexer

        inc = IncrementalIndexer(
            spark, args.work_dir,
            EngineConfig(shuffle_partitions=args.shuffle_partitions),
        )
        manifest = inc.compact(args.out, n_buckets=args.buckets)
        _emit({"out": args.out, "n_docs": manifest.n_docs,
               "n_terms": manifest.n_terms,
               "postings": manifest.postings_total})
        return 0

    if args.command == "search-service":
        from .service import SearchService

        corpora = dict(c.split("=", 1) for c in args.corpus)
        docs = dict(d.split("=", 1) for d in args.docs)
        svc = SearchService(
            spark, corpora, batch_window_ms=args.batch_window_ms, docs=docs
        )
        port = svc.start(args.port)
        _emit({"listening": port, "corpora": sorted(corpora)})
        try:
            import threading

            threading.Event().wait()  # serve until interrupted
        except KeyboardInterrupt:
            svc.stop()
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
