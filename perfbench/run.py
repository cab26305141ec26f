"""Seeded benchmark of the gloomy_spark engine.

    python3 perfbench/run.py --workload {build_dedup,search_serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Generates the inputs from the seed, sets
the program up (Spark session, index, warm-up round), runs whole rounds of
the workload's operations for S seconds in a closed loop, checks every
output against perfbench/oracle.py and prints one JSON line last.  With
``--trace 1`` Spark event logging is on and the line holds the per-layer
metrics, which are also written to .bench_work/layers-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END_UNITS = {"setup_s": "s", "round_ms": "ms", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
SEARCH_OPS = ("bm25_topk", "bm25_topk_filtered", "phrase_match", "boolean_search",
              "kwic", "bm25_topk_batch")
OP_FIELDS = (("prep_ms", "ms"), ("prep_jobs", "count"), ("exec_ms", "ms"), ("jobs", "count"),
             ("tasks", "count"), ("scan_rows", "count"), ("shuffle_kb", "KB"), ("python_s", "s"))


def per_layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "build.postings_s": "s", "build.docs_s": "s", "build.terms_s": "s",
        "build.segments_s": "s", "build.shuffle_write_mb": "MB", "build.spill_mb": "MB",
        "build.gc_s": "s", "build.task_skew": "ratio", "build.worker_peak_rss_mb": "MB",
        "build.extract_docs_per_s": "1/s", "textnorm.tokens_per_s": "1/s",
        "codecs.encode_mpostings_per_s": "M/s", "codecs.decode_mpostings_per_s": "M/s",
        "index_store.segment_bytes_per_posting": "B",
        "index_store.postings_per_block": "count",
    }
    for op in SEARCH_OPS:
        for f, unit in OP_FIELDS:
            u[f"query.engine.{op}.{f}"] = unit
    u.update({
        "query.engine.bm25_topk.postings_per_result": "count",
        "query.microbatch.queries_per_batch": "count", "query.microbatch.wait_ms": "ms",
        "service.result_hit_rate": "ratio", "service.hit_ms": "ms", "service.miss_ms": "ms",
        "service.spark_jobs_per_kq": "count", "service.p50_ms": "ms", "service.p99_ms": "ms",
        "ops.lsh_jaccard_s": "s", "ops.minhash_lsh_s": "s", "ops.simhash_s": "s",
        "ops.shuffle_mb": "MB", "ops.confirmed_per_candidate": "ratio",
        "trace.round_ms": "ms",
    })
    return u


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def start_spark(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("gloomy-perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        os.makedirs(f"{work}/events")
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{work}/events")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_proc = perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "gloomy_spark", "__init__.py")):
        fail(f"no gloomy_spark package under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402  (needs the paths above)

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # no hsperfdata files in the system temp directory from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    try:
        result = run(args, work, min(len(os.sched_getaffinity(0)), 4), workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(f"# total {perf_counter() - t_proc:.1f}s", file=sys.stderr)
    print(json.dumps(result))


def run(args, work: str, cores: int, workloads) -> dict:
    from accounting import WorkerRss, peak_rss_mb, read_event_log, tree_cpu_s

    pid = os.getpid()
    sampler = WorkerRss(pid) if args.trace else None
    if sampler:
        sampler.start()
    t0 = perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    start_s = perf_counter() - t0
    print(f"# set-up spark session: {start_s:.2f} s", file=sys.stderr)
    try:
        t_in = perf_counter()
        wl = workloads.WORKLOADS[args.workload]()
        ctx = workloads.Ctx(spark, args.seed, work, clients=cores, n_docs=wl.N_DOCS)
        print(f"# inputs: {perf_counter() - t_in:.1f} s", file=sys.stderr)
        ctx.setup_s += start_s
        problems = wl.setup(ctx)

        ctx.timed = True
        rounds = []
        cpu0, w0 = tree_cpu_s(pid), perf_counter()
        while perf_counter() - w0 < args.seconds:
            r0 = perf_counter()
            wl.round(ctx)
            rounds.append(perf_counter() - r0)
        window = perf_counter() - w0
        cpu = tree_cpu_s(pid) - cpu0
        rss_mb = peak_rss_mb(pid)  # before the checks build the oracle
        ctx.timed = False
        if hasattr(wl, "close"):
            wl.close()
        t_check = perf_counter()

        print(f"# window: {len(rounds)} rounds in {window:.1f} s", file=sys.stderr)
        ctx.group("perfbench.check")
        failed = 0
        attempted = sum(op.timed for op in ctx.ops)
        timed_names = {op.name for op in ctx.ops if op.timed}
        for op in ctx.ops:
            if not op.timed and op.name in timed_names:
                continue  # warm-up calls: the timed calls of the same operation are checked
            msg = op.error or (check(op) if op.check else None)
            if msg:
                print(f"perfbench: {op.name} failed: {msg}", file=sys.stderr)
                if op.timed:
                    failed += 1
                else:
                    problems.append(msg)
        problems = [p for p in problems if p]
        names = dict.fromkeys(op.name for op in ctx.ops)
        for name in names:
            ts = [(op.t1 - op.t0) * 1e3 for op in ctx.ops if op.name == name and op.timed]
            if ts:
                print(f"# {name}: {len(ts)} timed calls, median {median(ts):.2f} ms, "
                      f"total {sum(ts):.0f} ms", file=sys.stderr)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print(f"# checks: {perf_counter() - t_check:.1f} s", file=sys.stderr)
        e2e = {
            "setup_s": ctx.setup_s,
            "round_ms": median(rounds) * 1e3,
            "cpu_ms_per_op": cpu * 1e3 / max(attempted, 1),
            "peak_rss_mb": rss_mb,
        }
        if args.trace:
            extra = layer_probes(ctx, wl)
    finally:
        t_stop = perf_counter()
        stop_spark(spark)
        print(f"# stop: {perf_counter() - t_stop:.1f} s", file=sys.stderr)
        if sampler:
            sampler.stop()
    if args.trace:
        groups = read_event_log(os.path.join(work, "events"))
        layers = layer_metrics(ctx, wl, groups, extra, start_s, sampler.peak_mb, rounds)
        units = per_layer_units()
        out = {k: (layers.get(k, 0.0), u) for k, u in units.items()}
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_work", f"layers-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "e2e_of_this_traced_run": e2e,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
                       "not_exercised": sorted(set(units) - set(layers))}, f, indent=1)
    else:
        out = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    return {"correct": not problems, "attempted": attempted,
            "failed": failed, "metrics": out}


def check(op) -> str | None:
    try:
        return op.check(op.result)
    except Exception as ex:  # output the check could not even read is wrong output
        return f"check raised {type(ex).__name__}: {ex}"


def layer_probes(ctx, wl) -> dict:
    """Direct timings of the layers whose work is not a Spark job of its own."""
    import numpy as np
    from pyspark.sql import functions as F

    from gloomy_spark import codecs
    from gloomy_spark.build import extracted_docs
    from gloomy_spark.functions.text import tokens_col

    import oracle

    ctx.group("perfbench.probe")
    pages_df = ctx.load_pages()
    out: dict[str, float] = {}
    times = []
    for _ in range(3):
        t = perf_counter()
        extracted_docs(pages_df).write.format("noop").mode("overwrite").save()
        times.append(perf_counter() - t)
    out["build.extract_docs_per_s"] = ctx.corpus.n_docs / median(times)
    times = []
    for _ in range(3):
        t = perf_counter()
        n_tok = pages_df.select(F.sum(F.size(tokens_col(F.col("text"))))).collect()[0][0]
        times.append(perf_counter() - t)
    if n_tok != int(ctx.corpus.dl.sum()):
        raise RuntimeError(f"tokens_col counted {n_tok} tokens, expected {int(ctx.corpus.dl.sum())}")
    out["textnorm.tokens_per_s"] = n_tok / median(times)

    # the posting blocks of the index the run built, as the benchmark decoded them
    meta, block_of, docs, tfs, dls = oracle.decode_segments(wl.index_dir)
    cut = np.flatnonzero(np.diff(block_of)) + 1
    blocks = list(zip(np.split(docs, cut), np.split(tfs, cut), np.split(dls, cut)))
    n_post = len(docs)
    enc_t, dec_t = [], []
    for _ in range(3):
        t = perf_counter()
        enc = [codecs.encode_posting_block(*b) for b in blocks]
        enc_t.append(perf_counter() - t)
        t = perf_counter()
        dec = [codecs.decode_posting_block(*e, len(b[0])) for e, b in zip(enc, blocks)]
        dec_t.append(perf_counter() - t)
    for (d, tf, dl), b in zip(dec, blocks):
        if not (np.array_equal(d, b[0]) and np.array_equal(tf, b[1]) and np.array_equal(dl, b[2])):
            raise RuntimeError("codec round trip changed a posting block")
    out["codecs.encode_mpostings_per_s"] = n_post / median(enc_t) / 1e6
    out["codecs.decode_mpostings_per_s"] = n_post / median(dec_t) / 1e6
    return out


def layer_metrics(ctx, wl, groups, extra, start_s, worker_mb, rounds) -> dict:
    import pyarrow.parquet as pq

    import oracle
    from accounting import task_skew

    m: dict[str, float] = {"session.start_s": start_s, "trace.round_ms": median(rounds) * 1e3}
    m.update(extra)
    by_name: dict[str, list] = {}
    for op in ctx.ops:
        by_name.setdefault(op.name, []).append(op)
    timed = {k: [o for o in v if o.timed] for k, v in by_name.items()}

    builds = timed.get("build") or by_name.get("build", [])
    if builds:
        st = [o.result.stages for o in builds if o.result is not None]
        for key in ("postings", "docs", "terms", "segments"):
            m[f"build.{key}_s"] = median(s.get(key, 0.0) for s in st)
        gs = [groups.get(o.gid) for o in builds if o.gid in groups]
        m["build.shuffle_write_mb"] = median(g["shuffle_write_b"] / 1e6 for g in gs)
        m["build.spill_mb"] = median(g["spill_b"] / 1e6 for g in gs)
        m["build.gc_s"] = median(g["gc_ms"] / 1e3 for g in gs)
        m["build.task_skew"] = median(task_skew(g) for g in gs)
        m["build.worker_peak_rss_mb"] = worker_mb
        idx = builds[-1].info["index_dir"]
        man = builds[-1].result
        blocks, *_ = oracle.decode_segments(idx)
        seg_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(idx, "segments")) for f in fs if f.endswith(".parquet")
        )
        m["index_store.segment_bytes_per_posting"] = seg_bytes / man.postings_total
        m["index_store.postings_per_block"] = man.postings_total / len(blocks["n_docs"])

    if any(k.startswith("query.engine.") for k in timed):
        empty = {"jobs": 0, "tasks": 0, "shuffle_write_b": 0, "sql": {}, "python_in_rows": 0,
                 "job_submit_ms": []}
        for op in SEARCH_OPS:
            ops = timed.get(f"query.engine.{op}", [])
            if not ops:
                continue
            p = f"query.engine.{op}."
            gs = [groups.get(o.gid, empty) for o in ops]
            m[p + "prep_ms"] = median(o.prep_s * 1e3 for o in ops)
            m[p + "prep_jobs"] = median(
                sum(t <= o.info["prep_end_ms"] for t in g["job_submit_ms"]) for o, g in zip(ops, gs))
            m[p + "exec_ms"] = median((o.t1 - o.t0 - o.prep_s) * 1e3 for o in ops)
            m[p + "jobs"] = median(g["jobs"] for g in gs)
            m[p + "tasks"] = median(g["tasks"] for g in gs)
            m[p + "scan_rows"] = median(g["python_in_rows"] for g in gs)
            m[p + "shuffle_kb"] = median(g["shuffle_write_b"] / 1e3 for g in gs)
            m[p + "python_s"] = median(python_seconds(g) for g in gs)
        # postings per shipped block of the query's terms, from the index the benchmark decoded
        seg, *_ = oracle.decode_segments(wl.index_dir)
        terms = pq.read_table(os.path.join(wl.index_dir, "terms")).to_pandas()
        tid = dict(zip(terms["term"], terms["term_id"].astype(int)))
        size: dict[int, list[int]] = {}
        for t_id, n in zip(seg["term_id"], seg["n_docs"]):
            size.setdefault(int(t_id), []).append(int(n))

        def postings_per_result(o) -> float:
            sizes = [n for t in set(o.info["terms"]) for n in size.get(tid.get(t, -1), ())]
            shipped = groups.get(o.gid, empty)["python_in_rows"]
            return shipped * (sum(sizes) / max(1, len(sizes))) / max(1, len(o.result or ()))

        m["query.engine.bm25_topk.postings_per_result"] = median(
            postings_per_result(o) for o in timed.get("query.engine.bm25_topk", []))

    mb = timed.get("query.microbatch", [])
    if mb:
        batches = sorted(wl.probe.batches)
        waits = []
        for o in mb:
            start = next((t for t, qs in batches if t >= o.t0 and o.info["query"] in qs), None)
            if start is not None:
                waits.append((start - o.t0) * 1e3)
        n_batches = sum(1 for t, _ in batches if mb[0].t0 <= t <= mb[-1].t1)
        m["query.microbatch.queries_per_batch"] = len(mb) / max(1, n_batches)
        m["query.microbatch.wait_ms"] = median(waits)

    sv = timed.get("service.bm25", [])
    if sv:
        ok = [o for o in sv if o.result is not None]
        hits = [(o.t1 - o.t0) * 1e3 for o in ok if o.result["cached"]]
        miss = [(o.t1 - o.t0) * 1e3 for o in ok if not o.result["cached"]]
        lat = sorted((o.t1 - o.t0) * 1e3 for o in sv)
        m["service.result_hit_rate"] = len(hits) / len(sv)
        m["service.hit_ms"] = median(hits)
        m["service.miss_ms"] = median(miss)
        m["service.p50_ms"] = median(lat)
        m["service.p99_ms"] = lat[min(len(lat) - 1, int(0.99 * len(lat)))]
        jobs = sum(g["jobs"] for gid, g in groups.items() if gid.startswith("service.bm25#") and
                   any(o.gid == gid for o in sv))
        m["service.spark_jobs_per_kq"] = jobs * 1e3 / len(sv)

    if timed.get("ops.lsh_jaccard"):
        for name in ("lsh_jaccard", "minhash_lsh", "simhash"):
            m[f"ops.{name}_s"] = median(o.t1 - o.t0 for o in timed[f"ops.{name}"])
        per_round = [
            sum(groups.get(o.gid, {"shuffle_write_b": 0})["shuffle_write_b"]
                for o in (a, b, c)) / 1e6
            for a, b, c in zip(timed["ops.lsh_jaccard"], timed["ops.minhash_lsh"], timed["ops.simhash"])
        ]
        m["ops.shuffle_mb"] = median(per_round)
        m["ops.confirmed_per_candidate"] = median(
            len(a.result or ()) / max(1, len(b.result or ()))
            for a, b in zip(timed["ops.lsh_jaccard"], timed["ops.minhash_lsh"]))
    return m


def python_seconds(g: dict) -> float:
    """The group's "time to run Python workers" SQL metric (kept in ms), in seconds."""
    return g.get("sql", {}).get("time to run Python workers", 0.0) / 1e3


if __name__ == "__main__":
    main()
