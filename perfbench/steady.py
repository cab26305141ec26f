"""Steadiness check: run one workload N times, each in a fresh process with
its own seed, and print each end-to-end metric's median, quartiles and
spread (Q3-Q1 over the median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload build_dedup --runs 10 [--first-seed 1]
        [--traced 2]

Each run's standard error (set-up steps, per-operation timings) is kept in
.bench_work/steady-<workload>-<seed>-<trace>.log.  ``--traced K`` adds K runs with ``--trace 1`` and reports the tracing
overhead as the traced median of ``trace.round_ms`` over the untraced
median of ``round_ms``, minus one.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", f"steady-{workload}-{seed}-{trace}.log"), "w") as f:
        f.write(p.stderr)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    shares, walls = set(), []
    for i in range(args.runs):
        seed = args.first_seed + i
        res, wall = one_run(args.workload, seed, spec["run_seconds"], 0)
        walls.append(wall)
        shares.add((res["failed"], res["attempted"]) if res["failed"] else (0, 1))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)

    report = {"workload": args.workload, "runs": args.runs, "wall_s": walls, "metrics": {}}
    print(f"\n{'metric':16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} {'spread/bound':>12}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        b = bounds.get(k)
        print(f"{k:16} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {b!s:>6} "
              f"{spread / b if b else float('nan'):12.2f}")
        report["metrics"][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": b,
                                "values": vs}
    fail_shares = {f / a for f, a in shares}
    print(f"failed share per run: {sorted(fail_shares)}; run wall time median "
          f"{statistics.median(walls):.1f}s, max {max(walls):.1f}s")

    if args.traced:
        traced = [one_run(args.workload, args.first_seed + i, spec["run_seconds"], 1)[0]
                  for i in range(args.traced)]
        t_round = statistics.median(r["metrics"]["trace.round_ms"]["value"] for r in traced)
        base = statistics.median(values["round_ms"])
        report["trace_overhead"] = t_round / base - 1
        print(f"tracing overhead: traced round {t_round:.0f} ms vs untraced {base:.0f} ms "
              f"({report['trace_overhead']:+.1%})")
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", f"steady-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
