"""Steadiness report: repeat each workload in fresh processes and print,
per metric, the median, the quartiles, the spread (q3 - q1) / median that
the bounds in BENCHMARK.json are checked against, and max / min.

    python3 perfbench/steady.py [--workloads backfill trickle] [--seeds 10]
        [--first-seed 1] [--trace 0|1|both] [--out runs.jsonl]

With ``--trace both`` it also prints the tracing overhead per workload:
1 - median traced events/s / median untraced events/s.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = next((json.loads(x[len("detail "):]) for x in lines if x.startswith("detail ")), {})
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": result, "detail": detail}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    lo, hi = min(values), max(values)
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "max_min": hi / lo if lo else float("inf"),
    }


def report(runs: list[dict], bounds: dict[str, float]) -> None:
    by_key: dict[tuple, list[dict]] = {}
    for r in runs:
        by_key.setdefault((r["workload"], r["trace"]), []).append(r)
    for (workload, trace), rs in sorted(by_key.items()):
        ok = sum(r["result"]["correct"] for r in rs)
        walls = [r["wall_s"] for r in rs]
        print(f"\n== {workload} trace={trace}: {len(rs)} runs, {ok} correct, "
              f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6} {'max/min':>8}")
        names = rs[0]["result"]["metrics"].keys()
        for name in names:
            s = spread([r["result"]["metrics"][name]["value"] for r in rs])
            bound = bounds.get(name)
            flag = "" if bound is None or s["iqr_share"] <= bound / 3 else "  <-- above bound/3"
            print(f"{name:34} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
                  f"{s['iqr_share']:8.3f} {'' if bound is None else bound:>6} {s['max_min']:8.3f}{flag}")
    for workload in sorted({w for w, _ in by_key}):
        plain, traced = by_key.get((workload, 0)), by_key.get((workload, 1))
        if plain and traced:
            a = statistics.median(r["result"]["metrics"]["events_per_s"]["value"] for r in plain)
            b = statistics.median(r["result"]["metrics"]["trace.events_per_s"]["value"] for r in traced)
            print(f"\n{workload}: tracing overhead {1 - b / a:+.3f} of untraced events/s ({a:.4g} vs {b:.4g})")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    p.add_argument("--out", help="append every run as one JSON line here")
    args = p.parse_args(argv)
    traces = (0, 1) if args.trace == "both" else (int(args.trace),)
    runs = []
    for workload in args.workloads:
        for trace in traces:
            for seed in range(args.first_seed, args.first_seed + args.seeds):
                r = run_once(workload, seed, args.seconds, trace)
                runs.append(r)
                print(f"{workload} trace={trace} seed={seed} wall={r['wall_s']:.1f}s "
                      f"correct={r['result']['correct']}", flush=True)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(r) + "\n")
    report(runs, {m["name"]: m["bound"] for m in bench["end_to_end"]})
    return 0


if __name__ == "__main__":
    sys.exit(main())
