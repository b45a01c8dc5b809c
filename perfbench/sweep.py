"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/sweep.py --workloads crawl frontier --seeds 1-10 \
        --seconds 5 [--trace 0|1] [--out runs.jsonl]

For every workload and metric it prints the median, the quartiles
(``statistics.quantiles(n=4)``), the sample count and the spread
(q3 − q1) / median.  With ``--out`` every result line is appended to a
JSON-lines file; ``--compare`` reads such a file and also prints the
tracing overhead (traced ``trace.urls_per_s`` against untraced
``urls_per_s``) per workload.
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


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = {k: v for x in lines[:-1] if x.startswith("{") for k, v in json.loads(x).items()}
    return {"workload": workload, "seed": seed, "trace": trace, "run_s": time.time() - t0,
            "summary": detail["summary"], "trace_detail": detail.get("trace"), **result}


def spreads(rows: list[dict]) -> dict:
    out = {}
    for wl in sorted({r["workload"] for r in rows}):
        for trace in sorted({r["trace"] for r in rows if r["workload"] == wl}):
            sel = [r for r in rows if r["workload"] == wl and r["trace"] == trace]
            stats = {"runs": len(sel), "run_s_max": max(r["run_s"] for r in sel),
                     "run_s_mean": statistics.mean(r["run_s"] for r in sel),
                     "failed": sum(r["failed"] for r in sel)}
            for name in sel[0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r in sel]
                q1, med, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                               else (vals[0],) * 3)
                stats[name] = {"median": med, "q1": q1, "q3": q3, "n": len(vals),
                               "spread": (q3 - q1) / med if med else None}
            out[f"{wl}/trace={trace}"] = stats
    for wl in sorted({r["workload"] for r in rows}):
        plain = [r["metrics"]["urls_per_s"]["value"] for r in rows
                 if r["workload"] == wl and r["trace"] == 0]
        traced = [r["metrics"]["trace.urls_per_s"]["value"] for r in rows
                  if r["workload"] == wl and r["trace"] == 1]
        if plain and traced:
            p, t = statistics.median(plain), statistics.median(traced)
            out[f"{wl}/tracing_overhead"] = {"untraced_urls_per_s": p, "traced_urls_per_s": t,
                                             "overhead_share": p / t - 1}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=["crawl", "frontier"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", help="JSON-lines file of earlier results to summarize")
    args = ap.parse_args()
    rows = []
    if args.compare:
        with open(args.compare) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    else:
        for wl in args.workloads:
            for seed in _seeds(args.seeds):
                r = run_one(wl, seed, args.seconds, args.trace)
                rows.append(r)
                print(json.dumps({k: r[k] for k in ("workload", "seed", "run_s", "failed")}
                                 | {m: v["value"] for m, v in r["metrics"].items()}
                                 | {"phases": {k: round(v, 1) for k, v in
                                               r["summary"]["phases_s"].items()}}),
                      file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
    print(json.dumps(spreads(rows), indent=1))


if __name__ == "__main__":
    main()
