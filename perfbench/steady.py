"""Steadiness evidence: run sets of benchmark runs and print, per set,
each end-to-end metric's median, quartiles and spread (quartile distance
over median), then how far each set's median moved from the first set's.

    python3 perfbench/steady.py --sets 2 --runs 10 --seconds 6
    python3 perfbench/steady.py --workloads ingest_epochs --sets 1 --runs 5 --seconds 6 --traced

Every run is a new process with its own seed (seeds are consecutive from
``--first-seed``); workloads are interleaved within a set so host drift
falls on all of them alike. With each run it records the host's load
average and the time of a fixed pure-Python loop, as context only: no
metric is normalized by them. ``--traced`` adds one traced run per
workload and reports the tracing overhead as traced over untraced
``items_per_s``. Results are also written to
``.perfbench_out/steady-<time>.json``.
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


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop (host speed context)."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    load = os.getloadavg()[0]
    probe = cpu_probe()
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {
        "workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
        "wall_s": wall, "load1": load, "cpu_probe_s": probe, "result": result,
    }


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, seed = [], args.first_seed
    for s in range(args.sets):
        for _ in range(args.runs):
            for w in args.workloads:
                r = one_run(w, seed, args.seconds, 0)
                r["set"] = s
                runs.append(r)
                res = r["result"] or {}
                print(
                    f"set {s} {w} seed {seed} rc {r['rc']} wall {r['wall_s']:.1f}s "
                    f"load {r['load1']:.2f} probe {r['cpu_probe_s']:.3f}s "
                    f"failed {res.get('failed')}/{res.get('attempted')} "
                    + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                    flush=True,
                )
            seed += 1
    report = {"runs": runs, "sets": {}}
    print("\nworkload metric set: median [q1, q3] spread (bound) | shift vs set 0")
    for w in args.workloads:
        for metric, bound in bounds.items():
            first = None
            for s in range(args.sets):
                vals = [
                    r["result"]["metrics"][metric]["value"]
                    for r in runs
                    if r["set"] == s and r["workload"] == w and r["result"]
                    and metric in r["result"]["metrics"]
                ]
                if not vals:
                    continue
                st = summary(vals)
                report["sets"].setdefault(w, {}).setdefault(metric, []).append(st)
                first = first or st
                shift = st["median"] / first["median"] - 1
                print(
                    f"{w} {metric} set {s}: {st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] "
                    f"spread {st['spread']:.3f} ({bound}) | shift {shift:+.3f}"
                )
    if args.traced:
        print("\ntracing overhead (traced / untraced items_per_s):")
        for w in args.workloads:
            r = one_run(w, seed, args.seconds, 1)
            runs.append(r)
            untraced = report["sets"][w]["items_per_s"][-1]["median"]
            traced = r["result"]["metrics"]["trace.items_per_s"]["value"] if r["result"] else None
            report.setdefault("overhead", {})[w] = traced / untraced if traced else None
            print(f"{w}: traced {traced} vs untraced median {untraced:.4g}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
