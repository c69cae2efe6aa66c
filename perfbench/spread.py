#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the baseline record.

    python3 perfbench/spread.py --seeds 1-10 [--workloads filter_job,stream_ingest]
        [--traced] [--out FILE]

Runs perfbench/run.py once per seed and workload (untraced, for the
BENCHMARK.json run_seconds), then prints, per workload and metric, the
median and the distance between the first and third quartiles as a share
of the median (statistics.quantiles, n=4), next to the metric's bound.
--traced adds one traced run per workload on the first seed, with its
per-layer metrics and tracing overhead. With --out, writes every run's
result, the host context and the summary as one JSON record.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    took = time.time() - t0
    if p.returncode != 0:
        print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None, took
    return json.loads(p.stdout.strip().splitlines()[-1]), took


def record(workload, seed, trace):
    path = os.path.join(ROOT, ".bench_work", "results",
                        f"record_{workload}_seed{seed}_trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, summary = [], {}
    for w in a.workloads.split(","):
        values = {m: [] for m in bounds}
        for s in seeds(a.seeds):
            r, took = run(w, s, spec["run_seconds"], 0)
            if r is None:
                continue
            runs.append({"workload": w, "seed": s, "trace": 0, "wall_s": took, "result": r,
                         "record": record(w, s, 0)})
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            print(f"{w} seed {s}: {took:.1f} s correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{m}={r['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        summary[w] = {}
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            summary[w][m] = {"median": med, "q1": q1, "q3": q3, "iqr_share": spread,
                             "bound": bounds[m], "n": len(xs)}
            flag = "" if spread < bounds[m] / 3 else "  <-- above bound/3"
            print(f"{w:14s} {m:14s} median {med:12.4f}  iqr/median {spread:.4f}  bound {bounds[m]}{flag}")
        if a.traced:
            s = seeds(a.seeds)[0]
            r, took = run(w, s, spec["run_seconds"], 1)
            if r is not None:
                rec = record(w, s, 1)
                runs.append({"workload": w, "seed": s, "trace": 1, "wall_s": took, "result": r,
                             "record": rec})
                print(f"{w} traced seed {s}: {took:.1f} s correct={r['correct']} overhead " +
                      json.dumps(rec.get("tracing_overhead", {}).get("share", {})), flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"date": time.strftime("%Y-%m-%d"), "host": {"nproc": os.cpu_count(),
                       "machine": platform.machine()}, "run_seconds": spec["run_seconds"],
                       "summary": summary, "runs": runs}, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
