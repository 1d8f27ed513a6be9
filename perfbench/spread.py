"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload and reports, per metric,
the median and the quartile spread (Q3 - Q1) / median as
statistics.quantiles(values, n=4) gives them, next to the metric's bound in
BENCHMARK.json. With --traced, it also makes one traced run per workload on
the first seed. With --out, writes the runs and the summary as JSON.

    python3 perfbench/spread.py --runs 10 --first-seed 100 --traced --out perfbench/baseline.json
    python3 perfbench/spread.py --workloads dedup_pairs --runs 5
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JOB_LINE = re.compile(r"\s+job \d+: ([0-9.]+) s")


def run_once(workload, seed, seconds, trace=0):
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (exit {r.returncode})")
    res = json.loads(lines[-1])
    res["wall_s"] = time.monotonic() - t0
    # every job of the run, warm-up and timed, in order
    res["jobs_s"] = [float(m.group(1)) for m in map(JOB_LINE.match, lines) if m]
    return res


def summarize(runs, bounds):
    out = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0, "bound": bound}
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            res = run_once(w, a.first_seed + i, spec["run_seconds"])
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"{w} seed {a.first_seed + i}: output check failed")
            runs.append(res)
            print(f"{w} seed {a.first_seed + i} ({res['wall_s']:.0f} s): " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()) +
                "\n    jobs " + " ".join(f"{t:.2f}" for t in res["jobs_s"]), flush=True)
        report[w] = {"seeds": [a.first_seed + i for i in range(a.runs)], "runs": runs,
                     "summary": summarize(runs, bounds),
                     "mean_wall_s": statistics.mean(r["wall_s"] for r in runs)}
        if a.traced:
            report[w]["traced"] = run_once(w, a.first_seed, spec["run_seconds"], trace=1)
        for n, s in report[w]["summary"].items():
            flag = "ok" if s["spread"] < s["bound"] / 3 else ("within bound" if s["spread"] <= s["bound"] else "TOO WIDE")
            print(f"  {w:16s} {n:14s} median {s['median']:12.5g}  spread {s['spread']:.3f}"
                  f"  bound {s['bound']}  {flag}", flush=True)
    print("mean wall per run: " + ", ".join(
        f"{w} {r['mean_wall_s']:.1f} s" for w, r in report.items()), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
