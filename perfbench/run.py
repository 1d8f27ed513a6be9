"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload pipeline_ndjson --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source when needed (see build.py), then
runs perfbench.BenchMain in one local[4] JVM. Human-readable lines come first;
the last line of standard output is the JSON result
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of a separate traced run with --trace 1.
Inputs, outputs and traces live under .bench_build/work at the checkout root.
Exits non-zero, without a result, when the build, the run or its output fails.

    python3 perfbench/run.py --digest-seeds 1,1,2   # input digests per seed
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["pipeline_ndjson", "dedup_pairs", "stream_replay"]
RUN_TIMEOUT_S = 170
HEAP = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g"]
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def run_jvm(classpath, args, log_name, timeout_s):
    """Runs BenchMain; returns (exit code, stdout lines). Kills the JVM on timeout."""
    work = os.path.join(build.BUILD, "work")
    os.makedirs(work, exist_ok=True)
    cmd = ["java", *HEAP, *OPENS, "-cp", classpath, "perfbench.BenchMain", "--work", work, *args]
    log_path = os.path.join(build.BUILD, log_name)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            sys.stderr.write(f"perfbench: run exceeded {timeout_s} s, killed\n")
            return 124, []
    if p.returncode != 0:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
    return p.returncode, out.splitlines()


def expected_metrics(trace):
    """(name, unit) pairs BENCHMARK.json lists for this mode, if it is there."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest-seeds")
    a = ap.parse_args()
    if not a.workload and not a.digest_seeds:
        ap.error("--workload is required")
    try:
        classpath = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench build: {e}")
    started = time.monotonic()

    if a.digest_seeds:
        rc, lines = run_jvm(classpath, ["--digest", "--seeds", a.digest_seeds],
                            "digest.log", RUN_TIMEOUT_S)
        digests = [ln.split()[1:] for ln in lines if ln.startswith("DIGEST ")]
        if rc != 0 or not digests:
            sys.exit(f"perfbench: digest run failed (exit {rc})")
        print(json.dumps([{"workload": w, "seed": int(s), "digest": d} for w, s, d in digests]))
        return

    rc, lines = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)], f"{a.workload}-trace{a.trace}.log",
        RUN_TIMEOUT_S - (time.monotonic() - started))
    result = None
    for line in lines:
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if rc != 0 or result is None:
        sys.exit(f"perfbench: {a.workload} run failed (exit {rc})")
    want = expected_metrics(a.trace == 1)
    got = [(n, m["unit"]) for n, m in result["metrics"].items()]
    if want is not None and got != want:
        sys.exit(f"perfbench: metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
