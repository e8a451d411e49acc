#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 10]   # the benchmark's workloads, untraced
    python3 perfbench/run.py --selftest                        # the benchmark's own unit tests

One run builds the program from source if needed (perfbench/build.py),
starts one JVM with Spark local[min(2, nproc)], sets the workload up,
warms it, drives a closed loop with one client for --seconds, checks the
outputs against the benchmark's own model, and prints one report line per
figure followed, as the last line of stdout, by
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones and writes the span
file. Full results, the span file and Spark's log go to
$CARGO_TARGET_DIR/results (default .bench_build/results).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build as bench_build  # noqa: E402

# The benchmark's workloads; vt_corpus_mixed runs vt_mixed and
# corpus_incremental as one mix, and the two also run alone.
BENCHMARK_WORKLOADS = ["medallion", "vt_corpus_mixed"]
WORKLOADS = BENCHMARK_WORKLOADS + ["vt_mixed", "corpus_incremental"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if the file is here."""
    if not os.path.isfile("BENCHMARK.json"):
        return None
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_one(workload, seed, seconds, trace, out_build):
    out = os.path.join(bench_build.build_dir(), "results")
    os.makedirs(out, exist_ok=True)
    work = os.path.abspath(os.path.join(bench_build.build_dir(), "work", f"{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    stem = os.path.abspath(os.path.join(out, f"{workload}-s{seed}-t{trace}"))
    result_file = stem + ".json"
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = bench_build.java_cmd(out_build, "perfbench.Main", workload, str(seed), str(seconds),
                               str(trace), work, result_file, extra=[f"-Djava.io.tmpdir={work}/tmp"])
    with open(stem + ".log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        with open(stem + ".log") as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        why = "timed out" if code is None else f"exited with {code}"
        fail(f"{workload}: the benchmark JVM {why}; log in {stem}.log")
    with open(result_file) as f:
        return json.load(f)


def report(res):
    w = res["workload"]
    for name, r in res["report"].items():
        if isinstance(r, dict) and "unit" in r:
            extra = " ".join(f"{k}={v}" for k, v in r.items() if k not in ("value", "unit"))
            print(f"perfbench {w} {name} = {r['value']} {r['unit']} {extra}".rstrip())
        else:
            print(f"perfbench {w} {name} = {json.dumps(r)}")
    c = res["contention"]
    print(f"perfbench {w} contended = {c['contended']} (others_cores={c['others_cores']:.2f}, "
          f"steal_cores={c['steal_cores']:.2f}, "
          f"loadavg before/start/end = {c['loadavg_before']}/{c['loadavg_timed_start']}/"
          f"{c['loadavg_timed_end']}, thresholds {json.dumps(c['thresholds'])})")
    for m in res["mismatches"] + res["errors"]:
        print(f"perfbench {w} CHECK FAILED: {m}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run the benchmark's workloads untraced")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own unit tests")
    a = ap.parse_args()
    if not (a.workload or a.all or a.selftest):
        ap.error("give --workload, --all or --selftest")

    try:
        out_build = bench_build.build()
    except bench_build.BuildError as e:
        fail(str(e))

    if a.selftest:
        r = subprocess.run(bench_build.java_cmd(out_build, "perfbench.SelfTest"))
        sys.exit(r.returncode)

    if a.all:
        ok = True
        for w in BENCHMARK_WORKLOADS:
            res = run_one(w, a.seed, a.seconds, 0, out_build)
            report(res)
            ok = ok and res["correct"]
        sys.exit(0 if ok else 1)

    res = run_one(a.workload, a.seed, a.seconds, a.trace, out_build)
    report(res)
    want = expected_metrics(a.trace)
    if want is not None and sorted(want) != sorted(res["metrics"]):
        fail(f"metrics {sorted(res['metrics'])} do not match BENCHMARK.json's {sorted(want)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
