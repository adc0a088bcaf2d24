"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <web_extract|mstr_graph|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs the workload
in one JVM at local[nproc], checks every output, and prints the named
numbers and box state followed, as the last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. The seed's inputs are made before the measured
JVM starts. Exits non-zero when an output check fails or when
the program cannot be built. Everything it writes goes under
.bench_build/perfbench in the checkout. See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("web_extract", "mstr_graph", "corpus_dedup")
DEADLINE_S = 170
DEDUP_DOCS = {"full": 1600, "toy": 600}


def run(cmd, log, deadline):
    """Run one step of the benchmark, its stderr appended to `log`;
    return its exit code and stdout lines, or None when the deadline
    passes."""
    log.flush()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    return proc.returncode, out.splitlines()


def tagged(lines, tag):
    """The payloads of the stdout lines that start with `tag`."""
    return [l[len(tag) + 1:] for l in lines if l.startswith(tag + " ")]


def main():
    deadline = time.monotonic() + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "toy"),
                    help="toy: tiny inputs, for the self-test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: flip the expected digest so every check fails")
    a = ap.parse_args()

    os.makedirs(build.BUILD, exist_ok=True)
    out = build.ensure_built()
    if out is None:
        return 2
    java = build.java_cmd(out)
    log_path = os.path.join(build.BUILD, "last-run.log")

    inputs = ""
    if a.workload == "corpus_dedup":
        inputs = os.path.join(build.BUILD, "inputs", "dedup-s%d-%s" % (a.seed, a.scale))

    def args(inputs_only):
        return build.main_args(a.workload, a.seed, a.seconds, a.trace, a.scale,
                               a.corrupt_expected, inputs_only, inputs)

    # The seed's inputs are made (or found cached) before the measured
    # JVM starts, so its set-up is the same whether they were cached or
    # not: corpus_dedup's in Python with DuckDB, web_extract's in a JVM
    # of their own; mstr_graph's are made in memory by the measured JVM.
    with open(log_path, "w") as log:
        runs = []
        if inputs and not os.path.exists(os.path.join(inputs, "_DONE")):
            cmd = [sys.executable, os.path.join(HERE, "dedup_inputs.py"), "--dir", inputs,
                   "--seed", str(a.seed), "--docs", str(DEDUP_DOCS[a.scale]),
                   "--sql", os.path.join(out, "oracle")]
            runs.append(run(cmd, log, deadline))
        elif a.workload == "web_extract":
            runs.append(run(java + args(True), log, deadline))
        if all(r is not None and r[0] == 0 for r in runs):
            runs.append(run(java + args(False), log, deadline))
    if None in runs:
        print("perfbench: run exceeded %d s; log in %s" % (DEADLINE_S, log_path), file=sys.stderr)
        return 3
    rc, lines = runs[-1]
    results = tagged(lines, "PERFBENCH-RESULT")
    if rc != 0 or not results:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print("perfbench: exit codes %s and no result" % [r[0] for r in runs], file=sys.stderr)
        return 4
    result = json.loads(results[-1])
    for info in map(json.loads, tagged(lines, "PERFBENCH-INFO")):
        print("workload %s seed %s" % (info["workload"], info["seed"]))
        for k, v in info["named"].items():
            print("  %-30s %s" % (k, v))
        print("  box %s" % json.dumps(info["box"], sort_keys=True))
    for f in tagged(lines, "PERFBENCH-FAILURE"):
        print("  check failed: " + f)
    for name, m in result["metrics"].items():
        print("  %-40s %s %s" % (name, m["value"], m["unit"]))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
