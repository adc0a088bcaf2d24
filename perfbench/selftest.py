"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py

1. Every workload runs with --trace 0 and --trace 1; each run passes
   its output checks and prints exactly the metrics of BENCHMARK.json
   (end_to_end, then per_layer) with their units.
2. Every workload run with a deliberately corrupted expected digest
   fails its checks and exits non-zero.
3. Run from a directory holding only BENCHMARK.json and perfbench/, the
   command exits non-zero without printing a result.

Exits 0 when all of these hold.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("web_extract", "mstr_graph", "corpus_dedup")


def run(cwd, workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "toy"]
    if corrupt:
        cmd.append("--corrupt-expected")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: [(m["name"], m["unit"]) for m in bench["end_to_end"]],
            1: [(m["name"], m["unit"]) for m in bench["per_layer"]]}
    problems = []

    for w in WORKLOADS:
        for trace in (0, 1):
            rc, r = run(ROOT, w, trace)
            tag = "%s --trace %d" % (w, trace)
            if rc != 0 or r is None:
                problems.append("%s: exit %d, result %r" % (tag, rc, r))
                continue
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                problems.append("%s: result keys %s" % (tag, sorted(r)))
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append("%s: correct=%s failed=%s attempted=%s"
                                % (tag, r["correct"], r["failed"], r["attempted"]))
            got = [(k, v["unit"]) for k, v in r["metrics"].items()]
            if got != want[trace]:
                problems.append("%s: metrics differ from BENCHMARK.json: %s"
                                % (tag, sorted(set(got) ^ set(want[trace]))))
            if any(not isinstance(v["value"], (int, float)) for v in r["metrics"].values()):
                problems.append("%s: non-numeric metric value" % tag)
            print("ok   %s" % tag)

    for w in WORKLOADS:
        rc, r = run(ROOT, w, 0, corrupt=True)
        tag = "%s with a corrupted expected digest" % w
        if rc == 0 or r is None or r["correct"] or r["failed"] == 0:
            problems.append("%s: exit %d, result %r" % (tag, rc, r))
        else:
            print("ok   %s fails (%d of %d ops)" % (tag, r["failed"], r["attempted"]))

    bare = os.path.join(ROOT, ".bench_build", "perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, r = run(bare, WORKLOADS[0], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or r is not None:
        problems.append("bare directory: exit %d, result %r" % (rc, r))
    else:
        print("ok   bare directory exits %d without a result" % rc)

    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
