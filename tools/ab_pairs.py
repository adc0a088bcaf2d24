"""Alternating parent/change pairs of the repo benchmark.

    python3 tools/ab_pairs.py --parent <rev> --workload <name> --seeds 8401-8410

Exports <rev> with `git archive` into a directory under the system temp
dir (kept and reused across invocations, so its benchmark build is
cached; no git worktree is added) and runs `perfbench/run.py` once per
seed in that export and once in this checkout, alternating which side
runs first, for BENCHMARK.json's `run_seconds` with tracing off. Each
run's metrics are printed as it ends. Then, for every metric in
BENCHMARK.json's `end_to_end` list it prints each side's median, the
change/parent ratio of the medians and of every pair, the number of
pairs the change won (ties count for neither), and the parent's
quartiles and IQR. Runs that fail or report `correct: false` are listed
and counted per side, and their pairs are left out of the figures; the
script draws no verdict.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev):
    """A `git archive` of `rev` under the temp dir; reused when present."""
    sha = subprocess.check_output(["git", "rev-parse", rev], cwd=REPO, text=True).strip()
    dest = os.path.join(tempfile.gettempdir(), "ab-parent-" + sha[:12])
    if not os.path.exists(os.path.join(dest, ".ab-exported")):
        blob = subprocess.check_output(["git", "archive", sha], cwd=REPO)
        with tarfile.open(fileobj=io.BytesIO(blob)) as t:
            t.extractall(dest)
        open(os.path.join(dest, ".ab-exported"), "w").close()
    return sha, dest


def bench(checkout, a, seconds, seed):
    """One benchmark run: its metrics, or None with the reason it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, "exit %d, no result" % p.returncode
    if not res.get("correct") or res.get("failed", 0):
        return None, "correct=%s failed=%s" % (res.get("correct"), res.get("failed"))
    return {k: m["value"] for k, m in res["metrics"].items()}, None


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 8401-8410")
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e, seconds = spec["end_to_end"], spec["run_seconds"]
    sha, parent_dir = export(a.parent)
    print("parent %s in %s; change = %s" % (sha[:12], parent_dir, REPO), flush=True)

    pairs, failures = [], []
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", parent_dir), ("change", REPO)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side], why = bench(checkout, a, seconds, seed)
            if why:
                failures.append((seed, side, why))
            print("seed %d %-6s %s" % (seed, side, why or json.dumps(got[side])), flush=True)
        if got["parent"] and got["change"]:
            pairs.append((seed, got["parent"], got["change"]))

    print("\n%d pairs on %s (seeds %s); failed runs: parent %d, change %d" % (
        len(pairs), a.workload, a.seeds, sum(1 for f in failures if f[1] == "parent"),
        sum(1 for f in failures if f[1] == "change")))
    for seed, side, why in failures:
        print("  failed: seed %d %s: %s" % (seed, side, why))
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        ps = [(p[name], c[name]) for _, p, c in pairs if name in p and name in c]
        if not ps:
            continue
        par, chg = [p for p, _ in ps], [c for _, c in ps]
        pm, cm = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(sorted(par))
        wins = sum(1 for p, c in ps if (c < p if lower else c > p))
        ratios = [c / p if p else float("nan") for p, c in ps]
        print("%-11s parent %.4g  change %.4g  (%+.1f%%, %s is better)  won %d/%d  "
              "parent IQR %.4g (%.4g..%.4g)" % (
                  name, pm, cm, 100 * (cm / pm - 1) if pm else float("nan"), m["better"],
                  wins, len(ps), q3 - q1, q1, q3))
        print("            per-pair change/parent: %s" % " ".join("%.3f" % r for r in ratios))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
