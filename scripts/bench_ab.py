#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a parent revision against this checkout.

    python3 scripts/bench_ab.py PARENT_REV WORKLOAD N [--seconds 10] [--seed0 500]

Exports PARENT_REV (any git revision) into its own directory under /tmp
with `git archive`, so each side builds and keeps its own .bench_build.
Then runs `perfbench/run.py --workload WORKLOAD --seed S --seconds SECONDS
--trace 0` N times per side, one pair per seed S = seed0, seed0 + 1, ...,
alternating which side runs first. It changes nothing under perfbench/.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, how many pairs the change won (ties count for neither
side), whether the gain rule holds — the change wins at least nine tenths
of the pairs and the medians differ by more than the parent's
interquartile range — and whether the change's median is worse than the
parent's by more than the metric's bound. A run that is not correct or
has failed operations is reported and makes the script exit 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[bench_ab] {msg}", file=sys.stderr, flush=True)


def export(rev):
    """The parent's tracked files in /tmp/bench-ab-<commit>, exported once."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    d = f"/tmp/bench-ab-{sha[:12]}"
    if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
    return d


def run(side, cwd, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(f"{side} seed {seed}: run.py exited {p.returncode}\n{p.stderr[-2000:]}")
        return None
    res = json.loads(lines[-1])
    log(f"{side} seed {seed}: correct={res['correct']} failed={res['failed']} " +
        " ".join(f"{k}={v['value']}" for k, v in res["metrics"].items()))
    return res


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("workload")
    ap.add_argument("n", type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=500)
    ap.add_argument("--out", help="also write every run's result as JSON lines here")
    a = ap.parse_args()
    if a.n < 2:
        sys.exit("N must be at least 2")

    sides = {"parent": export(a.parent), "change": ROOT}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    runs = {"parent": [], "change": []}
    bad = []
    out = open(a.out, "w") if a.out else None
    for i in range(a.n):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(side, sides[side], a.workload, seed, a.seconds)
            if res is None or not res["correct"] or res["failed"]:
                bad.append((side, seed))
            runs[side].append(res)
            if out:
                out.write(json.dumps({"side": side, "seed": seed, "result": res}) + "\n")
                out.flush()
    if out:
        out.close()

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    print(f"{a.workload}: {len(pairs)} pairs, parent {a.parent}, --seconds {a.seconds}, "
          f"seeds {a.seed0}..{a.seed0 + a.n - 1}")
    def cell(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'metric':14s} {'parent med [q1, q3]':26s} {'change med [q1, q3]':26s} "
          f"{'delta':>7s} {'wins':>7s} {'gain rule':>9s} {'bound':>6s}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name]["value"] for p, _ in pairs]
        cs = [c["metrics"][name]["value"] for _, c in pairs]
        if len(ps) < 2 or None in ps or None in cs:
            print(f"{name:14s} not measured on every run")
            continue
        pq, cq = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = delta if lower else -delta
        rule = wins * 10 >= 9 * len(pairs) and -worse * pq[1] > pq[2] - pq[0]
        print(f"{name:14s} {cell(pq):26s} {cell(cq):26s} {delta * 100:+6.1f}% "
              f"{wins:3d}/{len(pairs):<3d} {'holds' if rule else 'no':>9s} "
              f"{'ok' if worse <= m['bound'] else 'WORSE':>6s}")
    if bad:
        print("not correct or with failed operations: " +
              ", ".join(f"{s} seed {seed}" for s, seed in bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
