#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/report.py <set_a> <set_b>

Each set is a directory of run records as run.py writes them (under
`.bench_build/records/`); set A is the reference (the parent commit, or
the first of two sets of the same code), set B the candidate. For every
workload x end-to-end metric it prints each set's median, quartiles and run
count, the spread (quartile distance / median) and a verdict by the rule in
the choosing-metrics guide, section 8:

- unresolved: a set's spread is wider than the metric's bound, unless every
  run of B reads better than every run of A (then: better);
- worse: B's median is worse than A's by more than the bound;
- better: B wins at least 9 of 10 seed-paired runs and the medians differ by
  more than A's quartile distance;
- agree: otherwise.

It also prints the tracing overhead (traced minus untraced median
`sweep_s`) for each set that holds traced runs. Exits 1 if any pair reads
worse or unresolved.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    recs = []
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if not r.get("smoke"):
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, bound, higher, pairs):
    qa, qb = quartiles(a), quartiles(b)
    spread = lambda q: (q[2] - q[0]) / q[1] if q[1] else float("inf")
    better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
    if spread(qa) > bound or spread(qb) > bound:
        return "better" if all(better(y, x) for x in a for y in b) else "unresolved"
    worse_by = (qa[1] - qb[1]) / qa[1] if higher else (qb[1] - qa[1]) / qa[1]
    if worse_by > bound:
        return "worse"
    wins = sum(1 for x, y in pairs if better(y, x))
    if pairs and wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        return "better"
    return "agree"


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets = [load(d) for d in argv]
    bad = 0
    print(f"{'workload':<14}{'metric':<13}{'A median [q1,q3] n':>36}{'B median [q1,q3] n':>36}"
          f"{'spreadA':>9}{'spreadB':>9}{'bound':>7}  verdict")
    for w in spec["workloads"]:
        runs = [[r for r in s if r["workload"] == w["name"] and r["trace"] == 0] for s in sets]
        if not all(runs):
            print(f"{w['name']:<14}(no untraced runs in one of the sets)")
            continue
        for m in spec["end_to_end"]:
            a, b = ([r["metrics"][m["name"]] for r in rs] for rs in runs)
            by_seed = [{r["seed"]: r["metrics"][m["name"]] for r in rs} for rs in runs]
            pairs = [(by_seed[0][s], by_seed[1][s]) for s in by_seed[0] if s in by_seed[1]]
            v = verdict(a, b, m["bound"], m["better"] == "higher", pairs)
            bad += v in ("worse", "unresolved")
            qa, qb = quartiles(a), quartiles(b)
            cell = lambda q, n: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}] {n}"
            print(f"{w['name']:<14}{m['name']:<13}{cell(qa, len(a)):>36}{cell(qb, len(b)):>36}"
                  f"{(qa[2] - qa[0]) / qa[1]:>9.3f}{(qb[2] - qb[0]) / qb[1]:>9.3f}{m['bound']:>7}  {v}")
    for label, s in zip("AB", sets):
        for w in spec["workloads"]:
            traced = [r["metrics"]["trace.sweep_s"] for r in s if r["workload"] == w["name"] and r["trace"] == 1]
            plain = [r["metrics"]["sweep_s"] for r in s if r["workload"] == w["name"] and r["trace"] == 0]
            if traced and plain:
                t, u = statistics.median(traced), statistics.median(plain)
                print(f"set {label} {w['name']}: tracing overhead {t - u:+.3f} s on sweep_s "
                      f"({(t - u) / u:+.1%}; traced n={len(traced)}, untraced n={len(plain)})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
