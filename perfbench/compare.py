#!/usr/bin/env python3
"""Compare two sets of benchmark results, parent against change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds result files as perfbench/run.py leaves them in
.bench_build/results/ (`<workload>-s<seed>-t<trace>.json`), from runs of
the same benchmark with the same --seconds on each side, over the same
seeds. Copy each side's results aside before running the other side.

End-to-end, per (workload, metric), untraced runs paired by seed:
  gain        the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              own spread (its quartile distance); needs 10 pairs
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's spread is wider than the bound, and not every
              change run beats every parent run
  same        none of the above
Per layer, traced runs: both medians and the change, with the end-to-end
metric and workload the layer should move (perfbench/metrics.json), and
each side's tracing overhead (traced minus untraced medians).
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(d):
    """{(workload, trace): {seed: result}}"""
    out = defaultdict(dict)
    for p in sorted(Path(d).glob("*-s*-t[01].json")):
        r = json.loads(p.read_text())
        out[(r["workload"], int(r["trace"]))][r["seed"]] = r
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """+1 when b is better than a, -1 when worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (b < a) == (direction == "lower") else -1


def verdict(a, b, direction, bound):
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if better(x, y, direction) > 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    worse_by = (mb - ma) / ma if direction == "lower" else (ma - mb) / ma
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mb - ma) > qa3 - qa1 \
            and better(ma, mb, direction) > 0:
        v = "gain"
    elif worse_by > bound:
        v = "worse"
    elif (qa3 - qa1) / ma > bound and not all(
            better(x, y, direction) > 0 for x in a for y in b):
        v = "unresolved"
    else:
        v = "same"
    return v, wins, len(pairs)


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    targets = json.loads((HERE / "metrics.json").read_text())["layers"]
    A, B = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<12} {'metric':<18} {'parent med [q1,q3]':>30} "
          f"{'change med [q1,q3]':>30} {'change':>8} {'wins':>6}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        seeds = sorted(set(A[(w, 0)]) & set(B[(w, 0)]))
        if not seeds:
            continue
        fa = sum(A[(w, 0)][s]["failed"] for s in seeds)
        fb = sum(B[(w, 0)][s]["failed"] for s in seeds)
        for m in bench["end_to_end"]:
            a = [A[(w, 0)][s]["end_to_end"][m["name"]] for s in seeds]
            b = [B[(w, 0)][s]["end_to_end"][m["name"]] for s in seeds]
            v, wins, n = verdict(a, b, m["better"], m["bound"])
            if v == "gain" and fb > fa:
                v = "no gain: more failures"
            qa, qb = quartiles(a), quartiles(b)
            print(f"{w:<12} {m['name']:<18} "
                  f"{qa[1]:>12.4g} [{qa[0]:.4g},{qa[2]:.4g}] "
                  f"{qb[1]:>12.4g} [{qb[0]:.4g},{qb[2]:.4g}] "
                  f"{(qb[1] - qa[1]) / qa[1]:>+8.1%} {wins:>3}/{n:<2}  {v}")
        print(f"{w:<12} {'failed':<18} {fa:>30} {fb:>30}")
    print()
    print(f"{'layer metric':<34} {'workload':<12} {'parent':>12} {'change':>12} "
          f"{'change':>8}  should move")
    for m in bench["per_layer"]:
        t = targets.get(m["name"], {})
        for w in t.get("workloads", []):
            a = [r["layers"][m["name"]] for r in A[(w, 1)].values()]
            b = [r["layers"][m["name"]] for r in B[(w, 1)].values()]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            rel = f"{(mb - ma) / ma:+8.1%}" if ma else f"{'':>8}"
            print(f"{m['name']:<34} {w:<12} {ma:>12.4g} {mb:>12.4g} {rel}  "
                  f"{', '.join(t.get('moves', []))}")
    print()
    for side, R in (("parent", A), ("change", B)):
        for w in [x["name"] for x in bench["workloads"]]:
            if R[(w, 0)] and R[(w, 1)]:
                over = {m["name"]: statistics.median(
                    r["end_to_end"][m["name"]] for r in R[(w, 1)].values())
                    - statistics.median(r["end_to_end"][m["name"]] for r in R[(w, 0)].values())
                    for m in bench["end_to_end"]}
                print(f"tracing overhead {side} {w}: "
                      + ", ".join(f"{k} {v:+.4g}" for k, v in over.items()))


if __name__ == "__main__":
    main()
