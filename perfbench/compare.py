#!/usr/bin/env python3
"""Parent-vs-change comparison of two sets of untraced benchmark runs.

    python3 perfbench/compare.py <parent_records_dir> <change_records_dir>

Each directory holds the per-run records run.py writes to
perfbench/.work/records/ (copy them aside after each side's runs). Runs
are paired by (workload, seed). One row per (metric, workload) with two
checks:

  gain        the change wins at least 9/10 of the pairs (ties count for
              neither side) and the medians differ, in the metric's better
              direction, by more than the parent's interquartile range;
  regression  the change's median is no worse than the parent's by more
              than the metric's bound in BENCHMARK.json. The row reads
              "unresolved" when either side's interquartile range, as a
              share of its median, exceeds the bound, unless every change
              run is better than every parent run.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "*-trace0.json")):
        with open(p) as f:
            r = json.load(f)
        runs[(r["workload"], r["seed"])] = r["e2e"]
    return runs


def iqr(v):
    if len(v) < 2:
        return 0.0
    q = statistics.quantiles(v, n=4)
    return q[2] - q[0]


def compare(parent, change, spec):
    rows = []
    for w in sorted({k[0] for k in parent} & {k[0] for k in change}):
        seeds = sorted({k[1] for k in parent if k[0] == w} & {k[1] for k in change if k[0] == w})
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            pv = [parent[(w, s)][name] for s in seeds]
            cv = [change[(w, s)][name] for s in seeds]
            if not seeds:
                continue
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(1 for c, p in zip(cv, pv) if better(c, p))
            pm, cm = statistics.median(pv), statistics.median(cv)
            gap = (pm - cm) if lower else (cm - pm)
            gain = wins >= 0.9 * len(seeds) and gap > iqr(pv)
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            spread = max(iqr(pv) / pm, iqr(cv) / cm if cm else 0.0)
            dominates = all(better(c, p) for c in cv for p in pv)
            if spread > bound and not dominates:
                verdict = "unresolved"
            else:
                verdict = "REGRESSED" if worse > bound else "ok"
            rows.append((w, name, pm, cm, -worse, wins, len(seeds), gain, verdict, spread, bound))
    return rows


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(sys.argv[1]), load(sys.argv[2]), spec)
    print(f"{'workload':<14}{'metric':<18}{'parent':>11}{'change':>11}{'better':>9}{'wins':>8}"
          f"{'gain':>6}  {'regression':<11}{'spread':>8}{'bound':>7}")
    for w, name, pm, cm, rel, wins, n, gain, verdict, spread, bound in rows:
        print(f"{w:<14}{name:<18}{pm:>11.4g}{cm:>11.4g}{rel:>+9.1%}{wins:>4}/{n:<3}"
              f"{'yes' if gain else 'no':>6}  {verdict:<11}{spread:>8.1%}{bound:>7.0%}")
    sys.exit(1 if any(r[8] == "REGRESSED" for r in rows) else 0)


if __name__ == "__main__":
    main()
