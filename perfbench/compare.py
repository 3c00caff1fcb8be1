#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a directory of run records (perfbench/.work/runs
holds one per run) or a comma-separated list of record files; BASE is
the parent commit, NEW the change. For every workload and every metric it
prints each side's median and quartiles, the pair wins of NEW (runs with
the same seed form a pair) and a verdict:

  improved    NEW wins at least nine tenths of the pairs (ties count for
              neither) and the medians differ by more than BASE's
              interquartile range
  worse       NEW's median is worse than BASE's by more than the metric's
              bound in BENCHMARK.json
  unresolved  BASE's spread (interquartile range over median) is wider
              than the bound, and not every NEW run beats every BASE run
  unchanged   otherwise

Per-layer metrics (from traced runs) have no bound; they get medians,
quartiles and wins only. The counts in run.COUNTS must repeat exactly in
every run of both sets; the helper says whether they do.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import COUNTS  # noqa: E402


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec) \
        else [f for f in spec.split(",") if f]
    return [json.load(open(f)) for f in files]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def pairs(base, new):
    """(base value, new value) for runs with the same seed."""
    b = {r["seed"]: v for r, v in base}
    return [(b[r["seed"]], v) for r, v in new if r["seed"] in b]


def verdict(base, new, better, bound):
    """base, new: lists of (record, value). Returns (verdict, wins, n)."""
    a = [v for _, v in base]
    b = [v for _, v in new]
    sign = 1 if better == "lower" else -1
    ps = pairs(base, new)
    wins = sum(1 for x, y in ps if sign * (x - y) > 0)
    q1, med_a, q3 = quartiles(a)
    med_b = statistics.median(b)
    gain = sign * (med_a - med_b)
    if ps and wins >= 0.9 * len(ps) and gain > q3 - q1:
        return "improved", wins, len(ps)
    if bound is None:
        return "-", wins, len(ps)
    every_better = all(sign * (x - y) > 0 for x in a for y in b)
    if med_a and (q3 - q1) / abs(med_a) > bound and not every_better:
        return "unresolved", wins, len(ps)
    if med_a and -gain / abs(med_a) > bound:
        return "worse", wins, len(ps)
    return "unchanged", wins, len(ps)


def compare(base_runs, new_runs, bench):
    """Rows of (workload, metric, unit, base quartiles, new quartiles,
    wins, pairs, verdict), and count-repeat notes."""
    rows, notes = [], []
    specs = [(m, "end_to_end", 0) for m in bench["end_to_end"]] + \
            [(m, "per_layer", 1) for m in bench["per_layer"]]
    workloads = sorted({r["workload"] for r in base_runs + new_runs})
    for w in workloads:
        for m, section, trace in specs:
            def values(runs):
                return [(r, r[section][m["name"]]) for r in runs
                        if r["workload"] == w and r["trace"] == trace and m["name"] in r[section]]
            base, new = values(base_runs), values(new_runs)
            if not base or not new:
                continue
            v, wins, n = verdict(base, new, m["better"] if "better" in m else "lower",
                                 m.get("bound"))
            rows.append((w, m["name"], m["unit"], quartiles([x for _, x in base]),
                         quartiles([x for _, x in new]), wins, n, v))
        for c in COUNTS:
            seen = {r["per_layer"][c] for r in base_runs + new_runs
                    if r["workload"] == w and r["trace"] == 1 and c in r["per_layer"]}
            if seen:
                notes.append(f"{w} {c}: " + ("repeats exactly" if len(seen) == 1
                                             else f"differs between runs: {sorted(seen)}"))
        for side, runs in (("base", base_runs), ("new", new_runs)):
            att = sum(r["attempted"] for r in runs if r["workload"] == w)
            fail = sum(r["failed"] for r in runs if r["workload"] == w)
            notes.append(f"{w} {side}: {fail} of {att} operations failed")
    return rows, notes


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    rows, notes = compare(load(argv[1]), load(argv[2]), bench)
    print(f"{'workload':<11} {'metric':<26} {'unit':<6} {'base median [q1, q3]':<30} "
          f"{'new median [q1, q3]':<30} {'wins':<6} verdict")
    for w, name, unit, (a1, am, a3), (b1, bm, b3), wins, n, v in rows:
        print(f"{w:<11} {name:<26} {unit:<6} {f'{am:.4g} [{a1:.4g}, {a3:.4g}]':<30} "
              f"{f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':<30} {f'{wins}/{n}':<6} {v}")
    for note in notes:
        print(note)


if __name__ == "__main__":
    main(sys.argv)
