#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each argument is a directory of run records as run.py writes them
(perfbench/target/runs/<workload>-s<seed>-t0.json); copy that directory
aside after measuring each side. For every workload x end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles
(statistics.quantiles(n=4)), the change of the medians, the pairs won, and
a verdict:

  better      the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range
  worse       the same rule with the parent winning
  unresolved  neither

A pair is the two runs with the same seed, or the i-th run of each side
when the seeds differ. A metric whose change median is worse than the
parent's by more than its bound is flagged REGRESSION whatever the verdict.
setup_s is compared like the others. The workload-specific metrics of the
run records (dml_p50_ms, read_p50_ms, maint_s, write_amp, space_amp,
docs_per_s, latency_p90_ms) follow, by the same rule, marked ungated.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
        if p.endswith("-latest-untraced.json"):
            continue
        with open(p) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


# Workload-specific metrics from each run record's "extra" section. They
# are not in BENCHMARK.json (every declared metric must be reported, and be
# nonzero, on every workload) and have no bound; they are compared by the
# same rule so that a regression in them can be seen.
EXTRA = {"dml_p50_ms": "lower", "read_p50_ms": "lower", "maint_s": "lower",
         "write_amp": "lower", "space_amp": "lower", "docs_per_s": "higher",
         "latency_p90_ms": "lower"}


def compare(w, n, lower, bound, a, b, pairs, value):
    av = [value(r) for r in a.values()]
    bv = [value(r) for r in b.values()]
    aq1, amed, aq3 = quartiles(av)
    bq1, bmed, bq3 = quartiles(bv)
    wins = losses = 0
    for ra, rb in pairs:
        x, y = value(ra), value(rb)
        if x != y:
            if (y < x) == lower:
                wins += 1
            else:
                losses += 1
    gap = abs(bmed - amed) > (aq3 - aq1)
    if gap and wins >= 0.9 * len(pairs) and (bmed < amed) == lower:
        verdict = "better"
    elif gap and losses >= 0.9 * len(pairs) and (bmed > amed) == lower:
        verdict = "worse"
    else:
        verdict = "unresolved"
    delta = (bmed - amed) / amed if amed else float("nan")
    worse_by = delta if lower else -delta
    if bound is None:
        verdict += "  (ungated)"
    elif worse_by > bound:
        verdict += "  REGRESSION (bound %.0f%%)" % (100 * bound)
    print(f"{w:11s} {n:18s} {amed:12.4g} [{aq1:9.4g}, {aq3:9.4g}] "
          f"{bmed:12.4g} [{bq1:9.4g}, {bq3:9.4g}] {100 * delta:+7.1f}% "
          f"{wins:>3d}/{len(pairs):<3d}  {verdict}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':11s} {'metric':18s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'delta':>8s} {'wins':>7s}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        a, b = a_runs.get(w, {}), b_runs.get(w, {})
        if not a or not b:
            print(f"{w:11s} (no runs on {'parent' if not a else 'change'} side)")
            continue
        common = sorted(set(a) & set(b))
        if common:
            pairs = [(a[s], b[s]) for s in common]
        else:
            pairs = list(zip([a[s] for s in sorted(a)], [b[s] for s in sorted(b)]))
        for m in bench["end_to_end"]:
            n = m["name"]
            compare(w, n, m["better"] == "lower", m["bound"], a, b, pairs,
                    lambda r, n=n: r["end_to_end"][n]["value"])
        for n, better in EXTRA.items():
            if all(n in r["extra"] and r["extra"][n]["value"] is not None
                   for r in list(a.values()) + list(b.values())):
                compare(w, n, better == "lower", None, a, b, pairs,
                        lambda r, n=n: r["extra"][n]["value"])
        bad = [r for r in list(a.values()) + list(b.values()) if not r["correct"]]
        if bad:
            print(f"{w:11s} WRONG ANSWERS in {len(bad)} run(s): "
                  + ", ".join(f"seed {r['seed']}" for r in bad))


if __name__ == "__main__":
    main()
