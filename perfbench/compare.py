#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or two legacy bench_out files.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --legacy bench_out_A.json bench_out_B.json

Run sets are JSON-lines files of result records as run.py appends them
to perfbench/.runs/results.jsonl: {"workload", "seed", "trace",
"host_ref_s", "correct", "attempted", "failed", "metrics"}. For every workload and
metric in both sets it prints the median and quartiles of each side, the
share of same-seed pairs the change wins, and a verdict:

  improved      the change wins at least 9 in 10 pairs and the medians
                differ by more than the base's own quartile distance;
  within bound  the change's median is not worse than the base's by more
                than the metric's bound in BENCHMARK.json;
  regressed     worse than the bound, with the base's spread inside it;
  unresolved    anything else: the spread is too wide to tell.

Metrics without a bound (the per-layer ones) are reported as changed or
unchanged counts. --legacy prints per-query wall ratios and the
drift-normalised ratio-of-ratios of two bench_out_*.json files of the
engine's own driver bench, over the queries both files hold.
"""

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load_runs(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    return runs


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def pair_wins(base, change, lower_better):
    """Share of same-seed pairs the change wins; ties count for neither
    side. `base` and `change` map seed -> value."""
    seeds = sorted(set(base) & set(change))
    if not seeds:
        return None, 0
    wins = sum(1 for s in seeds
               if (change[s] < base[s] if lower_better else change[s] > base[s]))
    return wins / len(seeds), len(seeds)


def verdict(base_vals, change_vals, win_share, bound, lower_better):
    q1, mb, q3 = stats.quartiles(base_vals)
    mc = stats.median(change_vals)
    worse = (mc - mb) / mb if lower_better else (mb - mc) / mb
    if (win_share is not None and win_share >= 0.9
            and abs(mc - mb) > (q3 - q1)):
        return "improved"
    if bound is None:
        return "unchanged" if mc == mb else "changed"
    if worse <= bound:
        return "within bound"
    if stats.relative_spread(base_vals) <= bound:
        return "regressed"
    return "unresolved"


def tail(values):
    """The sample count, and the highest percentile that has at least ten
    samples beyond it when there are enough samples for one."""
    values = list(values)
    p = stats.tail_percentile(len(values))
    if p is None:
        return f"n={len(values)}"
    return f"n={len(values)} p{p:g}={stats.percentile(values, p):.4g}"


def compare_runs(base_path, change_path, out=sys.stdout):
    spec = load_spec()
    base, change = load_runs(base_path), load_runs(change_path)
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    print(f"{'workload':<14} {'metric':<34} {'base med [q1,q3]':>28} "
          f"{'change med [q1,q3]':>28} {'wins':>9}  verdict  (tail)", file=out)
    for w in workloads:
        b = [r for r in base if r["workload"] == w]
        c = [r for r in change if r["workload"] == w]
        names = sorted(set().union(*(r["metrics"] for r in b))
                       & set().union(*(r["metrics"] for r in c)))
        for name in names:
            bv = {r["seed"]: r["metrics"][name]["value"] for r in b if name in r["metrics"]}
            cv = {r["seed"]: r["metrics"][name]["value"] for r in c if name in r["metrics"]}
            m = spec.get(name, {})
            lower = m.get("better", "lower") == "lower"
            share, n = pair_wins(bv, cv, lower)
            bq, cq = stats.quartiles(list(bv.values())), stats.quartiles(list(cv.values()))
            v = verdict(list(bv.values()), list(cv.values()), share, m.get("bound"), lower)
            wins = "-" if share is None else f"{share:.2f}/{n}"
            print(f"{w:<14} {name:<34} {bq[1]:>10.4g} [{bq[0]:.4g},{bq[2]:.4g}]"
                  f" {cq[1]:>10.4g} [{cq[0]:.4g},{cq[2]:.4g}] {wins:>9}  {v}"
                  f"  ({tail(bv.values())}; {tail(cv.values())})", file=out)
        fb = sum(r["failed"] for r in b)
        fc = sum(r["failed"] for r in c)
        print(f"{w:<14} {'failed/attempted':<34} "
              f"{fb}/{sum(r['attempted'] for r in b):>19} "
              f"{fc}/{sum(r['attempted'] for r in c):>19}", file=out)
        hb = [r["host_ref_s"] for r in b if "host_ref_s" in r]
        hc = [r["host_ref_s"] for r in c if "host_ref_s" in r]
        if hb and hc:
            # not a metric: a fixed aggregate timed after every pass, to
            # tell host drift from a change when wall times disagree
            print(f"{w:<14} {'host reference (s)':<34} {stats.median(hb):>10.4g}"
                  f" {stats.median(hc):>25.4g}", file=out)


def _as_map(v):
    return dict(v) if isinstance(v, list) else v


def compare_legacy(path_a, path_b, out=sys.stdout):
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    qa, qb = _as_map(a.get("queries", {})), _as_map(b.get("queries", {}))
    ra, rb = _as_map(a.get("ratios", {})), _as_map(b.get("ratios", {}))
    common = sorted(set(qa) & set(qb))
    print(f"n_common: {len(common)}", file=out)
    print(f"{'query':<40} {'wall_a':>8} {'wall_b':>8} {'b/a':>7} {'ratio-of-ratios':>16}", file=out)
    rr_all = []
    for q in common:
        wa, wb = qa[q], qb[q]
        rr = rb[q] / ra[q] if q in ra and q in rb and ra[q] else None
        if rr is not None:
            rr_all.append(rr)
        rrs = "-" if rr is None else f"{rr:.3f}"
        ratio = f"{wb / wa:.3f}" if wa else "-"
        print(f"{q:<40} {wa:>8.3f} {wb:>8.3f} {ratio:>7} {rrs:>16}", file=out)
    if rr_all:
        print(f"median ratio-of-ratios over {len(rr_all)} queries: "
              f"{stats.median(rr_all):.3f}", file=out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--legacy", action="store_true")
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args(argv)
    if a.legacy:
        compare_legacy(a.base, a.change)
    else:
        compare_runs(a.base, a.change)


if __name__ == "__main__":
    main(sys.argv[1:])
