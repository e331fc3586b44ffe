"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a directory of run records as run.py writes them to
.bench_build/results/ (one JSON file per run). Run from the checkout
root: bounds and directions come from BENCHMARK.json (for refresh_study,
from run.REFRESH_END_TO_END).

For every workload and end-to-end metric it prints each side's median
and quartiles, the pair wins of the change, and a verdict:

  improved    the change wins at least 9 in 10 pairs (ties count for
              neither) and the medians differ by more than the
              parent's own quartile spread;
  unresolved  the parent's quartile spread, as a share of its median,
              is wider than the metric's bound, and not every change
              run beats every parent run;
  worse       the change's median is worse than the parent's by more
              than the bound;
  unchanged   otherwise.

Runs pair by seed where both sides ran a seed, else in order. It also
reports each side's pooled latency tail, seeds whose output digests
differ between the sides, and the tracing overhead (median traced
pipeline time of the traced runs minus the median untraced latency).
"""

import json
import os
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def load(path):
    runs = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                runs.append(json.load(f))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    """(parent run, change run) pairs: same seed first, then in order."""
    by_seed = {r["seed"]: r for r in b}
    out, rest_a = [], []
    for r in a:
        if r["seed"] in by_seed:
            out.append((r, by_seed.pop(r["seed"])))
        else:
            rest_a.append(r)
    out += list(zip(rest_a, [r for r in b if r["seed"] in by_seed]))
    return out


def verdict(pa, pb, wins, n_pairs, bound, lower_better):
    q1, med_a, q3 = quartiles(pa)
    med_b = statistics.median(pb)
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    spread = q3 - q1
    if n_pairs and wins >= 0.9 * n_pairs and better(med_b, med_a) \
            and abs(med_b - med_a) > spread:
        return "improved"
    all_better = all(better(y, x) for x in pa for y in pb)
    if med_a and spread / abs(med_a) > bound and not all_better:
        return "unresolved"
    worse_by = (med_b - med_a) if lower_better else (med_a - med_b)
    if med_a and worse_by / abs(med_a) > bound:
        return "worse"
    return "unchanged"


def tail(lat):
    t = run.tail_latency(lat)
    if t is None:
        return "n/a (%d samples)" % len(lat)
    return "p%.1f = %.1f ms (n=%d)" % (t[0], t[1], len(lat))


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    parent, change = load(argv[0]), load(argv[1])
    workloads = sorted({r["workload"] for r in parent + change})
    for w in workloads:
        a = [r for r in parent if r["workload"] == w and r["trace"] == 0]
        b = [r for r in change if r["workload"] == w and r["trace"] == 0]
        if not a or not b:
            print("%s: untraced runs missing on one side (%d vs %d)"
                  % (w, len(a), len(b)))
            continue
        ps = pairs(a, b)
        print("== %s: %d parent runs, %d change runs, %d pairs"
              % (w, len(a), len(b), len(ps)))
        for m in run.end_to_end_spec(spec, w):
            name, lower = m["name"], m["better"] == "lower"
            va = [r["metrics"][name]["value"] for r in a]
            vb = [r["metrics"][name]["value"] for r in b]
            wins = sum(1 for x, y in ps
                       if (y["metrics"][name]["value"] < x["metrics"][name]["value"])
                       == lower and y["metrics"][name]["value"]
                       != x["metrics"][name]["value"])
            qa, qb = quartiles(va), quartiles(vb)
            print("  %-20s parent %12.6g [%.6g, %.6g]  change %12.6g "
                  "[%.6g, %.6g] %s  wins %d/%d  %s" % (
                      name, qa[1], qa[0], qa[2], qb[1], qb[0], qb[2],
                      m["unit"], wins, len(ps),
                      verdict(va, vb, wins, len(ps), m["bound"], lower)))
        lat_a = [x for r in a for x in r["latencies_ms"]]
        lat_b = [x for r in b for x in r["latencies_ms"]]
        print("  latency tail         parent %s; change %s"
              % (tail(lat_a), tail(lat_b)))
        differ = [x["seed"] for x, y in ps
                  if x["seed"] == y["seed"] and x["digest"] != y["digest"]]
        if differ:
            print("  outputs differ between the sides for seeds %s" % differ)
        failed = sum(r["failed"] for r in b), sum(r["attempted"] for r in b)
        if failed[0]:
            print("  change: %d of %d operations failed" % failed)
        for side, runs, plain in (("parent", parent, a), ("change", change, b)):
            traced = [r["metrics"]["trace.pipeline_traced_s"]["value"]
                      for r in runs if r["workload"] == w and r["trace"] == 1]
            if traced and w.startswith("pipeline"):
                untraced = statistics.median(
                    r["metrics"]["pipeline_s"]["value"] for r in plain)
                print("  tracing overhead (%s): %.3f s on %.3f s untraced"
                      % (side, statistics.median(traced) - untraced, untraced))


if __name__ == "__main__":
    main(sys.argv[1:])
