"""Compare benchmark results of two commits, one row per workload.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --spread DIR
    python3 perfbench/compare.py --ledger LEDGER_A LEDGER_B

Each directory holds result files ``<workload>-<seed>-0.json`` as ``run.py``
writes them under ``.bench_build/results``; runs of the two commits are
paired by workload and seed.  For every end-to-end metric of BENCHMARK.json:

* ``better``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile spread;
* ``worse``: the change's median is worse than the parent's by more than the
  metric's bound;
* ``unresolved``: the parent's own quartile spread is wider than the bound,
  unless every change run beats every parent run;
* ``same``: none of the above.

``--spread`` prints, per workload and end-to-end metric, the median of the
runs in DIR and their quartile spread as a share of the median (the
steadiness the benchmark is held to).  ``--ledger`` reports the share of
traced ops whose jobs, stages and tasks repeat exactly between two ledgers of
the same workload and seed.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*-0.json")):
        workload, seed = os.path.basename(f)[:-len("-0.json")].rsplit("-", 1)
        with open(f) as fh:
            runs.setdefault(workload, {})[int(seed)] = json.loads(fh.read().strip().splitlines()[-1])
    return runs


def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    pairs = [(p, c) for p, c in zip(parent, change)]
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    mp, mc = statistics.median(parent), statistics.median(change)
    spread = quartile_spread(parent)
    worse_by = (mc - mp) / mp if lower else (mp - mc) / mp
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if wins >= 0.9 * len(pairs) and abs(mc - mp) > spread:
        return "better", mp, mc
    if spread / mp > metric["bound"] and not all_better:
        return "unresolved", mp, mc
    if worse_by > metric["bound"]:
        return "worse", mp, mc
    return "same", mp, mc


def compare(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(parent_dir), load(change_dir)
    for w in [x["name"] for x in bench["workloads"]]:
        seeds = sorted(set(parent.get(w, {})) & set(change.get(w, {})))
        if not seeds:
            print(f"{w:12s} no paired runs")
            continue
        cells = []
        for m in bench["end_to_end"]:
            p = [parent[w][s]["metrics"][m["name"]]["value"] for s in seeds]
            c = [change[w][s]["metrics"][m["name"]]["value"] for s in seeds]
            v, mp, mc = verdict(m, p, c)
            cells.append(f"{m['name']}={v} ({mp:.4g}->{mc:.4g})")
        fails = sum(change[w][s]["failed"] for s in seeds)
        print(f"{w:12s} pairs={len(seeds)} change_failed={fails} " + " ".join(cells))


def spread(d):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = load(d)
    for w in [x["name"] for x in bench["workloads"]]:
        seeds = sorted(runs.get(w, {}))
        if not seeds:
            continue
        cells = []
        for m in bench["end_to_end"]:
            v = [runs[w][s]["metrics"][m["name"]]["value"] for s in seeds]
            med = statistics.median(v)
            cells.append(f"{m['name']}={med:.4g} spread={quartile_spread(v) / med:.3f} (bound {m['bound']})")
        fails = sum(runs[w][s]["failed"] for s in seeds)
        print(f"{w:12s} runs={len(seeds)} failed={fails} " + " ".join(cells))


def ledger(a, b):
    def rows(path):
        with open(path) as f:
            return [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    ra, rb = rows(a), rows(b)
    n = min(len(ra), len(rb))
    same = sum(1 for x, y in zip(ra, rb) if x[0] == y[0] and x[2:] == y[2:])
    print(f"{same}/{n} ops repeat jobs, stages and tasks exactly ({100.0 * same / max(n, 1):.1f}%)")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--ledger":
        ledger(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "--spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
