"""Compare two sets of perfbench runs.

    python3 perfbench/compare.py <parent-dir> <change-dir>

Each directory holds the standard output of `run.py` runs, one file per
run (any name). A file's first line names its workload and seed; its last
line is the run's JSON result. Untraced runs (end-to-end metrics) are
compared metric by metric; traced runs (per-layer metrics) are listed as
median deltas beside them.

For every workload and end-to-end metric the tool prints each side's
median and quartiles, the pairs the change won (runs paired by seed, else
by order; ties count for neither side) and a verdict:

  improved      the change won at least 9 of 10 pairs and the medians
                differ by more than the parent's quartile spread;
  worse         the change's median is worse than the parent's by more
                than the metric's bound and the spread is within the bound;
  unresolved    the run-to-run spread (quartile distance over median) of
                either side is wider than the bound, and not every change
                run beats every parent run;
  within bound  otherwise.
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAD = re.compile(r"^workload (\S+) seed (\d+):")


def load(directory):
    """{(workload, traced): {seed: metrics}} from a directory of run outputs."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), errors="replace") as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        head = next((HEAD.match(ln) for ln in lines if HEAD.match(ln)), None)
        if not head or not lines[-1].startswith("{"):
            continue
        res = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
        traced = "setup_s" not in metrics
        runs.setdefault((head.group(1), traced), {})[int(head.group(2))] = metrics
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(a, b, bound, higher):
    better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
    pairs = list(zip(a, b))
    won = sum(better(y, x) for x, y in pairs)
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    worse_by = ((ma - mb) if higher else (mb - ma)) / ma if ma else 0.0
    wide = max(spread(a), spread(b)) > bound
    if pairs and won >= 0.9 * len(pairs) and better(mb, ma) and abs(mb - ma) > q3 - q1:
        v = "improved"
    elif worse_by > bound and not wide:
        v = "worse"
    elif wide and not all(better(y, x) for x in a for y in b):
        v = "unresolved"
    else:
        v = "within bound"
    return won, v


def paired(sa, sb):
    common = sorted(set(sa) & set(sb))
    if common:
        return [sa[s] for s in common], [sb[s] for s in common]
    return [sa[s] for s in sorted(sa)], [sb[s] for s in sorted(sb)]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({w for w, _ in a} | {w for w, _ in b})
    fmt = "{:<18} {:<6} {:>34} {:>34} {:>7}  {}"
    for w in workloads:
        print(f"== {w}")
        ra, rb = paired(a.get((w, False), {}), b.get((w, False), {}))
        print(fmt.format("metric", "unit", "parent q1/median/q3", "change q1/median/q3",
                         "won", "verdict"))
        for name, m in e2e.items():
            xa = [r[name] for r in ra if name in r]
            xb = [r[name] for r in rb if name in r]
            if not xa or not xb:
                continue
            won, v = verdict(xa, xb, m["bound"], m["better"] == "higher")
            show = lambda xs: "{:.4g}/{:.4g}/{:.4g}".format(*quartiles(xs))
            print(fmt.format(name, m["unit"], show(xa), show(xb),
                             f"{won}/{min(len(xa), len(xb))}", v))
        ta, tb = paired(a.get((w, True), {}), b.get((w, True), {}))
        if ta and tb:
            print(f"-- traced per-layer medians ({len(ta)} parent, {len(tb)} change runs)")
            for m in bench["per_layer"]:
                xa = [r[m["name"]] for r in ta if m["name"] in r]
                xb = [r[m["name"]] for r in tb if m["name"] in r]
                if not xa or not xb:
                    continue
                ma, mb = statistics.median(xa), statistics.median(xb)
                if ma == mb == 0:
                    continue
                rel = f"{100 * (mb - ma) / ma:+.1f}%" if ma else "n/a"
                print(f"   {m['name']:<36} {ma:>12.4g} -> {mb:<12.4g} {m['unit']:<6} {rel}")


if __name__ == "__main__":
    main()
