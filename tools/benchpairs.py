#!/usr/bin/env python3
"""Pair the perfbench records of two checkouts by seed and compare them.

    tools/benchpairs.py <parent> <change> [--workload replica]

Each argument is the root of a checkout that ran
`python3 perfbench/run.py --workload <w> --seed N --trace 0`; its records
are `<root>/.bench_work/<w>-seed<N>-trace0.json`. Only seeds present on
both sides count. For every end-to-end metric of `BENCHMARK.json` (the
change's copy, else this checkout's) the table gives each side's median
and quartiles, the change's median against the parent's, and in how many
pairs the change was better. A side's spread is its interquartile range
over its median; a metric whose spread on either side exceeds the
metric's bound is flagged `unresolved`: the runs cannot tell the two
apart. The `replica` phase detail (`snapshot_s`, `drain_s`,
`live_read_s`) follows the metrics, with no bound; for `training_gates`,
one row per gate of the records' `detail.gate_s` (seconds), with no bound.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

PHASES = ("snapshot_s", "drain_s", "live_read_s")


def records(root, workload):
    """Seed -> record, for every untraced record of `workload` under `root`."""
    out = {}
    pat = os.path.join(root, ".bench_work", f"{workload}-seed*-trace0.json")
    for path in glob.glob(pat):
        m = re.search(r"-seed(\d+)-trace0\.json$", path)
        if m:
            with open(path) as f:
                out[int(m.group(1))] = json.load(f)
    return out


def value(rec, name):
    """One metric of a record, as `perfbench/run.py` reports it."""
    if name == "setup_s":
        return rec.get("setup_s")
    if name == "success_rate":
        return 1.0 - rec["failed"] / rec["attempted"] if rec.get("attempted") else 0.0
    if name in rec.get("metrics", {}):
        return rec["metrics"][name]
    detail = rec.get("detail", {})
    if name in detail:
        return detail[name]
    return detail.get("gate_s", {}).get(name)


def gates(recs):
    """The gate names in the records' `detail.gate_s`, in first-seen order."""
    names = []
    for seed in sorted(recs):
        for g in recs[seed].get("detail", {}).get("gate_s", {}):
            if g not in names:
                names.append(g)
    return names


def quartiles(xs):
    """(q1, median, q3); a single run is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def spread(q):
    q1, med, q3 = q
    return (q3 - q1) / abs(med) if med else 0.0


def compare(parent, change, metrics):
    """One row per (name, unit, better, bound) in `metrics` with values on
    both sides: quartiles, median ratio, pairs won and the verdict."""
    seeds = sorted(set(parent) & set(change))
    rows = []
    for name, better, bound in metrics:
        pairs = [(value(parent[s], name), value(change[s], name)) for s in seeds]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        qp = quartiles([p for p, _ in pairs])
        qc = quartiles([c for _, c in pairs])
        lower = better == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        ratio = qc[1] / qp[1] - 1.0 if qp[1] else 0.0
        if bound is None:
            verdict = ""
        elif max(spread(qp), spread(qc)) > bound:
            verdict = "unresolved"
        else:
            worse = ratio > bound if lower else ratio < -bound
            verdict = "worse" if worse else "within bound"
        rows.append(dict(name=name, n=len(pairs), parent=qp, change=qc,
                         ratio=ratio, wins=wins, verdict=verdict))
    return seeds, rows


def bench_spec(change_root):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for root in (change_root, here):
        path = os.path.join(root, "BENCHMARK.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
    sys.exit("no BENCHMARK.json in the change or this checkout")


def fmt(q):
    return "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="replica")
    a = ap.parse_args(argv)
    spec = bench_spec(a.change)
    parent = records(a.parent, a.workload)
    change = records(a.change, a.workload)
    metrics = [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    if a.workload == "replica":
        metrics += [(p, "lower", None) for p in PHASES]
    metrics += [(g, "lower", None) for g in gates(parent)]
    seeds, rows = compare(parent, change, metrics)
    if not seeds:
        sys.exit(f"no {a.workload} seed has a record on both sides")
    width = max(14, *(len(r["name"]) for r in rows))
    print(f"{a.workload}: {len(seeds)} pairs, seeds {seeds}")
    print("%-*s %-30s %-30s %8s %6s  %s" % (
        width, "metric", "parent median [q1, q3]", "change median [q1, q3]",
        "change", "wins", "verdict"))
    for r in rows:
        print("%-*s %-30s %-30s %+7.1f%% %3d/%-2d  %s" % (
            width, r["name"], fmt(r["parent"]), fmt(r["change"]),
            100 * r["ratio"], r["wins"], r["n"], r["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
