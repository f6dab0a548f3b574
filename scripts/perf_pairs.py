#!/usr/bin/env python3
"""Interleaved A/B pairs of the repository benchmark on two checkouts.

Usage:
  scripts/perf_pairs.py <parentDir> <changeDir> --workload W --pairs N --seed0 S

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds 10
--trace 0` in both checkouts, the parent first in even pairs and the change
first in odd ones, so a drift in host load lands on both sides. Every run is
printed with its `correct` and `failed` values. Then, for each end-to-end
metric that the parent's BENCHMARK.json lists, it prints both medians, the
parent's quartiles, the pairs the change won (ties count for neither) and
whether the change's median is within the metric's relative bound of the
parent's. Last, it prints each side's median wall seconds per phase of the
timed job (`ingest`, `restore`, `expire`, ...), read from the `[perfbench]
job:` line run.py echoes for every timed JVM, so an untraced batch shows
which layer moved.

Self-test: python3 -m unittest discover -s scripts
"""
import argparse
import json
import pathlib
import re
import statistics
import subprocess
import sys

SIDES = ("parent", "change")

# run.py echoes one per timed JVM, e.g. "[perfbench] job: ingest 9.260 s,
# restore 3.190 s, expire 4.870 s; cpu 45.91 s, executor cpu 4.58 s, ..."
JOB_LINE = re.compile(r"^\[perfbench\] job: ([^;]*);")


def schedule(pairs, seed0):
    """(seed, sides in run order) for each pair."""
    return [(seed0 + i, SIDES if i % 2 == 0 else SIDES[::-1])
            for i in range(pairs)]


def parse_result(stdout):
    """The JSON object on run.py's last stdout line, or None."""
    lines = stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        return None
    return res if isinstance(res, dict) and "metrics" in res else None


def parse_phases(stdout):
    """{phase: median wall s over the run's timed JVMs} from its job lines."""
    walls = {}
    for line in stdout.splitlines():
        m = JOB_LINE.match(line)
        if not m:
            continue
        for part in m.group(1).split(", "):
            name, value, _unit = part.rsplit(" ", 2)
            walls.setdefault(name, []).append(float(value))
    return {k: statistics.median(v) for k, v in walls.items()}


def run_side(checkout, workload, seed):
    """The run's result (or None) and its phases."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    return parse_result(p.stdout), parse_phases(p.stdout)


def better(metric, change, parent):
    """+1 if `change` is better than `parent`, -1 if worse, 0 on a tie."""
    if change == parent:
        return 0
    lower = metric["better"] == "lower"
    return 1 if (change < parent) == lower else -1


def within_bound(metric, change_median, parent_median):
    """The change is no worse than the parent by more than the bound."""
    slack = metric["bound"] * abs(parent_median)
    if metric["better"] == "lower":
        return change_median <= parent_median + slack
    return change_median >= parent_median - slack


def summarize(end_to_end, results):
    """One row per metric over the pairs where both sides gave a result.

    `results` is a list of {"parent": result-or-None, "change": ...}.
    """
    rows = []
    for m in end_to_end:
        name = m["name"]
        both = [(r["parent"]["metrics"][name]["value"],
                 r["change"]["metrics"][name]["value"])
                for r in results
                if r["parent"] and r["change"]
                and name in r["parent"]["metrics"]
                and name in r["change"]["metrics"]]
        if not both:
            rows.append({"name": name, "pairs": 0})
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        q1, _, q3 = (statistics.quantiles(ps, n=4, method="inclusive")
                     if len(ps) > 1 else (ps[0], ps[0], ps[0]))
        pm, cm = statistics.median(ps), statistics.median(cs)
        rows.append({
            "name": name, "pairs": len(both),
            "parent_median": pm, "change_median": cm,
            "parent_q1": q1, "parent_q3": q3,
            "won": sum(better(m, c, p) > 0 for p, c in both),
            "within_bound": within_bound(m, cm, pm)})
    return rows


def phase_medians(phases):
    """{side: {phase: median over the side's runs}}; `phases` is a list of
    {"parent": parse_phases-dict, "change": ...}, one per pair."""
    out = {}
    for side in SIDES:
        walls = {}
        for pair in phases:
            for k, v in pair[side].items():
                walls.setdefault(k, []).append(v)
        out[side] = {k: statistics.median(v) for k, v in walls.items()}
    return out


def format_phases(medians):
    """One line per phase, in the parent's order, then any the change adds."""
    names = list(medians["parent"])
    names += [k for k in medians["change"] if k not in names]

    def cell(side, k):
        v = medians[side].get(k)
        return "-" if v is None else f"{v:.3f} s"
    return [f"phase {k:<10} parent {cell('parent', k)}  "
            f"change {cell('change', k)}" for k in names]


def format_run(seed, side, res):
    if res is None:
        return f"seed {seed} {side:<6} no result (run.py printed no JSON)"
    vals = " ".join(f"{k}={v['value']:.4g}"
                    for k, v in sorted(res["metrics"].items()))
    return (f"seed {seed} {side:<6} correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']} {vals}")


def format_row(row):
    if row["pairs"] == 0:
        return f"{row['name']:<16} no pair with a result on both sides"
    return (f"{row['name']:<16} parent {row['parent_median']:.4g} "
            f"[{row['parent_q1']:.4g}, {row['parent_q3']:.4g}]  "
            f"change {row['change_median']:.4g}  "
            f"won {row['won']}/{row['pairs']}  "
            f"{'within bound' if row['within_bound'] else 'PAST BOUND'}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args(argv)
    spec = json.loads((pathlib.Path(a.parent) / "BENCHMARK.json").read_text())
    dirs = {"parent": a.parent, "change": a.change}
    results, phases = [], []
    for seed, order in schedule(a.pairs, a.seed0):
        pair, walls = {}, {}
        for side in order:
            pair[side], walls[side] = run_side(dirs[side], a.workload, seed)
            print(format_run(seed, side, pair[side]), flush=True)
        results.append(pair)
        phases.append(walls)
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed0}.."
          f"{a.seed0 + a.pairs - 1}; medians, parent quartiles in brackets")
    rows = summarize(spec["end_to_end"], results)
    for row in rows:
        print(format_row(row))
    print("median wall s per phase of the timed job:")
    for line in format_phases(phase_medians(phases)):
        print(line)
    bad = [r for r in results for s in SIDES
           if r[s] is None or not r[s]["correct"] or r[s]["failed"]]
    return 1 if bad or not all(r.get("within_bound") for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
