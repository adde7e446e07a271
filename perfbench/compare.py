#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW [--json]

BASE and NEW are directories (or single files) of run files written by
``perfbench/run.py`` (``.perfbench-work/runs/*.json``).  For each workload
and metric it prints both sides' medians and quartiles and a verdict:

* ``worse`` / ``better``: NEW's median is worse / better than BASE's by more
  than the metric's bound in ``BENCHMARK.json``;
* ``unchanged``: the medians differ by no more than the bound;
* ``unresolved``: fewer than 3 runs on a side, or a side's spread (quartile
  distance over median) is wider than the bound, unless every NEW run reads
  better (or worse) than every BASE run.

Per-layer metrics have no bound: they are ``better``/``worse`` only when the
two sides' quartile ranges do not overlap.  Runs made at a different
``nproc``, core count, shuffle width or input size are not comparable and
are refused.  A run without metrics (no pass of it succeeded) counts as a
failed run.  Exits 1 when an end-to-end metric, or the count of failed
passes or runs, is ``worse``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMPARABLE = ("nproc", "master", "shuffle_partitions", "pages_per_pass")


def load_runs(path: str) -> dict[tuple[str, int], list[dict]]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs: dict[tuple[str, int], list[dict]] = {}
    for f in files:
        with open(f) as fh:
            run = json.load(fh)
        rec = run["record"]
        runs.setdefault((rec["workload"], rec["trace"]), []).append(run)
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if not values:
        return (float("nan"),) * 3
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], better: str, bound: float | None) -> str:
    if len(a) < 3 or len(b) < 3:
        return "unresolved"
    sign = 1.0 if better == "lower" else -1.0
    qa, qb = quartiles(a), quartiles(b)
    if bound is None:
        if sign * (qb[0] - qa[2]) > 0 and sign * (qb[2] - qa[0]) > 0:
            return "worse"
        if sign * (qa[0] - qb[2]) > 0 and sign * (qa[2] - qb[0]) > 0:
            return "better"
        return "unchanged"
    base = abs(qa[1]) or 1.0
    worse_by = sign * (qb[1] - qa[1]) / base
    spread = max((qa[2] - qa[0]) / base, (qb[2] - qb[0]) / (abs(qb[1]) or 1.0))
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    all_worse = all(sign * (y - x) > 0 for x in a for y in b)
    if spread > bound and not (all_better or all_worse):
        return "unresolved"
    if worse_by > bound:
        return "worse"
    if -worse_by > bound:
        return "better"
    return "unchanged"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--json", action="store_true", help="print rows as JSON lines")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    base, new = load_runs(args.base), load_runs(args.new)
    rows, regressed = [], False
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        recs = [r["record"] for r in base[key] + new[key]]
        for field in COMPARABLE:
            seen = {json.dumps(r.get(field)) for r in recs}
            if len(seen) > 1:
                print(f"{workload}: runs differ in {field} ({sorted(seen)}); not comparable",
                      file=sys.stderr)
                return 2
        names = sorted({n for r in base[key] + new[key] for n in r["result"]["metrics"]})
        for name in names:
            a = [r["result"]["metrics"][name]["value"] for r in base[key] if name in r["result"]["metrics"]]
            b = [r["result"]["metrics"][name]["value"] for r in new[key] if name in r["result"]["metrics"]]
            m = spec.get(name, {})
            v = verdict(a, b, m.get("better", "lower"), m.get("bound"))
            regressed |= v == "worse" and "bound" in m
            rows.append({"workload": workload, "trace": trace, "metric": name,
                         "base": quartiles(a), "new": quartiles(b),
                         "n": (len(a), len(b)), "verdict": v})
        # (failed passes, attempted passes, runs without a correct result)
        fails = [(sum(r["result"]["failed"] for r in s), sum(r["result"]["attempted"] for r in s),
                  sum(1 for r in s if not (r["result"]["correct"] and r["result"]["metrics"])))
                 for s in (base[key], new[key])]
        worse = fails[1][0] > fails[0][0] or fails[1][2] > fails[0][2]
        rows.append({"workload": workload, "trace": trace, "metric": "failed/attempted/bad_runs",
                     "base": fails[0], "new": fails[1], "n": (len(base[key]), len(new[key])),
                     "verdict": "worse" if worse else "unchanged"})
        regressed |= worse

    for r in rows:
        if args.json:
            print(json.dumps(r))
            continue
        fmt = str if r["metric"] == "failed/attempted/bad_runs" else (
            lambda q: "/".join(f"{x:.4g}" for x in q))
        print(f"{r['workload']:16s} t{r['trace']} {r['metric']:40s} "
              f"base {fmt(r['base']):28s} new {fmt(r['new']):28s} n={r['n']} {r['verdict']}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
