#!/usr/bin/env python3
"""Summarise or compare sets of benchmark runs.

    python3 perfbench/report.py RUNS.jsonl [...]
    python3 perfbench/report.py --compare PARENT.jsonl CHANGE.jsonl

A runs file holds the captured standard output of runs
(``perfbench/run.py ... >> runs.jsonl``): per run, a bracket line followed
by a result line. Report mode prints, per workload, every metric by name
and unit with its sample count, median, quartiles and spread (quartile
distance over median), and the noise bracket of the runs: cores, steal
share and load average. Figures a run records without a bound
(``wall_s``, ``setup_wall_s``) are shown and compared like the others but
never called a regression.

Compare mode pairs the i-th run of each side and prints one row per
workload and metric: both medians and quartiles, the change, the share of
pairs the change wins (ties count for neither) and a verdict. By the
benchmark's rule a gain needs nine tenths of the pairs and a median
difference wider than the parent's quartile distance; a metric whose
spread on either side is wider than its bound in ``BENCHMARK.json`` is
"unresolved" unless every run of the change beats every run of the parent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(paths: list[str]) -> dict[str, list[dict]]:
    """workload -> run records in file order, each with its bracket."""
    runs: dict[str, list[dict]] = {}
    for path in paths:
        bracket: dict = {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                rec = json.loads(line)
                if "bracket" in rec:
                    bracket = rec["bracket"]
                elif "metrics" in rec and bracket:
                    # figures recorded beside the gated ones, with no bound
                    metrics = {**bracket.get("ungated", {}), **rec["metrics"]}
                    runs.setdefault(bracket["workload"], []).append(
                        {**bracket, **rec, "metrics": metrics}
                    )
                    bracket = {}
    return runs


def bounds() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, spread over median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def values(runs: list[dict], metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def report(runs: dict[str, list[dict]]) -> None:
    spec = bounds()
    for workload, recs in sorted(runs.items()):
        steal = [r["steal_share"] for r in recs if "steal_share" in r]
        load = [r["loadavg"] for r in recs if "loadavg" in r]
        cores = sorted({r["cores"] for r in recs if "cores" in r})
        failed = sum(r["failed"] for r in recs)
        attempted = sum(r["attempted"] for r in recs)
        print(f"{workload}: {len(recs)} runs, cores {cores}, failed {failed}/{attempted}")
        if steal:
            print(
                f"  steal share median {statistics.median(steal):.3f} max {max(steal):.3f}; "
                f"load median {statistics.median(load):.2f}"
            )
        names = sorted({k for r in recs for k in r["metrics"]})
        for name in names:
            vals = values(recs, name)
            med, q1, q3, spread = summary(vals)
            unit = recs[0]["metrics"][name]["unit"]
            bound = spec.get(name, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = f" bound {bound:.2f}" + (" WIDER THAN BOUND" if spread > bound else "")
            print(
                f"  {name:44s} {unit:6s} n={len(vals):2d} median {med:.4g} "
                f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f}{flag}"
            )


def compare(parent: dict[str, list[dict]], change: dict[str, list[dict]]) -> None:
    spec = bounds()
    print(
        f"{'workload':18s} {'metric':26s} {'parent median [q1,q3]':30s} "
        f"{'change median [q1,q3]':30s} {'delta':>8s} {'wins':>5s}  verdict"
    )
    for workload in sorted(parent.keys() & change.keys()):
        names = sorted({k for r in parent[workload] + change[workload] for k in r["metrics"]})
        for name in names:
            a, b = values(parent[workload], name), values(change[workload], name)
            if not a or not b:
                continue
            m = spec.get(name, {"better": "lower"})
            lower = m["better"] == "lower"
            ma, qa1, qa3, sa = summary(a)
            mb, qb1, qb3, sb = summary(b)
            pairs = list(zip(a, b))
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            share = wins / len(pairs)
            worse = (mb - ma) / ma if lower else (ma - mb) / ma
            bound = m.get("bound")
            all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
            if share >= 0.9 and abs(mb - ma) > (qa3 - qa1) and -worse > 0:
                verdict = "gain"
            elif bound is None:
                verdict = "not gated"
            elif max(sa, sb) > bound and not all_better:
                verdict = "unresolved"
            elif worse > bound:
                verdict = "regression"
            else:
                verdict = "no change"
            print(
                f"{workload:18s} {name:26s} {ma:9.4g} [{qa1:8.4g},{qa3:8.4g}] "
                f"{mb:9.4g} [{qb1:8.4g},{qb3:8.4g}] {(mb - ma) / ma:+8.1%} {share:5.2f}  {verdict}"
            )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs", nargs="*", help="runs files to summarise")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    args = ap.parse_args(argv)
    if args.compare:
        compare(load_runs([args.compare[0]]), load_runs([args.compare[1]]))
    elif args.runs:
        report(load_runs(args.runs))
    else:
        ap.error("give runs files, or --compare PARENT CHANGE")
    return 0


if __name__ == "__main__":
    sys.exit(main())
