#!/usr/bin/env python3
"""Diff two sets of benchmark records layer by layer.

    python3 perfbench/diff.py BASE_DIR NEW_DIR [--benchmark BENCHMARK.json]

Each directory holds the per-run records that perfbench/run.py writes
(.bench_build/results/<workload>-seed<n>-trace<0|1>.json), typically from
the same seeds on the parent and on the change. For every workload and
metric the tool prints the median and quartiles of each side and the ratio
new/base. End-to-end metrics come from the untraced records, per-layer
metrics from the traced ones.

An end-to-end metric is flagged WORSE when it moved in its bad direction by
more than its bound from BENCHMARK.json, and "unresolved" when either
side's run-to-run spread (interquartile range over median) exceeds that
bound, unless every new run beats every base run: the runs cannot tell
such a change from noise. Per-layer metrics have no bound; their change
and spread are printed so a reader can judge them alike, and a layer that
reads 0 on both sides is marked idle.
Exit status is 1 when any end-to-end metric is WORSE, else 0.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(directory):
    """{(workload, trace): {metric: [values...]}} from one records dir."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace[01].json"))):
        with open(path) as f:
            rec = json.load(f)
        trace = 1 if rec.get("trace") else 0
        values = rec.get("per_layer") if trace else rec.get("end_to_end_values")
        for name, v in (values or {}).items():
            if isinstance(v, (int, float)):
                out.setdefault((rec["workload"], trace), {}).setdefault(name, []).append(float(v))
    return out


def summary(vals):
    """(median, q1, q3, spread) with Python's default quantile method."""
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    spread = (q3 - q1) / abs(med) if med else float("inf") if q3 != q1 else 0.0
    return med, q1, q3, spread


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    here = os.path.dirname(os.path.abspath(__file__))
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    base, new = load(a.base), load(a.new)
    worse = 0
    for workload in [w["name"] for w in bench["workloads"]]:
        for trace, specs in ((0, e2e), (1, layers)):
            b, n = base.get((workload, trace), {}), new.get((workload, trace), {})
            if not b or not n:
                continue
            print(f"\n== {workload} ({'per-layer, traced' if trace else 'end-to-end'}) "
                  f"base n={max(map(len, b.values()))} new n={max(map(len, n.values()))}")
            print(f"{'metric':32} {'base median [q1, q3]':>30} {'new median [q1, q3]':>30} {'ratio':>7}  verdict")
            for name, spec in specs.items():
                if name not in b or name not in n:
                    continue
                bm, bq1, bq3, bs = summary(b[name])
                nm, nq1, nq3, ns = summary(n[name])
                ratio = nm / bm if bm else float("nan") if nm else 1.0
                lower = spec["better"] == "lower"
                change = (ratio - 1.0) if lower else (1.0 - ratio)
                moved = f"{abs(change):.1%} {'worse' if change > 0 else 'better'}"
                spread = max(bs, ns)
                verdict = "idle" if bm == nm == 0 else f"{moved}; spread {spread:.3f}"
                if trace == 0:
                    bound = spec["bound"]
                    every_run_better = (max(n[name]) < min(b[name])) if lower else (min(n[name]) > max(b[name]))
                    if spread > bound and not every_run_better:
                        verdict = f"unresolved ({moved}; spread {spread:.3f} > bound {bound})"
                    elif change > bound:
                        verdict = f"WORSE ({moved}; bound {bound:.0%})"
                        worse += 1
                    else:
                        verdict = f"ok ({moved}; bound {bound:.0%})"
                print(f"{name:32} {bm:>12.4g} [{bq1:.4g}, {bq3:.4g}] {nm:>12.4g} [{nq1:.4g}, {nq3:.4g}] "
                      f"{ratio:>7.3f}  {verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
