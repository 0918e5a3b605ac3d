#!/usr/bin/env python3
"""Median and quartiles of end-to-end metrics over saved benchmark runs.

    python3 extractbench/summarize.py runs/a-*.out [--against runs/b-*.out]

Each file is the stdout of one ``run.py`` run. Per workload and metric it
prints the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median next to the metric's bound from BENCHMARK.json.
With ``--against``, it also prints the second set's median and how much
worse it is than the first, as a share of the first median.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from measure import iqr_frac, median, quartiles

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> dict[str, dict[str, list[float]]]:
    """{workload: {metric: [value per run]}}; incorrect runs are refused."""
    out: dict[str, dict[str, list[float]]] = {}
    for path in paths:
        with open(path) as f:
            lines = f.read().strip().splitlines()
        ctx_lines = [ln for ln in lines if ln.startswith("context ")]
        if not ctx_lines:
            raise SystemExit(f"{path}: no result line")
        ctx = json.loads(ctx_lines[-1][8:])
        result = json.loads(lines[-1])
        if not result["correct"]:
            raise SystemExit(f"{path}: run reported correct=false")
        for name, m in result["metrics"].items():
            out.setdefault(ctx["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def worse_by(better: str, base: float, other: float) -> float:
    """How much worse ``other`` is than ``base``, as a share of ``base``."""
    return (other - base) / base if better == "lower" else (base - other) / base


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs", nargs="+")
    ap.add_argument("--against", nargs="+", default=None)
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)

    with open(args.bench) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    first = load(args.runs)
    second = load(args.against) if args.against else {}
    ok = True
    for wl, metrics in sorted(first.items()):
        for name, vals in metrics.items():
            if name not in spec:
                continue
            bound = spec[name]["bound"]
            q1, med, q3 = quartiles(vals)
            spread = iqr_frac(vals)
            line = (
                f"{wl:18s} {name:20s} n={len(vals):2d} median={med:11.4f} "
                f"q1={q1:11.4f} q3={q3:11.4f} spread={spread:.4f} bound={bound}"
            )
            if name != "setup_s" and spread > bound:
                ok = False
                line += "  SPREAD>BOUND"
            if wl in second and name in second[wl]:
                med2 = median(second[wl][name])
                worse = worse_by(spec[name]["better"], med, med2)
                line += f" | median2={med2:11.4f} worse_by={worse:+.4f}"
                if worse > bound:
                    ok = False
                    line += "  WORSE>BOUND"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
