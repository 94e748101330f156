"""Steadiness of repeated benchmark runs.

Reads the saved standard output of N runs of one workload (the last line
of each is the result JSON) and prints, for every metric, the median,
the quartiles and the spread — (q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them — next to the metric's
bound from BENCHMARK.json. With ``--vs`` it also compares the median of a
second set of runs with the first, as a share of the first.

    python3 perfbench/steadiness.py runs/kg_batch-*.out
    python3 perfbench/steadiness.py set1/*.out --vs set2/*.out
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
    return values


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def worse_by(metric: dict, first: float, second: float) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    change = (second - first) / abs(first) if first else 0.0
    return change if metric["better"] == "lower" else -change


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("runs", nargs="+")
    p.add_argument("--vs", nargs="+", default=[])
    p.add_argument("--bench", default=os.path.join(os.path.dirname(HERE),
                                                   "BENCHMARK.json"))
    args = p.parse_args(argv)
    with open(args.bench) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    first, second = load(args.runs), load(args.vs) if args.vs else {}
    ok = True
    print(f"{'metric':<30}{'n':>3}{'median':>13}{'q1':>13}{'q3':>13}"
          f"{'spread':>9}{'bound':>8}" + ("  vs-median  worse" if second else ""))
    for name, values in first.items():
        med, q1, q3, spread = summary(values)
        bound = metrics.get(name, {}).get("bound")
        line = (f"{name:<30}{len(values):>3}{med:>13.6g}{q1:>13.6g}{q3:>13.6g}"
                f"{spread:>9.3f}{'' if bound is None else f'{bound:>8.2f}'}")
        if bound is not None and spread > bound:
            ok = False
            line += "  SPREAD OVER BOUND"
        if name in second and name in metrics:
            med2 = statistics.median(second[name])
            worse = worse_by(metrics[name], med, med2)
            line += f"  {med2:>9.6g}  {worse:+.3f}"
            if bound is not None and worse > bound:
                ok = False
                line += "  MEDIAN WORSE THAN BOUND"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
