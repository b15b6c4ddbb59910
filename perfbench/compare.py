"""Compare two result sets of ``perfbench/run.py``.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds one JSON record per run (``run.py --results FILE``). For
every workload and metric found in both (the record's ``figures``,
``wall_s`` and ``images_per_s``, count as metrics with no bound), prints each side's median and
quartiles, how many seed-paired runs the change won, and a verdict:

- ``better``: the change wins at least 9 of 10 pairs and the medians differ
  by more than the parent's interquartile range;
- ``worse``: the same the other way, or the change's median is worse than
  the parent's by more than the metric's bound in ``BENCHMARK.json`` while
  the parent's own spread is within that bound;
- ``unresolved``: neither.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict:
    """``{(workload, metric): {seed: value}}`` plus units."""
    out, units = defaultdict(dict), {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            for m, v in {**rec["metrics"], **rec.get("figures", {})}.items():
                out[(rec["workload"], m)][rec["seed"]] = v["value"]
                units[m] = v["unit"]
    return out, units


# figures a run reports beside its metrics, with no bound
FIGURES = {"wall_s": (True, None), "images_per_s": (False, None)}


def spec(path: str = "BENCHMARK.json") -> dict:
    """``{metric: (lower_is_better, bound or None)}`` from BENCHMARK.json,
    plus the run's unbounded figures."""
    if not os.path.exists(path):
        return dict(FIGURES)
    with open(path) as f:
        b = json.load(f)
    return {
        **FIGURES,
        **{
            m["name"]: (m["better"] == "lower", m.get("bound"))
            for m in b.get("end_to_end", []) + b.get("per_layer", [])
        },
    }


def quartiles(xs: list) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a: dict, b: dict, lower: bool, bound) -> tuple[str, int, int]:
    """(verdict, change wins, pairs) for seed-keyed runs ``a`` -> ``b``."""
    seeds = sorted(set(a) & set(b))
    pairs = (
        [(a[s], b[s]) for s in seeds] if seeds
        else list(zip(sorted(a.values()), sorted(b.values())))
    )
    sign = -1.0 if lower else 1.0
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    losses = sum(sign * (y - x) < 0 for x, y in pairs)
    q1, ma, q3 = quartiles(list(a.values()))
    mb = statistics.median(b.values())
    n = len(pairs)
    if n and abs(mb - ma) > q3 - q1:
        if wins >= 0.9 * n:
            return "better", wins, n
        if losses >= 0.9 * n:
            return "worse", wins, n
    if bound is not None and ma:
        worse_by = sign * (ma - mb) / abs(ma)
        if worse_by > bound and (q3 - q1) / abs(ma) <= bound:
            return "worse", wins, n
    return "unresolved", wins, n


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (a, units), (b, _) = load(argv[0]), load(argv[1])
    directions = spec()
    print(f"{'workload':22} {'metric':34} {'unit':6} {'parent med [q1, q3]':>30} "
          f"{'change med [q1, q3]':>30} {'wins':>6}  verdict")
    for key in sorted(set(a) & set(b)):
        wl, m = key
        lower, bound = directions.get(m, (True, None))
        v, wins, n = verdict(a[key], b[key], lower, bound)
        qa, qb = quartiles(list(a[key].values())), quartiles(list(b[key].values()))
        fmt = "{1:.4g} [{0:.4g}, {2:.4g}]"
        print(f"{wl:22} {m:34} {units.get(m, ''):6} {fmt.format(*qa):>30} "
              f"{fmt.format(*qb):>30} {wins:>3}/{n:<2}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
