"""Compare two sets of benchmark results, e.g. a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the detail files ``run.py --out DIR`` writes. For
every workload and metric present on both sides this prints each side's
median and quartiles, the share of seed-matched pairs the change wins
(ties count for neither side), and a verdict:

- ``improved``: the change wins at least 9 in 10 pairs and the medians
  differ, in the better direction, by more than the parent's own
  quartile distance;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json (per-layer metrics have none, so
  for them: the parent wins 9 in 10 pairs and the medians differ by more
  than the parent's quartile distance);
- ``unresolved``: neither, but the parent's quartile distance is wider
  than the bound and not every change run beats every parent run;
- ``unchanged``: otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(result_dir: str) -> dict[tuple[str, int], dict[int, dict[str, float]]]:
    """(workload, trace) -> seed -> metric values."""
    out: dict[tuple[str, int], dict[int, dict[str, float]]] = {}
    for path in sorted(glob.glob(os.path.join(result_dir, "*.json"))):
        with open(path) as fh:
            d = json.load(fh)
        out.setdefault((d["workload"], d["trace"]), {})[d["seed"]] = d["metrics"]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            lower_better: bool, bound: float | None) -> tuple[float, str]:
    sign = -1.0 if lower_better else 1.0  # sign * (change - parent) > 0 means better
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    won = wins / len(pairs) if pairs else 0.0
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    spread = pq3 - pq1
    gain = sign * (cmed - pmed)
    if won >= 0.9 and gain > spread:
        return won, "improved"
    if bound is None:
        lost = losses / len(pairs) if pairs else 0.0
        if lost >= 0.9 and -gain > spread:
            return won, "worse"
    elif -gain > bound * abs(pmed):
        return won, "worse"
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if bound is not None and pmed and spread / abs(pmed) > bound and not all_better:
        return won, "unresolved"
    return won, "unchanged"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rules = {m["name"]: (m["better"] == "lower", m.get("bound"))
             for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':13s} {'metric':26s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'won':>5s} verdict")
    for key in sorted(set(parent) & set(change)):
        a, b = parent[key], change[key]
        seeds = sorted(set(a) & set(b))
        names = [n for n in rules if all(n in m for m in list(a.values()) + list(b.values()))]
        for name in names:
            pv = [a[s][name] for s in sorted(a)]
            cv = [b[s][name] for s in sorted(b)]
            pairs = [(a[s][name], b[s][name]) for s in seeds]
            won, v = verdict(pv, cv, pairs, *rules[name])
            fmt = "{:10.4g} {:10.4g} {:10.4g}"
            print(f"{key[0]:13s} {name:26s} {fmt.format(*quartiles(pv)):>32s} "
                  f"{fmt.format(*quartiles(cv)):>32s} {won:5.2f} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
