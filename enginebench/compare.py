"""Compare two result files written with ``run.py --out``.

    python3 enginebench/compare.py before.jsonl after.jsonl

Prints, per workload and metric, each side's median and quartiles over its
runs and the ratio of the medians. Refuses (exit 2) to compare results taken
at different core counts: a number from another core count is a different
measurement, not a regression.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _summary(values: list[float]) -> str:
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return f"{statistics.median(values):.4g} [{q1:.4g}, {q3:.4g}]"


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    cpus = {r["identity"]["cpus"] for r in before + after}
    if len(cpus) != 1:
        print(f"refusing to compare results taken at different core counts: {sorted(cpus)}", file=sys.stderr)
        return 2
    rows = {}
    for side, records in (("before", before), ("after", after)):
        for r in records:
            for name, m in r["metrics"].items():
                key = (r["identity"]["workload"], name)
                rows.setdefault(key, {"before": [], "after": []})[side].append(m["value"])
    for (workload, name), sides in sorted(rows.items()):
        if not (sides["before"] and sides["after"]):
            continue
        mb, ma = statistics.median(sides["before"]), statistics.median(sides["after"])
        ratio = ma / mb if mb else float("nan")
        print(f"{workload:13s} {name:55s} {_summary(sides['before']):>28s} -> "
              f"{_summary(sides['after']):>28s}  x{ratio:.3f}  "
              f"n={len(sides['before'])}/{len(sides['after'])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
