"""Summarise and compare two sets of benchmark records.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the JSON records ``perfbench/run.py`` writes to
``.perfbench/results/``. For every workload and end-to-end metric it prints
each side's median and quartiles and the change of the medians, marking a
change worse than the metric's bound in BENCHMARK.json. Records taken at
different core counts are never compared: the script refuses and exits 2.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict[str, list[dict]]:
    """Untraced records by workload."""
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        prov = rec["provenance"]
        if prov["trace"] == 0:
            out.setdefault(prov["workload"], []).append(rec)
    return out


def cores(records: dict[str, list[dict]]) -> set[int]:
    return {r["provenance"]["cores"] for rs in records.values() for r in rs}


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    seen = cores(base) | cores(new)
    if len(seen) > 1:
        print(f"refusing to compare runs taken at different core counts: "
              f"{sorted(seen)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    for wl in sorted(set(base) & set(new)):
        print(f"{wl}: {len(base[wl])} base runs, {len(new[wl])} new runs")
        for m in metrics:
            name = m["name"]
            b = [r["result"]["metrics"][name]["value"] for r in base[wl]]
            n = [r["result"]["metrics"][name]["value"] for r in new[wl]]
            bq, nq = summary(b), summary(n)
            change = nq[1] / bq[1] - 1.0 if bq[1] else float("nan")
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print(f"  {name:16s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                  f"new {nq[1]:.4g} [{nq[0]:.4g}, {nq[2]:.4g}]  "
                  f"{change:+.1%}{'  WORSE THAN BOUND' if worse else ''} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
