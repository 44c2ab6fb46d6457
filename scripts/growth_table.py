#!/usr/bin/env python3
"""Three-tier growth table (r7 verdict item 5): per-query
{spark, duck, ratio} at sf0.1 / sf1 / sf3 from the committed bench
detail artifacts and bench.py's of-record floor, so the "dispatch floor
amortizes with scale" defense for the sub-second watch queries is a
measured curve, not an argument.

Usage: python scripts/growth_table.py [--all]
  default: the VERDICT r7 watch queries + the tier totals
  --all:   every query present in all three artifacts
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

TIERS = ["0.1", "1", "3", "10"]  # sf10 is the r9 WATCH-SUBSET tier
# (SPARK_GRAFT_ONLY, set_version v2sub): its artifact carries only the 8
# watch queries, so its "twin-covered total" covers just those.
WATCH = [
    "q9_product_profit", "q15_top_supplier", "q21_waiting_suppliers",
    "q16_part_supplier_counts", "q17_small_quantity", "q18_large_orders",
    "q22_dormant_customers", "q2_min_cost_supplier",
]


def load(tier: str) -> dict:
    """Detail artifact for the tier, its per-query Spark and DuckDB times
    replaced by bench.floor over BENCH_HISTORY.jsonl (the of-record rule:
    same sf, set_version, perf_epoch and cpus). An artifact recorded
    without ``cpus`` merges nothing and is shown as recorded."""
    path = os.path.join(REPO, "bench_artifacts", f"detail_sf{tier}_v2.json")
    if not os.path.isfile(path):  # subset tier (sf10): v2sub artifact
        path = os.path.join(REPO, "bench_artifacts",
                            f"detail_sf{tier}_v2sub.json")
    art = json.load(open(path))
    fl = bench.floor(bench.read_history(), art)
    if fl["n_epoch_floor_rows"]:
        art["queries"] = fl["queries"]
        art["duckdb_twin_sec"] = fl["duckdb_twin_sec"]
    art["n_merged_invocations"] = max(1, fl["n_epoch_floor_rows"])
    return art


def main() -> None:
    arts = {t: load(t) for t in TIERS}
    names = set(arts["0.1"]["queries"])
    for t in TIERS[1:]:
        names &= set(arts[t]["queries"])
    rows = sorted(names) if "--all" in sys.argv else [
        w for w in WATCH if w in names]

    hdr = "| query |" + "".join(
        f" sf{t} spark | duck | ratio |" for t in TIERS)
    sep = "|---|" + "---|---|---|" * len(TIERS)
    print(hdr)
    print(sep)
    for q in rows:
        cells = []
        for t in TIERS:
            s = arts[t]["queries"][q]
            d = arts[t]["duckdb_twin_sec"].get(q)
            r = f"{s / d:.2f}x" if d else "—"
            cells.append(f" {s:.3f} | {d if d else '—'} | {r} |")
        print(f"| {q} |" + "".join(cells))
    total = []
    for t in TIERS:
        a = arts[t]
        twin = a["duckdb_twin_sec"]
        # Totals over the SAME key set on both sides (r10 ADVICE): a twin
        # key absent from `queries` must not inflate d_tot.
        s_tot = sum(v for k, v in a["queries"].items() if k in twin)
        d_tot = sum(v for k, v in twin.items() if k in a["queries"])
        r = f"{s_tot / d_tot:.2f}x" if d_tot else "—"
        total.append(f" {s_tot:.1f} | {d_tot:.1f} | {r} |")
    print("| **twin-covered total** |" + "".join(total))
    shas = {t: f"{arts[t].get('git_sha', '?')[:7]}"
               f"(n={arts[t]['n_merged_invocations']},"
               f"cpus={arts[t].get('cpus')})" for t in TIERS}
    print(f"\nartifact shas: {shas}")


if __name__ == "__main__":
    main()
