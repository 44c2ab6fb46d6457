#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line with per-query seconds.

Methodology (SURVEY.md §6 mitigations; measured, not guessed — history in
BASELINE.md):

- One shared SparkSession; each query reads the parquet fixtures directly.
  (The OS page cache holds the files after the first pass, which is exactly
  what the DuckDB twin measures too. `df.cache()` was benchmarked and is a
  wash at this scale — Spark's vectorized parquet reader matches the
  InMemoryRelation scan — so the simpler symmetric setup wins.)
- Prepared-statement timing: each declarative query's DataFrame is built
  ONCE (Python plan construction + Catalyst analysis, ~0.1-0.2 s of
  driver-side work per query), then the timed runs execute it into the
  `noop` sink. Execution still re-runs the full optimizer + physical
  planning + all stages every time — only the Python DataFrame-building is
  hoisted, the same way the DuckDB side's `PREPARE`-trivial parse cost is
  not what its numbers measure. EXCEPTION: ops in REBUILD are iterative —
  constructing their DataFrame *is* the computation (power iteration /
  k-means / fixpoint with eager localCheckpoints) — so each timed run
  rebuilds from scratch; anything else would time a cached result.
- Three untimed global warm-up passes (JIT C2 compilation keeps lowering
  latencies for the first ~2 passes; measured drift > any conf knob), then
  per query: TIMED_RUNS consecutive executions, best-of kept — the SAME
  methodology as rounds 1-4 (interleaved passes measured ~50% slower from
  cold JIT/CPU-cache state; A/B in r3: consecutive 4.35 s vs 6.89 s).
- Self-proving artifact: the JSON embeds os.getloadavg(), every per-query
  run array with its wall-clock start offset, and the paired DuckDB-twin
  run from the SAME invocation with the Spark/DuckDB ratio over the
  oracle-covered queries. Each invocation appends to BENCH_HISTORY.jsonl.
- Headline-of-record (r4 advice item 10; re-based in r10 per r9 verdict
  item 6): the top-level `value`/`ratio_of_record` are the MIN-MERGED
  PER-QUERY FLOOR over same-perf-epoch invocations at the same SF and
  query-set version (including this one): per-query Spark minima across
  same-epoch rows (same engine code, each already best-of-3) over
  per-query DuckDB-twin minima across the whole set_version (oracle SQL
  is engine-code-independent). Rationale: at the sub-second sf0.1 tier,
  host-level contention invisible to in-container pressure metrics
  inflated Spark totals 20.4→35.5 s across six same-code r9 invocations
  while the paired twin held ~10-11 s — any single invocation's ratio
  (and the median of a few) is a contention lottery; the floor is the
  comparison that survives it. `value_live`/`ratio_live` carry this
  invocation verbatim; the raw invocation band (`ratio_band`), the
  median, and the min-load pair stay in the history summary.
- Query-set v2 (r4 item 5): the classic 15 (r1-r4 lineage, reported
  separately as classic15_* for round-over-round comparability) + the
  remaining 20 TPC-H shapes + the heavy iterative ext ops (PageRank,
  bounded dedup clusters, semdedup, training-prep pipeline, kNN graph).
  History summaries only mix invocations of the same set version.

This measures steady-state query latency — the same thing the DuckDB
baseline (scripts/bench_duckdb.py, in-memory connection, OS-cached parquet)
measures. BASELINE.md carries both sides plus the per-stage floor analysis
(~0.07 s/stage scheduling floor on local[N] is the irreducible gap at
sub-second scale; it amortizes at the sf1 tier — scripts/bench_sf1.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The classic headline set (rounds 1-4): one per major plan shape.
CLASSIC = [
    "q1_pricing_summary",
    "q_groupby",
    "q_join_left",
    "q_window_agg",
    "q_topk",
    "q_tumble",
    "ext_dedup_exact",
    "ext_text_stats",
    "vector_search",
    "ext_similarity_topk",
    "ext_sessionize",
    "ext_asof_join",
    "ext_docs_to_chunks",
    "q21_waiting_suppliers",
    "ext_curation_pipeline",
]

# v2 widening: every remaining TPC-H shape (q1/q21 already above) ...
TPCH_REST = [
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_late_shipments",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q11_important_parts", "q12_priority_by_delay", "q13_order_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_part_supplier_counts",
    "q17_small_quantity", "q18_large_orders", "q19_disjunctive_filter",
    "q20_promotion_suppliers", "q22_dormant_customers",
]

# ... plus the heavy ext ops the r4 verdict called out. Iterative ones
# (REBUILD) re-run their driver orchestration every timed run.
# ext_knn_graph_batch is the BLAS scale path; it shares ext_knn_graph's
# oracle (same semantics, pytest-pinned identical edges), so benching it
# keeps the twin comparison exact while timing the path a 100 TB run uses.
HEAVY = [
    "ext_training_prep_pipeline", "ext_knn_graph_batch",
    "ext_dedup_clusters_bounded", "ext_pagerank", "ext_semdedup",
]
REBUILD = {"ext_pagerank", "ext_semdedup", "ext_dedup_clusters_bounded"}

HEADLINE = CLASSIC + TPCH_REST + HEAVY
SET_VERSION = "v2"

# Code-fingerprint for the of-record window (r6 verdict item 9): history
# rows record the git SHA they ran at plus this epoch tag; the of-record
# median is computed over SAME-EPOCH invocations (so perf fixes don't
# take dozens of invocations to flush out of the median), with the
# all-history median reported alongside. Bump the tag whenever a change
# is expected to move headline timings (plan rewrites, conf changes,
# query-set membership) — NOT for unrelated commits.
PERF_EPOCH = "r12c"  # r12c: curation quality branch through one
                     # mapInArrow pass (explicit java-\s classes in RE2,
                     # identical IEEE double tree, survivor-only md5;
                     # OPTIMIZATION_r12.md "ext_curation_pipeline quality
                     # branch", 490k survivors checksum-
                     # identical: sf10 branch 1.46->0.96 / full op
                     # 10.4->8.8 interleaved; sf0.1 0.44->0.33 / 1.13->1.07).
                     # Supersedes:
                     # r12b: vectorized Arrow shingle generator — the
                     # mapInArrow body builds every window string in C++
                     # (binary_join_element_wise over shifted flat-token
                     # slices) and does per-doc distinct+sort via
                     # dictionary rank + np.unique, zero per-row Python
                     # (OPTIMIZATION_r12.md "dedup._shingle_batches —
                     # vectorized", checksums identical:
                     # sf10 curation 6.60->4.70, decontaminate 7.55->4.74;
                     # sf0.1 curation 1.51->1.21, minhash_md5 3.06->2.60).
                     # Supersedes:
                     # r12a: Arrow front-end for the training-prep
                     # scored→kept pass (md5 per DISTINCT word per batch
                     # via dictionary_encode + RE2 normalize; bit-identical,
                     # OPTIMIZATION_r12.md "ext_training_prep_pipeline —
                     # Arrow scored→kept front-end": sf10 32.2->7.31 s, sf0.1
                     # 0.644->0.386) and the volume-gated scan-split
                     # open-cost floor + v3 tier-lake row-group layout
                     # (probe_scan_parallelism.py: corpus scans were
                     # starved to 2-5 tasks at sf10; text family 2-2.7x).
                     # Supersedes:
                     # r11e: corpus norm below the batch-query joins
                     # (ext_similarity_topk sf10 5.26->3.86, ext_ann_int8
                     # 5.69->4.46; OPTIMIZATION_r11.md) and q14's
                     # promo-subset broadcast flag join (sf10 1.83->0.84;
                     # probe_q14_promo.py). Supersedes:
                     # r11d: narrow-exchange pass on q3/q5/q7/q8/q9/q10/
                     # q12 — revenue/profit products fold to one BIGINT
                     # and 1:1 strings to integer codes BEFORE the fact
                     # exchange, q9's supplier/nation dims move to the
                     # map side, q10's fact-sized orders side gets the
                     # shuffle-hash hint (probe_narrow_exchange.py, sf10
                     # mins: q3 2.59->2.32, q5 3.72->3.51, q7 2.39->1.89,
                     # q8 2.49->2.22, q9 2.75->2.60, q10 3.60->2.53,
                     # q12 2.02->1.94; rows identical). Supersedes r11c
                     # (lazy CC cuts: min-label 2.22->2.13, star
                     # 4.81->4.52 at sf0.1), r11b (q5/q7/q8 dim cuts
                     # moved pre-exchange: sf10 7.38->3.72 / 4.95->2.56 /
                     # 8.47->3.03; q4/q21 order-grain exchanges), r11a
                     # (lazy pagerank cuts) and r10 (bloom ratchet + q16
                     # pin).

WARMUP_PASSES = int(os.environ.get("SPARK_GRAFT_WARMUP", "2"))
TIMED_RUNS = 3


def _git_sha() -> str | None:
    """Current HEAD SHA (best-effort; bench must run without git too)."""
    import subprocess
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)), timeout=10,
        ).stdout.strip() or None
    except Exception:  # noqa: BLE001
        return None


def write_detail(artifact: dict, tag: str) -> str | None:
    """Write the FULL artifact (per-query spark+duck maps, run arrays,
    history summary — everything) to a committed file under
    bench_artifacts/. The driver's recorded stdout tail truncates at
    ~2000 chars (BENCH_r04-r06 lost their per-query maps to it), so the
    un-truncated artifact of record lives in the repo instead. Returns
    the repo-relative path, or None on IO failure (never breaks the
    bench contract)."""
    try:
        root = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(os.path.join(root, "bench_artifacts"), exist_ok=True)
        rel = os.path.join("bench_artifacts", f"detail_{tag}.json")
        with open(os.path.join(root, rel), "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
            f.write("\n")
        return rel
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from agentic_data_pipeline_spark.registry import all_ops_queries
    from agentic_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="adps-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_ops_queries()

    # Prepared plans for declarative queries; REBUILD ops reconstruct.
    dfs = {name: queries[name](spark, sf_dir)
           for name in HEADLINE if name not in REBUILD}

    def run(name: str) -> float:
        t0 = time.perf_counter()
        df = (queries[name](spark, sf_dir) if name in REBUILD
              else dfs[name])
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    for _ in range(WARMUP_PASSES):
        for name in HEADLINE:
            run(name)

    bench_start = time.time()
    runs: dict[str, list[float]] = {}
    run_starts: dict[str, float] = {}
    for name in HEADLINE:
        run_starts[name] = round(time.time() - bench_start, 3)
        runs[name] = [run(name) for _ in range(TIMED_RUNS)]
    timings = {name: round(min(r), 3) for name, r in runs.items()}

    total = round(sum(timings.values()), 3)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    duck_queries, ratio = {}, None
    try:
        duck_queries = duckdb_twin(sf_dir)
        covered = [n for n in HEADLINE if n in duck_queries]
        spark_cov = sum(timings[n] for n in covered)
        duck_cov = sum(duck_queries[n] for n in covered)
        if duck_cov > 0:
            ratio = round(spark_cov / duck_cov, 3)
    except Exception:  # noqa: BLE001 — the twin must never break the contract
        pass

    classic_cov = [n for n in CLASSIC if n in duck_queries]
    classic_duck = sum(duck_queries[n] for n in classic_cov)
    artifact = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "set_version": SET_VERSION,
        "n_queries": len(HEADLINE),
        "value_live": total,
        "ratio_live": ratio,
        "classic15_total_sec": round(sum(timings[n] for n in CLASSIC), 3),
        "classic15_ratio": (round(sum(timings[n] for n in classic_cov)
                                  / classic_duck, 3)
                            if classic_duck else None),
        "n_timed_runs": TIMED_RUNS,
        "runs_sec": {n: [round(x, 3) for x in r] for n, r in runs.items()},
        "run_start_offsets_sec": run_starts,
        "invocation_unix": round(bench_start, 1),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "duckdb_twin_sec": duck_queries,
        "duckdb_twin_total_sec": round(sum(duck_queries.values()), 3),
        "spark_over_duckdb_ratio": ratio,
        "git_sha": _git_sha(),
        "perf_epoch": PERF_EPOCH,
    }
    artifact["history_same_sf"] = _record_history(artifact)
    # Headline-of-record = the median-ratio invocation over the recorded
    # same-SF same-set history. Window (r6 item 9): the SAME-PERF-EPOCH
    # median once >=3 same-epoch invocations exist (so code changes don't
    # take dozens of invocations to flush out of the median), else the
    # all-history median; both are reported.
    hist = artifact["history_same_sf"] or {}
    # Of-record since r10 (r9 verdict item 6): the min-merged per-query
    # FLOOR over same-epoch invocations, not any single invocation — at
    # the sub-second tier a single run's ratio (and the median of a few)
    # is a host-contention lottery the floor survives. Falls back to the
    # old median-invocation logic until the epoch has a floor (first run
    # of a new epoch IS the floor, so this is nearly always set).
    rec, window = None, "none"
    if hist.get("ratio_floor_epoch") is not None:
        artifact["value"] = hist["value_floor_epoch"]
        artifact["ratio_of_record"] = hist["ratio_floor_epoch"]
        window = ("epoch_floor(n="
                  f"{hist.get('n_epoch_floor_rows', hist.get('n_epoch_invocations'))})")
    else:
        if hist.get("n_epoch_invocations", 0) >= 3:
            rec, window = hist.get("epoch_median_invocation"), "perf_epoch"
        if rec is None and hist.get("median_invocation"):
            rec, window = hist["median_invocation"], "all_history"
        artifact["value"] = rec["value"] if rec else total
        artifact["ratio_of_record"] = (rec["spark_over_duckdb_ratio"]
                                       if rec else ratio)
    # Provenance, embedded in the artifact itself (not just this
    # docstring): `value`/`ratio_of_record` are the same-epoch per-query
    # floor (or, fallback, the median-ratio RECORDED invocation) — which
    # may not equal THIS run. This invocation's own measurements are
    # value_live/ratio_live/queries/runs_sec; the raw invocation band
    # stays in history_same_sf.ratio_band.
    artifact["of_record_provenance"] = {
        "source": "BENCH_HISTORY.jsonl min-merged per-query floor over "
                  "same-perf-epoch invocations (same sf + set_version, "
                  "incl. this run); duck minima merge across the whole "
                  "set_version",
        "window": window,
        # epoch_floor is a COMPOSITE merged across invocations — no single
        # run measured it, so it gets no invocation timestamp (r10 ADVICE:
        # attributing the floor to this run's unix misstates provenance).
        "invocation_unix": (None if window.startswith("epoch_floor")
                            else (rec or {}).get(
                                "invocation_unix",
                                artifact["invocation_unix"])),
        "is_this_invocation": (False if window.startswith("epoch_floor")
                               else (rec is None
                                     or rec.get("invocation_unix")
                                     == round(bench_start, 1))),
        "live_keys": ["value_live", "ratio_live", "queries", "runs_sec"],
    }
    detail = write_detail(artifact, f"sf{sf}_{SET_VERSION}")
    print(json.dumps(compact_line(artifact, detail),
                     separators=(",", ":")))


def compact_line(artifact: dict, detail: str | None) -> dict:
    """The ONE stdout JSON line, kept under ~1900 chars so the driver's
    2000-char stdout-tail capture parses it whole (BENCH_r04-r06 printed
    the full artifact and the recorded copy was truncated mid-object:
    `parsed: null`). Per-query SPARK seconds stay on the line (the driver
    contract's required `queries` map); the bulky fields — duck twin map,
    per-run arrays, history summaries — live in the committed detail
    file referenced by `detail`."""
    keep = ("metric", "value", "unit", "queries", "sf", "set_version",
            "n_queries", "value_live", "ratio_live", "ratio_of_record",
            "perf_epoch", "invocation_unix", "load_avg",
            "duckdb_twin_total_sec", "spark_over_duckdb_ratio")
    out = {k: artifact[k] for k in keep if k in artifact}
    sha = artifact.get("git_sha")
    out["git_sha"] = sha[:12] if sha else None
    hist = artifact.get("history_same_sf") or {}
    out["n_hist"] = hist.get("n_invocations")
    out["n_hist_epoch"] = hist.get("n_epoch_invocations")
    out["of_record_window"] = (artifact.get("of_record_provenance") or
                               {}).get("window")
    out["detail"] = detail
    return out


def _record_history(artifact: dict, hist_path: str | None = None
                    ) -> dict | None:
    """Append this paired invocation to BENCH_HISTORY.jsonl (committed with
    the repo) and return a summary of ALL recorded same-SF same-set
    invocations — median/band of the paired ratio plus the min-load pair —
    so the single JSON the driver records carries the controlled evidence,
    not one invocation's load luck. The ratio is load-controlled by
    construction (Spark and the DuckDB twin run in the SAME invocation);
    the median over invocations is the number of record. Never breaks the
    contract: best-effort IO."""
    try:
        if hist_path is None:
            hist_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_HISTORY.jsonl")
        entry = {k: artifact[k] for k in (
            "sf", "set_version", "invocation_unix", "load_avg",
            "duckdb_twin_total_sec", "spark_over_duckdb_ratio")}
        entry["value"] = artifact["value_live"]
        # Code fingerprint per invocation (r6 item 9): which code this
        # row measured, and the perf-epoch window it belongs to.
        entry["git_sha"] = artifact.get("git_sha")
        entry["perf_epoch"] = artifact.get("perf_epoch")
        # Conf-A/B rows (bloom forced off) must never merge into
        # default-conf floors/medians — same sha, different engine conf.
        if os.environ.get("SPARK_GRAFT_NO_BLOOM"):
            entry["no_bloom"] = True
        # Per-query maps per invocation (r8): the detail file keeps only
        # the LAST invocation, so without these a slower re-run silently
        # destroys an earlier clean run's per-query evidence; with them,
        # growth_table.py can merge same-SHA invocations (per-query min ≈
        # the uncontended time; each is already best-of-3 in-invocation).
        entry["queries"] = artifact.get("queries")
        entry["duckdb_twin_sec"] = artifact.get("duckdb_twin_sec")
        with open(hist_path, "a") as f:
            f.write(json.dumps(entry) + "\n")
        with open(hist_path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        rows = [e for e in entries
                if e.get("sf") == artifact["sf"]
                and e.get("set_version") == artifact["set_version"]]
        if not rows:
            return None
        # Median/band statistics require a single-invocation PAIRED ratio,
        # so they stay restricted to default-conf rows where both phases
        # ran (non-None ratio, no bloom-off conf A/B). The FLOOR below is
        # broader by design (r10 ADVICE): a SPARK_GRAFT_SKIP_DUCK row has
        # ratio=None but its per-query Spark times are default-conf
        # evidence, and a no_bloom row's DuckDB twin times are valid (the
        # twin is conf-independent) even though its Spark side is not.
        same = [e for e in rows
                if e.get("spark_over_duckdb_ratio") is not None
                and not e.get("no_bloom")]
        out: dict = {"n_invocations": len(same)}
        if same:
            by_ratio = sorted(same,
                              key=lambda e: e["spark_over_duckdb_ratio"])
            ratios = [e["spark_over_duckdb_ratio"] for e in by_ratio]
            mid = len(ratios) // 2
            # Median = the UPPER-median invocation for even counts too
            # (never an averaged value no invocation measured), so
            # ratio_median and median_invocation always agree — one real
            # recorded run is the number of record.
            out.update({
                "ratio_median": ratios[mid],
                "ratio_band": [ratios[0], ratios[-1]],
                "median_invocation": by_ratio[mid],
                "min_load_invocation": min(same,
                                           key=lambda e: e["load_avg"][0]),
            })
            # Same-perf-epoch window: rows recorded under the CURRENT code
            # epoch (pre-epoch rows have no tag and are excluded). This is
            # what of-record switches to once it has >=3 rows, so a perf
            # fix shows up in the headline within three invocations
            # instead of waiting out the all-history median.
            epoch = [e for e in by_ratio
                     if e.get("perf_epoch") == artifact.get("perf_epoch")]
            out["n_epoch_invocations"] = len(epoch)
            if epoch:
                e_ratios = [e["spark_over_duckdb_ratio"] for e in epoch]
                e_mid = len(e_ratios) // 2
                out["ratio_median_epoch"] = e_ratios[e_mid]
                out["epoch_median_invocation"] = epoch[e_mid]
        else:
            out["n_epoch_invocations"] = 0
        # Min-merged per-query floor (r9 verdict item 6, promoted to the
        # of-record metric in r10): per-query Spark minima across
        # SAME-EPOCH invocations (same engine code; each row is already
        # best-of-3 in-invocation) over per-query DuckDB minima across
        # ALL same-set invocations (the twin runs set_version-pinned
        # oracle SQL — engine-code-independent). This is the comparison
        # that survives host-level contention invisible to in-container
        # pressure metrics: in r9, six same-code invocations degraded
        # 20.4→35.5 s Spark-side while the paired twin held ~10-11 s,
        # making single-invocation (and hence median-of-few) ratios at
        # the sub-second sf0.1 tier mostly a contention lottery.
        # Spark side of the floor: every default-conf same-epoch row with
        # a per-query map, REGARDLESS of ratio — a SPARK_GRAFT_SKIP_DUCK
        # invocation (ratio=None) measured the engine under default conf
        # and belongs in the floor (r10 ADVICE, medium). no_bloom rows
        # stay out (different engine conf).
        floor_rows = [e for e in rows
                      if e.get("perf_epoch") == artifact.get("perf_epoch")
                      and e.get("queries") and not e.get("no_bloom")]
        out["n_epoch_floor_rows"] = len(floor_rows)
        spark_min: dict[str, float] = {}
        for e in floor_rows:
            for k, v in (e.get("queries") or {}).items():
                spark_min[k] = min(spark_min.get(k, v), v)
        # Duck side: ALL same-set rows, including no_bloom conf-A/Bs —
        # the twin runs set_version-pinned oracle SQL, engine-conf- and
        # engine-code-independent (r10 ADVICE, low).
        duck_min: dict[str, float] = {}
        for e in rows:
            for k, v in (e.get("duckdb_twin_sec") or {}).items():
                duck_min[k] = min(duck_min.get(k, v), v)
        cov = [k for k in spark_min if k in duck_min]
        if cov and spark_min:
            s_cov = sum(spark_min[k] for k in cov)
            d_cov = sum(duck_min[k] for k in cov)
            out["ratio_floor_epoch"] = round(s_cov / d_cov, 3)
            out["floor_spark_cov_sec"] = round(s_cov, 3)
            out["floor_duck_cov_sec"] = round(d_cov, 3)
            out["value_floor_epoch"] = round(sum(spark_min.values()), 3)
        return out
    except Exception:  # noqa: BLE001
        return None


def duckdb_twin(sf_dir: str) -> dict[str, float]:
    """Paired DuckDB baseline from the same invocation: each headline op's
    oracle SQL (exact semantics twin) on the same parquet, warm cache,
    best-of-3 — symmetric with the Spark side's TIMED_RUNS. Heavy twins
    (recursive-CTE PageRank, the bounded-cluster fixpoint) time best-of-3
    exactly like everything else: DuckDB re-executes its full iteration
    each run, symmetric with the REBUILD re-orchestration on the Spark
    side."""
    import time

    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded
    from tests.parity_util import duck_connect

    _ensure_loaded()
    con = duck_connect(sf_dir)
    timings: dict[str, float] = {}
    for name in HEADLINE:
        oracle = OPS[name].oracle
        if oracle is None:
            continue

        def one() -> float:
            t0 = time.perf_counter()
            con.execute(oracle).fetchall()
            return time.perf_counter() - t0

        one()  # warm-up (parse + page cache)
        timings[name] = round(min(one(), one(), one()), 3)
    return timings


if __name__ == "__main__":
    main()
