"""SparkSession factory for the engine.

The reference delegates all execution to an in-memory DuckDB connection
(reference engine.py:44); our equivalent "engine bring-up" is one configured
SparkSession. Design point: local[N] for tests, but every conf here is chosen
to also make sense on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing of post-shuffle partitions, skew-join splitting,
  dynamic broadcast conversion) so plans self-correct at scale.
- Arrow on for every pandas interchange boundary (vector UDFs, toPandas).
- ``nanosAsLong`` because the ``events`` fixture carries INT64 TIMESTAMP(NANOS)
  which Spark has no native type for; we read the raw nanos and convert
  explicitly (see catalog.events_with_ts).
- UTC session timezone so timestamp semantics are reproducible against the
  DuckDB oracle regardless of host timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable SQL confs that the engine depends on. Kept separate from
# builder-time confs so they can also be applied to a session we did not
# create (the verification driver constructs its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter semi-join reduction is SCALE-GATED: explicitly
    # OFF here (Spark 4 defaults it ON — the engine ran 8 rounds with it
    # silently on) and ratcheted back on by apply_scaled_shuffle() past
    # BLOOM_MIN_FACT_ROWS. Measured r9: ON wins isolated per-query
    # fresh-write A/Bs at every tier (sf0.1 watch-8 4.86->4.48 s, sf10
    # 20.43->19.48 s, rows identical), but at sf0.1 SET-level the extra
    # build-side aggregate per eligible join across 40 queries x 5 passes
    # is pure session pressure (the r8 GC-coupling pattern): interleaved
    # same-day invocations gave OFF {1.39,1.47,1.55,1.83} vs ON
    # {1.60,1.65,1.72,1.86,1.93,2.11,2.16,2.27} paired ratios. Fixed
    # optimizer overhead has to follow data volume, exactly like
    # shuffle-partition count.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    # pandas/Arrow interchange for vectorized UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Ratchet state for the volume-gated bloom filter (r9-advisor finding: tune()
# runs inside catalog.load_table() on EVERY table read, so re-applying the
# RUNTIME_CONFS "false" pin silently undid apply_scaled_shuffle()'s ratchet on
# the very next op — including every timed tier-bench pass). Once a caller
# declares big data, tune() must stop pinning bloom off for the process
# lifetime; sessions are per-process here and a cluster deploy sets its own.
_BLOOM_RATCHETED = False


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours).

    Safe to call repeatedly; silently skips confs the session refuses to set
    at runtime (none of RUNTIME_CONFS are static, but be defensive).

    Also right-sizes ``spark.sql.shuffle.partitions`` when the session still
    carries the stock 200: on a local[N] box 200 tiny shuffle partitions is
    pure scheduling overhead (observed on the verification driver's vanilla
    session); on a real cluster the deployment sets its own value, which is
    left untouched.
    """
    for k, v in RUNTIME_CONFS.items():
        if (_BLOOM_RATCHETED
                and k == "spark.sql.optimizer.runtime.bloomFilter.enabled"):
            continue  # a big-data declaration outlives later tune() calls
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(default_parallelism()))
    except Exception:
        pass
    return spark


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


# Rows per shuffle partition for wide aggregates/joins over synthetic or
# estimated row counts. Measured, not guessed: at the 10M-doc / 20M-vector
# 100×-tier probes (BASELINE.md round 7), 32 fixed partitions put ~0.5 GB
# of aggregation state in each task and the probe died in GC; n/100k keeps
# per-task state ~constant as data grows (the 4M-doc dedup tier dropped
# 239 s → 90 s on this alone). 100k rows/partition ≈ tens of MB for the
# fixture-shaped rows — comfortably in-memory with headroom for skew.
SHUFFLE_ROWS_PER_PARTITION = 100_000


def scaled_shuffle_partitions(est_rows: int) -> int:
    """Shuffle-partition count that FOLLOWS DATA VOLUME instead of core
    count: max(cores, est_rows / SHUFFLE_ROWS_PER_PARTITION). This is the
    engine rule the 100×-tier probes validated (r7 verdict item 8); heavy
    ops' documented 100 TB paths, scripts/bench_sf1.py, and the probe
    scripts all route through it. On a real cluster the deployment's AQE
    coalescing trims any excess back down — overshooting is cheap,
    undershooting is GC death."""
    return max(default_parallelism(),
               int(est_rows) // SHUFFLE_ROWS_PER_PARTITION)


# Fact-row count past which the runtime bloom-filter semi-join reduction
# pays for its build-side aggregate (r9 three-tier measurement — see the
# RUNTIME_CONFS note): sf3's 18M-row lake is the smallest tier where the
# set-level paired ratio improved (0.73 -> 0.54); sf1's 6M was neutral and
# sf0.1's 600k regressed. At 100 TB this is always on.
BLOOM_MIN_FACT_ROWS = 10_000_000

# Scan-split open-cost floor for big declared volumes (r12, guide §6.1 /
# §2.5 input skew): Spark sizes file splits by COMPRESSED bytes
# (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
# bytes/defaultParallelism)), openCost default 4 MB) — a corpus table
# whose text/vectors dictionary-compress 30×+ (documents at the growth
# tiers: 500k rows in a 6 MB file) planwise "fits" in 1-2 splits while
# carrying minutes of per-row compute, so 30 cores idle. Lowering the
# open-cost floor lets bytes/cores actually produce per-core splits for
# such files; big tables are unaffected (their bytes/cores term already
# dominates: lineitem keeps its 32 splits either way). Like the bloom
# ratchet this FOLLOWS DATA VOLUME: at the dispatch-bound sf0.1 tier
# extra scan tasks are pure scheduling overhead (r11
# probe_scan_minpartitions.py measured the wash), so the default stays
# stock and the floor applies only past the declared-volume gate.
# Measured (scripts/probe_scan_parallelism.py, sf10, interleaved min-of-3,
# rows identical): prep 7.42→3.27 s, curation 24.2→12.5, chunks
# 20.0→8.0, dedup_exact 3.67→1.63, text_stats 7.76→2.89. On a real
# cluster the deployment sets its own split sizing; SPARK_GRAFT_EXTRA_CONFS
# overrides this one like any other conf.
SCAN_OPEN_COST_FLOOR_BYTES = 64 * 1024
SCAN_FLOOR_MIN_FACT_ROWS = BLOOM_MIN_FACT_ROWS


def apply_scaled_shuffle(spark: SparkSession, est_rows: int) -> int:
    """Set spark.sql.shuffle.partitions by the scaled rule; returns the
    value applied. Also flips the volume-gated optimizer features
    (runtime bloom-filter join reduction) on/off for the scale the caller
    declared — same principle as the partition count: fixed optimizer
    overhead must follow data volume."""
    parts = scaled_shuffle_partitions(est_rows)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # RATCHET, not a toggle: a big-data declaration (tier bench's fact
    # count, a heavy op's corpus size) turns bloom on for the session; a
    # later small-n op-local call must not flip it back off under the
    # tier's other queries.
    if est_rows >= BLOOM_MIN_FACT_ROWS:
        global _BLOOM_RATCHETED
        try:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
            _BLOOM_RATCHETED = True  # tune() must not pin it back off
        except Exception:
            pass
    # Scan-split open-cost floor (see SCAN_OPEN_COST_FLOOR_BYTES): past the
    # volume gate, heavily-compressed corpus files stop being starved to
    # 1-2 scan tasks. tune() never touches this conf, so no ratchet needed.
    if est_rows >= SCAN_FLOOR_MIN_FACT_ROWS:
        try:
            spark.conf.set("spark.sql.files.openCostInBytes",
                           str(SCAN_OPEN_COST_FLOOR_BYTES))
        except Exception:
            pass
    return parts


def pin(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: the one materialization pin every operator
    uses (iterative loop state, loop-invariant inputs, a subtree read by
    several consumers). Returns ``df.localCheckpoint(eager=False)``.

    The rule is: always lazy. The first job that reads the pin
    materializes its blocks. Under AQE (always on, ``RUNTIME_CONFS``) the
    lazy call already runs every shuffle stage below the pin (q16's spec
    map runs its stages at build time), so the eager form's ``count()``
    adds one job, the final stage. PageRank's 10-round loop measured lazy
    cuts at 2.31 s vs eager 2.62 s at sf0.1, and AQE off loses badly
    (32 uncoalesced tasks per stage): OPTIMIZATION_r11.md
    "ext_pagerank — lazy per-round lineage cuts". The md5 shingle pin
    measured a wash (BASELINE.md "Accumulator ERRORs under a GC hammer").

    The price of lazy: a lazy pin can log DAGScheduler "Failed to update
    accumulator" ERRORs, where a task reports SQL metrics whose
    driver-side accumulators GC has already collected. Rows are
    unaffected; the stage's metrics miss those updates.
    ``ext_knn_graph_derived`` logs it in some plain runs, other pinned ops
    only under forced GCs; no eager pin logged it in the reproduction
    (BASELINE.md "Accumulator ERRORs under a GC hammer").

    Lifecycle: the blocks live on executor local disk for the session's
    lifetime, so the caller owns the session. The one eager pin is the
    streaming foreachBatch state (operators/streaming_ops.py), which must
    be materialized before its micro-batch ends.
    """
    return df.localCheckpoint(eager=False)


def get_spark(app_name: str = "agentic-data-pipeline-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``shuffle_partitions`` defaults to the local core count: at local scale a
    shuffle into 200 partitions is pure overhead; on a real cluster the
    deployment overrides this (or AQE coalescing makes the initial number
    mostly moot).
    """
    n = default_parallelism()
    master = master or f"local[{n}]"
    shuffle = shuffle_partitions or n
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Broadcast all TPC-H-ish dims (region/nation/supplier/part/customer
        # stay broadcast-sized at every tested sf; at 100 TB the fact tables
        # never are, which is exactly the asymmetry broadcast joins want).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        # Delay scheduling buys nothing when every task slot is in-process
        # (all locality levels collapse to PROCESS_LOCAL); measured ~8% off
        # the sf0.1 headline set. On a real cluster the default 3s wait is
        # right, so this is local-only.
        builder = builder.config("spark.locality.wait", "0s")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune(builder.getOrCreate())
    # Deployment overrides: "k=v;k=v" (a cluster deploy sets real confs via
    # spark-submit; this is the local/bench equivalent). Applied after
    # tune() so an override wins over the engine defaults.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
