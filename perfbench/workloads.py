"""The workloads.

Each workload generates its inputs from the seed (``prepare``) and runs a
fixed number of timed passes (``run_pass``); every output is checked
outside the timed region. The interactive loop serves a long-lived
session, so it first runs an untimed warm-up cycle whose outputs are
compared with their DuckDB oracle (``check``) and every timed request must
reproduce them. A batch job pays JVM warm-up once per process, so the batch
workloads time the process's first pass and check its outputs afterwards
(``verify``): against the DuckDB oracle on the same inputs, by property
where the oracle is too slow to run here, and against seed-pinned
checksums. A pass returns the latency of each call in it and the number of
input items it processed; ``Ctx.call`` wraps every call into the package,
so a failure is counted, never raised.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen
from checks import (digest, duck_views, exact_dup_pairs, minhash_finds,
                    oracle_digest)
from layers import Engine, Tracer, plan_counts


@dataclass
class Pass:
    wall_s: float
    items: int
    latencies: dict[str, float]            # call name -> seconds (inf = failed)
    counters: dict[str, float] = field(default_factory=dict)


class Ctx:
    """What a workload needs: the session, the run's scratch directory,
    failure accounting, and the tracer plus status-store reader when the
    run is traced."""

    def __init__(self, spark, work_dir: str, pins_dir: str, seed: int,
                 tracer: Tracer):
        from agentic_data_pipeline_spark import registry

        self.spark = spark
        self.work_dir = work_dir
        self.pins_dir = pins_dir
        self.seed = seed
        self.tracer = tracer
        self.engine = Engine(spark) if tracer.enabled else None
        self.ops = registry.OPS
        self.attempted = 0
        self.failed = 0
        self.trace_cost_s = 0.0    # time spent reading counters for spans
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def call(self, name: str, fn, *, counters: dict | None = None,
             request_id: str | None = None):
        """Run ``fn()``; returns ``(result, seconds)``, with seconds = inf
        and result None when it raised. When traced, the status-store
        delta of the call is added to ``counters`` and to its span."""
        self.attempted += 1
        with self.tracer.span(name, request_id) as sp:
            cost0 = self.trace_cost_s
            t0 = time.perf_counter()
            try:
                out = fn()
                # the call's latency as an untraced run would see it
                seconds = time.perf_counter() - t0 - (self.trace_cost_s - cost0)
                if self.engine is not None:
                    t1 = time.perf_counter()
                    delta = self.engine.delta()
                    sp.counters.update(delta)
                    if counters is not None:
                        for k, v in delta.items():
                            _add(counters, f"spark.{k}", v)
                    self.trace_cost_s += time.perf_counter() - t1
            except Exception as e:  # counted: a failed call is a result
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                return None, math.inf
        return out, seconds

    def run_op(self, op_id: str, lake: str, counters: dict | None = None,
               request_id: str | None = None):
        """Build an op's plan, execute it and collect its rows as Arrow.
        Returns ``(table, seconds)``."""
        tr = self.tracer

        def go():
            t0 = time.perf_counter()
            with tr.span("plan.build"):
                df = self.ops[op_id].fn(self.spark, lake)
            t1 = time.perf_counter()
            with tr.span("plan.exec"):
                table = df.toArrow()
            if counters is not None:
                _add(counters, "plan.build_s", t1 - t0)
                _add(counters, "plan.exec_s", time.perf_counter() - t1)
                if tr.enabled:
                    t2 = time.perf_counter()
                    for k, v in plan_counts(df).items():
                        _add(counters, f"plan.{k}", v)
                    self.trace_cost_s += time.perf_counter() - t2
            return table

        return self.call(f"op.{op_id}", go, counters=counters,
                         request_id=request_id)


def _add(d: dict, key: str, value: float) -> None:
    d[key] = d.get(key, 0.0) + value


def _check_digest(ctx: Ctx, what: str, got, want) -> None:
    if got != want:
        ctx.fail(f"{what}: output differs ({got[1:]} vs {want[1:]})")


class Pins:
    """Seed-pinned checksums: the first run of a workload with given inputs
    records each output digest under ``.perfbench/pins``; every later run
    with the same inputs must reproduce it. Delete the directory after a
    change that is meant to alter outputs."""

    def __init__(self, pins_dir: str, workload: str, seed: int, inputs: dict):
        key = hashlib.sha256(json.dumps([seed, inputs], sort_keys=True).encode()
                             ).hexdigest()[:16]
        os.makedirs(pins_dir, exist_ok=True)
        self.path = os.path.join(pins_dir, f"{workload}-{key}.json")
        try:
            with open(self.path) as f:
                self.pins = json.load(f)
        except (OSError, ValueError):
            self.pins = {}
        self.dirty = False

    def check(self, ctx: "Ctx", what: str, got: tuple) -> None:
        got = json.loads(json.dumps(got))  # the form it is stored in
        if what in self.pins:
            _check_digest(ctx, f"{what} (pinned)", got, self.pins[what])
        else:
            self.pins[what] = got
            self.dirty = True

    def save(self) -> None:
        if self.dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.pins, f)
            os.replace(tmp, self.path)


class Workload:
    name = ""
    # Timed passes per run: --seconds divided by this nominal pass length,
    # so every run does the same work however fast the machine is.
    NOMINAL_PASS_S = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def check(self) -> None:
        pass

    def verify(self) -> None:
        pass

    def traced_extras(self, counters: dict) -> None:
        """Per-layer counts that need a call of their own, after the
        traced passes."""


class CorpusCuration(Workload):
    """LLM training-data curation, a batch job over a documents table and an
    embeddings table: text statistics, the prep and curation passes, exact
    and MinHash dedup and chunking, then the embedding side (batch kNN
    graph, PageRank over it, similarity top-k)."""

    name = "corpus_curation"
    ops = ("ext_text_stats", "ext_training_prep_pipeline", "ext_curation_pipeline",
           "ext_dedup_exact", "ext_dedup_minhash_md5", "ext_docs_to_chunks",
           "ext_knn_graph_batch", "ext_pagerank", "ext_similarity_topk")
    # The md5-MinHash oracle replays 32 md5 hashes per shingle in SQL
    # (minutes at this size); its pairs are checked by property.
    slow_oracles = ("ext_dedup_minhash_md5",)
    NOMINAL_PASS_S = 30
    DOCS, MAX_WORDS = 8_000, 60
    EXACT_DUP_RATE, NEAR_DUP_RATE = 0.01, 0.03
    VECTORS, BLOCK = 3_000, 200

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.tables: dict = {}
        self.passes = 0

    def prepare(self) -> dict:
        self.lake = os.path.join(self.ctx.work_dir, self.name, "lake")
        self.spec = gen.write_corpus(self.lake, self.ctx.seed, self.DOCS,
                                     self.EXACT_DUP_RATE, self.NEAR_DUP_RATE,
                                     self.MAX_WORDS)
        self.spec.update(gen.write_embeddings(self.lake, self.ctx.seed, self.VECTORS,
                                              self.VECTORS // self.BLOCK))
        return self.spec

    def verify(self) -> None:
        pins = Pins(self.ctx.pins_dir, self.name, self.ctx.seed, self.spec)
        con = duck_views(self.lake)
        for op_id, table in self.tables.items():
            if table is None:
                continue
            got = digest(table)
            pins.check(self.ctx, op_id, got)
            if op_id in self.slow_oracles:
                if not minhash_finds(table, exact_dup_pairs(con)):
                    self.ctx.fail(f"{op_id}: property check failed")
            else:
                _check_digest(self.ctx, op_id, got,
                              oracle_digest(con, self.ctx.ops[op_id].oracle))
        con.close()
        pins.save()

    def run_pass(self, counters: dict | None = None) -> Pass:
        lat: dict[str, float] = {}
        self.passes += 1
        t0 = time.perf_counter()
        tables = {}
        for op_id in self.ops:
            op_counters = {} if counters is not None else None
            tables[op_id], lat[op_id] = self.ctx.run_op(
                op_id, self.lake, op_counters, request_id=f"pass{self.passes}")
            if counters is not None:
                counters[f"op.{op_id}.s"] = lat[op_id]
                for k, v in op_counters.items():
                    _add(counters, k, v)
                if op_id == "ext_pagerank":
                    counters["graph.stages_per_call.ext_pagerank"] = \
                        op_counters.get("spark.stages", 0.0)
        wall = time.perf_counter() - t0
        if not self.tables:
            self.tables = tables
        else:  # later passes must reproduce the first
            for op_id, table in tables.items():
                if table is not None and self.tables.get(op_id) is not None:
                    _check_digest(self.ctx, op_id, digest(table),
                                  digest(self.tables[op_id]))
        return Pass(wall, self.DOCS, lat, counters or {})

    def traced_extras(self, counters: dict) -> None:
        from agentic_data_pipeline_spark.catalog import load_table
        from agentic_data_pipeline_spark.operators.dedup import minhash_candidates_md5

        docs = load_table(self.ctx.spark, self.lake, "documents")
        # Threshold 0 keeps every band-bucket candidate pair.
        cand, _ = self.ctx.call(
            "dedup.candidates",
            lambda: minhash_candidates_md5(docs, "doc_id", "text", 0.0).count())
        verified = self.tables.get("ext_dedup_minhash_md5")
        verified = verified.num_rows if verified is not None else 0
        counters["dedup.candidate_pairs"] = float(cand or 0)
        counters["dedup.verified_pairs"] = float(verified)
        counters["dedup.pair_yield"] = verified / cand if cand else 0.0


class InteractiveSql(Workload):
    """Closed loop, one client: each request builds its op's plan, runs it
    and collects its rows. Every cycle issues each op of the pool once, in
    an order drawn from the seed."""

    name = "interactive_sql"
    NOMINAL_PASS_S = 4
    # One or more ops of each family a user or agent sends: TPC-H shapes,
    # the SQL surface, a catalog rule, vector lookup, serving, and the
    # DuckDB-dialect path.
    POOL = (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q_window_rank", "rule_clean_emails", "vector_search", "serve_json",
        "nl_transform",
    )
    SF = 0.01

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed)
        self.pinned: dict[str, tuple] = {}
        self.requests = 0

    def prepare(self) -> dict:
        self.lake = os.path.join(self.ctx.work_dir, self.name, "lake")
        return {"inputs": gen.write_lake(self.lake, self.ctx.seed, self.SF),
                "pool": len(self.POOL)}

    def check(self) -> None:
        con = duck_views(self.lake)
        for op_id in self.POOL:
            table, _ = self.ctx.run_op(op_id, self.lake)
            if table is None:
                continue
            self.pinned[op_id] = digest(table)
            _check_digest(self.ctx, op_id, self.pinned[op_id],
                          oracle_digest(con, self.ctx.ops[op_id].oracle))
        con.close()

    def run_pass(self, counters: dict | None = None) -> Pass:
        order = list(self.POOL)
        self.rng.shuffle(order)
        lat: dict[str, float] = {}
        tables = {}
        t0 = time.perf_counter()
        for op_id in order:
            self.requests += 1
            tables[op_id], lat[op_id] = self.ctx.run_op(
                op_id, self.lake, counters, request_id=f"r{self.requests}")
            if counters is not None:
                counters[f"op.{op_id}.p50_s"] = lat[op_id]  # median over passes
        wall = time.perf_counter() - t0
        for op_id, table in tables.items():
            if table is not None and op_id in self.pinned:
                _check_digest(self.ctx, op_id, digest(table), self.pinned[op_id])
        return Pass(wall, len(order), lat, counters or {})


class MedallionEtl(Workload):
    """CSV and JSON uploads through the public sources, agent and serving
    functions, staged by ``pipeline.Pipeline``: bronze (ingest + partitioned
    write), silver (join + three catalog rules), gold (top performers),
    index (vector index written to bronze) and serve."""

    name = "medallion_etl"
    NOMINAL_PASS_S = 30
    ROWS = 30_000
    STAGES = ("bronze", "silver", "gold", "index", "serve")
    RULES = ("clean_emails", "standardize_currency", "remove_outliers")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.passes = 0
        self.first: tuple | None = None    # (lake, served) of the first pass

    def prepare(self) -> dict:
        self.base = os.path.join(self.ctx.work_dir, self.name)
        self.uploads = gen.write_uploads(os.path.join(self.base, "uploads"),
                                         self.ctx.seed, self.ROWS)
        self.spec = {k: v for k, v in self.uploads.items() if k not in ("csv", "json")}
        return {"inputs": self.spec}

    def _schemas(self):
        from pyspark.sql.types import (DateType, DoubleType, IntegerType,
                                       LongType, StringType, StructField,
                                       StructType)

        sales = StructType([
            StructField("order_id", LongType()), StructField("customer_id", LongType()),
            StructField("email", StringType()), StructField("region", StringType()),
            StructField("sale_date", DateType()), StructField("currency", StringType()),
            StructField("revenue", DoubleType()), StructField("units", IntegerType()),
        ])
        customers = StructType([
            StructField("customer_id", LongType()), StructField("segment", StringType()),
            StructField("balance", DoubleType()), StructField("bio", StringType()),
        ])
        return sales, customers

    def _pipeline(self, uploads: dict, lake: str, counters: dict | None,
                  served: dict):
        from agentic_data_pipeline_spark import serving
        from agentic_data_pipeline_spark.agent import TransformationAgent
        from agentic_data_pipeline_spark.operators.similarity import vector_index
        from agentic_data_pipeline_spark.pipeline import Pipeline
        from agentic_data_pipeline_spark.sources import (ingest, read_bronze,
                                                         write_bronze)

        spark, tr = self.ctx.spark, self.ctx.tracer
        sales_schema, cust_schema = self._schemas()
        agent = TransformationAgent()

        def timed(key, fn):
            with tr.span(key[:-2]):
                t0 = time.perf_counter()
                out = fn()
            if counters is not None:
                _add(counters, key, time.perf_counter() - t0)
            return out

        def bronze(_):
            sales = timed("sources.ingest_s", lambda: ingest(
                spark, uploads["csv"], "csv", schema=sales_schema))
            cust = timed("sources.ingest_s", lambda: ingest(
                spark, uploads["json"], "json", schema=cust_schema))
            timed("sources.bronze_write_s", lambda: write_bronze(
                sales, lake, "sales", partition_by=["region"]))
            timed("sources.bronze_write_s", lambda: write_bronze(cust, lake, "customers"))
            return timed("sources.bronze_read_s", lambda: read_bronze(spark, lake, "sales"))

        def silver(sales):
            cust = timed("sources.bronze_read_s",
                         lambda: read_bronze(spark, lake, "customers"))
            df = sales.join(cust, "customer_id")
            for rule in self.RULES:
                df = timed("agent.rules_s", lambda: agent.apply_business_rule(
                    spark, df, "", rule_name=rule))
            timed("sources.bronze_write_s", lambda: write_bronze(df, lake, "silver_sales"))
            return timed("sources.bronze_read_s",
                         lambda: read_bronze(spark, lake, "silver_sales"))

        def gold(silver_df):
            served["silver"] = silver_df
            top = timed("agent.rules_s", lambda: agent.apply_business_rule(
                spark, silver_df, "", rule_name="top_performers"))
            timed("sources.bronze_write_s", lambda: write_bronze(top, lake, "gold_top"))
            return timed("sources.bronze_read_s", lambda: read_bronze(spark, lake, "gold_top"))

        def index(gold_df):
            cust = timed("sources.bronze_read_s",
                         lambda: read_bronze(spark, lake, "customers"))
            idx = vector_index(cust, text_col="bio", id_col="customer_id")
            timed("sources.bronze_write_s",
                  lambda: write_bronze(idx, lake, "customer_index"))
            return gold_df

        def serve(gold_df):
            order = ["order_id"]
            served["json"] = timed("serving.s", lambda: serving.serve_json(
                gold_df, order_by=order, n=20))
            served["csv"] = timed("serving.s", lambda: serving.serve_csv(
                gold_df, order_by=order))
            chart = timed("serving.s", lambda: serving.bar_chart_data(
                served["silver"], "region", "usd_amount").toArrow())
            served["chart"] = chart
            return gold_df

        pipe = Pipeline()
        for name, fn in zip(self.STAGES, (bronze, silver, gold, index, serve)):
            pipe.add_stage(name, self._stage(name, fn))
        return pipe

    def _stage(self, name, fn):
        """A Pipeline stage timed around its whole run: Pipeline's own
        StageRun.seconds covers only lazy plan construction."""
        tr = self.ctx.tracer

        def run(df):
            with tr.span(f"pipeline.{name}"):
                t0 = time.perf_counter()
                out = fn(df)
            self.stage_s[name] = time.perf_counter() - t0
            return out

        return run

    def _run(self, uploads: dict, counters: dict | None):
        """One pipeline run into a fresh lake; returns (lake, served, seconds)."""
        self.passes += 1
        lake = os.path.join(self.base, f"lake{self.passes}")
        served: dict = {}
        self.stage_s: dict[str, float] = {}
        pipe = self._pipeline(uploads, lake, counters, served)
        _, seconds = self.ctx.call(
            "pipeline.run", lambda: pipe.run(self.ctx.spark.range(0)),
            counters=counters, request_id=f"pass{self.passes}")
        return lake, served, seconds

    def _outputs_digest(self, served: dict) -> tuple:
        h = hashlib.sha256(json.dumps(served["json"], default=str).encode())
        h.update(served["csv"])
        return (h.hexdigest(), digest(served["chart"]))

    def _verify(self, lake: str, uploads: dict, served: dict) -> None:
        """Bronze round trip against DuckDB's own read of the uploads, the
        rule invariants on silver, and the index invariants."""
        import duckdb

        from agentic_data_pipeline_spark.operators.rules import EMAIL_RE

        con = duckdb.connect(database=":memory:")
        con.execute("SET TimeZone = 'UTC'")
        upload = con.execute(
            "SELECT * FROM read_csv(?, header=true, columns={'order_id':'BIGINT',"
            "'customer_id':'BIGINT','email':'VARCHAR','region':'VARCHAR',"
            "'sale_date':'DATE','currency':'VARCHAR','revenue':'DOUBLE',"
            "'units':'INTEGER'})", [uploads["csv"]]).arrow()
        bronze = con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning=true)",
            [os.path.join(lake, "sales", "**", "*.parquet")]).arrow()
        _check_digest(self.ctx, "bronze round trip", digest(bronze), digest(upload))
        bad = con.execute(
            "SELECT count(*) FILTER (WHERE NOT regexp_full_match(email, ?)), "
            "count(*) FILTER (WHERE usd_amount IS DISTINCT FROM CAST("
            "CAST(revenue AS DECIMAL(18,2)) * CASE currency WHEN 'USD' THEN "
            "CAST(1.0 AS DECIMAL(8,4)) WHEN 'EUR' THEN CAST(1.08 AS DECIMAL(8,4)) "
            "ELSE CAST(1.26 AS DECIMAL(8,4)) END AS DOUBLE)), count(*) "
            "FROM read_parquet(?)",
            [EMAIL_RE, os.path.join(lake, "silver_sales", "*.parquet")]).fetchone()
        if bad[0] or bad[1] or not 0 < bad[2] < upload.num_rows:
            self.ctx.fail(f"silver rules: {bad[0]} bad emails, {bad[1]} bad "
                          f"conversions, {bad[2]} rows")
        idx = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE len(embedding) <> 64 OR "
            "abs(sqrt(list_sum(list_transform(embedding, x -> x * x))) - 1) > 1e-3) "
            "FROM read_parquet(?)",
            [os.path.join(lake, "customer_index", "*.parquet")]).fetchone()
        if idx[0] != uploads["customers"] or idx[1]:
            self.ctx.fail(f"index: {idx[0]} rows, {idx[1]} bad vectors")
        if len(served.get("json", [])) != 20:
            self.ctx.fail("serve_json: wrong row count")
        con.close()

    def verify(self) -> None:
        """The first pass's lake and served outputs."""
        if self.first is None:
            return
        lake, served = self.first
        self._verify(lake, self.uploads, served)
        pins = Pins(self.ctx.pins_dir, self.name, self.ctx.seed, self.spec)
        json_csv, chart = self._outputs_digest(served)
        pins.check(self.ctx, "served", (json_csv,))
        pins.check(self.ctx, "bar_chart", chart)
        pins.save()
        shutil.rmtree(lake, ignore_errors=True)

    def run_pass(self, counters: dict | None = None) -> Pass:
        lake, served, seconds = self._run(self.uploads, counters)
        ok = seconds != math.inf
        if ok and counters is not None:
            files = [os.path.join(d, f) for d, _, fs in os.walk(lake)
                     for f in fs if f.endswith(".parquet")]
            size = sum(os.path.getsize(f) for f in files)
            counters["sources.bronze_bytes"] = float(size)
            counters["sources.bronze_files"] = float(len(files))
            counters["sources.bytes_per_input_byte"] = size / self.uploads["input_bytes"]
            for name, s in self.stage_s.items():
                counters[f"pipeline.{name}.s"] = s
        if ok and self.first is None:
            self.first = (lake, served)
        else:
            if ok and self._outputs_digest(served) != self._outputs_digest(self.first[1]):
                self.ctx.fail("medallion served outputs differ between passes")
            shutil.rmtree(lake, ignore_errors=True)
        lat = dict(self.stage_s) if ok else {n: math.inf for n in self.STAGES}
        return Pass(seconds, self.ROWS, lat, counters or {})


WORKLOADS = {
    "interactive_sql": InteractiveSql,
    "corpus_curation": CorpusCuration,
    "medallion_etl": MedallionEtl,
}
