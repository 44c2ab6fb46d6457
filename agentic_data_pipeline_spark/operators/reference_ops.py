"""Concrete reference operators (SURVEY.md §2.1) as verified queries.

Ingest/bronze/serve are *effectful* ops, so their query registrations are
round-trips: write a fixture table out through the op, read it back, return
the DataFrame — the DuckDB oracle is simply the original table, proving the
op is lossless. Scratch space lives under the checkout's .tmp/ dir
(``_scratch``, the one owner of that root for every operator module).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..agent import TransformationAgent
from ..catalog import load_table, read_parquet
from ..functions.helpers import o_sum
from ..plans.dialect import sql_exec
from ..registry import op
from ..serving import bar_chart_data, preview, serve_csv, serve_json
from ..sources.bronze import read_bronze, write_bronze
from ..sources.ingest import IngestError, ingest

C = F.col

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
# The checkout's gitignored .tmp, made on first use; an installed package
# has no checkout, so it falls back to the system temp dir.
_TMP = (os.path.join(_ROOT, ".tmp")
        if os.path.isfile(os.path.join(_ROOT, "setup.py"))
        else os.path.join(tempfile.gettempdir(), "agentic_data_pipeline_spark"))


def _scratch(*parts: str) -> str:
    path = os.path.join(_TMP, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _sf_scratch(sf_dir: str, *parts: str) -> str:
    """Scratch path keyed by SF tier, so cached files never cross tiers."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return _scratch(tag, *parts)


def _lake_fp(sf_dir: str, *tables: str) -> str:
    """Fingerprint of the source parquet(s) feeding a scratch write:
    mtime_ns + size per file. The lake is regenerated between rounds under
    the SAME paths (events.ts schema flipped once already), so cached
    scratch keyed on basename alone would silently serve stale prior-round
    bytes while the DuckDB oracle reads the fresh lake."""
    parts = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(p)
        parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    return ";".join(parts)


def _materialize_once(path: str, write_fn, fingerprint: str = "") -> str:
    """Run `write_fn` unless `path` is already materialized FROM THE SAME
    SOURCE BYTES (sidecar `<path>.fpr` records the `_lake_fp` of the inputs).

    Ingest round-trip ops pay their scratch-write Spark jobs once per
    (tier, format) per lake generation — not once per driver check — and a
    regenerated lake invalidates the cache automatically. The sidecar is
    written LAST via os.replace, so a crash mid-write (partial xlsx, half
    a PDF set) leaves no valid-looking marker and the next call rewrites.
    """
    sidecar = path + ".fpr"
    done = (os.path.exists(os.path.join(path, "_SUCCESS"))
            or os.path.isfile(path))
    if done and os.path.isfile(sidecar):
        with open(sidecar) as f:
            if f.read() == fingerprint:
                return path
    if os.path.isfile(sidecar):  # stale: invalidate before rewriting
        os.remove(sidecar)
    write_fn()
    tmp = sidecar + ".tmp"
    with open(tmp, "w") as f:
        f.write(fingerprint)
    os.replace(tmp, sidecar)
    return path


# ------------------------------------------------------------------ ingest

@op("ingest_csv", oracle="SELECT * FROM customer")
def ingest_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV files → distributed CSV read with explicit schema.

    Lossless round-trip: Spark writes doubles as shortest-repr strings which
    parse back to the identical double.
    """
    cust = load_table(spark, sf_dir, "customer")
    path = _sf_scratch(sf_dir, "ingest_csv", "customer.csv")
    _materialize_once(path, lambda: cust.write.mode("overwrite")
                      .option("header", "true").csv(path),
                      _lake_fp(sf_dir, "customer"))
    return ingest(spark, path, "csv", schema=cust.schema)


@op("ingest_json", oracle="SELECT * FROM nation")
def ingest_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → JSON-lines files → distributed JSON read with schema."""
    nation = load_table(spark, sf_dir, "nation")
    path = _sf_scratch(sf_dir, "ingest_json", "nation.json")
    _materialize_once(path, lambda: nation.write.mode("overwrite").json(path),
                      _lake_fp(sf_dir, "nation"))
    return ingest(spark, path, "json", schema=nation.schema)


@op("ingest_orc", oracle="SELECT * FROM part")
def ingest_orc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC files → distributed ORC read (lossless round-trip).

    Beyond-reference format (the reference reads csv/excel/json/pdf only,
    engine.py:21-37) that Spark's native vectorized ORC reader gives for
    free — same predicate-pushdown/column-pruning story as parquet.
    """
    part = load_table(spark, sf_dir, "part")
    path = _sf_scratch(sf_dir, "ingest_orc", "part.orc")
    _materialize_once(path, lambda: part.write.mode("overwrite").orc(path),
                      _lake_fp(sf_dir, "part"))
    return ingest(spark, path, "orc", schema=part.schema)


@op("ingest_xml", oracle="SELECT * FROM supplier")
def ingest_xml_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → XML files → distributed XML read with explicit schema.

    Beyond-reference format using Spark 4's built-in XML datasource (the
    former spark-xml, merged upstream). Lossless round-trip for TPC-H's
    flat no-null schema: doubles serialize as shortest-repr strings that
    parse back to the identical double, and the XML writer escapes text
    content (s_comment) so the read side recovers it exactly.
    """
    supp = load_table(spark, sf_dir, "supplier")
    path = _sf_scratch(sf_dir, "ingest_xml", "supplier.xml")
    _materialize_once(path, lambda: supp.write.mode("overwrite")
                      .option("rowTag", "row").option("rootTag", "rows")
                      .format("xml").save(path),
                      _lake_fp(sf_dir, "supplier"))
    return ingest(spark, path, "xml", schema=supp.schema)


@op("ingest_text", oracle="SELECT text AS value FROM documents")
def ingest_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → line-oriented text files → spark.read.text.

    The rawest corpus format (one document per line — fixture text is
    newline-free); the entire text pipeline (§2.5 ops) can start from this
    instead of parquet. Distributed and splittable.
    """
    docs = load_table(spark, sf_dir, "documents")
    path = _sf_scratch(sf_dir, "ingest_text", "documents.txt")
    _materialize_once(path, lambda: docs.select("text")
                      .write.mode("overwrite").text(path),
                      _lake_fp(sf_dir, "documents"))
    return ingest(spark, path, "text")


@op("ingest_excel", oracle="SELECT * FROM supplier")
def ingest_excel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → xlsx file → driver-side Excel ingest (lossless round-trip).

    Excel has no distributed reader (driver-side by design — files are
    interactive-upload sized, SURVEY.md §7 risk 2); without openpyxl the
    built-in minimal codec (sources/xlsx_minimal.py) reads/writes the file.
    """
    from ..sources.xlsx_minimal import write_xlsx

    supp = load_table(spark, sf_dir, "supplier")
    path = _sf_scratch(sf_dir, "ingest_excel", "supplier.xlsx")

    def write() -> None:
        tmp = path + ".part.xlsx"  # keep .xlsx: to_excel picks engine by ext
        try:
            import openpyxl  # noqa: F401

            supp.toPandas().to_excel(tmp, index=False)
        except ImportError:
            write_xlsx(supp.toPandas(), tmp)
        os.replace(tmp, path)  # never expose a half-written workbook

    _materialize_once(path, write, _lake_fp(sf_dir, "supplier"))
    return ingest(spark, path, "excel", schema=supp.schema)


@op("ingest_pdf", oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 3
    ), m AS (
        SELECT doc_id, w, GREATEST(len(w) // 2, 1) AS mid FROM d
    ), pages AS (
        SELECT doc_id, 1 AS page,
               array_to_string(list_slice(w, 1, mid), ' ') AS content FROM m
        UNION ALL
        SELECT doc_id, 2,
               array_to_string(list_slice(w, mid + 1, len(w)), ' ') FROM m
    )
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.pdf' AS file,
           CAST(page AS INT)            AS page,
           CAST(LENGTH(content) AS INT) AS content_len,
           md5(content)                 AS content_md5
    FROM pages
""")
def ingest_pdf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF ingestion: 3 real (minimal-codec) two-page PDFs → binaryFile
    source → mapInPandas page exploder → one row per (file, page).

    Parsing prefers pypdf when installed; here the built-in minimal PDF
    codec (sources/pdf_minimal.py) both writes and parses the files, so the
    distributed plumbing (binaryFile, Arrow batches, page explode) runs
    against genuine %PDF payloads. Oracle-checked end to end: the PDF text
    round-trip is lossless, so DuckDB can derive the same page texts from
    the documents table and compare md5s.
    """
    from ..sources.pdf_minimal import write_pdf

    pdf_dir = os.path.dirname(_sf_scratch(sf_dir, "ingest_pdf", "x"))
    # marker lives OUTSIDE pdf_dir: binaryFile would ingest it otherwise
    marker = pdf_dir + ".done"

    def write() -> None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .orderBy("doc_id").limit(3).select("doc_id", "text").collect()
        )
        for r in docs:
            words = r["text"].split(" ")
            mid = max(1, len(words) // 2)
            write_pdf([" ".join(words[:mid]), " ".join(words[mid:])],
                      os.path.join(pdf_dir, f"doc_{r['doc_id']}.pdf"))
        open(marker, "w").close()

    _materialize_once(marker, write, _lake_fp(sf_dir, "documents"))
    out = ingest(spark, pdf_dir, "pdf")
    return out.select(
        F.element_at(F.split(C("path"), "/"), -1).alias("file"),
        "page",
        F.length("content").alias("content_len"),
        F.md5(F.encode(C("content"), "utf-8")).alias("content_md5"),
    )


@op("ingest_error", oracle="""
    SELECT * FROM (VALUES
        ('unsupported_format', true),
        ('unreadable_file', true),
        ('ingest_error_is_runtime_error', true)
    ) AS t("case", raised)
""")
def ingest_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown format and unreadable file both raise RuntimeError
    (engine.py:34-37); emitted here as a checkable truth table."""
    def raises(fn) -> bool:
        try:
            fn()
            return False
        except RuntimeError:
            return True

    cases = [
        ("unsupported_format", raises(
            lambda: ingest(spark, "/nonexistent", "avrocsv"))),
        ("unreadable_file", raises(
            lambda: ingest(spark, "/nonexistent/nope.csv", "csv").collect())),
        ("ingest_error_is_runtime_error", issubclass(IngestError, RuntimeError)),
    ]
    return spark.createDataFrame(cases, "case string, raised boolean")


# ------------------------------------------------------------------ bronze

@op("write_bronze", oracle="SELECT * FROM supplier")
def write_bronze_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → partitioned parquet bronze → read back (lossless)."""
    supp = load_table(spark, sf_dir, "supplier")
    lake = _scratch("lake", "x") and os.path.join(_TMP, "lake")
    write_bronze(supp, lake, "supplier_rt")
    return read_parquet(spark, os.path.join(lake, "supplier_rt"))


@op("read_bronze", oracle="SELECT * FROM part")
def read_bronze_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_bronze round-trip; the empty-on-missing contract (engine.py:52-56)
    is pytest-covered (tests/test_sources.py)."""
    part = load_table(spark, sf_dir, "part")
    lake = _scratch("lake", "x") and os.path.join(_TMP, "lake")
    write_bronze(part, lake, "part_rt")
    return read_bronze(spark, lake, "part_rt")


# ------------------------------------------------------------------- sql

_SQL_EXEC_QUERY = f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {o_sum('l_quantity')} AS sum_qty
    FROM CURRENT_TABLE
    GROUP BY l_returnflag
"""


@op("sql_exec", oracle=_SQL_EXEC_QUERY.replace("CURRENT_TABLE", "lineitem"))
def sql_exec_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary SQL against the CURRENT_TABLE binding (engine.py:58-63):
    the same query text runs on Spark (view binding) and DuckDB (path
    substitution — exactly the reference's trick)."""
    li = load_table(spark, sf_dir, "lineitem")
    return sql_exec(spark, _SQL_EXEC_QUERY, df=li)


# ------------------------------------------------------------------ NL agent

@op("nl_transform", oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, email
    FROM (
        SELECT customer.*,
               CASE WHEN c_custkey % 7 = 0
                    THEN regexp_replace(lower(c_name), '[^a-z0-9]', '')
                    ELSE regexp_replace(lower(c_name), '[^a-z0-9]', '')
                         || '@example.com' END AS email
        FROM customer
    )
    WHERE regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
""")
def nl_transform_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL rule → deterministic compiler → DataFrame op (EP2 lifecycle,
    SURVEY.md §3). The rule description is matched against the catalog; no
    LLM needed for the canonical four."""
    from .rules import _customers_with_email

    df = _customers_with_email(spark, sf_dir)
    agent = TransformationAgent(llm=None)
    return agent.apply_business_rule(
        spark, df, "Remove rows with invalid email formats")


@op("nl_fallback", oracle="""
    SELECT * FROM customer ORDER BY c_custkey LIMIT 10
""")
def nl_fallback_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless keyword fallback: 'filter' in the rule text → first 10 rows
    (agent.py:53-58), with a pinned total order for determinism."""
    cust = load_table(spark, sf_dir, "customer")
    agent = TransformationAgent(llm=None)
    return agent.apply_business_rule(spark, cust, "filter the recent rows please")


# ------------------------------------------------------------------ serving

@op("serve_json", oracle="SELECT * FROM orders ORDER BY o_orderkey LIMIT 5")
def serve_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-5-rows JSON serving (app.py:229-231). serve_json returns
    records; re-materialized here as a DataFrame for the oracle check."""
    orders = load_table(spark, sf_dir, "orders")
    records = serve_json(orders, order_by=["o_orderkey"], n=5)
    return spark.createDataFrame(records, schema=orders.schema)


@op("serve_csv", oracle="SELECT * FROM nation")
def serve_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-dataset CSV download bytes (app.py:246-248), parsed back."""
    import io

    import pandas as pd

    nation = load_table(spark, sf_dir, "nation")
    payload = serve_csv(nation, order_by=["n_nationkey"])
    pdf = pd.read_csv(io.BytesIO(payload))
    out = spark.createDataFrame(pdf)
    return out.select(
        *[C(f.name).cast(f.dataType).alias(f.name) for f in nation.schema.fields]
    )


@op("viz_bar", oracle=f"""
    SELECT o_orderpriority AS x,
           {o_sum('o_totalprice')} AS y_sum
    FROM orders GROUP BY o_orderpriority
""")
def viz_bar_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bar-chart data: category vs exact sum (app.py:234-241 semantics)."""
    return bar_chart_data(load_table(spark, sf_dir, "orders"),
                          x="o_orderpriority", y="o_totalprice")


@op("preview", oracle="""
    SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10
""")
def preview_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head(10) preview with pinned order (app.py:107,111-113)."""
    li = load_table(spark, sf_dir, "lineitem")
    return preview(li, order_by=["l_orderkey", "l_linenumber"], n=10)


@op("ext_partitioned_write", oracle=f"""
    SELECT CAST(user_id % 10 AS BIGINT) AS user_mod,
           CAST(COUNT(*) AS BIGINT)     AS n_events,
           {o_sum('value')}             AS total_value
    FROM events WHERE event_type = 'click'
    GROUP BY 1
""")
def ext_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned lake layout: events written partitionBy
    (event_type) once per lake generation, then read back with a
    partition-key filter — the scan touches ONLY the matching partition
    directory (PartitionFilters in the plan; the plan test pins it).

    THE table-layout lever at 100 TB: partition pruning turns a filter on
    the partition key into a file-listing operation — a query over one
    event type reads 1/N of the lake before a single row is decoded.
    Oracle checks the pruned read + aggregate against filtering the raw
    fixture, proving the layout rewrite is lossless.
    """
    ev = load_table(spark, sf_dir, "events")
    path = _sf_scratch(sf_dir, "partitioned", "events_by_type")
    _materialize_once(path, lambda: ev.write.mode("overwrite")
                      .partitionBy("event_type").parquet(path),
                      _lake_fp(sf_dir, "events"))
    part = read_parquet(spark, path).filter(C("event_type") == "click")
    return (part.groupBy((C("user_id") % 10).cast("bigint").alias("user_mod"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(C("value") * 100, 0).cast("bigint"))
                  .cast("double") / 100.0).alias("total_value")))


@op("ingest_json_multiline", oracle="SELECT * FROM nation")
def ingest_json_multiline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → ONE standard JSON array document → multiLine read.

    The reference's pandas read_json consumes standard JSON (an array of
    records), not JSON-lines (engine.py:21-37 dispatch) — ingest_json
    covers the splittable JSONL form; this covers the
    pandas-compatibility form via the reader's multiLine mode. Trade
    documented: a multiLine JSON document is NOT splittable (one task
    per file), so at scale it is the upload/interop format, never the
    lake format — the op exists so reference users' existing files work.
    """
    import json as _json

    nation = load_table(spark, sf_dir, "nation")
    path = _scratch(os.path.basename(os.path.normpath(sf_dir)),
                    "ingest_json_ml", "nation_array.json")

    def write() -> None:
        rows = [r.asDict() for r in nation.collect()]  # 25 rows: driver-ok
        tmp = path + ".part"
        with open(tmp, "w") as f:
            _json.dump(rows, f)
        os.replace(tmp, path)

    _materialize_once(path, write, _lake_fp(sf_dir, "nation"))
    return (spark.read.schema(nation.schema)
            .option("multiLine", "true").json(path)
            .select(*[f.name for f in nation.schema.fields]))


@op("ingest_schema_evolution", oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS VARCHAR) AS batch_tag
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey,
           'v2' AS batch_tag
    FROM nation
""")
def ingest_schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: batch 1 lands with the original
    nation schema, batch 2 adds a column (`batch_tag`); a mergeSchema
    read unifies them — old rows surface NULL for the new column, no
    rewrite of historical files. The day-2 lake reality (producers add
    fields) handled the parquet-native way; the oracle is the UNION with
    an explicit NULL, so hash parity proves the merged read is exactly
    additive. At scale: schema merge is a footer-only operation per
    file — no data pass.
    """
    nation = load_table(spark, sf_dir, "nation")
    path = _sf_scratch(sf_dir, "schema_evo", "nation_batches")

    def write() -> None:
        nation.write.mode("overwrite").parquet(os.path.join(path, "b1"))
        (nation.withColumn("batch_tag", F.lit("v2"))
         .write.mode("overwrite").parquet(os.path.join(path, "b2")))
        open(os.path.join(path, "_SUCCESS"), "w").close()

    _materialize_once(path, write, _lake_fp(sf_dir, "nation"))
    return (spark.read.option("mergeSchema", "true")
            .parquet(os.path.join(path, "b1"), os.path.join(path, "b2"))
            .select("n_nationkey", "n_name", "n_regionkey", "batch_tag"))
