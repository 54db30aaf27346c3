"""Python-extensibility API surface: the Spark 4 Python DataSource API
(pluggable formats with zero JVM code) and Python UDTFs (user-defined
TABLE functions) — the two extension points a PySpark-native engine
offers where the reference offers "write another Rust binary"
(01_ingest/* each being one; Cargo.toml:5-24).

Both queries here are *demonstrations with teeth*: full DuckDB-oracle
hash checks over real data, not smoke tests.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables, scratch_dir

_DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


# one JSONL staging dir per (session, sf_dir) — the write happens once,
# every re-run of the query re-READS through the custom source (the
# artifact contract of parity._built_graph / dedup._lsh_pairs)
@artifact
def _ds_stage(spark: SparkSession, sf_dir: str) -> str:
    from ..sources import pysource

    pysource.register(spark)
    out = scratch_dir("grebi_pyds_")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # writer parallelism = input partitions, and the written shard
    # count is the READER's parallelism on every later run — spread
    # the single-parquet-file input across 8 shards
    docs.repartition(8).write.mode("append").format("grebi_jsonl").option(
        "path", out
    ).save()
    return out


def python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents written through the custom ``grebi_jsonl`` Python
    DataSource WRITER (one shard per task, WriterCommitMessage per
    partition) and read back through its READER (one InputPartition per
    file — the reference's per-file ingest parallelism,
    nextflow/01_create_subgraph.nf:86-116), then aggregated per source.

    The aggregate recomputes ``length(text)`` next to the stored
    ``n_chars`` so a value-corrupting roundtrip cannot hash-match the
    oracle (which reads the original parquet — the full write→read path
    is inside the checked plan).

    Scale shape: Python data sources stream rows to the JVM as Arrow
    batches; reader parallelism = file count, writer parallelism =
    input partitions. The only driver-side work is the directory
    listing. A production deployment points the same plugin at an
    object-store prefix.
    """
    from ..sources import pysource

    pysource.register(spark)
    back = (
        spark.read.format("grebi_jsonl")
        .schema(_DOCS_SCHEMA)
        .option("path", _ds_stage(spark, sf_dir))
        .load()
    )
    return (
        back.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


ORACLE_PYDS = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents GROUP BY source ORDER BY source
"""


# --- Python UDTF: run-length token spans -----------------------------------

_MIN_RUN = 2


def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal same-token runs per document via a Python UDTF (lateral
    join), rolled up per token: how often each token appears repeated
    back-to-back and the longest such run — the stutter/repetition
    probe at token granularity (text_repetition's bigram cousin).

    The UDTF is the *table-function* extension point: one input row
    expands to 0..n output rows with imperative per-row state (the run
    walker) — the shape GrEBI implements as hand-rolled Rust iterators
    over entity lines (e.g. 04_index/grebi_index/src/main.rs's per-line
    prop walk). ``useArrow=True`` batches rows across the Python
    boundary. The SQL equivalent needs two window passes
    (gaps-and-islands — exactly what the DuckDB oracle runs, proving
    the UDTF's semantics); the UDTF does it in one streaming pass per
    row with no shuffle before the final rollup.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, run_len int", useArrow=True)
    class TokenRuns:
        def eval(self, text: str):
            if not text:
                return
            prev = None
            n = 0
            for tok in text.lower().split():
                if tok == prev:
                    n += 1
                else:
                    if n >= _MIN_RUN:
                        yield prev, n
                    prev, n = tok, 1
            if n >= _MIN_RUN:
                yield prev, n

    spark.udtf.register("token_runs", TokenRuns)
    load_tables(spark, sf_dir, ("documents",))["documents"].createOrReplaceTempView(
        "_docs_udtf"
    )
    return spark.sql(
        """
        SELECT r.tok, count(*) AS n_runs, max(r.run_len) AS max_run
        FROM _docs_udtf d, LATERAL token_runs(d.text) r
        GROUP BY r.tok ORDER BY r.tok
        """
    )


ORACLE_TOKEN_RUNS = f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
), pos AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM docs
), grp AS (
  SELECT doc_id, tok, i,
         i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS g
  FROM pos
), runs AS (
  SELECT doc_id, tok, count(*) AS run_len FROM grp GROUP BY doc_id, tok, g
)
SELECT tok, count(*) AS n_runs, CAST(max(run_len) AS INT) AS max_run
FROM runs WHERE run_len >= {_MIN_RUN}
GROUP BY tok ORDER BY tok
"""



def pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pricing-summary aggregate written in SQL PIPE SYNTAX
    (Spark 4's ``|>`` operator chain — SIGMOD'24 "SQL Has Problems",
    the linear dataflow form): FROM → WHERE → AGGREGATE → ORDER BY in
    reading order. Catalyst compiles it to exactly the q1 plan (pushed
    filter, partial/final aggregate); the oracle is the classic-syntax
    equivalent, so the hash match proves the two dialects agree.

    Sums are exact integer cents — the module's hash-safety contract.
    """
    lineitem = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    lineitem.createOrReplaceTempView("_li_pipe")
    return spark.sql(
        """
        FROM _li_pipe
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE count(*) AS n_lines,
                     sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


ORACLE_PIPE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_lines,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def observe_metrics_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production observability via the ``observe`` API: named metrics
    (row counts, exact cent sums) attached to the live plan and
    harvested from the SAME run that produces the result — no second
    scan, the Spark-native form of the reference's per-million-lines
    progress counters (02_assign_ids/.../main.rs:62-64). The returned
    frame is built FROM the observed metrics, so the oracle hash-check
    proves the observation values themselves (a lying metric breaks the
    match).

    Scale shape: observe() metrics are accumulator-style aggregates
    computed inside the existing tasks — zero extra jobs at any scale.
    """
    from pyspark.sql import Observation

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    obs_in = Observation("ingest")
    obs_kept = Observation("kept")
    staged = ev.observe(
        obs_in, F.count("*").alias("n_rows"), F.sum(cents).alias("sum_cents")
    ).filter(F.col("event_type") != "error")
    kept = staged.observe(
        obs_kept, F.count("*").alias("n_rows"), F.sum(cents).alias("sum_cents")
    )
    kept.count()  # one pass drives both observation points
    rows = [
        ("ingest", obs_in.get["n_rows"], obs_in.get["sum_cents"]),
        ("kept", obs_kept.get["n_rows"], obs_kept.get["sum_cents"]),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_rows bigint, sum_cents bigint"
    ).orderBy("stage")


ORACLE_OBSERVE = """
SELECT 'ingest' AS stage, count(*) AS n_rows,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
UNION ALL
SELECT 'kept' AS stage, count(*) AS n_rows,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events WHERE event_type <> 'error'
ORDER BY stage
"""



@artifact
def _sql_udfs(spark: SparkSession) -> None:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_revenue"
        "(p DOUBLE, d DOUBLE) RETURNS BIGINT "
        "RETURN CAST(round(p * (1 - d) * 100) AS BIGINT)"
    )


def sql_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined functions in PURE SQL (Spark 4.1 ``CREATE FUNCTION
    ... RETURN expr``): the engine's cents/discount arithmetic declared
    ONCE as named functions and reused by name — zero Python, zero JVM
    plugins, and Catalyst inlines the body so the plan is identical to
    writing the expression inline (which is exactly what the oracle
    does; the hash match proves the inlining is semantics-preserving).

    This is the extension point the reference lacks entirely — its
    scalar logic is compiled into each Rust binary (SURVEY §2.6 "UDF
    surface: none — all logic compiled in").
    """
    _sql_udfs(spark)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    li.createOrReplaceTempView("_li_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_lines,
               sum(disc_revenue(l_extendedprice, l_discount)) AS rev_cents,
               sum(cents(l_tax)) AS tax_cents
        FROM _li_sqludf
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


ORACLE_SQL_UDF = """
SELECT l_returnflag,
       count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS rev_cents,
       CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS tax_cents
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def sql_table_function_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SQL TABLE function (``RETURNS TABLE``) as a reusable
    parameterized view: ``seg_orders(segment)`` returns that market
    segment's orders joined to its customers; callers query it like a
    table. The parameterized-subgraph shape GrEBI's API serves as a
    REST route (GrebiApi.java:81-176 — edges of one node) becomes a
    named function any SQL caller composes.

    Catalyst inlines the function body into the caller's plan, so the
    segment predicate lands in the customer scan (pushdown through the
    function boundary)."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    t["orders"].createOrReplaceTempView("_ord_tvf")
    t["customer"].createOrReplaceTempView("_cust_tvf")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION seg_orders(seg STRING)
        RETURNS TABLE (o_orderkey BIGINT, cents BIGINT, priority STRING)
        RETURN SELECT CAST(o.o_orderkey AS BIGINT),
                      CAST(round(o.o_totalprice * 100) AS BIGINT),
                      o.o_orderpriority
               FROM _ord_tvf o JOIN _cust_tvf c ON o.o_custkey = c.c_custkey
               WHERE c.c_mktsegment = seg
        """
    )
    return spark.sql(
        """
        SELECT priority,
               count(*) AS n_orders,
               sum(cents) AS sum_cents
        FROM seg_orders('BUILDING')
        GROUP BY priority ORDER BY priority
        """
    )


ORACLE_SQL_TVF = """
SELECT o.o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY priority ORDER BY priority
"""


# one ORC staging dir per (session, sf_dir)
@artifact
def _orc_stage(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("grebi_orc_")
    load_tables(spark, sf_dir, ("events",))["events"].write.mode("overwrite").orc(out)
    return out


def orc_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth: the events table written as ORC (Spark's other
    first-class columnar format — predicate pushdown, column pruning
    and vectorized reads, same as parquet) and read back, aggregated
    per type in exact integer cents. The oracle reads the ORIGINAL
    parquet, so the hash match proves the parquet→ORC→result path is
    value-lossless, timestamps included (the TIMESTAMP_NTZ defence is
    exercised on the way in).

    Scale note: ORC matters operationally as the interchange format of
    Hive-era warehouses — an engine claiming drop-in ETL coverage must
    read and write it. Same pushdown contract as the parquet scans
    (ORC scans report PushedFilters identically)."""
    back = spark.read.orc(_orc_stage(spark, sf_dir))
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_cents"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("first_us"),
        )
        .orderBy("event_type")
    )


ORACLE_ORC = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(epoch_us(ts)) AS first_us
FROM events GROUP BY event_type ORDER BY event_type
"""



_SDS_RUN = [0]


def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom plugin's STREAMING half: the same ``grebi_jsonl``
    directory consumed through the Python DataSource
    SimpleStreamReader (offset = files-consumed; each micro-batch
    ingests exactly the new files — the file-tailing ingest shape),
    drained with availableNow into a complete-mode per-source count.
    Batch writer, batch reader, and stream reader of one format plugin
    now all sit on the driver's correctness board; the stream result
    must equal the batch GROUP BY over the original parquet, proving
    offset bookkeeping loses and duplicates nothing.

    Scale note: offsets are engine-committed after each durable batch,
    so crash-replay re-reads a deterministic file slice (exactly-once
    into an idempotent sink); the directory listing is the only
    driver-side work per batch.
    """
    from ..sources import pysource

    pysource.register(spark)
    # reuse the batch roundtrip's staging dir (write once per session+sf)
    stage = _ds_stage(spark, sf_dir)
    stream = (
        spark.readStream.format("grebi_jsonl")
        .schema(_DOCS_SCHEMA)
        .option("path", stage)
        .load()
    )
    agg = stream.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    _SDS_RUN[0] += 1
    name = f"pyds_stream_{_SDS_RUN[0]}"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return spark.table(name).orderBy("source")


ORACLE_PYDS_STREAM = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source ORDER BY source
"""



def sql_scripting_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4: BEGIN/DECLARE/WHILE/SET control flow
    executed by the engine) — the stored-procedure-style surface for
    migration from warehouse dialects: a WHILE loop walks the event
    types, accumulating each type's exact cent sum into a session
    variable, and the script's final SELECT is the result. The oracle
    computes the same total set-wise, so the hash match proves the
    iterative accumulation visited every type exactly once.

    (Control flow runs on the driver; each SET's subquery is a normal
    distributed job — looping is orchestration, not a row-wise UDF.)
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ev.createOrReplaceTempView("_ev_script")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 1;
          DECLARE total BIGINT DEFAULT 0;
          WHILE i <= 5 DO
            SET total = total + (
              SELECT coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)
              FROM _ev_script
              WHERE event_type = element_at(
                array('click', 'error', 'purchase', 'signup', 'view'), i)
            );
            SET i = i + 1;
          END WHILE;
          SELECT total AS total_cents, i - 1 AS n_iterations;
        END
        """
    )


ORACLE_SCRIPTING = """
SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       5 AS n_iterations
FROM events
WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
"""


def parameterized_sql_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(text, args={...})``) — the
    injection-safe query surface a serving API builds on (the
    reference's REST routes interpolate request values into Cypher/Solr
    strings; parameter binding is the engine-level fix): segment and
    order-date cutoff arrive as bound parameters, never string-spliced.
    The oracle inlines the same constants.
    """
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    t["orders"].createOrReplaceTempView("_ord_param")
    t["customer"].createOrReplaceTempView("_cust_param")
    return spark.sql(
        """
        SELECT o.o_orderpriority AS priority,
               count(*) AS n_orders,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM _ord_param o JOIN _cust_param c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = :seg AND o.o_orderdate >= :cutoff
        GROUP BY priority ORDER BY priority
        """,
        args={"seg": "MACHINERY", "cutoff": "1996-01-01"},
    )


ORACLE_PARAM = """
SELECT o.o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'MACHINERY' AND o.o_orderdate >= DATE '1996-01-01'
GROUP BY priority ORDER BY priority
"""


@artifact
def _xml_stage(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("grebi_xml_")
    n = load_tables(spark, sf_dir, ("nation",))["nation"]
    (
        n.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(out)
    )
    return out


def xml_native_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE XML data source (spark-xml folded into core):
    the nation table written as XML and read back — the format family
    the reference ingests via a custom Python scanner (S11 MetaboLights
    XML, 01_ingest/grebi_ingest_metabolights/ingest.py) now covered by
    a first-class reader whose scans prune and push down like any file
    source. The oracle reads the original parquet; the hash match
    proves the XML writer/reader pair is value-lossless.
    """
    back = spark.read.format("xml").option("rowTag", "nation").load(
        _xml_stage(spark, sf_dir)
    )
    return (
        back.groupBy(F.col("n_regionkey").cast("long").alias("region_key"))
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
        .orderBy("region_key")
    )


ORACLE_XML = """
SELECT CAST(n_regionkey AS BIGINT) AS region_key,
       count(*) AS n_nations,
       min(n_name) AS first_name,
       max(n_name) AS last_name
FROM nation GROUP BY n_regionkey ORDER BY region_key
"""



@artifact
def _evo_stage(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir("grebi_evo_")
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    old_gen = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text", "n_chars")
    new_gen = d.filter(F.col("doc_id") % 2 == 1)
    old_gen.write.mode("append").parquet(out)
    new_gen.write.mode("append").parquet(out)
    return out


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the operational reality of any long-lived
    dataset (GrEBI's whole design exists because sources drift: the
    summary.json prop-universe pass, 04_index, is its answer): an early
    writer emits documents WITHOUT the lang/source columns, a later
    writer emits the full schema into the same directory, and
    ``mergeSchema`` reads both generations as one table — old rows
    null-extended, no rewrite of the old files. The report counts rows
    and non-null lang per generation; the oracle derives the same
    numbers from the original table, so a mis-merged read (dropped
    columns, misaligned generations) cannot hash-match.

    Scale note: schema merge happens at PLANNING time over file footers
    — the data files are untouched, which is the entire point at 100 TB
    (the alternative is rewriting every historical partition on every
    added column).
    """
    merged = spark.read.option("mergeSchema", "true").parquet(_evo_stage(spark, sf_dir))
    return (
        merged.groupBy((F.col("doc_id") % 2).alias("generation"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count("lang").alias("n_with_lang"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("generation")
    )


ORACLE_EVOLUTION = """
SELECT doc_id % 2 AS generation,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_lang,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY doc_id % 2 ORDER BY generation
"""



def udtf_polymorphic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — the output schema is computed at
    ANALYSIS time by the UDTF's ``analyze()`` from a constant argument
    (here k=3 → columns tok_1..tok_3), the mechanism behind
    schema-producing table functions like read_files or variant
    shredding: one function, caller-chosen shape, fully resolved before
    execution so Catalyst plans against concrete columns. The body
    splits each document's first k tokens into those columns; the
    rollup groups on tok_1 (the lead-token distribution). Oracle:
    DuckDB extracts the same positions from the token array.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import StringType, StructType

    class FirstTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(k.value):
                schema = schema.add(f"tok_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, k: int):
            toks = (text or "").lower().split()
            yield tuple(toks[i] if i < len(toks) else None for i in range(k))

    spark.udtf.register("first_tokens", udtf(FirstTokens))
    load_tables(spark, sf_dir, ("documents",))["documents"].createOrReplaceTempView(
        "_docs_poly"
    )
    return spark.sql(
        """
        SELECT t.tok_1, count(*) AS n_docs,
               count(DISTINCT t.tok_2) AS n_second_tokens
        FROM _docs_poly d, LATERAL first_tokens(d.text, 3) t
        GROUP BY t.tok_1 ORDER BY t.tok_1
        """
    )


ORACLE_POLY_UDTF = r"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
)
SELECT t[1] AS tok_1, count(*) AS n_docs,
       count(DISTINCT t[2]) AS n_second_tokens
FROM toks GROUP BY t[1] ORDER BY tok_1
"""


QUERIES = {
    "python_datasource_roundtrip": python_datasource_roundtrip,
    "udtf_token_runs": udtf_token_runs,
    "pipe_syntax_pricing": pipe_syntax_pricing,
    "observe_metrics_check": observe_metrics_check,
    "sql_udf_revenue": sql_udf_revenue,
    "sql_table_function_orders": sql_table_function_orders,
    "orc_format_roundtrip": orc_format_roundtrip,
    "python_datasource_stream": python_datasource_stream,
    "sql_scripting_check": sql_scripting_check,
    "parameterized_sql_check": parameterized_sql_check,
    "xml_native_roundtrip": xml_native_roundtrip,
    "schema_evolution_read": schema_evolution_read,
    "udtf_polymorphic_split": udtf_polymorphic_split,
}

ORACLES = {
    "python_datasource_roundtrip": ORACLE_PYDS,
    "udtf_token_runs": ORACLE_TOKEN_RUNS,
    "pipe_syntax_pricing": ORACLE_PIPE,
    "observe_metrics_check": ORACLE_OBSERVE,
    "sql_udf_revenue": ORACLE_SQL_UDF,
    "sql_table_function_orders": ORACLE_SQL_TVF,
    "orc_format_roundtrip": ORACLE_ORC,
    "python_datasource_stream": ORACLE_PYDS_STREAM,
    "sql_scripting_check": ORACLE_SCRIPTING,
    "parameterized_sql_check": ORACLE_PARAM,
    "xml_native_roundtrip": ORACLE_XML,
    "schema_evolution_read": ORACLE_EVOLUTION,
    "udtf_polymorphic_split": ORACLE_POLY_UDTF,
}
