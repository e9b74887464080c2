"""Ingestion queries — SURVEY §2.1 S1–S20 (S6, the chat transcript, is a
reference entry) and the E1 index build, over a committed binary fixture
tree and the driver fixtures, oracle-paired.

Reference surface (``micro-infobot/app.py:191-205``): uploader → MIME
dispatch → per-format text extraction → flat corpus. Re-expressed here as
``binaryFile`` scan (S1) → Arrow-batched ``mapInPandas`` extraction
(S2/S3) → sectioning/chunking (T1/T2/T3), each stage DuckDB-checkable:
DuckDB reads the same files via ``read_blob``/``read_text``/``read_csv``
and mirrors the exact fallback-extraction pipeline (the regex strip in
``sources/extract.py`` is written backreference-free so RE2 can run it).
The lake entries (S7–S20) cover conf round trips, JSONL/ORC/XML/CSV
interchange, Python data sources, schema evolution, corrupt records,
dynamic partition overwrite, compaction and layout migration.

The fixtures live in-repo (``tests/data/ingest/``), committed, so both
engines see identical bytes regardless of cwd or scale factor — ingestion
is SF-independent by nature (the sf tables have no binary column).

S3 (pdf) is environment-gated: PyMuPDF is absent from this container, so
the CONTRACT under test is the degrade path — error row, null text, job
survives. That contract is exactly oracle-able (deterministic error
strings), so it gets a green row too.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import chunk_sections
from ..operators.sectioning import assign_sections
from ..session import CONF_DEFAULTS, config_source
from ..sources.extract import binary_scan, csv_scan, extract_text
from .catalog import _source_tag, duck_ev, register, table


FIXTURE_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "tests", "data", "ingest")
)


_FNAME = "regexp_extract(filename, '[^/]+$')"


# extension → mime CASE mirror of sources/extract.py::_EXT_MIME
_DUCK_MIME = """CASE lower(regexp_extract(filename, '[^.]+$'))
      WHEN 'pdf' THEN 'application/pdf'
      WHEN 'csv' THEN 'text/csv'
      WHEN 'xlsx' THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
      WHEN 'html' THEN 'text/html'
      WHEN 'htm' THEN 'text/html'
      WHEN 'xml' THEN 'application/xml'
      WHEN 'txt' THEN 'text/plain'
      ELSE 'application/octet-stream' END"""


def _fname(col: str = "path"):
    return F.regexp_extract(F.col(col), r"[^/]+$", 0).alias("fname")


# ---------------------------------------------------------------------------
# S1 — parallel binary scan + MIME dispatch (app.py:191-195)
@register(
    "s1_binary_scan_mime",
    f"""SELECT {_FNAME} AS fname,
       {_DUCK_MIME} AS mime,
       CAST(size AS BIGINT) AS n_bytes
FROM read_blob('{FIXTURE_DIR}/*')""",
)
def s1_binary_scan_mime(spark: SparkSession, sf: str) -> DataFrame:
    return binary_scan(spark, FIXTURE_DIR).select(
        _fname(), "mime", F.col("length").alias("n_bytes")
    )


_DUCK_UNESC = (
    "trim(regexp_replace(replace(replace(replace(replace(replace(replace("
    + "regexp_replace(regexp_replace(regexp_replace(content, "
    + "'<script\\b[^>]*>.*?</script>', ' ', 'gis'), "
    + "'<style\\b[^>]*>.*?</style>', ' ', 'gis'), "
    + "'<[^>]+>', ' ', 'g'), "
    + "'&amp;', '&'), '&lt;', '<'), '&gt;', '>'), "
    + "'&quot;', '\"'), '&#39;', ''''), '&nbsp;', ' '), "
    + "'\\s+', ' ', 'g'))"
)


@register(
    "s2_html_extract",
    f"""SELECT {_FNAME} AS fname, {_DUCK_UNESC} AS text
FROM read_text(['{FIXTURE_DIR}/*.html', '{FIXTURE_DIR}/*.xml'])""",
)
def s2_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    scanned = binary_scan(spark, FIXTURE_DIR).where(
        F.col("mime").isin("text/html", "application/xml")
    )
    return extract_text(scanned).select(_fname(), "text")


# ---------------------------------------------------------------------------
# S3 — pdf degrade contract + unknown-mime guard (app.py:200-202). PyMuPDF
# is absent here, so extraction MUST yield an error row with null text and
# keep the job alive; same for unregistered formats. Both error strings are
# deterministic → exact oracle.
@register(
    "s3_extract_degrade",
    f"""SELECT {_FNAME} AS fname,
       CAST(NULL AS VARCHAR) AS text,
       CASE WHEN filename LIKE '%.pdf'
            THEN 'NotImplementedError: PyMuPDF (fitz) not installed'
            ELSE 'unsupported mime: application/octet-stream' END AS error
FROM read_blob('{FIXTURE_DIR}/*')
WHERE filename LIKE '%.pdf' OR filename LIKE '%.bin'""",
)
def s3_extract_degrade(spark: SparkSession, sf: str) -> DataFrame:
    scanned = binary_scan(spark, FIXTURE_DIR).where(
        F.col("mime").isin("application/pdf", "application/octet-stream")
    )
    return extract_text(scanned).select(_fname(), "text", "error")


# ---------------------------------------------------------------------------
# S5 — xlsx contract (app.py:17,191: xlsx accepted by the uploader but
# never handled; our xlsx_scan_distributed implements the declared
# branch). india.xlsx is a REAL minimal OOXML workbook (1 sheet, 3 rows,
# hand-built zip — tests/test_sources pins it). Since round 6 the
# executor branch always has a parser (openpyxl when importable, else
# the vendored stdlib reader sources/xlsx_lite.py), so the oracle is the
# parse branch unconditionally: one row per sheet row, null error. The
# degrade contract (error row, job survives) still exists for BROKEN
# workbooks and is pinned by tests/test_sources.py, just no longer the
# path a well-formed fixture takes. (The entry keeps its historical
# "degrade" name — the catalog is frozen.)
_S5_ORACLE = f"""SELECT {_FNAME} AS fname,
       CAST(v.ri AS BIGINT) AS row_idx,
       CAST(NULL AS VARCHAR) AS error
FROM read_blob('{FIXTURE_DIR}/*.xlsx'), (VALUES (0), (1), (2)) v(ri)"""


@register("s5_xlsx_degrade", _S5_ORACLE)
def s5_xlsx_degrade(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.extract import xlsx_scan_distributed

    rows = xlsx_scan_distributed(spark, FIXTURE_DIR)
    return rows.select(
        _fname(), F.col("row_idx").cast("long").alias("row_idx"), "error"
    )


# ---------------------------------------------------------------------------
# S7 — env/config source (app.py:22,54,122,249): os.getenv-with-fallback
# re-expressed as the spark.conf settings namespace. Under the driver's
# fresh session every key resolves to its documented default, so the oracle
# is the literal default table (built from CONF_DEFAULTS — one source of
# truth for both engines).
_S7_ORACLE = "SELECT * FROM (VALUES {}) AS t(key, value, is_default)".format(
    ", ".join(
        f"('{k}', '{v}', true)" for k, v in sorted(CONF_DEFAULTS.items())
    )
)


@register("s7_conf_roundtrip", _S7_ORACLE)
def s7_conf_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    return config_source(spark)


# ---------------------------------------------------------------------------
# S4 — relational CSV scan + the reference's table→text serialization
# (app.py:204-205)
@register(
    "s4_csv_serialize",
    f"""SELECT concat_ws(' ',
        coalesce(CAST(id AS VARCHAR), ''),
        coalesce(CAST(category AS VARCHAR), ''),
        coalesce(CAST(qty AS VARCHAR), ''),
        coalesce(CAST(note AS VARCHAR), '')) AS line
FROM read_csv('{FIXTURE_DIR}/foxtrot.csv', header = true)""",
)
def s4_csv_serialize(spark: SparkSession, sf: str) -> DataFrame:
    return csv_scan(spark, os.path.join(FIXTURE_DIR, "foxtrot.csv"), serialize=True)


@register(
    "s4b_csv_relational",
    f"""SELECT category, CAST(sum(qty) AS BIGINT) AS total_qty,
       count(*) AS n_rows, min(note) AS first_note
FROM read_csv('{FIXTURE_DIR}/foxtrot.csv', header = true)
GROUP BY category""",
)
def s4b_csv_relational(spark: SparkSession, sf: str) -> DataFrame:
    df = csv_scan(spark, os.path.join(FIXTURE_DIR, "foxtrot.csv"))
    return df.groupBy("category").agg(
        F.sum("qty").cast("long").alias("total_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("note").alias("first_note"),
    )


# ---------------------------------------------------------------------------
# E1 front half — the full ingestion chain the reference runs on upload
# (app.py:191-205 → 86-107 → 123-128): binary scan → text extraction →
# paragraph split → section forward-fill → chunking. Fixture paragraphs are
# all < 500 chars, so the 500/50 splitter is provably a trim() pass-through
# (same contract as t3_chunk_pipeline) and the oracle is exact end-to-end.
_DUCK_INGEST_SECTIONS = f"""raw AS (
  SELECT {_FNAME} AS doc_id, content AS text
  FROM read_text('{FIXTURE_DIR}/*.txt')),
paras AS (
  SELECT doc_id,
         unnest(generate_series(0, len(string_split(text, e'\\n\\n')) - 1)) AS para_pos,
         unnest(string_split(text, e'\\n\\n')) AS paragraph
  FROM raw),
sect AS (
  SELECT doc_id, para_pos, paragraph,
         coalesce(
           last_value(CASE WHEN regexp_full_match(trim(paragraph), '[A-Z\\s]+')
                                AND length(trim(paragraph)) > 5
                      THEN trim(paragraph) END IGNORE NULLS)
             OVER (PARTITION BY doc_id ORDER BY para_pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           'General') AS section,
         (regexp_full_match(trim(paragraph), '[A-Z\\s]+')
          AND length(trim(paragraph)) > 5) AS is_title
  FROM paras)"""


@register(
    "e1_ingest_chunks",
    f"""WITH {_DUCK_INGEST_SECTIONS}
SELECT doc_id, CAST(para_pos AS BIGINT) AS para_pos, section,
       CAST(0 AS BIGINT) AS chunk_pos,
       trim(paragraph, e' \\t\\n\\r') AS text
FROM sect WHERE NOT is_title AND trim(paragraph, e' \\t\\n\\r') <> ''""",
)
def e1_ingest_chunks(spark: SparkSession, sf: str) -> DataFrame:
    scanned = binary_scan(spark, FIXTURE_DIR, glob="*.txt")
    extracted = extract_text(scanned).select(
        F.regexp_extract("path", r"[^/]+$", 0).alias("doc_id"), "text"
    )
    content = assign_sections(extracted)
    return chunk_sections(content).select(
        "doc_id",
        F.col("para_pos").cast("long").alias("para_pos"),
        "section",
        F.col("chunk_pos").cast("long").alias("chunk_pos"),
        "text",
    )


# ---------------------------------------------------------------------------
# Partition-pruned scan over a hive-partitioned events lake — the
# time-predicate access path a 100 TB deployment lives on. The fixture
# events table is written once (per sf) as a date-partitioned layout
# via sources/layout.py::write_partitioned (repartition-by-key first,
# so each day lands in ONE file, not one per writer task), then the
# query's date range prunes whole directories before any I/O: the scan
# node carries PartitionFilters on event_date and reads 3 of ~30
# day-directories (pinned by test via inputFiles()). The oracle runs
# the same predicate over the raw events parquet — pruning must be a
# pure access-path optimization with zero semantic effect.


def _ensure_partitioned_events(spark: SparkSession, sf: str) -> str:
    import tempfile

    from ..sources.layout import write_partitioned
    from .catalog import events_table

    out = os.path.join(
        tempfile.gettempdir(),
        f"ade_part_events_{_source_tag(sf, 'events')}",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = events_table(spark, sf).withColumn(
            "event_date", F.to_date("ts")
        )
        write_partitioned(ev, out, ["event_date"])
    return out


# ---------------------------------------------------------------------------
# Columnar sink fidelity: ORC round trip — the second columnar format a
# lakehouse ingests besides parquet (Spark ships the ORC reader/writer
# in-core). The query writes documents to ORC ONCE per fixture identity
# (mtime+size cache key — a regenerated fixture invalidates), reads it
# back, and the oracle is the identity SELECT on the parquet source:
# parity === bit-exact round-trip fidelity for longs and UTF-8 strings.
# The same shape at 100 TB is a distributed format-migration job; the
# read-back scan gets the same pushdown/pruning treatment as parquet.
def _roundtrip_dir(sf: str, fmt: str) -> str:
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"ade_{fmt}_{_source_tag(sf, 'documents')}"
    )


@register(
    "s9_orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def s9_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = _roundtrip_dir(sf, "orc")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "documents").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Row-based interchange: JSONL round trip — newline-delimited JSON is the
# lingua franca of crawl/annotation pipelines. Write once per fixture
# identity, read back with an EXPLICIT schema (schema inference is a
# second full scan and makes the result schema data-dependent — never at
# 100 TB). Oracle = identity SELECT: parity proves value fidelity
# through JSON serialization (integer longs, UTF-8 text).
@register(
    "s10_jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def s10_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = _roundtrip_dir(sf, "jsonl")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "documents").write.mode("overwrite").json(out)
    return spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)


# ---------------------------------------------------------------------------
# Custom Python DataSource — the connector-authoring API
# (sources/pydatasource.py): a registered ``arith_grid`` format whose
# partitions() contract drives task planning exactly like a real
# connector's splits. The entry reads 10,000 generated rows across 8
# Python-worker partitions and reduces them to per-residue counts +
# exact sums; quadratic-residue structure makes the result
# non-trivial (classes have 0 or ~2x density). Oracle mirrors with
# generate_series — the source is hermetic and deterministic by
# contract, so this is a true connector round-trip check.
_GRID_ROWS = 10_000


@register(
    "s11_python_datasource",
    f"""SELECT (i * i) % {97} AS residue,
       count(*) AS n,
       CAST(sum(i) AS BIGINT) AS i_sum
FROM (SELECT unnest(generate_series(0, {_GRID_ROWS - 1})) AS i)
GROUP BY residue""",
)
def s11_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.pydatasource import ArithGridDataSource

    try:
        spark.dataSource.register(ArithGridDataSource)
    except Exception:
        pass  # already registered in this session
    grid = (
        spark.read.format("arith_grid")
        .option("n_rows", _GRID_ROWS)
        .option("n_parts", 8)
        .load()
    )
    return grid.groupBy("residue").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").cast("long").alias("i_sum"),
    )


# ---------------------------------------------------------------------------
# Structured XML extraction (from_xml, Spark 4 native) — the reference
# ACCEPTS xml uploads (app.py:191) but only strips markup (S2); this is
# the schema-full path: typed extraction from an XML attribute bag.
# The XML is constructed deterministically from order columns, so the
# DuckDB oracle (no XML support) computes the same result from the
# source columns directly — from_xml is thereby checked against ground
# truth, not against another parser. Map-only until the 3-key rollup.
@register(
    "s12_xml_extract",
    """SELECT o_orderstatus AS status,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderkey % 10 < 3
GROUP BY o_orderstatus""",
)
def s12_xml_extract(spark: SparkSession, sf: str) -> DataFrame:
    ords = table(spark, sf, "orders").where(
        F.col("o_orderkey") % 10 < 3
    )
    xml = ords.select(
        F.concat(
            F.lit("<order status=\""),
            F.col("o_orderstatus"),
            F.lit("\"><price>"),
            F.col("o_totalprice").cast("string"),
            F.lit("</price></order>"),
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc", "`_status` STRING, price DOUBLE"
        ).alias("x")
    )
    return parsed.groupBy(
        F.col("x._status").alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x.price").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Schema evolution — the data-lake staple: generation v1 writes a
# narrow schema, a later generation v2 adds a column; a mergeSchema
# read unions the footers and back-fills the missing column with NULL.
# The per-generation null accounting below is exactly the audit a
# migration runs ("which rows predate the field?"). At 100 TB
# mergeSchema=true costs a footer read per file — keep generation
# counts bounded (compaction) and pin the merged schema in the table
# catalog once it stabilizes; unionByName(allowMissingColumns=True) is
# the same semantics for in-flight frames.
def _evolution_dirs(spark: SparkSession, sf: str) -> tuple[str, str]:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"ade_evo_{tag}")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    if not (
        os.path.exists(os.path.join(v1, "_SUCCESS"))
        and os.path.exists(os.path.join(v2, "_SUCCESS"))
    ):
        orders = table(spark, sf, "orders")
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).write.mode("overwrite").parquet(v1)
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        ).write.mode("overwrite").parquet(v2)
    return v1, v2


@register(
    "s13_schema_evolution",
    """SELECT o_orderstatus AS status,
       count(*) AS n,
       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_with_priority,
       CAST(count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT)
         AS n_legacy
FROM orders
GROUP BY o_orderstatus""",
)
def s13_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    v1, v2 = _evolution_dirs(spark, sf)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderpriority").cast("long").alias(
            "n_with_priority"
        ),
        F.sum(
            F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_legacy"),
    )


# ---------------------------------------------------------------------------
# S14 — Python DataSource WRITER: the connector-authoring sink surface
# (``pyspark.sql.datasource.DataSourceWriter``), two-phase commit done
# the way a real sink connector does it: each task stages a uniquely
# named file and returns a WriterCommitMessage; the driver's commit()
# renames staged files and writes a _MANIFEST.json; abort() removes
# staging so failures leave nothing visible. The entry pushes the
# documents projection through the writer once per fixture dir, reads
# the committed JSONL back, and aggregates — so the oracle (a direct
# aggregate over the fixture) certifies the full write→commit→read
# round trip, and the manifest row-count is cross-checked in the unit
# test. Engine-native generalization of S6's Mongo insert sink
# (``micro-infobot/app.py:60-71``).
def _writer_dir(spark: SparkSession, sf: str) -> str:
    from ..sources.pydatasource import JsonlCommitDataSource

    spark.dataSource.register(JsonlCommitDataSource)
    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"ade_dsw_{tag}")
    manifest = os.path.join(out, "_MANIFEST.json")
    if not os.path.exists(manifest):
        (
            table(spark, sf, "documents")
            .select("doc_id", "lang", "n_chars")
            .repartition(4)
            .write.format("jsonl_commit")
            .mode("append")
            .option("path", out)
            .save()
        )
    return out


@register(
    "s14_python_ds_writer",
    # CAST the sum: DuckDB sum(BIGINT) is HUGEINT, which .df()/pandas
    # renders as float64 while Spark's sum(long) stays int64 — values
    # equal, but the driver's hash canonicalization sees different cell
    # representations (the gate_mimic 'dtype:int64|float64' hazard, the
    # same family as the r04 rel_grouping_sets red).
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM documents GROUP BY lang""",
)
def s14_python_ds_writer(spark: SparkSession, sf: str) -> DataFrame:
    out = _writer_dir(spark, sf)
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    back = spark.read.schema(
        "doc_id long, lang string, n_chars long"
    ).json(os.path.join(out, "part-*.jsonl"))
    # trust only committed files: the manifest IS the source of truth
    assert manifest["total_rows"] >= 0
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# S15 — dynamic partition overwrite: with
# spark.sql.sources.partitionOverwriteMode=dynamic, an INSERT OVERWRITE
# touches ONLY the partitions present in the incoming frame (static
# mode would drop every partition first). Here: a base table hive-
# partitioned by o_orderstatus, then the 'F' partition re-priced ×2 and
# dynamically overwritten — 'O'/'P' files are never rewritten (unit
# test pins their survival). This is the backfill/repair primitive at
# 100 TB: fixing one bad day/status means rewriting that partition's
# files only, and the scan after repair prunes to the same partition.
def _dpo_dir(spark: SparkSession, sf: str) -> str:
    tag = hashlib.md5(sf.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"ade_dpo_{tag}")
    marker = os.path.join(out, "_ADE_REPAIRED")
    if os.path.exists(marker):
        return out
    orders = table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(
        out
    )
    repaired = (
        spark.read.parquet(out)
        .where(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
    )
    with _dynamic_overwrite(spark):
        repaired.write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(out)
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@register(
    "s15_dynamic_partition_overwrite",
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
       CAST(sum(CAST(CASE WHEN o_orderstatus = 'F'
                     THEN o_totalprice * 2.0 ELSE o_totalprice END
                AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderstatus""",
)
def s15_dynamic_partition_overwrite(
    spark: SparkSession, sf: str
) -> DataFrame:
    out = _dpo_dir(spark, sf)
    return (
        spark.read.parquet(out)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction — the lake-maintenance job every 100 TB
# deployment schedules: streaming/incremental writers fragment a table
# into thousands of KB-sized files (here: orders written across 128
# parts), and the compactor rewrites it to a bounded file count
# (repartition to ceil(bytes/target)) without changing a row. The entry
# certifies "same table" the strong way — row count plus an order-
# insensitive content checksum (sum of per-key multiplicative hashes,
# plus the exact decimal price total) computed on
# the COMPACTED layout; the oracle computes the same checksum from the
# source table directly, so any dropped/duplicated/mutated row breaks
# parity. File-count bounds are pinned in the unit test (file listings
# aren't SQL).
_COMPACT_FRAGMENT_PARTS = 128


def _compact_dirs(sf: str) -> tuple[str, str]:
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"ade_compaction_{os.path.basename(os.path.normpath(sf))}",
    )
    return os.path.join(base, "fragmented"), os.path.join(base, "compacted")


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_file_bytes: int
) -> int:
    """Rewrite parquet directory ``src`` to ``dst`` with files sized
    ~``target_file_bytes``: partition count = ceil(input_bytes /
    target). Returns the partition count chosen. Input size comes from
    the file listing (what a table format would read from manifest
    metadata)."""
    import glob

    n_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(src, "*.parquet"))
    )
    n_parts = max(1, -(-n_bytes // target_file_bytes))
    (
        spark.read.parquet(src)
        .repartition(n_parts)
        .write.mode("overwrite")
        .parquet(dst)
    )
    return n_parts


@register(
    "s16_compaction",
    """SELECT count(*) AS n_rows,
       CAST(sum(CAST(o_orderkey AS BIGINT) * 2654435761 % 1000000007)
            AS BIGINT) AS key_checksum,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS price_total
FROM orders""",
)
def s16_compaction(spark: SparkSession, sf: str) -> DataFrame:
    frag_dir, compact_dir = _compact_dirs(sf)
    orders = table(spark, sf, "orders")
    # fragment: the pathology a streaming writer produces
    (
        orders.repartition(_COMPACT_FRAGMENT_PARTS)
        .write.mode("overwrite")
        .parquet(frag_dir)
    )
    compact_parquet(
        spark, frag_dir, compact_dir, target_file_bytes=8 * 1024 * 1024
    )
    compacted = spark.read.parquet(compact_dir)
    return compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.col("o_orderkey").cast("long") * 2654435761 % 1000000007
        )
        .cast("long")
        .alias("key_checksum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("price_total"),
    )


# ---------------------------------------------------------------------------
# Corrupt-record ingestion — PERMISSIVE mode with _corrupt_record: good
# lines parse, bad lines land whole in the corrupt column, the job
# keeps going and REPORTS. The fixture file is deterministic (built
# from constants, not fixtures), so the oracle states the expected
# outcome as literals — the entry certifies Spark's permissive-parse
# behavior against an independently computed ground truth. Note the
# documented Spark restriction: a query may not reference ONLY the
# corrupt column; the entry aggregates data+corrupt together from a
# cached parse, which is also the practical shape (quarantine writer +
# metrics in one pass).
_GOOD_ROWS = [(i, i * 10) for i in range(40)]


_BAD_LINES = [
    '{"id": 777, "v": }',          # syntax error
    "not json at all",             # not an object
    '{"id": "x9", "v": "NaNish"}',  # type mismatch on both fields
]


def _corrupt_file(sf: str) -> str:
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"ade_corrupt_{os.path.basename(os.path.normpath(sf))}",
    )
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "feed.jsonl")
    if not os.path.exists(path):
        lines = [
            f'{{"id": {i}, "v": {v}}}' for i, v in _GOOD_ROWS
        ]
        # interleave deterministically: one bad line after every 13 good
        out = []
        bi = 0
        for n, line in enumerate(lines):
            out.append(line)
            if (n + 1) % 13 == 0 and bi < len(_BAD_LINES):
                out.append(_BAD_LINES[bi])
                bi += 1
        out.extend(_BAD_LINES[bi:])
        with open(path, "w") as f:
            f.write("\n".join(out) + "\n")
    return path


@register(
    "s17_corrupt_records",
    f"""SELECT CAST({len(_GOOD_ROWS)} AS BIGINT) AS n_good,
       CAST({len(_BAD_LINES)} AS BIGINT) AS n_corrupt,
       CAST({sum(v for _, v in _GOOD_ROWS)} AS BIGINT) AS good_value_sum""",
)
def s17_corrupt_records(spark: SparkSession, sf: str) -> DataFrame:
    path = _corrupt_file(sf)
    parsed = (
        spark.read.schema("id long, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    # '{"id": "x9", ...}' type-mismatches: id stays null AND the raw
    # line is captured — it counts as corrupt, like the syntax errors.
    return parsed.agg(
        F.count(F.col("id")).alias("n_good"),
        F.count(F.col("_corrupt_record")).alias("n_corrupt"),
        F.sum("v").alias("good_value_sum"),
    )


# ---------------------------------------------------------------------------
# CSV interop roundtrip — a Spark job's CSV export must mean the same
# thing to every downstream reader. The entry injects the three
# classically mis-handled shapes into the text (field delimiters,
# double quotes, leading/trailing spaces — fixture text has no
# newlines, FIXTURES.md), writes with Spark's csv sink (RFC-4180-style
# quoting), reads it back with an explicit schema, and parity against
# the parquet-derived oracle certifies the quote/escape cycle is
# lossless. A quoting bug shows up as a column shift or a mangled
# string — both hash-visible.
def _csv_dir(sf: str) -> str:
    import tempfile

    # v2: cache key includes the export FORMAT version — the round-7
    # writer-option change (no whitespace trim) must not silently reuse
    # an export written under the old options
    return os.path.join(
        tempfile.gettempdir(),
        f"ade_csv_interop_v2_{_source_tag(sf, 'documents')}",
    )


_SPIKE = (
    "REPLACE(REPLACE(text, ' the ', ', \"the\" ,'), ' a ', ' ,a, ')"
)


@register(
    "s18_csv_interop",
    f"""SELECT doc_id, lang,
       {_SPIKE} AS spiked,
       length({_SPIKE}) AS n_chars
FROM documents""",
)
def s18_csv_interop(spark: SparkSession, sf: str) -> DataFrame:
    out = _csv_dir(sf)
    spiked = F.regexp_replace(
        F.regexp_replace("text", " the ", ', "the" ,'), " a ", " ,a, "
    )
    src = table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        spiked.alias("spiked"),
        F.length(spiked).alias("n_chars"),
    )
    # Lossless cycle on adversarial text (parity_fuzz edge profile):
    # - writer: disable the DEFAULT leading/trailing whitespace trim
    #   (it silently rewrites " " → "" on export);
    # - reader: multiLine=True so quoted embedded newlines stay one
    #   record (costs intra-file split parallelism — at 100 TB bound
    #   export file sizes with maxRecordsPerFile so files, not splits,
    #   carry the parallelism);
    # - reader: nullValue="\N" (never written) so the writer's
    #   null ↔ unquoted-empty vs "" ↔ quoted-"" distinction survives
    #   the read instead of both collapsing to NULL. Residual known
    #   ambiguity: a field whose VALUE is the two chars \N would read
    #   back as NULL — the one shape RFC-4180 quoting can't disambiguate
    #   without a writer-side escape convention.
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            src.write.mode("overwrite")
            .option("header", True)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(out)
        )
    return (
        spark.read.schema(
            "doc_id long, lang string, spiked string, n_chars long"
        )
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .csv(out)
    )


# ---------------------------------------------------------------------------
# Layout migration — the daily-partitioned events lake (the DPP
# entry's fixture) re-laid-out by MONTH: at 100 TB, daily partitions
# that made sense at ingest (small, prunable backfills) age into a
# directory-count problem, and the monthly rewrite is one
# repartition-by-the-new-key write. The entry runs the real migration
# (read daily layout → write monthly layout → read back) and returns
# per-month row counts + exact value totals; the oracle computes the
# same from the raw events, so a row lost or duplicated by the rewrite
# breaks parity.
def _monthly_dir(sf: str) -> str:
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"ade_monthly_events_{_source_tag(sf, 'events')}",
    )


@register(
    "s19_layout_migration",
    f"""WITH {duck_ev('value')}
SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS event_month,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM ev GROUP BY event_month""",
)
def s19_layout_migration(spark: SparkSession, sf: str) -> DataFrame:
    daily_path = _ensure_partitioned_events(spark, sf)
    monthly_path = _monthly_dir(sf)
    if not os.path.exists(os.path.join(monthly_path, "_SUCCESS")):
        daily = spark.read.parquet(daily_path)
        monthly = daily.withColumn(
            "event_month", F.date_format("event_date", "yyyy-MM")
        )
        (
            monthly.repartition("event_month")
            .write.mode("overwrite")
            .partitionBy("event_month")
            .parquet(monthly_path)
        )
    migrated = spark.read.parquet(monthly_path)
    return migrated.groupBy("event_month").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Gzip JSONL roundtrip — documents written as gzip-compressed JSON
# lines (the de-facto corpus interchange format) and read back with an
# explicit schema. The parity pin is value fidelity through the
# compress→decompress cycle; the SCALE note is the one that matters
# operationally: a .gz member decompresses on ONE task, so the writer
# controls read parallelism via shard count (here: 8 shards), not via
# maxPartitionBytes — the classic gotcha of gzip lakes.
def _gz_dir(sf: str) -> str:
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"ade_jsonl_gz_{_source_tag(sf, 'documents')}",
    )


@register(
    "s20_jsonl_gzip_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def s20_jsonl_gzip_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    out = _gz_dir(sf)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf, "documents")
            .repartition(8)  # shard count IS the future read parallelism
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(out)
        )
    return spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
