"""Ingestion sources — SURVEY §2.1 S1-S5.

Reference (``micro-infobot/app.py:191-205``): a Streamlit multi-uploader
dispatching on MIME to BeautifulSoup (html/xml), PyMuPDF (pdf), pandas
(csv), with xlsx accepted-but-dropped (S5, no handler).

Spark-first: ``spark.read.format("binaryFile")`` scans a directory tree in
parallel (S1); per-format text extraction is a ``mapInPandas`` boundary
(S2/S3) gated on optional libs — the container here ships neither
BeautifulSoup nor PyMuPDF, so those paths degrade to deterministic
fallbacks (html: regex tag-strip; pdf: NotImplementedError surfaced as
null text + error column) while the Spark plumbing (schema, dispatch,
batching) is real and tested. CSV/XLSX stay relational (S4/S5) — the
reference's table→text serialization is reproduced as an explicit op.
"""

from __future__ import annotations

import io
import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..planstats import num_partitions, plan_size_bytes

try:  # optional, not in this container
    import fitz  # PyMuPDF  # noqa: F401

    HAVE_PYMUPDF = True
except ImportError:
    HAVE_PYMUPDF = False

try:  # optional, not in this container
    from bs4 import BeautifulSoup  # noqa: F401

    HAVE_BS4 = True
except ImportError:
    HAVE_BS4 = False

EXTRACT_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
    ]
)

_EXT_MIME = {
    "pdf": "application/pdf",
    "csv": "text/csv",
    "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "html": "text/html",
    "htm": "text/html",
    "xml": "application/xml",
    "txt": "text/plain",
}


def _content_sized(df: DataFrame) -> DataFrame:
    """``binary_scan``'s partition sizing rule (see there)."""
    spark = df.sparkSession
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    target = max(
        spark.sparkContext.defaultParallelism,
        -(-plan_size_bytes(df) // max_bytes),
    )
    # a bare file scan is not adaptive, so its count is always known
    if target < num_partitions(df):
        return df.coalesce(target)
    return df


def binary_scan(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S1 — parallel binary directory scan with MIME derived from the
    extension (mirrors the uploader's type dispatch, app.py:191-195).

    Partitions are sized by content bytes: the scan is coalesced to
    ``min(current, max(defaultParallelism, ceil(file_bytes /
    spark.sql.files.maxPartitionBytes)))``, where ``file_bytes`` is the
    scan's plan statistic — the matching files' total size, read with no
    job. Every row downstream (extraction, the index build) is Python
    work, and on pyspark 4.1.2 each Python task pays a fixed ≈200 ms
    before its function is entered: a no-op ``mapInArrow`` over 1/2/7/14
    partitions took 283/323/809/1468 ms against ≈50 ms for a plain noop
    write (4 vCPUs). Most of it is the worker's ``setup_spark_files``
    (100-125 ms a task, reused workers too): its
    ``importlib.invalidate_caches()`` makes every cached zipimporter on
    Python 3.11 re-read its archive's directory, a dozen over
    ``pyspark.zip`` (1,328 entries) and two over the spark-core jar
    (5,359). The file source charges every file a 4 MB open
    cost, so 204 files (0.88 MB) made 7 splits on ``local[2]``; sized by
    content they make 2. The rule only narrows: once files are large,
    the file source's own split count is kept."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = _content_sized(reader.load(path))
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime_map = F.create_map(
        *[F.lit(x) for kv in _EXT_MIME.items() for x in kv]
    )
    return df.withColumn(
        "mime", F.coalesce(mime_map[ext], F.lit("application/octet-stream"))
    )


class _VisibleText(HTMLParser):
    """Event-driven visible-text extraction on the stdlib tokenizer —
    the same get_text() semantics BeautifulSoup('html.parser') provides,
    because bs4 delegates tokenization to this very parser. Tracks a
    skip depth for script/style (case-insensitive: the tokenizer
    lowercases tag names) and collects data outside them;
    ``convert_charrefs=True`` unescapes entities in-stream."""

    _HIDDEN = frozenset({"script", "style"})

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self.chunks: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in self._HIDDEN:
            self._skip += 1

    def handle_endtag(self, tag):
        if tag in self._HIDDEN and self._skip:
            self._skip -= 1

    def handle_data(self, data):
        if not self._skip:
            self.chunks.append(data)


def _strip_markup(data: bytes) -> str:
    """Visible-text extraction. With bs4: BeautifulSoup.get_text()
    verbatim (app.py:197-199). Without (this container): the stdlib
    ``html.parser`` tokenizer above — a real parser, not a regex strip.

    The DuckDB oracle mirrors the original regex pipeline; both agree on
    the committed corpus (parity-pinned). Known semantic deltas on
    richer inputs: the parser unescapes EVERY charref (the regex mirror
    only the 6 common ones), recovers differently from malformed
    markup, and drops comments/PIs/DOCTYPE as non-data (the regex turns
    them into spaces — whitespace-collapse equalizes the common case)."""
    raw = data.decode("utf-8", errors="replace")
    if HAVE_BS4:
        return BeautifulSoup(raw, "html.parser").get_text()
    p = _VisibleText()
    p.feed(raw)
    p.close()
    # element boundaries become spaces, then collapse + trim — the same
    # normalization the regex pipeline (and the oracle) applies
    return re.sub(r"\s+", " ", " ".join(p.chunks)).strip()


def _pdf_text(data: bytes) -> str:
    """S3 — per-page get_text("text") concatenation (app.py:200-202).

    fitz present → PyMuPDF verbatim. fitz absent (this container) → the
    vendored pure-Python extractor (sources/pdftext.py: classic-xref,
    raw/Flate content streams, Tj/TJ/'/\" text ops). Anything the
    fallback can't confidently parse degrades to the ORACLE-PINNED error
    string below (s3_extract_degrade) — the pin is the public degrade
    contract ("no full PDF engine available"), so it stays byte-stable
    even though the fallback, not the missing import, decides; the real
    cause rides along as ``__cause__`` for anyone debugging."""
    if not HAVE_PYMUPDF:
        from . import pdftext

        try:
            return pdftext.extract_text(data)
        except Exception as e:  # noqa: BLE001 — degrade, never garbage
            raise NotImplementedError(
                "PyMuPDF (fitz) not installed"
            ) from e
    out = []
    with fitz.open(stream=data, filetype="pdf") as doc:
        for page in doc:
            out.append(page.get_text("text"))
    return "".join(out)


def extract_text(binaries: DataFrame) -> DataFrame:
    """S2/S3 — MIME-dispatched text extraction over (path, mime, content)
    rows via Arrow-batched mapInPandas. Unknown/unavailable formats yield
    text=null + error instead of failing the job."""

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                path, mime, content = row["path"], row["mime"], row["content"]
                text, err = None, None
                try:
                    if mime in ("text/html", "application/xml"):
                        text = _strip_markup(bytes(content))
                    elif mime == "application/pdf":
                        text = _pdf_text(bytes(content))
                    elif mime == "text/plain":
                        text = bytes(content).decode("utf-8", errors="replace")
                    else:
                        err = f"unsupported mime: {mime}"
                except Exception as e:  # noqa: BLE001
                    err = f"{type(e).__name__}: {e}"
                rows.append(
                    {
                        "path": path,
                        "mime": mime,
                        "n_bytes": len(content),
                        "text": text,
                        "error": err,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in EXTRACT_SCHEMA])

    return binaries.select("path", "mime", "content").mapInPandas(
        run, EXTRACT_SCHEMA
    )


def csv_scan(
    spark: SparkSession, path: str, serialize: bool = False
) -> DataFrame:
    """S4 — relational CSV scan (header + inferSchema mirrors
    pd.read_csv's inference, app.py:204). With ``serialize=True`` also
    reproduces the reference's whole-table → text serialization
    (``df.to_string`` at app.py:205) as one row per line."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    if not serialize:
        return df
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    return df.select(F.concat_ws(" ", *cols).alias("line"))


XLSX_ROWS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("sheet", StringType()),
        StructField("row_idx", LongType()),
        StructField("cells", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


def xlsx_scan_distributed(
    spark: SparkSession, path: str, glob: str = "*.xlsx"
) -> DataFrame:
    """S5 at cluster scale: ``binaryFile`` scans the tree in parallel (one
    workbook per row, bytes never touch the driver) and each executor
    parses its files with openpyxl inside an Arrow-batched ``mapInPandas``.
    Output is one row per sheet row: (path, sheet, row_idx, cells, error)
    — cells stringified so heterogeneous workbooks share one schema.

    Parser tiering mirrors S3: openpyxl verbatim when importable, else
    the vendored stdlib OOXML reader (sources/xlsx_lite.py) — so the
    real parse branch executes in THIS container too. Parse failures
    degrade to an error row per file instead of failing the job — same
    contract as ``extract_text``. Per-file parallelism is the unit of
    scale: a tree of N workbooks fans out N-wide regardless of
    individual file size.
    """
    binaries = binary_scan(spark, path, glob=glob)

    def _parse(content: bytes):
        """→ [(sheet, row_idx, cells)] via openpyxl or the fallback."""
        try:
            import openpyxl
        except ImportError:
            from . import xlsx_lite

            return [
                (name, i, cells)
                for name, rows_ in xlsx_lite.read_workbook(content)
                for i, cells in enumerate(rows_)
            ]
        wb = openpyxl.load_workbook(
            io.BytesIO(content), read_only=True, data_only=True
        )
        return [
            (ws.title, i, list(cells))
            for ws in wb.worksheets
            for i, cells in enumerate(ws.iter_rows(values_only=True))
        ]

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                fpath, content = row["path"], row["content"]
                try:
                    for sheet, i, cells in _parse(bytes(content)):
                        rows.append(
                            {
                                "path": fpath,
                                "sheet": sheet,
                                "row_idx": i,
                                "cells": [
                                    None if c is None else str(c) for c in cells
                                ],
                                "error": None,
                            }
                        )
                except Exception as e:  # noqa: BLE001
                    rows.append(
                        {
                            "path": fpath,
                            "sheet": None,
                            "row_idx": None,
                            "cells": None,
                            "error": f"{type(e).__name__}: {e}",
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in XLSX_ROWS_SCHEMA])

    return binaries.select("path", "content").mapInPandas(run, XLSX_ROWS_SCHEMA)
