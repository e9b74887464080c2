"""Hierarchical sectioning — SURVEY §2 T1/T2/F1.

Reference (``micro-infobot/app.py``):

* ``extraer_titulos`` (app.py:73-84): keep lines matching ``^[A-Z\\s]+$``
  with length > 5.
* ``procesar_texto_con_gerarquía`` (app.py:86-107): split text on
  ``"\\n\\n"``, walk paragraphs carrying ``current_section`` (init
  ``"General"``); a title paragraph becomes the new section and is
  *consumed* (not emitted as content).

Spark-first re-expression: the stateful walk is a **window forward-fill**
(``last(..., ignoreNulls=True)`` over rows-unbounded-preceding), partitioned
by ``doc_id`` — embarrassingly parallel across documents, no Python, no
driver loop. ``assign_sections`` is that standalone T2 operator (the
``t2_*`` catalog entries); at 100 TB it is a single narrow shuffle on
``doc_id`` (or none, if the source is already bucketed by ``doc_id``).

The index build (``plans/pipeline.build_chunks``) needs no window:
``split_paragraphs`` emits each document's paragraphs consecutively and
in ``para_pos`` order, so the build flags titles in Spark with the same
``is_title`` and carries the section inside its fused chunk-and-embed
Python pass, in the scan's own partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import is_title

GENERAL_SECTION = "General"  # app.py:95


def extract_titles(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """F1 — one row per title line: (doc_id, title). app.py:73-84."""
    line = F.explode(F.split(F.col(text_col), r"\n")).alias("line")
    return (
        documents.select("doc_id", line)
        .where(is_title(F.col("line")))
        .select("doc_id", F.trim("line").alias("title"))
    )


def split_paragraphs(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """T1 — ordered paragraph rows: (doc_id, para_pos, paragraph). app.py:93."""
    return documents.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), r"\n\n")).alias(
            "para_pos", "paragraph"
        ),
    )


def assign_sections(
    documents: DataFrame,
    text_col: str = "text",
    keep_titles: bool = False,
) -> DataFrame:
    """T2 — forward-fill of the last seen title over paragraph order.

    Returns (doc_id, para_pos, section, paragraph); title paragraphs are
    consumed unless ``keep_titles``. app.py:86-107.
    """
    paras = split_paragraphs(documents, text_col)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("para_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    title_flag = is_title(F.col("paragraph"))
    out = (
        paras.withColumn("_is_title", title_flag)
        .withColumn(
            "section",
            F.coalesce(
                F.last(
                    F.when(F.col("_is_title"), F.trim("paragraph")),
                    ignorenulls=True,
                ).over(w),
                F.lit(GENERAL_SECTION),
            ),
        )
    )
    if not keep_titles:
        out = out.where(~F.col("_is_title"))
    return out.select("doc_id", "para_pos", "section", "paragraph")
