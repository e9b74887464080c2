"""Recursive character chunking — SURVEY §2 T3.

Reference: ``micro-infobot/app.py:116-126`` uses LangChain's
``RecursiveCharacterTextSplitter(chunk_size=500, chunk_overlap=50,
separators=["\\n\\n", "\\n", ".", " "])``. This module is a from-scratch
deterministic reimplementation of those *semantics* (greedy hierarchical
split: try each separator in order, recurse oversized pieces into the next
separator, greedily merge small pieces up to ``chunk_size`` keeping
``chunk_overlap`` trailing characters; separators are kept attached to the
start of the following piece) as a pure function — no network, no state.

Spark integration: the index build (``plans/pipeline.build_chunks``)
calls the splitter inside its fused section, chunk and embed
``mapInArrow`` pass.
``chunk_sections`` is the standalone operator for other callers: an
Arrow-batched ``pandas_udf`` returning ``ARRAY<STRING>`` followed by
``posexplode`` — one Python boundary, batched, embarrassingly parallel per
row. At 100 TB the chunker scales linearly with input partitions.
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

DEFAULT_SEPARATORS = ["\n\n", "\n", ".", " "]  # app.py:119
DEFAULT_CHUNK_SIZE = 500  # app.py:117
DEFAULT_CHUNK_OVERLAP = 50  # app.py:118


class RecursiveCharacterSplitter:
    """Deterministic pure-Python recursive splitter (LangChain semantics)."""

    def __init__(
        self,
        chunk_size: int = DEFAULT_CHUNK_SIZE,
        chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
        separators: Iterable[str] = tuple(DEFAULT_SEPARATORS),
        keep_separator: bool = True,
        strip_whitespace: bool = True,
    ) -> None:
        if chunk_overlap >= chunk_size:
            raise ValueError("chunk_overlap must be < chunk_size")
        self.chunk_size = chunk_size
        self.chunk_overlap = chunk_overlap
        self.separators = list(separators)
        self.keep_separator = keep_separator
        self.strip_whitespace = strip_whitespace

    # -- public API ---------------------------------------------------
    def split_text(self, text: str) -> list[str]:
        if not text:
            return []
        return self._split(text, self.separators)

    # -- internals ----------------------------------------------------
    def _split(self, text: str, separators: list[str]) -> list[str]:
        final_chunks: list[str] = []
        # pick the first separator present in the text
        separator = separators[-1]
        remaining: list[str] = []
        for i, sep in enumerate(separators):
            if sep == "":
                separator = sep
                break
            if sep in text:
                separator = sep
                remaining = separators[i + 1 :]
                break

        splits = self._split_on(text, separator)
        merge_sep = "" if self.keep_separator else separator

        good: list[str] = []
        for piece in splits:
            if len(piece) < self.chunk_size:
                good.append(piece)
            else:
                if good:
                    final_chunks.extend(self._merge(good, merge_sep))
                    good = []
                if not remaining:
                    final_chunks.append(piece)
                else:
                    final_chunks.extend(self._split(piece, remaining))
        if good:
            final_chunks.extend(self._merge(good, merge_sep))
        return final_chunks

    def _split_on(self, text: str, separator: str) -> list[str]:
        if separator == "":
            return [c for c in text]
        if self.keep_separator:
            # split on a capturing group, then re-attach each separator to
            # the start of the piece that follows it
            parts = re.split(f"({re.escape(separator)})", text)
            out = [parts[i] + parts[i + 1] for i in range(1, len(parts), 2)]
            if len(parts) % 2 == 0:
                out += parts[-1:]
            out = [parts[0]] + out
        else:
            out = text.split(separator)
        return [p for p in out if p != ""]

    def _join(self, docs: list[str], separator: str) -> str | None:
        text = separator.join(docs)
        if self.strip_whitespace:
            text = text.strip()
        return text if text else None

    def _merge(self, splits: list[str], separator: str) -> list[str]:
        sep_len = len(separator)
        docs: list[str] = []
        current: list[str] = []
        total = 0
        for piece in splits:
            plen = len(piece)
            if total + plen + (sep_len if current else 0) > self.chunk_size:
                if current:
                    doc = self._join(current, separator)
                    if doc is not None:
                        docs.append(doc)
                    # pop from the front until within overlap budget
                    while total > self.chunk_overlap or (
                        total + plen + (sep_len if current else 0)
                        > self.chunk_size
                        and total > 0
                    ):
                        total -= len(current[0]) + (
                            sep_len if len(current) > 1 else 0
                        )
                        current = current[1:]
            current.append(piece)
            total += plen + (sep_len if len(current) > 1 else 0)
        doc = self._join(current, separator)
        if doc is not None:
            docs.append(doc)
        return docs


def chunk_sections(
    sectioned: DataFrame,
    text_col: str = "paragraph",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> DataFrame:
    """T3+T4 — chunk each (doc_id, section, paragraph) row; returns
    (doc_id, section, para_pos, chunk_pos, text). app.py:123-128.
    """
    splitter_conf = (chunk_size, chunk_overlap)

    @F.pandas_udf(ArrayType(StringType()))
    def split_udf(texts: pd.Series) -> pd.Series:
        sp = RecursiveCharacterSplitter(*splitter_conf)
        return texts.map(lambda t: sp.split_text(t) if t else [])

    # explicit repartition: AQE coalesces small upstream shuffles to one
    # partition, which would serialize the Python UDF — an explicit
    # numPartitions exchange is preserved and keeps the udf parallel
    from .dedup import spread

    sectioned = spread(sectioned, "doc_id")
    return sectioned.select(
        "doc_id",
        "section",
        "para_pos",
        F.posexplode(split_udf(F.col(text_col))).alias("chunk_pos", "text"),
    )
