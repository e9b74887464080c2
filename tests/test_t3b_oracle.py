"""Pins for the t3b_chunk_long_docs exact oracle (VERDICT r5 task 4).

The DuckDB oracle in ``plans/queries_reference.py`` replaces the recursive
splitter with a closed-form greedy word-merge walk. That reduction is
valid only while the input text (a) contains none of the higher-priority
separators ('\\n\\n', '\\n', '.') and (b) has no doubled / leading /
trailing spaces (so word pieces are exactly ``split(' ')`` with the
separator re-attached and ``strip()`` only removes the leading attached
space) and (c) every word piece is shorter than chunk_size=120 (an
oversized piece takes the splitter's append-as-is branch, which neither
strips nor carries the overlap tail across it — the shipped data's max
piece is 9 chars). Test 1 pins those preconditions on every shipped
testdata SF so a regenerated dataset that breaks them fails loudly here
rather than as an opaque driver hash mismatch. Test 2 property-checks
the closed form against the real splitter on adversarial space-only
texts within the precondition envelope (word lengths up to 118 —
overlap-boundary ties, single-word chunks, exact-fit windows), i.e. the
algebra itself, not just the shipped rows.
"""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from ade_agente_documental_empresarial___miner_a_spark.operators.chunking import (
    RecursiveCharacterSplitter,
)

SIZE, OVER = 120, 20
SF_DIRS = [
    f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")
]


def closed_form(text: str) -> list[str]:
    """Python mirror of the oracle's recursive-CTE walk (same algebra)."""
    if not text:
        return []
    words = text.split(" ")
    lens = [len(w) + (1 if i > 0 else 0) for i, w in enumerate(words)]
    n = len(lens)
    cum = [0]
    for length in lens:
        cum.append(cum[-1] + length)
    chunks: list[str] = []
    a = 1
    while True:
        b = a
        while b + 1 <= n and cum[b + 1] - cum[a - 1] <= SIZE:
            b += 1
        chunks.append(text[cum[a - 1] : cum[b]].strip())
        if b == n:
            return chunks
        l_next = lens[b]  # piece b+1, 0-indexed list
        j = a + 1
        while True:
            tail = cum[b] - cum[j - 1]
            if tail <= OVER and (tail + l_next <= SIZE or tail == 0):
                break
            j += 1
        a = j


def test_testdata_preconditions_hold() -> None:
    import duckdb

    con = duckdb.connect()
    for sf_dir in SF_DIRS:
        path = os.path.join(sf_dir, "documents.parquet")
        if not os.path.exists(path):
            continue
        bad = con.execute(
            f"""
            SELECT count(*) FROM read_parquet('{path}')
            WHERE text IS NULL OR text = ''
               OR text LIKE '%' || chr(10) || '%'
               OR text LIKE '%.%'
               OR text LIKE '%  %'
               OR text LIKE ' %'
               OR text LIKE '% '
            """
        ).fetchone()[0]
        assert bad == 0, f"t3b oracle precondition broken in {path}"
        max_piece = con.execute(
            f"""
            SELECT max(length(w) + CASE WHEN i > 1 THEN 1 ELSE 0 END)
            FROM (SELECT unnest(string_split(text, ' ')) AS w,
                         generate_subscripts(string_split(text, ' '), 1) AS i
                  FROM read_parquet('{path}'))
            """
        ).fetchone()[0]
        assert max_piece < SIZE, f"oversized word piece in {path}"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=118).map(lambda k: "x" * k),
        min_size=1,
        max_size=60,
    )
)
def test_closed_form_matches_splitter(words: list[str]) -> None:
    text = " ".join(words)
    sp = RecursiveCharacterSplitter(chunk_size=SIZE, chunk_overlap=OVER)
    assert closed_form(text) == sp.split_text(text)
