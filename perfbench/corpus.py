"""Seeded generator of enterprise-style document corpora.

Every workload draws its inputs from ``Corpus(seed, n_docs)``; the same
seed always yields the same documents, files and questions. The
vocabulary and the title list are fixed, so corpora of different seeds
have the same statistics and differ only in content.

A document is several KB of text: 3-5 sections, each opened by an
ALL-CAPS title paragraph (so sectioning forms sections) and followed by
2-3 body paragraphs whose sentences wrap onto several lines (so the
chunker uses its "\\n\\n", "\\n", "." and " " separators). A stated
share of documents are near-copies of another document (a family),
written with a few words substituted, so the dedup layer has real
clusters to find.

``write_files`` renders the corpus as a txt/html/pdf mix plus a known
number of malformed PDFs, and returns the text each file should yield
after extraction, which the check of the built index uses.
"""

from __future__ import annotations

import itertools
import os
import random
import zlib
from dataclasses import dataclass

_SYLLABLES = (
    "ka ri to me sa lo ne vi du pa ge ro fi la mu te so ba ni co "
    "de ra po li ma ve tu sil mar pen dor cal ves tri gon lum"
).split()

TITLES = (
    "ANNUAL REPORT", "RISK ASSESSMENT", "QUARTERLY RESULTS",
    "SUPPLY CHAIN REVIEW", "COMPLIANCE NOTES", "MARKET OUTLOOK",
    "HUMAN RESOURCES", "PROJECT STATUS", "BUDGET PLANNING",
    "CUSTOMER FEEDBACK", "DATA GOVERNANCE", "LEGAL SUMMARY",
    "OPERATIONS UPDATE", "SECURITY POLICY", "SALES FORECAST",
    "VENDOR CONTRACTS", "PRODUCT ROADMAP", "AUDIT FINDINGS",
    "STRATEGIC GOALS", "TRAINING PROGRAM", "INCIDENT REPORT",
    "PROCUREMENT RULES", "TAX OBLIGATIONS", "QUALITY CONTROL",
)

DUP_SHARE = 0.3  # share of documents that are near-copies of another
MALFORMED_SHARE = 0.02  # share of files written as unparseable PDFs
_FORMATS = ("txt", "txt", "txt", "txt", "txt", "html", "html", "html",
            "pdf", "pdf")  # 50% txt, 30% html, 20% pdf


def _vocabulary(size: int = 3000) -> list[str]:
    rng = random.Random(0)  # fixed: the same words for every seed
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocabulary()
# Zipf-like weights: a few frequent words, a long tail of rare ones
_CUM_WEIGHTS = list(itertools.accumulate(
    1.0 / (rank + 10) for rank in range(len(VOCAB))))


def _wrap(sentences: list[str], width: int = 110) -> str:
    """Join sentences into one paragraph broken onto lines of ~width."""
    lines, cur = [], ""
    for s in sentences:
        if cur and len(cur) + 1 + len(s) > width:
            lines.append(cur)
            cur = s
        else:
            cur = f"{cur} {s}" if cur else s
    lines.append(cur)
    return "\n".join(lines)


@dataclass(frozen=True)
class Doc:
    doc_id: int
    sections: tuple  # ((title, (paragraph, ...)), ...)
    family: int  # doc_id of the family's base document

    @property
    def text(self) -> str:
        paras = []
        for title, body in self.sections:
            paras.append(title)
            paras.extend(body)
        return "\n\n".join(paras)


class Corpus:
    """``n_docs`` seeded documents; ids are 1..n_docs."""

    def __init__(self, seed: int, n_docs: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.docs: list[Doc] = []
        for doc_id in range(1, n_docs + 1):
            bases = [d for d in self.docs[-50:] if d.family == d.doc_id]
            if bases and self.rng.random() < DUP_SHARE:
                self.docs.append(self._near_copy(self.rng.choice(bases), doc_id))
            else:
                self.docs.append(self._fresh(doc_id))

    def _sentence(self) -> str:
        n = self.rng.randint(8, 18)
        words = self.rng.choices(VOCAB, cum_weights=_CUM_WEIGHTS, k=n)
        return " ".join(words).capitalize() + "."

    def _fresh(self, doc_id: int) -> Doc:
        rng = self.rng
        titles = rng.sample(TITLES, rng.randint(3, 5))
        sections = tuple(
            (t, tuple(_wrap([self._sentence()
                             for _ in range(rng.randint(3, 6))])
                      for _ in range(rng.randint(2, 3))))
            for t in titles
        )
        return Doc(doc_id, sections, doc_id)

    def _near_copy(self, base: Doc, doc_id: int) -> Doc:
        """Substitute ~2% of the base's body words, keeping layout, so
        every copy is verified against its base and the other copies."""
        rng = self.rng

        def mutate(paragraph: str) -> str:
            lines = []
            for line in paragraph.split("\n"):
                words = line.split(" ")
                for i, w in enumerate(words):
                    if rng.random() < 0.02 and not w.endswith("."):
                        words[i] = rng.choice(VOCAB)
                lines.append(" ".join(words))
            return "\n".join(lines)

        sections = tuple((t, tuple(mutate(p) for p in body))
                         for t, body in base.sections)
        return Doc(doc_id, sections, base.doc_id)

    def questions(self, n: int, seed_offset: int = 1) -> list[str]:
        """Seeded chat questions: 4-8 consecutive words from a random
        body line of a random document."""
        rng = random.Random(self.seed * 7919 + seed_offset)
        out = []
        for _ in range(n):
            doc = rng.choice(self.docs)
            _, body = rng.choice(doc.sections)
            words = rng.choice(rng.choice(body).split("\n")).split(" ")
            k = min(len(words), rng.randint(4, 8))
            start = rng.randint(0, len(words) - k)
            out.append(" ".join(words[start:start + k]).rstrip(".").lower())
        return out

    def write_files(self, out_dir: str) -> dict[int, str]:
        """Render every document as a txt, html or pdf file in
        ``out_dir`` plus ``malformed_count(n)`` unparseable PDFs, and
        return {doc_id: text the file should yield after extraction}."""
        rng = random.Random(self.seed * 104729 + 3)
        os.makedirs(out_dir, exist_ok=True)
        expected = {}
        for doc in self.docs:
            fmt = rng.choice(_FORMATS)
            path = os.path.join(out_dir, f"doc_{doc.doc_id:06d}.{fmt}")
            data, expected[doc.doc_id] = _RENDER[fmt](doc)
            with open(path, "wb") as fh:
                fh.write(data)
        for i in range(malformed_count(len(self.docs))):
            junk = bytes(rng.getrandbits(8) for _ in range(256))
            path = os.path.join(out_dir, f"bad_{i:04d}.pdf")
            with open(path, "wb") as fh:
                fh.write(b"%PDF-1.4\n" + junk)
        return expected


def malformed_count(n_docs: int) -> int:
    return max(1, round(n_docs * MALFORMED_SHARE))


def _txt(doc: Doc) -> tuple[bytes, str]:
    return doc.text.encode(), doc.text


def _html(doc: Doc) -> tuple[bytes, str]:
    """Visible-text extraction collapses whitespace to single spaces, so
    an html document yields its words on one line (no sections)."""
    parts = ["<html><head><title>report</title>",
             "<style>p { margin: 0 }</style></head><body>"]
    for title, body in doc.sections:
        parts.append(f"<h2>{title}</h2>")
        parts.extend(f"<p>{p}</p>" for p in body)
    parts.append("</body></html>")
    visible = ["report"] + [x for t, b in doc.sections for x in (t, *b)]
    return "\n".join(parts).encode(), " ".join(" ".join(visible).split())


def _pdf_escape(s: str) -> bytes:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)").encode("latin-1")


def _pdf(doc: Doc) -> tuple[bytes, str]:
    """One Flate-compressed page; each text line is shown with ``'``
    (newline then text), and an empty ``'`` separates paragraphs."""
    lines = doc.text.split("\n")
    ops = [b"BT /F1 10 Tf 12 TL 72 760 Td (" + _pdf_escape(lines[0]) + b") Tj"]
    ops += [b"(" + _pdf_escape(ln) + b") '" for ln in lines[1:]]
    ops.append(b"ET")
    payload = zlib.compress(b"\n".join(ops))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + payload + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    header = b"%PDF-1.4\n"
    body, offsets = b"", []
    for i, o in enumerate(objs, start=1):
        offsets.append(len(header) + len(body))
        body += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    xref = (f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
            + b"".join(f"{off:010d} 00000 n \n".encode() for off in offsets))
    trailer = (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
               f"startxref\n{len(header) + len(body)}\n%%EOF\n").encode()
    return header + body + xref + trailer, doc.text + "\n"


_RENDER = {"txt": _txt, "html": _html, "pdf": _pdf}
