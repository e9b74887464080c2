"""The workloads. Each one sets up its inputs from the seed, runs one op
at a time (closed loop, one client), checks every op's output against a
reference computed another way, and, in a traced run, wraps the engine's
layer functions so the per-layer metrics can be read off.

The pure ``*_ok`` / ``*_reference`` helpers hold the correctness rules;
they need no Spark session, so the unit tests call them directly.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import time
import traceback
from collections import defaultdict

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators import dedup
from ade_agente_documental_empresarial___miner_a_spark.operators.chunking import (
    RecursiveCharacterSplitter,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.embedding import (
    embed_one,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (
    RamServingIndex,
)
from ade_agente_documental_empresarial___miner_a_spark.plans import chat, pipeline
from ade_agente_documental_empresarial___miner_a_spark.sources import extract

from corpus import Corpus, malformed_count
from tracing import Tracer, group_per_op

TITLE = re.compile(r"[A-Z\s]+")


class Loop:
    """Runs ops one after another and records each op's latency and
    whether it raised. Ops are keyed by their index, or by
    ``(tag, index)`` when the loop has a tag."""

    def __init__(self, fn, tag: str | None = None) -> None:
        self.fn = fn
        self.tag = tag
        self.next = 0
        self.raised: list = []

    def key(self, i: int):
        return i if self.tag is None else (self.tag, i)

    def one(self) -> float:
        i, self.next = self.next, self.next + 1
        start = time.perf_counter()
        try:
            self.fn(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            self.raised.append(self.key(i))
        return time.perf_counter() - start

    def window(self, seconds: float) -> list[float]:
        times: list[float] = []
        start = time.perf_counter()
        while not times or time.perf_counter() - start < seconds:
            times.append(self.one())
        return times


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the visible files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def build_index(spark, corpus_dir: str, out_dir: str) -> str:
    """The upload path: scan → extract → section → chunk → embed →
    Parquet. Malformed files surface as error rows and are left out."""
    extracted = extract.extract_text(extract.binary_scan(spark, corpus_dir))
    docs = extracted.where(F.col("error").isNull()).select(
        F.regexp_extract("path", r"doc_(\d+)\.", 1).cast("long").alias("doc_id"),
        "text")
    return pipeline.save_index(pipeline.build_chunks(docs), out_dir)


def reference_chunks(text: str, embed: bool) -> list[tuple]:
    """Plain-Python reference of one document's index rows, sorted by
    (para_pos, chunk_pos): paragraphs split on blank lines, ALL-CAPS
    paragraphs open a section and are dropped, each paragraph is chunked
    by ``RecursiveCharacterSplitter`` and embedded by ``embed_one``."""
    splitter = RecursiveCharacterSplitter()
    section, rows = "General", []
    for para_pos, para in enumerate(text.split("\n\n")):
        t = para.strip(" ")
        if TITLE.fullmatch(t) and len(t) > 5:
            section = t
            continue
        for chunk_pos, chunk in enumerate(splitter.split_text(para)):
            rows.append((section, para_pos, chunk_pos, chunk,
                         embed_one(chunk) if embed else None))
    return rows


def index_rows_ok(rows: list[dict], total: int,
                  ref: dict[int, list[tuple]]) -> bool:
    """The index has ``total`` rows, and every sampled document's rows
    equal its reference rows (see ``reference_chunks``)."""
    if len(rows) != total:
        return False
    got: dict[int, list[tuple]] = {d: [] for d in ref}
    for r in rows:
        if r["doc_id"] in got:
            got[r["doc_id"]].append((r["section"], r["para_pos"],
                                     r["chunk_pos"], r["text"],
                                     r["embedding"]))
    return all(sorted(got[d], key=lambda x: x[1:3]) == ref[d] for d in ref)


def turn_ok(turn, question: str, hit_texts: list[str], past: int) -> bool:
    """A stateless turn retrieved ``hit_texts`` in order, replayed
    ``past`` earlier turns, asked ``question`` and answered with the
    extractive stub over its own prompt."""
    ctx = bool(hit_texts)
    return (
        turn.context == "\n".join(hit_texts)
        and len(turn.messages) == 2 + 2 * past + ctx
        and turn.messages[-1 - ctx]["content"] == question
        and turn.answer == chat.extractive_stub_llm(turn.messages)
    )


def store_ok(rows: list[dict], questions: list[str]) -> bool:
    """A conversation's store holds exactly its questions as turns
    0, 1, 2, ... in order."""
    stored = sorted((r["turn_id"], r["message"]) for r in rows)
    return stored == list(enumerate(questions))


def lsh_reference(texts: dict[int, str], num_perm: int = 8, bands: int = 4,
                  threshold: float = 0.3) -> dict[tuple[int, int], float]:
    """Plain-Python MinHash-LSH with the engine's default parameters:
    {(doc_a, doc_b): jaccard} of every pair (doc_a < doc_b) that shares
    a band key and whose bigram-shingle Jaccard is at least
    ``threshold``. Signature ``p`` of a document is the smallest md5 hex
    digest of ``'<p>:' + shingle`` over its distinct space-split
    bigrams; band ``b`` keys on signatures ``b*r .. b*r + r - 1``. (Raw
    digests order and compare as their hex forms do.)"""
    rows = num_perm // bands
    prefixes = [f"{p}:".encode() for p in range(num_perm)]
    shingles: dict[int, set[str]] = {}
    buckets: dict[tuple[int, bytes], list[int]] = defaultdict(list)
    for doc_id, text in texts.items():
        sh = _shingles(text)
        if not sh:
            continue
        shingles[doc_id] = sh
        encoded = [s.encode() for s in sh]
        sig = [min(hashlib.md5(p + s).digest() for s in encoded)
               for p in prefixes]
        for b in range(bands):
            buckets[(b, b"".join(sig[b * rows:(b + 1) * rows]))].append(doc_id)
    candidates = {(a, b) for ids in buckets.values()
                  for a in ids for b in ids if a < b}
    out = {}
    for a, b in candidates:
        common = len(shingles[a] & shingles[b])
        j = common / (len(shingles[a]) + len(shingles[b]) - common)
        if j >= threshold:
            out[(a, b)] = j
    return out


def pairs_ok(got: list[tuple[int, int, float]],
             want: dict[tuple[int, int], float]) -> bool:
    """The verified pairs (doc_a, doc_b, jaccard) are exactly the
    reference pairs (see ``lsh_reference``), each with its Jaccard."""
    return (len(got) == len(want)
            and len({(a, b) for a, b, _ in got}) == len(got)
            and all((a, b) in want and abs(want[(a, b)] - j) <= 1e-12
                    for a, b, j in got))


def clusters_reference(pairs) -> list[tuple[int, int]]:
    """Sorted (node, smallest node of its component) over every node
    that appears in a pair: a plain-Python union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in list(parent))


class Workload:
    """One op is timed per call of ``op``; each op does
    ``items_per_op`` items (documents)."""

    name = ""
    item = ""  # what ``items_per_s`` counts
    n_docs = 0
    items_per_op = 1

    def __init__(self, spark, seed: int, tmp: str) -> None:
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.outputs: dict = {}  # op index -> output, for ``check``
        self.setups = 0
        self.report: dict[str, tuple] = {}  # extra printed figures

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> dict:
        """A verdict for every op's output, by op key."""
        raise NotImplementedError

    def trace_hooks(self, tracer: Tracer) -> None:
        raise NotImplementedError

    def serve(self, tracer: Tracer) -> Loop | None:
        """Traced work run after the traced window; None if there is
        none."""
        return None

    def layer_metrics(self, tracer: Tracer, folded: dict) -> dict:
        raise NotImplementedError

    def _fresh_dir(self, kind: str) -> str:
        path = os.path.join(self.tmp, f"{kind}_{self.setups}")
        os.makedirs(path)
        return path


class Ingest(Workload):
    """One op builds the index of the generated file corpus (the upload
    path, ``build_index``) into a fresh directory.

    A traced run then serves the last index it built: it pins it with
    ``persist_serving_index`` and runs ``CHAT_TURNS`` stateless
    ``answer_question`` turns against it, conversations of ``TURNS``
    turns each with a fresh store, so the chat layers are traced and
    checked too."""

    name = "ingest"
    item = "documents"
    n_docs = 200
    items_per_op = n_docs
    SAMPLE_DOCS = 8
    TURNS = 8
    CHAT_TURNS = 24
    turns: dict | None = None  # served turns, by turn index

    def setup(self):
        self.setups += 1
        self.corpus = Corpus(self.seed, self.n_docs)
        self.corpus_dir = self._fresh_dir("corpus")
        self.expected_text = self.corpus.write_files(self.corpus_dir)

    def op(self, i):
        self.outputs[i] = build_index(
            self.spark, self.corpus_dir, os.path.join(self.tmp, f"index_{i}"))

    def trace_hooks(self, tracer):
        def extracted(df, *_, **__):
            tracer.count("sources.extract.files", df.count())
            tracer.count("sources.extract.error_rows",
                         df.where(F.col("error").isNotNull()).count())

        def rows(metric):
            return lambda df, *_, **__: tracer.count(metric, df.count())

        def written(ref, *_, **__):
            size, files = dir_bytes(ref)
            tracer.count("plans.pipeline.index_bytes", size)
            tracer.count("plans.pipeline.files", files)

        tracer.wrap(extract, "extract_text", "sources.extract", extracted)
        tracer.wrap(pipeline, "assign_sections", "operators.sectioning",
                    rows("operators.sectioning.paragraphs"))
        tracer.wrap(pipeline, "chunk_sections", "operators.chunking",
                    rows("operators.chunking.chunks"))
        tracer.wrap(pipeline, "with_embeddings", "operators.embedding",
                    rows("operators.embedding.vectors"))
        tracer.wrap(pipeline, "save_index", "plans.pipeline.write", written)

    # -- serving: chat turns against the last built index (traced runs) --

    def serve(self, tracer):
        self.traced_hits: dict[int, tuple] = {}
        store_bytes: dict[str, int] = {}

        def keep_hits(rows, index, qvec, **_):
            self.traced_hits[int(tracer.op[len("turn"):])] = (qvec, rows.rows)

        def appended(_, spark, rows, path, **__):
            size = dir_bytes(path)[0]
            tracer.count("sources.sinks.bytes_per_turn",
                         size - store_bytes.get(path, 0))
            store_bytes[path] = size

        # a span outside the layers: its time is ``persist_ms``, and its
        # jobs do not mix into ``plans.pipeline``'s per-build fold
        tracer.op = "serve"
        loaded = pipeline.load_index(self.spark, self.outputs[max(self.outputs)])
        with tracer.span("serve.persist"):
            self.index = pipeline.persist_serving_index(loaded)
        self.questions = self.corpus.questions(self.CHAT_TURNS)
        self.hist_root = self._fresh_dir("history")
        self.turns = {}

        tracer.wrap(chat, "embed_one", "operators.embedding.embed_one")
        tracer.wrap(chat, "topk_similar", "operators.similarity.topk",
                    keep_hits, collect=True)
        tracer.wrap(chat, "append_chat_history", "sources.sinks.append",
                    appended)
        tracer.wrap(chat, "answer_question", "plans.chat.turn")
        turns = Loop(self._turn, tag="turn")
        for _ in range(self.CHAT_TURNS):
            tracer.op = f"turn{turns.next}"
            turns.one()
        return turns

    def _store(self, t: int) -> tuple[str, str]:
        conv = t // self.TURNS
        return (f"user{conv}",
                os.path.join(self.hist_root, f"conv_{conv:05d}"))

    def _turn(self, t: int) -> None:
        user, path = self._store(t)
        self.turns[t] = chat.answer_question(
            self.spark, self.index, user, self.questions[t],
            history_path=path)

    # -- checks --

    def check(self):
        texts = self.expected_text
        total = sum(len(reference_chunks(t, embed=False))
                    for t in texts.values())
        sample = random.Random(self.seed).sample(sorted(texts),
                                                 self.SAMPLE_DOCS)
        ref = {d: reference_chunks(texts[d], embed=True) for d in sample}
        errors = (extract.extract_text(
            extract.binary_scan(self.spark, self.corpus_dir))
            .where(F.col("error").isNotNull()).count())
        errors_ok = errors == malformed_count(self.n_docs)
        verdicts = {}
        for i, index_dir in self.outputs.items():
            rows = pads.dataset(index_dir, format="parquet",
                                partitioning="hive").to_table().to_pylist()
            verdicts[i] = errors_ok and index_rows_ok(rows, total, ref)
        last = self.outputs[max(self.outputs)]
        self.report["index_bytes_per_input_byte"] = (
            dir_bytes(last)[0] / dir_bytes(self.corpus_dir)[0], "ratio", 1)
        if self.turns is not None:
            verdicts.update(self._turns_ok())
        return verdicts

    def _turns_ok(self) -> dict:
        """Each turn's context is ``RamServingIndex.topk`` over the same
        pinned frame, and its hit ids are the RAM tier's ids; each
        conversation's store holds its questions in order."""
        ram = RamServingIndex.from_frame(self.index)
        verdicts = {}
        for t, turn in self.turns.items():
            q = self.questions[t]
            qvec, hit_rows = self.traced_hits.get(t, (None, None))
            want = ram.topk(embed_one(q), k=4)
            verdicts[("turn", t)] = (
                turn_ok(turn, q, [h.text for h in want], t % self.TURNS)
                and qvec is not None
                and [r.chunk_id for r in hit_rows]
                == [h.chunk_id for h in ram.topk(qvec, k=4)])
        for conv in {t // self.TURNS for t in self.turns}:
            ts = sorted(t for t in self.turns if t // self.TURNS == conv)
            rows = pq.read_table(self._store(ts[0])[1]).to_pylist()
            if not store_ok(rows, [self.questions[t] for t in ts]):
                verdicts.update(dict.fromkeys(
                    [("turn", t) for t in ts], False))
        return verdicts

    def layer_metrics(self, tracer, folded):
        m = {
            "sources.extract.ms": tracer.per_op("sources.extract"),
            "operators.sectioning.ms": tracer.per_op("operators.sectioning"),
            "operators.chunking.ms": tracer.per_op("operators.chunking"),
            "operators.embedding.ms": tracer.per_op("operators.embedding"),
            "plans.pipeline.write_ms": tracer.per_op("plans.pipeline.write"),
            "plans.pipeline.persist_ms": tracer.per_op("serve.persist"),
            "operators.embedding.embed_one_ms":
                tracer.per_op("operators.embedding.embed_one"),
            "operators.similarity.topk_ms":
                tracer.per_op("operators.similarity.topk"),
            "operators.similarity.jobs_per_turn":
                group_per_op(folded, "operators.similarity.topk", "jobs"),
            "operators.similarity.tasks_per_turn":
                group_per_op(folded, "operators.similarity.topk", "tasks"),
            "sources.sinks.append_ms": tracer.per_op("sources.sinks.append"),
            "plans.chat.self_ms": tracer.per_op("plans.chat.turn",
                                                self_time=True),
        }
        for name in ("sources.extract.files", "sources.extract.error_rows",
                     "operators.sectioning.paragraphs",
                     "operators.chunking.chunks",
                     "operators.embedding.vectors",
                     "plans.pipeline.index_bytes", "plans.pipeline.files",
                     "sources.sinks.bytes_per_turn"):
            m[name] = tracer.count_per_op(name)
        return m


class Dedup(Workload):
    """One op clusters the corpus: LSH-verified near-duplicate pairs,
    then connected components."""

    name = "dedup"
    item = "documents"
    n_docs = 600
    items_per_op = n_docs

    def setup(self):
        import pyarrow as pa

        self.setups += 1
        self.corpus = Corpus(self.seed, self.n_docs)
        path = os.path.join(self._fresh_dir("docs"), "docs.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([d.doc_id for d in self.corpus.docs],
                               pa.int64()),
            "text": pa.array([d.text for d in self.corpus.docs],
                             pa.string()),
        }), path)
        self.docs = self.spark.read.parquet(path)

    def op(self, i):
        clusters = dedup.connected_components(
            dedup.lsh_verified_pairs(self.docs)).collect()
        self.outputs[i] = sorted((r.doc_id, r.cluster_id) for r in clusters)

    def check(self):
        """The engine's verified pairs must be exactly the plain-Python
        LSH pairs, and every op's clusters the union-find over those."""
        want = lsh_reference({d.doc_id: d.text for d in self.corpus.docs})
        got = [(r.doc_a, r.doc_b, r.jaccard)
               for r in dedup.lsh_verified_pairs(self.docs).collect()]
        ok = pairs_ok(got, want)
        clusters = clusters_reference(want)
        return {i: ok and out == clusters for i, out in self.outputs.items()}

    def trace_hooks(self, tracer):
        def rows(metric):
            return lambda df, *_, **__: tracer.count(metric, df.count())

        tracer.wrap(dedup, "lsh_candidate_pairs", "operators.dedup.candidates",
                    rows("operators.dedup.candidate_pairs"))
        tracer.wrap(dedup, "lsh_verified_pairs", "operators.dedup.verified",
                    rows("operators.dedup.verified_pairs"))
        tracer.wrap(dedup, "connected_components", "operators.dedup.cc")

    def layer_metrics(self, tracer, folded):
        cand = tracer.count_per_op("operators.dedup.candidate_pairs")
        ver = tracer.count_per_op("operators.dedup.verified_pairs")
        return {
            "operators.dedup.candidates_ms":
                tracer.per_op("operators.dedup.candidates"),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_ms":
                tracer.per_op("operators.dedup.verified", self_time=True),
            "operators.dedup.verified_pairs": ver,
            "operators.dedup.verify_yield": ver / cand if cand else 0.0,
            "operators.dedup.cc_ms": tracer.per_op("operators.dedup.cc"),
            "operators.dedup.cc_jobs":
                group_per_op(folded, "operators.dedup.cc", "jobs"),
        }


def _shingles(text: str) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i:i + 2]) for i in range(len(words) - 1)}


WORKLOADS = {w.name: w for w in (Ingest, Dedup)}
