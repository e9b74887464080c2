"""Driver-resident serving tier for bounded retrieval indexes.

The reference serves every chat turn from a RAM-resident vector index
queried client-side (Chroma collection, ``micro-infobot/app.py:130``;
``similarity_search`` at ``app.py:223``) — no cluster round-trip is on
its per-turn hot path. The engine's analytics tier keeps retrieval
distributed (``operators/similarity.topk_similar`` — broadcast literal
query, TakeOrderedAndProject), but a SERVING deployment asking one
top-k question per chat turn pays ~100 ms of plan-build + scheduling
per query for work that touches a few MB of cached vectors.

``RamServingIndex`` is the engine analogue of the reference's client
index: built ONCE from the distributed frame (the build stays a Spark
scan; at 100 TB the index itself is produced by the distributed
pipeline and sharded so each serving replica loads one bounded shard),
bounded by an explicit row guard (the collect is capped with
``limit(max_rows+1)`` so an oversized frame fails fast instead of
materializing), and queried per turn with a numpy kernel that is
BIT-IDENTICAL to the Spark expression it mirrors.

Bit-exactness: ``topk_similar`` scores with ``cosine_to_literal`` —
dot(v, q) as a left fold in array order over per-element
double-rounded products, divided by (left-fold |v|) * (driver-constant
|q|). The kernel reproduces every rounding step: accumulating
``s += M[:, j] * q[j]`` over dimensions j in order performs, per row,
exactly that product-then-add sequence in IEEE-754 doubles (numpy
ufuncs round each op separately — no FMA), so scores, and therefore
rankings, match the JVM bit for bit. Ties break on the id column
ascending, the same order ``topk_similar`` requests. Zero-norm vectors
score NULL (``ServingHit.score is None``), mirroring the engine's
``try_divide`` contract (``functions/vector.py:cosine_similarity`` —
itself pinned to the DuckDB oracle's x/0 → NULL): a zero-norm INDEX
row ranks LAST (Spark's DESC NULLS LAST), ties among null-scored rows
break by id ascending, and a zero-norm QUERY yields all-NULL scores —
the first k ids in ascending order. NaN-valued embeddings score NaN
(NaN divisor is not zero) and rank FIRST under descending order,
Spark's NaN-greatest semantics. Full descending order of a score
column: NaN, then real numbers, then NULL.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from pyspark.sql import DataFrame

from ..functions.vector import const_l2_norm


class ServingHit(NamedTuple):
    chunk_id: int
    text: str
    score: float | None  # None = NULL cosine (a zero-norm operand)


class HierarchyHit(NamedTuple):
    label: object  # the label column's native value (str, int, ...)
    chunk_id: int
    score: float | None
    rnk: int  # 1-based rank within the label group


class RamServingIndex:
    """Bounded driver-RAM cosine top-k index over (id, text, embedding).

    Use ``from_frame`` to build from any DataFrame carrying an id
    column, a text payload column, and an ``array<float>`` embedding
    column. Query with ``topk`` — results are bit-identical to
    ``topk_similar(frame, q, k).collect()`` on the same rows (pinned
    by tests/test_serving_ram.py).
    """

    def __init__(
        self,
        ids: np.ndarray,
        texts: list[str],
        vectors: np.ndarray,
        labels: list[str] | None = None,
    ) -> None:
        if vectors.ndim != 2 or not (
            len(ids) == len(texts) == vectors.shape[0]
        ):
            raise ValueError("ids/texts/vectors row counts must agree")
        if labels is not None and len(labels) != vectors.shape[0]:
            raise ValueError("labels row count must agree with vectors")
        self._ids = ids
        self._texts = texts
        # optional section/label column for hierarchical retrieval —
        # object dtype keeps arbitrary strings equality-groupable
        self._labels = (
            None if labels is None else np.asarray(labels, dtype=object)
        )
        # float32 → float64 is exact, matching the engine's FLOAT→DOUBLE
        # cast before arithmetic. COLUMN-major layout: the bit-exact
        # fold walks one dimension at a time across all rows, so each
        # pass must read a contiguous column — row-major storage would
        # drag the whole matrix through cache once per dimension
        # (64 × 512 MB at 1M×64 instead of 1 × 512 MB total).
        self._m = np.asfortranarray(vectors, dtype=np.float64)
        # |v| per row with the exact l2_norm fold: square each element
        # (one rounding), then add in array order (one rounding per step)
        n2 = np.zeros(self._m.shape[0], dtype=np.float64)
        for j in range(self._m.shape[1]):
            col = self._m[:, j]
            n2 += col * col
        self._norms = np.sqrt(n2)

    def __len__(self) -> int:
        return self._m.shape[0]

    @property
    def nbytes(self) -> int:
        return int(self._m.nbytes + self._norms.nbytes + self._ids.nbytes)

    @classmethod
    def from_frame(
        cls,
        chunks: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "chunk_id",
        text_col: str = "text",
        max_rows: int = 1_000_000,
        label_col: str | None = None,
    ) -> "RamServingIndex":
        """One bounded Spark job: ``limit(max_rows + 1)`` caps the
        materialization BEFORE it reaches the driver, so an index frame
        past the guard raises instead of OOMing. A deployment with more
        vectors than one replica's guard shards the frame (e.g. by IVF
        cell or hash range) and loads one shard per replica — the guard
        is the per-replica budget, not an engine limit.

        The transfer rides ``toArrow`` (Spark 4, which the package
        needs anyway): columnar batches land as numpy views instead of a
        million pickled Row objects — ~30× faster at the 1M-vector
        decade — and a NULL vector, NULL element or ragged length raises
        ``ValueError`` rather than loading as NaN."""
        sel = [id_col, text_col, vec_col] + (
            [label_col] if label_col else []
        )
        capped = chunks.select(*sel).limit(max_rows + 1)
        ids, texts, vectors, labels, n = cls._materialize(capped)
        if n > max_rows:
            raise ValueError(
                f"serving index exceeds max_rows={max_rows}; shard the "
                f"frame (one RamServingIndex per serving replica) or "
                f"raise the guard explicitly"
            )
        if n == 0:
            return cls(
                np.empty(0, dtype=np.int64),
                [],
                np.empty((0, 0), dtype=np.float64),
                [] if label_col else None,
            )
        return cls(ids, texts, vectors, labels)

    @staticmethod
    def _materialize(capped: DataFrame):
        has_labels = len(capped.columns) > 3
        tbl = capped.toArrow()
        n = tbl.num_rows
        if n == 0:
            return None, None, None, None, 0
        ids = tbl.column(0).to_numpy().astype(np.int64, copy=False)
        texts = tbl.column(1).to_pylist()
        labels = tbl.column(3).to_pylist() if has_labels else None
        emb = tbl.column(2).combine_chunks()
        if emb.null_count or emb.values.null_count:
            raise ValueError("null embeddings in serving index")
        offsets = emb.offsets.to_numpy()
        lengths = np.diff(offsets)
        if not (lengths == lengths[0]).all():
            raise ValueError("ragged embedding lengths in serving index")
        if offsets[0] != 0:
            # sliced ListArray: values don't start at the first row's
            # offset — fall back to the safe elementwise path
            vectors = np.array(emb.to_pylist(), dtype=np.float64)
        else:
            vectors = (
                emb.values.to_numpy()
                .astype(np.float64, copy=False)
                .reshape(n, int(lengths[0]))
            )
        return ids, texts, vectors, labels, n

    def topk_batch(
        self, query_vecs: list[list[float]], k: int = 4
    ) -> list[list[ServingHit]]:
        """Batched ``topk``: one result list per query, each
        BIT-identical to the corresponding single-query call (pinned by
        test). Deliberately a plain loop: the fold is memory-bound on
        the ACCUMULATOR, not the matrix — a vectorized B-wide
        outer-product fold was measured 1.5-2.4× SLOWER at 1M×64×20
        (writes n×B temporaries per dimension; the single-query 8 MB
        s/tmp buffers stay cache-resident instead), so per-query
        execution is the fast path as well as the trivially-exact one.
        The batch shape is validated up front so a bad batch fails
        before any work; a zero-norm query in the batch returns the
        all-NULL-score top-k, same as the single-query contract."""
        if not query_vecs:
            return []
        qm = np.asarray(query_vecs, dtype=np.float64)
        if qm.ndim != 2 or (
            len(self) > 0 and qm.shape[1] != self._m.shape[1]
        ):
            raise ValueError(
                f"query batch shape {qm.shape} incompatible with index "
                f"dim {self._m.shape[1] if len(self) else '(empty)'}"
            )
        return [self.topk(list(q), k=k) for q in query_vecs]

    def _rank(
        self, scores: np.ndarray, null_mask: np.ndarray, k: int
    ) -> list[ServingHit]:
        """DESC by score with Spark's full ordering — NaN greatest,
        NULL last — ties by id ascending. ``null_mask`` marks rows
        whose cosine is NULL (zero-norm operand under try_divide)."""
        order = self._order(scores, null_mask, k)
        return [
            ServingHit(
                int(self._ids[i]),
                self._texts[i],
                None if null_mask[i] else float(scores[i]),
            )
            for i in order
        ]

    def _order(
        self, scores: np.ndarray, null_mask: np.ndarray, k: int
    ) -> np.ndarray:
        """Row indices of the top-k under (score DESC with NaN greatest
        and NULL last, id ASC) — the shared comparator of topk and
        search_hierarchy."""
        n_rows = scores.shape[0]
        key = np.where(np.isnan(scores), np.inf, scores)
        # NULL rows sort after every non-null key; give them a constant
        # key so their mutual order falls through to id ascending.
        key = np.where(null_mask, -np.inf, key)
        # Spark's total order puts NaN strictly ABOVE +Infinity, so a
        # NaN score must beat even a genuine +inf (|v·q| overflow) —
        # the +inf mask alone would conflate them (code-review r8). An
        # explicit tier flag (0 = NaN, sorts first) carries the
        # distinction through every sort below.
        nan_tier = np.where(~null_mask & np.isnan(scores), 0, 1).astype(
            np.int8
        )
        nulls_as_hits = int(null_mask.sum()) and k > (
            n_rows - int(null_mask.sum())
        )
        if k >= n_rows or nulls_as_hits:
            # small or null-reaching cut: full lexsort, primary
            # null-flag (nulls last), then NaN tier, key desc, id asc
            order = np.lexsort((self._ids, -key, nan_tier, null_mask))[:k]
        else:
            live = np.nonzero(~null_mask)[0]
            lk = key[live]
            kth = np.partition(lk, lk.shape[0] - k)[lk.shape[0] - k]
            cand = live[key[live] >= kth]
            sub = np.lexsort(
                (self._ids[cand], -key[cand], nan_tier[cand])
            )[:k]
            order = cand[sub]
        return order

    def _score_query(
        self, query_vec: list[float]
    ) -> tuple[np.ndarray, np.ndarray]:
        """cosine(v, q) for every index row with cosine_to_literal's
        exact fold — (scores, null_mask). Per dimension: round the
        product, then round the running add. multiply(out=) reuses one
        temp buffer instead of allocating 8 MB per dimension at the
        1M-row scale; the rounding sequence is unchanged (same two
        ufunc applications per step)."""
        q = np.asarray(query_vec, dtype=np.float64)
        if q.shape[0] != self._m.shape[1]:
            raise ValueError(
                f"query dim {q.shape[0]} != index dim {self._m.shape[1]}"
            )
        n_rows = self._m.shape[0]
        s = np.zeros(n_rows, dtype=np.float64)
        tmp = np.empty(n_rows, dtype=np.float64)
        for j in range(q.shape[0]):
            np.multiply(self._m[:, j], q[j], out=tmp)
            s += tmp
        qn = const_l2_norm([float(x) for x in query_vec])
        # try_divide NULLs exactly when the DENOMINATOR value is 0.0 —
        # a zero-norm row or query, but also |v|·|q| UNDERFLOWING to 0
        # for two denormal-magnitude operands. Masking the computed
        # denominator (not the norms) reproduces the engine's rule bit
        # for bit; a zero-norm query therefore yields all-NULL scores =
        # the first k ids ascending (NULLS LAST, id ties).
        denom = self._norms * qn
        null_mask = denom == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = s / denom
        return scores, null_mask

    def topk(self, query_vec: list[float], k: int = 4) -> list[ServingHit]:
        """Top-k by cosine(v, q), descending, ties by id ascending —
        the exact ordering ``topk_similar`` compiles to."""
        if len(self) == 0 or k <= 0:
            return []
        scores, null_mask = self._score_query(query_vec)
        # ranking: NaN maps to +inf (Spark sorts NaN as GREATEST under
        # descending order), NULL (zero-norm row, try_divide) maps
        # last, then an O(n) threshold prefilter via np.partition —
        # every top-k row (key desc, id asc) has key >= the k-th
        # largest non-null key, ties included, so sorting just the
        # candidate set with the same comparator is bit-identical to
        # the full lexsort (150 ms → 7 ms at 1M rows).
        return self._rank(scores, null_mask, k)

    def search_hierarchy(
        self,
        query_vec: list[float],
        phase1_k: int = 3,
        per_label_k: int = 2,
    ) -> list[HierarchyHit]:
        """The E2′ hierarchical composite (K2 → A1 → J2 → K3), served
        driver-side: global top-``phase1_k`` picks the relevant labels,
        then every row of those labels re-ranks within its label and
        the top-``per_label_k`` per label return. BIT-identical rows to
        the ``e2_hierarchical_search`` DataFrame plan on the same index
        (pinned by tests/test_serving_ram.py: same comparator — score
        DESC with NaN greatest and NULL last, id ASC — at both phases,
        scores from the same exact fold). Output order: labels in
        first-appearance order of the phase-1 ranking, then rnk — a
        deterministic total order (the DataFrame plan's row order is
        whatever the shuffle delivers; comparisons sort first).

        The scan is one score pass + one boolean label mask — there is
        no per-label re-scan of the matrix, so serving cost stays
        O(n·d + n + hits·log hits) regardless of label count."""
        if self._labels is None:
            raise ValueError(
                "hierarchical search needs an index built with "
                "label_col (from_frame(..., label_col='label'))"
            )
        if len(self) == 0 or phase1_k <= 0 or per_label_k <= 0:
            return []
        scores, null_mask = self._score_query(query_vec)
        phase1 = self._order(scores, null_mask, phase1_k)
        # A1 distinct labels, kept in phase-1 rank order for the output.
        # NULL labels are excluded: the DataFrame composite's left-semi
        # join on `label` never matches NULL = NULL, so a NULL-label
        # row in the phase-1 top-k selects nothing and NULL-label rows
        # can never appear in the output (Python None == None would
        # otherwise match them here — code-review r8 finding).
        seen: dict[object, None] = {}
        for i in phase1:
            if self._labels[i] is not None:
                seen.setdefault(self._labels[i], None)
        key = np.where(np.isnan(scores), np.inf, scores)
        key = np.where(null_mask, -np.inf, key)
        # same NaN-above-+inf tier as _order (code-review r8)
        nan_tier = np.where(~null_mask & np.isnan(scores), 0, 1).astype(
            np.int8
        )
        out: list[HierarchyHit] = []
        for lab in seen:
            idx = np.nonzero(self._labels == lab)[0]
            sub = idx[
                np.lexsort(
                    (
                        self._ids[idx],
                        -key[idx],
                        nan_tier[idx],
                        null_mask[idx],
                    )
                )
            ][:per_label_k]
            out.extend(
                HierarchyHit(
                    lab,
                    int(self._ids[i]),
                    None if null_mask[i] else float(scores[i]),
                    r,
                )
                for r, i in enumerate(sub, 1)
            )
        return out


class HnswServingIndex(RamServingIndex):
    """RamServingIndex whose ``topk`` routes through a deterministic
    HNSW graph (operators/hnsw.py) instead of the exact scan.

    APPROXIMATE tier: hits are the graph's beam-search results (recall
    0.978 @2k, 0.885–0.92 @50k clustered shards at m=8 — docs/ROUND8.md
    §9), NOT bit-identical to the exact scan, and scores are the
    graph's normalized-double cosines. The measured guidance
    (docs/MIGRATION.md §3a): the exact scan is the default at EVERY
    shard size (0.35–2 ms/query up to 1M rows); pick HNSW only for
    latency-critical ≤100k clustered shards where ~0.9 recall is
    acceptable; use the IVF/int8 persisted index for bigger corpora.
    Build cost is the graph insert (~O(n·ef) sims); rows are sorted by
    id before insertion so two builds of the same frame agree
    byte-for-byte (graph_signature pins this).

    Tier boundaries on ONE object (ADVICE r9, made explicit):

    - ``topk`` (and ``topk_batch``, which delegates per query, so
      batch ≡ single-call) are graph-served. ``search_hierarchy``
      deliberately keeps the EXACT per-label scan: the HNSW graph is
      global, so a per-label beam search would have to over-fetch and
      filter with no recall bound — the exact tier is both correct and
      fast at the per-label shard sizes the hierarchy serves.
    - zero-norm rows: the exact tier surfaces them as score=None,
      ranked last (the NULL-score contract); the HNSW path instead
      normalizes them to score 0.0 — they compete like any other
      cosine and carry a float score. Pinned in
      tests/test_hnsw_serving_contracts.py.
    """

    def __init__(self, ids, texts, vectors, labels=None, m: int = 8,
                 ef_construction: int = 64) -> None:
        order = np.argsort(ids, kind="stable")
        ids = np.asarray(ids)[order]
        texts = [texts[i] for i in order]
        vectors = np.ascontiguousarray(np.asarray(vectors)[order])
        labels = None if labels is None else [labels[i] for i in order]
        super().__init__(ids, texts, vectors, labels)
        from .hnsw import HnswIndex

        self._text_by_id = dict(zip(self._ids.tolist(), self._texts))
        self._hnsw = HnswIndex(
            self._ids,
            np.ascontiguousarray(self._m, dtype=np.float64),
            m=m,
            ef_construction=ef_construction,
        )

    def topk(
        self, query_vec: list[float], k: int = 4, ef: int | None = None
    ) -> list[ServingHit]:
        return [
            ServingHit(int(i), self._text_by_id[int(i)], float(s))
            for i, s in self._hnsw.search(query_vec, k=k, ef=ef)
        ]

    @property
    def graph_signature(self) -> str:
        return self._hnsw.graph_signature()
