"""E2 chat orchestration — the reference's main Q&A loop
(``micro-infobot/app.py:214-283``) as an engine composite.

retrieve (K1) → context fold (T6) → prompt assembly (T7, history replay
included) → LLM call → persist turn (S6) + cost row (A5). The LLM step is
orchestration, not engine (SURVEY §3 E2): it is injected as a callable;
the default is a deterministic extractive stub (first sentences of the
context) so the whole loop is hermetic and testable.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.embedding import embed_one
from ..operators.serving import RamServingIndex
from ..operators.similarity import topk_similar
from ..sources.sinks import append_chat_history, replay_tail

SYSTEM_PROMPT = (
    "Eres InfoBot, asistente documental de la empresa. Responde usando "
    "únicamente el contexto proporcionado."  # app.py:23-40 role
)

# app.py:276 cost model
PROMPT_TOKEN_USD = 0.00001
COMPLETION_TOKEN_USD = 0.00003

# Default replay cap. The reference replays the ENTIRE per-user history
# every turn (ConversationBufferMemory, app.py:228-242) — at 100× chat
# volume that is an unbounded driver-side collect and an OOM. The engine
# default is therefore a bounded window (cap applied BEFORE collect, so
# driver materialization is O(cap) regardless of stored depth); full
# replay stays available as the explicit parity mode via
# ``last_n_turns=None``.
DEFAULT_LAST_N_TURNS = 50


def extractive_stub_llm(messages: list[dict]) -> str:
    """Deterministic 'LLM': answer = first two sentences of the context
    block (the trailing system message)."""
    context = ""
    for m in reversed(messages):
        if m["role"] == "system" and m is not messages[0]:
            context = m["content"]
            break
    sentences = [s.strip() for s in context.split(".") if s.strip()]
    if not sentences:
        return "No hay información relevante."  # app.py:224 fallback
    return ". ".join(sentences[:2]) + "."


@dataclass
class ChatTurn:
    answer: str
    context: str
    messages: list[dict]
    prompt_tokens: int
    completion_tokens: int
    cost_usd: float


def answer_question(
    spark: SparkSession,
    chunks: DataFrame | RamServingIndex,
    user: str,
    question: str,
    history_path: str | None = None,
    k: int = 4,
    dim: int = 64,
    llm: Callable[[list[dict]], str] = extractive_stub_llm,
    last_n_turns: int | None = DEFAULT_LAST_N_TURNS,
) -> ChatTurn:
    """One full E2 turn against a built chunks index: the stateless
    tier, a one-turn ``ChatSession``. It rebuilds the prompt from the
    store every turn (the replay tail read before the turn, the
    ``turn_id`` counter at append time), which a multi-process
    deployment needs.

    ``last_n_turns`` defaults to ``DEFAULT_LAST_N_TURNS`` (50): only the
    n most recent turns are replayed, capped before collect
    (``sinks.replay_tail``), so the driver holds O(n) rows no matter how
    long the stored history gets. ``last_n_turns=None`` is the explicit
    PARITY mode: it replays the ENTIRE per-user history each turn — the
    reference's ConversationBufferMemory behavior (app.py:228-242) — and
    grows without bound, so it is opt-in rather than the default.
    """
    return ChatSession(
        spark, chunks, user, history_path, k, dim, llm, last_n_turns
    ).ask(question)


class ChatSession:
    """Stateful serving session — the reference's actual runtime shape,
    and the one implementation of a chat turn (``answer_question`` is a
    one-turn session).

    In the reference the conversation memory is RAM-resident
    (``st.session_state.memory``, a ConversationBufferMemory,
    app.py:43-44 / 228-242) and Mongo is WRITE-only per turn
    (``guardar_chat_en_mongo``, app.py:258): the store is an audit log,
    not the serving path. A session reads the store twice, in the
    stateless tier's order: the replay tail at construction
    (``sinks.replay_tail``) and the persisted ``turn_id`` counter at its
    first append (``append_chat_history`` derives it and returns the
    next one). From then on both live in RAM: the replay buffer is
    appended in-process and the counter advanced locally (single-writer
    append, the same assumption ``append_chat_history`` documents). A
    later turn costs exactly ONE Spark job — the retrieval collect; the
    append is a driver-side Arrow write, the engine analogue of the
    reference's client-side insert_one — and yields byte-identical
    prompts, answers, and persisted rows to the stateless loop (pinned
    by tests/test_chat_session.py and the sink equivalence battery).

    Passing a ``RamServingIndex`` as ``chunks`` drops the remaining
    job: retrieval answers driver-side from the bounded RAM index
    (bit-identical hits — operators/serving.py), so a turn runs ZERO
    Spark jobs, the reference's actual per-turn profile (client-side
    Chroma query + client-side insert_one). The distributed DataFrame
    tier remains the default and the multi-process/unbounded path.
    """

    def __init__(
        self,
        spark: SparkSession,
        chunks: DataFrame | RamServingIndex,
        user: str,
        history_path: str | None = None,
        k: int = 4,
        dim: int = 64,
        llm: Callable[[list[dict]], str] = extractive_stub_llm,
        last_n_turns: int | None = DEFAULT_LAST_N_TURNS,
    ) -> None:
        self._spark = spark
        self._chunks = chunks
        self._user = user
        self._history_path = history_path
        self._k = k
        self._dim = dim
        self._llm = llm
        self._last_n_turns = last_n_turns
        # resume the replay buffer from whatever a previous session or
        # the stateless tier left behind
        self._buffer: list[tuple[str, str]] = (
            replay_tail(spark, history_path, user, last_n_turns)
            if history_path
            else []
        )
        self._next_id: int | None = None  # first append reads the store

    def ask(self, question: str) -> ChatTurn:
        """retrieve (K1) → context fold (T6) → prompt assembly over the
        replay buffer (T7) → LLM → persist (S6)."""
        qvec = embed_one(question, dim=self._dim)
        # K1 retrieval, two physical tiers with bit-identical results
        # (operators/serving.py, pinned by tests/test_serving_ram.py):
        # a DataFrame index runs the distributed TakeOrderedAndProject
        # plan; a RamServingIndex answers driver-side with zero Spark
        # jobs — the reference's client-side Chroma query (app.py:223).
        if isinstance(self._chunks, RamServingIndex):
            hits = self._chunks.topk(qvec, k=self._k)
        else:
            hits = topk_similar(self._chunks, qvec, k=self._k).collect()
        context = "\n".join(r.text for r in hits)  # T6 app.py:224

        messages = [{"role": "system", "content": SYSTEM_PROMPT}]
        for msg, resp in self._buffer:
            messages.append({"role": "user", "content": msg})
            messages.append({"role": "assistant", "content": resp})
        messages.append({"role": "user", "content": question})
        if context:
            messages.append({"role": "system", "content": context})

        answer = self._llm(messages)

        # token accounting: whitespace-token estimate (tiktoken stand-in)
        prompt_tokens = sum(len(m["content"].split()) for m in messages)
        completion_tokens = len(answer.split())
        cost = (
            prompt_tokens * PROMPT_TOKEN_USD
            + completion_tokens * COMPLETION_TOKEN_USD
        )

        if self._history_path:  # S6 persist (app.py:258)
            self._next_id = append_chat_history(
                self._spark,
                [(self._user, question, answer, None, prompt_tokens,
                  completion_tokens)],
                self._history_path,
                base_turn_id=self._next_id,
            )
        self._buffer.append((question, answer))
        if self._last_n_turns is not None:
            # keep the RAM buffer at the same bounded window the
            # stateless tier replays, so a turn sees identical history
            # whichever mode served the preceding turns
            self._buffer = self._buffer[-self._last_n_turns :]
        return ChatTurn(
            answer=answer,
            context=context,
            messages=messages,
            prompt_tokens=prompt_tokens,
            completion_tokens=completion_tokens,
            cost_usd=cost,
        )
