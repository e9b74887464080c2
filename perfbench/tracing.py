"""Spans around calls into the engine's layers, and the fold of Spark's
event log per layer.

The tracer wraps public functions of the engine's modules from the
outside (``Tracer.wrap``): each call runs under ``setJobGroup(<span
name>@<op>)``, its DataFrame result is materialised with an eager
``localCheckpoint`` so the layer's work happens inside its span, and the
span's start and end are kept in memory. After the session stops,
``fold_event_log`` sums the ``SparkListenerJobStart`` and
``SparkListenerTaskEnd`` events of the uncompressed, non-rolling event
log per job group, so every span gets its jobs, tasks, executor CPU and
GC time, shuffle bytes written and spilled bytes.

A layer is the first two dotted parts of a span name
(``operators.dedup.cc`` belongs to ``operators.dedup``).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from stats import median

FOLD_UNITS = {"jobs": "count", "tasks": "count", "cpu_ms": "ms",
              "gc_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
FOLD_FIELDS = tuple(FOLD_UNITS)
COUNT_GROUP = "perfbench.count"  # jobs the tracer runs to count rows


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float
    parent: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def layer_of(name: str) -> str:
    return ".".join(name.split(".")[:2])


class Rows:
    """A collected result standing in for a DataFrame whose only use
    downstream is ``.collect()``."""

    def __init__(self, rows: list) -> None:
        self.rows = rows

    def collect(self) -> list:
        return self.rows


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(dict)
        self.op = "none"
        self._stack: list[str] = []
        self.patched: list[tuple] = []

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{name}@{self.op}", name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._group(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.spans.append(Span(name, self.op, start, end, parent))

    @contextmanager
    def counting(self):
        """Run row counts outside every layer's job group."""
        self._group(COUNT_GROUP)
        try:
            yield
        finally:
            self._group(self._stack[-1] if self._stack else None)

    def count(self, metric: str, value: float) -> None:
        self.counts[metric][self.op] = self.counts[metric].get(self.op, 0) + value

    def wrap(self, module, attr: str, name: str, after=None,
             collect: bool = False) -> None:
        """Replace ``module.attr`` with a traced version. A DataFrame
        result is materialised inside the span (collected, when
        ``collect``, and handed on as ``Rows``); ``after(result, *args,
        **kwargs)`` then runs outside the span to record counts."""
        from pyspark.sql import DataFrame

        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = original(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = (Rows(out.collect()) if collect
                           else out.localCheckpoint(eager=True))
            if after is not None:
                with self.counting():
                    after(out, *args, **kwargs)
            return out

        setattr(module, attr, traced)
        self.patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self.patched):
            setattr(module, attr, original)
        self.patched.clear()

    def per_op(self, name: str, self_time: bool = False) -> float:
        """Median over ops of the summed span time (ms) of ``name``;
        with ``self_time`` each span's direct children are subtracted."""
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name != name:
                continue
            ms = s.ms
            if self_time:
                ms -= sum(c.ms for c in self.spans
                          if c.parent == name and c.op == s.op
                          and s.start <= c.start and c.end <= s.end)
            totals[s.op] += ms
        return median(list(totals.values())) if totals else 0.0

    def count_per_op(self, metric: str) -> float:
        vals = list(self.counts.get(metric, {}).values())
        return median(vals) if vals else 0.0


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum job and task events per job group id."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FOLD_FIELDS, 0))
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                m = ev.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return dict(out)


def fold_per_layer(folded: dict[str, dict[str, float]]
                   ) -> dict[str, dict[str, float]]:
    """{layer: {field: median over ops of the per-op sum}} from the
    ``<span name>@<op>`` groups of ``fold_event_log``."""
    per: dict[str, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: dict.fromkeys(FOLD_FIELDS, 0)))
    for group, vals in folded.items():
        name, _, op = group.rpartition("@")
        if not name or name == COUNT_GROUP:
            continue
        acc = per[layer_of(name)][op]
        for f in FOLD_FIELDS:
            acc[f] += vals[f]
    return {
        layer: {f: median([v[f] for v in ops.values()]) for f in FOLD_FIELDS}
        for layer, ops in per.items()
    }


def group_per_op(folded: dict[str, dict[str, float]], name: str,
                 field: str) -> float:
    """Median over ops of one field of one span name's groups."""
    vals = [v[field] for g, v in folded.items()
            if g.rpartition("@")[0] == name]
    return median(vals) if vals else 0.0
