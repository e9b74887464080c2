"""The queries()/oracle_sql() catalog — SURVEY.md §2 operator inventory.

Each entry pairs a Spark DataFrame callable ``(spark, sf_dir) -> DataFrame``
with a DuckDB-runnable SQL oracle over the same parquet fixtures. Column
names/aliases match exactly on both sides (driver hashes values after
sorting columns by name). Entries without an oracle are rows-only checked.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness harness checks only the first ~50 entries of the
# __spark_entry__ queries() dict, in iteration order. driver_ordered() (used
# only by __spark_entry__.py) derives that order from the CORRECTNESS_r{N}.json
# records the driver writes at the repo root: latest-red names, then
# unrecorded names, then green names stalest certification first. The
# catalog's own queries()/oracle_sql() keep registration order.


def _recorded_verdicts(
    root: str | None = None,
) -> tuple[dict[str, bool], dict[str, int]]:
    """Latest driver verdict per name, scanned from CORRECTNESS_r{N}.json
    at the repo root. Returns (verdicts, rounds): verdicts[name] True =
    settled (value-green, or a recorded rows-only run for oracle-less
    entries — the strongest evidence those can get); False = the latest
    record is red (hash/schema/rows mismatch or a harness error), which
    must re-front the name in the window even if an older round had it
    green. rounds[name] = the round number of that latest record, which
    orders the green names stalest first in driver_ordered()."""
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))

    def round_no(p: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    latest: dict[str, bool] = {}
    rounds: dict[str, int] = {}
    for path in sorted(paths, key=round_no):
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                latest[name] = True
            elif rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None:
                latest[name] = True  # rows-only entry: ran + recorded
            else:
                latest[name] = False
            rounds[name] = round_no(path)
    return latest, rounds


def driver_ordered(mapping: dict) -> dict:
    """Driver-facing iteration order, used only by __spark_entry__.py.

    Names whose latest driver record is red come first, then names with no
    record, then green names oldest certification round first, so every
    entry rotates back into the ~50-entry window. Ties keep the mapping's
    (registration) order. The records are read on each call."""
    verdicts, rounds = _recorded_verdicts()

    def key(name: str) -> tuple[int, int]:
        if name not in verdicts:
            return (1, 0)
        if not verdicts[name]:
            return (0, 0)
        return (2, rounds[name])

    return {k: mapping[k] for k in sorted(mapping, key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return dict(_QUERIES)


def _stable_double_casts(sql: str) -> str:
    """Rewrite every ``CAST(expr AS DOUBLE)`` in a DuckDB oracle to
    ``CAST(CAST(expr AS VARCHAR) AS DOUBLE)`` — the r10 sf0.1 catch.

    DuckDB's DECIMAL->DOUBLE cast is NOT correctly rounded: it converts
    the scaled integer to double and multiplies by 10^-scale (two
    roundings), so once the scaled integer exceeds 2^53 the result can
    sit 1 ulp away from the correctly-rounded value Spark produces
    (java BigDecimal.doubleValue). Found live by the full-catalog
    sf0.1 parity on rel_q1_pricing: identical DECIMAL(34,8) sums
    2828375807.43413200 on both engines, Spark double ...132 (correct),
    DuckDB ...1316. The VARCHAR route is correctly rounded (DuckDB's
    string->double parser; verified exhaustively in
    tests/test_double_boundary.py), and it is value-exact for every
    other numeric operand too: doubles round-trip through their
    shortest rendering, integers parse exactly. Applied centrally here
    so all ~750 oracle cast sites get the stable statement without
    perturbing the catalog sources; the Spark side is untouched
    (its decimal->double is already correctly rounded).

    The scanner is quote-aware (parens inside SQL string literals do
    not unbalance it) and idempotent (an already-wrapped operand is
    left alone).
    """
    out = []
    i = 0
    n = len(sql)
    while True:
        j = sql.find("CAST(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        # find the balanced closing paren, skipping '...' literals
        depth = 0
        k = j + 4  # index of '('
        in_str = False
        while k < n:
            c = sql[k]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        content = sql[j + 5 : k]  # between CAST( and its )
        m = re.search(r"\s+AS\s+DOUBLE\s*$", content)
        if m:
            operand = _stable_double_casts(content[: m.start()])
            stripped = operand.strip()
            if stripped.startswith("CASE WHEN typeof("):
                out.append(f"CAST({operand} AS DOUBLE)")  # already routed
            else:
                # FLOAT must widen natively first (its VARCHAR form is
                # the FLOAT's short rendering, which re-parses to a
                # DIFFERENT double than exact widening); BOOLEAN has no
                # VARCHAR->DOUBLE parse at all. Every other numeric
                # type takes the VARCHAR route: exact for DOUBLE
                # (shortest-repr round-trip) and integers, correctly
                # rounded for DECIMAL (the class this fixes).
                out.append(
                    "CAST(CASE WHEN typeof("
                    + operand
                    + ") IN ('FLOAT', 'BOOLEAN') THEN CAST(CAST("
                    + operand
                    + " AS DOUBLE) AS VARCHAR) ELSE CAST("
                    + operand
                    + " AS VARCHAR) END AS DOUBLE)"
                )
        else:
            out.append("CAST(" + _stable_double_casts(content) + ")")
        i = k + 1


def oracle_sql() -> dict[str, str]:
    _load()
    return {n: _stable_double_casts(s) for n, s in _ORACLES.items()}


_LOADED = False


def _load():
    global _LOADED
    if _LOADED:
        return
    from . import queries_reference  # noqa: F401
    from . import queries_ext  # noqa: F401
    from . import queries_ingest  # noqa: F401
    from . import queries_curation  # noqa: F401
    from . import queries_round3  # noqa: F401
    from . import queries_round4  # noqa: F401
    from . import queries_round4b  # noqa: F401
    from . import queries_round4c  # noqa: F401
    from . import queries_round4d  # noqa: F401
    from . import queries_round4e  # noqa: F401
    from . import queries_round4f  # noqa: F401
    from . import queries_round4g  # noqa: F401
    from . import queries_round4h  # noqa: F401
    from . import queries_round4i  # noqa: F401
    from . import queries_round4j  # noqa: F401
    from . import queries_round4k  # noqa: F401
    from . import queries_round4l  # noqa: F401
    from . import queries_round4m  # noqa: F401
    from . import queries_round4n  # noqa: F401
    from . import queries_round4o  # noqa: F401
    from . import queries_round4p  # noqa: F401
    from . import queries_round4q  # noqa: F401
    from . import queries_round4r  # noqa: F401
    from . import queries_round4s  # noqa: F401
    from . import queries_round4t  # noqa: F401
    from . import queries_round4u  # noqa: F401
    from . import queries_round4v  # noqa: F401
    from . import queries_round4w  # noqa: F401
    from . import queries_round4x  # noqa: F401
    from . import queries_round4y  # noqa: F401
    from . import queries_round4z  # noqa: F401
    from . import queries_round4aa  # noqa: F401
    from . import queries_round4ab  # noqa: F401
    from . import queries_round4ac  # noqa: F401
    from . import queries_round4ad  # noqa: F401
    from . import queries_round4ae  # noqa: F401
    from . import queries_round4af  # noqa: F401
    from . import queries_round4ag  # noqa: F401
    from . import queries_round4ah  # noqa: F401
    from . import queries_round4ai  # noqa: F401
    from . import queries_round4aj  # noqa: F401
    from . import queries_round4ak  # noqa: F401
    from . import queries_round4al  # noqa: F401
    from . import queries_round4am  # noqa: F401
    from . import queries_round4an  # noqa: F401
    from . import queries_round4ao  # noqa: F401
    from . import queries_round4ap  # noqa: F401
    from . import queries_round4aq  # noqa: F401
    from . import queries_round4ar  # noqa: F401
    from . import queries_round4as  # noqa: F401
    from . import queries_round4at  # noqa: F401
    from . import queries_round4au  # noqa: F401
    from . import queries_round4av  # noqa: F401
    from . import queries_round4aw  # noqa: F401
    from . import queries_round4ax  # noqa: F401
    from . import queries_round4ay  # noqa: F401
    from . import queries_round4az  # noqa: F401
    from . import queries_round8  # noqa: F401
    from . import queries_round10  # noqa: F401

    _LOADED = True


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..session import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# events.parquet's ts column has shipped in two physical layouts across
# driver testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
# reader rejects — read as raw INT64 and divide to micros) and plain
# TIMESTAMP(MICROS) (read natively). Probe the parquet footer (metadata
# only, no data IO) and branch. The DuckDB oracle side is layout-invariant:
# CAST(ts AS TIMESTAMP) truncates ns→us in the nanos layout and is the
# identity in the micros layout.
_EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

DUCK_EVENTS = (
    "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)


def _events_ts_unit(path: str) -> str:
    """'ns' | 'us' | ... from the parquet footer; 'ns' when the field is
    raw INT64 (the nanos layout Spark can't type as a timestamp).
    Accepts either a single parquet file (the driver fixtures) or a
    Spark-written directory (derived corpora, e.g. the bench's 10x
    events) — in the directory case any one part file's footer decides
    (one writer, one schema)."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if parts:
            path = parts[0]
    t = pq.read_schema(path).field("ts").type
    return getattr(t, "unit", "ns")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..session import ensure_package_shipped

    ensure_package_shipped(spark)
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_unit(path) == "ns":
        raw = spark.read.schema(_EVENTS_SCHEMA).parquet(path)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # Native micros read arrives as TIMESTAMP_NTZ; the engine's contract
    # (and the pre-regeneration behavior of this function) is TIMESTAMP.
    # The session timezone is pinned to UTC (ensure_package_shipped), so
    # the cast is a pure re-tag: same epoch micros, same wall clock.
    return spark.read.parquet(path).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
