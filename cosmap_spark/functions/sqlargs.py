"""Checked arguments for plans built as SQL text.

Operators that build their plan as one SQL string (``selectExpr``,
``F.expr``, string join conditions) interpolate column names and
numbers into that text.  Each helper here refuses a bad value BY NAME
before it reaches the parser, and writes a good one so that it parses
to the literal type the ``F.lit`` form gave:

* a plain int is written as itself, so Spark types it INT or BIGINT by
  range exactly as ``F.lit`` does (hashes of seeds depend on it);
* a double is written as ``repr(x) + "D"``: a bare ``2.5`` parses as
  DECIMAL(2,1), and decimal-with-decimal arithmetic does not round
  like double arithmetic;
* a column name is backtick-quoted with embedded backticks doubled;
* a string is written as its UTF-8 bytes cast to STRING, which reads
  the same under either string-escape setting of the parser.
"""

from __future__ import annotations

import math
from numbers import Real


def quote(name: str, what: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), for column names put into SQL text."""
    if not isinstance(name, str) or not name:
        raise ValueError(f"{what} must be a non-empty column name, got {name!r}")
    return "`" + name.replace("`", "``") + "`"


def require_int(name: str, value, lo: int = 1, hi: int | None = None) -> int:
    """Refuse, by name, a parameter that is not an int in [lo, hi];
    bools are refused too (``True`` would run as 1)."""
    if (
        isinstance(value, bool) or not isinstance(value, int) or value < lo
        or (hi is not None and value > hi)
    ):
        bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
        raise ValueError(f"{name} must be an int {bound}, got {value!r}")
    return value


def require_seed(name: str, value) -> int:
    """A hash seed: any int a BIGINT literal can hold."""
    return require_int(name, value, -(1 << 63), (1 << 63) - 1)


def _as_float(value) -> float:
    """``value`` as a float; NaN for a bool or a non-number, inf for an
    int too large for a double."""
    if isinstance(value, bool) or not isinstance(value, Real):
        return math.nan
    try:
        return float(value)
    except OverflowError:
        return math.inf


def require_number(name: str, value, *, positive: bool = False) -> float:
    """Refuse, by name, a value that is not a finite real number (or
    not > 0 when ``positive``); bools are refused.  Returns it as a
    float."""
    x = _as_float(value)
    if not math.isfinite(x) or (positive and not x > 0):
        raise ValueError(
            f"{name} must be a finite number{' > 0' if positive else ''}, got {value!r}"
        )
    return x


def double_sql(name: str, value, *, positive: bool = False) -> str:
    """:func:`require_number`'s value as a DOUBLE SQL literal; a
    negative one is parenthesised so that ``x -{lit}`` cannot read as
    a ``--`` comment."""
    text = repr(require_number(name, value, positive=positive)) + "D"
    return f"({text})" if text.startswith("-") else text


def require_fraction(name: str, value) -> str:
    """Refuse, by name, a fraction that is not a finite number in [0, 1]
    (a NaN or out-of-range Jaccard threshold silently returns no pairs,
    a split fraction silently puts every document on one side); returns
    it as a DOUBLE SQL literal."""
    if not 0 <= _as_float(value) <= 1:
        raise ValueError(f"{name} must be a finite number in [0, 1], got {value!r}")
    return double_sql(name, value)


def literal_sql(name: str, value) -> str:
    """A ``None``, bool, int, float or str as the SQL literal ``F.lit``
    gives for it; any other type is refused by name."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(require_seed(name, value))
    if isinstance(value, float):
        return double_sql(name, value)
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    raise ValueError(f"{name} must be None, a bool, int, float or str, got {value!r}")
