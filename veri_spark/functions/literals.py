"""Python constants as plan literals: one expression per constant.

``F.array(*[F.lit(x) for x in v])`` costs py4j round trips per element (274
for a 64-d vector); :func:`literal_array` / :func:`literal_map` render the
constant as ONE Spark SQL expression (3 calls) that folds to the same
``Literal``. Each element keeps ``F.lit``'s type (bool; int -> INT in the
int32 range, else BIGINT; float -> DOUBLE from its round-trip ``repr``; str;
list -> array), so the array / map type, ``containsNull`` included, is the
per-element form's. NaN and +-Inf are non-nullable arithmetic on finite
literals (``CAST('NaN' AS DOUBLE)`` is nullable). ``[]`` is array<double>.
"""

from __future__ import annotations

import math
from typing import Iterable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

# double overflow is no ANSI error, and Multiply (unlike exp) is not nullable
_INF = "(1e308D * 10.0D)"


def _sql(v) -> str:
    """One Python constant as Spark SQL text with ``F.lit``'s type."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return str(v)
        if not -(2**63) <= v < 2**63:
            raise ValueError(f"integer literal out of the bigint range: {v}")
        # -9223372036854775808L would parse as minus an overflowing literal
        return f"({v + 1}L - 1L)" if v == -(2**63) else f"{v}L"
    if isinstance(v, float):
        if math.isnan(v):
            return f"({_INF} * 0.0D)"
        if math.isinf(v):
            return _INF if v > 0 else f"(-{_INF})"
        return f"{float(v)!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        if not v:
            return "CAST(array() AS array<double>)"
        return "array(" + ", ".join(_sql(x) for x in v) + ")"
    raise TypeError(f"unsupported literal element {v!r} ({type(v).__name__})")


def literal_array(values: Iterable) -> Column:
    """``F.array(*[F.lit(x) for x in values])`` as ONE expression."""
    return F.expr(_sql(list(values)))


def literal_map(pairs: Mapping | Iterable[tuple]) -> Column:
    """``F.create_map(*[F.lit(x) for kv in pairs for x in kv])`` as ONE
    expression; ``pairs`` is a dict or (key, value) pairs."""
    items = pairs.items() if isinstance(pairs, Mapping) else pairs
    return F.expr("map(" + ", ".join(f"{_sql(k)}, {_sql(v)}" for k, v in items) + ")")
