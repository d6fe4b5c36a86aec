"""Vector score functions as native Column expressions.

Reproduces the reference's five score functions and their exact semantics
(reference: data/util.go:28-96; registry data/search.go:111-127):

- ``VectorDistance`` (euclidean) and ``QuickVectorDistance`` (L1) truncate
  both vectors to the *shorter* length (data/util.go:29-30, 40-41).
- ``VectorMultiplication`` (dot product) also truncates to min length
  (data/util.go:46-53).
- ``CosineSimilarity`` iterates to the *longer* length (missing elements are
  zero) and clamps the result to [-1, 1] (data/util.go:61-96).
- ``AngularDistance`` = ``1 - acos(cosine)/pi`` (data/util.go:56-58) —
  higher is better.
- Unknown names silently fall back to euclidean (data/search.go:122-127), and
  ``Annoy``-prefixed aliases select the ANN path in the reference
  (data/search.go:136-141) with the same formulas; here they resolve to the
  same expressions and the approximate path is chosen separately.

Everything is a Column expression over ``ARRAY<FLOAT/DOUBLE>`` built from
``zip_with`` / ``aggregate`` / ``sqrt`` / ``acos`` — no Python UDF, so the
score evaluates JVM-side inside the generated plan, and a Python query
vector is ONE constant-folded ``literals.literal_array``. Arithmetic is
performed in double precision (reference uses float32; doubles are a strict
accuracy improvement and match the DuckDB oracle bit-for-bit at the rounding
grain we assert).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column
from pyspark.sql import functions as F

from veri_spark.functions.literals import literal_array


def _as_double_array(v) -> Column:
    """Coerce a column name / Column / python list to ARRAY<DOUBLE>."""
    if isinstance(v, Column):
        return v.cast("array<double>")
    if isinstance(v, str):
        return F.col(v).cast("array<double>")
    # literal python vector (the query side): one array<double> literal
    return literal_array([float(x) for x in v])


def _truncate_pair(a: Column, b: Column) -> tuple[Column, Column]:
    """Slice both arrays to the common (min) length.

    zip_with pads the shorter array with nulls; the reference instead
    truncates (data/util.go:29-30), so slice explicitly.
    """
    n = F.least(F.size(a), F.size(b))
    return F.slice(a, 1, n), F.slice(b, 1, n)


def _sum_array(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


# Unrolling bound: 128 scalar terms keeps the generated Java method far
# under janino's 64KB limit (the PQ ADC work found k>=16 nested CASEs blow
# it; flat add-chains of this size do not).
_UNROLL_MAX = 128


def _raw_col(v) -> Column:
    return F.col(v) if isinstance(v, str) else v


def _elem(a: Column, i: int) -> Column:
    # scalar per-element cast (float->double widening is exact), NOT a
    # whole-array cast: an array cast inside the expression would reallocate
    # the full array once per term under codegen. try_element_at (NULL, not
    # ANSI error, when out of bounds): terms must stay safe to evaluate on
    # rows shorter than the unroll length.
    return F.try_element_at(a, F.lit(i + 1)).cast("double")


def euclidean_distance(a, b, unroll: bool = False) -> Column:
    """VectorDistance: sqrt(sum((a_i-b_i)^2)) over min-length prefix.

    With ``unroll`` and a literal python vector on the second side
    (centroid), emits an UNROLLED scalar add-chain that whole-stage codegen
    compiles (~6x faster than the interpreted higher-order-function kernel
    measured on 500k pairs at sf0.1). The chain is left-associated like
    ``aggregate(zip_with(...))`` so sums are bit-identical, and the per-term
    coalesce reproduces the reference's min-length truncation
    (data/util.go:29-30): a row shorter than the literal contributes 0 for
    the missing tail. Callers embedding MANY literal kernels in one
    projection (multi-centroid assignment) keep ``unroll=False`` past ~128
    total terms — janino's method limit otherwise forces the whole
    projection interpreted. Two literals, a column-vs-column call or an
    oversized literal always take the general kernel.

    PARITY CAVEAT: the per-term coalesce cannot distinguish an in-bounds
    NULL element from an out-of-bounds miss, so a NULL element contributes
    0 unrolled while the general kernel propagates it to a NULL score.
    Arrays must be null-element-free for unroll parity (true for every
    parquet embedding column in this engine)."""
    if not (
        unroll
        and isinstance(a, (Column, str))
        and isinstance(b, (list, tuple))
        and 0 < len(b) <= _UNROLL_MAX
    ):
        return _euclidean_general(a, b)
    ar = _raw_col(a)
    total = F.lit(0.0)
    for i, x in enumerate(b):
        d = _elem(ar, i) - F.lit(float(x))
        total = total + F.coalesce(d * d, F.lit(0.0))
    return F.sqrt(total)


def _euclidean_general(a, b) -> Column:
    a, b = _truncate_pair(_as_double_array(a), _as_double_array(b))
    return F.sqrt(_sum_array(F.zip_with(a, b, lambda x, y: (x - y) * (x - y))))


def euclidean_distance_fixed(a, b, dim: int) -> Column:
    """Column-column euclidean distance with a statically-known dimension:
    an unrolled scalar add-chain that whole-stage codegen compiles, for the
    pair-heavy inner loops (kNN join, blocked near-dup) where BOTH sides
    are columns and the interpreted zip_with/aggregate kernel dominates
    runtime (~6x measured on 500k pairs). Rows SHORTER than ``dim`` are
    handled exactly (per-term coalesce = min-length truncation, same fold
    order as the general kernel, bit-identical); rows LONGER than ``dim``
    are silently truncated at ``dim`` — there is no runtime length
    fallback, so callers must pass dim >= the corpus max dimension
    (knn_join derives it from max(size(vector_col)))."""
    if not (0 < dim <= _UNROLL_MAX):
        return _euclidean_general(a, b)
    ar, br = _raw_col(a), _raw_col(b)
    total = F.lit(0.0)
    for i in range(dim):
        d = _elem(ar, i) - _elem(br, i)
        # coalesce = min-length truncation (missing tail contributes 0);
        # the caller must pass dim >= the corpus dimension, or longer rows
        # would be silently truncated at dim
        total = total + F.coalesce(d * d, F.lit(0.0))
    return F.sqrt(total)


def l1_distance(a, b) -> Column:
    """QuickVectorDistance: sum(|a_i-b_i|) over min-length prefix."""
    a, b = _truncate_pair(_as_double_array(a), _as_double_array(b))
    return _sum_array(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def dot_product(a, b) -> Column:
    """VectorMultiplication: sum(a_i*b_i) over min-length prefix."""
    a, b = _truncate_pair(_as_double_array(a), _as_double_array(b))
    return _sum_array(F.zip_with(a, b, lambda x, y: x * y))


def cosine_similarity(a, b) -> Column:
    """CosineSimilarity over the max-length union (missing = 0), clamped.

    Zero-norm inputs score 0 (division guard; the reference's float math
    yields NaN there, which no caller relies on).
    """
    a = _as_double_array(a)
    b = _as_double_array(b)
    # zip_with pads with null to the longer length; coalesce realizes the
    # "missing elements are zero" semantics of data/util.go:62-85.
    prods = F.zip_with(
        a, b, lambda x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0))
    )
    dot = _sum_array(prods)
    na = F.sqrt(_sum_array(F.zip_with(a, a, lambda x, y: F.coalesce(x * y, F.lit(0.0)))))
    nb = F.sqrt(_sum_array(F.zip_with(b, b, lambda x, y: F.coalesce(x * y, F.lit(0.0)))))
    cos = F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot / (na * nb))
    return F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0))


def angular_distance(a, b) -> Column:
    """AngularDistance = 1 - acos(cosine_similarity)/pi; in [0,1], higher=closer."""
    return F.lit(1.0) - F.acos(cosine_similarity(a, b)) / F.lit(3.141592653589793)


# name -> (builder, higher_is_better default)
# Aliases mirror data/search.go:111-121 (incl. the Annoy* ANN-path aliases).
SCORE_FUNCTIONS: dict[str, tuple[Callable[..., Column], bool]] = {
    "VectorDistance": (euclidean_distance, False),
    "QuickVectorDistance": (l1_distance, False),
    "CosineSimilarity": (cosine_similarity, True),
    "AngularDistance": (angular_distance, True),
    "VectorMultiplication": (dot_product, True),
    "AnnoyVectorDistance": (euclidean_distance, False),
    "AnnoyCosineSimilarity": (cosine_similarity, True),
    "AnnoyAngularDistance": (angular_distance, True),
    "AnnoyVectorMultiplication": (dot_product, True),
    # friendlier aliases for the extended API
    "euclidean": (euclidean_distance, False),
    "l1": (l1_distance, False),
    "cosine": (cosine_similarity, True),
    "angular": (angular_distance, True),
    "dot": (dot_product, True),
}


def score_fn(name: str | None) -> tuple[Callable[..., Column], bool]:
    """Resolve a score function by name.

    Unknown/empty names fall back to euclidean distance, mirroring
    data/search.go:122-127's silent default.
    """
    return SCORE_FUNCTIONS.get(name or "", SCORE_FUNCTIONS["VectorDistance"])


def is_approximate(name: str | None) -> bool:
    """Annoy-prefixed names request the ANN path (data/search.go:136-141)."""
    return bool(name) and name.startswith("Annoy")


def register_score_fn(
    name: str,
    builder: Callable[..., Column],
    higher_is_better: bool,
) -> None:
    """User extension point (SURVEY.md section 2.7): add a named score
    function to the registry consulted per query.

    The reference's only extensibility is this name->function map
    (data/search.go:111-127); here a builder takes two Column arguments
    (corpus vector, query literal) and returns a score Column. Prefer native
    expressions (whole-stage codegen); for logic they cannot express, build
    over an Arrow-vectorized ``pandas_udf`` — see make_pandas_score_fn.
    """
    SCORE_FUNCTIONS[name] = (builder, higher_is_better)


def make_pandas_score_fn(fn: Callable) -> Callable[..., Column]:
    """Wrap a NumPy-level function ``fn(v: np.ndarray, q: np.ndarray) ->
    float`` as an Arrow-batched score builder usable with register_score_fn.

    Both the corpus vector and the query columns go through one vectorized
    ``pandas_udf`` (Arrow record batches, never row-at-a-time Python). The
    query side is a literal, so Tungsten materializes it once per batch
    column; the dominant cost stays the corpus-vector transfer, which any
    Python-scored path must pay.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def scorer(vecs: pd.Series, qs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=np.float64)
        for i, (v, q) in enumerate(zip(vecs, qs)):
            out[i] = fn(np.asarray(v, dtype=np.float64), np.asarray(q, dtype=np.float64))
        return pd.Series(out)

    def builder(vec_col: Column, query) -> Column:
        # the query arrives as a Python sequence, as for the native kernels
        return scorer(vec_col, _as_double_array(query))

    return builder

