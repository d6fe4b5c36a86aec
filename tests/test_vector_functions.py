"""Score-function semantics pinned to the reference (data/util.go:28-96),
including the asymmetric-length behavior (FIXTURES.md section 3):
truncate-to-min for euclidean/L1/dot, pad-to-max for cosine.
"""

import math

import pytest
from pyspark.sql import functions as F

from veri_spark.functions.vector import (
    SCORE_FUNCTIONS,
    angular_distance,
    cosine_similarity,
    dot_product,
    euclidean_distance,
    is_approximate,
    l1_distance,
    score_fn,
)


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_euclidean_hand_computed(spark):
    # ||(0.1,0.2,0.3)-(0.2,0.3,0.4)|| = sqrt(3*0.01) (reference fixture rows)
    v = _eval(spark, euclidean_distance([0.1, 0.2, 0.3], [0.2, 0.3, 0.4]))
    assert v == pytest.approx(math.sqrt(0.03), rel=1e-9)


def test_l1_hand_computed(spark):
    v = _eval(spark, l1_distance([0.1, 0.2, 0.3], [0.2, 0.3, 0.4]))
    assert v == pytest.approx(0.3, rel=1e-9)


def test_dot_hand_computed(spark):
    v = _eval(spark, dot_product([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]))
    assert v == pytest.approx(32.0)


def test_cosine_identical_is_one(spark):
    v = _eval(spark, cosine_similarity([0.5, 0.5], [0.5, 0.5]))
    assert v == pytest.approx(1.0)


def test_truncate_to_min_for_distances(spark):
    # reference truncates to the shorter vector (data/util.go:29-30):
    # distance((1,1), (1,1,99)) == 0
    assert _eval(spark, euclidean_distance([1.0, 1.0], [1.0, 1.0, 99.0])) == 0.0
    assert _eval(spark, l1_distance([1.0, 1.0], [1.0, 1.0, 99.0])) == 0.0
    assert _eval(spark, dot_product([1.0, 1.0], [1.0, 1.0, 99.0])) == pytest.approx(2.0)


def test_cosine_pads_to_max(spark):
    # reference iterates to the longer length with zeros (data/util.go:62-85):
    # cos((1,0), (1,0,1)) = 1/sqrt(2) — the extra dim DOES count
    v = _eval(spark, cosine_similarity([1.0, 0.0], [1.0, 0.0, 1.0]))
    assert v == pytest.approx(1 / math.sqrt(2), rel=1e-9)


def test_cosine_zero_norm_guard(spark):
    assert _eval(spark, cosine_similarity([0.0, 0.0], [1.0, 2.0])) == 0.0


def test_cosine_clamped(spark):
    v = _eval(spark, cosine_similarity([1.0, 1.0], [-1.0, -1.0]))
    # clamp guarantees the value never leaves [-1, 1]; the double math
    # itself lands at -0.9999999999999998
    assert -1.0 <= v <= 1.0
    assert v == pytest.approx(-1.0, rel=1e-9)


def test_angular_formula(spark):
    # orthogonal vectors: cos=0 -> angular = 1 - (pi/2)/pi = 0.5
    v = _eval(spark, angular_distance([1.0, 0.0], [0.0, 1.0]))
    assert v == pytest.approx(0.5, rel=1e-9)
    # identical: acos(cos)=~0 -> ~1.0 (cos lands at 1-2e-16, acos amplifies)
    v = _eval(spark, angular_distance([1.0, 2.0], [1.0, 2.0]))
    assert v == pytest.approx(1.0, abs=1e-6)


def test_registry_fallback_to_euclidean(spark):
    # unknown names silently fall back (data/search.go:122-127)
    builder, hib = score_fn("NoSuchFunction")
    assert builder is SCORE_FUNCTIONS["VectorDistance"][0]
    assert hib is False
    builder2, _ = score_fn(None)
    assert builder2 is builder


def test_annoy_aliases_and_flag():
    assert is_approximate("AnnoyCosineSimilarity")
    assert not is_approximate("CosineSimilarity")
    for name in ("AnnoyVectorDistance", "AnnoyAngularDistance"):
        assert name in SCORE_FUNCTIONS


def test_register_custom_pandas_score_fn(spark, tiny_datums):
    """SURVEY section 2.7: the registry extension point — a NumPy-level
    chebyshev distance registered by name runs through the normal search
    pipeline via an Arrow-batched pandas_udf."""
    import numpy as np

    from veri_spark.functions.vector import make_pandas_score_fn, register_score_fn
    from veri_spark.operators.search import SearchConfig, search

    register_score_fn(
        "ChebyshevDistance",
        make_pandas_score_fn(lambda v, q: float(np.max(np.abs(v - q)))),
        higher_is_better=False,
    )
    out = search(
        tiny_datums,
        [0.1, 0.2, 0.3],
        SearchConfig(score_func="ChebyshevDistance", limit=3),
        vector_col="feature",
        id_cols=["label"],
    ).collect()
    assert [r["label"] for r in out] == ["a", "b", "c"]
    assert abs(out[0]["score"]) < 1e-6           # exact self-match
    assert abs(out[1]["score"] - 0.1) < 1e-6     # max|delta| = 0.1
    assert abs(out[2]["score"] - 0.4) < 1e-6     # max|delta| = 0.4


def test_fixed_dim_kernels_match_general(spark):
    """The unrolled fixed-dim kernel must be bit-identical to the general
    aggregate kernel on uniform-dimension columns, and reproduce min-length
    truncation when a row is shorter than the stated dim."""
    import pyspark.sql.functions as F
    from veri_spark.functions.vector import euclidean_distance_fixed

    rows = [
        (1, [float(i) for i in range(8)], [float(i * 2) for i in range(8)]),
        (2, [1.5, -2.0, 3.25], [0.5, 0.25, -1.0]),  # shorter than dim=8
    ]
    df = spark.createDataFrame(rows, "id bigint, a array<double>, b array<double>")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", euclidean_distance_fixed(F.col("a"), F.col("b"), 8).alias("d")
        ).collect()
    }
    import math

    d1 = math.sqrt(sum((i - 2 * i) ** 2 for i in range(8)))
    assert abs(got[1] - d1) < 1e-12
    # row 2: both sides length 3 < dim 8 -> min-length semantics
    a2, b2 = rows[1][1], rows[1][2]
    d2 = math.sqrt(sum((x - y) ** 2 for x, y in zip(a2, b2)))
    assert abs(got[2] - d2) < 1e-12
