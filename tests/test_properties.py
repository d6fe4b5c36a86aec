"""Property-based tests (hypothesis) for the score-function expressions —
the reference has no property testing (SURVEY.md section 5); these pin the
metric laws the exact semantics must satisfy for ANY input, not just the
golden fixtures: self-distance zero, symmetry, clamped ranges, and agreement
with a NumPy oracle under the truncate/pad length rules."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from veri_spark.functions.vector import (
    angular_distance,
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l1_distance,
)

import pyspark.sql.functions as F

finite = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False,
    width=32,
)
vec = st.lists(finite, min_size=1, max_size=8)


def _eval(spark, expr_builder, a, b):
    df = spark.createDataFrame(
        [([float(x) for x in a], [float(y) for y in b])],
        "a array<float>, b array<float>",
    )
    return df.select(expr_builder(F.col("a"), F.col("b")).alias("v")).first()["v"]


@pytest.mark.parametrize("builder", [euclidean_distance, l1_distance])
@settings(max_examples=8, deadline=None)
@given(a=vec, b=vec)
def test_distance_symmetry_and_truncation(spark, builder, a, b):
    n = min(len(a), len(b))
    av = np.array(a[:n], dtype=np.float64)
    bv = np.array(b[:n], dtype=np.float64)
    expected = (
        float(np.sqrt(np.sum((av - bv) ** 2)))
        if builder is euclidean_distance
        else float(np.sum(np.abs(av - bv)))
    )
    got_ab = _eval(spark, builder, a, b)
    got_ba = _eval(spark, builder, b, a)
    assert math.isclose(got_ab, expected, rel_tol=1e-5, abs_tol=1e-5)
    assert math.isclose(got_ab, got_ba, rel_tol=1e-9, abs_tol=1e-9)  # symmetry


@settings(max_examples=8, deadline=None)
@given(a=vec)
def test_self_distance_zero_and_cosine_one(spark, a):
    assert _eval(spark, euclidean_distance, a, a) == 0.0
    assert _eval(spark, l1_distance, a, a) == 0.0
    if any(x != 0.0 for x in a):
        cos = _eval(spark, cosine_similarity, a, a)
        assert math.isclose(cos, 1.0, rel_tol=1e-6, abs_tol=1e-6)


@settings(max_examples=8, deadline=None)
@given(a=vec, b=vec)
def test_cosine_clamped_and_angular_range(spark, a, b):
    cos = _eval(spark, cosine_similarity, a, b)
    assert cos is None or -1.0 <= cos <= 1.0
    ang = _eval(spark, angular_distance, a, b)
    assert ang is None or 0.0 <= ang <= 1.0


@settings(max_examples=8, deadline=None)
@given(a=vec, b=vec)
def test_dot_truncates_to_min_length(spark, a, b):
    n = min(len(a), len(b))
    av = np.array(a[:n], dtype=np.float64)
    bv = np.array(b[:n], dtype=np.float64)
    got = _eval(spark, dot_product, a, b)
    assert math.isclose(got, float(av @ bv), rel_tol=1e-5, abs_tol=1e-4)


# -- round-4 helper properties ------------------------------------------------

pair_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key
        st.integers(min_value=0, max_value=1000),  # ts offset (seconds)
        st.integers(min_value=-50, max_value=50),  # payload
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(lrows=pair_rows, rrows=pair_rows)
def test_asof_forward_matches_naive(spark, lrows, rrows):
    """forward as-of == naive per-row 'earliest right with ts >= left ts on
    the same key' on arbitrary small frames (including duplicate
    timestamps and absent keys)."""
    from datetime import datetime, timedelta

    from veri_spark.operators.asof import asof_join

    t0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, str(k), t0 + timedelta(seconds=s)) for i, (k, s, _) in enumerate(lrows)],
        "id bigint, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(str(k), t0 + timedelta(seconds=s), float(v)) for (k, s, v) in rrows],
        "k string, ts timestamp, v double",
    )
    got = {
        r["id"]: r["asof_ts"]
        for r in asof_join(
            left, right, on=["k"], payload_cols=["v"], direction="forward"
        ).collect()
    }
    for i, (k, s, _) in enumerate(lrows):
        lt = t0 + timedelta(seconds=s)
        later = [
            t0 + timedelta(seconds=rs)
            for (rk, rs, _) in rrows
            if rk == k and rs >= s
        ]
        assert got[i] == (min(later) if later else None), (i, k, s)


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "hot"]), st.integers(-100, 100)),
        min_size=1,
        max_size=30,
    )
)
def test_salted_two_stage_equals_plain(spark, rows):
    """salted_two_stage(count+sum) == plain groupBy for any data/skew."""
    from veri_spark.operators.skew import salted_two_stage

    df = spark.createDataFrame(
        [(k, i, float(v)) for i, (k, v) in enumerate(rows)],
        "k string, id bigint, v double",
    )
    salted = salted_two_stage(
        df,
        group_cols=["k"],
        partial_aggs=[F.count(F.lit(1)).alias("pc"), F.sum("v").alias("ps")],
        final_aggs=[
            F.sum("pc").cast("bigint").alias("n"),
            F.round(F.sum("ps"), 6).alias("s"),
        ],
        entropy_cols=["id"],
        buckets=4,
    )
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("v"), 6).alias("s"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


@settings(max_examples=4, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=5, max_size=30), min_size=2, max_size=8
    )
)
def test_containment_bounds_jaccard(spark, texts):
    """For every candidate pair: 0 <= jaccard <= containment <= 1 (the
    containment denominator min(|A|,|B|) never exceeds the union)."""
    from veri_spark.operators.dedup import doc_shingles, jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    sh = doc_shingles(df, with_size=True)
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(sh).collect()
    }
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in jaccard_pairs(sh, measure="containment").collect()
    }
    assert set(jac) == set(cont)
    for pair, j in jac.items():
        assert 0.0 <= j <= cont[pair] <= 1.0, (pair, j, cont[pair])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=3), min_size=1, max_size=80
    )
)
def test_chunking_covers_every_token(spark, toks):
    """32/24 sliding-window chunking (the doc_chunk_stats scheme): chunk
    starts at 0,24,48,... must cover every token index, the tail chunk may
    be short, and stride-aligned reassembly reproduces the token stream."""
    text = " ".join(toks)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    c = df.selectExpr(
        "explode(transform(sequence(0, CAST(floor((size(split(text, ' '))-1)/24) AS INT)),"
        " i -> struct(i AS idx, slice(split(text, ' '), i*24 + 1, 32) AS chunk))) AS u"
    ).select("u.idx", "u.chunk")
    rows = sorted((r["idx"], r["chunk"]) for r in c.collect())
    n = len(toks)
    assert len(rows) == (n - 1) // 24 + 1
    # every chunk is non-empty, at most 32 tokens, and matches the source slice
    for idx, chunk in rows:
        start = idx * 24
        assert 1 <= len(chunk) <= 32
        assert chunk == toks[start : start + 32]
    # stride-aligned reassembly: first 24 tokens of each chunk, then the tail
    rebuilt = []
    for idx, chunk in rows:
        rebuilt.extend(chunk[:24] if idx < rows[-1][0] else chunk)
    assert rebuilt == toks


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=2, max_value=6))
def test_multiprobe_first_probe_is_home_cell(spark, nprobe):
    """ivf_assign_multi's nearest probe must equal ivf_assign's single
    assignment for every vector, and probes must be distinct cells."""
    from veri_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_multi,
        take_centroids,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11), float((i * 5 + d) % 13)])
            for i in range(40) for d in [0]]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = take_centroids(df, 4)
    home = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(df, cents).collect()}
    multi = ivf_assign_multi(df, cents, nprobe=min(nprobe, 4))
    probes: dict[int, list[int]] = {}
    for r in multi.collect():
        probes.setdefault(r["vec_id"], []).append(r["centroid_id"])
    for vid, cells in probes.items():
        assert len(cells) == min(nprobe, 4)
        assert len(set(cells)) == len(cells)  # distinct cells
    # the home cell is among the probes for every vector (it is the nearest)
    for vid, h in home.items():
        assert h in probes[vid]


def test_ivf_operators_on_an_empty_centroid_set(spark):
    """An empty centroid set (e.g. seeded from an emptied corpus) is a typed
    empty distance list: ivf_assign keeps every row with a NULL centroid_id,
    and the probing forms find no cell, so they return no rows."""
    from veri_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_multi,
        ivf_multi_search,
        ivf_search,
        take_centroids,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0])], "query_id int, query_vector array<double>"
    )
    empty = take_centroids(df, 3)[:0]
    assigned = ivf_assign(df, empty).collect()
    assert sorted(r["vec_id"] for r in assigned) == list(range(6))
    assert all(r["centroid_id"] is None for r in assigned)
    assert ivf_assign_multi(df, empty, nprobe=2).collect() == []
    assert ivf_multi_search(df, empty, queries, k=3).collect() == []
    assert ivf_search(df, empty, [0.0, 1.0], k=3).collect() == []


def test_mmr_rerank_invariants(spark):
    """MMR greedy selection: ranks are 1..5, ids unique, rank-1 is the
    highest-relevance candidate (= vec 0 itself, cosine 1.0 to its own
    embedding), and every later pick's mmr score never exceeds the
    previous pick's (greedy argmax over a shrinking set with a fixed
    selected-penalty is non-increasing in this corpus)."""
    from veri_spark.plans.registry import QUERIES

    rows = QUERIES["mmr_rerank"](spark, "/root/testdata/sf0.001").collect()
    ranks = [r["selection_rank"] for r in rows]
    assert sorted(ranks) == [1, 2, 3, 4, 5]
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == 5
    byrank = {r["selection_rank"]: r for r in rows}
    assert byrank[1]["vec_id"] == 0
    assert abs(byrank[1]["mmr"] - 0.7) < 1e-9  # 0.7 * cos(q, q) = 0.7


def test_weighted_quantiles_ordering(spark):
    """Token-weighted quantiles: wp50 <= wp90 <= max doc length, and the
    totals equal the exact per-source token sums."""
    from veri_spark.plans.registry import QUERIES
    from veri_spark.sources.catalog import load_table

    rows = QUERIES["weighted_length_quantiles"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    truth = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("t"))
        .collect()
    }
    assert rows
    for r in rows:
        assert r["wp50"] <= r["wp90"]
        assert r["total_tokens"] == truth[r["source"]]


def test_transition_matrix_stochastic(spark):
    """Each current-state row of the Markov transition matrix sums to ~1
    and every probability is in (0, 1]."""
    from veri_spark.plans.registry import QUERIES

    rows = QUERIES["event_transition_matrix"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_cur: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r["p"] <= 1.0
        by_cur[r["cur"]] = by_cur.get(r["cur"], 0.0) + r["p"]
    assert by_cur
    for cur, s in by_cur.items():
        assert abs(s - 1.0) < 1e-3  # rounding at 6dp across |types| cells


def test_fingerprint_split_no_leakage(spark):
    """The fingerprint-keyed split must report zero leaked fingerprints
    (identical texts always land in one split) and cover every doc."""
    from veri_spark.plans.registry import QUERIES
    from veri_spark.sources.catalog import load_table

    rows = QUERIES["fingerprint_split_assign"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r["n_leaked_fingerprints"] == 0 for r in rows)
    n_total = sum(r["n_docs"] for r in rows)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert n_total == docs.count()


def test_pagerank_step_mass(spark):
    """After one damped iteration from uniform r0=1, every returned rank
    must satisfy 0.15 < rank (every node with in-edges gets the base mass
    plus positive contribution)."""
    from veri_spark.plans.registry import QUERIES

    rows = QUERIES["pagerank_step"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["pagerank"] > 0.15
