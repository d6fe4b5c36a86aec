"""Plan literals (veri_spark/functions/literals.py): one SQL expression per
Python constant, typed and valued exactly like the per-element
``F.lit`` forms it replaced, plus the py4j call-count pins and the
source guard that keep the per-element form from coming back."""

import ast
import pathlib
import random
import struct

import pytest
from pyspark.sql import functions as F

from veri_spark.functions.literals import literal_array, literal_map
from veri_spark.functions.vector import _as_double_array
from veri_spark.session import count_py4j_calls

PKG = pathlib.Path(__file__).resolve().parent.parent / "veri_spark"


def _per_element(values):
    """The per-element form the helper replaces (nested lists recurse)."""
    return F.array(
        *[_per_element(v) if isinstance(v, list) else F.lit(v) for v in values]
    )


def _bits(v):
    """Collected value with every double as its IEEE bit pattern, so -0.0
    vs 0.0 and NaN compare exactly."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, list):
        return [_bits(x) for x in v]
    if isinstance(v, dict):
        return sorted((_bits(k), _bits(x)) for k, x in v.items())
    return v


def _same(spark, got, want):
    a = spark.range(1).select(got.alias("v"))
    b = spark.range(1).select(want.alias("v"))
    assert a.schema["v"].dataType == b.schema["v"].dataType
    assert _bits(a.first()["v"]) == _bits(b.first()["v"])


@pytest.mark.parametrize(
    "values",
    [
        [0.1, -0.0, 0.0, 5e-324, 1e16, 1.7976931348623157e308, -1.7976931348623157e308,
         2.2250738585072014e-308, 1 / 3, -123.456e-7],
        [float("nan"), float("inf"), float("-inf"), 1.0],
        [2**31 - 1, -(2**31), 7, 0, -1],
        [2**31, -(2**31) - 1, 2**63 - 1, -(2**63), 5],
        [-(2**63)],
        [True, False],
        ["plain", "it's", "back\\slash", "\\'", "a\\%_b", "new\nline", "", "é"],
        [[1.0, 2.0], [3.0, float("nan")], [-0.0]],
        [[1, 2], [3]],
        [[["x"]], [["y", "z'"]]],
    ],
    ids=["finite", "nonfinite", "int32", "int64", "int64_min", "bool", "str",
         "nested_double", "nested_int", "nested_str"],
)
def test_literal_array_matches_per_element_lit(spark, values):
    _same(spark, literal_array(values), _per_element(values))


def test_empty_literal_array_is_double(spark):
    """The empty list has no element to type; it is array<double>, the type
    the query-vector helper has always given an empty query."""
    _same(spark, literal_array([]), F.array().cast("array<double>"))
    _same(spark, _as_double_array([]), F.array().cast("array<double>"))


@pytest.mark.parametrize(
    "pairs",
    [
        {1: 0.5, 2: 1e-7, 3: float("nan"), 4: -0.0},
        [("1|2", 5), ("x'y", 3_000_000_000)],
        [(d, m) for d, m in zip(range(1, 10), (301030, 176091, 124939, 96910,
                                                 79181, 66947, 57992, 51153, 45757))],
    ],
    ids=["int_double", "str_mixed_ints", "int_int"],
)
def test_literal_map_matches_per_element_lit(spark, pairs):
    items = list(pairs.items() if isinstance(pairs, dict) else pairs)
    _same(spark, literal_map(pairs), F.create_map(*[F.lit(x) for kv in items for x in kv]))


def test_query_vector_keeps_its_values(spark):
    """The query side of every distance kernel: the same doubles as the old
    cast per-element form, now typed by the literal (array<double> with no
    NULL element)."""
    q = [random.Random(3).uniform(-1, 1) for _ in range(64)] + [float("nan"), -0.0]
    _same(spark, _as_double_array(q), _per_element([float(x) for x in q]))
    old = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in q]).cast("array<double>").alias("v")
    )
    new = spark.range(1).select(_as_double_array(q).alias("v"))
    assert _bits(new.first()["v"]) == _bits(old.first()["v"])


def test_literal_rejects_unsupported_values():
    with pytest.raises(TypeError):
        literal_array([None])
    with pytest.raises(ValueError):
        literal_array([2**63])


# -- py4j call-count pins ------------------------------------------------------


STORE_EXACT_PIN = 383
# measured with the literal helper; with the per-element form the same
# constructions took knn_cosine 830, ann_ivf_multi_query 15420 and
# ivf_balance_audit 11900 calls
QUERY_PINS = {"knn_cosine": 559, "ann_ivf_multi_query": 6329, "ivf_balance_audit": 5123}


def _warm_calls(spark, build) -> int:
    """py4j commands sent by ``build()``, counted on a second build so the
    first one pays the per-class reflection lookups."""
    build()
    with count_py4j_calls(spark) as c:
        build()
    return c.calls


def test_query_vector_literal_call_count(spark):
    """A 64-d query vector becomes a plan literal in <= 5 py4j calls (3
    measured; the per-element form took 274)."""
    q = [random.Random(1).uniform(-1, 1) for _ in range(64)]
    assert _warm_calls(spark, lambda: _as_double_array(q)) <= 5


def test_store_exact_search_construction_call_count(spark, tmp_path):
    """A warm exact ``FeatureStore.search`` on a 64-d dataset, construction
    only: 383 calls measured; 654 with the per-element query literal."""
    from veri_spark.operators.search import SearchConfig
    from veri_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "datasets"))
    rng = random.Random(5)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(64)], "g", str(i), 0, None, None, None, None, None)
        for i in range(50)
    ]
    store.insert("calls", spark.createDataFrame(
        rows,
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp",
    ), no_target=True)
    cfg = SearchConfig(score_func="VectorDistance", limit=5)
    q = [rows[3][0]]
    store.search("calls", q, cfg).collect()
    assert _warm_calls(spark, lambda: store.search("calls", q, cfg)) <= STORE_EXACT_PIN


@pytest.mark.parametrize("name", sorted(QUERY_PINS))
def test_registry_query_construction_call_count(spark, name):
    """Construction calls of registry queries whose plans carry Python
    literals, at sf0.001, after one full build and collect."""
    from test_determinism import SF_DIR
    from veri_spark.plans.registry import QUERIES

    QUERIES[name](spark, SF_DIR).collect()
    assert _warm_calls(spark, lambda: QUERIES[name](spark, SF_DIR)) <= QUERY_PINS[name]


# -- source guard --------------------------------------------------------------


def _is_lit_element(node) -> bool:
    """``F.lit(...)``, possibly followed by method calls (``.cast(...)``)."""
    while (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
    ):
        node = node.func.value
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and node.func.attr == "lit"
    )


def _per_element_literals(pkg: pathlib.Path) -> tuple[list[str], list[str]]:
    """``file:line`` of every per-element literal under ``pkg``
    (``F.array`` / ``F.create_map`` over ``F.lit`` arguments, listed or
    from a comprehension or generator), and of every ``F.struct(..., ....alias("cid"))``
    per-centroid distance entry."""
    found, cid_structs = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            if node.func.attr in ("array", "create_map") and node.args:
                gens = [a.value for a in node.args if isinstance(a, ast.Starred)]
                if all(_is_lit_element(a) for a in node.args) or any(
                    isinstance(g, (ast.ListComp, ast.GeneratorExp)) and _is_lit_element(g.elt)
                    for g in gens
                ):
                    found.append(f"{rel}:{node.lineno}")
            if node.func.attr == "struct" and "alias('cid')" in ast.unparse(node):
                cid_structs.append(f"{rel}:{node.lineno}")
    return found, cid_structs


def test_no_per_element_literals():
    """No ``F.array(*[F.lit(x) for ...])``, ``F.array(F.lit(a), F.lit(b))``
    or ``F.create_map(*(F.lit ...))`` is left in veri_spark/: every Python
    constant goes through functions/literals.py. The per-centroid distance
    list is built in one place (operators/similarity._centroid_distances)."""
    found, cid_structs = _per_element_literals(PKG)
    assert found == [], "per-element F.lit literals: " + ", ".join(found)
    assert len(cid_structs) == 1, cid_structs
