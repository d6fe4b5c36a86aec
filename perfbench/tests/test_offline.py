"""Benchmark tests that need no Spark: generator determinism, the
percentile rule, the brute-force checker, and the metric names and units
declared in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator determinism --------------------------------------------------


def test_store_inputs_repeat_for_a_seed():
    (ra, ma, ca), (rb, mb, cb) = gen.store_corpus(7, 500), gen.store_corpus(7, 500)
    assert np.array_equal(ra["feature"], rb["feature"])
    assert ra["label"] == rb["label"] and ra["group_label"] == rb["group_label"]
    assert ra["expire_at"] == rb["expire_at"]
    assert gen.search_requests(7, ca, 3) == gen.search_requests(7, cb, 3)
    rc, _, _ = gen.store_corpus(8, 500)
    assert not np.array_equal(ra["feature"], rc["feature"])


def test_store_corpus_has_expired_rows_and_absent_paths():
    rows, model, _ = gen.store_corpus(1, 4000)
    expired = sum(e == gen.EXPIRED_AT for e in rows["expire_at"])
    assert 0.03 < expired / 4000 < 0.07
    assert len(model.durable) == 4000 - expired  # dead rows are never live
    assert any('"tag"' not in x for x in rows["label"])
    assert any('"tag"' in x for x in rows["label"])


def test_search_rounds_carry_the_fixed_mix():
    _, _, centers = gen.store_corpus(1, 10)
    reqs = gen.search_requests(3, centers, 2)
    per_round = sum(gen.SEARCH_ROUND.values())
    for r in range(2):
        kinds = [q["kind"] for q in reqs[r * per_round:(r + 1) * per_round]]
        assert {k: kinds.count(k) for k in gen.SEARCH_ROUND} == gen.SEARCH_ROUND


def _write_ops(seed, n):
    _, model, centers = gen.store_corpus(seed, 300)
    stream = gen.WriteStream(seed, model, centers, batch_rows=20, delete_rows=5)
    return model, [stream.next() for _ in range(n)]


def test_write_ops_repeat_for_a_seed():
    ma, a = _write_ops(5, 12)
    mb, b = _write_ops(5, 12)
    assert [o["op"] for o in a] == [o["op"] for o in b] == list(gen.WRITE_ROUND * 2)[:12]
    for x, y in zip(a, b):
        if x["op"] == "upsert":
            assert np.array_equal(x["rows"]["feature"], y["rows"]["feature"])
            assert x["rows"]["label"] == y["rows"]["label"]
        else:
            assert x == y
    assert {k: v["label"] for k, v in ma.durable.items()} == {
        k: v["label"] for k, v in mb.durable.items()}


def test_write_stream_keeps_the_model_in_step():
    _, model0, _ = gen.store_corpus(2, 300)
    n = len(model0.durable)
    model, ops = _write_ops(2, 12)
    mix = {k: round(v * 20) for k, v in gen.BATCH_MIX.items()}
    for op in ops:
        if op["op"] == "upsert":
            n += mix["new"]  # short-lived rows never count as live
            assert len(op["rows"]["label"]) == sum(mix.values())
            assert sum(op["rows"]["ttl"]) == mix["ttl"]
        elif op["op"] == "delete":
            n -= len(op["labels"])
    assert len(model.durable) == n
    versions = [d["version"] for d in model.durable.values()]
    assert max(versions) >= 1  # changed keys got a new version


def test_analytics_tables_repeat(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.analytics_tables(str(a), 0.01)
    gen.analytics_tables(str(b), 0.01)
    for name in os.listdir(a):
        assert pq.read_table(a / name).equals(pq.read_table(b / name)), name


def test_analytics_tables_match_the_oracle_table_list(tmp_path):
    counts = gen.analytics_tables(str(tmp_path), 0.01)
    tool = check.load_oracle_tool(ROOT)
    assert sorted(counts) == sorted(tool.TABLES)


# -- percentile rule --------------------------------------------------------


@pytest.mark.parametrize("n,want", [(5, None), (19, None), (20, 50), (40, 75),
                                    (100, 90), (1000, 90)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert check.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) >= 100 * check.TAIL_MIN_BEYOND


def test_summarize_reports_median_tail_and_count():
    s = check.summarize([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90, "tail": 90.0}
    assert check.summarize([3.0, 1.0, 2.0])["tail"] is None


# -- brute-force checker ----------------------------------------------------


def test_topk_breaks_ties_by_label():
    score = np.array([1.0, 0.5, 1.0, 0.5])
    labels = ["d", "c", "a", "b"]
    assert check.topk(score, labels, 3, higher=False) == [3, 1, 2]
    assert check.topk(score, labels, 2, higher=True) == [2, 0]


def test_scores_match_direct_formulas():
    feats = np.array([[3.0, 4.0], [1.0, 0.0]], dtype=np.float32)
    assert np.allclose(check.scores(feats, [0.0, 0.0], "euclidean"), [5.0, 1.0])
    assert np.allclose(check.scores(feats, [1.0, 0.0], "cosine"), [0.6, 1.0])


def test_grouped_reduce_on_a_tiny_corpus():
    score = np.array([1.0, 2.0, 3.0, 1.5, 0.5])
    labels = ["a", "b", "c", "d", "e"]
    groups = ["g1", "g1", "g1", "g2", "g3"]
    got = check.grouped(score, labels, groups, group_limit=2, limit=3, higher=False)
    # g1 keeps its best two (1.0, 2.0): 3.0 / 2**2; g2: 1.5; g3: 0.5
    assert got == [("g3", "e", 0.5), ("g1", "a", 0.75), ("g2", "d", 1.5)]


def test_same_ranking_and_recall():
    assert check.same_ranking([("a", 1.0)], [("a", 1.0 + 1e-12)])
    assert not check.same_ranking([("a", 1.0)], [("b", 1.0)])
    assert not check.same_ranking([("a", 1.0)], [("a", 1.001)])
    assert check.recall(["a", "b", "x"], ["a", "b", "c", "d"]) == 0.5


# -- metric names -----------------------------------------------------------


def test_benchmark_json_names_and_units():
    spec = _spec()
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS)
    assert 2 <= len(names) <= 8
    metrics = spec["end_to_end"] + spec["per_layer"]
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for w in spec["workloads"]:
        assert NAME.match(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


class _Rec:
    spans: list = []
    jobgroup_s = 0.0

    def self_times(self):
        return {}


def test_layer_metrics_are_exactly_the_declared_per_layer_set():
    out = {"layer": {"prefix_requests": set()}}
    got = run.layer_metrics(_Rec(), {}, {}, out, 1.0)
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == spec
