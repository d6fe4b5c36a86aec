"""Output checks and summary statistics, independent of Spark.

- numpy brute-force models of the store's search pipeline (exact top-k,
  grouped reduce, context re-score, multi-query), ties broken by label;
- the percentile rule for reported tails;
- the analytics oracle compare, reusing ``tools/check_oracle.py``.
"""

from __future__ import annotations

import importlib.util
import math
import os
import statistics

import numpy as np

SCORE_RTOL = 1e-9


def scores(feats: np.ndarray, q, func: str) -> np.ndarray:
    """Score every row of ``feats`` (float32, (n, d)) against ``q`` in float64,
    as the store does (array<float> cast to double)."""
    x = feats.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    if func == "euclidean":
        return np.sqrt(((x - qv) ** 2).sum(axis=1))
    if func == "cosine":
        return (x @ qv) / (np.linalg.norm(x, axis=1) * np.linalg.norm(qv))
    raise ValueError(func)


def topk(score: np.ndarray, labels: list[str], k: int, higher: bool) -> list[int]:
    """Row indexes of the best ``k`` scores, ties broken by label."""
    lab = np.asarray(labels, dtype=object)
    order = sorted(range(len(score)), key=lambda i: (-score[i] if higher else score[i], lab[i]))
    return order[:k]


def grouped(score, labels, groups, group_limit: int, limit: int, higher: bool):
    """The store's grouped reduce: per group the best ``group_limit`` rows,
    group score ``sum`` (higher is better) or ``sum / n**2``; returns
    ``[(group, representative label, group score)]`` best first."""
    by_group: dict[str, list[int]] = {}
    for i, g in enumerate(groups):
        by_group.setdefault(g, []).append(i)
    out = []
    for g, idx in by_group.items():
        best = sorted(idx, key=lambda i: (-score[i] if higher else score[i], labels[i]))
        best = best[: max(group_limit, 1)]
        total = float(sum(score[i] for i in best))
        gs = total if higher else total / (len(best) ** 2)
        out.append((g, labels[best[0]], gs))
    out.sort(key=lambda t: (-t[2] if higher else t[2], t[0]))
    return out[:limit]


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SCORE_RTOL, abs_tol=1e-12)


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Equal label order and scores equal to ``SCORE_RTOL``."""
    return len(got) == len(want) and all(
        gl == wl and close(gs, ws) for (gl, gs), (wl, ws) in zip(got, want)
    )


def recall(got: list[str], want: list[str]) -> float:
    return len(set(got) & set(want)) / max(len(want), 1)


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

TAIL_MIN_BEYOND = 10


def tail_percentile(n: int, cap: int = 90) -> int | None:
    """The highest whole percentile (at most ``cap``, at least 50) with at
    least ``TAIL_MIN_BEYOND`` samples beyond it, or None below 20 samples."""
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    return min(cap, 100 * (n - TAIL_MIN_BEYOND) // n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(int(math.ceil(p / 100 * len(s))) - 1, 0)]


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "tail_pct", "tail"}`` for a list of latencies."""
    out: dict = {"n": len(values), "p50": statistics.median(values) if values else None}
    tp = tail_percentile(len(values))
    out["tail_pct"] = tp
    out["tail"] = percentile(values, tp) if tp is not None else None
    return out


# ---------------------------------------------------------------------------
# analytics oracle
# ---------------------------------------------------------------------------


def load_oracle_tool(root: str):
    """``tools/check_oracle.py`` as a module (its compare helpers are reused
    as they are)."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(root: str, sf_dir: str, results: dict, oracles: dict, spill_dir: str) -> dict:
    """Compare each ``results[name] = (columns, rows)`` with its DuckDB oracle
    under check_oracle's bit-exact multiset compare. Returns
    ``{name: problem}`` for every mismatch."""
    import duckdb

    tool = load_oracle_tool(root)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in tool.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad: dict[str, str] = {}
    for name, (cols, rows) in results.items():
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as ex:  # an oracle error is a failed check
            bad[name] = f"duckdb error: {ex}"[:300]
            continue
        if sorted(cols) != sorted(d_cols):
            bad[name] = f"columns {sorted(cols)} != {sorted(d_cols)}"
        elif len(rows) != len(d_rows):
            bad[name] = f"rows {len(rows)} != {len(d_rows)}"
        elif tool.rows_to_multiset(rows, cols) != tool.rows_to_multiset(d_rows, d_cols):
            bad[name] = "values differ"
    con.close()
    return bad
