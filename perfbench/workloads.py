"""The workloads. Each takes a :class:`Ctx`, runs its set-up, a closed loop of
requests from one client thread for at least ``ctx.seconds`` (whole rounds
of work), then its output checks, and returns a result dict for ``run.py``:

``{"setup_s", "latency_ms", "throughput", "attempted", "report": {...},
"layer": {...}}``

``report`` carries every workload-specific end-to-end figure by name and
unit; ``layer`` carries the per-layer inputs (calls, rows, bytes) that only
the workload itself can see.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import check
import gen


@dataclass
class Ctx:
    spark: object
    rec: object
    root: str  # repository root (holds veri_spark and tools)
    tmp: str  # per-run scratch dir, removed at exit
    seed: int
    seconds: float
    tracing: bool
    failures: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _p50(values_s: list[float]):
    """Median in ms, or None without samples."""
    return statistics.median(values_s) * 1000.0 if values_s else None


def _figure(value, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def _latency_figures(prefix: str, values_s: list[float]) -> dict:
    """``<prefix>_p50_ms`` and the tail the sample count supports, each
    with its sample count."""
    s = check.summarize([x * 1000.0 for x in values_s])
    out = {f"{prefix}_p50_ms": _figure(s["p50"], "ms", n=s["n"])}
    if s["tail_pct"] is not None:
        out[f"{prefix}_p{s['tail_pct']}_ms"] = _figure(s["tail"], "ms", n=s["n"])
    return out


def _dir_files(path: str) -> dict[str, int]:
    """``{relative file path: size}`` for the data files under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------
# store
# ---------------------------------------------------------------------------

STORE_ROWS = 10000
UPSERT_ROWS = 200
SHORT_TTL_S = 0.5
WARM_SEARCHES = 1
SEARCHES = sum(gen.SEARCH_ROUND.values())
# floor on the mean recall@10 of a run's approximate searches. When it was
# set, 80 probe queries on two corpora had mean recall 0.78 with 2 of them
# at 0.0, and the run means of 25 runs were all 0.55 or more.
RECALL_FLOOR = 0.25


def _config(kind: str):
    from veri_spark.operators.search import SearchConfig

    return {
        "exact": SearchConfig(score_func="VectorDistance"),
        "cosine": SearchConfig(score_func="CosineSimilarity"),
        "filtered": SearchConfig(score_func="VectorDistance", filters=("tag",)),
        "grouped": SearchConfig(score_func="VectorDistance", group_limit=3, limit=5),
        "context": SearchConfig(score_func="VectorDistance"),
        "approx": SearchConfig(score_func="AnnoyVectorDistance"),
        "batch": SearchConfig(score_func="VectorDistance"),
        "cached": SearchConfig(score_func="VectorDistance"),
    }[kind]


def _send(ctx: Ctx, store, req: dict, i: int | None, cache_dir: str) -> tuple:
    """One search request: ``(request, rows or None, seconds, cache hit)``."""
    kind = req["kind"]
    cached_before = len(os.listdir(cache_dir)) if os.path.isdir(cache_dir) else 0
    with ctx.rec.span("request", req=i, kind=kind) as sp:
        try:
            df = ctx.rec.call(
                "store.search.construct", store.search, "store", req["queries"],
                _config(kind), context_vectors=req["context"],
                cache_seconds=3600 if kind == "cached" else None,
            )
            rows = ctx.rec.call("store.search.collect", df.collect)
        except Exception as ex:  # counted, never fatal: the run goes on
            rows = None
            ctx.fail(f"search {i} ({kind}): {ex!r}"[:300])
    hit = kind == "cached" and len(os.listdir(cache_dir)) == cached_before
    return req, rows, sp["end"] - sp["start"], hit


def _check_search(ctx: Ctx, req: dict, rows: list, model, recalls: list) -> None:
    """Compare one search result with numpy brute force over the model's
    live rows."""
    feats, labels, groups = model.arrays()
    kind, q = req["kind"], req["queries"]
    if kind == "grouped":
        want = check.grouped(check.scores(feats, q[0], "euclidean"), labels, groups, 3, 5,
                             higher=False)
        got = [(r["group_label"], r["label"], r["group_score"]) for r in rows]
        ok = len(got) == len(want) and all(
            a[0] == b[0] and a[1] == b[1] and check.close(a[2], b[2]) for a, b in zip(got, want))
    elif kind == "batch":
        ok = True
        for qi, qv in enumerate(q):
            # the multi-query path carries its queries as array<float>
            sc = check.scores(feats, np.float32(qv), "euclidean")
            want = [(labels[j], sc[j]) for j in check.topk(sc, labels, 10, False)]
            got = sorted(((r["label"], r["score"]) for r in rows if r["query_id"] == qi),
                         key=lambda t: (t[1], t[0]))
            ok = ok and check.same_ranking(got, want)
    else:
        func = "cosine" if kind == "cosine" else "euclidean"
        idx = [j for j, x in enumerate(labels) if kind != "filtered" or '"tag"' in x]
        sub = [labels[j] for j in idx]
        sc = check.scores(feats[idx], q[0], func)
        if kind == "context":
            sc = np.minimum(sc, check.scores(feats[idx], req["context"][0], func))
        want = [(sub[j], sc[j]) for j in check.topk(sc, sub, 10, func == "cosine")]
        got = [(r["label"], r["score"]) for r in rows]
        if kind == "approx":
            ok = _check_approx(got, want, q[0], model, recalls)
        else:
            ok = check.same_ranking(got, want)
    if not ok:
        ctx.fail(f"search {kind}: result differs from brute force")


def _check_approx(got: list, want: list, q, model, recalls: list) -> bool:
    """An approximate result must hold 10 rows, each a durable row the store
    has held (a damped index may serve an older label or a deleted row)
    with its exact euclidean score. Its recall@10 against brute force joins
    ``recalls``, whose mean over the run is held to ``RECALL_FLOOR`` (one
    search alone may find none of the true ten: an IVF probe reads 2 of 16
    cells)."""
    recalls.append(check.recall([g[0] for g in got], [w[0] for w in want]))
    if len(got) != 10 or len(want) != 10:
        return False
    for lab, v in got:
        feat = model.features.get(json.loads(lab).get("k"))
        if feat is None or not check.close(v, check.scores(feat[None], q, "euclidean")[0]):
            return False
    return True


def store(ctx: Ctx) -> dict:
    from veri_spark.store import FeatureStore

    t_setup = time.perf_counter()
    corpus, model, centers = gen.store_corpus(ctx.seed, STORE_ROWS)
    path = gen.write_datums(os.path.join(ctx.tmp, "corpus.parquet"), corpus)
    root = os.path.join(ctx.tmp, "store")
    data_dir = os.path.join(root, "store")
    cache_dir = os.path.join(root, "_cache")
    fs = FeatureStore(ctx.spark, root)
    acc = {"insert_s": [], "search_s": [], "write_s": 0.0, "admitted": 0, "rewritten": 0,
           "bytes": 0, "recalls": [], "from_index": [], "last_ttl": 0.0,
           "refresh": {"calls": 0, "skipped": 0, "full": 0}}
    ctx.rec.call("store.bulk_load", fs.insert, "store", ctx.spark.read.parquet(path),
                 no_target=True)
    _refresh(ctx, fs, acc)
    # warm-up searches from a separate stream; per-request latency keeps
    # falling for tens of seconds after the bulk load while the JVM compiles
    warm = [_send(ctx, fs, req, None, cache_dir)
            for req in gen.search_requests(ctx.seed, centers, 1, stream=6)[:WARM_SEARCHES]]
    setup_s = time.perf_counter() - t_setup
    recalls: list[float] = []
    for req, rows, _, _ in warm:
        if rows is not None:
            _check_search(ctx, req, rows, model, recalls)
    recalls.clear()

    searches = gen.search_requests(ctx.seed, centers, n_rounds=50)
    writes = gen.WriteStream(ctx.seed, model, centers, UPSERT_ROWS)
    done: list[tuple] = []
    n = rounds = 0
    t0 = time.perf_counter()
    # the window holds whole rounds (searches, then writes), so every run
    # times the same ops at the same place on the JVM warm-up curve
    while rounds == 0 or time.perf_counter() - t0 < ctx.seconds:
        for req in searches[rounds * SEARCHES:(rounds + 1) * SEARCHES]:
            done.append(_send(ctx, fs, req, n, cache_dir))
            n += 1
        for d in done[-SEARCHES:]:
            if d[1] is not None:
                _check_search(ctx, d[0], d[1], model, recalls)
        for _ in gen.WRITE_ROUND:
            op = writes.next()
            # a traced upsert's bucket files are listed around the request
            # span, so the listing stays out of the timed write phase
            before = _dir_files(data_dir) if ctx.tracing and op["op"] == "upsert" else None
            with ctx.rec.span("request", req=n, kind=op["op"]) as sp:
                try:
                    _write_op(ctx, fs, op, n, root, model, acc)
                except Exception as ex:  # counted, never fatal: the run goes on
                    ctx.fail(f"write {n} ({op['op']}): {ex!r}"[:300])
            acc["write_s"] += sp["end"] - sp["start"]
            if before is not None:
                new = {f: b for f, b in _dir_files(data_dir).items() if f not in before}
                acc["rewritten"] += len({os.path.dirname(f) for f in new})
                acc["bytes"] += sum(new.values())
            n += 1
        rounds += 1

    # end state against the model: wait out the short TTLs, expire, export
    time.sleep(max(0.0, SHORT_TTL_S + 0.2 - (time.monotonic() - acc["last_ttl"])))
    fs.expire_now("store")
    got = {(r["label"], r["version"])
           for r in fs.export("store").select("label", "version").collect()}
    want = {(d["label"], d["version"]) for d in model.durable.values()}
    if got != want:
        ctx.fail(f"store end state: {len(got)} rows vs model {len(want)} "
                 f"({len(got - want)} unexpected, {len(want - got)} missing)")
    mean = lambda xs: statistics.mean(xs) if xs else None  # noqa: E731
    approx_recall = mean(recalls + acc["recalls"]) or 0.0
    if approx_recall < RECALL_FLOOR:
        ctx.fail(f"approximate search: mean recall@10 {approx_recall:.2f} < {RECALL_FLOOR}")

    singles = [d[2] for d in done if d[0]["kind"] != "batch"]
    by_kind = lambda k: [d[2] for d in done if d[0]["kind"] == k]  # noqa: E731
    cached = [d for d in done if d[0]["kind"] == "cached"]
    # the headline weighs every search kind once, whatever its count in a
    # round: a gain on any one kind moves it, and the round's mix does not
    kind_p50_ms = {k: _p50(by_kind(k)) for k in gen.SEARCH_ROUND}
    kind_geomean_ms = statistics.geometric_mean(kind_p50_ms.values())
    report = {
        "search_kind_geomean_ms": _figure(kind_geomean_ms, "ms", n=len(done)),
        "search_kind_p50_ms": _figure(kind_p50_ms, "ms"),
        **_latency_figures("search", singles),
        "search_exact_p50_ms": _figure(_p50(by_kind("exact")), "ms", n=len(by_kind("exact"))),
        "search_approx_p50_ms": _figure(_p50(by_kind("approx")), "ms", n=len(by_kind("approx"))),
        "search_batch_p50_ms": _figure(_p50(by_kind("batch")), "ms", n=len(by_kind("batch"))),
        # single-query searches per second of single-query search time
        "search_qps": _figure(len(singles) / sum(singles), "1/s"),
        "approx_recall_at_10": _figure(mean(recalls), "ratio", n=len(recalls),
                                       min=min(recalls, default=None)),
        # admitted rows per second of write-phase time, maintenance included
        "ingest_rows_per_s": _figure(acc["admitted"] / acc["write_s"], "1/s"),
        **_latency_figures("insert", acc["insert_s"]),
        "ingest_search_p50_ms": _figure(_p50(acc["search_s"]), "ms", n=len(acc["search_s"])),
        "ingest_approx_recall_at_10": _figure(mean(acc["recalls"]), "ratio",
                                              n=len(acc["recalls"]), min=min(acc["recalls"], default=None)),
        # share of write-phase approximate searches served from the
        # persisted index (the rest took the stale-index fallback)
        "ingest_approx_from_index": _figure(mean(acc["from_index"]), "ratio",
                                            n=len(acc["from_index"])),
    }
    return {
        "setup_s": setup_s,
        "latency_ms": kind_geomean_ms,
        "throughput": report["ingest_rows_per_s"]["value"],
        "attempted": len(warm) + n,
        "report": report,
        "layer": {
            "result_cache_hit_ratio": sum(d[3] for d in cached) / max(len(cached), 1),
            "approx_recall_at_10": mean(recalls) or 0.0,
            "rows_admitted": acc["admitted"],
            "buckets_rewritten": acc["rewritten"],
            "bytes_written_per_row": acc["bytes"] / max(acc["admitted"], 1),
            "bytes_per_live_row": sum(_dir_files(data_dir).values()) / max(len(want), 1),
            "refresh": acc["refresh"],
            "prefix_requests": set(range(SEARCHES + len(gen.WRITE_ROUND))),
        },
    }


def _write_op(ctx: Ctx, fs, op: dict, i: int, root: str, model, acc: dict) -> None:
    """Run one write-round op, check it where it has an output, and add its
    figures to ``acc``."""
    from veri_spark.operators.search import SearchConfig

    kind = op["op"]
    if kind == "upsert":
        rows = dict(op["rows"])
        expire = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) + dt.timedelta(
            seconds=SHORT_TTL_S)
        rows["expire_at"] = [expire if t else e for e, t in zip(rows["expire_at"], rows.pop("ttl"))]
        path = gen.write_datums(os.path.join(ctx.tmp, f"upsert{i}.parquet"), rows)
        df = ctx.spark.read.parquet(path)
        t1 = time.perf_counter()
        acc["admitted"] += ctx.rec.call("store.insert", fs.insert, "store", df, no_target=True)
        acc["insert_s"].append(time.perf_counter() - t1)
        acc["last_ttl"] = time.monotonic()
    elif kind == "delete":
        keys = ctx.spark.createDataFrame([(x,) for x in op["labels"]], "label string")
        ctx.rec.call("store.delete", fs.delete, "store", keys, ["label"])
    elif kind == "expire":
        ctx.rec.call("store.expire_now", fs.expire_now, "store")
    elif kind == "refresh":
        _refresh(ctx, fs, acc)
    else:
        approx = kind == "approx"
        if approx:
            acc["from_index"].append(_index_fresh(root, "store"))
        # durable rows carry "k" in their label, short-lived rows do not: the
        # filter keeps wall-clock expiry out of the compared result
        cfg = SearchConfig(score_func="AnnoyVectorDistance" if approx else "VectorDistance",
                           filters=("k",))
        t1 = time.perf_counter()
        df = ctx.rec.call("store.search.construct", fs.search, "store", [op["query"]], cfg)
        got = [(r["label"], r["score"]) for r in ctx.rec.call("store.search.collect", df.collect)]
        acc["search_s"].append(time.perf_counter() - t1)
        feats, labels, _ = model.arrays()
        sc = check.scores(feats, op["query"], "euclidean")
        want = [(labels[j], sc[j]) for j in check.topk(sc, labels, 10, False)]
        if approx:
            # no read-your-write here: a damped refresh_index may restamp the
            # index without the writes made since its build
            if not _check_approx(got, want, op["query"], model, acc["recalls"]):
                ctx.fail(f"write {i}: approximate search short or with wrong rows")
        elif not check.same_ranking(got, want):
            ctx.fail(f"write {i}: exact search missed a prior write")


def _refresh(ctx: Ctx, fs, acc: dict) -> None:
    """The damped maintenance call, with its skip/rebuild outcome counted."""
    ctx.rec.call("store.refresh_index", fs.refresh_index, "store", if_needed=True)
    info = fs.last_index_refresh_info
    acc["refresh"]["calls"] += 1
    acc["refresh"]["skipped"] += bool(info.get("skipped"))
    acc["refresh"]["full"] += info.get("cells_rewritten") == -1


def _index_fresh(root: str, name: str) -> bool:
    """True when the persisted IVF index is stamped with the dataset's
    current mutation stamp, so an approximate search is served from it."""
    def read(p):
        return open(p).read() if os.path.exists(p) else None

    stamp = read(os.path.join(root, f"{name}.index.mutver"))
    return stamp is not None and stamp == (read(os.path.join(root, f"{name}.mutver")) or "0")


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

# groups run in seeded order; within a group the order is fixed (a
# session-shared frame's payer runs before its consumer)
ANALYTICS_GROUPS = [
    # kNN / relational staples
    ["knn_cosine"],
    ["tpch_q3_top_revenue"],
    ["events_tumbling_window"],
    # session-shared frames: payer, then one consumer of the same frame
    ["dedup_minhash_lsh", "dedup_minhash_clusters"],
    ["knn_join_ivf", "knn_reciprocal_pairs"],
    # construction-job heavy (36 jobs, mostly before the final collect)
    ["kpss_daily_revenue"],
    # persisted store / ANN
    ["ann_ivf_multi_query"],
]
ANALYTICS_SCALE = 0.1
WARM_QUERIES = ("tpch_q1_pricing_summary", "knn_multi_query")


def analytics(ctx: Ctx) -> dict:
    from veri_spark.plans.registry import ORACLES, QUERIES

    t_setup = time.perf_counter()
    sf_dir = os.path.join(ctx.tmp, "sf")
    gen.analytics_tables(sf_dir, ANALYTICS_SCALE)
    # warm-up with registry queries outside the pinned set that build no
    # session-shared frame: the first queries of a fresh JVM otherwise pay
    # seconds of JIT, on whichever pinned query the seed puts first
    for name in WARM_QUERIES:
        QUERIES[name](ctx.spark, sf_dir).collect()
    setup_s = time.perf_counter() - t_setup

    rng = np.random.default_rng([ctx.seed, 5])
    order = [q for g in rng.permutation(len(ANALYTICS_GROUPS)) for q in ANALYTICS_GROUPS[g]]
    results, lat, busy = {}, [], {}
    t0 = time.perf_counter()
    for i, name in enumerate(order):
        fn = QUERIES[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        with ctx.rec.span("request", req=i, kind=name, module=module) as sp:
            try:
                df = ctx.rec.call("plans.construct", fn, ctx.spark, sf_dir)
                rows = ctx.rec.call("plans.execute", df.collect)
                results[name] = (df.columns, [tuple(r) for r in rows])
            except Exception as ex:
                ctx.fail(f"analytics {name}: {ex!r}"[:300])
        lat.append(sp["end"] - sp["start"])
        busy[module] = busy.get(module, 0.0) + lat[-1]
    wall = time.perf_counter() - t0

    bad = check.oracle_failures(ctx.root, sf_dir, results, ORACLES,
                                os.path.join(ctx.tmp, "duckdb"))
    for name, why in bad.items():
        ctx.fail(f"analytics {name}: {why}")
    # geometric mean: the queries differ by 10x, so the median of one pass
    # jumps between neighbours depending on the seeded order
    geomean_ms = 1000.0 * statistics.geometric_mean(lat)
    return {
        "setup_s": setup_s,
        "latency_ms": geomean_ms,
        "throughput": len(order) / wall,
        "attempted": len(order),
        "report": {
            "analytics_sweep_s": _figure(wall, "s", n=len(order)),
            "query_geomean_ms": _figure(geomean_ms, "ms", n=len(lat)),
            **_latency_figures("query", lat),
        },
        "layer": {"plan_module_busy_s": busy, "prefix_requests": set(range(len(order)))},
    }


WORKLOADS = {"store": store, "analytics": analytics}

# plan modules of the pinned analytics queries, one busy-share metric each
PLAN_MODULES = ("knn", "knn_audit", "tpch", "events", "dedup", "temporal")
