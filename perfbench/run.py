"""veri-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload store|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones. The
line before it is a ``{"report": ...}`` object with every workload-specific
figure (named percentiles with their sample counts), the failures, and the
machine-drift context. A traced run also writes its spans and per-job-group
Spark counters to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

CPUS = max(1, min(4, os.cpu_count() or 1))


def calibrate(tmp: str) -> dict:
    """The CPU and I/O probe shapes of the root ``bench.py`` (a fixed
    integer loop and a 16 MiB fsync'd write + read), recorded as context."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    cpu = time.perf_counter() - t
    path = os.path.join(tmp, "calib_io.bin")
    blob = os.urandom(1 << 20)
    t = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(16):
            f.write(blob)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    io = time.perf_counter() - t
    os.remove(path)
    return {"calib_sec": round(cpu, 4), "calib_io_sec": round(io, 4)}


def start_session(tmp: str, tracing: bool):
    from veri_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if tracing:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(rec, counters: dict, kinds: dict, out: dict, session_s: float) -> dict:
    """Every per-layer metric, from the spans, the harvested job groups (and
    their per-kind sums over the fixed part of the run, ``kinds``) and the
    workload's own layer figures."""
    spans = {s["id"]: s for s in rec.spans}
    selfs = rec.self_times()
    layer = out["layer"]

    def req_kind(s):
        while s is not None and s["name"] != "request":
            s = spans.get(s["parent"])
        return s.get("kind") if s else None

    def own(s):
        return counters.get(f"pb{s['id']}", {})

    def total(name_filter, key):
        return sum(own(s).get(key, 0) for s in rec.spans if name_filter(s))

    def calls(name):
        return sum(1 for s in rec.spans if s["name"] == name)

    def ms_p50(name):
        xs = [1000 * (s["end"] - s["start"]) for s in rec.spans if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    def busy(*names):
        return sum(selfs.get(n, 0.0) for n in names)

    is_search = lambda s: s["name"].startswith("store.search.")  # noqa: E731
    n_search = calls("store.search.construct")
    n_approx = sum(1 for s in rec.spans if s["name"] == "store.search.construct"
                   and req_kind(s) == "approx")
    n_insert = calls("store.insert")
    refresh = layer.get("refresh", {"calls": 0, "skipped": 0, "full": 0})
    every = lambda key: sum(c.get(key, 0) for c in counters.values())  # noqa: E731
    m = {
        "session.start_s": (session_s, "s"),
        "store.bulk_load_s": (busy("store.bulk_load"), "s"),
        "store.refresh_index.calls": (calls("store.refresh_index"), "count"),
        "store.refresh_index.busy_s": (busy("store.refresh_index"), "s"),
        "store.refresh_index.skip_ratio": (refresh["skipped"] / max(refresh["calls"], 1), "ratio"),
        "store.refresh_index.full_rebuilds": (refresh["full"], "count"),
        "store.search.calls": (n_search, "count"),
        "store.search.construct_ms_p50": (ms_p50("store.search.construct"), "ms/op"),
        "store.search.collect_ms_p50": (ms_p50("store.search.collect"), "ms/op"),
        "store.search.busy_s": (busy("store.search.construct", "store.search.collect"), "s"),
        "spark.jobs_per_search": (total(is_search, "jobs") / max(n_search, 1), "jobs/op"),
        "spark.executor_run_ms_per_search": (
            total(is_search, "executor_run_ms") / max(n_search, 1), "ms/op"),
        "spark.input_records_per_approx_search": (
            total(lambda s: is_search(s) and req_kind(s) == "approx", "input_records")
            / max(n_approx, 1), "rows/op"),
        "store.approx_recall_at_10": (layer.get("approx_recall_at_10", 0.0), "ratio"),
        "store.result_cache.hit_ratio": (layer.get("result_cache_hit_ratio", 0.0), "ratio"),
        "store.insert.calls": (n_insert, "count"),
        "store.insert.busy_s": (busy("store.insert"), "s"),
        "store.insert.rows_admitted": (layer.get("rows_admitted", 0), "rows"),
        "store.insert.buckets_rewritten": (layer.get("buckets_rewritten", 0), "count"),
        "store.insert.bytes_written_per_row": (layer.get("bytes_written_per_row", 0.0), "B/row"),
        "store.bytes_per_live_row": (layer.get("bytes_per_live_row", 0.0), "B/row"),
        "spark.jobs_per_insert": (
            total(lambda s: s["name"] == "store.insert", "jobs") / max(n_insert, 1), "jobs/op"),
        "store.delete.calls": (calls("store.delete"), "count"),
        "store.delete.busy_s": (busy("store.delete"), "s"),
        "store.expire_now.calls": (calls("store.expire_now"), "count"),
        "store.expire_now.busy_s": (busy("store.expire_now"), "s"),
        "plans.construct_s": (busy("plans.construct"), "s"),
        "plans.execute_s": (busy("plans.execute"), "s"),
        "plans.construct_jobs": (total(lambda s: s["name"] == "plans.construct", "jobs"), "count"),
        "plans.execute_jobs": (total(lambda s: s["name"] == "plans.execute", "jobs"), "count"),
        "spark.jobs": (every("jobs"), "count"),
        "spark.stages": (every("stages"), "count"),
        "spark.tasks": (every("tasks"), "count"),
        "spark.fixed.jobs": (sum(k["jobs"] for k in kinds.values()), "count"),
        "spark.fixed.stages": (sum(k["stages"] for k in kinds.values()), "count"),
        "spark.executor_run_s": (every("executor_run_ms") / 1000.0, "s"),
        "spark.shuffle_read_bytes": (every("shuffle_read_bytes"), "B"),
        "spark.shuffle_write_bytes": (every("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (every("spill_bytes"), "B"),
        "trace.jobgroup_s": (rec.jobgroup_s, "s"),
    }
    modules = layer.get("plan_module_busy_s", {})
    for module in workloads.PLAN_MODULES:
        m[f"plans.{module}.busy_s"] = (modules.get(module, 0.0), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_kind_counters(rec, counters: dict, prefix: set) -> dict:
    """Spark jobs/stages/tasks summed per request kind (set-up under
    ``setup``) over the set-up spans and the ``prefix`` requests, the part of
    a run that repeats exactly for a seed."""
    spans = {s["id"]: s for s in rec.spans}
    out: dict[str, dict] = {}
    for s in rec.spans:
        if s["req"] is not None and s["req"] not in prefix:
            continue
        top = s
        while top["parent"] is not None:
            top = spans[top["parent"]]
        kind = top.get("kind", "setup") if top["name"] == "request" else "setup"
        c = counters.get(f"pb{s['id']}", {})
        agg = out.setdefault(kind, {"jobs": 0, "stages": 0, "tasks": 0})
        for k in agg:
            agg[k] += c.get(k, 0)
    return out


def run(args, tmp: str) -> tuple[dict, dict]:
    from spans import Recorder, harvest

    tracing = bool(args.trace)
    t = time.perf_counter()
    spark = start_session(tmp, tracing)
    session_s = time.perf_counter() - t
    try:
        rec = Recorder(spark, tracing)
        ctx = workloads.Ctx(spark=spark, rec=rec, root=ROOT, tmp=tmp, seed=args.seed,
                            seconds=args.seconds, tracing=tracing)
        out = workloads.WORKLOADS[args.workload](ctx)
        attempted = out["attempted"]
        failed = min(len(ctx.failures), attempted)
        e2e = {
            "setup_s": {"value": session_s + out["setup_s"], "unit": "s"},
            "latency_ms": {"value": out["latency_ms"], "unit": "ms"},
            "throughput_per_s": {"value": out["throughput"], "unit": "1/s"},
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": int(tracing),
            # in a traced run these are the traced figures; their difference
            # from an untraced run of the same seed is the tracing overhead
            "end_to_end": e2e,
            **out["report"],
            "failed_op_ratio": {"value": failed / attempted, "unit": "ratio"},
            "failures": ctx.failures[:20],
            "context": {
                **calibrate(tmp),
                "nproc": os.cpu_count(),
                "spark_master": f"local[{CPUS}]",
                "spark_version": spark.version,
            },
        }
        if tracing:
            counters = harvest(spark)
            kinds = per_kind_counters(rec, counters, out["layer"]["prefix_requests"])
            metrics = layer_metrics(rec, counters, kinds, out, session_s)
            report["spark_by_kind"] = kinds
            report["self_s"] = rec.self_times()
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            path = os.path.join(ROOT, ".perfbench_out",
                                f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": rec.spans, "job_groups": counters, "by_kind": kinds,
                           "metrics": metrics}, f, default=sorted)
        else:
            metrics = e2e
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        return report, result
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # every temp file, spill and Python worker stays inside the checkout,
    # and workers import veri_spark from it
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        report, result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
