"""Shared registry state and helpers for the plans.* domain modules.

``QUERIES`` / ``ORACLES`` are the single registration target; every
domain module registers into them via ``@register`` at import time
(``plans.registry`` imports all domain modules and re-exports the
dicts, so the public surface is unchanged by the split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from veri_spark.functions import vector as V
from veri_spark.operators import search as S
from veri_spark.operators import stats as ST
from veri_spark.operators.topk import (
    dedup_keep_best,
    topk,
    topk_per_group,
)
from veri_spark.sources.catalog import load_table

from typing import Callable

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_SCRATCH_ROOT: str | None = None


def scratch_store_root(key: str) -> str:
    """A session-scoped throwaway directory for queries that exercise the
    REAL persisted FeatureStore path inside the gate (the incremental
    dedup family). One root per process, removed at interpreter exit, and
    one FIXED subdirectory per query key — so a bench's 2-3 timed runs of
    the same query overwrite one store instead of leaking a fresh
    corpus+index parquet copy per invocation (round-13, r12 advisor)."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="veri_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    import os

    return os.path.join(_SCRATCH_ROOT, key)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} — the second "
                "registration would silently shadow the first (last-wins)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco



# ---------------------------------------------------------------------------
# Session cache: the ONE registry of per-session intermediates for every
# plan module (calendar spines, pair/edge frames, literal result rows).
# ---------------------------------------------------------------------------

_SESSION_CACHE: dict = {}


def session_cached(spark: SparkSession, sf_dir: str, name: str, build):
    """Return ``build()``'s result, computed once per (session, sf_dir,
    name) and replayed to every later caller. See :func:`shared_frame`
    for the contract."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SESSION_CACHE:
        _SESSION_CACHE[key] = build()
    return _SESSION_CACHE[key]


def shared_frame(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Session-shared ``build().localCheckpoint(eager=False)``: the first
    consumer in a sweep pays the build (the bench-documented cold-payer
    attribution), every later consumer replays the checkpoint.

    The contract of the session cache (:func:`session_cached`), which
    also holds literal rows and small Python state registered under the
    same key:

    - Key: (applicationId, sf_dir, name). A new SparkSession never sees
      another session's entries, and nothing persists across processes —
      every bench/oracle run recomputes from parquet. Entries live as
      long as the process; there is no eviction.
    - Storage: a ``localCheckpoint``, not ``persist``. A checkpoint is
      not in the catalog cache, so a between-query
      ``spark.catalog.clearCache()`` cannot drop it; it trades lineage
      for replay speed, so losing its blocks FAILS the job instead of
      silently recomputing. The checkpoint is lazy: the first action on
      the frame materializes it.
    - Immutable input: the key carries no content stamp, so the parquet
      under ``sf_dir`` must not be rewritten inside one application — a
      rewrite would replay stale frames. The fixture dirs are generated
      once and read-only; a long-lived service over mutable inputs must
      key by a content stamp or evict on ingest.
    - Size classes of what is registered: calendar-bounded spines (a
      few thousand rows at any SF: ``daily_*``); bounded literals (top-k
      rows, ranked probe rows, IVF-PQ audit state); and pair/edge frames
      that grow linearly to quadratically with the input — the
      co-purchase edge list (1.2M rows at sf0.1), the capped adjacency
      (<= |nodes| x 128), the stop-capped shingle pair aggregate, the
      MinHash candidate pairs, the kNN edge list (3n rows) and the IVF
      within-cell pair frame (sum of cell^2 rows). Those pair/edge
      frames are pinned for the life of the session.

    AQE coalesces a small builder's final shuffle to ONE partition and
    the checkpoint freezes that. That is the right layout for the
    prefix/rank consumers of the calendar spines (kpss and the
    ranking-operator family measured ~2x faster on 1 partition than 32
    — dozens of tiny stages), but a consumer that fans the spine out
    n^2 (distance_correlation's 5.8M-row pair frame: 8.9 s single-task
    vs 2.1 s spread) must repartition its own copy before the fan-out."""
    return session_cached(
        spark, sf_dir, name, lambda: build().localCheckpoint(eager=False)
    )


def daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (day, cents) daily-revenue spine — ONE partial-aggregated
    lineitem scan per session serving every temporal/nonparametric/
    stats_tests consumer (each previously re-ran the scan: 0.6-0.9 s per
    query at sf0.1). cents = SUM(l_extendedprice :: DECIMAL(28,10)) * 100
    :: BIGINT is exact, so every downstream fold is bit-identical to the
    inline build this replaces."""

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        return li.groupBy(F.col("l_shipdate").alias("day")).agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(28,10)")) * 100)
            .cast("bigint")
            .alias("cents")
        )

    return shared_frame(spark, sf_dir, "daily_cents_lineitem", build)


def daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (day, revq, cnt) daily order spine from ``orders`` — exact
    integer revenue cents and order count per order date, shared by the
    dependence panel (hoeffding_d_daily, distance_correlation_daily).
    revq = SUM(round(o_totalprice * 100) :: BIGINT) is exact, so derived
    columns (e.g. dCor's round(revq / 10000.0)) are bit-identical."""

    def build():
        o = load_table(spark, sf_dir, "orders")
        return o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revq"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )

    return shared_frame(spark, sf_dir, "daily_orders", build)


def daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (x, y) daily event-volume frame on the day-offset index
    (x = datediff(day, first day), y = events that day) shared by the
    trend pair (theil_sen_daily_trend, mann_kendall_daily_trend), which
    previously each paid the min-scan + count-scan."""

    def build():
        ev = load_table(spark, sf_dir, "events")
        d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("day0"))
        return (
            ev.crossJoin(F.broadcast(d0))
            .groupBy(
                F.datediff(F.col("ts").cast("date"), F.col("day0"))
                .cast("bigint")
                .alias("x")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        )

    return shared_frame(spark, sf_dir, "daily_event_counts", build)


def fan_parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count, ONLY when the
    frame is currently partitioned below it (round 15, guide §2.6/§6).

    Why: the driver's parquet inputs are single-file/single-ROW-GROUP per
    table, and a parquet scan cannot split one row group — so the first
    map stage of every query runs as ONE task regardless of core count
    (`spark.sql.files.minPartitionNum` cannot help; the extra splits come
    up empty). Queries whose scan stage carries heavy per-row fan-out
    (x60 replicate explodes, md5 digests, bigram tokenization) were
    measured single-threaded at sf0.1: the randomization test's explode
    stage ran 4.0-5.8 s in one task vs 0.7-1.3 s spread over 32.

    Use it immediately before the fan-out, on a NARROW projection, and
    only for order-insensitive downstream folds (the registry's exact
    integer/decimal discipline). At scale the scan has >= cores splits
    and this returns the frame UNCHANGED — the exchange only ever exists
    where the input's split count is below the core count, so nothing
    here is tuned to local mode. (`.rdd.getNumPartitions()` runs
    planning, not a job.)"""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _query_vector(spark: SparkSession, sf_dir: str, vid: int = 0) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vid).select("embedding").first()
    return [float(x) for x in row[0]]



# SQL fragment helpers (DuckDB dialect). Vectors are cast to DOUBLE[] so the
# oracle computes in the same precision as the Spark expressions.
_Q0 = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"



def _dd_l1(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, least(len({a}), len({b})) + 1),"
        f" i -> abs({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
    )



# ---------------------------------------------------------------------------
# KNN core (reference K1, K3, K4 — data/search.go:347-377, data/util.go)
# ---------------------------------------------------------------------------

def _knn(spark, sf_dir, score_func, hib=None, k=10):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cfg = S.SearchConfig(score_func=score_func, higher_is_better=hib, limit=k)
    out = S.search(emb, q, cfg, vector_col="embedding", id_cols=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))



_DD_CENTROID_DIST = """
    c AS (SELECT pos, AVG(v) AS av
          FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding)::DOUBLE AS v FROM embeddings)
          GROUP BY pos),
    x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding)::DOUBLE AS v FROM embeddings),
    d AS (SELECT x.vec_id, sqrt(SUM((x.v - c.av) * (x.v - c.av))) AS dist
          FROM x JOIN c USING (pos) GROUP BY x.vec_id)
"""



# ---------------------------------------------------------------------------
# Text analysis (north-star extensions over the documents table)
# ---------------------------------------------------------------------------

# Shared DuckDB fragments mirroring functions/text.py exactly.
_DD_TOKS = "(SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)"

_DD_SHINGLES = """
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
"""



def _minhash_seed_values() -> str:
    """VALUES clause of the affine MinHash coefficients, mirroring
    operators.dedup.minhash_coefficients exactly."""
    from veri_spark.operators.dedup import minhash_coefficients

    return ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coefficients(16))
    )



# ---------------------------------------------------------------------------
# Similarity search: IVF + hyperplane LSH (ANN scale paths; exact KNN above
# is the baseline — reference K2's Annoy index maps here, SURVEY.md 2.3)
# ---------------------------------------------------------------------------

_DD_CENTROIDS = "(SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8)"



# ---------------------------------------------------------------------------
# Batch 5 (round 2): TPC-H join/agg breadth — q7/q10/q13/q14/q17/q19/q22
# shapes adapted to the available columns. Money aggregates follow the
# deterministic cross-engine pattern: the per-row revenue product is exactly
# <= 4 decimal digits (2dp price x 2dp discount), so casting it to
# DECIMAL(18,4) BEFORE the sum makes the aggregate exact and summation-order-
# insensitive in both engines; final outputs are rounded on the exact
# decimal, then cast to DOUBLE so the schemas match.
# ---------------------------------------------------------------------------

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"



def _rev_dec():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")



# ---------------------------------------------------------------------------
# Batch 8 (round 3): training-data pipeline operators — benchmark
# decontamination, sequence packing, TF-IDF salience, keyword density,
# deterministic mixture sampling, cross-source boilerplate.
# ---------------------------------------------------------------------------

_DD_SPLIT_SHINGLES = """
    ws_t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shl AS (SELECT doc_id, list_distinct(list_transform(
              range(1, greatest(len(ws) - 1, 1)),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
            FROM ws_t),
    train_sh AS (SELECT DISTINCT unnest(shs) AS shingle FROM shl WHERE doc_id % 10 <> 0),
    eval_sh AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle
                FROM shl WHERE doc_id % 10 = 0)
"""



# Deterministic PQ codebooks for the oracle pair: entry c of subspace j is
# row c's j-th subvector (the same first-rows convention as _DD_CENTROIDS).
# Production PQ trains KMeans codebooks (pq_train); the scoring math being
# checked here — argmin encode + ADC lookup — is identical either way.
_PQ_M, _PQ_SUB, _PQ_K = 8, 8, 16


def _dd_subdist(a: str, b: str, j: str = "j") -> str:
    """DuckDB fragment: squared euclidean distance between the ``j``-th
    8-wide subvectors of two DOUBLE[] columns (1-based list indexing)."""
    d = f"({a}[{j}*8+t] - {b}[{j}*8+t])"
    return f"list_sum(list_transform(range(1, 9), t -> {d} * {d}))"



def _round_half_up(x: float, n: int) -> float:
    """Half-away-from-zero rounding, matching Spark's F.round and DuckDB's
    ROUND (Python's built-in round is half-even and would diverge exactly
    at .5 boundaries)."""
    s = 10.0 ** n
    v = abs(x) * s
    import math

    return math.copysign(math.floor(v + 0.5) / s, x)
