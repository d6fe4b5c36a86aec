"""Similarity search over embedding columns: exact baseline + scale paths.

The reference's ANN layer is a per-node Annoy index rebuilt by a background
pass and hot-swapped (data/data.go:27-32, data/newsync.go:147-222). On Spark
the equivalents are:

- exact brute-force top-k (the deterministic default — the reference's
  brute-force path, data/search.go:347-377): scan + score + TakeOrdered.
- IVF (inverted file): k centroids, vectors assigned to their nearest
  centroid (the "index build" ≙ Process pass); a query probes only the
  ``nprobe`` nearest centroid partitions. The centroid set is one value
  from seed to probe, a driver-side list of ``(centroid_id, centroid_vec)``;
  assignment folds it into the plan as literals, and at scale the table is
  written partitioned by ``centroid_id`` so probing prunes partitions at
  the parquet scan.
- random-hyperplane LSH signatures (angular): 1 bit per plane, vectors
  sharing a signature bucket are candidates. Deterministic plane matrix
  derived from the portable hash so the oracle can reproduce it.

MLlib's BucketedRandomProjectionLSH offers the euclidean variant of the
same idea; these compositions keep everything in plain DataFrame ops (no
model objects) and keep determinism for the correctness gate.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64_py
from veri_spark.functions.literals import literal_array
from veri_spark.functions.vector import euclidean_distance, euclidean_distance_fixed
from veri_spark.operators.topk import topk

#: Largest centroid set ``ivf_assign`` folds into the plan as literals
#: (codegen size); past it a broadcast join takes over.
INLINE_CENTROIDS_MAX = 256


def _centroid_distances(vector: Column, cents: list) -> Column:
    """``array(struct(d, cid), ...)``: the euclidean distance from ``vector``
    to each ``(centroid_id, centroid_vec)`` of the centroid list, folded
    into the plan as literals. An empty centroid set is a typed empty
    list, whose ``array_min`` is NULL and whose explode yields no rows."""
    if not cents:
        return F.array().cast("array<struct<d:double,cid:int>>")
    # unrolled scalar kernels only when the TOTAL term count fits one
    # generated method: past ~128 terms janino's 64KB method limit makes
    # the whole projection interpreted, slower than the aggregate kernel
    unroll = len(cents) * len(cents[0][1]) <= 128
    return F.array(
        *[
            F.struct(
                euclidean_distance(vector, [float(x) for x in vec], unroll=unroll).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, vec in cents
        ]
    )


def ivf_assign(
    df: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (euclidean); ties break on
    centroid id. This is the IVF index build.

    The centroid list (the normal case: a small set) is folded into the
    plan as LITERALS: the assignment is then
    ``array_min(array(struct(dist_i, cid_i)...))`` — a map-only projection,
    ZERO shuffles over the corpus. The earlier crossJoin + per-id window
    formulation shuffled N x k rows on the vector id, which at 100 TB is the
    single most expensive wrong plan in the engine. Above
    ``INLINE_CENTROIDS_MAX`` centroids (codegen size), fall back to a
    broadcast join + per-id window over a frame built from the list.
    """
    if len(centroids) <= INLINE_CENTROIDS_MAX:
        best = F.array_min(_centroid_distances(F.col(vector_col), centroids))
        return df.withColumn("centroid_id", best.getField("cid"))
    cent_df = df.sparkSession.createDataFrame(
        [(cid, [float(x) for x in vec]) for cid, vec in centroids], ["centroid_id", "__cv"]
    )
    scored = df.crossJoin(F.broadcast(cent_df)).withColumn(
        "__d", euclidean_distance(F.col(vector_col), F.col("__cv"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__d").asc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__d", "__cv")
    )


def take_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> list:
    """Deterministic centroid seed: the k lowest-id vectors, collected as
    the centroid list ``[(centroid_id, centroid_vec)]`` every IVF operator
    takes (one job; the ids keep ``id_col``'s values).

    (KMeans refinement would improve balance; seeding is kept deterministic
    for oracle parity. Swap in ``kmeans_centroids`` fit on a sample for
    production quality.)
    """
    rows = df.orderBy(F.col(id_col).asc()).limit(k).select(id_col, vector_col).collect()
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


def nearest_centroids(centroids: list, query: list[float]) -> list:
    """The centroid ids ordered nearest first by euclidean distance to
    ``query``, ties on the lower id. The arithmetic is
    ``euclidean_distance``'s (min-length truncation, a left-to-right double
    sum of ``(c - q) * (c - q)``, a correctly rounded square root, NaN
    last), so the order equals ranking the centroids in Spark, without a
    job."""
    q = [float(x) for x in query]

    def key(cent):
        cid, vec = cent
        s = 0.0
        for c, x in zip(vec, q):
            s += (c - x) * (c - x)
        d = math.sqrt(s)
        return (1, 0.0, cid) if math.isnan(d) else (0, d, cid)

    return [cid for cid, _ in sorted(centroids, key=key)]


def ivf_assign_multi(
    df: DataFrame,
    centroids: list,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Multi-probe assignment: one output row per (vector, cell) for the
    vector's ``nprobe`` nearest centroids — the recall lever for blocked
    similarity ops (a vector near a cell boundary gets looked up in the
    neighboring cell too). Same literal-centroid, map-only plan as
    ``ivf_assign``; the explode multiplies rows by nprobe, nothing
    shuffles."""
    probes = F.array_sort(_centroid_distances(F.col(vector_col), centroids))
    return (
        df.withColumn("__probe", F.explode(F.slice(probes, 1, nprobe)))
        .withColumn("centroid_id", F.col("__probe.cid"))
        .drop("__probe")
    )


def knn_join(
    df: DataFrame,
    centroids: list,
    k: int = 3,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate kNN JOIN: for EVERY vector, its k nearest neighbors
    among vectors sharing the same IVF cell — the all-rows primitive
    behind embedding-graph construction, near-dup clustering seeds, and
    label propagation (vs ``ivf_search``, which answers ONE query).

    Plan: one map-only centroid assignment (centroids are plan literals),
    then a self-equi-join on ``centroid_id`` and a per-source window
    top-k (WindowGroupLimit pushes the rank filter into the sort). Cost
    is sum(bucket^2) — bounded by (n/c)^2 * c for c balanced cells, so
    scaling to 100 TB means growing the centroid count with the corpus
    (keeping expected bucket size constant), not growing buckets.
    Neighbors in other cells are missed (standard IVF recall trade);
    ``nprobe > 1`` is the recall lever: the SOURCE side probes its nprobe
    nearest cells (ivf_assign_multi) while each neighbor stays in its one
    home cell, so every (src, dst) pair still matches at most once and
    only the probe side fans out.

    Returns (src, dst, rank, dist): rank 1..k by ascending euclidean
    distance, ties on the neighbor id.
    """
    assigned = ivf_assign(df, centroids, id_col=id_col, vector_col=vector_col)
    probed = (
        assigned
        if nprobe <= 1
        else ivf_assign_multi(
            df, centroids, nprobe=nprobe, id_col=id_col, vector_col=vector_col
        )
    )
    a = probed.select(
        "centroid_id",
        F.col(id_col).alias("src"),
        F.col(vector_col).alias("__va"),
    )
    b = assigned.select(
        "centroid_id",
        F.col(id_col).alias("dst"),
        F.col(vector_col).alias("__vb"),
    )
    # the unrolled fixed-dim kernel handles rows up to dim long (coalesce-
    # to-0 truncation) and would silently truncate a LONGER one, so dim is
    # the centroids' length and a longer pair takes the general kernel: the
    # same sums, and no corpus scan for the max vector size
    dim = max((len(vec) for _, vec in centroids), default=0)
    longer = (F.size("__va") > dim) | (F.size("__vb") > dim)
    dist = F.when(longer, euclidean_distance("__va", "__vb")).otherwise(
        euclidean_distance_fixed(F.col("__va"), F.col("__vb"), dim)
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("dist", dist)
    )
    w = Window.partitionBy("src").orderBy(
        F.col("dist").asc(), F.col("dst").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "rank", "dist")
    )


def ivf_search(
    df: DataFrame,
    centroids: list,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_builder=None,
    higher_is_better: bool = False,
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query, take ``nprobe``,
    search only vectors assigned to those centroids, exact top-k within.

    With the corpus partitioned by centroid_id, the assignment filter is
    partition pruning — the scan reads nprobe/k of the data.
    """
    assigned = ivf_assign(df, centroids, id_col, vector_col)
    return ivf_search_assigned(
        assigned, centroids, query_vector, k, nprobe, id_col, vector_col,
        score_builder=score_builder, higher_is_better=higher_is_better,
    )


def ivf_probe_candidates(
    assigned: DataFrame,
    centroids: list,
    query_vector: list[float],
    nprobe: int = 2,
) -> DataFrame:
    """The probe step alone: rank centroids by (euclidean) distance to the
    query on the driver (``nearest_centroids``, no Spark job), keep
    ``nprobe``, and return the corpus rows assigned to those buckets —
    UNscored. Probe selection is an index property and always uses
    euclidean centroid distance (the geometry the buckets were built with);
    the caller applies its own score function / filters / top-k to the
    candidate set. When ``assigned`` is read from a table partitioned by
    ``centroid_id``, the isin filter is partition pruning at the scan."""
    probe_ids = nearest_centroids(centroids, query_vector)[:nprobe]
    return assigned.filter(F.col("centroid_id").isin(probe_ids))


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    tol: float = 1e-6,
    round_decimals: int | None = None,
) -> list:
    """Lloyd's k-means, Spark-first: deterministic seed (``take_centroids``
    = k lowest-id vectors), then per iteration one map-only literal-
    centroid assignment + one (cluster, dim) partial-aggregated mean.

    Each iteration collects exactly k x dim floats to the driver (the new
    centroids — plan literals for the next assignment), so the corpus is
    scanned ``iters`` times but NEVER shuffled on the vector id; the only
    shuffle is the k*dim-partial mean. Stops early when no centroid moves
    more than ``tol`` (euclidean). ``round_decimals`` rounds centroid
    components after each update — pinning the trajectory for cross-engine
    replay (the oracle-parity discipline; leave None in production).

    Returns the final centroid list ``[(centroid_id, centroid_vec)]``,
    sorted by id — feed it to ``ivf_assign`` / ``knn_join``. An empty
    frame has no seed and returns ``[]``.
    """
    cents = take_centroids(df, k, id_col=id_col, vector_col=vector_col)
    if not cents:
        return cents
    src = df.select(
        F.col(id_col), F.col(vector_col).cast("array<double>").alias("__x")
    )
    for _ in range(iters):
        assigned = ivf_assign(src, cents, id_col=id_col, vector_col="__x")
        new_rows = (
            assigned.select("centroid_id", F.posexplode("__x").alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("v").alias("av"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "av"))),
                    lambda s: s["av"],
                ).alias("c")
            )
            .collect()
        )
        updated = dict(cents)
        for r in new_rows:
            vec = [float(x) for x in r["c"]]
            if round_decimals is not None:
                vec = [round(x, round_decimals) for x in vec]
            updated[r["centroid_id"]] = vec
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, updated[cid])))
            for cid, old in cents
        )
        cents = sorted(updated.items())
        if shift <= tol:
            break
    return cents


def kmeans_lloyd_micro(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
):
    """Lloyd's k-means on MICRO-QUANTIZED integer coordinates — the
    bit-exact variant of ``kmeans_train`` built for oracle replay.

    Every coordinate is fixed to ``floor(1e6 * x + 0.5)`` (a BIGINT), so
    squared distances are EXACT integer arithmetic (dim 64, |x| < 1 =>
    per-point distance < 2^47, corpus sums < 2^62: no overflow, no
    float-summation order dependence — ties in the argmin break exactly
    the same way in any engine). Centroid updates are
    ``floor(sum / n + 0.5)`` where sum and n are exact integers below
    2^53, so the one double division is correctly rounded IEEE and
    bit-identical everywhere. This removes BOTH cross-engine hazards the
    6dp-rounded ``kmeans_train`` merely shrinks (avg-order ulps, rounding
    at a .5 boundary).

    Same execution shape as ``kmeans_train`` (the reference's Process
    pass rebuilds its index the same way, data/newsync.go:147-222): the
    micro corpus is persisted ONCE; each iteration is one map-only
    literal-centroid argmin over it (an array_min over k (dist, id)
    structs — no shuffle) plus one (cluster, dim) partial-aggregated
    sum/count that collects k*dim integers to the driver. The corpus
    never shuffles on the vector id; lineage never grows (each iteration
    plans from the persisted frame, so no localCheckpoint is needed —
    the pagerank loop checkpoints because its RESULT frame is iterated).

    Empty clusters keep their previous centroid (the oracle's COALESCE).
    At 100 TB the per-cluster coordinate sums approach 2^63 only past
    ~10^12 rows per cluster; switch the sum to DECIMAL(38,0) there.

    Returns ``(centroids, history)`` where centroids is the final
    ``[(centroid_id, [int micro coords])]`` and history has one dict per
    iteration: ``iter``, ``inertia_micro2`` (exact BIGINT inertia of the
    fresh assignment under the INCOMING centroids), ``n_moved``
    (centroids whose micro vector changed this update), ``n_points``.
    Lloyd + the quantization penalty bound sum_cd n_c*delta^2 <=
    0.25*n*dim gives the provable invariant
    ``inertia[t+1] <= inertia[t] + 0.25*n*dim`` (tested in
    tests/test_round10_units.py).
    """
    import numpy as np
    import pandas as pd

    src = df.select(F.col(vector_col).alias("__v")).persist()
    # seeds ride a TakeOrdered over the UNPERSISTED frame (partial top-k
    # per partition, merged once): the persisted corpus then materializes
    # inside iteration 1's aggregation job instead of paying a dedicated
    # full-scan seed job up front (round-11 verdict task 6)
    cents = [
        (int(r["__id"]), [int(x) for x in r["__xm"]])
        for r in df.select(
            F.col(id_col).alias("__id"),
            F.transform(
                F.col(vector_col).cast("array<double>"),
                lambda v: F.floor(F.lit(1000000.0) * v + F.lit(0.5)).cast(
                    "bigint"
                ),
            ).alias("__xm"),
        )
        .orderBy("__id")
        .limit(k)
        .collect()
    ]
    history = []
    for it in range(1, iters + 1):
        # Round 14 (optimization): each iteration's assign+update pass is
        # an Arrow mapInPandas numpy kernel emitting one exact-int64
        # partial row per (cluster, dim) per chunk — guide §4.2; the old
        # shape built a k-struct array_min tree + posexplode per
        # iteration (py4j chatter + Catalyst analysis + interpreted HOF
        # folds, the bulk of this loop's SF-invariant fixed cost). The
        # merged (centroid_id, pos) sums/counts/dist-sums are integer and
        # order-free, so they equal the old posexplode aggregate bit for
        # bit; argmin tie-break matches array_min via the cid-ASCENDING
        # centroid matrix (numpy argmin returns the first minimum).
        order = sorted(range(len(cents)), key=lambda i: cents[i][0])
        cid_arr = np.array([cents[i][0] for i in order], dtype=np.int64)
        cmat = np.array([cents[i][1] for i in order], dtype=np.int64)
        dim_ = cmat.shape[1]
        pos_arr = np.arange(dim_, dtype=np.int32)

        def partials(batches, cid_arr=cid_arr, cmat=cmat, pos_arr=pos_arr):
            for pdf in batches:
                for lo in range(0, len(pdf), _MICRO_CHUNK):
                    xm = _micro_quantize_np(
                        pdf["__v"].iloc[lo : lo + _MICRO_CHUNK].to_numpy()
                    )
                    diff = xm[:, None, :] - cmat[None, :, :]
                    d = (diff * diff).sum(axis=2)
                    j = d.argmin(axis=1)
                    dmin = d[np.arange(len(j)), j]
                    out = []
                    for ui in np.unique(j):
                        mask = j == ui
                        svec = xm[mask].sum(axis=0)
                        out.append(
                            pd.DataFrame(
                                {
                                    "centroid_id": np.full(
                                        len(pos_arr), cid_arr[ui],
                                        dtype=np.int64,
                                    ),
                                    "pos": pos_arr,
                                    "s": svec,
                                    "n": np.full(
                                        len(pos_arr), int(mask.sum()),
                                        dtype=np.int64,
                                    ),
                                    "dsum": np.full(
                                        len(pos_arr), int(dmin[mask].sum()),
                                        dtype=np.int64,
                                    ),
                                }
                            )
                        )
                    if out:
                        yield pd.concat(out, ignore_index=True)

        stats = (
            src.mapInPandas(
                partials,
                "centroid_id bigint, pos int, s bigint, n bigint,"
                " dsum bigint",
            )
            .groupBy("centroid_id", "pos")
            .agg(
                F.sum("s").cast("bigint").alias("s"),
                F.sum("n").cast("bigint").alias("n"),
                F.sum("dsum").cast("bigint").alias("dsum"),
            )
            .collect()
        )
        # dist repeats once per exploded dim: take each cluster's dsum at
        # pos 0 only, so every point's dist counts exactly once.
        dim = len(cents[0][1])
        inertia = sum(int(r["dsum"]) for r in stats if r["pos"] == 0)
        n_points = sum(int(r["n"]) for r in stats if r["pos"] == 0)
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        import math

        n_moved = 0
        updated = []
        for cid, old in cents:
            if cid in by_cid:
                new = [
                    int(math.floor(by_cid[cid][p][0] / by_cid[cid][p][1] + 0.5))
                    for p in range(dim)
                ]
            else:
                new = old
            if new != old:
                n_moved += 1
            updated.append((cid, new))
        cents = updated
        history.append(
            {
                "iter": it,
                "inertia_micro2": inertia,
                "n_moved": n_moved,
                "n_points": n_points,
            }
        )
    src.unpersist()
    return cents, history


def _micro_quantize_np(vecs):
    """Exact numpy replica of ``_micro_xm``: floor(1e6 * double(x) + 0.5)
    as int64. float->double cast, the one double multiply, the +0.5 and
    the floor are all single correctly-rounded IEEE ops, so the result is
    bit-identical to the Spark expression on every element.

    Malformed-input guard (r14 advisor): the old Catalyst floor expression
    propagated null for a NaN element, but numpy's float64->int64 astype
    would turn NaN into INT64_MIN — a silently wrong assignment/distance —
    and a null or ragged-length vector would make ``np.stack`` raise a
    shape error with no hint of the cause. Both now fail loudly instead:
    the fixtures carry only finite fixed-dim vectors, so a hit here means
    corrupt input, never valid data."""
    import numpy as np

    try:
        arr = np.stack(vecs).astype(np.float64)
    except ValueError as exc:
        raise ValueError(
            "_micro_quantize_np: null or ragged-length embedding in batch "
            "(all vectors must be non-null and share one dimension): "
            f"{exc}"
        ) from exc
    if not np.isfinite(arr).all():
        raise ValueError(
            "_micro_quantize_np: non-finite embedding element (NaN/inf) — "
            "refusing to quantize (int64 cast would silently map it to "
            "INT64_MIN)"
        )
    return np.floor(1e6 * arr + 0.5).astype(np.int64)


#: row-chunk size for the numpy micro kernels: bounds the (rows, k, dim)
#: distance tensor to ~16-32 MB per chunk independent of the Arrow batch
#: size, so no maxRecordsPerBatch setting can blow worker memory
_MICRO_CHUNK = 2048


def kmeans_micro_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Map-only exact-integer assignment under broadcast micro centroids
    (the final-pass companion of ``kmeans_lloyd_micro``): returns
    (id, centroid_id, dist) with dist the exact BIGINT squared micro
    distance. Zero shuffles.

    Round 14 (optimization): the k-literal-struct ``array_min`` argmin
    became an Arrow ``mapInPandas`` numpy kernel (guide §4.2 — batch
    vectorized native code instead of k*dim interpreted HOF lambdas per
    row). The py4j expression-tree build, Catalyst analysis of the
    k-struct tree, and the per-row interpreted ``aggregate`` folds all
    disappear; arithmetic stays EXACT int64 (quantize via
    ``_micro_quantize_np``; per-dim diff <= 2e6 so the squared-distance
    sums stay far inside int64), and the tie-break matches exactly:
    ``array_min`` over (d, c) structs picks the lowest centroid_id among
    minimal distances, and numpy ``argmin`` returns the FIRST minimum of
    the cid-ASCENDING centroid matrix. Only (id, vector) cross the
    Python boundary. Measured at sf0.1: the 16-centroid assignment
    dropped from ~1.2 s of plan+eval to <0.3 s; results bit-identical
    (oracle gate + SemDeDup/curation reconciliation tests)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    cents = sorted((int(cid), [int(x) for x in cm]) for cid, cm in centroids)
    cid_arr = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([cm for _, cm in cents], dtype=np.int64)
    src = df.select(id_col, vector_col)
    out_schema = StructType(
        [
            src.schema[id_col],
            StructField("centroid_id", LongType(), False),
            StructField("dist", LongType(), False),
        ]
    )

    def assign(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), _MICRO_CHUNK):
                chunk = pdf.iloc[lo : lo + _MICRO_CHUNK]
                xm = _micro_quantize_np(chunk[vector_col].to_numpy())
                diff = xm[:, None, :] - cmat[None, :, :]
                d = (diff * diff).sum(axis=2)
                j = d.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        id_col: chunk[id_col].to_numpy(),
                        "centroid_id": cid_arr[j],
                        "dist": d[np.arange(len(j)), j],
                    }
                )

    return src.mapInPandas(assign, out_schema)


def ivf_search_assigned(
    assigned: DataFrame,
    centroids: list,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_builder=None,
    higher_is_better: bool = False,
) -> DataFrame:
    """IVF probe over a PRE-ASSIGNED corpus (a persisted index built by a
    prior maintenance pass — the hot-swapped Annoy snapshot analog,
    data/newsync.go:147-222). When ``assigned`` is read from a table
    partitioned by ``centroid_id``, the probe filter is partition pruning:
    the scan touches nprobe/k of the files.

    ``score_builder`` ranks the candidates (default euclidean, lower is
    better) — the reference's Annoy path scores with the CONFIGURED
    function (data/search.go:311-327), so callers dispatching Annoy* names
    must pass the resolved builder, not rely on the default."""
    candidates = ivf_probe_candidates(assigned, centroids, query_vector, nprobe)
    if score_builder is None:
        score_builder, higher_is_better = euclidean_distance, False
    scored = candidates.withColumn(
        "score", score_builder(F.col(vector_col), query_vector)
    )
    return topk(scored, "score", k, higher_is_better=higher_is_better, tie_cols=[id_col])


def hyperplane_matrix(dim: int, planes: int = 16) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix: sign from the portable
    hash of ``"plane|pos"`` — reproducible in SQL, Python, and Spark."""
    return [
        [1.0 if portable_hash64_py(f"{p}|{pos}") % 2 == 1 else -1.0 for pos in range(dim)]
        for p in range(planes)
    ]


def lsh_hyperplane_signature(
    df: DataFrame,
    dim: int,
    planes: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Angular LSH signature: bit p of ``sig`` = (v . h_p >= 0).

    Vectors with equal signatures fall in the same bucket; bucket join =
    candidate generation for cosine near-dup at scale (the explode/groupBy
    shape partial-aggregates map-side, shuffling only (id, plane) partial
    dots, never the vectors).
    """
    H = hyperplane_matrix(dim, planes)
    # In-row computation: each plane's dot product is a zip_with/aggregate
    # against the LITERAL plane vector, so the whole signature is one narrow
    # projection — no explode, no join, no shuffle at all. At 100 TB this is
    # a map-only stage; the former explode+join formulation shuffled
    # dim x planes rows per vector.
    v = F.col(vector_col).cast("array<double>")

    def plane_dot(p: int):
        plane_lit = literal_array(H[p])
        return F.aggregate(
            F.zip_with(v, plane_lit, lambda x, w: x * w), F.lit(0.0), lambda a, x: a + x
        )

    sig = None
    for p in range(planes):
        bit = F.when(plane_dot(p) >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return df.select(F.col(id_col), sig.alias("sig"))


def lsh_banded_pairs(
    df: DataFrame,
    dim: int,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """LSH banding over hyperplane signatures: split the ``planes``-bit
    signature into ``bands`` contiguous bands; any pair sharing a band value
    is a candidate (id_a < id_b, de-duplicated across bands).

    The banding trade-off is the MinHash-LSH one: more bands -> higher
    recall, more candidates. The band table carries only (id, band, value) —
    vectors are re-joined afterwards so the explode never shuffles the
    embedding payload. Candidate generation is linear in corpus size; there
    is no all-pairs stage anywhere.
    """
    width = planes // bands
    mask = (1 << width) - 1
    sigs = lsh_hyperplane_signature(df, dim, planes, id_col, vector_col)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.explode(band_entries).alias("e")
    ).select(id_col, F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bv")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bv")
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def ivf_multi_search(
    df: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Batch ANN join: top-k nearest corpus vectors per query row, probing
    only each query's ``nprobe`` nearest centroid buckets.

    The scale shape: corpus and queries are BOTH assigned to centroid
    buckets map-only (literal centroids, see ivf_assign); the join is an
    equi-join on centroid_id — i.e. each query meets only its probed
    fraction of the corpus, never a cross join. Per-query top-k is the
    rank-window; Spark >= 3.5 pushes the rank filter into the sort
    (InferWindowGroupLimit), so no group materializes fully.
    """
    from veri_spark.operators.topk import topk_per_group

    q_probed = ivf_assign_multi(
        queries.select(query_id_col, query_vec_col), centroids, nprobe,
        vector_col=query_vec_col,
    )
    assigned = ivf_assign(df, centroids, id_col, vector_col)
    candidates = assigned.join(q_probed, "centroid_id")
    scored = candidates.withColumn(
        "score", euclidean_distance(F.col(vector_col), F.col(query_vec_col))
    )
    return topk_per_group(
        scored,
        [query_id_col],
        "score",
        k,
        higher_is_better=False,
        tie_cols=[id_col],
        rank_col="rnk",
    ).select(query_id_col, id_col, "score", "rnk")


def kmeans_centroids(
    df: DataFrame,
    k: int,
    vector_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list:
    """Production-quality IVF centroids: MLlib KMeans fit (optionally on a
    sample — at 100 TB you fit on ~1M sampled rows, not the corpus). Returns
    the same centroid list as take_centroids, so the
    whole IVF pipeline (assign/search/multi-search/persisted index) swaps
    seeding strategies with one argument. Deterministic for a fixed seed;
    the oracle-checked queries keep the lowest-id seeding because KMeans
    determinism is not reproducible in SQL."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        array_to_vector(F.col(vector_col).cast("array<double>")).alias("features")
    )
    if sample_fraction:
        feat = feat.sample(sample_fraction, seed=seed)
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(feat)
    return [
        (i, [float(x) for x in center]) for i, center in enumerate(model.clusterCenters())
    ]


def quantize_int8(
    df: DataFrame, vector_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector scale
    = max(|x|)/127, elements floor(x/scale + 0.5) in [-127, 127]. Cuts the
    vector payload 4x (the dominant shuffle/scan cost of embedding
    pipelines) while dot-product ranking stays within ~1% of float.

    The floor(x*s+0.5) formulation is pure IEEE double arithmetic —
    bit-identical across engines, unlike round(). A zero vector (mx = 0)
    quantizes to all-zero with scale 1 instead of NaN-poisoning the column
    (mirrors the ``or 1.0`` guard on the Python query side in
    quantized_dot_scores)."""
    v = F.col(vector_col).cast("array<double>")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    sc = F.lit(127.0) / F.when(mx == 0, F.lit(1.0)).otherwise(mx)
    return df.withColumn("__mx", mx).withColumn(
        out_col,
        F.transform(v, lambda x: F.floor(x * sc + F.lit(0.5)).cast("int")),
    )


def quantized_dot_scores(
    df: DataFrame,
    query: list[float],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Dot-product scores computed in int8: integer dot of the quantized
    vectors, de-scaled back to float space (score ~= <a, q>). The integer
    dot is exact, so cross-engine results differ only by the deterministic
    quantization error. Map-only plan: no shuffle until a downstream top-k."""
    q = [float(x) for x in query]
    qmx = max(abs(x) for x in q) or 1.0
    qsc = 127.0 / qmx  # same associativity as quantize_int8 / the SQL oracle
    qq = [int((x * qsc + 0.5) // 1) for x in q]
    quant = quantize_int8(df, vector_col)
    qarr = literal_array(qq)
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), qarr, lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    score = dot.cast("double") * (F.col("__mx") * F.lit(qmx)) / F.lit(127.0 * 127.0)
    return quant.select(F.col(id_col), score.alias("score"))


def group_centroid_outliers(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    per_group: int = 3,
) -> DataFrame:
    """Per-group centroid and the ``per_group`` farthest members (embedding-
    space outlier detection / label-noise audit for training data).

    Fully relational: posexplode the vectors, average per (label, dim) —
    partial-aggregated, state = |labels| x dim — join the per-dim means back
    and sum squared deviations per row, then a bounded per-group top-k. The
    explode widens the data dim-fold but every stage is a hash aggregate;
    nothing is quadratic and no vector ever crosses a shuffle twice."""
    from veri_spark.operators.topk import topk_per_group

    x = df.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(F.col(vector_col).cast("array<double>")).alias("i", "v"),
    )
    cent = x.groupBy(label_col, "i").agg(F.avg("v").alias("m"))
    dist = (
        x.join(cent, [label_col, "i"])
        .groupBy(id_col, label_col)
        .agg(
            F.sqrt(
                F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))
            ).alias("dist")
        )
    )
    return topk_per_group(
        dist,
        [label_col],
        "dist",
        per_group,
        higher_is_better=True,
        tie_cols=[id_col],
        rank_col="rnk",
    )


# -- product quantization (PQ): the memory-scale ANN path ---------------------
#
# IVF bounds WHICH vectors a query touches; PQ bounds what each touched
# vector COSTS: a d-dim float32 vector (4d bytes) becomes m one-byte codes
# (16x smaller at d=64, m=8, k<=256), and scoring a candidate is m table
# lookups instead of d multiply-adds. The codebooks are tiny (m*k*(d/m)
# floats) and live in the PLAN as literals, so encode and ADC scoring are
# both map-only — zero shuffles over the corpus, the same discipline as
# ivf_assign. The reference's Annoy index is an in-memory tree per node;
# IVF-PQ is the standard distributed replacement (Jegou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).


def pq_train(
    df: DataFrame,
    vector_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subvectors and fit KMeans with ``k`` centroids per subspace (optionally
    on a sample — at 100 TB fit on ~1M sampled rows). Returns
    ``codebooks[j][c] = centroid c of subspace j`` as plain Python lists,
    sized to ride into later plans as literals. Deterministic for a fixed
    seed. The vector dim must be divisible by ``m``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vector_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    v = F.col(vector_col).cast("array<double>")
    base = df.select(v.alias("__v"))
    if sample_fraction:
        base = base.sample(sample_fraction, seed=seed)
    base = base.persist()
    try:
        books: list[list[list[float]]] = []
        for j in range(m):
            feats = base.select(
                array_to_vector(F.slice("__v", j * sub + 1, sub)).alias("features")
            )
            model = KMeans(k=k, seed=seed + j, featuresCol="features").fit(feats)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
    finally:
        base.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vector_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the argmin-distance
    codebook entry (ties break on the lower code, numpy argmin-first).

    This is the repo's second sanctioned Arrow escape hatch (SURVEY.md
    2.7): a vectorized ``pandas_udf`` over (batch x k x sub) numpy
    broadcasting. The m*k candidate distances per row CANNOT live in the
    plan as literal expressions the way ivf_assign's centroids do — at
    k=16 the generated code already blows janino's method limit and falls
    back to interpreted per-row evaluation (~6x slower than this), and
    production PQ wants k=256. Encode is still MAP-ONLY — one
    ArrowEvalPython over the scan, no shuffle — and runs once at ingest;
    queries touch only the persisted codes. The output ``array<int>`` of
    length m is what the 100 TB corpus stores and shuffles — the float
    vectors never need to leave the scan again."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books_np = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            # (B, k) squared distances; same math as the DuckDB oracle
            d2 = ((S[:, None, :] - books_np[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vector_col)))


def pq_adc_scores(
    df_codes: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric distance computation (ADC): approximate squared euclidean
    distance of the (unquantized) query to each encoded vector, as the sum
    of per-subspace lookup-table entries. The LUT (m x k doubles, built
    driver-side from the query) enters the plan as a literal; the score is
    an explicit m-term sum of element_at lookups (codegen — not a
    higher-order function, see _sq_dist_lit). Lower is better (distance)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query]
    lut = [
        [
            sum((q[j * sub + t] - c[t]) ** 2 for t in range(sub))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    code = F.col(code_col)
    score = None
    for j in range(m):
        row_lit = literal_array(lut[j])
        term = F.element_at(row_lit, F.element_at(code, j + 1) + 1)
        score = term if score is None else score + term
    return df_codes.withColumn("score", score)


def pq_search(
    df: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    n: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """End-to-end PQ top-n: encode (or reuse a ``pq_code`` column if the
    corpus is already encoded) + ADC score + bounded TakeOrdered. Compose
    with ivf_probe_candidates for IVF-PQ: probe prunes the partitions, ADC
    scores the survivors on codes alone."""
    if "pq_code" not in df.columns:
        df = pq_encode(df, codebooks, vector_col=vector_col)
    scored = pq_adc_scores(df, query, codebooks, id_col=id_col)
    return topk(
        scored.select(id_col, "score"), "score", n,
        higher_is_better=False, tie_cols=[id_col],
    )


def ivf_pq_search(
    assigned: DataFrame,
    centroids: list,
    query: list[float],
    codebooks: list[list[list[float]]],
    n: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full memory- and compute-scale ANN path in one call —
    the probe prunes WHICH vectors are touched (nprobe/k of the partitions,
    partition pruning when the corpus is stored partitioned by
    ``centroid_id``), PQ bounds what each touched vector COSTS (ADC over
    m one-byte codes; the float vector is never read when a persisted
    ``pq_code`` column exists). This is the composition the store's
    ``refresh_index(pq_m=...)`` persists; exposed here so ad-hoc corpora
    get the same plan. Map-only end to end: centroid probe ids and the
    query LUT are plan literals, the only shuffle is the bounded top-n."""
    cand = ivf_probe_candidates(assigned, centroids, query, nprobe=nprobe)
    if "pq_code" not in cand.columns:
        cand = pq_encode(cand, codebooks, vector_col=vector_col)
    scored = pq_adc_scores(cand, query, codebooks, id_col=id_col)
    return topk(
        scored.select(id_col, "score"), "score", n,
        higher_is_better=False, tie_cols=[id_col],
    )


def _micro_xm(vector_col: str = "embedding"):
    """Micro-quantized BIGINT coordinates — floor(1e6*x + 0.5) — the
    kmeans_lloyd_micro fixed-point discipline as a reusable column."""
    return F.transform(
        F.col(vector_col).cast("array<double>"),
        lambda v: F.floor(F.lit(1000000.0) * v + F.lit(0.5)).cast("bigint"),
    )


def _micro_subdist(xm_col, codeword: list[int], j: int, sub: int):
    """Exact BIGINT squared distance between the j-th ``sub``-wide
    subvector of a micro array column and a literal micro codeword."""
    return F.aggregate(
        F.zip_with(
            F.slice(xm_col, j * sub + 1, sub),
            F.lit(list(codeword)).cast("array<bigint>"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def pq_micro_code_cols(xm_col, books: list[list[list[int]]]):
    """One (code, err) struct column per subspace: the argmin codeword
    under exact integer arithmetic, ties to the lower code (same
    tie-break as numpy argmin-first and the oracle's row_number). Built
    as m SEPARATE array_min columns — not one fused m*k expression — so
    each stays inside codegen limits (the janino blowup pq_encode's
    docstring documents for the fused float form). Map-only."""
    m = len(books)
    sub = len(books[0][0])
    cols = []
    for j in range(m):
        cols.append(
            F.array_min(
                F.array(
                    *[
                        F.struct(
                            _micro_subdist(xm_col, cw, j, sub).alias("d"),
                            F.lit(c).cast("int").alias("c"),
                        )
                        for c, cw in enumerate(books[j])
                    ]
                )
            )
        )
    return cols


def pq_micro_encode(
    df: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Encode a corpus under micro-int PQ codebooks in ONE Arrow pass:
    returns ``(id, code_0..code_{m-1} INT, qerr BIGINT)`` where code_j is
    the exact-integer argmin codeword of subspace j (ties to the LOWER
    code — numpy argmin-first over the code-ascending axis, identical to
    ``pq_micro_code_cols``'s array_min struct compare and the oracle's
    row_number) and qerr the exact total squared micro quantization
    error. Round-14 optimization (guide §4.2): the m*k*sub interpreted
    HOF expression tree this replaces cost ~5 s of py4j build + Catalyst
    analysis + per-row interpreted folds at ANY scale factor; the numpy
    kernel is a single small plan node, bit-identical by integer
    arithmetic. Map-only; only (id, vector) cross the Python boundary."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    m = len(books)
    sub = len(books[0][0])
    bmat = np.array(books, dtype=np.int64)  # (m, k, sub)
    src = df.select(id_col, vector_col)
    out_schema = StructType(
        [src.schema[id_col]]
        + [StructField(f"code_{j}", IntegerType(), False) for j in range(m)]
        + [StructField("qerr", LongType(), False)]
    )

    def enc(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), _MICRO_CHUNK):
                chunk = pdf.iloc[lo : lo + _MICRO_CHUNK]
                xm = _micro_quantize_np(chunk[vector_col].to_numpy())
                xs = xm.reshape(xm.shape[0], m, sub)
                diff = xs[:, :, None, :] - bmat[None, :, :, :]
                d = (diff * diff).sum(axis=3)  # (rows, m, k)
                codes = d.argmin(axis=2).astype(np.int32)
                qerr = d.min(axis=2).sum(axis=1)
                cols = {id_col: chunk[id_col].to_numpy()}
                for j in range(m):
                    cols[f"code_{j}"] = codes[:, j]
                cols["qerr"] = qerr
                yield pd.DataFrame(cols)

    return src.mapInPandas(enc, out_schema)


def pq_train_micro(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> list[list[list[int]]]:
    """Product-quantization sub-codebooks trained with the MICRO-INT Lloyd
    kernel (the kmeans_lloyd_converged discipline applied per subspace):
    seeds are the k lowest-id vectors' sub-slices, assignment is an exact
    integer argmin, updates are floor(sum/n + 0.5) — bit-identical
    cross-engine by construction, unlike ``pq_train``'s float KMeans
    (which trains better codebooks but can't be oracle-replayed exactly).

    Scale shape — ALL m subspaces train in each pass: per iteration ONE
    corpus scan evaluates the m map-only argmin columns, then ONE
    (subspace, code, pos) partial-aggregated sum/count shuffle (m*k*sub
    groups — 1,024 at the default shape) collects the update to the
    driver. Training cost is iters corpus scans regardless of m; the
    corpus never shuffles on the vector id. Empty codes keep their
    previous codeword (the oracle's COALESCE). Returns
    ``books[j][c] = [sub micro ints]``."""
    import numpy as np
    import pandas as pd

    # seeds FIRST: the vector dim falls out of the seed rows, so no
    # dedicated first() job (round-14 optimization — one less action)
    seed_rows = (
        df.select(F.col(id_col).alias("__id"), _micro_xm(vector_col).alias("__xm"))
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    dim = len(seed_rows[0]["__xm"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [[int(x) for x in r["__xm"]][j * sub : (j + 1) * sub] for r in seed_rows]
        for j in range(m)
    ]
    if iters <= 0:
        return books
    src = df.select(F.col(vector_col).alias("__v")).persist()
    try:
        for _ in range(iters):
            # Round 14 (optimization): the per-iteration encode+update
            # pass is an Arrow mapInPandas numpy kernel (guide §4.2) —
            # one exact-int64 (j, code, pos) partial per chunk replaces
            # the m*k-struct array_min tree + double posexplode whose
            # py4j build, Catalyst analysis and interpreted HOF folds
            # dominated this loop's SF-invariant fixed cost. Sums are
            # integer and order-free (bit-identical merge); numpy argmin
            # over the code-ASCENDING codeword axis reproduces
            # array_min's lowest-code tie-break exactly.
            bmat = np.array(books, dtype=np.int64)  # (m, k, sub)

            def partials(batches, bmat=bmat, m=m, sub=sub):
                pos_arr = np.arange(sub, dtype=np.int32)
                for pdf in batches:
                    for lo in range(0, len(pdf), _MICRO_CHUNK):
                        xm = _micro_quantize_np(
                            pdf["__v"].iloc[lo : lo + _MICRO_CHUNK].to_numpy()
                        )
                        xs = xm.reshape(xm.shape[0], m, sub)
                        diff = xs[:, :, None, :] - bmat[None, :, :, :]
                        d = (diff * diff).sum(axis=3)  # (rows, m, k)
                        codes = d.argmin(axis=2)  # (rows, m)
                        out = []
                        for j in range(m):
                            cj = codes[:, j]
                            for c in np.unique(cj):
                                mask = cj == c
                                svec = xs[mask, j, :].sum(axis=0)
                                out.append(
                                    pd.DataFrame(
                                        {
                                            "j": np.full(
                                                sub, j, dtype=np.int32
                                            ),
                                            "code": np.full(
                                                sub, int(c), dtype=np.int32
                                            ),
                                            "pos": pos_arr,
                                            "s": svec,
                                            "n": np.full(
                                                sub, int(mask.sum()),
                                                dtype=np.int64,
                                            ),
                                        }
                                    )
                                )
                        if out:
                            yield pd.concat(out, ignore_index=True)

            upd = (
                src.mapInPandas(
                    partials, "j int, code int, pos int, s bigint, n bigint"
                )
                .groupBy("j", "code", "pos")
                .agg(
                    F.sum("s").cast("bigint").alias("s"),
                    F.sum("n").cast("bigint").alias("n"),
                )
                .collect()
            )
            import math

            sums: dict[tuple[int, int], list] = {}
            for r in upd:
                key = (int(r["j"]), int(r["code"]))
                vec = sums.setdefault(key, [None] * sub)
                vec[int(r["pos"])] = int(
                    math.floor(int(r["s"]) / int(r["n"]) + 0.5)
                )
            for (j, c), vec in sums.items():
                books[j][c] = vec
    finally:
        src.unpersist()
    return books


def pq_micro_adc_lut(
    query_micro: list[int], books: list[list[list[int]]]
) -> list[list[int]]:
    """Driver-side exact-integer ADC lookup table: lut[j][c] = squared
    micro distance between the query's j-th subvector and codeword c.
    m*k BIGINTs — a plan literal; the corpus-side score is then an
    m-term sum of element_at lookups on the stored codes."""
    m = len(books)
    sub = len(books[0][0])
    return [
        [
            sum(
                (query_micro[j * sub + t] - cw[t]) ** 2
                for t in range(sub)
            )
            for cw in books[j]
        ]
        for j in range(m)
    ]
