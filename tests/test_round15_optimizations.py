"""Round-15 optimization pins (second optimization round).

Each test pins an operator-internal rewrite whose results must stay
bit-identical to the shape it replaced:

1. The capped-trio wedge aggregate's PACKED payload (graph.py batch 5):
   the per-wedge (1, rw, aw) triple rides one bigint pw = 2^55 +
   rw*2^28 + aw; the packing is carry-free at cap=128 and unpacks to
   the identical integer sums.
2. The session-shared calendar spines (plans/_base.py batch 4): one
   localCheckpoint per (session, sf_dir, name); content identical
   to the inline builds they replaced, including the post-filter
   equivalence the yoy consumers rely on; the day spine's rank ``rn``
   and the job counts of consumers that read it.
3. ``fan_parallel`` (batch 6): repartitions only frames below the core
   count and preserves multiset content.
4. ``shiftright(h, r) == h div 2^r`` for the nonnegative hashes the
   randomization test slices (batch 6).
5. The ``InferFiltersFromGenerate`` exclusion (batch 6) is applied by
   ``prepare_session`` (with every other required runtime conf) and
   explode output is unchanged by it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# batch 5: packed wedge payload
# ---------------------------------------------------------------------------


def test_packed_wedge_fields_are_carry_free_at_cap():
    """The static bound proof behind the packing: at cap=128 and dw >= 2
    the three field sums can never cross their boundaries."""
    cap = 128
    aw_max = cap * 1442695  # floor(1e6/ln 2 + .5) per wedge, max over dw>=2
    rw_max = cap * 500000  # 1e6 div 2 per wedge
    assert aw_max < 1 << 28
    assert rw_max < 1 << 27
    # n_common=128 puts the count field at exactly 2^62; the total still
    # sits far below the signed-bigint boundary
    assert cap * (1 << 55) + rw_max * (1 << 28) + aw_max < 1 << 63


def test_packed_wedge_agg_matches_unpacked(spark):
    """sum(pw) unpacks to the exact (count, sum rw, sum aw) triple on a
    synthetic wedge set that exercises the max-degree corner."""
    rows = []
    # pair 1: 128 wedges through degree-2 nodes (max rw and aw per wedge)
    rows += [(1, 2)] * 128
    # pair 2: mixed degrees
    rows += [(2, d) for d in (2, 3, 17, 1000, 1000000)]
    df = spark.createDataFrame(rows, "pk bigint, d bigint")
    pw = (
        F.lit(1 << 55)
        + F.expr("1000000 div d") * F.lit(1 << 28)
        + F.expr("CAST(floor(1000000 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)")
    )
    packed = (
        df.select("pk", pw.alias("pw"))
        .groupBy("pk")
        .agg(F.sum("pw").alias("packed"))
        .select(
            "pk",
            F.expr("shiftright(packed, 55)").alias("n_common"),
            F.expr("shiftright(packed, 28) & 134217727").alias("ra_micro"),
            F.expr("packed & 268435455").alias("aa_micro"),
        )
    )
    plain = df.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.expr("1000000 div d")).alias("ra_micro"),
        F.sum(
            F.expr("CAST(floor(1000000 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)")
        ).alias("aa_micro"),
    )
    assert packed.exceptAll(plain).count() == 0
    assert plain.exceptAll(packed).count() == 0


def test_trio_build_matches_reference_formulation(spark):
    """The shipped packed build equals the round-14 3-aggregate
    formulation on the real sf0.001 graph (both directions empty)."""
    from veri_spark.plans.graph import _capped_adjacency_shared, _packed_pair_agg

    cund, und, deg = _capped_adjacency_shared(spark, SF)
    wdeg = F.broadcast(deg.select(F.col("u").alias("v"), F.col("d").alias("dw")))
    x = cund.join(wdeg, "v").select(
        F.col("u").alias("cu"), F.col("v").alias("w"), "dw"
    )
    y = cund.select(F.col("u").alias("cv"), F.col("v").alias("w"))
    base = (
        x.join(y, "w")
        .filter(F.col("cu") < F.col("cv"))
        .select(
            F.expr("shiftleft(cu, 32) + cv").alias("pk"),
            F.expr("1000000 div dw").alias("rw"),
            F.expr(
                "CAST(floor(1000000 / ln(CAST(dw AS DOUBLE)) + 0.5) AS BIGINT)"
            ).alias("aw"),
        )
        .groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("rw").cast("bigint").alias("ra_micro"),
            F.sum("aw").cast("bigint").alias("aa_micro"),
        )
    )
    shipped = _packed_pair_agg(cund, deg).select(
        "pk", *(F.col(c).cast("bigint").alias(c)
                for c in ("n_common", "ra_micro", "aa_micro"))
    )
    assert base.count() > 0
    assert base.exceptAll(shipped).count() == 0
    assert shipped.exceptAll(base).count() == 0


# ---------------------------------------------------------------------------
# batch 4: session-shared calendar spines
# ---------------------------------------------------------------------------


def test_daily_cents_shared_is_one_frame_per_session(spark):
    from veri_spark.plans._base import daily_cents

    a = daily_cents(spark, SF)
    b = daily_cents(spark, SF)
    assert a is b  # same checkpointed object, not a rebuild


def test_daily_cents_matches_inline_build(spark):
    from pyspark.sql import Window

    from veri_spark.plans._base import daily_cents
    from veri_spark.sources.catalog import load_table

    li = load_table(spark, SF, "lineitem")
    inline = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(28,10)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    shared = daily_cents(spark, SF)
    assert inline.exceptAll(shared.select("day", "cents")).count() == 0
    assert shared.select("day", "cents").exceptAll(inline).count() == 0
    # rn is the 1-based day rank of the whole spine
    ranked = inline.select(
        "day", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    got = {r["day"]: r["rn"] for r in shared.select("day", "rn").collect()}
    want = {r["day"]: r["rn"] for r in ranked.collect()}
    assert got == want


def test_daily_cents_post_filter_equals_prefiltered_build(spark):
    """The yoy consumers' rewrite: filtering the day grain AFTER the
    aggregation equals aggregating the predicate-filtered corpus."""
    from veri_spark.plans._base import daily_cents
    from veri_spark.sources.catalog import load_table

    li = load_table(spark, SF, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    pre = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(28,10)")) * 100)
        .cast("bigint")
        .alias("cents")
    )
    post = daily_cents(spark, SF).select("day", "cents").filter(
        (F.col("day") >= F.lit("1996-01-01").cast("date"))
        & (F.col("day") < F.lit("1998-01-01").cast("date"))
    )
    assert pre.exceptAll(post).count() == 0
    assert post.exceptAll(pre).count() == 0


def test_daily_cents_consumers_read_the_spine_rank(spark):
    """Job-count pin: with the spine already built, these consumers read
    its day rank ``rn`` instead of ranking the spine again with the
    distributed two-pass ranker (range exchange, checkpoint and offset
    join), and binseg scans both prefix measures in one pass. Each query
    collects under its own job group; the counts are exact Spark job
    counts and repeat across core counts and scale factors."""
    from veri_spark.plans._base import daily_cents
    from veri_spark.plans.registry import QUERIES

    sc = spark.sparkContext
    daily_cents(spark, SF).count()
    got = {}
    try:
        for name in (
            "kpss_daily_revenue",
            "dickey_fuller_daily_revenue",
            "acf_daily_revenue",
            "binseg_changepoint_daily",
        ):
            group = f"spine_jobs_{name}"
            sc.setJobGroup(group, name)
            QUERIES[name](spark, SF).collect()
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {
        "kpss_daily_revenue": 21,
        "dickey_fuller_daily_revenue": 3,
        "acf_daily_revenue": 6,
        "binseg_changepoint_daily": 10,
    }


def test_daily_orders_derivation_matches_inline(spark):
    """distance_correlation's x = round(revq/10000.0) derived from the
    shared exact revq equals the old inline aggregate."""
    from veri_spark.plans._base import daily_orders
    from veri_spark.sources.catalog import load_table

    o = load_table(spark, SF, "orders")
    inline = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            / F.lit(10000.0)
        )
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    derived = daily_orders(spark, SF).select(
        "day",
        F.round(F.col("revq") / F.lit(10000.0)).cast("bigint").alias("x"),
        F.col("cnt").alias("y"),
    )
    assert inline.exceptAll(derived).count() == 0
    assert derived.exceptAll(inline).count() == 0


# ---------------------------------------------------------------------------
# batch 6: fan_parallel, shiftright slice, rule exclusion
# ---------------------------------------------------------------------------


def test_fan_parallel_spreads_below_cores_and_keeps_content(spark):
    from veri_spark.plans._base import fan_parallel

    df = spark.range(0, 1000).coalesce(1).select(F.col("id"))
    out = fan_parallel(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.exceptAll(df).count() == 0
    assert df.exceptAll(out).count() == 0


def test_fan_parallel_noop_at_or_above_cores(spark):
    from veri_spark.plans._base import fan_parallel

    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000).repartition(par + 3)
    assert fan_parallel(df) is df


@pytest.mark.parametrize("h", [0, 1, 5, 2**59 - 1, 864134253417, 2**60 - 1])
def test_shiftright_equals_div_pow2_for_nonnegative(spark, h):
    rows = spark.createDataFrame(
        [(h, r) for r in range(60)], "h bigint, r int"
    )
    bad = rows.filter(
        (F.expr("shiftright(h, r)") % 2)
        != (F.expr("h div CAST(pow(2, r) AS BIGINT)") % 2)
    )
    assert bad.count() == 0


def test_infer_filters_from_generate_is_excluded(spark):
    """prepare_session leaves every required runtime conf (the
    InferFiltersFromGenerate exclusion among them) reading back its
    value, and raises, naming the key, when a conf can be neither set
    nor found already at its required value."""
    from types import SimpleNamespace

    from veri_spark.session import _RUNTIME_CONFS, prepare_session

    prepare_session(spark)
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules"
    )
    for key, value in _RUNTIME_CONFS.items():
        assert spark.conf.get(key) == value, key

    class FrozenConf:
        def __init__(self, held):
            self.held = held

        def set(self, key, value):
            raise ValueError("static conf")

        def get(self, key, default=None):
            return self.held.get(key, default)

    prepare_session(SimpleNamespace(conf=FrozenConf(dict(_RUNTIME_CONFS))))
    first = next(iter(_RUNTIME_CONFS))
    with pytest.raises(RuntimeError, match=first):
        prepare_session(SimpleNamespace(conf=FrozenConf({})))


def test_signature_index_single_family_matches_both(spark):
    """families="minhash"/"simhash" return frames bit-identical to the
    both-family slices, including the membership corner cases (a doc
    with < shingle_k words has simhash rows but no band rows)."""
    from veri_spark.operators.dedup import dedup_signature_index

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta"),  # tokens but no 3-shingle
            (3, "zeta eta theta iota"),
            (4, "alpha beta gamma delta epsilon"),  # exact dup of 1
        ],
        "doc_id bigint, text string",
    )
    bands_b, sim_b = dedup_signature_index(df, cache=False)
    bands_m, sim_m = dedup_signature_index(df, cache=False, families="minhash")
    bands_s, sim_s = dedup_signature_index(df, cache=False, families="simhash")
    assert sim_m is None and bands_s is None
    assert bands_b.exceptAll(bands_m).count() == 0
    assert bands_m.exceptAll(bands_b).count() == 0
    assert sim_b.exceptAll(sim_s).count() == 0
    assert sim_s.exceptAll(sim_b).count() == 0
    # membership corner: doc 2 in simhash only
    assert bands_m.filter(F.col("doc_id") == 2).count() == 0
    assert sim_s.filter(F.col("doc_id") == 2).count() == 1


def test_explode_output_unchanged_by_rule_exclusion(spark):
    """explode() itself drops empty/null arrays, so removing the inferred
    filter cannot change results — pin it on the corner cases."""
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", []), ("c", None)],
        "k string, xs array<int>",
    )
    out = df.select("k", F.explode("xs").alias("x"))
    prev = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    try:
        spark.conf.unset("spark.sql.optimizer.excludedRules")
        with_rule = sorted((r["k"], r["x"]) for r in out.collect())
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.optimizer.excludedRules", prev)
    without_rule = sorted((r["k"], r["x"]) for r in out.collect())
    assert with_rule == without_rule == [("a", 1), ("a", 2)]


def test_capped_pair_stats_matches_inline_build(spark):
    """Batch 9: the session-shared capped pair aggregate is bit-identical
    to the per-query jaccard_pairs build it replaced, and the derived
    measures match the inline measure columns."""
    from veri_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        pair_measure_col,
    )
    from veri_spark.plans.dedup import capped_pair_stats

    shared = capped_pair_stats(spark, SF)
    docs_inline = jaccard_pairs(
        doc_shingles(
            __import__("veri_spark.sources.catalog", fromlist=["load_table"])
            .load_table(spark, SF, "documents"),
            parallelism=16,
        ),
        max_doc_freq=64,
    )
    base_inline = docs_inline.select(
        "doc_a", "doc_b", "n_a", "n_b", "n_common"
    )
    assert shared.exceptAll(base_inline).count() == 0
    assert base_inline.exceptAll(shared).count() == 0
    # measure derivation: same expression, same doubles
    jac_shared = shared.withColumn(
        "jaccard", pair_measure_col("jaccard")
    ).select("doc_a", "doc_b", "jaccard")
    jac_inline = docs_inline.select("doc_a", "doc_b", "jaccard")
    assert jac_shared.exceptAll(jac_inline).count() == 0
    assert jac_inline.exceptAll(jac_shared).count() == 0


def test_cell_label_pairs_matches_inline_build(spark):
    """Batch 11: the session-shared cell pair frame reproduces the exact
    join each consumer used to build inline, including self-pairs (the
    consumers' old join conditions are now filters)."""
    from pyspark.sql import functions as FF
    from veri_spark.functions.vector import euclidean_distance_fixed
    from veri_spark.operators.similarity import ivf_assign, take_centroids
    from veri_spark.plans.knn_audit import _cell_label_pairs
    from veri_spark.sources.catalog import load_table

    shared = _cell_label_pairs(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    dim = int(emb.select(FF.size("embedding").alias("d")).first()["d"])
    e = emb.select(
        "vec_id", "label", FF.col("embedding").cast("array<double>").alias("x")
    )
    a = ivf_assign(e, take_centroids(emb, 8), id_col="vec_id", vector_col="x")
    p = a.select(
        "centroid_id", FF.col("vec_id").alias("pid"),
        FF.col("label").alias("plabel"), FF.col("x").alias("xa"),
    )
    q = a.select(
        "centroid_id", FF.col("vec_id").alias("qid"),
        FF.col("label").alias("qlabel"), FF.col("x").alias("xb"),
    )
    inline = p.join(q, "centroid_id").select(
        "pid", "qid", "plabel", "qlabel",
        euclidean_distance_fixed(FF.col("xa"), FF.col("xb"), dim).alias("dist"),
    )
    assert shared.exceptAll(inline).count() == 0
    assert inline.exceptAll(shared).count() == 0
    # self-pairs ARE present (consumers filter them)
    assert shared.filter(FF.col("pid") == FF.col("qid")).count() > 0


def test_shared_knn_edges_matches_inline_knn_join(spark):
    """Batch 11: the session-shared k=3 edge list == a fresh knn_join."""
    from veri_spark.operators.similarity import knn_join, take_centroids
    from veri_spark.plans.knn import shared_knn_edges_k3
    from veri_spark.sources.catalog import load_table

    shared = shared_knn_edges_k3(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    inline = knn_join(emb, take_centroids(emb, 8), k=3).select(
        "src", "dst", "rank", "dist"
    )
    assert shared.exceptAll(inline).count() == 0
    assert inline.exceptAll(shared).count() == 0


def test_shared_minhash_cands_matches_inline(spark):
    """Batch 12: the session-shared (16,4) candidate set == a fresh
    minhash_candidate_pairs build."""
    from veri_spark.operators.dedup import minhash_candidate_pairs
    from veri_spark.plans.dedup import shared_minhash_cands
    from veri_spark.sources.catalog import load_table

    shared = shared_minhash_cands(spark, SF)
    docs = load_table(spark, SF, "documents")
    inline = minhash_candidate_pairs(docs, num_hashes=16, bands=4)
    assert shared.exceptAll(inline).count() == 0
    assert inline.exceptAll(shared).count() == 0
