"""Round-8 infrastructure invariants: the session cache behind the
shared graph frames and the capped-adjacency truncation operator — the
pieces every capped link predictor builds on."""

import pyspark.sql.functions as F

from veri_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_capped_adjacency_cap_and_selection(spark):
    """Every node keeps at most `cap` neighbors, each kept edge exists in
    the full adjacency, and the kept set is exactly the lowest-(degree,
    id) prefix — the hub-dropping contract the RA and capped-Jaccard
    rankers rely on."""
    from veri_spark.plans.graph import _capped_adjacency, _copurchase_graph

    _, und, deg = _copurchase_graph(spark, SF_DIR)
    cap = 8  # small enough to truncate aggressively at sf0.001
    cund = _capped_adjacency(und, deg, cap)

    full = {(r["u"], r["v"]) for r in und.collect()}
    degs = {r["u"]: r["d"] for r in deg.collect()}
    kept = {}
    for r in cund.collect():
        kept.setdefault(r["u"], set()).add(r["v"])
        assert (r["u"], r["v"]) in full
    for u, vs in kept.items():
        assert len(vs) <= cap
        # reconstruct the expected prefix from the full neighborhood
        nbrs = sorted(
            (v for (x, v) in full if x == u),
            key=lambda v: (degs[v], v),
        )
        assert vs == set(nbrs[:cap])
    # nodes with degree <= cap keep their whole neighborhood
    for u, d in degs.items():
        if d <= cap:
            assert len(kept.get(u, ())) == d


def test_shared_frame_is_per_session_and_single_build(spark):
    """``shared_frame`` and the ``session_cached`` registry under it
    return the SAME object for the same key (one build per session) and
    distinct entries for distinct names — and a shared frame survives
    spark.catalog.clearCache() (it is a localCheckpoint, not a catalog
    cache entry — the bench clears the catalog between queries)."""
    from veri_spark.plans._base import session_cached, shared_frame

    for cache in (shared_frame, session_cached):
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return load_table(spark, SF_DIR, "region").select("r_regionkey")

        a = cache(spark, SF_DIR, f"test_infra_{cache.__name__}", build)
        b = cache(spark, SF_DIR, f"test_infra_{cache.__name__}", build)
        assert a is b and calls["n"] == 1
        c = cache(spark, SF_DIR, f"test_infra_{cache.__name__}_2", build)
        assert c is not a and calls["n"] == 2
        n_before = a.count()
        spark.catalog.clearCache()
        assert a.count() == n_before


def test_capped_pipeline_consistency_between_rankers(spark):
    """The RA and capped-Jaccard queries must agree on the wedge frame:
    for any pair in both top-20s, n_common matches exactly (they share
    _capped_adjacency, so a divergence means the truncation stopped
    being deterministic)."""
    from veri_spark.plans.registry import QUERIES

    jac = {
        (r["part_a"], r["part_b"]): r["n_common_capped"]
        for r in QUERIES["graph_common_neighbors_capped"](
            spark, SF_DIR
        ).collect()
    }
    ra = {
        (r["part_a"], r["part_b"]): r["n_common"]
        for r in QUERIES["graph_resource_allocation_capped"](
            spark, SF_DIR
        ).collect()
    }
    overlap = set(jac) & set(ra)
    assert overlap, "top-20s on sf0.001 should share at least one pair"
    for k in overlap:
        assert jac[k] == ra[k]
