"""Deduplication operators for large-scale text/embedding corpora.

The reference deduplicates only on exact serialized keys (upsert,
data/newsync.go:43-59) and on result merge (data/aggregator.go:118-134).
This module adds the near-duplicate family a 100 TB training-data pipeline
needs — each designed around its shuffle profile:

- exact:       one hash-groupBy on a fingerprint (single shuffle on a short
               key, never on the document body).
- ngram-jaccard: shingle explode -> self-join on shingle -> pair counts.
               Exact but quadratic within a shingle bucket; use for audits
               or small blocks, not the 100 TB path.
- MinHash+LSH: shingle explode -> per-doc signature agg -> band keys ->
               self-join on (band, key). Linear in corpus size; candidate
               pairs only where a band collides. This is the scale path.
- SimHash:     token explode x bits -> per-doc weighted bit agg -> 32-bit
               signature; near-dups share signatures up to small Hamming
               distance.
- embedding:   cosine self-join blocked on a grouping column (or LSH
               buckets from similarity.py) — never an unblocked cross join.

All hashes go through functions/hashing.portable_hash64 so the DuckDB oracle
reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64
from veri_spark.functions.text import fingerprint, tokens, word_shingles
from veri_spark.functions.vector import cosine_similarity


def exact_dedup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate summary: total docs, distinct texts,
    and how many docs are duplicates of an earlier one."""
    h = df.select(fingerprint(text_col).alias("fp"))
    per = h.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_text"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dup_docs"),
    )


def exact_dedup(df: DataFrame, key_col: Column, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact key (hash-groupBy, one shuffle)."""
    keyed = df.withColumn("__fp", key_col)
    keep = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["__fp", id_col]).drop("__fp")


def doc_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    with_size: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle) rows.

    ``with_size`` carries the per-doc shingle count through the explode
    (computed on the pre-explode array, i.e. free) — jaccard_pairs then
    needs no separate size aggregation or re-join.

    The token and shingle arrays are STAGED as real columns before the
    explode. Inlining them makes Catalyst re-evaluate the whole shingle
    expression per exploded row (observed 40x slowdown) — see the note on
    word_shingles.
    """
    if parallelism:
        # the corpus fixture is one small parquet file = one input split;
        # shingling is CPU-bound per row, so spread it. At real scale the
        # scan already has many splits and this is unnecessary.
        df = df.repartition(parallelism)
    staged = df.withColumn("__toks", tokens(text_col)).select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col("__toks"), k)).alias("__sh"),
    )
    if with_size:
        return staged.select(
            F.col(id_col),
            F.size("__sh").alias("n_sh"),
            F.explode("__sh").alias("shingle"),
        )
    return staged.select(F.col(id_col), F.explode("__sh").alias("shingle"))


def cap_stop_shingles(
    shingles: DataFrame, id_col: str = "doc_id", max_doc_freq: int = 64
) -> DataFrame:
    """Drop stop shingles — shingles appearing in more than ``max_doc_freq``
    distinct documents — before any shingle self-join.

    A stop shingle makes its join bucket QUADRATIC (df^2 candidate rows); a
    single shingle shared by 1M documents at 100 TB means 10^12 pairs from
    one bucket. The df computation is one partial-aggregated groupBy on the
    shingle; the resulting stop list is tiny by construction (high-df keys
    are few) so removal is a broadcast anti-join, map-only over the shingle
    stream. Standard practice in shingle-based dedup (the same cap MinHash
    banding gets implicitly, since a universal shingle rarely wins a min).
    """
    stop = (
        shingles.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return shingles.join(F.broadcast(stop), "shingle", "left_anti")


def pair_measure_col(measure: str):
    """The similarity expression over a pair-stats frame carrying
    (n_a, n_b, n_common) — module-level so a session-shared pair
    aggregate (plans/dedup.capped_pair_stats, round 15) derives its
    measure with the EXACT expression ``jaccard_pairs`` applies inline:
    bigint/bigint division is the same IEEE double op either way, so the
    shared-frame consumers are bit-identical to the per-query builds
    they replaced."""
    if measure == "containment":
        return F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    cache: bool = True,
    max_doc_freq: int | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """All-pairs n-gram similarity via shingle self-join.

    Returns (doc_a, doc_b, n_common, n_a, n_b, <measure>) for every pair
    sharing at least one shingle, with doc_a < doc_b. ``measure`` is
    ``"jaccard"`` (shared / union) or ``"containment"`` (shared /
    min(|A|, |B|) — detects a short doc embedded in a longer one); the
    measure only changes the final projection, the join plan is identical. The join shuffles on
    the shingle value; skewed (stop-shingle) buckets are the scale hazard —
    set ``max_doc_freq`` to drop shingles above that document frequency
    (cap_stop_shingles) so no join bucket exceeds df^2 = max_doc_freq^2
    rows; jaccard is then exact over the capped shingle universe (sizes are
    recomputed post-cap). Without the cap, AQE skew-join merely splits hot
    buckets — the work is still quadratic; the MinHash path avoids it
    entirely.

    When ``shingles`` carries an ``n_sh`` column (doc_shingles
    ``with_size=True``), sizes ride along as grouping keys — no separate
    size aggregation and no post-join size joins, saving two shuffles.
    ``cache`` persists the shingle frame for the legacy (no-size) path,
    which reads it three times. At cluster scale prefer an explicit
    checkpoint/table for the shingle set.

    ``cache=True`` semantics on the ``max_doc_freq`` path (r14 advisor
    note on the round-14 change): the capped shingle stream is EAGERLY
    ``localCheckpoint``ed, which (a) pays the materialization at
    DataFrame-CONSTRUCTION time even if the returned join is never
    executed — every registry caller executes it, so nothing is wasted
    there; (b) frees the checkpointed blocks only via GC of the frame
    (there is no unpersist path — bounded: the capped stream is
    stop-shingle-truncated by construction); and (c) unlike the
    ``persist()`` the flag previously implied, is NOT fault-tolerant to
    executor loss — losing a block fails the job instead of recomputing
    (the repo-wide localCheckpoint trade, see ``_base.shared_frame``).
    Pass ``cache=False`` to keep construction lazy and lineage
    recomputable.
    """

    if measure not in ("jaccard", "containment"):
        raise ValueError(f"measure must be jaccard|containment, got {measure!r}")

    def _score(df):
        return df.withColumn(measure, pair_measure_col(measure))

    if max_doc_freq is not None:
        # sizes must reflect the capped universe: drop any pre-computed n_sh,
        # then recompute it ONCE with a window over the capped shingle stream
        # (one shuffle on the doc id) so sizes ride the self-join keys again —
        # same single-join plan shape as the uncapped with_size path, instead
        # of the legacy persist + sizes-groupBy + two post-join size joins.
        from pyspark.sql.window import Window as _W

        shingles = cap_stop_shingles(
            shingles.drop("n_sh"), id_col=id_col, max_doc_freq=max_doc_freq
        ).withColumn("n_sh", F.count(F.lit(1)).over(_W.partitionBy(id_col)))
        if cache:
            # Round-14 (guide §1.2): without this, BOTH self-join sides
            # below re-derive the full tokenize→shingle→stop-cap→window
            # lineage (before-plan of dedup_ngram_jaccard: 8 parquet
            # scans, 26 Exchanges, no ReusedExchange across the aliased
            # sides) — and the stop-list aggregate inside cap_stop_shingles
            # re-reads the corpus once more per side. Materialize the
            # capped, size-carrying shingle stream ONCE; the self-join
            # then reads computed blocks. This is the same explicit
            # checkpoint-the-shingle-set discipline the docstring already
            # prescribes for cluster scale.
            shingles = shingles.localCheckpoint(eager=True)
    if "n_sh" in shingles.columns:
        a = shingles.select(
            F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
        )
        b = shingles.select(
            F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
        )
        return (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            # n_a/n_b are functionally dependent on doc_a/doc_b: free keys
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .transform(_score)
        )
    if cache:
        shingles = shingles.persist()
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a"
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b"
        )
        .transform(_score)
    )
    return out


# Affine MinHash family over a 31-bit Mersenne prime: sig_i = min over
# shingles of (a_i * H31(shingle) + b_i) mod P, where H31 is one portable
# md5-derived base hash. One md5 per shingle row instead of num_hashes md5s
# — the md5 was 16/17ths of the signature cost. a_i/b_i are fixed,
# deterministically derived so the DuckDB oracle mirrors them.
MINHASH_PRIME = 2147483647  # 2^31 - 1; products stay under 2^62 in int64


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    from veri_spark.functions.hashing import portable_hash64_py

    return [
        (
            portable_hash64_py(f"minhash-a-{i}") % (MINHASH_PRIME - 1) + 1,
            portable_hash64_py(f"minhash-b-{i}") % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document: sig_i = min over shingles of
    (a_i * H31(shingle) + b_i) mod P. One groupBy(id) with ``num_hashes``
    min-aggs — a single shuffle on the id, partial-aggregated map-side, and
    a single md5 per shingle."""
    base = portable_hash64(F.col("shingle")) % MINHASH_PRIME
    hashed = shingles.withColumn("__h31", base)
    aggs = [
        F.min((F.lit(a) * F.col("__h31") + F.lit(b)) % MINHASH_PRIME).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    (id, band, band_key) where band_key concatenates the band's hash values.
    Documents sharing any band key are near-dup candidates."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [
            F.col(f"sig_{i}").cast("string")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws(",", *members).alias("band_key"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    parallelism: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """End-to-end MinHash LSH: distinct candidate pairs (doc_a < doc_b)
    whose signatures collide in at least one band.

    ``shingles`` (round 15): a precomputed ``(id, shingle)`` stream for
    exactly ``df``'s documents — callers that already materialized the
    shingle explode (the curation pipeline shares ONE stream across its
    MinHash and decontamination tiers) pass it here to skip the
    tokenize+explode; the signature/banding math downstream is
    identical, so the candidate set is unchanged."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, id_col, text_col, shingle_k, parallelism=parallelism)
    )
    sigs = minhash_signatures(sh, id_col, num_hashes)
    bk = minhash_band_keys(sigs, id_col, num_hashes, bands)
    a = bk.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = bk.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _simhash_bit_sum_aggs(h_col: str = "h") -> list:
    """The 32 occurrence-weighted SimHash bit sums as conditional
    aggregates over a token-hash column: ``__s{b} = sum over token rows
    of (bit b of h ? +1 : -1)``. Literal shift amounts, so every term is
    whole-stage-codegen-friendly."""
    return [
        F.sum(
            F.expr(
                f"CASE WHEN (shiftright({h_col}, {b}) & 1) = 1"
                " THEN 1 ELSE -1 END"
            )
        ).alias(f"__s{b}")
        for b in range(32)
    ]


def _simhash_assemble():
    """Assemble the 32-bit signature from the ``__s{b}`` bit-sum columns:
    bit b is set when its sum is >= 0 — the identical compare and
    identical integer sums as the old (id, bit)-grain aggregation, so
    the signature is bit-for-bit unchanged."""
    sig = F.lit(0).cast("bigint")
    for b in range(32):
        sig = sig + F.when(
            F.col(f"__s{b}") >= 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return sig


def simhash32(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """32-bit SimHash per document over whitespace tokens (occurrence-
    weighted): bit b is set when sum over tokens of ±1 (sign = bit b of the
    token hash) is >= 0. Returns (id, simhash).

    Plan shape (round 15, guide §2.3 — shuffle fewer bytes): ONE token
    explode -> ONE groupBy(id) computing all 32 bit sums as conditional
    aggregates -> map-side signature assembly. The previous shape
    exploded every token row into 32 (id, bit) rows and aggregated
    twice — a 32x shuffle-row blowup for the same integer sums. The
    per-bit sums and the >= 0 compares are identical, so the signature
    is bit-identical (pinned by the unchanged DuckDB oracles of every
    simhash consumer).
    """
    if parallelism:
        df = df.repartition(parallelism)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    toks = toks.withColumn("h", portable_hash64(F.col("tok")))
    per = toks.groupBy(id_col).agg(*_simhash_bit_sum_aggs("h"))
    return per.select(id_col, _simhash_assemble().alias("simhash"))


def simhash32_with_token_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """``(id, simhash, wchars, sw)``: the :func:`simhash32` aggregation
    with two extra integer aggregates riding the SAME token explode and
    groupBy — ``wchars`` = sum of token lengths, ``sw`` = count of
    core-stopword tokens. The values are identical to the per-row HOF
    forms ``aggregate(transform(ws, length), +)`` and
    ``size(filter(ws, isin(stopwords)))`` (same tokens, same integer
    sums), computed where the tokens are already exploded instead of a
    second interpreted pass over the array. Round 15, for the curation
    pipeline's single artifact pass (guide §1.2/§4.1)."""
    from veri_spark.functions.text import EN_STOPWORDS

    if parallelism:
        df = df.repartition(parallelism)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    toks = toks.withColumn("h", portable_hash64(F.col("tok")))
    per = toks.groupBy(id_col).agg(
        *_simhash_bit_sum_aggs("h"),
        F.sum(F.length("tok")).cast("bigint").alias("wchars"),
        F.sum(F.when(F.col("tok").isin(*EN_STOPWORDS), 1).otherwise(0))
        .cast("bigint")
        .alias("sw"),
    )
    return per.select(
        id_col, _simhash_assemble().alias("simhash"), "wchars", "sw"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    block_col: str | None = "label",
    min_cosine: float | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs by cosine similarity, blocked.

    Self-join within ``block_col`` (never an unblocked cross join — at scale
    block on an LSH bucket from similarity.lsh_hyperplane_signature).
    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    # Hoist each vector's norm out of the pair loop: cos(a,b) =
    # dot(a,b) / (norm_a * norm_b). The norms are computed once per row
    # (identically to how the naive cosine would), so the per-pair work is
    # one zip_with/aggregate instead of three.
    v = F.col(vector_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x)
    )
    base = df.withColumn("__norm", norm)
    a = base.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_a"),
        v.alias("vec_a"),
        F.col("__norm").alias("norm_a"),
    )
    b = base.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_b"),
        v.alias("vec_b"),
        F.col("__norm").alias("norm_b"),
    )
    on = [block_col] if block_col else []
    dot = F.aggregate(
        F.zip_with(F.col("vec_a"), F.col("vec_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a_, x: a_ + x,
    )
    cos = F.when((F.col("norm_a") == 0.0) | (F.col("norm_b") == 0.0), F.lit(0.0)).otherwise(
        dot / (F.col("norm_a") * F.col("norm_b"))
    )
    pairs = (
        (a.join(b, on) if on else a.crossJoin(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.least(F.greatest(cos, F.lit(-1.0)), F.lit(1.0)))
        .drop("vec_a", "vec_b", "norm_a", "norm_b")
    )
    if min_cosine is not None:
        pairs = pairs.filter(F.col("cos") >= min_cosine)
    return pairs


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 8,
    partitions: int = 16,
) -> DataFrame:
    """Connected components over a (small) candidate-pair edge set by
    min-label propagation: every node starts as its own cluster; each
    iteration takes the min cluster id among neighbors; stop at fixpoint.

    This turns pairwise near-dup candidates into duplicate GROUPS with a
    canonical representative (the min id) — the final step of a dedup
    pipeline. The iteration count is bounded by the component diameter;
    near-dup clusters are near-cliques, so a handful of passes converges
    (the loop checks an actual fixpoint and stops early). Each pass joins
    only the edge set — already reduced by LSH banding to a small fraction
    of the corpus — never the corpus itself.

    Returns (id, cluster) for every node appearing in an edge.

    Hygiene (the iterative-algorithm trio every Spark fixpoint loop needs):
    each superseded labels frame is unpersisted as soon as its successor is
    materialized (storage pool holds at most two node-set frames at any
    time); ``localCheckpoint`` every 4 iterations truncates the otherwise
    per-iteration-growing lineage; the shuffle width is scoped with explicit
    ``repartition(partitions, ...)`` on the loop frames — never by mutating
    session-global ``spark.sql.shuffle.partitions``, which is unsafe under
    concurrent queries on the same session. Raises RuntimeError if the loop
    exits before fixpoint (component diameter > max_iterations would
    otherwise silently return wrong clusters).
    """
    # the edge set is LSH-reduced and small relative to the corpus; pin a
    # modest partition count so each propagation pass doesn't inherit a
    # corpus-sized spark.sql.shuffle.partitions (size up for huge graphs)
    sym = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionByName(
        edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    ).repartition(partitions, "v").persist()
    labels = (
        sym.select(F.col("u").alias("id")).distinct()
        .withColumn("cluster", F.col("id"))
        .repartition(partitions, "id")
        .persist()
    )
    converged = False
    try:
        for it in range(max_iterations):
            # round 15: pin shuffle_hash on the node-grain side — the
            # unhinted plan broadcast-hash-joins the labels frame because
            # the checkpointed edge lineage carries a tiny size estimate
            # (the plans/graph_metrics.py LPA/katz hazard); a |V|-grain
            # broadcast dies at scale while SHJ's per-partition build
            # side stays |V|/partitions-bounded. Measured cost-free at
            # sf0.1 (loop 1.08 s hinted vs 1.12 s unhinted, warm).
            lab_h = labels.hint("shuffle_hash")
            neighbor_min = (
                sym.join(lab_h, sym["v"] == lab_h["id"])
                .groupBy("u")
                .agg(F.min("cluster").alias("nmin"))
            ).hint("shuffle_hash")
            updated = (
                labels.join(neighbor_min, labels["id"] == neighbor_min["u"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
                    ).alias("cluster"),
                    F.col("cluster").alias("__old"),
                )
                .repartition(partitions, "id")
            )
            if (it + 1) % 4 == 0:
                updated = updated.localCheckpoint(eager=False)
            updated = updated.persist()
            changed = updated.filter(F.col("cluster") != F.col("__old")).count()
            labels.unpersist()  # the count above materialized the successor
            labels = updated.drop("__old")
            if changed == 0:
                converged = True
                break
    finally:
        sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iterations} "
            "iterations (component diameter exceeds the bound); raise "
            "max_iterations"
        )
    return labels


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    parallelism: int | None = None,
) -> DataFrame:
    """Per-document n-gram repetition signals (the Gopher-style quality
    rules): ``top_frac`` = occurrences of the single most frequent n-gram /
    total n-grams, ``dup_frac`` = fraction of n-gram occurrences that are
    repeats of an earlier one. High values flag boilerplate/spam documents.

    Plan shape: n-gram explode -> groupBy(id, gram) count -> groupBy(id)
    max/sum. Both aggregations partial-aggregate map-side; state per doc is
    its distinct-gram counts — linear in the corpus, no self-joins.
    Documents with fewer than ``n`` tokens produce no n-grams and are absent
    from the result.
    """
    if parallelism:
        df = df.repartition(parallelism)
    staged = df.withColumn("__toks", tokens(text_col)).select(
        F.col(id_col), F.explode(word_shingles(F.col("__toks"), n)).alias("gram")
    )
    per_gram = staged.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_count"),
        (F.max("c") / F.sum("c")).alias("top_frac"),
        ((F.sum("c") - F.count(F.lit(1))) / F.sum("c")).alias("dup_frac"),
    )


def shared_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    parallelism: int | None = None,
) -> DataFrame:
    """Cross-document repeated-window detection (the line-level / boilerplate
    dedup of web-corpus pipelines, applied to rolling k-token windows since
    the corpus has no line structure): for each document, the fraction of its
    distinct k-token windows that also occur in at least one OTHER document.

    Plan shape: distinct windows per doc (doc_shingles) -> groupBy(window)
    doc-frequency -> join back on the window -> per-doc ratio. Two shuffles
    on the short window string, both partial-aggregated; never an all-pairs
    stage. At 100 TB the window df table is itself a useful artifact (the
    boilerplate dictionary) and the join is map-side after bucketing both
    sides by window.

    Documents with fewer than ``k`` tokens have no windows and are absent.
    """
    win = doc_shingles(df, id_col, text_col, k=k, parallelism=parallelism).withColumnRenamed(
        "shingle", "window"
    )
    # windows are distinct per doc, so count(*) = document frequency
    dfreq = win.groupBy("window").agg(F.count(F.lit(1)).alias("df"))
    joined = win.join(dfreq, "window")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_shared"),
        (
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("shared_frac"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    parallelism: int | None = None,
    sigs_df: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs within a Hamming radius, found WITHOUT an
    all-pairs scan: the 32-bit signature splits into 4 bytes; by pigeonhole,
    any pair within Hamming distance <= 3 agrees on at least one whole byte,
    so candidates come from equi-joins on (byte_index, byte_value) only —
    recall is EXACT for max_hamming <= 3, and each band bucket holds just
    the docs sharing that byte. The verify step is one integer popcount
    (bit_count(xor)) per candidate.

    ``sigs_df`` (round 15): precomputed ``(id, simhash)`` signatures for
    exactly ``df``'s documents — callers that carry the signature as a
    per-doc column (the curation pipeline computes it once at its raw
    artifact pass) pass it here to skip the tokenize; the banding and
    popcount verify are unchanged, so the pair set is identical
    (signatures are a pure per-doc function of text).
    """
    if max_hamming > 3:
        raise ValueError(
            "byte banding guarantees recall only for max_hamming <= 3 "
            "(4 bands; h+1 bands are needed for Hamming distance h)"
        )
    sigs = (
        sigs_df
        if sigs_df is not None
        else simhash32(df, id_col, text_col, parallelism=parallelism)
    )
    bands = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn("v", F.expr("shiftright(simhash, b * 8) & 255"))
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "b", "v"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "b", "v"
    )
    cand = (
        a.join(b, ["b", "v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_signature_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    parallelism: int | None = None,
    cache: bool = True,
    families: str = "both",
) -> tuple[DataFrame, DataFrame]:
    """The persistable dedup signature state for a corpus (or a delta
    shard): MinHash LSH band keys ``(id, fp, band, band_key)`` and SimHash
    words ``(id, fp, simhash)``, both keyed by the doc CONTENT fingerprint
    ``fp = xxhash64(text)``.

    The fingerprint is what makes the index INCREMENTALLY maintainable
    (the reference's Process loop analog, data/newsync.go:147-222, which
    rebuilds dirty state rather than all state): a refresh joins the live
    table's (id, fp) against the stored index and re-shingles ONLY docs
    whose fp changed or appeared — the expensive explode/agg work is
    delta-sized, the carry-forward is one fp-equality hash join with no
    explode.

    Plan shape: id and fp are PACKED into one struct grouping key so fp
    rides the existing shingle -> signature -> band pipeline for free —
    no corpus-grain join-back to re-attach it.

    ONE corpus pass for BOTH families (round 15, r14 verdict task 5;
    guide §1.2): the text is tokenized once, the distinct shingle array
    and the raw token array ride a single tagged explode
    (kind 0 = shingle, kind 1 = token), and one groupBy(doc) computes
    the 16 MinHash mins (over kind-0 rows) AND the 32 SimHash bit sums
    (over kind-1 rows) as conditional aggregates in the same shuffle.
    The previous shape ran two full corpus scans + tokenizations (one
    per family); arithmetic per family is unchanged (same h31 mins,
    same ±1 bit sums), so both outputs are bit-identical. The doc-grain
    aggregate (~50 small columns per doc, bounded by |docs|) is
    ``localCheckpoint``ed when ``cache=True`` so the two downstream
    index writes replay doc-grain blocks instead of re-running the
    corpus pass — eager, so the pass is paid at construction (every
    caller executes both outputs or exactly one action); not
    fault-tolerant to executor loss, like every checkpoint in this
    repo.

    Family membership is preserved exactly: a doc with tokens but fewer
    than ``shingle_k`` words has SimHash rows and no band rows (the
    ``__n_sh > 0`` filter replaces the old empty-array explode drop);
    a doc with no tokens appears in neither family, as before.

    ``families`` scopes the pass (round 15): the delta sides of
    ``dedup_delta_simhash`` / ``dedup_delta_candidates`` need exactly ONE
    family, and the fused both-family aggregate made them pay the other
    one too (before the fusion, laziness meant the discarded frame was
    never computed — measured +0.8-1.2 s on the incremental simhash
    query). With ``families="minhash"`` only the shingle rows are
    exploded and only the 16 mins aggregated (``"simhash"``: only raw
    tokens / 32 bit sums); the single-family expressions are the same
    conditional aggregates evaluated over the same rows, so the
    returned frame is bit-identical to the both-family slice. The
    not-requested side of the returned tuple is None, and the doc-grain
    checkpoint is skipped (a single downstream action replays nothing).
    """
    if families not in ("both", "minhash", "simhash"):
        raise ValueError(f"unknown families: {families!r}")
    want_min = families in ("both", "minhash")
    want_sim = families in ("both", "simhash")
    packed = df.select(
        F.struct(
            F.col(id_col).alias("id"), F.xxhash64(F.col(text_col)).alias("fp")
        ).alias("__doc"),
        F.col(text_col),
    )
    if parallelism:
        # the corpus fixture is one small parquet file = one input split;
        # signature work is CPU-bound per row, so spread it (the
        # doc_shingles rationale)
        packed = packed.repartition(parallelism)
    staged = packed.withColumn("__toks", tokens(text_col)).select(
        "__doc",
        *(
            [
                F.array_distinct(
                    word_shingles(F.col("__toks"), shingle_k)
                ).alias("__sh")
            ]
            if want_min
            else []
        ),
        "__toks",
    )
    parts = []
    if want_min:
        parts.append(
            F.transform(
                F.col("__sh"),
                lambda s: F.struct(F.lit(0).alias("kind"), s.alias("val")),
            )
        )
    if want_sim:
        parts.append(
            F.transform(
                F.col("__toks"),
                lambda t: F.struct(F.lit(1).alias("kind"), t.alias("val")),
            )
        )
    tagged = F.concat(*parts) if len(parts) == 2 else parts[0]
    rows = staged.select("__doc", F.explode(tagged).alias("r")).select(
        "__doc",
        F.col("r.kind").alias("kind"),
        portable_hash64(F.col("r.val")).alias("h"),
    )
    h31 = F.col("h") % MINHASH_PRIME
    min_aggs = [
        F.min(
            F.when(
                F.col("kind") == 0,
                (F.lit(a) * h31 + F.lit(b)) % MINHASH_PRIME,
            )
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    bit_aggs = [
        F.sum(
            F.when(
                F.col("kind") == 1,
                F.expr(
                    f"CASE WHEN (shiftright(h, {b}) & 1) = 1"
                    " THEN 1 ELSE -1 END"
                ),
            )
        ).alias(f"__s{b}")
        for b in range(32)
    ]
    counts = []
    if want_min:
        counts.append(
            F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).alias("__n_sh")
        )
    if want_sim:
        counts.append(
            F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).alias("__n_tok")
        )
    agg = rows.groupBy("__doc").agg(
        *(min_aggs if want_min else []),
        *(bit_aggs if want_sim else []),
        *counts,
    )
    if cache and want_min and want_sim:
        # two downstream index writes replay the doc-grain blocks; a
        # single-family caller runs exactly one action, so there is
        # nothing to share
        agg = agg.localCheckpoint(eager=True)
    band_rows = None
    if want_min:
        bk = minhash_band_keys(
            agg.filter(F.col("__n_sh") > 0), "__doc", num_hashes, bands
        )
        band_rows = bk.select(
            F.col("__doc.id").alias(id_col),
            F.col("__doc.fp").alias("fp"),
            "band",
            "band_key",
        )
    sim_rows = None
    if want_sim:
        sim_rows = agg.filter(F.col("__n_tok") > 0).select(
            F.col("__doc.id").alias(id_col),
            F.col("__doc.fp").alias("fp"),
            _simhash_assemble().alias("simhash"),
        )
    return band_rows, sim_rows


def incremental_minhash_candidates(
    delta_bands: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Delta-vs-corpus near-dup candidates: distinct ``(delta_doc,
    corpus_doc)`` pairs whose MinHash signatures collide in >= 1 band,
    where the corpus side comes from a PERSISTED signature index (no
    corpus re-shingling — the 100 TB point of the index).

    Index rows whose id appears in the delta are anti-joined away first
    (broadcast — the delta id set is shard-sized by assumption): an
    updated document must match against OTHER docs, not its own stale
    signature, and delta-internal pairs are the ordinary batch dedup's
    job, not this operator's.
    """
    superseded = delta_bands.select(F.col(id_col)).distinct()
    corpus_side = index_bands.join(F.broadcast(superseded), id_col, "left_anti")
    d = delta_bands.select(F.col(id_col).alias("delta_doc"), "band", "band_key")
    c = corpus_side.select(F.col(id_col).alias("corpus_doc"), "band", "band_key")
    return (
        d.join(c, ["band", "band_key"])
        .select("delta_doc", "corpus_doc")
        .distinct()
    )


def incremental_simhash_candidates(
    delta_sim: DataFrame,
    index_sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Delta-vs-corpus SimHash near-dups within ``max_hamming`` bits,
    where the corpus side is the PERSISTED signature index: byte-band
    blocking (pigeonhole over 4 bytes — exact recall for max_hamming
    <= 3) between the delta's fresh signatures and the index, one
    popcount per collided pair. Index rows superseded by the delta are
    anti-joined away as in ``incremental_minhash_candidates``. Returns
    (delta_doc, corpus_doc, hamming).

    ``max_hamming`` must be <= 3: with 4 fixed byte bands the pigeonhole
    bound only guarantees a colliding band for pairs within 3 flipped
    bits — a larger radius would SILENTLY miss pairs whose 4+ flips
    spread across all bands, so it is rejected rather than served
    incomplete (round-13, r12 advisor)."""
    if max_hamming > 3:
        raise ValueError(
            "incremental_simhash_candidates: max_hamming="
            f"{max_hamming} exceeds the exact-recall bound of the 4-band "
            "byte blocking (pigeonhole guarantees a shared band only for "
            "<= 3 flipped bits); use simhash_hamming_pairs' wider banding "
            "for larger radii"
        )
    superseded = delta_sim.select(F.col(id_col)).distinct()
    corpus_side = index_sim.join(F.broadcast(superseded), id_col, "left_anti")

    def banded(df, out_id):
        b = df.select(
            F.col(id_col).alias(out_id),
            F.col("simhash").alias(f"__s_{out_id}"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
        )
        return b.withColumn("v", F.expr(f"shiftright(__s_{out_id}, b * 8) & 255"))

    a = banded(delta_sim, "delta_doc")
    c = banded(corpus_side, "corpus_doc")
    cand = (
        a.join(c, ["b", "v"])
        .select("delta_doc", "corpus_doc", "__s_delta_doc", "__s_corpus_doc")
        .distinct()
    )
    return cand.select(
        "delta_doc",
        "corpus_doc",
        F.bit_count(
            F.col("__s_delta_doc").bitwiseXOR(F.col("__s_corpus_doc"))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
