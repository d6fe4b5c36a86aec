"""Deduplication tiers: exact, n-gram Jaccard, MinHash/LSH, SimHash, containment, decontamination.

Split from the original single-module registry (round-5 hygiene);
every (PySpark program, DuckDB oracle) pair is unchanged and
registers into ``plans._base.QUERIES``/``ORACLES`` at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.operators import search as S  # noqa: F401
from veri_spark.operators import stats as ST  # noqa: F401
from veri_spark.operators.topk import (  # noqa: F401
    dedup_keep_best,
    topk,
    topk_per_group,
)
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.functions.text import EN_STOPWORDS_SQL  # noqa: F401

from veri_spark.plans._base import (  # noqa: F401
    _DD_CENTROIDS,
    _DD_CENTROID_DIST,
    _DD_SHINGLES,
    _DD_SPLIT_SHINGLES,
    _DD_TOKS,
    _PQ_K,
    _PQ_M,
    _PQ_SUB,
    _Q0,
    _REV_DEC,
    _dd_l1,
    _dd_subdist,
    _knn,
    _minhash_seed_values,
    _query_vector,
    _rev_dec,
    _round_half_up,
    register,
)
from veri_spark.plans._base import shared_frame  # noqa: F401


def capped_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared capped-shingle pair aggregate ``(doc_a, doc_b, n_a,
    n_b, n_common)`` over ``documents`` with ``max_doc_freq=64`` (round
    15, guide §1.2): dedup_ngram_jaccard, dedup_containment,
    jaccard_threshold_sweep and lsh_param_planner each rebuilt the
    IDENTICAL tokenize → shingle → stop-cap → self-join → groupBy lineage
    (~2.5-3 s each at sf0.1, measured) and differ only in the final
    projection/aggregate over these five integers. One build per
    (session, sf_dir), lazily checkpointed — the first consumer in
    a sweep pays it (bench-documented cold-payer attribution); nothing
    persists across processes. The measure columns are derived per
    consumer with ``pair_measure_col`` — the exact expressions
    ``jaccard_pairs`` applied inline — so results are bit-identical.
    Scale note: the frame is pair-grain but stop-shingle-capped (every
    join bucket <= 64 docs, so <= C(64,2) pairs per shingle — linear in
    the shingle universe, never quadratic in the corpus); it is the
    largest frame in the shared registry and the reason ``shared_frame``
    checkpoints lazily."""
    from veri_spark.operators.dedup import doc_shingles, jaccard_pairs

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return jaccard_pairs(
            doc_shingles(docs, parallelism=16), max_doc_freq=64
        ).select("doc_a", "doc_b", "n_a", "n_b", "n_common")

    return shared_frame(spark, sf_dir, "capped_pairs_df64", build)


def shared_minhash_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared MinHash-LSH candidate pair set ``(doc_a, doc_b)``
    over ``documents`` with the production (16 hashes, 4 bands) banding
    (round 15, guide §1.2). Five queries rebuilt the identical
    shingle -> 16-min-hash signature -> band-key -> band self-join ->
    distinct chain: dedup_minhash_lsh (returns it), dedup_minhash_clusters
    (connected components over it), cross_source_neardup_rate,
    weighted_jaccard_rescore and minhash_estimate_error (each join
    against it). One build per (session, sf_dir); the first
    consumer in a sweep pays it. Bounded: banding emits only colliding
    pairs (the linear-plus-candidates scale shape all five consumers
    already relied on)."""
    from veri_spark.operators.dedup import minhash_candidate_pairs

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return minhash_candidate_pairs(
            docs, num_hashes=16, bands=4, parallelism=16
        )

    return shared_frame(spark, sf_dir, "minhash_cands_16_4", build)




# ---------------------------------------------------------------------------
# Deduplication suite (exact / jaccard / MinHash LSH / SimHash / embedding)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_summary",
    """
    WITH per AS (SELECT md5(lower(trim(text))) AS fp, COUNT(*) AS n
                 FROM documents GROUP BY fp)
    SELECT SUM(n)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_distinct_text,
           (SUM(n) - COUNT(*))::BIGINT AS n_dup_docs
    FROM per
    """,
)
def dedup_exact_summary(spark, sf_dir):
    """Exact dedup: hash-groupBy duplicate accounting."""
    from veri_spark.operators.dedup import exact_dedup_summary

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_summary(docs, "text")



@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DD_SHINGLES},
    capped AS (SELECT s.doc_id, s.shingle FROM sh s
               JOIN (SELECT shingle FROM sh
                     GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 64) keep
                 ON s.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM capped a JOIN capped b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           ROUND(c / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup: 3-word shingle self-join, top pairs.

    Stop shingles (document frequency > 64) are dropped before the
    self-join (cap_stop_shingles) so no join bucket is quadratic in the
    corpus; jaccard is exact over the capped shingle universe. Round 15:
    the pair aggregate is the session-shared ``capped_pair_stats`` frame
    (same lineage, built once for the four pair consumers)."""
    from veri_spark.operators.dedup import pair_measure_col

    pairs = capped_pair_stats(spark, sf_dir).withColumn(
        "jaccard", pair_measure_col("jaccard")
    )
    out = topk(
        pairs, "jaccard", 20, higher_is_better=True, tie_cols=["doc_a", "doc_b"]
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))



@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: 16 hashes, 4 bands of 4."""
    return shared_minhash_cands(spark, sf_dir)



@register(
    "dedup_simhash",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
    b AS (SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
          GROUP BY doc_id, bit)
    SELECT doc_id,
           SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END)::BIGINT AS simhash
    FROM b GROUP BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash (32-bit, occurrence-weighted tokens) per document."""
    from veri_spark.operators.dedup import simhash32

    docs = load_table(spark, sf_dir, "documents")
    return simhash32(docs, parallelism=16)



@register(
    "dedup_embedding_cosine",
    """
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             LEAST(GREATEST(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), -1.0), 1.0) AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(cos, 6) AS cos
    FROM p ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: cosine self-join blocked on the label column."""
    from veri_spark.operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, block_col="label")
    out = topk(pairs, "cos", 20, higher_is_better=True, tie_cols=["id_a", "id_b"])
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))



@register(
    "dedup_minhash_clusters",
    f"""
    WITH RECURSIVE {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u)
    SELECT cluster AS cluster_id, COUNT(*)::BIGINT AS cluster_size
    FROM comp GROUP BY cluster
    """,
)
def dedup_minhash_clusters(spark, sf_dir):
    """Duplicate GROUPS, not just pairs: connected components over the
    MinHash-LSH candidate edges by min-label propagation (iterative, edge
    set only — the corpus is never re-joined). The oracle computes the same
    closure with a recursive CTE."""
    from veri_spark.operators.dedup import connected_components

    pairs = shared_minhash_cands(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )



@register(
    "dedup_simhash_hamming",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
    bsum AS (SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
             GROUP BY doc_id, bit),
    sig AS (SELECT doc_id,
                   SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END)::BIGINT AS simhash
            FROM bsum GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS v
              FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                    a.simhash AS sa, c.simhash AS sb
             FROM bands a JOIN bands c ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3, via byte banding
    (pigeonhole: <=3 flipped bits leave >=1 of 4 bytes intact, so the
    band join has EXACT recall — no all-pairs scan, one popcount per
    candidate; operators/dedup.simhash_hamming_pairs)."""
    from veri_spark.operators.dedup import simhash_hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_hamming_pairs(docs, max_hamming=3, parallelism=16)
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))



@register(
    "decontaminate_ngram_overlap",
    f"""
    WITH {_DD_SPLIT_SHINGLES}
    SELECT e.doc_id, e.n_sh::BIGINT AS n_sh, COUNT(*)::BIGINT AS n_shared,
           FLOOR(COUNT(*)::DOUBLE / e.n_sh * 1000000 + 0.5) / 1000000 AS overlap_ratio
    FROM eval_sh e JOIN train_sh t ON e.shingle = t.shingle
    GROUP BY e.doc_id, e.n_sh
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination (companion of `decontamination_overlap`,
    which flags the TRAIN side against a tiny broadcast benchmark set —
    opposite output grain, different split): n-gram overlap of each EVAL document
    against the TRAIN shingle universe (the standard 'did the test set leak
    into training data' check — GPT-3/PaLM-style 13-gram collision, here
    3-gram on the short synthetic docs). The corpus is split
    deterministically by doc_id % 10 (eval = 0). Plan: distinct train
    shingles (one partial-agg groupBy), eval shingles inner-join on the
    shingle value, one grouped count per eval doc — the fact side shuffles
    ON THE SHINGLE, so the 100 TB run uses the same stop-shingle cap as
    jaccard_pairs (cap_stop_shingles) to bound hot buckets; exact here for
    the oracle. Never all-pairs: eval docs join the shingle SET, not train
    docs."""
    from veri_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    evald = docs.filter(F.col("doc_id") % 10 == 0)
    train_sh = doc_shingles(train, k=3).select("shingle").distinct()
    eval_sh = doc_shingles(evald, k=3, with_size=True)
    joined = eval_sh.join(train_sh, "shingle")
    return (
        joined.groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            F.col("n_sh").cast("bigint").alias("n_sh"),
            "n_shared",
            (F.floor(F.col("n_shared").cast("double") / F.col("n_sh") * 1000000 + 0.5)
             / 1000000).alias("overlap_ratio"),
        )
    )



@register(
    "cross_source_duplicates",
    """
    SELECT fp, COUNT(DISTINCT source)::BIGINT AS n_sources, COUNT(*)::BIGINT AS n_docs
    FROM (SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp, source
          FROM documents) t
    GROUP BY fp HAVING COUNT(DISTINCT source) > 1
    """,
)
def cross_source_duplicates(spark, sf_dir):
    """Cross-source duplicated PREFIXES: 8-token-prefix fingerprints
    appearing in more than one source shard (syndicated headers /
    boilerplate intros that inflate a training mix even when per-source
    full-text dedup is clean). One groupBy on the prefix fingerprint — the
    rows that survive HAVING are by construction few."""
    from veri_spark.functions.text import tokens as toks_fn

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(toks_fn("text"), 1, 8)))
    return (
        docs.select(fp.alias("fp"), "source")
        .groupBy("fp")
        .agg(
            F.count_distinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_sources") > 1)
    )



@register(
    "decontamination_overlap",
    """
    WITH bench AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id < 20)
    ),
    corpus AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE doc_id >= 20)
    )
    SELECT c.doc_id, COUNT(*)::BIGINT AS n_shared
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id HAVING COUNT(*) >= 3
    """,
)
def decontamination_overlap(spark, sf_dir):
    """Eval-set decontamination (companion of `decontaminate_ngram_overlap`,
    which scores EVAL docs against the train universe — opposite output
    grain, different split): flag training docs sharing >= 3 distinct
    3-word shingles with a held-out benchmark set (docs 0-19 stand in).
    The benchmark shingle set is tiny and BROADCAST, so the corpus side is
    map-only scan -> hash-semi-probe -> one groupBy(doc_id) — at 100 TB the
    eval suites are a few MB of shingles against the whole crawl, which is
    exactly this plan. Distinct shingles per side, so n_shared is the
    shared-shingle count, not an occurrence count."""
    from veri_spark.operators.dedup import doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench = (
        doc_shingles(docs.filter(F.col("doc_id") < 20), parallelism=None)
        .select("shingle")
        .distinct()
    )
    corpus = doc_shingles(
        docs.filter(F.col("doc_id") >= 20), parallelism=16
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )



@register(
    "dedup_keep_first_by_source",
    """
    WITH fp AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
         k AS (SELECT fp, MIN(doc_id) AS keeper FROM fp GROUP BY fp)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM fp JOIN k USING (fp)
    GROUP BY source
    """,
)
def dedup_keep_first_by_source(spark, sf_dir):
    """Dedup WINNER SELECTION (the materialization step the summary-only
    dedup queries stop short of): exact-hash groups keep min(doc_id), and
    every shard reports how many of its docs survived. This is the shape
    that actually writes the deduped corpus at 100 TB: fingerprint groupBy
    (short md5 keys, partial aggs), keeper set joined back on the
    fingerprint, per-source counts. No full-text shuffle — only the
    32-char fingerprint and ids move."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", F.md5(F.col("text")).alias("fp"))
    k = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    return (
        fp.join(k, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
        )
    )



@register(
    "docs_norm_dedup_rate",
    """
    WITH n AS (
      SELECT source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp
      FROM documents)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT norm_fp)::BIGINT AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT norm_fp)::DOUBLE / COUNT(*), 6) AS dup_rate
    FROM n GROUP BY source
    """,
)
def docs_norm_dedup_rate(spark, sf_dir):
    """Normalization-aware dedup rate per source: lowercase, strip
    non-alphanumerics, collapse whitespace, then fingerprint — the measure
    of how much exact-dedup is hiding behind trivial formatting variation
    (the first pass of every crawl-cleaning pipeline). The distinct-count
    runs on md5 fingerprints, NOT the normalized text: only 32-char hashes
    reach the distinct shuffle, the documents never leave their scan."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    n = docs.select("source", F.md5(norm).alias("norm_fp"))
    return n.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("norm_fp")).alias("n_distinct"),
        F.round(
            1.0 - F.count_distinct(F.col("norm_fp")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )



@register(
    "dedup_containment",
    f"""
    WITH {_DD_SHINGLES},
    capped AS (SELECT s.doc_id, s.shingle FROM sh s
               JOIN (SELECT shingle FROM sh
                     GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 64) keep
                 ON s.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM capped a JOIN capped b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           ROUND(c / LEAST(sa.n, sb.n), 6) AS containment
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    ORDER BY containment DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
)
def dedup_containment(spark, sf_dir):
    """Containment near-dup (companion of `dedup_ngram_jaccard`, same
    capped-shingle candidate machinery but a DIFFERENT measure: shared /
    min(|A|, |B|) instead of shared / |A union B| — containment catches a
    short document EMBEDDED in a longer one, the quote/boilerplate-
    inclusion case Jaccard's union denominator dilutes away). Stop
    shingles (doc freq > 64) are dropped before the self-join so no
    bucket is quadratic; sizes ride the join keys. Round 15: reads the
    session-shared ``capped_pair_stats`` aggregate (the measure is the
    only thing that differed from dedup_ngram_jaccard's build)."""
    from veri_spark.operators.dedup import pair_measure_col

    pairs = capped_pair_stats(spark, sf_dir).withColumn(
        "containment", pair_measure_col("containment")
    )
    out = topk(
        pairs, "containment", 20, higher_is_better=True,
        tie_cols=["doc_a", "doc_b"],
    )
    return out.select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    )



@register(
    "dedup_edit_distance",
    """
    WITH b AS (SELECT doc_id, n_chars // 20 AS blk, substr(text, 1, 60) AS pfx
               FROM documents)
    SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
           levenshtein(a.pfx, bb.pfx)::BIGINT AS edit_dist
    FROM b a JOIN b bb ON a.blk = bb.blk AND a.doc_id < bb.doc_id
    WHERE levenshtein(a.pfx, bb.pfx) <= 20
    ORDER BY edit_dist ASC, doc_a ASC, doc_b ASC LIMIT 20
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Edit-distance near-dup with length blocking (the fuzzy-match tier
    between exact-hash and shingle dedup: catches small in-place edits
    that shift every shingle). Candidate pairs come ONLY from same
    length-block buckets — the O(n^2) Levenshtein never sees the cross
    product, just length-compatible docs (a pair differing by > block
    width in length cannot be a near-dup anyway) — and runs on 60-char
    prefixes, so per-pair cost is bounded. At 100 TB add a second
    blocking key (e.g. the first shingle's minhash band) to cap bucket
    sizes; the join shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        (F.col("n_chars") / 20).cast("bigint").alias("blk"),
        F.substring("text", 1, 60).alias("pfx"),
    )
    a = b.select(
        F.col("doc_id").alias("doc_a"), "blk", F.col("pfx").alias("pfx_a")
    )
    bb = b.select(
        F.col("doc_id").alias("doc_b"), "blk", F.col("pfx").alias("pfx_b")
    )
    pairs = (
        a.join(bb, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 20)
    )
    return topk(
        pairs, "edit_dist", 20, higher_is_better=False, tie_cols=["doc_a", "doc_b"]
    )



@register(
    "minhash_estimate_error",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id, shingle,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    agree AS (SELECT c.doc_a, c.doc_b,
                     SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS ag
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.doc_a
              JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
              GROUP BY c.doc_a, c.doc_b),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
              GROUP BY c.doc_a, c.doc_b)
    SELECT g.doc_a, g.doc_b,
           ROUND(g.ag / 16.0, 6) AS est_sim,
           ROUND(COALESCE(i.i, 0)::DOUBLE
                 / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS jaccard,
           ROUND(ABS(g.ag / 16.0 - COALESCE(i.i, 0)::DOUBLE
                 / (sa.n + sb.n - COALESCE(i.i, 0))), 6) AS abs_err
    FROM agree g
    LEFT JOIN inter i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
    JOIN sizes sa ON g.doc_a = sa.doc_id
    JOIN sizes sb ON g.doc_b = sb.doc_id
    """,
)
def minhash_estimate_error(spark, sf_dir):
    """Estimator-quality audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of the 16 signature positions that agree)
    next to the EXACT shingle Jaccard, and the absolute error — the
    calibration table you consult before trusting a band/row configuration
    on a new corpus. Exact Jaccard is computed ONLY for candidate pairs
    (the shingle self-join is semi-pruned to candidate docs first), so the
    audit stays linear-plus-candidates at 100 TB — never the full
    quadratic truth. The shingle -> signature chain is built ONCE and
    shared by the candidate join, the agreement compare, and the exact
    intersection (persisted across the three consumers; an end-to-end
    `minhash_candidate_pairs` call here would re-derive shingles and
    signatures from scratch per consumer)."""
    from veri_spark.operators.dedup import (
        doc_shingles, minhash_band_keys, minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs, parallelism=16).persist()
    sigs = minhash_signatures(sh, num_hashes=16).persist()
    # round 15: the candidate set is the session-shared
    # shared_minhash_cands frame (identical banding chain) — the band
    # self-join no longer rebuilds here
    cands = shared_minhash_cands(spark, sf_dir)

    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(16)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(16)],
    )
    agree = None
    for i in range(16):
        t = F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    est = cands.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", (agree / F.lit(16.0)).alias("est")
    )

    cd = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cd), "doc_id", "left_semi")
    inter = (
        sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh_c.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cands, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = (
        F.coalesce(F.col("i"), F.lit(0)).cast("double")
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("est", 6).alias("est_sim"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(F.col("est") - jac), 6).alias("abs_err"),
        )
    )



@register(
    "dedup_cluster_sizes",
    """
    WITH fp AS (SELECT md5(text) AS f, COUNT(*)::BIGINT AS sz
                FROM documents GROUP BY md5(text))
    SELECT sz AS cluster_size, COUNT(*)::BIGINT AS n_clusters,
           (sz * COUNT(*))::BIGINT AS n_docs
    FROM fp GROUP BY sz
    """,
)
def dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram: how many exact-duplicate clusters
    exist at each size and how much document mass they hold — the table
    that tells you whether dedup will reclaim 1% or 40% of the corpus
    BEFORE you pay for the rewrite. Two partial-aggregated groupBys, the
    second over at most |distinct sizes| rows; only md5 fingerprints ever
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5(F.col("text")).alias("f")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return fp.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )



@register(
    "chunk_dedup_summary",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         c AS (SELECT doc_id,
                      unnest(list_transform(range(0, (len(ws)-1)//24 + 1),
                             i -> md5(array_to_string(ws[i*24+1 : i*24+32],
                                                      ' ')))) AS fp
               FROM w),
         g AS (SELECT fp, COUNT(*)::BIGINT AS n,
                      COUNT(DISTINCT doc_id)::BIGINT AS nd
               FROM c GROUP BY fp)
    SELECT COUNT(*)::BIGINT AS n_unique_chunks,
           SUM(n)::BIGINT AS n_chunks,
           SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_cross_doc_chunks,
           ROUND(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END)::DOUBLE
                 / SUM(n), 6) AS dup_rate
    FROM g
    """,
)
def chunk_dedup_summary(spark, sf_dir):
    """Chunk-grain deduplication audit: after 32/24 sliding-window
    chunking (same scheme as `doc_chunk_stats`), how many chunks are
    byte-identical repeats, and how many distinct chunks recur across
    DIFFERENT documents (boilerplate detection at paragraph granularity —
    doc-level dedup misses these). Only 32-char fingerprints shuffle; the
    groupBy is partial-aggregated and the final rollup is one row."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    c = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST(floor((size(ws)-1)/24) AS INT)),"
                " i -> md5(concat_ws(' ', slice(ws, i*24 + 1, 32))))"
            )
        ).alias("fp"),
    )
    g = c.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("doc_id").cast("bigint").alias("nd"),
    )
    dup = F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_chunks"),
        F.sum("n").cast("bigint").alias("n_chunks"),
        dup.cast("bigint").alias("n_dup_chunks"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("bigint")
          .alias("n_cross_doc_chunks"),
        F.round(dup.cast("double") / F.sum("n"), 6).alias("dup_rate"),
    )



@register(
    "source_overlap_jaccard",
    """
    WITH ss AS (SELECT DISTINCT source,
                       unnest(list_transform(
                         range(1, greatest(len(ws) - 1, 1)),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                         AS shingle
                FROM (SELECT source, string_split(text, ' ') AS ws
                      FROM documents)),
         sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
         inter AS (SELECT a.source AS source_a, b.source AS source_b,
                          COUNT(*) AS c
                   FROM ss a JOIN ss b
                     ON a.shingle = b.shingle AND a.source < b.source
                   GROUP BY 1, 2)
    SELECT source_a, source_b, c::BIGINT AS n_common,
           ROUND(c::DOUBLE / (na.n + nb.n - c), 6) AS jaccard
    FROM inter
    JOIN sz na ON source_a = na.source
    JOIN sz nb ON source_b = nb.source
    ORDER BY jaccard DESC, source_a ASC, source_b ASC LIMIT 20
    """,
)
def source_overlap_jaccard(spark, sf_dir):
    """Shard-level content overlap: Jaccard similarity between SOURCES
    over their distinct 3-word shingle sets — the "are these two crawls
    the same site" question answered at container grain, where doc-grain
    dedup would drown in pairs. The self-join output is bounded by
    |sources|^2 per shingle (containers, not documents), so the quadratic
    hazard of doc-grain shingle joins does not apply; sizes are a
    |sources|-row broadcast. Top-20 by similarity with deterministic
    tie-break."""
    from veri_spark.functions.text import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    ss = (
        docs.select("source", tokens("text").alias("__toks"))
        .select("source", F.explode(word_shingles(F.col("__toks"), 3)).alias("shingle"))
        .distinct()
    )
    ss = ss.persist()
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = ss.select(F.col("source").alias("source_a"), "shingle")
    b = ss.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a", "source_b", "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )
    return out.orderBy(
        F.col("jaccard").desc(), F.col("source_a").asc(), F.col("source_b").asc()
    ).limit(20)



@register(
    "jaccard_threshold_sweep",
    """
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    capped AS (SELECT s.doc_id, s.shingle FROM sh s
               JOIN (SELECT shingle FROM sh
                     GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 64) keep
                 ON s.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM capped a JOIN capped b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY doc_a, doc_b),
    j AS (SELECT c::DOUBLE / (sa.n + sb.n - c) AS jac
          FROM common
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id)
    SELECT FLOOR(LEAST(jac, 0.999999) * 10)::BIGINT AS bucket_decile,
           COUNT(*)::BIGINT AS n_pairs
    FROM j GROUP BY 1
    """,
)
def jaccard_threshold_sweep(spark, sf_dir):
    """Dedup-threshold calibration: the full histogram of candidate-pair
    Jaccard similarities in 0.1-wide deciles — the curve you read to pick
    a near-dup cutoff BEFORE committing a 100 TB dedup pass to it (the
    elbow between the noise mass at low similarity and the duplicate mass
    near 1.0). Same capped single-join plan as `dedup_ngram_jaccard`
    (stop-shingle cap bounds every join bucket), but aggregated to ~10
    rows instead of ranked pairs. jac = 1.0 folds into the top decile.
    Round 15: reads the session-shared ``capped_pair_stats`` aggregate."""
    from veri_spark.operators.dedup import pair_measure_col

    pairs = capped_pair_stats(spark, sf_dir).withColumn(
        "jaccard", pair_measure_col("jaccard")
    )
    bucket = F.floor(F.least(F.col("jaccard"), F.lit(0.999999)) * 10).cast("bigint")
    return pairs.groupBy(bucket.alias("bucket_decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )



@register(
    "split_leakage_check",
    """
    WITH f AS (SELECT doc_id, doc_id % 10 = 0 AS is_val, md5(text) AS fp
               FROM documents),
         g AS (SELECT fp,
                      SUM(CASE WHEN is_val THEN 1 ELSE 0 END) AS nv,
                      SUM(CASE WHEN is_val THEN 0 ELSE 1 END) AS nt
               FROM f GROUP BY fp)
    SELECT COUNT(*)::BIGINT AS n_fingerprints,
           SUM(nv)::BIGINT AS n_val_docs,
           SUM(CASE WHEN nv > 0 AND nt > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_leaked_fps,
           SUM(CASE WHEN nv > 0 AND nt > 0 THEN nv ELSE 0 END)::BIGINT
             AS n_leaked_val_docs,
           ROUND(SUM(CASE WHEN nv > 0 AND nt > 0 THEN nv ELSE 0 END)::DOUBLE
                 / SUM(nv), 6) AS leak_rate
    FROM g
    """,
)
def split_leakage_check(spark, sf_dir):
    """Train/validation leakage audit: with the standard doc_id % 10
    holdout, how many held-out documents share an exact fingerprint with
    a training document — the contamination number that inflates eval
    scores if unchecked (the within-corpus sibling of the external
    benchmark `decontamination_overlap`). One fingerprint groupBy carrying
    two small counters; the verdict is a one-row rollup."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        (F.col("doc_id") % 10 == 0).alias("is_val"), F.md5("text").alias("fp")
    )
    g = f.groupBy("fp").agg(
        F.sum(F.when(F.col("is_val"), 1).otherwise(0)).alias("nv"),
        F.sum(F.when(F.col("is_val"), 0).otherwise(1)).alias("nt"),
    )
    leaked = F.col("nv") > 0
    both = leaked & (F.col("nt") > 0)
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.sum("nv").cast("bigint").alias("n_val_docs"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_leaked_fps"),
        F.sum(F.when(both, F.col("nv")).otherwise(0)).cast("bigint")
          .alias("n_leaked_val_docs"),
        F.round(
            F.sum(F.when(both, F.col("nv")).otherwise(0)).cast("double")
            / F.sum("nv"), 6
        ).alias("leak_rate"),
    )



@register(
    "cross_source_neardup_rate",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*)::BIGINT AS n_pairs
    FROM pairs
    JOIN src sa ON doc_a = sa.doc_id
    JOIN src sb ON doc_b = sb.doc_id
    WHERE sa.source != sb.source
    GROUP BY 1, 2
    """,
)
def cross_source_neardup_rate(spark, sf_dir):
    """Cross-shard NEAR-duplicate pressure: MinHash-LSH candidate pairs
    whose members live in DIFFERENT sources, counted per source pair —
    `source_overlap_jaccard` asks "do these shards share exact shingles";
    this asks "do they share whole near-duplicate documents" (syndication
    / mirror detection), reusing the production banding plan
    (minhash_candidate_pairs) plus two joins against the tiny
    (doc_id, source) projection. At 100 TB the doc->source map rides the
    banded join's existing keys — only ids and 32-char band keys
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = shared_minhash_cands(spark, sf_dir)
    src = docs.select("doc_id", "source")
    out = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    return (
        out.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )



@register(
    "fingerprint_split_assign",
    """
    WITH f AS (
      SELECT doc_id, source,
             md5(lower(trim(text))) AS fp,
             CAST('0x' || substr(md5(md5(lower(trim(text)))), 1, 15) AS BIGINT)
               % 10 AS bucket
      FROM documents),
    s AS (
      SELECT doc_id, source, fp,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
      FROM f),
    leak AS (
      SELECT COUNT(*)::BIGINT AS n_leaked FROM (
        SELECT fp FROM s GROUP BY fp HAVING COUNT(DISTINCT split) > 1))
    SELECT split, source,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT fp)::BIGINT AS n_fingerprints,
           (SELECT n_leaked FROM leak) AS n_leaked_fingerprints
    FROM s GROUP BY split, source
    ORDER BY split ASC, source ASC
    """,
)
def fingerprint_split_assign(spark, sf_dir):
    """Leakage-safe train/val/test assignment: the split key is the md5 of
    the NORMALIZED TEXT, not the doc id — so byte-identical duplicates
    land in the same split by construction and the audit column
    `n_leaked_fingerprints` is structurally 0 (split by doc_id, the naive
    choice, leaks every cross-split duplicate into eval). One map pass
    assigns; counts are partial-aggregated; the leak audit groups by the
    32-char fingerprint only. The md5-of-md5 bucket matches the repo's
    portable-hash convention so both engines bucket identically."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    bucket = (
        F.conv(F.substring(F.md5(fp), 1, 15), 16, 10).cast("bigint") % 10
    )
    s = docs.select(
        "doc_id", "source", fp.alias("fp"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    leak = (
        s.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked"))
    )
    g = s.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_fingerprints"),
    )
    return (
        g.crossJoin(F.broadcast(leak))
        .select(
            "split", "source", "n_docs", "n_fingerprints",
            F.col("n_leaked").alias("n_leaked_fingerprints"),
        )
        .orderBy(F.col("split").asc(), F.col("source").asc())
    )



@register(
    "multimodal_dedup",
    """
    WITH m AS (
      SELECT doc_id, source, md5(text) AS payload_md5,
             strlen(text)::BIGINT AS n_bytes
      FROM documents),
    k AS (SELECT source, payload_md5, MIN(n_bytes) AS n_bytes,
                 COUNT(*)::BIGINT AS n_copies
          FROM m GROUP BY source, payload_md5)
    SELECT source,
           SUM(n_copies)::BIGINT AS n_payloads,
           COUNT(*)::BIGINT AS n_unique,
           SUM(n_copies * n_bytes)::BIGINT AS bytes_total,
           SUM(n_bytes)::BIGINT AS bytes_unique,
           ROUND(1.0 - SUM(n_bytes)::DOUBLE / SUM(n_copies * n_bytes), 6)
             AS savings_ratio
    FROM k GROUP BY source ORDER BY source ASC
    """,
)
def multimodal_dedup(spark, sf_dir):
    """Content-hash dedup accounting for binary media payloads (text bytes
    stand in for encoded media, same convention as
    `multimodal_decode_features`): per source, payload count vs unique
    md5 count and the byte savings content-addressed storage would
    realize — the FIRST pass a 100 TB image/audio ingest runs, before any
    decode. Only 32-char digests and byte counts shuffle; payload bytes
    never leave the scan (the md5 is computed map-side on the binary
    column). Copies within a hash keep MIN(n_bytes) — identical bytes,
    stated once."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id", "source",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("payload_md5"),
        F.length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
    )
    k = m.groupBy("source", "payload_md5").agg(
        F.min("n_bytes").alias("n_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    return (
        k.groupBy("source")
        .agg(
            F.sum("n_copies").cast("bigint").alias("n_payloads"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.sum(F.col("n_copies") * F.col("n_bytes")).cast("bigint").alias("bytes_total"),
            F.sum("n_bytes").cast("bigint").alias("bytes_unique"),
            F.round(
                1.0 - F.sum("n_bytes").cast("double")
                / F.sum(F.col("n_copies") * F.col("n_bytes")),
                6,
            ).alias("savings_ratio"),
        )
        .orderBy(F.col("source").asc())
    )


@register(
    "dedup_incremental_delta",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    delta AS (SELECT doc_id FROM documents
              WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT)
                    % 10 = 7)
    SELECT DISTINCT d.doc_id AS delta_doc, c.doc_id AS corpus_doc
    FROM bands d
    JOIN delta USING (doc_id)
    JOIN bands c ON c.band = d.band AND c.band_key = d.band_key
                AND c.doc_id <> d.doc_id
    WHERE c.doc_id NOT IN (SELECT doc_id FROM delta)
    """,
)
def dedup_incremental_delta(spark, sf_dir):
    """INCREMENTAL dedup: a deterministic-hash "new shard" slice (~10% of
    documents) deduped against the REST of the corpus via the store's
    PERSISTED MinHash signature index — the capability every production
    100 TB pipeline runs nightly, where re-shingling the corpus per
    incoming shard is the non-starter (corpus signature state is built
    once by ``dedup_index_refresh`` and maintained incrementally on its
    content fingerprints; each shard then pays only its own signature
    cost plus one band-key join against the parquet-backed index; the
    reference's analog is the rebuild-on-dirty Process loop,
    data/newsync.go:147-222).

    This query exercises the REAL persisted path end-to-end inside the
    gate: it writes the corpus slice into a throwaway FeatureStore,
    builds the signature index on disk, and dedups the delta via
    ``dedup_delta_candidates`` (index parquet read + delta-only
    signatures). The oracle recomputes both sides' signatures from
    scratch in DuckDB — so a carry-forward bug, a stale-index bug, or a
    signature drift between the persisted and fresh paths all surface as
    value mismatches, not just row counts.
    tests/test_round12_incremental_dedup.py additionally proves the
    incremental result equals the BATCH MinHash LSH result restricted to
    delta x corpus pairs, and that a second refresh recomputes only
    changed docs."""
    from veri_spark.functions.hashing import portable_hash64
    from veri_spark.plans._base import scratch_store_root
    from veri_spark.store import FeatureStore

    docs = load_table(spark, sf_dir, "documents")
    shard = portable_hash64(F.col("doc_id").cast("string")) % 10 == 7
    delta = docs.filter(shard)
    corpus = docs.filter(~shard)
    store = FeatureStore(
        spark,
        scratch_store_root(
            "dedupidx_" + sf_dir.strip("/").replace("/", "_")
        ),
    )
    # shared with dedup_incremental_simhash (round 14, r13 verdict task
    # 1): one "dedupidx_<sf>" scratch store serves BOTH signature
    # families — the index holds MinHash bands AND SimHash words, so
    # whichever query runs first pays the build; the other's put_corpus
    # is an identical-content skip and its if_needed refresh a
    # zero-job stamp-grain no-op (pinned in
    # tests/test_round14_damping.py)
    store.put_corpus("documents", corpus.select("doc_id", "text"))
    store.dedup_index_refresh("documents", if_needed=True)
    return store.dedup_delta_candidates("documents", delta)


@register(
    "semantic_dedup_semdedup",
    """
    WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(FLOOR(1e6 * unnest(embedding)::DOUBLE + 0.5)
                           AS BIGINT) AS q
               FROM embeddings),
    seeds AS (SELECT vec_id AS cid, pos, q FROM x WHERE vec_id < 16),
    d AS (SELECT x.vec_id, s.cid, SUM((x.q - s.q) * (x.q - s.q)) AS dist
          FROM x JOIN seeds s USING (pos) GROUP BY x.vec_id, s.cid),
    asg AS (SELECT vec_id, cid AS cell FROM d
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) = 1),
    nq AS (SELECT vec_id, SUM(q * q) AS nq FROM x GROUP BY vec_id),
    p AS (SELECT aa.vec_id AS ia, bb.vec_id AS ib, SUM(xa.q * xb.q) AS dotq
          FROM asg aa JOIN asg bb
            ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
          JOIN x xa ON xa.vec_id = aa.vec_id
          JOIN x xb ON xb.vec_id = bb.vec_id AND xb.pos = xa.pos
          GROUP BY 1, 2),
    removed AS (SELECT DISTINCT ib AS vec_id
                FROM p JOIN nq na ON na.vec_id = p.ia
                       JOIN nq nb ON nb.vec_id = p.ib
                WHERE dotq::DOUBLE / (sqrt(na.nq::DOUBLE)
                                      * sqrt(nb.nq::DOUBLE)) >= 0.42)
    SELECT d.source,
           COUNT(*)::BIGINT AS n_embedded,
           SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_removed,
           SUM(d.n_chars)::BIGINT AS chars_embedded,
           SUM(CASE WHEN r.vec_id IS NOT NULL THEN d.n_chars ELSE 0 END)
             ::BIGINT AS chars_removed
    FROM documents d JOIN asg a ON a.vec_id = d.doc_id
    LEFT JOIN removed r ON r.vec_id = d.doc_id
    GROUP BY d.source ORDER BY d.source ASC
    """,
)
def semantic_dedup_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means cell blocking — assign every embedding to
    its nearest of k centroids, compute pairwise cosine ONLY within a
    cell, and drop every document whose cell contains a more-senior
    (lower id) document above the similarity threshold. This is the one
    big-name LLM-pipeline dedup recipe the MinHash/SimHash/embedding
    tiers did not yet cover as a single composed query; the output is
    the survivorship ledger a data curator actually reads: per source,
    how many embedded docs and how many chars the pass removes.

    Determinism contract (the repo's exact-integer discipline):
    coordinates are micro-quantized (FLOOR(1e6*v + 0.5), the
    `kmeans_micro_assign` idiom), so assignment distances, norms, and
    dot products are exact BIGINTs in both engines; the only doubles are
    the final cosine (identical IEEE ops on identical integers) and its
    compare against the 0.42 literal. Seniority keep-lowest-id makes the
    removed set order-free. On this synthetic corpus the max within-cell
    cosine is ~0.53, so the paper's 0.95-grade threshold would be
    vacuous; 0.42 exercises real survivorship (33-91 pairs at sf0.1).

    Scale: the 16 seed centroids are a bounded collect (the codebook
    idiom); assignment is map-only over literal centroids (zero
    exchanges, `kmeans_micro_assign`); the pair join is cell-blocked —
    sum of |cell|^2, never corpus-pairs — and at 100 TB k grows with the
    corpus (k ~ n / 1k keeps cells ~1k rows, exactly the paper's recipe:
    they run k = 50k on LAION-440M), keeping per-cell work constant;
    the removed set re-joins the documents table on its id (broadcast
    at these cardinalities, shuffle-hash at scale). Reference parity:
    composes the K2 IVF machinery (operators/similarity.py) with the
    dedup survivorship accounting (veri/data/newsync.go is signature
    dedup only — this is a north-star extension)."""
    from veri_spark.operators.similarity import kmeans_micro_assign

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    xm = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda v: F.floor(F.lit(1000000.0) * v + F.lit(0.5)).cast("bigint"),
    )
    base = emb.select("vec_id", xm.alias("xm"))
    seeds = [
        (int(r["vec_id"]), [int(v) for v in r["xm"]])
        for r in base.filter(F.col("vec_id") < 16).collect()
    ]
    assigned = kmeans_micro_assign(emb, seeds).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    frame = base.select(
        "vec_id",
        "xm",
        F.aggregate(
            "xm", F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
        ).alias("nq"),
    ).join(assigned, "vec_id")
    a = frame.select(
        F.col("vec_id").alias("ia"),
        F.col("cell"),
        F.col("xm").alias("xa"),
        F.col("nq").alias("na"),
    )
    b = frame.select(
        F.col("vec_id").alias("ib"),
        F.col("cell"),
        F.col("xm").alias("xb"),
        F.col("nq").alias("nb"),
    )
    pairs = a.join(b, "cell").filter(F.col("ia") < F.col("ib"))
    dotq = F.aggregate(
        F.zip_with("xa", "xb", lambda p, q: p * q),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    removed = (
        pairs.filter(cos >= F.lit(0.42))
        .select(F.col("ib").alias("rm_id"))
        .distinct()
    )
    ledger = (
        docs.join(assigned, docs["doc_id"] == assigned["vec_id"])
        .join(F.broadcast(removed), F.col("doc_id") == F.col("rm_id"), "left")
        .select(
            "source",
            "n_chars",
            F.col("rm_id").isNotNull().alias("rm"),
        )
    )
    return (
        ledger.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_embedded"),
            F.sum(F.when(F.col("rm"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.sum("n_chars").cast("bigint").alias("chars_embedded"),
            F.sum(F.when(F.col("rm"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_removed"),
        )
        .orderBy(F.col("source").asc())
    )
