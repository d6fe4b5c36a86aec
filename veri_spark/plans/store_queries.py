"""Store mutations (upsert/TTL/delete) and multimodal binary-column queries.

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




@register(
    "upsert_latest_version",
    """
    SELECT user_id, event_id, event_type, ROUND(value, 6) AS value
    FROM (SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def upsert_latest_version(spark, sf_dir):
    """S1/S2 upsert semantics: latest version per key wins
    (data/newsync.go:43-59) — row_number over (key ORDER BY version DESC)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )



@register(
    "ttl_expiry_filter",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n_live
    FROM events
    WHERE epoch_us(ts) + value * 86400 * 1000000
          > epoch_us(TIMESTAMP '2024-02-15 00:00:00')
    GROUP BY event_type
    """,
)
def ttl_expiry_filter(spark, sf_dir):
    """F3/ST2: TTL predicate — expire_at = ts + value days; keep live rows
    (data/newsync.go:78-80). Pure epoch arithmetic, pushed to the scan."""
    ev = load_table(spark, sf_dir, "events")
    # double arithmetic on both engines (a bigint cast would truncate in
    # Spark but round in DuckDB)
    expire_us = F.unix_micros(F.col("ts").cast("timestamp")) + (
        F.col("value") * 86400 * 1000000
    )
    cutoff = F.unix_micros(F.expr("TIMESTAMP '2024-02-15 00:00:00'"))
    return (
        ev.filter(expire_us > cutoff)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_live"))
    )



@register(
    "delete_anti_join",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n_remaining
    FROM events WHERE user_id NOT IN (1, 2, 3)
    GROUP BY event_type
    """,
)
def delete_anti_join(spark, sf_dir):
    """S3: delete-by-key as a broadcast anti-join (data/delete.go:8-10)."""
    ev = load_table(spark, sf_dir, "events")
    keys = ev.sparkSession.createDataFrame([(1,), (2,), (3,)], ["user_id"])
    remaining = ev.join(F.broadcast(keys), "user_id", "left_anti")
    return remaining.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_remaining"))



@register(
    "multimodal_decode_features",
    """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           CAST('0x' || substr(md5(text), 1, 2) AS INT) AS f0
    FROM documents
    """,
)
def multimodal_decode_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: text bytes stand in for encoded media
    (the container has no image/audio codecs); the Arrow-batched mapInPandas
    decode (multimodal/binary.decode_features) derives the deterministic-fake
    feature, whose first component is the payload md5's first byte — which
    the oracle recomputes in SQL. The schema/batching/column-pruning shape is
    the real production path."""
    from veri_spark.multimodal.binary import decode_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("media"))
    feats = decode_features(media, id_col="doc_id", media_col="media")
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round(F.element_at("feature", 1) * 255).cast("int").alias("f0"),
    )



@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           unnest(range(0, greatest(n_chars * 100, 1), 1000))::BIGINT
             AS frame_ts_ms
    FROM documents
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing end-to-end: text bytes stand in for
    encoded video (no codecs in this container) with a synthetic duration
    of 100 ms per character; multimodal/binary.frame_sample explodes each
    media row into one row per sampled timestamp through the Arrow-batched
    mapInPandas path. The oracle regenerates the sampling grid
    arithmetically — it verifies the explosion shape (ids x offsets)
    exactly; per-frame feature determinism is covered by unit tests. The
    plan is map-only: no shuffle, media bytes never leave the stage."""
    from veri_spark.multimodal.binary import frame_sample

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
        (F.col("n_chars") * 100).cast("long").alias("duration_ms"),
    )
    frames = frame_sample(media, every_ms=1000, id_col="doc_id")
    return frames.select("doc_id", "frame_ts_ms")



@register(
    "multimodal_image_dims",
    """
    WITH d AS (
      SELECT doc_id,
             16 + (n_chars % 1905) AS w,
             16 + ((doc_id * 37) % 1065) AS h
      FROM documents
    ), hx AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN '89504e470d0a1a0a0000000d49484452'
                           || lower(lpad(to_hex(w), 8, '0'))
                           || lower(lpad(to_hex(h), 8, '0'))
                           || '0806000000'
               WHEN 1 THEN 'ffd8ffe000104a46494600010100000100010000ffc0001108'
                           || lower(lpad(to_hex(h), 4, '0'))
                           || lower(lpad(to_hex(w), 4, '0'))
                           || '03'
               ELSE '474946383961'
                           || lower(lpad(to_hex(w % 256), 2, '0'))
                           || lower(lpad(to_hex(w // 256), 2, '0'))
                           || lower(lpad(to_hex(h % 256), 2, '0'))
                           || lower(lpad(to_hex(h // 256), 2, '0'))
                           || '910000'
             END AS hex_str
      FROM d
    ), mh AS (
      -- blob round-trip: build the REAL encoded bytes, then parse them
      -- back from the blob (not from the generator's w/h) so the oracle
      -- exercises the same byte layout the Spark-side decoder reads
      SELECT doc_id, lower(to_hex(from_hex(hex_str))) AS m FROM hx
    )
    SELECT doc_id,
           CASE WHEN substr(m, 1, 16) = '89504e470d0a1a0a' THEN 'png'
                WHEN substr(m, 1, 4) = 'ffd8' THEN 'jpeg'
                WHEN substr(m, 1, 12) IN ('474946383761', '474946383961')
                  THEN 'gif' END AS format,
           CASE WHEN substr(m, 1, 16) = '89504e470d0a1a0a'
                  THEN CAST('0x' || substr(m, 33, 8) AS INT)
                WHEN substr(m, 1, 4) = 'ffd8'
                  THEN CAST('0x' || substr(m, 55, 4) AS INT)
                ELSE CAST('0x' || substr(m, 15, 2) || substr(m, 13, 2) AS INT)
           END AS width,
           CASE WHEN substr(m, 1, 16) = '89504e470d0a1a0a'
                  THEN CAST('0x' || substr(m, 41, 8) AS INT)
                WHEN substr(m, 1, 4) = 'ffd8'
                  THEN CAST('0x' || substr(m, 51, 4) AS INT)
                ELSE CAST('0x' || substr(m, 19, 2) || substr(m, 17, 2) AS INT)
           END AS height,
           CASE WHEN substr(m, 1, 4) = 'ffd8' OR
                     substr(m, 1, 16) = '89504e470d0a1a0a'
                  THEN CAST('0x' || substr(m, 49, 2) AS INT)
                ELSE 8
           END AS bit_depth
    FROM mh
    """,
)
def multimodal_image_dims(spark, sf_dir):
    """REAL image-header decode end-to-end (the round-4 honesty-gap
    closer): each document synthesizes a genuine encoded image byte stream
    — PNG signature+IHDR, JPEG SOI+APP0+SOF0 marker sequence, or GIF89a
    logical screen descriptor, by doc_id mod 3 — and
    multimodal/binary.parse_image_header (pure stdlib, no PIL) parses
    format/width/height/bit_depth back OUT of the bytes inside the
    Arrow-batched mapInPandas path. The JPEG branch exercises the real
    marker scan: the parser must skip the 16-byte APP0 segment by its
    length field to find SOF0. The oracle builds the identical blob with
    from_hex and re-parses it via hex slicing at the same byte offsets.

    Scale shape: map-only (construct -> parse in one projection + one
    mapInPandas, zero exchanges); bytes never leave the stage, mirroring
    how a 100 TB media table would run header audits scan-side."""
    from veri_spark.multimodal.binary import image_dims

    docs = load_table(spark, sf_dir, "documents")
    w = (F.lit(16) + F.col("n_chars") % 1905).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 37) % 1065).cast("int")
    be4 = lambda c: F.lower(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    be2 = lambda c: F.lower(F.lpad(F.hex(c), 4, "0"))  # noqa: E731
    le2 = lambda c: F.concat(  # GIF is little-endian
        F.lower(F.lpad(F.hex(c % 256), 2, "0")),
        F.lower(F.lpad(F.hex((c / 256).cast("int")), 2, "0")),
    )
    hex_str = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("89504e470d0a1a0a0000000d49484452"),
                be4(w),
                be4(h),
                F.lit("0806000000"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("ffd8ffe000104a46494600010100000100010000ffc0001108"),
                be2(h),
                be2(w),
                F.lit("03"),
            ),
        )
        .otherwise(
            F.concat(F.lit("474946383961"), le2(w), le2(h), F.lit("910000"))
        )
    )
    media = docs.select(
        "doc_id", F.to_binary(hex_str, F.lit("hex")).alias("media")
    )
    return image_dims(media, id_col="doc_id", media_col="media")


@register(
    "multimodal_audio_wav_meta",
    """
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 22050 WHEN 3 THEN 44100
                             ELSE 48000 END AS sr,
             1 + doc_id % 2 AS ch,
             2000 + n_chars * 100 AS dsz
      FROM documents
    ), hx AS (
      SELECT doc_id,
             '52494646'
             || lower(lpad(to_hex((36 + dsz) % 256), 2, '0'))
             || lower(lpad(to_hex(((36 + dsz) // 256) % 256), 2, '0'))
             || lower(lpad(to_hex(((36 + dsz) // 65536) % 256), 2, '0'))
             || lower(lpad(to_hex(((36 + dsz) // 16777216) % 256), 2, '0'))
             || '57415645' || '666d7420' || '10000000' || '0100'
             || lower(lpad(to_hex(ch % 256), 2, '0')) || '00'
             || lower(lpad(to_hex(sr % 256), 2, '0'))
             || lower(lpad(to_hex((sr // 256) % 256), 2, '0'))
             || lower(lpad(to_hex((sr // 65536) % 256), 2, '0'))
             || '00'
             || lower(lpad(to_hex((sr * ch * 2) % 256), 2, '0'))
             || lower(lpad(to_hex(((sr * ch * 2) // 256) % 256), 2, '0'))
             || lower(lpad(to_hex(((sr * ch * 2) // 65536) % 256), 2, '0'))
             || '00'
             || lower(lpad(to_hex(ch * 2), 2, '0')) || '00' || '1000'
             || '64617461'
             || lower(lpad(to_hex(dsz % 256), 2, '0'))
             || lower(lpad(to_hex((dsz // 256) % 256), 2, '0'))
             || lower(lpad(to_hex((dsz // 65536) % 256), 2, '0'))
             || lower(lpad(to_hex((dsz // 16777216) % 256), 2, '0'))
               AS hex_str
      FROM d
    ), mh AS (
      -- blob round-trip like multimodal_image_dims: parse the REAL bytes
      SELECT doc_id, lower(to_hex(from_hex(hex_str))) AS m FROM hx
    )
    SELECT doc_id,
           CAST('0x' || substr(m, 55, 2) || substr(m, 53, 2)
                || substr(m, 51, 2) || substr(m, 49, 2) AS INT)
             AS sample_rate,
           CAST('0x' || substr(m, 47, 2) || substr(m, 45, 2) AS INT)
             AS channels,
           CAST('0x' || substr(m, 71, 2) || substr(m, 69, 2) AS INT)
             AS bits,
           (1000 * CAST('0x' || substr(m, 87, 2) || substr(m, 85, 2)
                        || substr(m, 83, 2) || substr(m, 81, 2) AS BIGINT))
           // CAST('0x' || substr(m, 63, 2) || substr(m, 61, 2)
                   || substr(m, 59, 2) || substr(m, 57, 2) AS BIGINT)
             AS duration_ms
    FROM mh
    """,
)
def multimodal_audio_wav_meta(spark, sf_dir):
    """REAL audio-header decode end-to-end — the AUDIO sibling of
    `multimodal_image_dims`, completing the opaque-binary metadata tier
    for the second modality a 100 TB media table carries: each document
    synthesizes a genuine canonical 44-byte RIFF/WAVE PCM header (chunk
    ids, little-endian fmt fields, byte-rate consistency, data chunk
    size) and multimodal/binary.parse_wav_header parses sample_rate /
    channels / bits / duration back OUT of the bytes inside the
    Arrow-batched mapInPandas path — the parser validates all four magic
    ids, so a corrupted stream yields NULLs, not garbage. duration_ms is
    exact integer milliseconds (1000 * data_size floor-divided by the
    byte rate parsed from the header, not recomputed). The oracle builds
    the identical blob with from_hex and re-parses it by little-endian
    hex slicing at the same byte offsets.

    Scale shape: map-only (construct -> parse in one projection + one
    mapInPandas, zero exchanges); bytes never leave the stage. Sample
    decode (the signal tier) stays behind the documented env-blocked
    ``decode_stub`` exactly like pixel decode."""
    from veri_spark.multimodal.binary import audio_meta

    docs = load_table(spark, sf_dir, "documents")
    sr = (
        F.element_at(
            F.array(
                F.lit(8000), F.lit(16000), F.lit(22050), F.lit(44100),
                F.lit(48000),
            ),
            (F.col("doc_id") % 5 + 1).cast("int"),
        )
    ).cast("bigint")
    ch = (F.lit(1) + F.col("doc_id") % 2).cast("bigint")
    dsz = (F.lit(2000) + F.col("n_chars") * 100).cast("bigint")

    def le(c, nbytes):
        parts = []
        for i in range(nbytes):
            parts.append(
                F.lower(
                    F.lpad(
                        F.hex((c / (256 ** i)).cast("bigint") % 256), 2, "0"
                    )
                )
            )
        return F.concat(*parts)

    byte_rate = sr * ch * 2
    hx = F.concat(
        F.lit("52494646"),
        le(F.lit(36) + dsz, 4),
        F.lit("57415645"),
        F.lit("666d7420"),
        F.lit("10000000"),
        F.lit("0100"),
        le(ch, 2),
        le(sr, 4),
        le(byte_rate, 4),
        le(ch * 2, 2),
        F.lit("1000"),
        F.lit("64617461"),
        le(dsz, 4),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.unhex(hx).alias("media")
    )
    out = audio_meta(media)
    return out.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "channels",
        "bits",
        "duration_ms",
    )


_MVHD_TAIL = (
    "00010000" "0100" "0000" + "0" * 16
    + "00010000" + "00000000" * 3
    + "00010000" + "00000000" * 3
    + "40000000" + "0" * 48 + "00000001"
)


@register(
    "multimodal_video_mp4_meta",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN '69736f6d'
                             WHEN 1 THEN '6d703432'
                             ELSE '61766331' END AS brand_hex,
             CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                             WHEN 2 THEN 24000 ELSE 90000 END AS ts,
             100 + n_chars * 7 AS dur
      FROM documents
    ), hx AS (
      SELECT doc_id,
             '00000014' || '66747970' || brand_hex || '00000200'
             || '6d703431'
             || '00000074' || '6d6f6f76'
             || '0000006c' || '6d766864' || '00000000'
             || '00000000' || '00000000'
             || lower(lpad(to_hex(ts), 8, '0'))
             || lower(lpad(to_hex(dur), 8, '0'))
             || '{_MVHD_TAIL}' AS hex_str
      FROM d
    ), mh AS (
      -- blob round-trip: parse the REAL bytes back out at box offsets
      SELECT doc_id, lower(to_hex(from_hex(hex_str))) AS m FROM hx
    )
    SELECT doc_id,
           CASE substr(m, 17, 8) WHEN '69736f6d' THEN 'isom'
                                 WHEN '6d703432' THEN 'mp42'
                                 WHEN '61766331' THEN 'avc1' END AS brand,
           CAST('0x' || substr(m, 97, 8) AS INT) AS timescale,
           (1000 * CAST('0x' || substr(m, 105, 8) AS BIGINT))
             // CAST('0x' || substr(m, 97, 8) AS BIGINT) AS duration_ms
    FROM mh
    """,
)
def multimodal_video_mp4_meta(spark, sf_dir):
    """REAL video-container metadata decode — the VIDEO sibling of
    `multimodal_image_dims` and `multimodal_audio_wav_meta`, completing
    the opaque-binary metadata tier across all three media modalities:
    each document synthesizes a genuine ISO BMFF stream (ftyp box with a
    varying major brand, moov box containing a version-0 mvhd with
    big-endian timescale/duration and the full 108-byte layout) and
    multimodal/binary.parse_mp4_meta walks the REAL box structure —
    top-level size-field scan to ftyp and moov, child walk inside moov
    to mvhd — inside the Arrow-batched mapInPandas path. A truncated or
    non-BMFF stream yields NULLs. duration_ms is exact integer
    milliseconds from the PARSED timescale. The oracle re-parses the
    identical from_hex blob by big-endian hex slicing at the same box
    offsets (brand via the known-brand hex table, since DuckDB lacks
    blob substring).

    Scale shape: map-only, zero exchanges, bytes never leave the stage;
    frame/sample decode stays behind the documented env-blocked
    ``decode_stub``."""
    from veri_spark.multimodal.binary import video_meta

    docs = load_table(spark, sf_dir, "documents")
    brand_hex = (
        F.when(F.col("doc_id") % 3 == 0, "69736f6d")
        .when(F.col("doc_id") % 3 == 1, "6d703432")
        .otherwise("61766331")
    )
    ts = (
        F.when(F.col("doc_id") % 4 == 0, 600)
        .when(F.col("doc_id") % 4 == 1, 1000)
        .when(F.col("doc_id") % 4 == 2, 24000)
        .otherwise(90000)
    ).cast("bigint")
    dur = (F.lit(100) + F.col("n_chars") * 7).cast("bigint")
    be4 = lambda c: F.lower(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    hx = F.concat(
        F.lit("00000014"), F.lit("66747970"), brand_hex, F.lit("00000200"),
        F.lit("6d703431"),
        F.lit("00000074"), F.lit("6d6f6f76"),
        F.lit("0000006c"), F.lit("6d766864"), F.lit("00000000"),
        F.lit("00000000"), F.lit("00000000"),
        be4(ts), be4(dur),
        F.lit(_MVHD_TAIL),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.unhex(hx).alias("media")
    )
    return video_meta(media).select(
        F.col("media_id").alias("doc_id"),
        "brand",
        "timescale",
        "duration_ms",
    )


@register(
    "ann_persisted_incremental_search",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
               WHERE vec_id = 0),
    cents AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 16),
    cd AS (SELECT c.centroid_id, list_distance(c.cvec, q.qe) AS qd
           FROM cents c, q),
    probe AS (SELECT centroid_id FROM cd
              ORDER BY qd ASC, centroid_id ASC LIMIT 2),
    d AS (SELECT e.vec_id, c.centroid_id,
                 list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
          FROM embeddings e CROSS JOIN cents c),
    r AS (SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist ASC, centroid_id ASC) AS rn
          FROM d),
    assigned AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
    cand AS (SELECT a.vec_id FROM assigned a
             JOIN probe p ON a.centroid_id = p.centroid_id)
    SELECT e.vec_id,
           ROUND(list_distance(e.embedding::DOUBLE[], q.qe), 6) AS score
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def ann_persisted_incremental_search(spark, sf_dir):
    """The PERSISTED incremental ANN path end-to-end under the oracle
    gate — the serving analog of `dedup_incremental_delta`: write the
    corpus minus a delta slice into a real FeatureStore, build the
    partitioned IVF index on disk (`refresh_index(seed_col="vec_id")` —
    seeding by the dataset's own id keeps the 16 seeds STABLE under the
    delta append, which is both what lets the second refresh take the
    round-13 O(touched cells) incremental path deterministically and
    what makes this oracle expressible in SQL), append the delta, refresh
    INCREMENTALLY, and serve an Annoy-dispatch search from the refreshed
    index. The oracle recomputes the IVF probe from scratch over the FULL
    corpus — so a carry bug, a stale-cell leak, a missed delta row, or a
    superseded-row survival all surface as value mismatches.
    tests/test_round13_index_buckets.py additionally pins that the
    second refresh rewrites exactly the touched cells.

    Scale: the index build assigns map-only under literal centroids and
    writes partitioned by cell; the delta refresh re-assigns ONLY the
    delta and swaps only its cells; the probe search reads nprobe/16 of
    the index files (partition pruning on the isin filter). This is the
    reference's hot-swapped Annoy snapshot loop (data/newsync.go:93-227)
    with delta-sized maintenance."""
    from veri_spark.operators.search import SearchConfig
    from veri_spark.plans._base import scratch_store_root
    from veri_spark.store import FeatureStore

    emb = load_table(spark, sf_dir, "embeddings")
    table = emb.select(
        F.col("embedding").cast("array<float>").alias("feature"),
        F.col("vec_id").cast("string").alias("label"),
        F.col("vec_id").alias("vec_id"),
    )
    shard = (F.col("vec_id") % 10 == 7) & (F.col("vec_id") > 20)
    corpus = table.filter(~shard)
    delta = table.filter(shard)
    store = FeatureStore(
        spark,
        scratch_store_root("annidx_" + sf_dir.strip("/").replace("/", "_")),
    )
    store.put_corpus("vectors", corpus)
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id"
    )
    # round-14 optimization (guide §6 — write delta bytes, not corpus
    # bytes): the delta ingest is an APPEND, exactly as documented above —
    # the previous full-corpus put_corpus(corpus ∪ delta) re-wrote every
    # corpus row AND paid put_corpus's two content-stamp aggs just to
    # discover the overwrite was needed; at 100 TB that is a corpus-sized
    # write for a shard-sized change. Final table content is identical
    # (corpus ∪ delta), so the incremental refresh and the served top-10
    # are bit-for-bit unchanged (oracle gate re-verified both SFs).
    store.append_corpus("vectors", delta)
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id"
    )
    q = _query_vector(spark, sf_dir, 0)
    out = store.search(
        "vectors",
        [q],
        SearchConfig(score_func="AnnoyVectorDistance", limit=10),
        nprobe=2,
        n_centroids=16,
    )
    return out.select(
        F.col("label").cast("bigint").alias("vec_id"),
        F.round("score", 6).alias("score"),
    )


@register(
    "ann_damped_refresh_serving",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
               WHERE vec_id = 0),
    cents AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 16),
    cd AS (SELECT c.centroid_id, list_distance(c.cvec, q.qe) AS qd
           FROM cents c, q),
    probe AS (SELECT centroid_id FROM cd
              ORDER BY qd ASC, centroid_id ASC LIMIT 2),
    d AS (SELECT e.vec_id, c.centroid_id,
                 list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
          FROM embeddings e CROSS JOIN cents c),
    r AS (SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist ASC, centroid_id ASC) AS rn
          FROM d),
    assigned AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
    cand AS (SELECT a.vec_id FROM assigned a
             JOIN probe p ON a.centroid_id = p.centroid_id)
    SELECT e.vec_id,
           ROUND(list_distance(e.embedding::DOUBLE[], q.qe), 6) AS score
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def ann_damped_refresh_serving(spark, sf_dir):
    """The round-14 DAMPED maintenance loop under the oracle gate — the
    A5-identity sibling of `ann_persisted_incremental_search`: build the
    persisted IVF index with ``refresh_index(if_needed=True)`` (which
    also persists the indexed-generation A5 stats snapshot), re-put the
    IDENTICAL corpus (the content-stamp skip keeps the mutation stamp
    unmoved), take the ZERO-JOB stamp-grain refresh skip, then append a
    statistically-identical delta — a RE-DELIVERED copy of the whole
    shard under fresh labels, the classic at-least-once ingest
    duplicate: a real stamp bump whose centroid/histogram stats are
    identical by construction — and take the A5-grain skip, which
    RESTAMPS the index fresh without rebuilding. Serving then reads the ORIGINAL index —
    the reference's damping semantics exactly (data/data.go:158-164:
    statistically-identical data does not trigger a rebuild), so the
    oracle recomputes the IVF probe over the ORIGINAL corpus. The query
    RAISES if either skip fails to take its intended grain, so a
    damping regression surfaces as a gate FAILURE, not a silently
    slower pass; the duplicate rows being absent from the served top-10
    is the semantic claim the value-hash checks.

    Scale: this is the nightly no-op/near-no-op maintenance run at
    100 TB — file reads at stamp grain, ONE stats pass (map-only
    centroid fold + one histogram agg) at identity grain; the index's
    terabytes are neither read nor written on either skip."""
    from veri_spark.operators.search import SearchConfig
    from veri_spark.plans._base import scratch_store_root
    from veri_spark.store import FeatureStore

    emb = load_table(spark, sf_dir, "embeddings")
    table = emb.select(
        F.col("embedding").cast("array<float>").alias("feature"),
        F.col("vec_id").cast("string").alias("label"),
        F.col("vec_id").alias("vec_id"),
    )
    store = FeatureStore(
        spark,
        scratch_store_root("anndamp_" + sf_dir.strip("/").replace("/", "_")),
    )
    store.put_corpus("vectors", table)
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id",
        if_needed=True,
    )
    # identical re-put: content stamp keeps the dataset stamp unmoved,
    # so the damped refresh skips at stamp grain with zero jobs
    store.put_corpus("vectors", table)
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id",
        if_needed=True,
    )
    if store.last_index_refresh_info.get("skipped") != "stamp":
        raise RuntimeError(
            "damped refresh did not take the stamp-grain skip: "
            f"{store.last_index_refresh_info}"
        )
    # statistically-identical delta: a re-delivered copy of the whole
    # shard (at-least-once ingest) — the stamp moves, but centroid,
    # max-distance and histogram are IDENTICAL by construction, so A5
    # passes and the index is restamped WITHOUT a rebuild
    delta = table.select(
        "feature",
        F.concat(F.lit("dup"), F.col("label")).alias("label"),
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
    )
    store.append_corpus("vectors", delta)
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id",
        if_needed=True, rel_tol=0.05,
    )
    if store.last_index_refresh_info.get("skipped") != "identity":
        raise RuntimeError(
            "damped refresh did not take the A5-identity skip: "
            f"{store.last_index_refresh_info}"
        )
    q = _query_vector(spark, sf_dir, 0)
    out = store.search(
        "vectors",
        [q],
        SearchConfig(score_func="AnnoyVectorDistance", limit=10),
        nprobe=2,
        n_centroids=16,
    )
    return out.select(
        F.col("label").cast("bigint").alias("vec_id"),
        F.round("score", 6).alias("score"),
    )
