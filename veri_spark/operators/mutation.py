"""Mutation surface: upsert / delete / TTL / capacity — the reference's
write path (S1-S4) re-expressed as batch DataFrame transforms.

The reference mutates an in-memory map: upsert on serialized key with
change-dedup (data/newsync.go:27-63), delete by key (data/delete.go:8-10),
lazy TTL expiry on scan (data/newsync.go:78-91), and a TargetN capacity gate
(data/insert.go:12-14). On Spark, state lives in tables; mutations are pure
functions old-state x batch -> new-state, applied by the storage layer
(Delta MERGE in production; overwrite-by-partition on plain parquet). The
functions here compute the merged result deterministically so they work on
any storage.

Replication (S1's peer fan-out, data/insert.go:30-49) is dropped: the
object store / HDFS owns durability (SURVEY.md section 4.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64


def datum_key(
    vector_col: str = "feature",
    group_col: str = "group_label",
    extra_cols: tuple[str, ...] = (),
) -> Column:
    """Row identity: portable hash of (vector bytes, group label, shape) —
    the analog of the reference's serialized DatumKey (data/datum.go:105-111,
    gencoder MarshalKey). Float arrays are canonicalized through their string
    form; -0.0/NaN canonicalization is handled by casting through double.
    """
    parts = [
        F.concat_ws(",", F.transform(F.col(vector_col).cast("array<double>"), lambda x: x.cast("string"))),
        F.coalesce(F.col(group_col).cast("string"), F.lit("")),
        *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in extra_cols],
    ]
    return portable_hash64(F.concat_ws("|", *parts))


def upsert(
    current: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Last-version-wins upsert (S2, data/newsync.go:43-59): union current
    state with the batch and keep the highest-version row per key.

    The reference's change-dedup (skip write when value unchanged) falls out
    naturally: an identical row merely replaces itself. At scale this is a
    Delta ``MERGE INTO ... WHEN MATCHED AND t.value <> s.value``; here it is
    the storage-agnostic equivalent.
    """
    merged = current.unionByName(batch, allowMissingColumns=False)
    order = [F.col(version_col).desc()] + [F.col(c).desc() for c in (tie_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return merged.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def delete_keys(current: DataFrame, keys: DataFrame, key_cols: list[str]) -> DataFrame:
    """Delete by key set (S3): broadcast anti-join — the keys side is the
    small side by construction."""
    return current.join(F.broadcast(keys.select(*key_cols).distinct()), key_cols, "left_anti")


def expire(df: DataFrame, expire_col: str = "expire_at") -> DataFrame:
    """TTL compaction (S4/ST2): physically drop expired rows. The query-time
    analog is operators.search.ttl_filter; this is the rewrite job the
    reference performs lazily during scans (data/newsync.go:78-80)."""
    if expire_col not in df.columns:
        return df
    return df.filter(F.col(expire_col).isNull() | (F.col(expire_col) > F.current_timestamp()))


def with_ttl(
    df: DataFrame,
    ttl_seconds: Column | int | None,
    inserted_at: Column | None = None,
    expire_col: str = "expire_at",
) -> DataFrame:
    """Attach an expire_at column from a TTL (InsertConfig.tTL ->
    absolute expiry, data/newsync.go:28-32). ``ttl_seconds`` None = no TTL —
    an expire_at the batch ALREADY carries is kept (rows can arrive with
    their own absolute expiry, e.g. on the streaming ingest path)."""
    if ttl_seconds is None:
        if expire_col in df.columns:
            return df
        return df.withColumn(expire_col, F.lit(None).cast("timestamp"))
    base = inserted_at if inserted_at is not None else F.current_timestamp()
    ttl = F.lit(ttl_seconds) if isinstance(ttl_seconds, int) else ttl_seconds
    return df.withColumn(
        expire_col,
        base + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), ttl.cast("double")),
    )


def capacity_gate(
    current_count: int,
    batch: DataFrame,
    target_n: int,
    no_target: bool = False,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """TargetN capacity cap (S1, data/insert.go:12-14): admit only up to the
    remaining budget; ``no_target`` disables the cap (InsertConfig.noTarget).
    Admission order is undefined in the reference; here, when the cap binds,
    admission is made DETERMINISTIC by ordering on ``order_cols`` before the
    limit — a bare ``limit()`` on a multi-partition batch is nondeterministic
    across evaluations, so the admitted count and the persisted rows could
    disagree."""
    if no_target or target_n <= 0:
        return batch
    remaining = max(target_n - current_count, 0)
    if order_cols:
        batch = batch.orderBy(*[F.col(c).asc() for c in order_cols])
    return batch.limit(remaining)
