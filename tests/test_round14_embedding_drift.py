"""Round-14: streaming embedding-drift monitor (r13 verdict task 5).

`store.embedding_drift_stream` is the streaming sibling of the batch
`embedding_centroid_drift` query and the continuous form of the A5
identity test that `refresh_index(if_needed=True)` damps on. Covered
here: batch==stream equivalence (the scorer is shared code, the test
proves the wiring), in-distribution batches stay quiet while a shifted
batch alerts, replay against an intact checkpoint is a byte-level
no-op, and a killed-and-restarted stream converges to the
uninterrupted run's alerts.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from veri_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"
REL_TOL = 0.5  # in-distribution slices score ~0.3 vs thresholds ~0.51


def _pin_mtime(path, order: int) -> None:
    t = 1_600_000_000 + order * 60
    os.utime(path, (t, t))


def _slices(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 3 != 0).select("label", "embedding")
    b_ok = emb.filter(F.col("vec_id") % 3 == 0).select("label", "embedding")
    b_shift = b_ok.select(
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda v: v + F.lit(0.5)
        ).alias("embedding"),
    )
    return corpus, b_ok, b_shift


def _reader(spark, stream_dir):
    return (
        spark.readStream.schema("label int, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )


def _stage_file(df, src_dir, stream_dir, order):
    df.coalesce(1).write.parquet(str(src_dir / f"b{order}"))
    dst = stream_dir / f"{order}.parquet"
    shutil.copy(glob.glob(str(src_dir / f"b{order}" / "*.parquet"))[0], dst)
    _pin_mtime(dst, order)


ALERT_COLS = ["label", "n_rows", "centroid_shift", "threshold", "drifted"]


def _alert_rows(spark, alerts):
    return sorted(
        map(tuple, spark.read.parquet(alerts).select(*ALERT_COLS).collect())
    )


def test_stream_scores_flags_shift_and_matches_batch(spark, tmp_path):
    corpus, b_ok, b_shift = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("emb", corpus)

    src = tmp_path / "src"
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    _stage_file(b_ok, src, stream_dir, 0)
    _stage_file(b_shift, src, stream_dir, 1)

    alerts = store.embedding_drift_stream(
        "emb", _reader(spark, stream_dir), rel_tol=REL_TOL
    )
    rows = spark.read.parquet(alerts).collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(int(r["batch_id"]), []).append(r)
    assert set(by_batch) == {0, 1}
    # in-distribution batch quiet, +0.5-per-coordinate batch alerts on
    # every label
    assert not any(r["drifted"] for r in by_batch[0])
    assert all(r["drifted"] for r in by_batch[1])
    # thresholds come from the persisted per-label reference
    assert all(r["threshold"] is not None and r["threshold"] > 0 for r in rows)

    # batch == stream: the batch-side check on the same frame produces
    # the identical rows (shared scorer, same persisted reference)
    for batch_df, bid in ((b_ok, 0), (b_shift, 1)):
        batch_rows = sorted(
            map(
                tuple,
                store.embedding_drift_check(
                    "emb", batch_df, rel_tol=REL_TOL
                ).collect(),
            )
        )
        stream_rows = sorted(
            tuple(r[c] for c in ALERT_COLS)
            for r in rows
            if int(r["batch_id"]) == bid
        )
        assert batch_rows == stream_rows

    # replay against the intact checkpoint: nothing re-delivered,
    # alert files byte-identical
    before = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(f"{alerts}/batch=*/*.parquet")
    )
    store.embedding_drift_stream(
        "emb", _reader(spark, stream_dir), rel_tol=REL_TOL
    )
    after = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(f"{alerts}/batch=*/*.parquet")
    )
    assert after == before


def test_stream_checkpoint_restart_converges(spark, tmp_path):
    corpus, b_ok, b_shift = _slices(spark)

    # uninterrupted reference run
    ref = FeatureStore(spark, str(tmp_path / "ref"))
    ref.put_corpus("emb", corpus)
    src = tmp_path / "src"
    full_dir = tmp_path / "full"
    full_dir.mkdir()
    _stage_file(b_ok, src, full_dir, 0)
    dst = full_dir / "1.parquet"
    shutil.copy(glob.glob(str(src / "b0" / "*.parquet"))[0], dst)  # placeholder
    os.remove(dst)
    b_shift.coalesce(1).write.parquet(str(src / "b1"))
    shutil.copy(glob.glob(str(src / "b1" / "*.parquet"))[0], dst)
    _pin_mtime(dst, 1)
    want = _alert_rows(
        spark,
        ref.embedding_drift_stream("emb", _reader(spark, full_dir), rel_tol=REL_TOL),
    )

    # interrupted run: batch 0 only (availableNow drains what exists),
    # then "restart" with batch 1 added — the checkpoint skips batch 0
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("emb", corpus)
    part = tmp_path / "part"
    part.mkdir()
    shutil.copy(glob.glob(str(src / "b0" / "*.parquet"))[0], part / "0.parquet")
    _pin_mtime(part / "0.parquet", 0)
    alerts = store.embedding_drift_stream(
        "emb", _reader(spark, part), rel_tol=REL_TOL
    )
    mid = _alert_rows(spark, alerts)
    assert mid != want  # genuinely interrupted
    batch0_files = sorted(glob.glob(f"{alerts}/batch=0/*.parquet"))
    batch0_mtimes = [os.path.getmtime(p) for p in batch0_files]

    shutil.copy(glob.glob(str(src / "b1" / "*.parquet"))[0], part / "1.parquet")
    _pin_mtime(part / "1.parquet", 1)
    store.embedding_drift_stream("emb", _reader(spark, part), rel_tol=REL_TOL)
    assert _alert_rows(spark, alerts) == want
    # batch 0's alert partition was not rewritten by the restart
    assert [os.path.getmtime(p) for p in batch0_files] == batch0_mtimes


def test_unseen_label_is_drift_by_definition(spark, tmp_path):
    corpus, b_ok, _ = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("emb", corpus.filter(F.col("label") != 9))
    out = {
        r["label"]: r
        for r in store.embedding_drift_check(
            "emb", b_ok, rel_tol=REL_TOL
        ).collect()
    }
    assert out["9"]["drifted"] and out["9"]["centroid_shift"] is None
    assert not out["0"]["drifted"]
