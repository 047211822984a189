"""Table-to-table incremental sync (lake/sync.py): chaining CDC hops off
the changelog with the destination's epoch markers providing exactly-once.
The invariant throughout: after every hop, destination state == (possibly
transformed) source state — the same final-state equality the reference's
replay oracle checks one hop deep (demo/test_pipeline.sh:225-286)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable, sync_incremental
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA

PK = ["conv_id", "turn_idx"]


def _make_table(spark, path, num_buckets=8):
    return LakeTable.create(
        spark,
        path,
        TRANSCRIPT_SCHEMA,
        pk_fields=PK,
        order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def _pdf(df):
    return df.toPandas().sort_values(PK).reset_index(drop=True)


def _assert_same_state(src_df, dst_df):
    pd.testing.assert_frame_equal(_pdf(src_df), _pdf(dst_df), check_dtype=False)


def test_sync_tracks_source_across_epochs(spark, tmp_path):
    src = _make_table(spark, tmp_path / "src")
    dst = _make_table(spark, tmp_path / "dst", num_buckets=4)
    changes = gen_changes(
        spark, n_events=3_000, n_convs=40, max_turns=20, n_files=3, seed=11,
        dup_frac=0.1,
    )
    changes.persist()
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    for epoch, f in enumerate(files):
        src.merge(
            changes.filter(F.col("source_file") == f), pipeline_id="up", epoch_id=epoch
        )
        snap = sync_incremental(src, dst, pipeline_id="hop")
        assert snap is not None
        _assert_same_state(src.read(), dst.read())
    changes.unpersist()
    # no new source commits -> no-op, destination version unchanged
    v = dst.current_version()
    assert sync_incremental(src, dst, pipeline_id="hop") is None
    assert dst.current_version() == v


def test_sync_catches_up_over_multiple_epochs_in_one_hop(spark, tmp_path):
    """Destination left behind for several source commits: one sync applies
    the NET diff (a key updated k times crosses once)."""
    src = _make_table(spark, tmp_path / "src")
    dst = _make_table(spark, tmp_path / "dst")
    changes = gen_changes(
        spark, n_events=3_000, n_convs=40, max_turns=20, n_files=3, seed=12
    )
    changes.persist()
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    # seed after the first epoch only
    src.merge(changes.filter(F.col("source_file") == files[0]), pipeline_id="up", epoch_id=0)
    sync_incremental(src, dst, pipeline_id="hop")
    for epoch, f in enumerate(files[1:], start=1):
        src.merge(changes.filter(F.col("source_file") == f), pipeline_id="up", epoch_id=epoch)
    changes.unpersist()
    snap = sync_incremental(src, dst, pipeline_id="hop")
    assert snap is not None
    assert snap.summary.get("sync_to") == src.current_version()
    _assert_same_state(src.read(), dst.read())


def test_sync_propagates_deletes_and_reinserts(spark, tmp_path):
    src = _make_table(spark, tmp_path / "src")
    dst = _make_table(spark, tmp_path / "dst")

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "op string, conv_id string, turn_idx int, role string, text string,"
            " tool string, ts long, lsn long, source_file string",
        ).withColumn("ts", F.timestamp_seconds("ts"))

    src.merge(batch([("INSERT", "c1", 0, "user", "v1", None, 100, 10, "f")]),
              pipeline_id="up", epoch_id=0)
    sync_incremental(src, dst, pipeline_id="hop")
    src.merge(batch([("DELETE", "c1", 0, None, None, None, 101, 20, "f")]),
              pipeline_id="up", epoch_id=1)
    sync_incremental(src, dst, pipeline_id="hop")
    assert dst.read().count() == 0
    src.merge(batch([("INSERT", "c1", 0, "user", "v2", None, 102, 30, "f")]),
              pipeline_id="up", epoch_id=2)
    sync_incremental(src, dst, pipeline_id="hop")
    got = dst.read().toPandas()
    assert list(got["text"]) == ["v2"]
    _assert_same_state(src.read(), dst.read())


def test_sync_with_key_filter_transform(spark, tmp_path):
    """A serving copy holding only a key subset stays consistent because
    the filter drops whole keys — their deletes are dropped too."""
    src = _make_table(spark, tmp_path / "src")
    dst = _make_table(spark, tmp_path / "dst")
    changes = gen_changes(
        spark, n_events=2_000, n_convs=30, max_turns=20, n_files=2, seed=13
    )
    changes.persist()
    keep = F.col("turn_idx") % 2 == 0

    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    for epoch, f in enumerate(files):
        src.merge(changes.filter(F.col("source_file") == f), pipeline_id="up", epoch_id=epoch)
        sync_incremental(src, dst, pipeline_id="hop", transform=lambda b: b.filter(keep))
    changes.unpersist()
    _assert_same_state(src.read().filter(keep), dst.read())


def test_sync_mor_destination(spark, tmp_path):
    src = _make_table(spark, tmp_path / "src")
    dst = _make_table(spark, tmp_path / "dst")
    changes = gen_changes(
        spark, n_events=2_000, n_convs=30, max_turns=20, n_files=2, seed=14
    )
    changes.persist()
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    for epoch, f in enumerate(files):
        src.merge(changes.filter(F.col("source_file") == f), pipeline_id="up", epoch_id=epoch)
        sync_incremental(src, dst, pipeline_id="hop", write_mode="mor")
    changes.unpersist()
    _assert_same_state(src.read(), dst.read())


def test_sync_seeds_after_source_expiry_and_raises_on_lost_cursor(spark, tmp_path):
    src = _make_table(spark, tmp_path / "src")
    changes = gen_changes(
        spark, n_events=2_000, n_convs=30, max_turns=20, n_files=4, seed=15
    )
    changes.persist()
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    # first two epochs, then a destination sync, then expire history
    dst = _make_table(spark, tmp_path / "dst")
    src.merge(changes.filter(F.col("source_file") == files[0]), pipeline_id="up", epoch_id=0)
    sync_incremental(src, dst, pipeline_id="hop")
    for epoch, f in enumerate(files[1:], start=1):
        src.merge(changes.filter(F.col("source_file") == f), pipeline_id="up", epoch_id=epoch)
    changes.unpersist()
    src.expire_snapshots(keep_last=1)
    # cursor (v after epoch 0) is gone -> incremental sync must refuse
    with pytest.raises(ValueError, match="expired"):
        sync_incremental(src, dst, pipeline_id="hop")
    # a FRESH destination seeds from the full current state regardless
    dst2 = _make_table(spark, tmp_path / "dst2")
    sync_incremental(src, dst2, pipeline_id="hop")
    _assert_same_state(src.read(), dst2.read())


def test_changes_to_batch_rejects_reserved_columns(spark):
    from dataingestion_spark.lake.sync import changes_to_batch

    diff = spark.createDataFrame(
        [("insert", "k1", "x")], "change_type string, id string, op string"
    )
    with pytest.raises(ValueError, match="reserved"):
        changes_to_batch(diff, lsn=1)
    ok = spark.createDataFrame(
        [("insert", "k1", "x")], "change_type string, id string, v string"
    )
    out = changes_to_batch(ok, lsn=1)
    assert set(out.columns) == {"op", "id", "v", "lsn", "source_file"}
