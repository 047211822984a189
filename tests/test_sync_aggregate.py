"""Incremental aggregate maintenance (lake/sync.py sync_aggregate):
a grouped COUNT/SUM view of a CDC-fed table kept current by applying
changelog deltas, never by rescanning the source - incremental view
maintenance in the medallion pattern. The invariant everywhere: after
every sync the view equals a fresh groupBy over the source's live state
(that recompute IS the test oracle), across inserts, LWW updates that
move rows between groups, deletes that empty a group, multi-epoch
catch-up, and crash-replay idempotency."""

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dataingestion_spark.lake.sync import sync_aggregate
from dataingestion_spark.lake.table import LakeTable
from tests.util import TRANSCRIPT_SCHEMA

CHANGE_DDL = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts long, lsn long, source_file string"
)


def _make_table(spark, path, num_buckets=4):
    return LakeTable.create(
        spark,
        path,
        TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"],
        order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGE_DDL).withColumn(
        "ts", F.timestamp_seconds("ts")
    )


def _assert_view_matches_recompute(src, view, group_col="role"):
    got = (
        view.read()
        .toPandas()
        .sort_values(group_col)
        .reset_index(drop=True)
    )
    want = (
        src.read()
        .filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("turn_idx").cast("long").alias("sum_turn_idx"),
        )
        .toPandas()
        .sort_values(group_col)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_aggregate_view_tracks_source_through_epochs(spark, tmp_path):
    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")

    # epoch 0: inserts across two groups
    src.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "a", None, 100, 10, "f"),
                ("INSERT", "c1", 1, "assistant", "b", None, 101, 11, "f"),
                ("INSERT", "c2", 0, "user", "c", None, 102, 12, "f"),
            ],
        ),
        pipeline_id="p", epoch_id=0,
    )
    snap = sync_aggregate(src, view_path, ["role"], sums=["turn_idx"])
    assert snap is not None
    view = LakeTable(spark, view_path)
    _assert_view_matches_recompute(src, view)

    # up-to-date: another sync is a no-op
    assert sync_aggregate(src, view_path, ["role"], sums=["turn_idx"]) is None

    # epoch 1: an update MOVES a row between groups (role change), a
    # delete empties nothing yet
    src.merge(
        _batch(
            spark,
            [
                ("UPDATE", "c1", 1, "tool", "b2", "t1", 103, 20, "f"),
                ("DELETE", "c2", 0, None, None, None, 104, 21, "f"),
            ],
        ),
        pipeline_id="p", epoch_id=1,
    )
    sync_aggregate(src, view_path, ["role"], sums=["turn_idx"])
    _assert_view_matches_recompute(src, view)
    got = view.read().toPandas().set_index("role")
    assert "assistant" not in got.index  # group emptied -> deleted from view
    assert got.loc["tool", "n_rows"] == 1

    # epochs 2+3 then ONE catch-up sync spanning both source versions
    src.merge(
        _batch(spark, [("INSERT", "c3", 0, "user", "d", None, 105, 30, "f")]),
        pipeline_id="p", epoch_id=2,
    )
    src.merge(
        _batch(spark, [("UPDATE", "c3", 0, "user", "d2", None, 106, 31, "f")]),
        pipeline_id="p", epoch_id=3,
    )
    sync_aggregate(src, view_path, ["role"], sums=["turn_idx"])
    _assert_view_matches_recompute(src, view)


def test_aggregate_view_replay_is_idempotent(spark, tmp_path):
    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    src.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "a", None, 100, 10, "f")]),
        pipeline_id="p", epoch_id=0,
    )
    sync_aggregate(src, view_path, ["role"], sums=["turn_idx"])
    view = LakeTable(spark, view_path)
    v = view.current_version()
    # crash-replay: simulate a re-run against an unchanged source by
    # resetting nothing - the cursor already equals the source version
    assert sync_aggregate(src, view_path, ["role"], sums=["turn_idx"]) is None
    assert view.current_version() == v


def test_aggregate_view_cursor_moves_on_no_net_change(spark, tmp_path):
    """A source version bump with no row-level diff (compaction) still
    advances the cursor so later syncs read a short range."""
    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    src.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "a", None, 100, 10, "f")]),
        pipeline_id="p", epoch_id=0,
    )
    sync_aggregate(src, view_path, ["role"])
    src.compact()
    snap = sync_aggregate(src, view_path, ["role"])
    view = LakeTable(spark, view_path)
    assert view.last_applied_epoch("aggsync") == src.current_version()
    _assert_view_matches_recompute_counts_only(src, view)


def _assert_view_matches_recompute_counts_only(src, view):
    got = view.read().toPandas().sort_values("role").reset_index(drop=True)
    want = (
        src.read()
        .filter(F.col("role").isNotNull())
        .groupBy("role")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .toPandas()
        .sort_values("role")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_aggregate_view_null_group_keys_excluded(spark, tmp_path):
    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    src.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "a", None, 100, 10, "f"),
                ("INSERT", "c1", 1, None, "b", None, 101, 11, "f"),  # null role
            ],
        ),
        pipeline_id="p", epoch_id=0,
    )
    sync_aggregate(src, view_path, ["role"])
    got = LakeTable(spark, view_path).read().toPandas()
    assert list(got["role"]) == ["user"] and int(got["n_rows"].iloc[0]) == 1


def test_aggregate_view_rejects_mismatched_destination(spark, tmp_path):
    import pytest

    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    src.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "a", None, 100, 10, "f")]),
        pipeline_id="p", epoch_id=0,
    )
    sync_aggregate(src, view_path, ["role"], sums=["turn_idx"])
    with pytest.raises(ValueError, match="not the aggregate view"):
        sync_aggregate(src, view_path, ["conv_id"], sums=["turn_idx"])
    with pytest.raises(ValueError, match="not the aggregate view"):
        sync_aggregate(src, view_path, ["role"])  # sums spec differs


def test_streaming_pipeline_maintains_agg_view(spark, tmp_path):
    """agg_views in the dataset config: the view updates after every
    applied micro-batch and survives a checkpoint replay untouched - a
    streaming materialized view."""
    from dataingestion_spark.config import DatasetConfig
    from dataingestion_spark.sources.datagen import gen_changes, write_change_files
    from dataingestion_spark.streaming.pipeline import apply_changes, bootstrap_table
    from tests.util import TRANSCRIPT_SCHEMA

    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table", "view")}
    changes = gen_changes(spark, n_events=2_000, n_convs=25, n_files=3, seed=9)
    changes = changes.persist()
    write_change_files(changes, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4,
        agg_views=[{"path": d["view"], "group": ["conv_id"], "sums": ["turn_idx"]}],
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=changes.schema, max_files_per_trigger=1,  # several epochs
    )
    q.awaitTermination(240)
    changes.unpersist()

    src = LakeTable(spark, d["table"])
    view = LakeTable(spark, d["view"])
    _assert_view_matches_recompute(src, view, group_col="conv_id")
    # checkpoint replay: neither table nor view advances
    v_tbl, v_view = src.current_version(), view.current_version()
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"], schema=None
    )
    q.awaitTermination(120)
    assert src.current_version() == v_tbl
    assert view.current_version() == v_view


# ----------------------------------------------------------------------
# MIN/MAX maintenance (round 5): the classic IVM hard case - a delete
# can evict the stored extremum and no view-local arithmetic can name
# the runner-up. Insert-only groups fold with least/greatest; any group
# that saw a remove event is recomputed from the source, pruned to the
# dirty groups' buckets via read_prefix when the grouping is a pk
# prefix. Oracle everywhere: a fresh groupBy over the live source.
# ----------------------------------------------------------------------


def _assert_minmax_matches_recompute(src, view, group_col):
    got = (
        view.read()
        .toPandas()
        .sort_values(group_col)
        .reset_index(drop=True)
    )
    want = (
        src.read()
        .filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .toPandas()
        .sort_values(group_col)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_minmax_view_survives_extremum_eviction(spark, tmp_path):
    """The eviction cases specifically: delete the row holding the min,
    LWW-update the row holding the max to a smaller value, empty a whole
    group - after each sync the view equals a fresh recompute."""
    from dataingestion_spark.lake.sync import sync_aggregate

    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")

    def sync():
        return sync_aggregate(
            src, view_path, ["conv_id"], mins=["ts"], maxs=["turn_idx"],
        )

    # epoch 0: c1 min_ts=100 at turn 0, max_turn=2; c2 single row
    src.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "a", None, 100, 10, "f"),
                ("INSERT", "c1", 1, "assistant", "b", None, 150, 11, "f"),
                ("INSERT", "c1", 2, "user", "c", None, 120, 12, "f"),
                ("INSERT", "c2", 0, "user", "d", None, 130, 13, "f"),
            ],
        ),
        pipeline_id="p", epoch_id=0,
    )
    assert sync() is not None
    view = LakeTable(spark, view_path)
    _assert_minmax_matches_recompute(src, view, "conv_id")

    # epoch 1: DELETE c1's min-ts row AND its max-turn row in one batch
    # (both extrema evicted at once), insert-only growth on c2 (clean
    # fold path), and a brand-new group c3
    src.merge(
        _batch(
            spark,
            [
                ("DELETE", "c1", 0, None, None, None, 100, 20, "g"),
                ("DELETE", "c1", 2, None, None, None, 120, 21, "g"),
                ("INSERT", "c2", 1, "assistant", "e", None, 90, 22, "g"),
                ("INSERT", "c3", 0, "user", "f", None, 300, 23, "g"),
            ],
        ),
        pipeline_id="p", epoch_id=1,
    )
    assert sync() is not None
    _assert_minmax_matches_recompute(src, view, "conv_id")
    row = view.read().filter(F.col("conv_id") == "c1").collect()[0]
    assert row["max_turn_idx"] == 1  # recomputed runner-up, not stale 2

    # epoch 2: LWW-update c2's min-ts row UP (evicts the min without a
    # DELETE op - preimage remove + postimage add), then empty c3
    src.merge(
        _batch(
            spark,
            [
                ("UPDATE", "c2", 1, "assistant", "e2", None, 200, 30, "h"),
                ("DELETE", "c3", 0, None, None, None, 300, 31, "h"),
            ],
        ),
        pipeline_id="p", epoch_id=2,
    )
    assert sync() is not None
    _assert_minmax_matches_recompute(src, view, "conv_id")
    assert view.read().filter(F.col("conv_id") == "c3").count() == 0

    # crash-replay: a second sync at the same source version is a no-op
    assert sync() is None


def test_minmax_view_non_pk_group_fallback(spark, tmp_path):
    """Grouping by a NON-pk column (role) exercises the broadcast
    semi-join recompute fallback instead of the read_prefix-pruned
    path; equality with the fresh recompute must hold all the same."""
    from dataingestion_spark.lake.sync import sync_aggregate
    from dataingestion_spark.sources.datagen import gen_changes

    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    changes = gen_changes(spark, n_events=2_000, n_convs=30, n_files=2, seed=11)
    changes = changes.persist()
    for e, fname in enumerate(sorted(r[0] for r in changes.select("source_file").distinct().collect())):
        src.merge(
            changes.filter(F.col("source_file") == fname),
            pipeline_id="p", epoch_id=e,
        )
        sync_aggregate(
            src, view_path, ["role"], sums=["turn_idx"],
            mins=["ts"], maxs=["turn_idx"],
        )
        view = LakeTable(spark, view_path)
        got = view.read().toPandas().sort_values("role").reset_index(drop=True)
        want = (
            src.read()
            .filter(F.col("role").isNotNull())
            .groupBy("role")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("turn_idx").cast("long").alias("sum_turn_idx"),
                F.min("ts").alias("min_ts"),
                F.max("turn_idx").alias("max_turn_idx"),
            )
            .toPandas()
            .sort_values("role")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    changes.unpersist()


def test_minmax_view_generated_stream_pk_prefix(spark, tmp_path):
    """Multi-epoch generated CDC stream (inserts, LWW updates, deletes,
    duplicate deliveries) with the per-conversation grouping - the
    read_prefix-pruned recompute path - stays recompute-equal after
    every sync."""
    from dataingestion_spark.lake.sync import sync_aggregate
    from dataingestion_spark.sources.datagen import gen_changes

    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    changes = gen_changes(spark, n_events=3_000, n_convs=40, n_files=3, seed=13)
    changes = changes.persist()
    for e, fname in enumerate(sorted(r[0] for r in changes.select("source_file").distinct().collect())):
        src.merge(
            changes.filter(F.col("source_file") == fname),
            pipeline_id="p", epoch_id=e,
        )
        sync_aggregate(
            src, view_path, ["conv_id"], mins=["ts"], maxs=["turn_idx"],
        )
        _assert_minmax_matches_recompute(
            src, LakeTable(spark, view_path), "conv_id"
        )
    changes.unpersist()


def test_sync_aggregate_runs_no_take_probe(spark, tmp_path, monkeypatch):
    """The per-sync emptiness probe is gone: no DataFrame.take anywhere
    in an incremental aggregate sync, and a no-net-change sync still
    moves the cursor through the merge's empty-batch marker path."""
    from dataingestion_spark.lake.sync import sync_aggregate

    src = _make_table(spark, str(tmp_path / "src"), num_buckets=4)
    batch = spark.createDataFrame(
        [
            ("INSERT", "c1", 0, "user", "a", None, 1, 1, "f"),
            ("INSERT", "c1", 1, "assistant", "b", None, 2, 2, "f"),
            ("INSERT", "c2", 0, "user", "c", None, 3, 3, "f"),
        ],
        CHANGE_DDL,
    ).withColumn("ts", F.timestamp_seconds("ts"))
    src.merge(batch, pipeline_id="p", epoch_id=0)
    view_path = str(tmp_path / "view")
    sync_aggregate(src, view_path, group_cols=["role"], sums=["turn_idx"])

    src.merge(
        batch.withColumn("lsn", F.col("lsn") + 10),
        pipeline_id="p",
        epoch_id=1,
    )

    calls = {"take": 0}
    orig_take = DataFrame.take

    def counting_take(self, n):
        calls["take"] += 1
        return orig_take(self, n)

    monkeypatch.setattr(DataFrame, "take", counting_take)
    view = LakeTable(spark, view_path)
    sync_aggregate(src, view, group_cols=["role"], sums=["turn_idx"])
    assert calls["take"] == 0

    # a version bump with NO net row change (idempotent redelivery merged
    # under a new epoch id produces an empty changelog... use a no-op DML)
    before = view.last_applied_epoch("aggsync")
    src.delete_where("role = 'nobody'")  # matches nothing: no commit
    snap = src.compact()  # rewrites files: version advances, same rows
    assert snap is not None
    sync_aggregate(src, view, group_cols=["role"], sums=["turn_idx"])
    assert view.last_applied_epoch("aggsync") > before
    assert calls["take"] == 0
    # view still equals a fresh recompute
    got = view.read().toPandas().sort_values("role").reset_index(drop=True)
    want = (
        src.read()
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("turn_idx").cast("long").alias("sum_turn_idx"),
        )
        .toPandas()
        .sort_values("role")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_prefix_view_lookup_takes_recorded_keys(spark, tmp_path):
    """Grouped by the leading pk field, the view's lookup reads the groups
    the source merges recorded, a superset of the changed ones: a stale
    redelivery (its key recorded, its row unchanged) leaves its group's
    totals alone, a new group and an emptied group are written, and a
    compaction-only range (no recorded keys) moves the cursor. The view
    equals a fresh recompute after every sync."""
    src = _make_table(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    src.merge(_batch(spark, [
        ("INSERT", "c1", 0, "user", "a", None, 1, 10, "f"),
        ("INSERT", "c1", 1, "assistant", "b", None, 2, 11, "f"),
        ("INSERT", "c2", 0, "user", "c", None, 3, 12, "f"),
        ("INSERT", "c3", 0, "user", "d", None, 4, 13, "f"),
    ]), pipeline_id="p", epoch_id=0)
    sync_aggregate(src, view_path, ["conv_id"], sums=["turn_idx"])
    view = LakeTable(spark, view_path)

    snap = src.merge(_batch(spark, [
        ("UPDATE", "c1", 1, "assistant", "stale", None, 2, 5, "f"),  # loses LWW
        ("DELETE", "c2", 0, None, None, None, 5, 20, "f"),
        ("INSERT", "c4", 3, "user", "e", None, 6, 21, "f"),
    ]), pipeline_id="p", epoch_id=1)
    assert snap.summary["changed_keys"] == 3
    assert sync_aggregate(src, view, ["conv_id"], sums=["turn_idx"]) is not None
    _assert_view_matches_recompute(src, view, "conv_id")
    assert sorted(r["conv_id"] for r in view.read().collect()) == ["c1", "c3", "c4"]

    before = view.last_applied_epoch("aggsync")
    assert src.compact() is not None
    assert sync_aggregate(src, view, ["conv_id"], sums=["turn_idx"]) is not None
    assert view.last_applied_epoch("aggsync") > before
    _assert_view_matches_recompute(src, view, "conv_id")
