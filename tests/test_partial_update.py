"""update_mode='partial': the reference replay oracle's dict-merge
semantics (/root/reference/demo/test_pipeline.sh:244-262) through the real
lake merge - COW and MOR both resolve through the one dict-merge
(`_resolve_partial`) with the batch as the newest delta commit (COW
rewrites the folded rows, MOR appends the events as overlay deltas for the
read-time fold), compaction, stale at-least-once redelivery, and the Mongo
$set adapter end-to-end. Golden state: oracle.replay_partial (the
engine-independent Python replay)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.oracle import replay_partial
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle

TS = dt.datetime(2024, 1, 1)
CHANGE_COLS = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, lsn long, source_file string"
)


def _mk(spark, path, num_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def _partialize(df):
    """Null out a deterministic subset of UPDATE payload fields - the
    row-relational encoding of a Mongo $set that names only some fields."""
    upd = F.col("op") == "UPDATE"
    return (
        df.withColumn(
            "text",
            F.when(upd & (F.col("turn_idx") % 2 == 0), F.lit(None).cast("string"))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "role",
            F.when(upd & (F.col("turn_idx") % 3 == 0), F.lit(None).cast("string"))
            .otherwise(F.col("role")),
        )
        .withColumn(
            "tool",
            F.when(upd & (F.col("turn_idx") % 3 == 0), F.lit(None).cast("string"))
            .otherwise(F.col("tool")),
        )
    )


def _replay_stream(spark, seed=5, n=6_000):
    return _partialize(
        gen_changes(spark, n_events=n, n_convs=50, max_turns=12, seed=seed,
                    hash_mode="md5")
    )


def _apply_epochs(tbl, changes, n, write_mode="cow", epochs=3):
    per = n // epochs
    for e in range(epochs):
        lo, hi = e * per, (n if e == epochs - 1 else (e + 1) * per)
        part = changes.filter(
            (F.col("lsn") >= lo * 2) & (F.col("lsn") < hi * 2)
        )
        tbl.merge(part, pipeline_id="p", epoch_id=e, write_mode=write_mode,
                  update_mode="partial")


def _check_against_oracle(spark, tbl, changes):
    want = replay_partial(changes.toPandas())
    assert_table_equals_oracle(tbl.read(), want)


def test_partial_cow_multi_epoch_matches_dict_replay(spark, tmp_path):
    changes = _replay_stream(spark)
    tbl = _mk(spark, tmp_path / "t")
    _apply_epochs(tbl, changes, 6_000)
    _check_against_oracle(spark, tbl, changes)


def test_partial_mor_multi_epoch_matches_dict_replay(spark, tmp_path):
    changes = _replay_stream(spark, seed=6)
    tbl = _mk(spark, tmp_path / "t")
    _apply_epochs(tbl, changes, 6_000, write_mode="mor")
    assert tbl.snapshot().properties.get("partial_delta_buckets")
    _check_against_oracle(spark, tbl, changes)


def test_partial_mor_compact_folds_overlays(spark, tmp_path):
    changes = _replay_stream(spark, seed=7)
    tbl = _mk(spark, tmp_path / "t")
    _apply_epochs(tbl, changes, 6_000, write_mode="mor")
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    tbl.compact()
    snap = tbl.snapshot()
    assert not snap.deltas
    assert "partial_delta_buckets" not in snap.properties
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    pd.testing.assert_frame_equal(before[cols], after[cols], check_dtype=False)
    _check_against_oracle(spark, tbl, changes)


def test_rebucket_folds_partial_overlays(spark, tmp_path):
    """A rebucket folds every delta chain into full base rows, so the new
    snapshot names no partial-overlay bucket and reads as the dict
    replay."""
    changes = _replay_stream(spark, seed=9, n=3_000)
    tbl = _mk(spark, tmp_path / "t")
    _apply_epochs(tbl, changes, 3_000, write_mode="mor")
    assert tbl.snapshot().properties.get("partial_delta_buckets")
    tbl.rebucket(8)
    snap = LakeTable(spark, tbl.root).snapshot()  # as committed on disk
    assert snap.operation == "rebucket" and not snap.deltas
    assert "partial_delta_buckets" not in snap.properties
    _check_against_oracle(spark, tbl, changes)


def test_partial_mixed_mor_then_cow_epochs(spark, tmp_path):
    """A COW partial epoch over buckets holding partial deltas must fold
    the overlays (via the partial-aware read) before rewriting."""
    changes = _replay_stream(spark, seed=8)
    tbl = _mk(spark, tmp_path / "t")
    per = 2_000
    parts = [
        changes.filter((F.col("lsn") >= lo * 2) & (F.col("lsn") < hi * 2))
        for lo, hi in [(0, per), (per, 2 * per), (2 * per, 6_000)]
    ]
    tbl.merge(parts[0], pipeline_id="p", epoch_id=0, write_mode="mor",
              update_mode="partial")
    tbl.merge(parts[1], pipeline_id="p", epoch_id=1, write_mode="cow",
              update_mode="partial")
    tbl.merge(parts[2], pipeline_id="p", epoch_id=2, write_mode="mor",
              update_mode="partial")
    _check_against_oracle(spark, tbl, changes)


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_update_on_missing_key_is_dropped(spark, tmp_path, write_mode):
    tbl = _mk(spark, tmp_path / f"t_{write_mode}")
    batch = spark.createDataFrame(
        [
            ("INSERT", "c0", 0, "user", "hello", None, TS, 2, "f"),
            ("UPDATE", "c9", 9, "user", "ghost update", None, TS, 4, "f"),
        ],
        CHANGE_COLS,
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=0, write_mode=write_mode,
              update_mode="partial")
    keys = {(r["conv_id"], r["turn_idx"]) for r in tbl.read().collect()}
    assert keys == {("c0", 0)}, "update on a missing key must be dropped"


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_update_after_delete_is_dropped(spark, tmp_path, write_mode):
    tbl = _mk(spark, tmp_path / f"t_{write_mode}")
    tbl.merge(
        spark.createDataFrame(
            [("INSERT", "c0", 0, "user", "hello", None, TS, 2, "f")], CHANGE_COLS
        ),
        pipeline_id="p", epoch_id=0, write_mode=write_mode,
        update_mode="partial",
    )
    batch = spark.createDataFrame(
        [
            ("DELETE", "c0", 0, None, None, None, TS, 4, "f"),
            ("UPDATE", "c0", 0, None, "zombie", None, TS, 6, "f"),
        ],
        CHANGE_COLS,
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=1, write_mode=write_mode,
              update_mode="partial")
    assert tbl.read().count() == 0, "update after delete must not resurrect"


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_null_fields_retain_target_values_across_epochs(spark, tmp_path, write_mode):
    """The headline $set behavior: an UPDATE naming only `text` must keep
    the target row's role/tool/ts - exactly where full-row mode would
    null them out."""
    tbl = _mk(spark, tmp_path / f"t_{write_mode}")
    tbl.merge(
        spark.createDataFrame(
            [("INSERT", "c0", 0, "tool", "v1", "tool_03", TS, 2, "f")],
            CHANGE_COLS,
        ),
        pipeline_id="p", epoch_id=0, write_mode=write_mode,
        update_mode="partial",
    )
    tbl.merge(
        spark.createDataFrame(
            [("UPDATE", "c0", 0, None, "v2", None, None, 4, "f")], CHANGE_COLS
        ),
        pipeline_id="p", epoch_id=1, write_mode=write_mode,
        update_mode="partial",
    )
    row = tbl.read().collect()[0]
    assert row["text"] == "v2"
    assert row["role"] == "tool" and row["tool"] == "tool_03"
    assert row["ts"] is not None, "unset ts must be retained, not nulled"


def test_stale_update_does_not_overwrite(spark, tmp_path):
    """A redelivered UPDATE older than the target row's lsn is a no-op
    per column (the partial analog of the s.lsn >= t._lsn guard)."""
    tbl = _mk(spark, tmp_path / "t")
    tbl.merge(
        spark.createDataFrame(
            [("INSERT", "c0", 0, "user", "new", None, TS, 10, "f")], CHANGE_COLS
        ),
        pipeline_id="p", epoch_id=0, update_mode="partial",
    )
    tbl.merge(
        spark.createDataFrame(
            [("UPDATE", "c0", 0, None, "old", None, None, 4, "f")], CHANGE_COLS
        ),
        pipeline_id="p", epoch_id=1, update_mode="partial",
    )
    assert tbl.read().collect()[0]["text"] == "new"


def test_mongo_set_adapter_partial_end_to_end(spark, tmp_path):
    """The gap VERDICT.md item 1 named: a real Mongo change stream's $set
    updates through parse_mongo_change_stream + merge(update_mode=
    'partial') must NOT null out unnamed fields."""
    from pyspark.sql import types as T

    from dataingestion_spark.sources.cdc_formats import parse_mongo_change_stream

    env = spark.createDataFrame(
        [
            ("insert", "users", '{"name": "ada", "city": "london"}',
             '{"_id": {"$oid": "oid1"}}', "2024-01-01T00:00:00Z", "users.1"),
            ("update", "users", '{"$set": {"city": "paris"}}',
             '{"_id": {"$oid": "oid1"}}', "2024-01-01T00:00:01Z", "users.2"),
        ],
        "operationType string, ns_coll string, fullDocument string, "
        "documentKey string, clusterTime string, resumeToken string",
    )
    canon = parse_mongo_change_stream(
        env, payload_fields=[("name", "string"), ("city", "string")]
    ).select("op", "document_id", "name", "city", "lsn", "source_file")
    schema = T.StructType(
        [
            T.StructField("document_id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("city", T.StringType()),
        ]
    )
    tbl = LakeTable.create(
        spark, tmp_path / "mongo", schema,
        pk_fields=["document_id"], order_fields=["lsn"], num_buckets=2,
    )
    tbl.merge(canon, pipeline_id="p", epoch_id=0, update_mode="partial")
    row = tbl.read().collect()[0]
    assert row["city"] == "paris"
    assert row["name"] == "ada", "$set must not null out unnamed fields"


# Every write mode a partial epoch can take; "mor+compact" compacts after
# each epoch, so later epochs resolve against folded base rows.
WRITE_MODES = ["cow", "mor", "mor+compact"]


def _merge_as(tbl, batch, epoch, mode):
    tbl.merge(batch, pipeline_id="p", epoch_id=epoch,
              write_mode="cow" if mode == "cow" else "mor",
              update_mode="partial")
    if mode == "mor+compact":
        tbl.compact()


def _events(spark, rows):
    return spark.createDataFrame(
        [(op, "c0", 0, role, text, tool, TS, lsn, "f")
         for op, lsn, role, text, tool in rows],
        CHANGE_COLS,
    )


def _replay_epochs(spark, tmp_path, epochs):
    """Merge each (mode, [(op, lsn, role, text, tool), ...]) epoch for key
    (c0, 0), check the table against the dict replay of every event, and
    return the (role, text, tool) of its rows."""
    tbl = _mk(spark, tmp_path / "t")
    for e, (mode, rows) in enumerate(epochs):
        _merge_as(tbl, _events(spark, rows), e, mode)
    want = replay_partial(
        _events(spark, [r for _, rows in epochs for r in rows]).toPandas()
    )
    assert_table_equals_oracle(tbl.read(), want)
    return [(r.role, r.text, r.tool) for r in tbl.read().collect()]


@pytest.mark.parametrize("mode", WRITE_MODES)
def test_stale_insert_redelivered_beside_fresh_update(spark, tmp_path, mode):
    """An at-least-once redelivery of an older INSERT next to a fresh
    UPDATE: the table's newer INSERT stays the barrier and only the
    update lands on it - (A, A, C), not the stale row's (B, B, C)."""
    assert _replay_epochs(spark, tmp_path, [
        (mode, [("INSERT", 10, "A", "A", "A")]),
        (mode, [("INSERT", 5, "B", "B", "B"), ("UPDATE", 12, None, None, "C")]),
    ]) == [("A", "A", "C")]


@pytest.mark.parametrize("mode", WRITE_MODES)
def test_stale_update_redelivered_beside_fresh_update(spark, tmp_path, mode):
    """A redelivered UPDATE older than the stored row is a no-op even
    beside a fresh one in the same batch: each event keeps its own lsn."""
    assert _replay_epochs(spark, tmp_path, [
        (mode, [("INSERT", 10, "A", "A", "A")]),
        (mode, [("UPDATE", 8, None, "B", None), ("UPDATE", 12, None, None, "C")]),
    ]) == [("A", "A", "C")]


def test_cow_insert_below_mor_overlay_keeps_the_overlay(spark, tmp_path):
    """A MOR overlay UPDATE@12, then a COW INSERT@11 of the same key: in
    lsn order the INSERT replaces the row and the UPDATE lands on it, so
    the COW rewrite must fold the overlay after the new barrier."""
    assert _replay_epochs(spark, tmp_path, [
        ("cow", [("INSERT", 10, "A", "A", "A")]),
        ("mor", [("UPDATE", 12, None, None, "C")]),
        ("cow", [("INSERT", 11, "B", "B", "B")]),
    ]) == [("B", "B", "C")]


@pytest.mark.parametrize("mode", WRITE_MODES)
def test_redelivered_events_match_dict_replay(spark, tmp_path, mode):
    """Property: three lsn-ordered epochs, each also re-delivering a
    seeded 10% of the earlier epochs' events (at-least-once delivery),
    leave the table equal to the dict replay of the distinct events."""
    changes = _replay_stream(spark, seed=11, n=3_000).persist()
    tbl = _mk(spark, tmp_path / "t")
    bounds = [0, 1_000, 2_000, 3_000]
    for e in range(3):
        fresh = changes.filter(
            (F.col("lsn") >= bounds[e] * 2) & (F.col("lsn") < bounds[e + 1] * 2)
        )
        older = changes.filter(F.col("lsn") < bounds[e] * 2)
        batch = fresh.unionByName(older.sample(fraction=0.1, seed=100 + e))
        _merge_as(tbl, batch, e, mode)
    try:
        _check_against_oracle(spark, tbl, changes)
    finally:
        changes.unpersist()
