"""The flagship end-to-end correctness test (SURVEY.md §7.1 step 3):
replay a synthetic binlog through LakeTable.merge and compare the final
table state to the pure-Python replay oracle - per-turn text equality under
stable (conv_id, turn_idx) ordering."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _make_table(spark, path, num_buckets=8):
    return LakeTable.create(
        spark,
        path,
        TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"],
        order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def test_single_batch_merge_matches_oracle(spark, tmp_table_dir):
    changes = gen_changes(spark, n_events=8_000, n_convs=60, max_turns=30, seed=42)
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(changes, pipeline_id="t", epoch_id=0)
    expected = oracle.replay(changes.toPandas())
    assert_table_equals_oracle(tbl.read(), expected)


def test_multi_batch_merge_matches_oracle(spark, tmp_table_dir):
    """Events split into arrival files applied as separate epochs, with
    cross-epoch out-of-orderness (file assignment independent of lsn)."""
    changes = gen_changes(
        spark, n_events=6_000, n_convs=50, max_turns=25, n_files=5, seed=43,
        dup_frac=0.1,
    )
    changes.persist()
    tbl = _make_table(spark, tmp_table_dir)
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    for epoch, f in enumerate(files):
        tbl.merge(changes.filter(F.col("source_file") == f), pipeline_id="t", epoch_id=epoch)
    expected = oracle.replay(changes.toPandas())
    changes.unpersist()
    assert_table_equals_oracle(tbl.read(), expected)
    # snapshot history: one create + one merge per epoch
    assert len(tbl.history()) == 1 + len(files)


def test_late_event_does_not_resurrect_deleted_key(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    b1 = spark.createDataFrame(
        [
            ("INSERT", "c1", 0, "user", "hello", None, 100, 10, "f0"),
            ("DELETE", "c1", 0, None, None, None, 110, 30, "f0"),
        ],
        "op string, conv_id string, turn_idx int, role string, text string, tool string, ts long, lsn long, source_file string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    tbl.merge(b1, pipeline_id="t", epoch_id=0)
    assert tbl.read().count() == 0
    # late UPDATE with lsn below the applied DELETE must NOT resurrect
    b2 = spark.createDataFrame(
        [("UPDATE", "c1", 0, "user", "stale", None, 105, 20, "f1")],
        "op string, conv_id string, turn_idx int, role string, text string, tool string, ts long, lsn long, source_file string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    tbl.merge(b2, pipeline_id="t", epoch_id=1)
    assert tbl.read().count() == 0
    # but a genuinely newer INSERT re-creates it
    b3 = spark.createDataFrame(
        [("INSERT", "c1", 0, "user", "fresh", None, 120, 40, "f2")],
        "op string, conv_id string, turn_idx int, role string, text string, tool string, ts long, lsn long, source_file string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    tbl.merge(b3, pipeline_id="t", epoch_id=2)
    got = tbl.read().toPandas()
    assert list(got["text"]) == ["fresh"]


def test_epoch_replay_is_idempotent(spark, tmp_table_dir):
    changes = gen_changes(spark, n_events=1_000, n_convs=20, seed=5)
    tbl = _make_table(spark, tmp_table_dir)
    s1 = tbl.merge(changes, pipeline_id="t", epoch_id=0)
    assert s1 is not None
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # at-least-once redelivery of the same epoch: must be skipped whole
    s2 = tbl.merge(changes, pipeline_id="t", epoch_id=0)
    assert s2 is None
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    assert tbl.current_version() == s1.version


def test_time_travel_and_history(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    b1 = gen_changes(spark, n_events=500, n_convs=10, seed=1)
    tbl.merge(b1, pipeline_id="t", epoch_id=0)
    v_after_b1 = tbl.current_version()
    count_after_b1 = tbl.read().count()
    b2 = gen_changes(spark, n_events=500, n_convs=10, seed=2, lsn_offset=10_000)
    tbl.merge(b2, pipeline_id="t", epoch_id=1)
    assert tbl.read(version=v_after_b1).count() == count_after_b1
    ops = [s.operation for s in tbl.history()]
    assert ops == ["create", "merge", "merge"]


def test_compaction_preserves_state_and_purges_tombstones(spark, tmp_table_dir):
    changes = gen_changes(spark, n_events=3_000, n_convs=30, seed=9)
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(changes, pipeline_id="t", epoch_id=0)
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    max_lsn = changes.agg(F.max("lsn")).collect()[0][0]
    tbl.compact(purge_tombstones_below_lsn=max_lsn + 1)
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # tombstones physically gone
    raw = tbl.read(include_system=True)
    assert raw.filter(F.col("_deleted")).count() == 0


def test_join_plan_late_delete_and_evolution(spark, tmp_table_dir):
    """Late lower-lsn event below an applied DELETE stays dead; schema
    evolution mid-stream."""
    tbl = _make_table(spark, tmp_table_dir, num_buckets=4)
    v1 = gen_changes(spark, n_events=2_000, n_convs=25, seed=48)
    v2 = gen_changes(
        spark, n_events=2_000, n_convs=25, seed=48, schema_version=2,
        lsn_offset=1_000_000,
    )
    v1.persist(), v2.persist()
    tbl.merge(v1, pipeline_id="m", epoch_id=0)
    tbl.merge(v2, pipeline_id="m", epoch_id=1)
    union = v1.withColumn("tool_meta", F.lit(None).cast("string")).withColumn(
        "latency_ms", F.lit(None).cast("long")
    ).unionByName(v2)
    expected = oracle.replay(
        union.toPandas(), extra_payload_cols=["tool_meta", "latency_ms"]
    )
    assert_table_equals_oracle(
        tbl.read(), expected,
        payload_cols=["role", "text", "tool", "ts", "tool_meta", "latency_ms"],
    )
    v1.unpersist(), v2.unpersist()
