"""Skew-salting tests: salting invariance (salted result == unsalted
result) and the merge's hot-key floor (SURVEY.md §5)."""

import pandas as pd
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.operators.salting import with_salt
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def test_salt_is_stable_per_key(spark):
    df = gen_changes(spark, n_events=2_000, n_convs=10, zipf_exp=3.0, seed=22)
    hot = ["conv_000000"]  # the zipf head at zipf_exp=3
    salted = with_salt(df, hot, k=8)
    # same (conv_id, turn_idx) always gets the same salt
    n_violations = (
        salted.groupBy("conv_id", "turn_idx")
        .agg(F.countDistinct("_salt").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert n_violations == 0
    # hot key actually spreads across >1 salt bucket
    spread = (
        salted.filter(F.col("conv_id") == hot[0])
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread > 1


def test_salted_merge_equals_unsalted(spark, tmp_path):
    """End-to-end salting invariance: a heavily skewed stream merged with
    aggressive salting produces exactly the oracle state (and therefore
    exactly the unsalted result)."""
    changes = gen_changes(
        spark, n_events=6_000, n_convs=500, max_turns=200, zipf_exp=4.0, seed=23
    )
    salted_tbl = LakeTable.create(
        spark, tmp_path / "salted", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"], num_buckets=4,
    )
    salted_tbl.merge(
        changes, pipeline_id="t", epoch_id=0, hot_key_threshold=0.01,
        hot_key_min_rows=0, salt_buckets=8
    )
    snap = salted_tbl.snapshot()
    assert snap.summary["hot_keys"], "skewed stream should trigger salting"
    expected = oracle.replay(changes.toPandas())
    assert_table_equals_oracle(salted_tbl.read(), expected)


def test_hot_key_absolute_floor_silences_microbatch_salting(spark, tmp_path):
    """Hotness is a property of row VOLUME, not batch share: a skewed
    micro-batch stays unsalted under the default HOT_KEY_MIN_ROWS floor
    (salting cannot help a 100-row key), while hot_key_min_rows=0
    restores the pure fractional gate - and both plans produce the
    identical oracle state."""
    changes = gen_changes(
        spark, n_events=3_000, n_convs=300, zipf_exp=3.0, seed=29
    )
    expected = oracle.replay(changes.toPandas())

    floored = LakeTable.create(
        spark, tmp_path / "floored", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    snap = floored.merge(changes, pipeline_id="t", epoch_id=0)
    assert snap.summary["hot_keys"] == [], (
        "a 3k-event batch can never contain a >=100k-row key"
    )
    assert_table_equals_oracle(floored.read(), expected)

    fractional = LakeTable.create(
        spark, tmp_path / "fractional", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    snap2 = fractional.merge(
        changes, pipeline_id="t", epoch_id=0, hot_key_min_rows=0
    )
    assert "conv_000000" in snap2.summary["hot_keys"]
    assert_table_equals_oracle(fractional.read(), expected)


def test_hot_floor_lets_broadcast_plan_engage_on_skewed_sliver(spark, tmp_path):
    """The steady-state regime the COW broadcast split targets IS
    skewed micro-batches against a grown table; the absolute floor stops
    a tiny zipf head from vetoing it (driver query cdc_broadcast_merge)."""
    changes = gen_changes(
        spark, n_events=10_000, n_convs=80, max_turns=40, seed=42,
        hash_mode="md5",
    )
    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=8,
    )
    tbl.merge(changes.filter(F.col("lsn") < 9_000 * 2), pipeline_id="t",
              epoch_id=0)
    snap = tbl.merge(changes.filter(F.col("lsn") >= 9_000 * 2),
                     pipeline_id="t", epoch_id=1)
    assert snap.summary["merge_plan"] == "cow-broadcast"
    assert_table_equals_oracle(
        tbl.read(), oracle.replay(changes.toPandas())
    )
