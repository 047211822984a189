"""Shared test helpers: the equality check of FIXTURES.md §4 and a small
merged table."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, types as T

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def assert_table_equals_oracle(
    table_df: DataFrame, oracle_pdf: pd.DataFrame, payload_cols: list[str] | None = None
) -> None:
    """Row-for-row equality under stable (conv_id, turn_idx) ordering,
    plus the uniqueness invariant count(*) == count(distinct pk)
    (reference analog /root/reference/e2e-tests/src/test/scala/com/example/e2e/MultiSourceE2ETest.scala:129-131)."""
    cols = ["conv_id", "turn_idx"] + (payload_cols or ["role", "text", "tool", "ts"])
    got = (
        table_df.select(*cols)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = oracle_pdf[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    n_keys = got[["conv_id", "turn_idx"]].drop_duplicates().shape[0]
    assert n_keys == len(got), "duplicate primary keys in table"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def merged_table(spark, tmp_path, name="t", n_events=2_000):
    """A 4-bucket transcript table under ``tmp_path / name`` holding one
    merged epoch of ``n_events`` generated changes (30 conversations)."""
    tbl = LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        gen_changes(spark, n_events=n_events, n_convs=30, seed=41),
        pipeline_id="p", epoch_id=0,
    )
    return tbl
