"""Declarative batch MERGE INTO (LakeTable.merge_into - the Delta/
Iceberg MERGE user API): WHEN MATCHED UPDATE/DELETE + WHEN NOT MATCHED
INSERT over a plain row batch, compiled onto the canonical op-labeled
LWW merge. The reference only exposes the op-stream path (its Hudi
upsert consumes pre-labeled CDC events); this is the batch-correction
surface a lakehouse also needs."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle, merged_table


def _table(spark, tmp_path, n_events=3_000):
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    ch = gen_changes(spark, n_events=n_events, n_convs=40, seed=21).persist()
    tbl.merge(ch, pipeline_id="p", epoch_id=0)
    pdf = oracle.replay(ch.toPandas())
    ch.unpersist()
    return tbl, pdf


def _inserts(spark, n=5):
    rows = [
        (f"conv_new_{i}", 0, "user", f"hello {i}", None,
         pd.Timestamp("2024-01-01").to_pydatetime())
        for i in range(n)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_merge_into_update_delete_insert(spark, tmp_path):
    tbl, state = _table(spark, tmp_path)
    is3 = state.conv_id.str.endswith("3")
    src = tbl.read().filter("conv_id LIKE '%3'").select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]
    ).unionAll(_inserts(spark))

    tbl.merge_into(
        src,
        when_matched_update=True,
        when_matched_delete="role = 'tool'",
        when_not_matched_insert=True,
        update_assignments={"text": "[backfill]"},
    )

    want = state[~(is3 & (state.role == "tool"))].copy()
    hit = want.conv_id.str.endswith("3")
    want.loc[hit, "text"] = "[backfill]"
    ins = pd.DataFrame(
        [
            {
                "conv_id": f"conv_new_{i}", "turn_idx": 0, "role": "user",
                "text": f"hello {i}", "tool": None,
                "ts": pd.Timestamp("2024-01-01"),
            }
            for i in range(5)
        ]
    )
    assert_table_equals_oracle(tbl.read(), pd.concat([want, ins]))


def test_delete_wins_over_update_and_reinsert(spark, tmp_path):
    tbl, state = _table(spark, tmp_path)
    key = state.iloc[0]
    kt = (key.conv_id, int(key.turn_idx))
    src = tbl.read_keys([kt]).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]
    )
    # both matched clauses unconditionally true: DELETE must win
    tbl.merge_into(src, when_matched_update=True, when_matched_delete=True)
    assert tbl.read_keys([kt]).count() == 0

    # the tombstoned key is NOT matched anymore -> NOT MATCHED INSERT fires
    tbl.merge_into(
        src.withColumn("text", F.lit("back")),
        when_matched_update=True,
        when_not_matched_insert=True,
    )
    got = tbl.read_keys([kt]).collect()
    assert len(got) == 1 and got[0].text == "back"


def test_assignments_see_source_row_not_each_other(spark, tmp_path):
    """SET text=tool, tool=text swaps (every RHS evaluates against the
    SOURCE row - the same single-projection discipline as update_where)."""
    tbl, state = _table(spark, tmp_path)
    src = tbl.read().filter("tool IS NOT NULL").limit(10).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]
    ).persist()
    before = {
        (r.conv_id, r.turn_idx): (r.text, r.tool) for r in src.collect()
    }
    tbl.merge_into(
        src,
        when_matched_update=True,
        update_assignments={"text": F.col("tool"), "tool": F.col("text")},
    )
    keys = spark.createDataFrame(
        [(c, t) for c, t in before], "conv_id string, turn_idx int"
    )
    for r in tbl.read_keys(keys).collect():
        text0, tool0 = before[(r.conv_id, r.turn_idx)]
        assert (r.text, r.tool) == (tool0, text0)
    src.unpersist()


def test_stream_stays_source_of_truth(spark, tmp_path):
    """A later CDC event with a higher lsn supersedes the merge_into row;
    an older one cannot un-edit it (the universal LWW contract)."""
    tbl, state = _table(spark, tmp_path)
    key = state.iloc[0]
    kt = (key.conv_id, int(key.turn_idx))
    src = tbl.read_keys([kt]).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]
    )
    tbl.merge_into(
        src, when_matched_update=True,
        update_assignments={"text": "edited"},
    )
    stamped = tbl.next_lsn() - 1

    def _event(lsn, text):
        return spark.createDataFrame(
            [(key.conv_id, int(key.turn_idx), key.role, text, key.tool,
              key.ts.to_pydatetime(), "UPDATE", lsn)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, op string, lsn long",
        )

    tbl.merge(_event(stamped - 1, "stale"))  # older: loses
    assert tbl.read_keys([kt]).first().text == "edited"
    tbl.merge(_event(stamped + 100, "newer"))  # newer: wins
    assert tbl.read_keys([kt]).first().text == "newer"


def test_merge_into_fail_fast(spark, tmp_path):
    tbl, _ = _table(spark, tmp_path, n_events=500)
    src = _inserts(spark)
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        tbl.merge_into(src, when_not_matched_insert=None)
    with pytest.raises(ValueError, match="not pk-unique"):
        tbl.merge_into(src.unionAll(src), when_not_matched_insert=True)
    with pytest.raises(ValueError, match="reserved column"):
        tbl.merge_into(
            src.withColumn("op", F.lit("x")), when_not_matched_insert=True
        )
    with pytest.raises(ValueError, match="pk or unknown column"):
        tbl.merge_into(
            src, when_matched_update=True,
            update_assignments={"conv_id": "x"},
        )


def test_merge_into_assignment_to_column_absent_from_source(spark, tmp_path):
    tbl = merged_table(spark, tmp_path, name="t3")
    src = (
        tbl.read()
        .filter("tool IS NOT NULL")
        .limit(8)
        .select("conv_id", "turn_idx", "role", "text", "ts")  # no 'tool'
        .persist()
    )
    keys = [(r.conv_id, int(r.turn_idx)) for r in src.collect()]
    tbl.merge_into(
        src,
        when_matched_update=True,
        update_assignments={"tool": "forced", "text": "[t]"},
    )
    kdf = spark.createDataFrame(keys, "conv_id string, turn_idx int")
    for r in tbl.read_keys(kdf).collect():
        assert (r.tool, r.text) == ("forced", "[t]")
    src.unpersist()
