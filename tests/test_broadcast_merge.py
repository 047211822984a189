"""COW broadcast split (merge plan ``cow-broadcast``): one broadcast of
the batch's pk tuples splits the touched buckets' rows, so only the rows
the batch hits are exchanged - the single-box analog of Iceberg's
storage-partitioned join (SCALE.md "The COW table-side shuffle is
eliminable").

Pins, in order:
- plan shape of a real merge: one key broadcast, reused by the second
  join; one hash exchange (batch plus hits); the rest go from the scan
  to the write with no exchange;
- NULL pk fields: both arms update such a key in place;
- result equality: broadcast plan == oracle for a generated stream,
  epoch by epoch;
- fallback gating: hot keys and MOR deltas under touched buckets route
  to the shuffle plans (and still match the oracle);
- plan choice from row counts alone: every eligible epoch takes the
  broadcast arm, and no merge leaves timing state in the properties;
- a foreachBatch frame still records its batch keys on this arm.
"""

from __future__ import annotations

import datetime
import itertools
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _mk(spark, path, **kw):
    return LakeTable.create(
        spark, str(path), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        **kw,
    )


def _tree(plan: str) -> list[tuple[int, str]]:
    """(column where the node starts, node text) for each line of a
    "simple" physical plan, whole-stage-codegen markers stripped."""
    out = []
    for line in plan.split("== Physical Plan ==")[1].strip().splitlines():
        prefix = re.match(r"[ :+-]*", line).group()
        out.append((len(prefix), re.sub(r"^\*\(\d+\) ", "", line[len(prefix):])))
    return out


def test_broadcast_arm_plan_splits_table_side(spark, tmp_path, monkeypatch):
    """The plan a real broadcast-arm merge hands to the file writer: the
    batch keys are broadcast ONCE (the second join reuses the exchange),
    the batch and the table rows it hits share the one hash exchange of
    the fold, and the table rows it misses reach the write through the
    anti join with no exchange at all."""
    tbl = _mk(spark, tmp_path / "t", num_buckets=4)
    tbl.merge(gen_changes(spark, n_events=4000, n_convs=80, seed=31),
              hot_key_threshold=1.1)
    plans = []
    write = LakeTable._write_data_files

    def spy(self, df, *args, **kw):
        plans.append(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        ))
        return write(self, df, *args, **kw)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)
    s = tbl.merge(
        gen_changes(spark, n_events=60, n_convs=80, seed=32,
                    lsn_offset=10_000_000),
        hot_key_threshold=1.1,
    )
    assert s.summary["merge_plan"] == "cow-broadcast"
    assert len(plans) == 1
    tree = _tree(plans[0])
    names = [text.split(" ")[0] for _, text in tree]
    assert names.count("BroadcastExchange") == 1, plans[0]
    assert names.count("ReusedExchange") == 1, plans[0]
    assert names.count("Exchange") == 1, plans[0]
    assert sum(t.startswith("Exchange hashpartitioning") for _, t in tree) == 1
    anti = next(
        i for i, (_, t) in enumerate(tree)
        if t.startswith("BroadcastHashJoin") and "LeftAnti" in t
    )
    col = tree[anti][0]
    below = list(itertools.takewhile(lambda n: n[0] > col, tree[anti + 1:]))
    above = []
    for c, t in reversed(tree[:anti]):
        if c < col:
            above.append(t)
            col = c
    assert any(t.startswith("FileScan parquet") for _, t in below), plans[0]
    branch = above + [t for _, t in below]
    assert not [t for t in branch if t.startswith("Exchange")], plans[0]


def test_null_pk_field_updates_in_place_on_both_arms(spark, tmp_path):
    """A key with a NULL pk field is one key to every arm: an UPDATE of
    (c, NULL) replaces the stored row on the broadcast arm as on the
    union arm (whose fold groups NULL with NULL) - never a second row."""
    base = gen_changes(spark, n_events=400, n_convs=20, seed=9)

    def event(op, text, lsn):
        row = (op, "c_null", None, "user", text, None,
               datetime.datetime(2024, 1, 1), lsn, "f")
        return spark.createDataFrame([row], base.schema)

    for name, configure, want in (
        ("bc", _force_broadcast, "cow-broadcast"),
        ("union", _union_only, "cow-union"),
    ):
        t = _mk(spark, tmp_path / name, num_buckets=4)
        configure(t)
        t.merge(base.unionByName(event("INSERT", "a", 10**6)),
                hot_key_threshold=1.1)
        s = t.merge(event("UPDATE", "b", 10**6 + 1), hot_key_threshold=1.1)
        assert s.summary["merge_plan"] == want
        rows = t.read().filter(F.col("conv_id") == "c_null").collect()
        assert [r["text"] for r in rows] == ["b"], (name, rows)


def _replay_equal(spark, tmp_path, name, configure, want_plan=None):
    """Merge the same 3-epoch stream through a configured table; assert
    equality against the replay oracle after every epoch."""
    tbl = _mk(spark, tmp_path / name, num_buckets=4)
    configure(tbl)
    changes = gen_changes(spark, n_events=3000, n_convs=60, seed=11, n_files=3)
    pdf = changes.toPandas()
    files = sorted(pdf["source_file"].unique())
    seen = []
    for e, fname in enumerate(files):
        batch = changes.filter(F.col("source_file") == fname)
        # threshold > 1: the zipf-skewed toy streams trip hot-key
        # salting at the default 5% and would fall back to the shuffle
        # plans; hotness is fallback-tested separately
        snap = tbl.merge(
            batch, pipeline_id="p", epoch_id=e, hot_key_threshold=1.1
        )
        if want_plan is not None:
            assert snap.summary["merge_plan"] == want_plan
        seen.append(fname)
        expect = oracle.replay(pdf[pdf["source_file"].isin(seen)])
        assert_table_equals_oracle(tbl.read(), expect)
    return tbl


def _force_broadcast(t):
    # ratio 0 makes every epoch eligible, so every epoch takes the
    # broadcast arm: the plan follows the counted gate alone
    t.BROADCAST_TABLE_BATCH_RATIO = 0.0


def _union_only(t):
    t.BROADCAST_TABLE_BATCH_RATIO = float("inf")


def test_broadcast_merge_equals_oracle(spark, tmp_path):
    # every epoch must report the cow-broadcast plan AND match the
    # replay oracle; the merges write no property but their epoch
    # markers (no measured-rate state a later epoch could plan from)
    tbl = _replay_equal(spark, tmp_path, "bc", _force_broadcast,
                        want_plan="cow-broadcast")
    first, *rest = tbl.history()
    for s in rest:
        assert set(s.properties) == set(first.properties) | {"pipelines"}


def test_fallbacks_still_match_oracle(spark, tmp_path):
    """Ineligible epochs (hot keys via threshold 0, MOR deltas under the
    touched buckets) take the shuffle plans and stay oracle-equal."""
    # hot keys: threshold 0 makes every key hot -> salted shuffle plan
    tbl = _mk(spark, tmp_path / "hot", num_buckets=4)
    changes = gen_changes(spark, n_events=1500, n_convs=20, seed=13)
    tbl.merge(changes, hot_key_threshold=1e-9, hot_key_min_rows=0,
              salt_buckets=4)
    assert_table_equals_oracle(tbl.read(), oracle.replay(changes.toPandas()))

    # MOR deltas under touched buckets: COW epoch after a MOR epoch
    tbl2 = _mk(spark, tmp_path / "mor", num_buckets=4)
    c1 = gen_changes(spark, n_events=1000, n_convs=20, seed=14, n_files=2)
    pdf = c1.toPandas()
    f0, f1 = sorted(pdf["source_file"].unique())[:2]
    tbl2.merge(c1.filter(F.col("source_file") == f0), write_mode="mor")
    assert any(tbl2.snapshot().deltas.values())
    tbl2.merge(c1.filter(F.col("source_file") == f1))  # cow over deltas
    assert_table_equals_oracle(
        tbl2.read(), oracle.replay(pdf[pdf["source_file"].isin([f0, f1])])
    )


def test_applied_counts_match_shuffle_plan(spark, tmp_path):
    """`applied_events` (keys whose winner came from this batch) agrees
    between the broadcast arm and the small-epoch shuffle plan."""
    changes = gen_changes(spark, n_events=2000, n_convs=30, seed=21, n_files=2)
    pdf = changes.toPandas()
    f0, f1 = sorted(pdf["source_file"].unique())[:2]

    def run(path, enabled):
        t = _mk(spark, path, num_buckets=4)
        (_force_broadcast if enabled else _union_only)(t)
        t.merge(changes.filter(F.col("source_file") == f0),
                hot_key_threshold=1.1)
        s = t.merge(changes.filter(F.col("source_file") == f1),
                    hot_key_threshold=1.1)
        if enabled:
            assert s.summary["merge_plan"] == "cow-broadcast"
        return s.summary["applied_events"]

    assert run(tmp_path / "on", True) == run(tmp_path / "off", False)


def test_ratio_gate_prefers_shuffle_until_table_dwarfs_batch(spark, tmp_path):
    """Default gating: a from-scratch load (table smaller than 4x the
    batch) takes the shuffle plan; a small epoch against a grown table
    takes the broadcast plan - both via exact sidecar row counts."""
    tbl = _mk(spark, tmp_path / "gate", num_buckets=4)
    big = gen_changes(spark, n_events=4000, n_convs=80, seed=31)
    s1 = tbl.merge(big, hot_key_threshold=1.1)
    assert s1.summary["merge_plan"] == "cow-union"  # ratio 0 < 4

    small = gen_changes(
        spark, n_events=60, n_convs=80, seed=32, lsn_offset=10_000_000
    )
    s2 = tbl.merge(small, hot_key_threshold=1.1)
    assert s2.summary["merge_plan"] == "cow-broadcast"
    pdf = pd.concat([big.toPandas(), small.toPandas()])
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf))


def test_foreach_batch_frame_records_keys_on_broadcast_arm(spark, tmp_path):
    """A foreachBatch frame lives in a clone of the table's session, while
    the broadcast arm scans the table in the table's own. The arm still
    records the batch's distinct keys: the batch-key Observation completes
    with the write instead of blocking the commit forever."""
    tbl = _mk(spark, tmp_path / "t", num_buckets=4)
    tbl.merge(gen_changes(spark, n_events=2000, n_convs=40, seed=7))
    batch = gen_changes(spark, n_events=100, n_convs=40, seed=8).withColumn(
        "lsn", F.col("lsn") + 10**6
    )
    batch.write.parquet(str(tmp_path / "land"))
    snaps = []
    q = (
        spark.readStream.schema(batch.schema).parquet(str(tmp_path / "land"))
        .writeStream.foreachBatch(
            lambda df, e: snaps.append(tbl.merge(df, pipeline_id="s", epoch_id=e))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "foreachBatch merge did not finish"
    finally:
        q.stop()
    assert [s.summary["merge_plan"] for s in snaps] == ["cow-broadcast"]
    assert snaps[0].summary["changed_keys"] == (
        batch.select("conv_id", "turn_idx").distinct().count()
    )
