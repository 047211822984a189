"""COW broadcast-probe merge (round-4 verdict item #2): the table side
of a COW merge is never exchanged - the single-box analog of Iceberg's
storage-partitioned join (SCALE.md "COW join shuffles the table side").

Pins, in order:
- plan shape: scan -> BroadcastHashJoin with ZERO shuffle exchange on
  the table side;
- result equality: broadcast plan == shuffle plans for a generated
  stream, epoch by epoch, including a forced multi-group run whose
  per-group broadcast budget splits the touched buckets;
- fallback gating: hot keys, MOR deltas under touched buckets, and an
  over-budget bucket all route to the shuffle plans (and still match
  the oracle);
- plan choice from row counts alone: every eligible epoch takes the
  broadcast arm, and no merge leaves timing state in the properties.
"""

from __future__ import annotations

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


def test_update_probe_has_no_table_side_exchange(spark, tmp_path):
    """The update probe's physical plan: parquet scan of the touched
    buckets feeding a BroadcastHashJoin directly - no Exchange
    hashpartitioning anywhere (the winners here are a local relation, so
    ANY shuffle exchange in the plan would be a table-side one)."""
    from dataingestion_spark.lake.table import (
        BUCKET_COL, DELETED_COL, LSN_COL,
    )

    tbl = _mk(spark, tmp_path / "t", num_buckets=4)
    tbl.merge(gen_changes(spark, n_events=2000, n_convs=40, seed=7))
    snap = tbl.snapshot()
    pk = ["conv_id", "turn_idx"]
    payload = [f.name for f in snap.schema.fields if f.name not in pk]

    # winners stand-in: a LOCAL relation, so the only possible shuffle
    # in the probe plan is a table-side one
    wrows = [
        ("c1", 1, "user", "x", None, None, 5, False, 0),
    ]
    w = spark.createDataFrame(
        wrows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, _lsn long, _deleted boolean, _bucket int",
    )
    s_g = w.select(
        *pk,
        *[F.col(c).alias(f"_s_{c}") for c in payload],
        F.col(LSN_COL).alias("_s_lsn"),
        F.col(DELETED_COL).alias("_s_deleted"),
        F.col(BUCKET_COL).alias("_s_bucket"),
    )
    cur = tbl._read_files(snap, list(range(4)), snap.schema)
    source_wins = F.col("_s_bucket").isNotNull() & (
        F.coalesce(F.col("_s_lsn"), F.lit(-1))
        >= F.coalesce(F.col(LSN_COL), F.lit(-1))
    )
    updated = cur.join(F.broadcast(s_g), on=pk, how="left").select(
        *pk,
        *[
            F.when(source_wins, F.col(f"_s_{c}")).otherwise(F.col(c)).alias(c)
            for c in payload
        ],
        F.when(source_wins, F.col("_s_lsn")).otherwise(F.col(LSN_COL)).alias(LSN_COL),
    )
    plan = _plan(updated)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        "table side of the COW broadcast merge must never shuffle"
    )
    assert "SortMergeJoin" not in plan
    # presence probe: pk-pruned scan, semi join, still no table shuffle
    present = cur.select(*pk).join(
        F.broadcast(w.select(*pk)), on=pk, how="leftsemi"
    )
    pplan = _plan(present)
    assert "Exchange hashpartitioning" not in pplan
    assert "ReadSchema" in pplan and "text" not in pplan.split("ReadSchema")[1].split("\n")[0], (
        "presence probe must prune the scan to the pk columns"
    )


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


def test_multi_group_chunking_equals_single_group(spark, tmp_path):
    """A broadcast budget so small every bucket lands in its own group:
    the chunked rewrite must produce the same state as one group and as
    the shuffle plans."""

    def tiny_budget(t):
        # per-group budget just above the largest single-bucket slice:
        # eligibility holds, but buckets split across multiple groups
        t.BROADCAST_GROUP_EVENTS = 600
        _force_broadcast(t)

    a = _replay_equal(spark, tmp_path, "grp", tiny_budget,
                      want_plan="cow-broadcast")
    b = _replay_equal(spark, tmp_path, "ref", _union_only,
                      want_plan="cow-union")
    pa = a.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pb = b.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa[sorted(pa.columns)], pb[sorted(pb.columns)], check_dtype=False)


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
