"""Structured Streaming pipeline tests: checkpointed resume, exactly-once
across simulated crash/replay, lineage rows (SURVEY.md §5 'exactly-once:
kill/restart mid-stream from checkpoint, re-run same epochs, assert no
dup/loss and lineage rows consistent')."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.streaming.lineage import LINEAGE_SCHEMA, LineageLog
from dataingestion_spark.streaming.pipeline import (
    apply_changes,
    bootstrap_table,
    stage_changes,
)
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _dirs(tmp_path):
    return {
        "landing": str(tmp_path / "landing"),
        "staged": str(tmp_path / "staged"),
        "ckpt1": str(tmp_path / "ckpt1"),
        "ckpt2": str(tmp_path / "ckpt2"),
        "table": str(tmp_path / "table"),
        "lineage": str(tmp_path / "lineage"),
    }


def test_streaming_apply_matches_oracle_and_resumes(spark, tmp_path):
    d = _dirs(tmp_path)
    changes = gen_changes(
        spark, n_events=4_000, n_convs=40, n_files=6, seed=31, dup_frac=0.1
    )
    changes.persist()
    files = write_change_files(changes, d["landing"])
    assert len(files) == 6

    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    schema = changes.schema

    # ---- phase 1: landing -> staged changelog (checkpointed) ----
    q = stage_changes(spark, d["landing"], d["staged"], d["ckpt1"], schema)
    q.awaitTermination(120)
    staged = spark.read.parquet(d["staged"])
    assert staged.count() == changes.count()
    assert "_meta" in staged.columns  # provenance struct

    # ---- phase 2: staged -> lake, one file per micro-batch ----
    q = apply_changes(
        spark, config, d["staged"] , d["ckpt2"],
        schema=staged.schema, lineage_path=d["lineage"], max_files_per_trigger=2,
    )
    q.awaitTermination(240)

    tbl = LakeTable(spark, d["table"])
    expected = oracle.replay(changes.toPandas())
    assert_table_equals_oracle(tbl.read(), expected)

    # lineage: per-epoch summaries with snapshot versions + offset ranges
    lineage = LineageLog(spark, d["lineage"]).read()
    summaries = lineage.filter(F.col("kind") == "EPOCH_SUMMARY").toPandas()
    assert (summaries["status"] == "SUCCESS").all()
    assert summaries["snapshot_version"].notna().all()
    file_rows = lineage.filter(F.col("kind") == "FILE").toPandas()
    assert file_rows["event_count"].sum() == changes.count()

    # ---- restart from checkpoint: no new input -> no new snapshots ----
    v_before = tbl.current_version()
    q = apply_changes(
        spark, config, d["staged"], d["ckpt2"],
        schema=staged.schema, lineage_path=d["lineage"],
    )
    q.awaitTermination(120)
    assert tbl.current_version() == v_before

    # ---- late-arriving file: picked up incrementally ----
    late = gen_changes(
        spark, n_events=500, n_convs=40, n_files=1, seed=32, lsn_offset=10_000_000
    )
    late = late.withColumn("source_file", F.lit("chunk_late"))
    late.persist()
    write_change_files(late, d["landing"])
    q = stage_changes(spark, d["landing"], d["staged"], d["ckpt1"], schema)
    q.awaitTermination(120)
    q = apply_changes(
        spark, config, d["staged"], d["ckpt2"],
        schema=staged.schema, lineage_path=d["lineage"],
    )
    q.awaitTermination(120)
    expected2 = oracle.replay(
        pd.concat([changes.toPandas(), late.toPandas()], ignore_index=True)
    )
    assert_table_equals_oracle(tbl.read(), expected2)
    changes.unpersist()
    late.unpersist()


def test_crash_replay_of_same_epoch_is_skipped(spark, tmp_path):
    """Simulate foreachBatch at-least-once: after the stream finishes,
    re-invoke the merge with the last epoch id (as a post-commit,
    pre-checkpoint crash would) - the epoch marker must skip it and lineage
    must record the skip."""
    d = _dirs(tmp_path)
    changes = gen_changes(spark, n_events=1_000, n_convs=20, n_files=2, seed=33)
    write_change_files(changes, d["landing"])
    config = DatasetConfig(name="transcripts", table_path=d["table"], num_buckets=4)
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt2"],
        schema=changes.schema, lineage_path=d["lineage"], max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    tbl = LakeTable(spark, d["table"])
    v = tbl.current_version()
    # the pipeline id is checkpoint-scoped; read it back from the snapshot
    (pipeline_id,) = tbl.snapshot().properties["pipelines"].keys()
    assert pipeline_id.startswith("apply::transcripts::")
    last_epoch = tbl.last_applied_epoch(pipeline_id)
    assert last_epoch >= 1
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # replay the exact same epoch (driver retry semantics)
    snap = tbl.merge(changes, pipeline_id=pipeline_id, epoch_id=last_epoch)
    assert snap is None
    assert tbl.current_version() == v
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_streaming_apply_partial_update_mode(spark, tmp_path):
    """End-to-end streaming partial updates: $set-style masked UPDATE
    payloads staged and applied through the real streaming path with
    config.update_mode='partial', final state equal to the reference
    oracle's dict-merge replay (demo/test_pipeline.sh:244-262). One
    availableNow drain. Each micro-batch is a COW partial merge that
    resolves its events with the table's rows in the one dict-merge, so
    the batch leads that plan: its frame lives in the micro-batch's
    cloned session, where the merge's Observations report."""
    from tests.test_partial_update import _partialize

    d = _dirs(tmp_path)
    changes = _partialize(
        gen_changes(spark, n_events=3_000, n_convs=40, max_turns=12, seed=37,
                    hash_mode="md5")
    )
    changes.persist()
    write_change_files(changes, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4,
        salt_buckets=4, update_mode="partial",
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = stage_changes(spark, d["landing"], d["staged"], d["ckpt1"], changes.schema)
    q.awaitTermination(120)
    q = apply_changes(spark, config, d["staged"], d["ckpt2"])
    q.awaitTermination(240)
    from dataingestion_spark.oracle import replay_partial

    want = replay_partial(changes.toPandas())
    changes.unpersist()
    tbl = LakeTable(spark, d["table"])
    assert_table_equals_oracle(tbl.read(), want)


def _record_two_epochs(log):
    """One SUCCESS epoch with per-file ranges and a dead-letter count,
    one marker-skipped epoch whose optional fields are NULL."""
    log.record_epoch(
        "p", 0, None, applied_events=7, snapshot_version=3, duration_ms=250,
        file_stats=[
            {"source_file": "chunk_000", "min_lsn": 2, "max_lsn": 40,
             "event_count": 5},
            {"source_file": "chunk_001", "min_lsn": 42, "max_lsn": 44,
             "event_count": 2},
        ],
        quarantined_events=1,
    )
    log.record_epoch(
        "p", 1, None, applied_events=0, snapshot_version=None, duration_ms=0,
        status="SKIPPED_DUPLICATE_EPOCH",
    )


def test_lineage_record_epoch_runs_no_job(spark, tmp_path):
    """The lineage rows are written on the driver: recording an epoch
    whose per-file ranges the merge already computed runs no Spark job."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    log = LineageLog(spark, tmp_path / "lineage")
    before = scheduler.numTotalJobs()
    _record_two_epochs(log)
    assert scheduler.numTotalJobs() - before == 0
    assert log.read().count() == 5


def test_lineage_concurrent_epochs_lose_no_row(spark, tmp_path):
    """Concurrent routes record their epochs into one lineage directory
    with no lock: each call writes its own file, so no row is lost."""
    log = LineageLog(spark, tmp_path / "lineage")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(
                    log.record_epoch, f"route::{i % 4}", i, None,
                    applied_events=i, snapshot_version=i, duration_ms=1,
                )
                for i in range(32)
            ]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    got = log.read().select("pipeline_id", "epoch_id", "applied_events").collect()
    assert sorted(map(tuple, got)) == sorted(
        (f"route::{i % 4}", i, i) for i in range(32)
    )


def test_lineage_reads_spark_and_driver_written_files_alike(spark, tmp_path):
    """A lineage directory that holds a file Spark wrote (the format of
    earlier releases) beside driver-written ones reads back through
    ``LineageLog.read`` with the same values and types in every column,
    and each file alone infers ``LINEAGE_SCHEMA``. No temp file stays."""
    path = tmp_path / "lineage"
    log = LineageLog(spark, path)
    _record_two_epochs(log)
    driver_files = sorted(path.glob("part-*.parquet"))
    assert len(driver_files) == 2
    rows = [r for f in driver_files for r in pq.read_table(f).to_pylist()]
    spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(path))

    got = log.read().withColumn("_file", F.input_file_name()).collect()
    by_origin = {}
    for r in got:
        driver = any(r["_file"].endswith(f.name) for f in driver_files)
        by_origin.setdefault(driver, []).append(
            tuple(r[c] for c in LINEAGE_SCHEMA.names)
        )
    assert sorted(by_origin[True], key=repr) == sorted(by_origin[False], key=repr)
    assert len(by_origin[True]) == 5
    for f in path.glob("part-*.parquet"):
        assert spark.read.parquet(str(f)).schema == LINEAGE_SCHEMA, f.name
    assert not [
        p.name for p in path.iterdir()
        if p.name.startswith(".") and not p.name.endswith(".crc")
    ]
