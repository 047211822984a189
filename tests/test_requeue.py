"""Dead-letter requeue (sources/quarantine.py requeue_quarantine + `cli
requeue`): the recovery half of the DLQ contract. Quarantined rows are
not lost - after the upstream bug is fixed, a corrected replay re-runs
the SAME validity gate and merges the cured subset under its own
exactly-once pipeline cursor, leaving the DLQ files untouched as the
audit record. Kafka-Connect dead-letter-reprocessing analog; the
reference pipeline has no DLQ at all (MultiSourceCDCTest.scala covers
happy paths only)."""

import json

from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.sources.quarantine import REASON_COL, requeue_quarantine
from dataingestion_spark.streaming.pipeline import apply_changes, bootstrap_table
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _poisoned_pipeline(spark, tmp_path, n_events=2_000, seed=99):
    """Run apply_changes over a stream where every INSERT with lsn%13==0
    has its op garbled (curable by a fix) and every lsn%10==0 row lost
    its lsn (not curable without outside knowledge). Returns (dirs,
    original pdf, curable mask, lost mask, table)."""
    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table", "dlq")}
    changes = gen_changes(
        spark, n_events=n_events, n_convs=40, n_files=3, seed=seed
    ).persist()
    poisoned = changes.withColumn(
        "lsn",
        F.when(F.col("lsn") % 10 == 0, F.lit(None)).otherwise(F.col("lsn")),
    ).withColumn(
        "op",
        F.when(
            F.col("lsn").isNotNull()
            & (F.col("lsn") % 13 == 0)
            & (F.col("op") == "INSERT"),
            F.lit("GARBAGE"),
        ).otherwise(F.col("op")),
    )
    write_change_files(poisoned, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=poisoned.schema, quarantine_dir=d["dlq"],
    )
    q.awaitTermination(240)

    pdf = changes.toPandas()
    changes.unpersist()
    lost = pdf["lsn"] % 10 == 0
    curable = ~lost & (pdf["lsn"] % 13 == 0) & (pdf["op"] == "INSERT")
    assert curable.sum() > 0 and lost.sum() > 0, "test needs both poison kinds"
    return d, pdf, curable, lost, LakeTable(spark, d["table"]), config


def _cure(df):
    return df.withColumn(
        "op",
        F.when(F.col("op") == "GARBAGE", F.lit("INSERT")).otherwise(F.col("op")),
    )


def test_requeue_cures_merges_and_reports(spark, tmp_path):
    d, pdf, curable, lost, tbl, _ = _poisoned_pipeline(spark, tmp_path)

    # before the fix: table state == replay of rows that passed the gate
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf[~(curable | lost)]))

    out = requeue_quarantine(
        tbl, d["dlq"], fix=_cure
    )
    assert out["requeued"] == int(curable.sum())
    # the fix cannot invent the lost lsns - those rows fail the re-run
    # gate and are counted, not merged
    assert out["still_invalid"] == {"null_lsn": int(lost.sum())}
    assert out["epochs"] >= 1 and out["skipped_epochs"] == 0

    # after the fix: table state == replay of everything except the
    # genuinely lost rows (cured INSERTs slot into LWW order by lsn even
    # though they merged after later-lsn events - the lsn guard, not
    # arrival order, decides)
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf[~lost]))

    # DLQ files are the audit record - never mutated by a requeue
    dlq = spark.read.parquet(d["dlq"])
    assert dlq.count() == int((curable | lost).sum())

    # exactly-once: a re-run (crash recovery) skips every applied epoch
    v = tbl.current_version()
    again = requeue_quarantine(
        tbl, d["dlq"], fix=_cure
    )
    assert again["epochs"] == 0 and again["requeued"] == 0
    assert again["skipped_epochs"] == out["epochs"]
    assert tbl.current_version() == v


def test_requeue_reasons_filter(spark, tmp_path):
    """reasons=['bad_op'] replays only that slice; null_lsn rows are not
    even read into the gate (no still_invalid noise)."""
    d, pdf, curable, lost, tbl, _ = _poisoned_pipeline(spark, tmp_path, seed=7)
    out = requeue_quarantine(
        tbl, d["dlq"],
        fix=_cure,
        reasons=["bad_op"],
    )
    assert out["requeued"] == int(curable.sum())
    assert out["still_invalid"] == {}
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf[~lost]))


def test_cli_requeue_set_exprs(spark, tmp_path, capsys):
    """The CLI arm: --set COL=SQL_EXPR builds the fix transform; the
    emitted JSON carries the requeue report + resulting table version."""
    from dataingestion_spark.cli import main

    d, pdf, curable, lost, tbl, config = _poisoned_pipeline(
        spark, tmp_path, seed=13
    )
    cfg_path = tmp_path / "config.json"
    config.save(cfg_path)
    rc = main(
        [
            "requeue",
            "--config", str(cfg_path),
            "--quarantine", d["dlq"],
            "--set", "op=CASE WHEN op = 'GARBAGE' THEN 'INSERT' ELSE op END",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["requeued"] == int(curable.sum())
    assert report["still_invalid"] == {"null_lsn": int(lost.sum())}
    assert report["version"] == tbl.current_version()
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf[~lost]))


def test_requeue_fresh_pipeline_id_recovers_after_bad_fix(spark, tmp_path):
    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table", "dlq")}
    changes = gen_changes(spark, n_events=1_500, n_convs=20, seed=51).persist()
    poisoned = changes.withColumn(
        "op",
        F.when(
            (F.col("lsn") % 7 == 0) & (F.col("op") == "INSERT"), F.lit("XX")
        ).otherwise(F.col("op")),
    )
    write_change_files(poisoned, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=poisoned.schema, quarantine_dir=d["dlq"],
    )
    q.awaitTermination(240)
    pdf = changes.toPandas()
    changes.unpersist()
    bad = (pdf["lsn"] % 7 == 0) & (pdf["op"] == "INSERT")
    tbl = LakeTable(spark, d["table"])

    # run 1: a WRONG fix cures nothing; epochs get marked anyway
    wrong = requeue_quarantine(
        tbl, d["dlq"], fix=lambda df: df.withColumn("text", F.lit("noop"))
    )
    assert wrong["requeued"] == 0 and wrong["still_invalid"]
    # same (default) cursor: replay skips, rows look stranded
    again = requeue_quarantine(
        tbl, d["dlq"],
        fix=lambda df: df.withColumn(
            "op", F.when(F.col("op") == "XX", F.lit("INSERT")).otherwise(F.col("op"))
        ),
    )
    assert again["epochs"] == 0 and again["skipped_epochs"] > 0

    # a FRESH pipeline id replays the immutable DLQ with the right fix
    fixed = requeue_quarantine(
        tbl, d["dlq"], pipeline_id="requeue::take2",
        fix=lambda df: df.withColumn(
            "op", F.when(F.col("op") == "XX", F.lit("INSERT")).otherwise(F.col("op"))
        ),
    )
    assert fixed["pipeline_id"] == "requeue::take2"
    assert fixed["requeued"] == int(bad.sum())
    assert_table_equals_oracle(tbl.read(), oracle.replay(pdf))
