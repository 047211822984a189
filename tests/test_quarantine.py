"""Dead-letter quarantine (sources/quarantine.py): malformed change
events are rejected before the merge, recorded with a reason, and the
stream continues - the Debezium-DLQ behavior the reference pipeline
lacks (it nulls bad envelopes through, MultiSourceCDCTest.scala's happy
paths only). Covers the classifier, the split, the apply_changes wiring
(idempotent per-epoch dead-letter dir + QUARANTINE lineage row), and the
Mongo null-lsn envelope that motivated gating it at the source."""

from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.cdc_formats import parse_mongo_change_stream
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.sources.quarantine import (
    REASON_COL,
    invalid_reason,
    requeue_quarantine,
    split_invalid,
)
from dataingestion_spark.streaming.lineage import LineageLog
from dataingestion_spark.streaming.pipeline import (
    _quarantine,
    apply_changes,
    bootstrap_table,
)
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle

CHANGE_DDL = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts long, lsn long, source_file string"
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, CHANGE_DDL).withColumn(
        "ts", F.timestamp_seconds("ts")
    )


def test_classifier_reasons_and_priority(spark):
    df = _rows(
        spark,
        [
            ("INSERT", "c1", 0, "user", "ok", None, 100, 10, "f"),      # valid
            ("upsert", "c1", 1, "user", "ok", None, 100, 11, "f"),      # valid (case)
            ("INSERT", None, 0, "user", "x", None, 100, 12, "f"),       # null_pk
            ("INSERT", "c1", None, "user", "x", None, 100, 13, "f"),    # null_pk
            ("INSERT", "c1", 2, "user", "x", None, 100, None, "f"),     # null_lsn
            ("TRUNCATE", "c1", 3, "user", "x", None, 100, 14, "f"),     # bad_op
            (None, "c1", 4, "user", "x", None, 100, 15, "f"),           # bad_op
            (None, None, None, None, None, None, None, None, "f"),      # null_pk wins
        ],
    )
    got = df.withColumn(
        REASON_COL, invalid_reason(["conv_id", "turn_idx"])
    ).toPandas()[REASON_COL]
    assert list(got) == [
        None, None, "null_pk", "null_pk", "null_lsn", "bad_op", "bad_op", "null_pk"
    ]


def test_split_sides_partition_the_input(spark):
    df = _rows(
        spark,
        [
            ("INSERT", "c1", 0, "user", "ok", None, 100, 10, "f"),
            ("INSERT", None, 0, "user", "x", None, 100, 11, "f"),
            ("NOPE", "c2", 0, "user", "x", None, 100, 12, "f"),
        ],
    )
    valid, bad = split_invalid(df, ["conv_id", "turn_idx"])
    assert REASON_COL not in valid.columns and REASON_COL in bad.columns
    assert valid.count() == 1 and bad.count() == 2
    assert valid.count() + bad.count() == df.count()


def test_mongo_null_resume_token_is_quarantined(spark):
    """The adapter edge that motivates the gate: a resumeToken whose
    ordinal doesn't parse yields a NULL lsn (cdc_formats.py regexp), which
    the LWW plans cannot order - the gate rejects it as null_lsn."""
    env = spark.createDataFrame(
        [
            ("insert", "c", '{"k": 1}', '{"_id": {"$oid": "oid1"}}',
             "2024-01-01T00:00:00Z", "events.42"),
            ("insert", "c", '{"k": 2}', '{"_id": {"$oid": "oid2"}}',
             "2024-01-01T00:00:01Z", "garbage-token"),
        ],
        "operationType string, ns_coll string, fullDocument string, "
        "documentKey string, clusterTime string, resumeToken string",
    )
    canon = parse_mongo_change_stream(env, payload_fields=[("k", "int")])
    valid, bad = split_invalid(canon, ["document_id"], lsn_col="lsn")
    assert valid.count() == 1
    got = bad.toPandas()
    assert list(got[REASON_COL]) == ["null_lsn"]


def test_apply_changes_quarantine_e2e(spark, tmp_path):
    d = {k: str(tmp_path / k) for k in ("landing", "staged", "ckpt", "table",
                                        "lineage", "dlq")}
    changes = gen_changes(spark, n_events=2_000, n_convs=30, n_files=2, seed=77)
    changes = changes.persist()
    # poison a deterministic slice: every 10th event loses its lsn, every
    # 17th its op
    poisoned = (
        changes.withColumn(
            "lsn",
            F.when(F.col("lsn") % 10 == 0, F.lit(None)).otherwise(F.col("lsn")),
        )
        .withColumn(
            "op",
            F.when(F.col("lsn").isNull(), F.col("op"))  # keep single-reason rows
            .when(F.col("lsn") % 17 == 0, F.lit("GARBAGE"))
            .otherwise(F.col("op")),
        )
    )
    write_change_files(poisoned, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=poisoned.schema, lineage_path=d["lineage"],
        quarantine_dir=d["dlq"],
    )
    q.awaitTermination(240)

    pdf = poisoned.toPandas()
    bad_mask = pdf["lsn"].isna() | ~pdf["op"].isin(
        ["INSERT", "UPDATE", "UPSERT", "DELETE"]
    )
    assert bad_mask.sum() > 0, "test needs poisoned rows"
    expected = oracle.replay(pdf[~bad_mask])
    tbl = LakeTable(spark, d["table"])
    assert_table_equals_oracle(tbl.read(), expected)

    dlq = spark.read.parquet(d["dlq"]).toPandas()
    assert len(dlq) == int(bad_mask.sum())
    assert set(dlq[REASON_COL]) <= {"null_lsn", "bad_op"}
    assert (dlq["_q_pipeline"].str.startswith("apply::transcripts::")).all()

    qrows = (
        LineageLog(spark, d["lineage"]).read()
        .filter(F.col("kind") == "QUARANTINE")
        .toPandas()
    )
    assert qrows["event_count"].sum() == int(bad_mask.sum())

    # replayed epoch (same checkpoint, no new data): dead letters must not
    # duplicate - the per-epoch overwrite makes the side effect idempotent
    v = tbl.current_version()
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=poisoned.schema, quarantine_dir=d["dlq"],
    )
    q.awaitTermination(120)
    assert tbl.current_version() == v
    assert spark.read.parquet(d["dlq"]).count() == len(dlq)
    changes.unpersist()


def test_check_constraints_route_to_dlq(spark):
    """Delta-style CHECK constraints: violating non-DELETE rows go to the
    quarantine with a constraint:<expr> reason; DELETE rows are exempt
    (their payload is legitimately null); NULL predicate results violate
    (CHECK must be TRUE)."""
    df = _rows(
        spark,
        [
            ("INSERT", "c1", 0, "user", "ok", None, 100, 10, "f"),
            ("INSERT", "c1", 7, "user", "bad-turn", None, 100, 11, "f"),
            ("INSERT", "c1", 1, None, "null-role", None, 100, 12, "f"),
            ("DELETE", "c1", 9, None, None, None, 100, 13, "f"),  # exempt
        ],
    )
    valid, bad = split_invalid(
        df,
        ["conv_id", "turn_idx"],
        constraints=["turn_idx < 5", "role IS NOT NULL"],
    )
    assert valid.count() == 2  # the ok INSERT + the DELETE
    got = {r["turn_idx"]: r[REASON_COL] for r in bad.collect()}
    assert got == {7: "constraint:turn_idx < 5", 1: "constraint:role IS NOT NULL"}


def test_constraints_e2e_from_config(spark, tmp_path):
    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table", "dlq")}
    changes = gen_changes(spark, n_events=1_000, n_convs=20, n_files=1, seed=5)
    changes = changes.persist()
    write_change_files(changes, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4,
        salt_buckets=4, constraints=["length(text) < 40"],
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=changes.schema, quarantine_dir=d["dlq"],
    )
    q.awaitTermination(240)
    pdf = changes.toPandas()
    changes.unpersist()
    viol = (pdf["op"] != "DELETE") & ~(pdf["text"].str.len() < 40)
    expected = oracle.replay(pdf[~viol])
    assert viol.sum() > 0
    assert_table_equals_oracle(LakeTable(spark, d["table"]).read(), expected)
    dlq = spark.read.parquet(d["dlq"]).toPandas()
    assert len(dlq) == int(viol.sum())
    assert (dlq[REASON_COL] == "constraint:length(text) < 40").all()


def test_quarantine_runs_one_job(spark, tmp_path):
    """The dead-letter write is the split's only Spark job, with or
    without invalid rows: an Observation on the write counts them. A clean
    batch leaves no directory, not even the parents its write made."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    config = DatasetConfig(name="transcripts", table_path=str(tmp_path / "t"))
    ok = ("INSERT", "c1", 0, "user", "ok", None, 100, 10, "f")
    batches = {
        "dirty": [ok, ("INSERT", None, 1, "user", "x", None, 100, 11, "f"),
                  ("NOPE", "c2", 0, "user", "x", None, 100, 12, "f")],
        "clean": [ok],
    }
    for name, rows in batches.items():
        out = tmp_path / name / "dlq" / "epoch=0"
        before = scheduler.numTotalJobs()
        valid, n = _quarantine(_rows(spark, rows), config, "p", str(out))
        assert scheduler.numTotalJobs() - before == 1, name
        assert n == len(rows) - 1
        assert [r["turn_idx"] for r in valid.collect()] == [0]
    dlq = spark.read.parquet(str(tmp_path / "dirty" / "dlq" / "epoch=0"))
    assert sorted(r[REASON_COL] for r in dlq.collect()) == ["bad_op", "null_pk"]
    assert not (tmp_path / "clean").exists()


def test_clean_epoch_leaves_no_dead_letter_epoch(spark, tmp_path):
    """A clean epoch writes a QUARANTINE lineage row of 0 and no
    ``epoch=<n>`` directory, so requeue finds only the dirty epoch; a
    replay of the dirty epoch (its commit dropped from the checkpoint)
    rewrites the identical dead-letter set and commits nothing."""
    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table",
                                        "lineage", "dlq")}
    changes = gen_changes(spark, n_events=600, n_convs=10, n_files=2, seed=13)
    # only the second file (epoch 1) carries garbled ops
    first = min(r[0] for r in changes.select("source_file").distinct().collect())
    garbled = (F.col("source_file") != first) & (F.col("lsn") % 7 == 0)
    changes = changes.withColumn(
        "op", F.when(garbled, F.lit("GARBAGE")).otherwise(F.col("op"))
    ).persist()
    n_bad = changes.filter(garbled).count()
    assert n_bad > 0
    write_change_files(changes, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4, salt_buckets=4
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)

    def run(lineage_path=None):
        q = apply_changes(
            spark, config, d["landing"], d["ckpt"], schema=changes.schema,
            lineage_path=lineage_path, max_files_per_trigger=1,
            quarantine_dir=d["dlq"],
        )
        q.awaitTermination(240)

    run(d["lineage"])
    dlq = Path(d["dlq"])
    assert sorted(p.name for p in dlq.iterdir()) == ["epoch=1"]
    qrows = (
        LineageLog(spark, d["lineage"]).read()
        .filter(F.col("kind") == "QUARANTINE").toPandas()
    )
    assert dict(zip(qrows["epoch_id"], qrows["event_count"])) == {0: 0, 1: n_bad}

    def dead_letters():
        return sorted(map(tuple, spark.read.parquet(d["dlq"]).collect()), key=repr)

    def parts():
        return {p.name for p in (dlq / "epoch=1").glob("part-*")}

    before, written = dead_letters(), parts()
    assert len(before) == n_bad
    tbl = LakeTable(spark, d["table"])
    v = tbl.current_version()
    for name in ("1", ".1.crc"):
        (Path(d["ckpt"]) / "commits" / name).unlink(missing_ok=True)
    run()
    assert parts() != written  # the replay rewrote the epoch
    assert tbl.current_version() == v
    assert dead_letters() == before

    report = requeue_quarantine(
        tbl, d["dlq"],
        fix=lambda df: df.withColumn("op", F.lit("UPSERT")),
    )
    assert report["epochs"] == 1 and report["skipped_epochs"] == 0
    assert report["requeued"] == n_bad
    changes.unpersist()
