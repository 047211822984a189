"""`cli read` / `cli changelog`: the batch-verification read surface
(time travel, stats-range predicates, parquet export) and the
incremental-diff dump, driven through the spark-submit entry point the
way the reference drives Phase-2 verification reads
(/root/reference/airflow/dags/phase2_dag.py:122-146)."""

import json

from pyspark.sql import functions as F

from dataingestion_spark.cli import main
from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA


def _table(spark, tmp_path, name="t"):
    tbl = LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    ch = gen_changes(spark, n_events=2_000, n_convs=30, seed=11)
    tbl.merge(ch.filter(F.col("lsn") < 1_000), pipeline_id="p", epoch_id=0)
    tbl.merge(ch.filter(F.col("lsn") >= 1_000), pipeline_id="p", epoch_id=1)
    cfg = DatasetConfig(
        name=name, table_path=str(tbl.root), num_buckets=4, salt_buckets=4
    )
    cfg_path = tmp_path / f"{name}.json"
    cfg.save(cfg_path)
    return tbl, str(cfg_path)


def _out_lines(capsys):
    return [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]


def test_cli_read_head_columns_and_limit(spark, tmp_path, capsys):
    tbl, cfg = _table(spark, tmp_path)
    rc = main([
        "read", "--config", cfg, "--columns", "conv_id,turn_idx,role",
        "--limit", "7",
    ])
    rows = _out_lines(capsys)
    assert rc == 0 and len(rows) == 7
    assert set(rows[0]) <= {"conv_id", "turn_idx", "role"}


def test_cli_read_time_travel_version_tag_and_asof(spark, tmp_path, capsys):
    tbl, cfg = _table(spark, tmp_path)
    v1_rows = tbl.read(version=1).count()
    tbl.tag("after-epoch-0", 1)
    v1_at = tbl.snapshot(1).committed_at

    big = 10_000
    rc = main(["read", "--config", cfg, "--version", "1", "--limit", str(big)])
    assert rc == 0 and len(_out_lines(capsys)) == v1_rows
    rc = main([
        "read", "--config", cfg, "--version", "after-epoch-0",
        "--limit", str(big),
    ])
    assert rc == 0 and len(_out_lines(capsys)) == v1_rows
    rc = main([
        "read", "--config", cfg, "--as-of", str(v1_at), "--limit", str(big),
    ])
    assert rc == 0 and len(_out_lines(capsys)) == v1_rows


def test_cli_read_range_equals_filter_and_export(spark, tmp_path, capsys):
    tbl, cfg = _table(spark, tmp_path)
    expect = tbl.read().filter(
        (F.col("turn_idx") >= 2) & (F.col("turn_idx") <= 5)
    )
    out = tmp_path / "export"
    rc = main([
        "read", "--config", cfg, "--range", "turn_idx:2:5",
        "--output", str(out),
    ])
    assert rc == 0
    summary = _out_lines(capsys)[-1]
    assert summary["rows"] == expect.count()
    got = spark.read.parquet(str(out))
    assert got.count() == expect.count()
    assert got.select(F.min("turn_idx"), F.max("turn_idx")).first() == (2, 5)
    # open bound: only LO
    rc = main([
        "read", "--config", cfg, "--range", "turn_idx:6:", "--limit", "99999",
    ])
    assert rc == 0
    rows = _out_lines(capsys)
    assert len(rows) == tbl.read().filter(F.col("turn_idx") >= 6).count()
    assert all(r["turn_idx"] >= 6 for r in rows)


def test_cli_changelog_diff_and_envelope(spark, tmp_path, capsys):
    tbl, cfg = _table(spark, tmp_path, name="cl")
    lib = tbl.read_changes(1, 2)
    rc = main([
        "changelog", "--config", cfg, "--from-version", "1",
        "--to-version", "2", "--limit", "99999",
    ])
    assert rc == 0
    rows = _out_lines(capsys)
    assert len(rows) == lib.count()
    assert {r["change_type"] for r in rows} <= {"insert", "update", "delete"}

    out = tmp_path / "env"
    rc = main([
        "changelog", "--config", cfg, "--from-version", "1", "--envelope",
        "--output", str(out),
    ])
    assert rc == 0
    env = spark.read.parquet(str(out))
    assert env.columns == ["key", "value"]
    assert env.count() == tbl.read_changes_envelope(1).count()
    one = json.loads(env.first()["value"])
    assert {"before", "after", "source", "op", "ts_ms"} <= set(one)


def test_cli_detect_formats(spark, tmp_path, capsys):
    """`cli detect`: setup-time wire-format identification over a static
    sample - parquet column shape for the structured family, text JSON
    lines for the Kafka-value family; ambiguity exits 1 with the refusal
    in the JSON (a wrong adapter is a correctness bug, not a warning)."""
    mssql_dir = str(tmp_path / "mssql_sample")
    spark.createDataFrame(
        [("0x01", "0x01", 2, 1)],
        "`__$start_lsn` string, `__$seqval` string, `__$operation` int, "
        "id long",
    ).write.parquet(mssql_dir)
    rc = main(["detect", "--source", mssql_dir])
    out = _out_lines(capsys)
    assert rc == 0 and out[-1] == {"detected": "sqlserver-cdc"}

    crdb_dir = tmp_path / "crdb_sample"
    crdb_dir.mkdir()
    (crdb_dir / "sample.jsonl").write_text(
        '{"after": {"id": 1}, "key": [1], '
        '"updated": "1700000000000000000.0000000000"}\n' * 3
    )
    rc = main(["detect", "--source", str(crdb_dir), "--source-format", "text"])
    out = _out_lines(capsys)
    assert rc == 0 and out[-1] == {"detected": "cockroach-changefeed"}

    junk_dir = tmp_path / "junk_sample"
    junk_dir.mkdir()
    (junk_dir / "sample.jsonl").write_text('{"foo": 1}\n')
    rc = main(["detect", "--source", str(junk_dir), "--source-format", "text"])
    out = _out_lines(capsys)
    assert rc == 1 and out[-1]["detected"] is None
    assert "no known format" in out[-1]["error"]


def test_parquet_rows_counts_footers_and_falls_back_to_spark(spark, tmp_path):
    """Export row counts come from local parquet footers; a plain path the
    local glob cannot see (a non-local fs.defaultFS resolves it on the
    cluster filesystem) falls back to a Spark count instead of 0."""
    from dataingestion_spark.cli import _parquet_rows

    out = str(tmp_path / "export")
    spark.range(37).write.parquet(out)
    assert _parquet_rows(spark, out) == 37

    class _Remote:
        """Stands in for a session whose default filesystem is remote."""

        def __init__(self):
            self.read = self
            self.paths = []

        def parquet(self, path):
            self.paths.append(path)
            return spark.range(5)

    remote = _Remote()
    assert _parquet_rows(remote, "/warehouse/exports/run1") == 5
    assert remote.paths == ["/warehouse/exports/run1"]
