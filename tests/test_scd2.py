"""SCD Type-2 history sync (lake/sync.py sync_scd2): every row-version a
key ever held, intervaled by source snapshot version. The load-bearing
invariant is TIME-TRAVEL EQUIVALENCE: slicing the history at any synced
source version must reproduce src.read(version=v) exactly - the history
is a queryable materialization of the source's whole snapshot chain."""

import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.lake.sync import sync_aggregate, sync_scd2
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA


def _src(spark, tmp_path, name="src"):
    return LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )


def _slice_at(hist, v):
    return hist.read().filter(
        (F.col("valid_from_lsn") <= v)
        & (F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > v))
    )


def _rows(df, cols=("conv_id", "turn_idx", "role", "text", "tool", "ts")):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def test_scd2_time_travel_equivalence_three_epochs(spark, tmp_path):
    src = _src(spark, tmp_path)
    ch = gen_changes(spark, n_events=3_000, n_convs=40, seed=7)
    hist_path = str(tmp_path / "hist")
    sync_points = []
    for epoch, (lo, hi) in enumerate([(0, 1_000), (1_000, 2_000), (2_000, 3_100)]):
        src.merge(
            ch.filter((F.col("lsn") >= lo * 2) & (F.col("lsn") < hi * 2)),
            pipeline_id="p", epoch_id=epoch,
        )
        snap = sync_scd2(src, hist_path)
        assert snap is not None
        sync_points.append(src.current_version())
    hist = LakeTable(spark, hist_path)

    # slicing the history at every synced version == time travel
    for v in sync_points:
        assert _rows(_slice_at(hist, v)) == _rows(src.read(version=v))

    # current slice == is_current flag == head state
    cur = hist.read().filter(F.col("is_current"))
    assert _rows(cur) == _rows(src.read())
    assert cur.filter(F.col("valid_to_lsn").isNotNull()).count() == 0

    # per key: at most one current row, closed intervals well-formed
    bad = (
        hist.read()
        .groupBy("conv_id", "turn_idx")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_cur"))
        .filter(F.col("n_cur") > 1)
    )
    assert bad.count() == 0
    assert (
        hist.read()
        .filter(~F.col("is_current"))
        .filter(
            F.col("valid_to_lsn").isNull()
            | (F.col("valid_to_lsn") <= F.col("valid_from_lsn"))
        )
        .count()
        == 0
    )


def test_scd2_idempotent_and_incremental(spark, tmp_path):
    src = _src(spark, tmp_path)
    ch = gen_changes(spark, n_events=1_000, n_convs=20, seed=5)
    src.merge(ch, pipeline_id="p", epoch_id=0)
    hist_path = str(tmp_path / "hist")
    assert sync_scd2(src, hist_path) is not None
    # nothing new committed -> no-op, version unchanged
    hist = LakeTable(spark, hist_path)
    v = hist.current_version()
    assert sync_scd2(src, hist_path) is None
    assert hist.current_version() == v


def test_scd2_delete_then_reinsert_keeps_both_versions(spark, tmp_path):
    src = _src(spark, tmp_path)

    def batch(rows, lsn0):
        return spark.createDataFrame(
            [
                (op, cid, ti, role, text, None, None, lsn0 + i, "f")
                for i, (op, cid, ti, role, text) in enumerate(rows)
            ],
            "op string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp, lsn long, "
            "source_file string",
        )

    src.merge(
        batch([("INSERT", "c1", 0, "user", "v1")], 0),
        pipeline_id="p", epoch_id=0,
    )
    hist_path = str(tmp_path / "hist")
    sync_scd2(src, hist_path)
    v_seed = src.current_version()
    src.merge(
        batch([("DELETE", "c1", 0, None, None)], 10),
        pipeline_id="p", epoch_id=1,
    )
    sync_scd2(src, hist_path)
    v_del = src.current_version()
    src.merge(
        batch([("INSERT", "c1", 0, "user", "v2")], 20),
        pipeline_id="p", epoch_id=2,
    )
    sync_scd2(src, hist_path)
    v_re = src.current_version()

    hist = LakeTable(spark, hist_path)
    rows = {
        (r["valid_from_lsn"], r["valid_to_lsn"], r["is_current"], r["text"])
        for r in hist.read().collect()
    }
    assert rows == {
        (v_seed, v_del, False, "v1"),   # closed by the delete
        (v_re, None, True, "v2"),       # reopened by the re-insert
    }
    # the delete left a gap: slicing inside it shows no row
    assert _slice_at(hist, v_del).count() == 0


def test_scd2_cli_applied_then_noop(spark, tmp_path, capsys):
    import json

    from dataingestion_spark.cli import main

    src = _src(spark, tmp_path)
    ch = gen_changes(spark, n_events=800, n_convs=15, seed=9)
    src.merge(ch, pipeline_id="p", epoch_id=0)
    out = str(tmp_path / "hist")
    rc = main(["scd2", "--src-table", str(src.root), "--out", out])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and first["applied"]
    rc = main(["scd2", "--src-table", str(src.root), "--out", out])
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and not second["applied"]
    assert second["history_version"] == first["history_version"]
    hist = LakeTable(spark, out)
    assert _rows(hist.read().filter(F.col("is_current"))) == _rows(src.read())


def test_streaming_pipeline_maintains_scd2_history(spark, tmp_path):
    """scd2_history in the dataset config: the history table updates
    after every applied micro-batch (streaming materialized history) and
    survives a checkpoint replay untouched; every epoch's committed
    state stays sliceable by source version."""
    from dataingestion_spark.config import DatasetConfig
    from dataingestion_spark.sources.datagen import write_change_files
    from dataingestion_spark.streaming.pipeline import (
        apply_changes,
        bootstrap_table,
    )

    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "table", "hist")}
    changes = gen_changes(spark, n_events=2_000, n_convs=25, n_files=3, seed=9)
    changes = changes.persist()
    write_change_files(changes, d["landing"])
    config = DatasetConfig(
        name="transcripts", table_path=d["table"], num_buckets=4,
        salt_buckets=4, scd2_history=d["hist"],
    )
    bootstrap_table(spark, config, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, config, d["landing"], d["ckpt"],
        schema=changes.schema, max_files_per_trigger=1,  # several epochs
    )
    q.awaitTermination(240)
    changes.unpersist()

    src = LakeTable(spark, d["table"])
    hist = LakeTable(spark, d["hist"])
    # synced after every epoch -> every retained version is sliceable
    for v in range(2, src.current_version() + 1):
        assert _rows(_slice_at(hist, v)) == _rows(src.read(version=v))
    assert _rows(hist.read().filter(F.col("is_current"))) == _rows(src.read())
    # checkpoint replay: neither table nor history advances
    v_tbl, v_hist = src.current_version(), hist.current_version()
    q = apply_changes(spark, config, d["landing"], d["ckpt"], schema=None)
    q.awaitTermination(120)
    assert src.current_version() == v_tbl
    assert hist.current_version() == v_hist


def test_scd2_rejects_mismatched_destination(spark, tmp_path):
    src = _src(spark, tmp_path)
    ch = gen_changes(spark, n_events=500, n_convs=10, seed=3)
    src.merge(ch, pipeline_id="p", epoch_id=0)
    other = LakeTable.create(
        spark, str(tmp_path / "other"), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn"],
        num_buckets=4,
    )
    with pytest.raises(ValueError, match="not the SCD2 history"):
        sync_scd2(src, str(tmp_path / "other"))


def test_scd2_retention_drops_only_closed_versions_before_cutoff(spark, tmp_path):
    """apply_retention on valid_to_lsn ages out closed row-versions whose
    interval ended before the cutoff; open (is_current, NULL valid_to_lsn)
    rows never compare below a cutoff, so they all survive."""
    src = _src(spark, tmp_path)
    ch = gen_changes(spark, n_events=3_000, n_convs=40, seed=7)
    hist_path = str(tmp_path / "hist")
    for epoch, (lo, hi) in enumerate([(0, 1_000), (1_000, 2_000), (2_000, 3_100)]):
        src.merge(
            ch.filter((F.col("lsn") >= lo * 2) & (F.col("lsn") < hi * 2)),
            pipeline_id="p", epoch_id=epoch,
        )
        sync_scd2(src, hist_path, num_buckets=4)
    hist = LakeTable(spark, hist_path)
    cutoff = src.current_version()  # the last sync's closures stay
    key = ("conv_id", "turn_idx", "valid_from_lsn")
    before = hist.read()
    aged = _rows(before.filter(F.col("valid_to_lsn") < cutoff), key)
    kept = _rows(before.filter(~(F.col("valid_to_lsn") < cutoff)
                               | F.col("valid_to_lsn").isNull()), key)
    current = _rows(before.filter(F.col("is_current")), key)
    assert aged and current
    # closed versions at the cutoff itself are kept
    assert before.filter(F.col("valid_to_lsn") == cutoff).count() > 0

    assert hist.apply_retention("valid_to_lsn", cutoff) is not None
    after = hist.read()
    assert _rows(after, key) == kept
    assert _rows(after.filter(F.col("is_current")), key) == current
    assert after.filter(F.col("valid_to_lsn") < cutoff).count() == 0
    fsck = hist.verify_integrity()
    assert fsck["ok"], fsck["errors"]


def test_scd2_follows_nonbreaking_source_evolution(spark, tmp_path):
    """A source that gains nullable columns (schema v2 adds tool_meta and
    latency_ms) keeps its history: the next sync evolves the history,
    row-versions closed by it read NULL in the new columns and new opens
    carry them. An aggregate view still refuses a spec change (a new sum
    is not a source column). A source rename refuses until the history
    gets the same rename_column, then the sync continues."""
    src = _src(spark, tmp_path)
    hist_path, view_path = str(tmp_path / "hist"), str(tmp_path / "view")
    src.merge(gen_changes(spark, n_events=1_000, n_convs=20, seed=5),
              pipeline_id="p", epoch_id=0)
    sync_scd2(src, hist_path)
    sync_aggregate(src, view_path, ["conv_id"], sums=["turn_idx"])
    src.merge(
        gen_changes(spark, n_events=1_000, n_convs=20, seed=6,
                    schema_version=2, lsn_offset=10**6),
        pipeline_id="p", epoch_id=1,
    )
    assert {"tool_meta", "latency_ms"} <= set(src.snapshot().schema.names)
    assert sync_scd2(src, hist_path) is not None
    hist = LakeTable(spark, hist_path)
    full = hist.read()
    meta = F.col("tool_meta").isNotNull()
    assert full.filter(~F.col("is_current") & meta).count() == 0
    assert full.filter(F.col("is_current") & meta).count() > 0
    cols = ("conv_id", "turn_idx", "role", "text", "tool", "ts",
            "tool_meta", "latency_ms")
    assert _rows(full.filter(F.col("is_current")), cols) == _rows(src.read(), cols)

    assert sync_aggregate(src, view_path, ["conv_id"], sums=["turn_idx"])
    with pytest.raises(ValueError, match="not the aggregate view"):
        sync_aggregate(src, view_path, ["conv_id"],
                       sums=["turn_idx", "latency_ms"])

    src.rename_column("tool", "tool_name")
    with pytest.raises(ValueError, match="rename_column"):
        sync_scd2(src, hist_path)
    hist.rename_column("tool", "tool_name")
    src.merge(
        gen_changes(spark, n_events=500, n_convs=20, seed=7,
                    schema_version=2, lsn_offset=2 * 10**6)
        .withColumnRenamed("tool", "tool_name"),
        pipeline_id="p", epoch_id=2,
    )
    assert sync_scd2(src, hist_path) is not None
    cols = tuple("tool_name" if c == "tool" else c for c in cols)
    cur = hist.read().filter(F.col("is_current"))
    assert _rows(cur, cols) == _rows(src.read(), cols)
