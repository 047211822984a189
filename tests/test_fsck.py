"""Integrity audit (LakeTable.verify_integrity / `cli fsck`): the
post-incident invariant check - referenced files exist, snapshot chain
sane, bucket ids in range, index specs coherent, live rows pk-unique.
Read-only by construction."""

import json
import os

from pyspark.sql import functions as F

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
    ch = gen_changes(spark, n_events=2_000, n_convs=30, seed=3)
    tbl.merge(ch.filter(F.col("lsn") < 2_000), pipeline_id="p", epoch_id=0)
    tbl.merge(ch.filter(F.col("lsn") >= 2_000), pipeline_id="p", epoch_id=1)
    return tbl


def test_fsck_healthy_and_orphan_count(spark, tmp_path):
    tbl = _table(spark, tmp_path)
    tbl.update_bloom_index()
    tbl.update_ndv_sketch(["conv_id"])
    report = tbl.verify_integrity()
    assert report["ok"] and report["errors"] == []
    assert report["checked_files"] > 0
    # the epoch-1 COW rewrite replaced epoch-0 files still referenced by
    # the retained v2 snapshot -> zero orphans yet; expiring history
    # converts them to orphans, which fsck reports (informational)
    tbl.expire_snapshots(keep_last=1)
    after = tbl.verify_integrity(check_data=False)
    assert after["ok"]
    assert after["orphans"] > 0


def test_fsck_detects_missing_file_and_cli_exit(spark, tmp_path):
    tbl = _table(spark, tmp_path, name="bad")
    victim = next(
        rel for rels in tbl.snapshot().files.values() for rel in rels
    )
    (tbl.root / victim).unlink()
    report = tbl.verify_integrity(check_data=False)
    assert not report["ok"]
    assert any("missing base file" in e for e in report["errors"])

    from dataingestion_spark.cli import main

    cfg = DatasetConfig(
        name="bad", table_path=str(tbl.root), num_buckets=4, salt_buckets=4
    )
    cfg_path = tmp_path / "bad.json"
    cfg.save(cfg_path)
    rc = main(["fsck", "--config", str(cfg_path), "--no-data"])
    assert rc == 1


def test_fsck_flags_stale_index_specs(spark, tmp_path, capsys):
    tbl = _table(spark, tmp_path, name="idx")
    tbl.update_ndv_sketch(["tool"])
    # rename_column remaps the spec atomically (test_rename.py);
    # simulate the crash-between-commit-and-remap window instead
    from dataingestion_spark.lake.ndv import NdvStore

    store = NdvStore(tbl.root)
    spec = store.spec()
    spec["cols"] = ["gone_column"]
    store.write_spec(spec)
    report = tbl.verify_integrity(check_data=False)
    assert report["ok"]  # warning, not an error
    assert any("ndv sketches track dropped" in w for w in report["warnings"])

    from dataingestion_spark.cli import main

    cfg = DatasetConfig(
        name="idx", table_path=str(tbl.root), num_buckets=4, salt_buckets=4
    )
    cfg_path = tmp_path / "idx.json"
    cfg.save(cfg_path)
    rc = main(["fsck", "--config", str(cfg_path)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"]

    # a secondary index whose column left the schema is a warning too
    # (a crash between a rename's commit and its store move leaves one)
    from dataingestion_spark.lake.shardstore import ShardStore

    tbl.update_secondary_index("tool")
    os.replace(
        ShardStore(tbl.root, "bloom-col-tool").dir,
        ShardStore(tbl.root, "bloom-col-gone_column").dir,
    )
    report = tbl.verify_integrity(check_data=False)
    assert report["ok"]
    assert (
        "secondary index tracks dropped column 'gone_column'"
        in report["warnings"]
    )

    # a pk bloom index built for another pk is an error
    from dataingestion_spark.lake.bloom import BloomIndexStore

    tbl.update_bloom_index()
    bstore = BloomIndexStore(tbl.root)
    bspec = bstore.spec()
    bspec["pk_fields"] = ["conv_id"]
    bstore.write_spec(bspec)
    report = tbl.verify_integrity(check_data=False)
    assert not report["ok"]
    assert report["errors"] == [
        "bloom index built for pk ['conv_id'] but table pk is "
        "['conv_id', 'turn_idx']"
    ]


def test_fsck_detects_duplicate_base_rows_under_mor_deltas(spark, tmp_path):
    """The pk-uniqueness data check runs on PRE-resolution base rows
    (round-4 ADVICE): with a MOR delta present, read-time LWW would make
    any post-resolution check pass by construction, masking duplicated
    base rows. Plant a duplicate base file reference and assert fsck
    still flags it."""
    tbl = _table(spark, tmp_path, "dupbase")
    # add a MOR delta so read() resolves (the masking condition)
    tbl.merge(
        gen_changes(spark, n_events=200, n_convs=30, seed=9,
                    lsn_offset=1_000_000),
        write_mode="mor",
    )
    snap = tbl.snapshot()
    assert any(snap.deltas.values())
    assert tbl.verify_integrity()["ok"]

    # corruption: reference one base file TWICE in its bucket manifest
    # (every row in it becomes a duplicate pk)
    bucket = next(b for b, fl in snap.files.items() if fl)
    files = {k: list(v) for k, v in snap.files.items()}
    files[bucket] = files[bucket] + [files[bucket][0]]
    corrupted = tbl._commit_write(
        snap, files, snap.schema, snap.schema_version, "corrupt-test",
        None, None, {}, deltas={k: list(v) for k, v in snap.deltas.items()},
    )
    assert corrupted is not None
    report = tbl.verify_integrity()
    assert not report["ok"]
    assert any("NOT pk-unique" in e for e in report["errors"])


def test_fsck_detects_mis_bucketed_base_rows(spark, tmp_path):
    """A base row stored under the wrong bucket is invisible to every
    touched-bucket merge probe; fsck must flag it."""
    tbl = _table(spark, tmp_path, "misb")
    snap = tbl.snapshot()
    b0, b1 = [b for b, fl in sorted(snap.files.items()) if fl][:2]
    files = {k: list(v) for k, v in snap.files.items()}
    # move one bucket's file under ANOTHER bucket's manifest entry
    moved = files[b0].pop(0)
    files[b1] = files[b1] + [moved]
    corrupted = tbl._commit_write(
        snap, files, snap.schema, snap.schema_version, "corrupt-test",
        None, None, {}, deltas={},
    )
    assert corrupted is not None
    report = tbl.verify_integrity()
    assert not report["ok"]
    assert any("mis-bucketed" in e for e in report["errors"])


def test_full_compact_heals_a_key_stored_in_two_buckets(spark, tmp_path):
    """The remedy fsck's mis-bucketed error names: a key whose stale copy
    sits under another bucket (what a pk-widening append left before the
    schema gate) comes out of a full compact() once, as its newest row."""
    tbl = _table(spark, tmp_path, "heal")
    old = tbl.snapshot()
    b0, b1 = [b for b, fl in sorted(old.files.items()) if fl][:2]
    key = tuple(
        tbl.read(include_system=True)
        .filter(F.col("_bucket") == int(b0))
        .select("conv_id", "turn_idx")
        .first()
    )
    upd = spark.createDataFrame(
        [("UPDATE", *key, "user", "newest", None, 10**7, 10**7, "h")],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts long, lsn long, source_file string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    tbl.merge(upd, pipeline_id="p", epoch_id=2)
    snap = tbl.snapshot()
    want = tbl.read().count()
    # list b0's superseded file (the key at its old lsn) under b1 as well
    files = {k: list(v) for k, v in snap.files.items()}
    files[b1] = files[b1] + old.files[b0]
    tbl._commit_write(
        snap, files, snap.schema, snap.schema_version, "corrupt-test",
        None, None, {}, deltas={},
    )
    assert not tbl.verify_integrity()["ok"]

    tbl.compact()
    report = tbl.verify_integrity()
    assert report["ok"], report["errors"]
    rows = tbl.read_keys([key], use_bloom=False).collect()
    assert [r["text"] for r in rows] == ["newest"]
    assert tbl.read().count() == want
