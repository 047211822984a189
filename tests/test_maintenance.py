"""Snapshot expiry + orphan-file vacuum (the maintenance pass the commit
protocol's docstring promises: files of failed/expired commits are
unreferenced and reclaimable off the ingest path — Iceberg's
expire_snapshots / remove_orphan_files pattern)."""

import json

import pytest

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA


def _make_table(spark, path, epochs=4, mode="cow"):
    tbl = LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    for e in range(epochs):
        batch = gen_changes(
            spark, n_events=400, n_convs=50, seed=70 + e,
            lsn_offset=e * 1000, n_files=1,
        )
        tbl.merge(batch, pipeline_id="p", epoch_id=e, write_mode=mode)
    return tbl


def test_expire_keeps_newest_and_current_reads_survive(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t")
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    all_versions = [s.version for s in tbl.history()]
    expired = tbl.expire_snapshots(keep_last=2)
    assert expired == all_versions[:-2]
    kept = [s.version for s in tbl.history()]
    assert kept == all_versions[-2:]
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))


def test_vacuum_reclaims_cow_rewrites_and_preserves_reads(spark, tmp_path):
    # COW: every epoch rewrites touched buckets, so expired snapshots
    # strand their old base files — vacuum must reclaim exactly those
    tbl = _make_table(spark, tmp_path / "t", epochs=4, mode="cow")
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    n_parquet_before = len(list(tbl.root.glob("data/*/*/*.parquet")))
    tbl.expire_snapshots(keep_last=1)
    removed = tbl.vacuum(older_than_s=0.0)
    assert removed["data"], "expired COW rewrites should strand data files"
    n_parquet_after = len(list(tbl.root.glob("data/*/*/*.parquet")))
    assert n_parquet_after == n_parquet_before - len(removed["data"])
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    # a second vacuum finds nothing (idempotent)
    again = tbl.vacuum(older_than_s=0.0)
    assert again["data"] == [] and again["manifests"] == []


def test_vacuum_grace_window_protects_fresh_files(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t", epochs=3)
    tbl.expire_snapshots(keep_last=1)
    # everything just written is younger than the grace window
    removed = tbl.vacuum(older_than_s=3600.0)
    assert removed["data"] == [] and removed["manifests"] == []


def test_vacuum_dry_run_removes_nothing(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t", epochs=3)
    tbl.expire_snapshots(keep_last=1)
    preview = tbl.vacuum(older_than_s=0.0, dry_run=True)
    assert preview["data"]
    for rel in preview["data"]:
        assert (tbl.root / rel).exists()
    real = tbl.vacuum(older_than_s=0.0)
    assert sorted(real["data"]) == sorted(preview["data"])


def test_vacuum_spares_chunk_files_of_live_snapshots(
    spark, tmp_path, monkeypatch
):
    # chunked manifests: sealed chunk files referenced only through a
    # manifest's "chunks" list must survive vacuum
    monkeypatch.setattr(LakeTable, "MANIFEST_CHUNK_ENTRIES", 3)
    tbl = _make_table(spark, tmp_path / "t", epochs=6, mode="mor")
    snap = tbl.snapshot()
    chunked = [
        b
        for b in snap.manifest_refs
        if json.loads((tbl.root / snap.manifest_refs[b]).read_text()).get(
            "chunks"
        )
    ]
    assert chunked, "MOR stream should have sealed chunks"
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    tbl.expire_snapshots(keep_last=1)
    tbl.vacuum(older_than_s=0.0)
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))


def test_expire_then_time_travel_to_expired_version_fails(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t", epochs=3)
    old_v = tbl.history()[0].version
    # drop the handle's cache so the read must go to disk
    tbl2 = LakeTable(spark, tbl.root)
    tbl2.expire_snapshots(keep_last=1)
    try:
        tbl2.snapshot(old_v)
        raise AssertionError("expired version should not resolve")
    except FileNotFoundError:
        pass


def test_expire_dry_run_deletes_nothing(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t", epochs=3)
    all_versions = [s.version for s in tbl.history()]
    would = tbl.expire_snapshots(keep_last=1, dry_run=True)
    assert would == all_versions[:-1]
    assert [s.version for s in tbl.history()] == all_versions


def test_compact_clusters_rows_by_pk(spark, tmp_table_dir):
    """cluster=True (default) sorts rows by pk inside each rewritten file
    so parquet row groups carry tight key ranges."""
    import pyarrow.parquet as pq

    tbl = _make_table(spark, tmp_table_dir, epochs=3)
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    snap = tbl.compact()
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(before, after, check_dtype=False)
    # every compacted file is pk-sorted
    checked = 0
    for fl in snap.files.values():
        for rel in fl:
            t = pq.read_table(str(tbl.root / rel), columns=["conv_id", "turn_idx"]).to_pandas()
            if len(t) > 1:
                s = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
                pd.testing.assert_frame_equal(t.reset_index(drop=True), s)
                checked += 1
    assert checked > 0


def test_tags_pin_versions_and_survive_expiry(spark, tmp_path):
    import pandas as pd
    import pytest

    tbl = _make_table(spark, tmp_path / "t", epochs=4)
    versions = [s.version for s in tbl.history()]
    release_v = versions[1]
    state_at_release = (
        tbl.read(version=release_v)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    tbl.tag("release-1", release_v)
    assert tbl.tags() == {"release-1": release_v}
    # read by name == read by number
    by_name = (
        tbl.read(version="release-1")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(by_name, state_at_release)
    # expiry spares the tagged version (and always the newest)
    expired = tbl.expire_snapshots(keep_last=1)
    assert release_v not in expired
    pd.testing.assert_frame_equal(
        tbl.read(version="release-1")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True),
        state_at_release,
    )
    # dropping the tag releases it to the next expiry pass
    tbl.drop_tag("release-1")
    assert release_v in tbl.expire_snapshots(keep_last=1)
    with pytest.raises(KeyError, match="unknown tag"):
        tbl.read(version="release-1")
    # tagging an unretained version fails loudly
    with pytest.raises(FileNotFoundError, match="not retained"):
        tbl.tag("bad", versions[0])


def test_compact_cluster_cols_sorts_rows_by_time(spark, tmp_path):
    import pyarrow.parquet as pq
    import pytest

    tbl = _make_table(spark, tmp_path / "t")
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    tbl.compact(cluster_cols=["ts"])
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    # inside every rewritten file, rows are ts-ordered (what makes parquet
    # row-group min/max pushdown effective for time-range predicates)
    snap = tbl.snapshot()
    for fl in snap.files.values():
        for rel in fl:
            t = pq.read_table(str(tbl.root / rel), columns=["ts"])
            vals = t.column("ts").to_pylist()
            assert vals == sorted(vals), f"{rel} not ts-clustered"
    with pytest.raises(ValueError, match="not in schema"):
        tbl.compact(cluster_cols=["nope"])


def test_read_changes_accepts_tag_names(spark, tmp_path):
    tbl = _make_table(spark, tmp_path / "t", epochs=2)
    first_v = [s.version for s in tbl.history()][1]
    tbl.tag("after-epoch-0", first_v)
    by_num = tbl.read_changes(first_v).toPandas()
    by_tag = tbl.read_changes("after-epoch-0").toPandas()
    cols = list(by_num.columns)
    assert by_num.sort_values(cols).reset_index(drop=True).equals(
        by_tag.sort_values(cols).reset_index(drop=True)
    )


def test_rollback_restores_state_and_reopens_epochs(spark, tmp_path):
    """rollback points the table at an earlier snapshot as a NEW commit:
    state and schema come back, history stays time-travelable, and the
    target's epoch markers return with it so a resumed stream re-applies
    the rolled-back epochs instead of skipping them forever."""
    import pandas as pd

    from dataingestion_spark import oracle
    from tests.util import assert_table_equals_oracle

    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    e0 = gen_changes(spark, n_events=500, n_convs=20, seed=3, n_files=1)
    e1 = gen_changes(
        spark, n_events=300, n_convs=20, seed=4, n_files=1, lsn_offset=100_000
    )
    e0, e1 = e0.persist(), e1.persist()
    tbl.merge(e0, pipeline_id="p", epoch_id=0)
    good_v = tbl.current_version()
    tbl.tag("good", good_v)
    tbl.merge(e1, pipeline_id="p", epoch_id=1)
    bad_v = tbl.current_version()

    snap = tbl.rollback("good")  # by tag name
    assert snap.operation == "rollback"
    assert snap.summary == {"rolled_back_to": good_v}
    assert_table_equals_oracle(tbl.read(), oracle.replay(e0.toPandas()))
    # the bad version stays time-travelable until expired
    assert tbl.read(version=bad_v).count() > 0
    # epoch markers rolled back with the state: epoch 1 re-applies
    assert tbl.last_applied_epoch("p") == 0
    tbl.merge(e1, pipeline_id="p", epoch_id=1)
    combined = pd.concat([e0.toPandas(), e1.toPandas()])
    assert_table_equals_oracle(tbl.read(), oracle.replay(combined))
    e0.unpersist(); e1.unpersist()

    # rollback to the current version is a no-op
    v = tbl.current_version()
    assert tbl.rollback(v).version == v


def test_read_as_of_timestamp_resolves_like_iceberg(spark, tmp_path):
    import datetime as dt

    import pytest

    tbl = _make_table(spark, str(tmp_path / "t"), epochs=3)
    hist = {s.version: s.committed_at for s in tbl.history()}
    versions = sorted(hist)
    v_mid = versions[-2]
    # exactly at a commit time -> that version; just before -> its parent
    assert tbl.version_as_of(hist[v_mid]) == v_mid
    assert tbl.version_as_of(hist[v_mid] - 1e-4) == v_mid - 1
    assert tbl.version_as_of(dt.datetime.now() + dt.timedelta(days=1)) == (
        tbl.current_version()
    )
    a = tbl.read(version=v_mid).toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    b = tbl.read(as_of=hist[v_mid]).toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    assert a.equals(b)
    with pytest.raises(ValueError, match="either version or as_of"):
        tbl.read(version=v_mid, as_of=hist[v_mid])
    # a timestamp older than retained history must fail, not lie
    tbl.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="predates the oldest retained"):
        tbl.version_as_of(hist[versions[0]] - 10.0)


def test_vacuum_keeps_named_key_sidecars_and_reclaims_the_rest(
    spark, tmp_path, monkeypatch
):
    """A merge's changed-key sidecar (``_meta/keys/``) lives while a live
    snapshot's summary names it. Vacuum keeps it, reclaims it once
    expire_snapshots drops every snapshot naming it, reclaims the sidecar
    of a commit that failed, and still removes the commit dirs whose data
    files it swept."""
    tbl = _make_table(spark, tmp_path / "t", epochs=3, mode="cow")
    named = [
        s.summary["changed_keys_file"]
        for s in tbl.history()
        if "changed_keys_file" in s.summary
    ]
    assert len(named) == 3

    def on_disk():
        return sorted(str(p.relative_to(tbl.root)) for p in tbl._keys_dir.iterdir())

    assert on_disk() == sorted(named)
    assert tbl.vacuum(older_than_s=0.0)["keys"] == []

    def lose(*args, **kwargs):
        raise RuntimeError("commit lost")

    monkeypatch.setattr(tbl, "_commit_write", lose)
    with pytest.raises(RuntimeError, match="commit lost"):
        tbl.merge(
            gen_changes(spark, n_events=50, n_convs=50, seed=99,
                        lsn_offset=10_000, n_files=1),
            pipeline_id="p", epoch_id=9,
        )
    monkeypatch.undo()
    orphan = sorted(set(on_disk()) - set(named))
    assert len(orphan) == 1

    tbl.expire_snapshots(keep_last=2)
    removed = tbl.vacuum(older_than_s=0.0)
    assert sorted(removed["keys"]) == sorted([named[0], *orphan])
    assert on_disk() == sorted(named[1:])
    assert removed["data"]
    live_dirs = {
        rel.split("/")[1]
        for s in tbl.history()
        for fl in s.files.values()
        for rel in fl
    }
    assert {p.name for p in tbl.root.glob("data/*")} == live_dirs
    v = tbl.current_version()
    assert tbl._recorded_keys(tbl.snapshot(v - 1), tbl.snapshot(v))
    assert tbl.read_changes(v - 1).count() > 0
