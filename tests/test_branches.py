"""WAP branches (Iceberg branch / write-audit-publish analog):
fork a branch off main, stage commits on it in isolation, audit the
branch head, publish it back to main as one atomic metadata-only
commit — or drop it and let vacuum reclaim the staged files.

Reference anchor: the reference's pipeline exposes every Hudi upsert to
consumers immediately (Phase2Job.scala:137-145); WAP is the guarded
variant a production CDC deployment runs (Iceberg spark.wap.branch +
fast_forward). Covered here: fork metadata-sharing proof, main/branch
isolation, publish state + epoch-marker equality vs a straight-to-main
replay, publish conflict guard, no-op publish, drop + vacuum reclaim,
branch-side DML/compaction/rollback, and apply_changes(branch=...)."""

import json

import pytest

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.lake.table import CommitConflictError
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _fresh(spark, path, num_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def _batch(spark, seed, lsn_offset=0, n=400):
    return gen_changes(
        spark, n_events=n, n_convs=40, seed=seed,
        lsn_offset=lsn_offset, n_files=1,
    )


def test_fork_is_metadata_only_and_shares_manifests(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    n_files = len(list(tbl.root.glob("data/*/*/*.parquet")))
    n_manifests = len(list(tbl._manifest_dir.glob("*.json")))
    br = tbl.create_branch("audit")
    # no data file, no manifest written - the fork shares everything
    assert len(list(tbl.root.glob("data/*/*/*.parquet"))) == n_files
    assert len(list(tbl._manifest_dir.glob("*.json"))) == n_manifests
    assert br.snapshot().manifest_refs == tbl.snapshot().manifest_refs
    assert br.snapshot().operation == "fork"
    assert tbl.branches() == {"audit": tbl.current_version()}
    # branch read == main read at the fork point
    a = br.read().toPandas().sort_values(["conv_id", "turn_idx"])
    b = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_branch_commits_are_invisible_to_main(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    main_v = tbl.current_version()
    main_state = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    br = tbl.create_branch("audit")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)
    # main head and state unchanged; branch advanced
    assert tbl.current_version() == main_v
    assert br.current_version() == main_v + 1
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert main_state.reset_index(drop=True).equals(after.reset_index(drop=True))
    # branch epoch marker is branch-scoped: main still at epoch 0
    assert tbl.last_applied_epoch("p") == 0
    assert br.last_applied_epoch("p") == 1


def test_publish_equals_straight_to_main_replay(spark, tmp_path):
    b0 = _batch(spark, 11)
    b1 = _batch(spark, 12, lsn_offset=10_000)
    # WAP path: epoch 0 on main, epoch 1 staged on a branch, published
    tbl = _fresh(spark, tmp_path / "wap")
    tbl.merge(b0, pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("audit")
    br.merge(b1, pipeline_id="p", epoch_id=1)
    pub = tbl.publish_branch("audit")
    assert pub is not None and pub.operation == "publish"
    assert pub.summary["published_branch"] == "audit"
    # metadata-only publish: every manifest ref shared with the branch head
    assert pub.manifest_refs == br.snapshot().manifest_refs
    # state equality vs the pure-python replay oracle over both batches
    import pandas as pd

    changes = pd.concat([b0.toPandas(), b1.toPandas()])
    assert_table_equals_oracle(tbl.read(), oracle.replay(changes))
    # epoch markers came along: a replayed epoch 1 on MAIN is skipped
    v = tbl.current_version()
    assert tbl.last_applied_epoch("p") == 1
    assert tbl.merge(b1, pipeline_id="p", epoch_id=1) is None
    assert tbl.current_version() == v


def test_publish_refuses_when_main_advanced(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("audit")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="q", epoch_id=0)
    # main moves past the fork point -> the audited base is stale
    tbl.merge(_batch(spark, 3, lsn_offset=20_000), pipeline_id="p", epoch_id=1)
    with pytest.raises(CommitConflictError, match="advanced"):
        tbl.publish_branch("audit")
    # the branch is left intact for re-fork workflows
    assert "audit" in tbl.branches()


def test_publish_noop_when_nothing_staged(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    tbl.create_branch("audit")
    v = tbl.current_version()
    assert tbl.publish_branch("audit") is None
    assert tbl.current_version() == v


def test_drop_branch_then_vacuum_reclaims_staged_files(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    before = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    n_before = len(list(tbl.root.glob("data/*/*/*.parquet")))
    br = tbl.create_branch("tmp")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)
    assert len(list(tbl.root.glob("data/*/*/*.parquet"))) > n_before
    # while the branch lives, vacuum must NOT touch its files
    assert tbl.vacuum(older_than_s=0.0)["data"] == []
    assert tbl.drop_branch("tmp") == 2  # fork + one commit
    removed = tbl.vacuum(older_than_s=0.0)
    assert removed["data"], "staged branch files should be orphaned"
    assert len(list(tbl.root.glob("data/*/*/*.parquet"))) == n_before
    after = tbl.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    with pytest.raises(KeyError):
        tbl.drop_branch("tmp")


def test_branch_side_dml_compact_rollback(spark, tmp_path):
    # the whole table API works on a branch handle: DML, compaction,
    # time travel, rollback - all scoped to the branch chain
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("fix")
    br.merge(
        _batch(spark, 2, lsn_offset=10_000),
        pipeline_id="p", epoch_id=1, write_mode="mor",
    )
    fork_v = min(br.retained_versions())
    br.delete_where("role = 'tool'")
    br.compact()
    assert br.read().filter("role = 'tool'").count() == 0
    # branch time travel to its own fork point
    fork_state = br.read(version=fork_v).toPandas()
    main_state = tbl.read().toPandas()
    assert len(fork_state) == len(main_state)
    # branch rollback walks its own chain
    br.rollback(fork_v)
    a = br.read().toPandas().sort_values(["conv_id", "turn_idx"])
    b = main_state.sort_values(["conv_id", "turn_idx"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    # main untouched by any of it
    assert tbl.snapshot().operation != "rollback"


def test_publish_after_branch_dml_and_schema_evolution(spark, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    b0 = _batch(spark, 21)
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(b0, pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("redact")
    # stage a redaction + an added column on the branch
    br.update_where("role = 'user'", {"text": F.lit("[redacted]")})
    wide = _batch(spark, 22, lsn_offset=10_000).withColumn(
        "model", F.lit("m-1")
    )
    br.merge(wide, pipeline_id="p", epoch_id=1)
    assert "model" not in [f.name for f in tbl.snapshot().schema.fields]
    tbl.publish_branch("redact")
    # schema evolution published atomically with the data
    assert "model" in [f.name for f in tbl.snapshot().schema.fields]
    changes = pd.concat([b0.toPandas(), wide.drop("model").toPandas()])
    expect = oracle.replay(changes)
    user_pre = b0.toPandas()  # redaction applied before epoch 1 rows
    assert_table_equals_oracle(
        tbl.read().drop("model"),
        _apply_redaction_oracle(expect, user_pre),
    )


def _apply_redaction_oracle(expect, pre_pdf):
    """Replay oracle for: update_where(role='user', text='[redacted]')
    applied after epoch 0, then epoch 1 merged on top. A key later
    overwritten by epoch 1 takes epoch 1's text (higher lsn wins over
    the DML's preserved _lsn); keys untouched after the DML keep the
    redaction."""
    out = expect.copy()
    pre = oracle.replay(pre_pdf)
    pre_keys = set(zip(pre.conv_id, pre.turn_idx))
    # rows whose final state came from epoch 0 (same text as pre-DML
    # replay) and were user turns at DML time get redacted
    merged = out.merge(
        pre, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_pre")
    )
    mask = (
        merged.apply(lambda r: (r.conv_id, r.turn_idx) in pre_keys, axis=1)
        & (merged["role_pre"] == "user")
        & (merged["text"] == merged["text_pre"])
        & (merged["role"] == merged["role_pre"])
        & (merged["ts"] == merged["ts_pre"])
    )
    out = out.reset_index(drop=True)
    out.loc[mask.values, "text"] = "[redacted]"
    return out


def test_streaming_apply_to_branch_then_publish(spark, tmp_path):
    """apply_changes(branch=...) stages a stream's epochs on the branch;
    publish exposes them with the exactly-once cursor intact."""
    from dataingestion_spark.config import DatasetConfig
    from dataingestion_spark.sources.datagen import write_change_files
    from dataingestion_spark.streaming.pipeline import apply_changes

    src_dir = tmp_path / "src"
    batch = _batch(spark, 31)
    write_change_files(batch, str(src_dir))
    tbl = _fresh(spark, tmp_path / "t")
    tbl.create_branch("wap")
    cfg = DatasetConfig(
        name="t", table_path=str(tmp_path / "t"),
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    q = apply_changes(
        spark, cfg, str(src_dir), str(tmp_path / "ckpt"),
        schema=batch.schema, branch="wap",
    )
    q.awaitTermination()
    # staged, not visible on main
    assert tbl.read().count() == 0
    br = tbl.branch("wap")
    assert br.read().count() > 0
    tbl.publish_branch("wap")
    assert_table_equals_oracle(tbl.read(), oracle.replay(batch.toPandas()))


def test_branch_name_validation_and_unknown_branch(spark, tmp_path):
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    with pytest.raises(ValueError, match="invalid branch name"):
        tbl.create_branch("has-dash")
    with pytest.raises(ValueError, match="published chain"):
        tbl.create_branch("main")
    with pytest.raises(KeyError, match="unknown branch"):
        tbl.branch("nope")
    tbl.create_branch("dup")
    with pytest.raises(ValueError, match="already exists"):
        tbl.create_branch("dup")


def test_branch_base_survives_branch_expiry(spark, tmp_path):
    """The publish guard reads the fork base from snapshot PROPERTIES,
    which propagate through branch commits - so expiring the fork
    snapshot on the branch does not break publish."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("audit")
    for e in (1, 2, 3):
        br.merge(
            _batch(spark, 10 + e, lsn_offset=e * 10_000),
            pipeline_id="p", epoch_id=e,
        )
    br.expire_snapshots(keep_last=1)
    assert min(br.retained_versions()) > tbl.current_version()
    pub = tbl.publish_branch("audit")
    assert pub is not None and pub.summary["staged_commits"] == 3
    # published properties do not leak the branch bookkeeping
    assert "branch_base" not in pub.properties
    snap_d = json.loads(tbl._snapshot_path(pub.version).read_text())
    assert snap_d["branch"] == "main"


def test_every_branch_commit_names_its_branch(spark, tmp_path):
    """Each commit on a branch chain - fork, merge, compaction, DML,
    rollback - records the branch it belongs to in its snapshot json;
    the publish commit lands on main and records main."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("audit")
    fork_v = br.current_version()
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)
    br.compact()
    br.delete_where("role = 'tool'")
    br.rollback(fork_v + 2)
    chain = [
        json.loads(p.read_text())
        for p in sorted(tbl._snap_dir.glob("B-audit-v*.json"))
    ]
    assert [d["operation"] for d in chain] == [
        "fork", "merge", "compact", "delete", "rollback"
    ]
    for d in chain:
        assert d["branch"] == "audit", (d["version"], d["operation"])
    pub = tbl.publish_branch("audit")
    assert json.loads(tbl._snapshot_path(pub.version).read_text())["branch"] == "main"


def test_drop_branch_validates_glob_metacharacters(spark, tmp_path):
    """drop_branch('*') must not expand across other branches' snapshot
    files (round-4 ADVICE): same name validation as create_branch."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    tbl.create_branch("keepme")
    tbl.create_branch("other")
    with pytest.raises(ValueError, match="invalid branch name"):
        tbl.drop_branch("*")
    with pytest.raises(ValueError, match="invalid branch name"):
        tbl.drop_branch("keepme-v*")
    assert set(tbl.branches()) == {"keepme", "other"}
    tbl.drop_branch("other")
    assert set(tbl.branches()) == {"keepme"}


def test_tags_are_chain_scoped(spark, tmp_path):
    """A tag minted on a WAP branch must not resolve against main's
    snapshot of the same version number, and vice versa (round-4
    ADVICE); each chain's expire_snapshots honors its own tags only."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("wap")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)

    tbl.tag("main-r1")          # main head
    br.tag("branch-r1")         # branch head (a DIFFERENT state)

    # same-chain resolution works
    assert tbl.resolve_tag("main-r1") == tbl.current_version()
    assert br.resolve_tag("branch-r1") == br.current_version()
    # cross-chain resolution is rejected, not silently misread
    with pytest.raises(ValueError, match="chain"):
        tbl.resolve_tag("branch-r1")
    with pytest.raises(ValueError, match="main chain"):
        br.resolve_tag("main-r1")
    # read(version=<tag>) goes through resolve_tag -> same protection
    with pytest.raises(ValueError, match="chain"):
        tbl.read(version="branch-r1")
    # tags() lists only the handle's chain
    assert set(tbl.tags()) == {"main-r1"}
    assert set(br.tags()) == {"branch-r1"}

    # legacy int-valued tags.json reads as main-chain tags
    import json as _json
    raw = _json.loads(tbl._tags_path.read_text())
    raw["legacy"] = tbl.current_version()
    tbl._tags_path.write_text(_json.dumps(raw))
    assert tbl.resolve_tag("legacy") == tbl.current_version()
    with pytest.raises(ValueError, match="main chain"):
        br.resolve_tag("legacy")


def test_tag_writes_are_chain_scoped(spark, tmp_path):
    """tag()/drop_tag() must refuse to retarget or remove a tag another
    chain owns: the name map is table-global, and a branch handle
    silently overwriting main's release tag would strip its
    expire_snapshots shield while resolve_tag still refuses the read."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    br = tbl.create_branch("wap")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)

    tbl.tag("release-1")
    with pytest.raises(ValueError, match="belongs to chain"):
        br.tag("release-1")
    with pytest.raises(ValueError, match="belongs to chain"):
        br.drop_tag("release-1")
    # main's pin is untouched and still resolves
    assert tbl.resolve_tag("release-1") == tbl.current_version()

    # same-chain retag / drop still work
    tbl.tag("release-1")
    tbl.drop_tag("release-1")
    assert "release-1" not in tbl.tags()

    # and the branch can mint its own distinct name
    br.tag("wap-audit")
    assert set(br.tags()) == {"wap-audit"}


def test_drop_branch_purges_chain_tags(spark, tmp_path):
    """drop_branch removes the dropped chain's tags with it: a stale
    chain-scoped tag would be permanently un-droppable and, after
    branch-name reuse, would resolve against an unrelated chain."""
    tbl = _fresh(spark, tmp_path / "t")
    tbl.merge(_batch(spark, 1), pipeline_id="p", epoch_id=0)
    tbl.tag("main-keep")
    br = tbl.create_branch("wap")
    br.merge(_batch(spark, 2, lsn_offset=10_000), pipeline_id="p", epoch_id=1)
    br.tag("wap-rel")

    tbl.drop_branch("wap")
    assert "wap-rel" not in tbl._tags_raw()       # chain tag gone
    assert tbl.resolve_tag("main-keep") == tbl.current_version()  # kept

    # name reuse is now safe: no stale tag resolves on the new chain
    br2 = tbl.create_branch("wap")
    import pytest as _pt
    with _pt.raises(KeyError):
        br2.resolve_tag("wap-rel")


def test_apply_changes_refuses_branch_view_syncs(spark, tmp_path):
    """agg_views / scd2_history cursors are chain-scoped; wiring them to
    a WAP-branch apply must fail fast at setup, not corrupt the history
    after publish."""
    import pytest as _pt

    from dataingestion_spark.config import DatasetConfig
    from dataingestion_spark.streaming.pipeline import apply_changes

    cfg = DatasetConfig(
        name="t", table_path=str(tmp_path / "t"), num_buckets=4,
        salt_buckets=4,
    )
    cfg.scd2_history = str(tmp_path / "hist")
    with _pt.raises(ValueError, match="WAP branch"):
        apply_changes(
            spark, cfg, str(tmp_path / "src"), str(tmp_path / "ckpt"),
            branch="audit",
        )
