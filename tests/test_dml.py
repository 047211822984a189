"""Predicate DML (LakeTable.delete_where / update_where) and point
lookups (LakeTable.read_keys): the out-of-band operations a CDC-fed lake
still needs - GDPR erasure, backfill corrections, serving-side key
fetches - expressed as bucket-pruned copy-on-write rewrites over the same
snapshot/manifest machinery the MERGE path uses. The reference has no
DML surface (its tables are only ever written through the pipeline,
demo/test_pipeline.sh); these close that gap Iceberg/Delta-style."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake.table import LakeTable
from dataingestion_spark.oracle import replay
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle

CHANGE_DDL = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts long, lsn long, source_file string"
)


def _make_table(spark, path, num_buckets=8):
    return LakeTable.create(
        spark,
        path,
        TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"],
        order_fields=["lsn", "ts"],
        num_buckets=num_buckets,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGE_DDL).withColumn(
        "ts", F.timestamp_seconds("ts")
    )


def _seeded(spark, path, n_events=3000, write_mode="cow"):
    tbl = _make_table(spark, path)
    changes = gen_changes(spark, n_events=n_events, n_convs=40, seed=7)
    changes = changes.persist()
    tbl.merge(changes, pipeline_id="seed", epoch_id=0, write_mode=write_mode)
    oracle = replay(changes.toPandas())
    changes.unpersist()
    return tbl, oracle


def test_delete_where_matches_filtered_oracle(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    snap = tbl.delete_where("role = 'tool'")
    assert snap is not None and snap.operation == "delete"
    expected = oracle[oracle["role"] != "tool"]
    assert_table_equals_oracle(tbl.read(), expected)


def test_update_where_matches_projected_oracle(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    snap = tbl.update_where(
        "role = 'user'", {"text": F.lit("[redacted]"), "tool": None}
    )
    assert snap is not None and snap.operation == "update"
    expected = oracle.copy()
    hit = expected["role"] == "user"
    expected.loc[hit, "text"] = "[redacted]"
    expected.loc[hit, "tool"] = None
    assert_table_equals_oracle(tbl.read(), expected)


def test_dml_rewrites_only_matching_buckets(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    pre = tbl.snapshot()
    conv = oracle["conv_id"].iloc[0]
    tbl.delete_where(F.col("conv_id") == conv)
    post = tbl.snapshot()
    touched = set(post.summary["dml_buckets"])
    assert len(touched) == 1  # one conversation -> one bucket
    for b in set(pre.files):
        if int(b) not in touched:
            assert pre.files[b] == post.files[b], f"bucket {b} rewritten"
    # untouched buckets keep their manifests by structural sharing
    for b, ref in pre.manifest_refs.items():
        if int(b) not in touched:
            assert post.manifest_refs.get(b) == ref


def test_delete_where_no_match_is_a_noop(spark, tmp_table_dir):
    tbl, _ = _seeded(spark, tmp_table_dir)
    v = tbl.current_version()
    assert tbl.delete_where("conv_id = 'conv_does_not_exist'") is None
    assert tbl.current_version() == v


def test_update_where_rejects_pk_and_unknown_columns(spark, tmp_table_dir):
    tbl, _ = _seeded(spark, tmp_table_dir)
    with pytest.raises(ValueError, match="pk or unknown"):
        tbl.update_where("role = 'user'", {"conv_id": "x"})
    with pytest.raises(ValueError, match="pk or unknown"):
        tbl.update_where("role = 'user'", {"nope": "x"})


def test_dml_on_mor_folds_delta_chains(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir, write_mode="mor")
    assert any(tbl.snapshot().deltas.values())  # MOR left unresolved deltas
    tbl.delete_where("role = 'tool'")
    post = tbl.snapshot()
    for b in post.summary["dml_buckets"]:
        assert not post.deltas.get(str(b)), "DML rewrite must clear deltas"
    expected = oracle[oracle["role"] != "tool"]
    assert_table_equals_oracle(tbl.read(), expected)


def test_dml_lww_placement_vs_stream(spark, tmp_table_dir):
    """A strictly-newer change event overrides DML; a stale redelivery
    cannot resurrect a deleted key or un-edit an updated row."""
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "original", None, 100, 10, "f"),
                ("INSERT", "c2", 0, "user", "keep", None, 101, 11, "f"),
            ],
        ),
        pipeline_id="p",
        epoch_id=0,
    )
    tbl.delete_where("conv_id = 'c1'")
    # stale arrival (strictly lower lsn than the deleted row): must stay
    # deleted. An EQUAL-lsn redelivery would win instead - the engine's
    # universal newer-source-wins-ties rule (see _dml_once docstring).
    tbl.merge(
        _batch(spark, [("UPDATE", "c1", 0, "user", "stale", None, 99, 9, "f")]),
        pipeline_id="p",
        epoch_id=1,
    )
    got = tbl.read().toPandas()
    assert sorted(got["conv_id"]) == ["c2"]
    # strictly newer event: the stream re-inserts the key (source of truth)
    tbl.merge(
        _batch(spark, [("UPDATE", "c1", 0, "user", "newer", None, 102, 12, "f")]),
        pipeline_id="p",
        epoch_id=2,
    )
    got = tbl.read().toPandas().sort_values("conv_id")
    assert list(got["conv_id"]) == ["c1", "c2"]
    assert got[got["conv_id"] == "c1"]["text"].iloc[0] == "newer"


def test_dml_time_travel_and_changelog(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    v_pre = tbl.current_version()
    tbl.delete_where("role = 'tool'")
    tbl.update_where("role = 'system'", {"text": "sys"})
    # time travel still sees the pre-DML state
    assert_table_equals_oracle(tbl.read(version=v_pre), oracle)
    # the changelog classifies DML like any other change
    chg = tbl.read_changes(v_pre).toPandas()
    n_del = int((oracle["role"] == "tool").sum())
    n_upd = int(
        ((oracle["role"] == "system") & (oracle["text"] != "sys")).sum()
    )
    assert (chg["change_type"] == "delete").sum() == n_del
    assert (chg["change_type"] == "update").sum() == n_upd
    assert (chg["change_type"] == "insert").sum() == 0


def test_delete_then_purge_compact_erases_physically(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    conv = oracle["conv_id"].iloc[0]
    tbl.delete_where(F.col("conv_id") == conv)
    max_lsn = 10**9
    tbl.compact(purge_tombstones_below_lsn=max_lsn)
    # tombstones gone from the current snapshot's physical files
    raw = tbl.read(include_system=True)
    assert raw.filter(F.col("conv_id") == conv).count() == 0
    expected = oracle[oracle["conv_id"] != conv]
    assert_table_equals_oracle(tbl.read(), expected)


# ----------------------------------------------------------------------
# read_keys point lookups
# ----------------------------------------------------------------------


def test_read_keys_matches_filtered_read(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    some = oracle[["conv_id", "turn_idx"]].drop_duplicates().head(17)
    keys = [tuple(r) for r in some.itertuples(index=False)]
    got = (
        tbl.read_keys(keys)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        oracle.merge(some, on=["conv_id", "turn_idx"])[got.columns]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_read_keys_skips_missing_and_deleted(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "a", None, 100, 10, "f"),
                ("INSERT", "c1", 1, "user", "b", None, 101, 11, "f"),
                ("DELETE", "c1", 1, None, None, None, 102, 12, "f"),
            ],
        ),
        pipeline_id="p",
        epoch_id=0,
    )
    got = tbl.read_keys([("c1", 0), ("c1", 1), ("missing", 9)]).toPandas()
    assert len(got) == 1 and got["text"].iloc[0] == "a"


def test_read_keys_accepts_dataframe_and_prunes_buckets(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    one_conv = oracle["conv_id"].iloc[0]
    keys_df = spark.createDataFrame(
        [(one_conv, int(t)) for t in oracle[oracle["conv_id"] == one_conv]["turn_idx"]],
        "conv_id string, turn_idx int",
    )
    got = tbl.read_keys(keys_df).toPandas()
    assert len(got) == int((oracle["conv_id"] == one_conv).sum())
    # all rows of one conversation share a bucket: the plan must not have
    # scanned every bucket's files (bucket pruning happens in _resolved
    # via the buckets argument; verified indirectly through read() parity)
    want = oracle[oracle["conv_id"] == one_conv]
    assert_table_equals_oracle(
        tbl.read_keys(keys_df), want, payload_cols=["role", "text", "tool", "ts"]
    )


def test_read_keys_pushes_key_predicate_to_scan(spark, tmp_table_dir):
    """Round-4: the point-lookup plan carries an IN(<first pk>) filter
    pushed to the parquet scan (row-group pruning via the clustered pk
    sort / dictionary / compaction-written bloom filters), results
    unchanged; above PUSHDOWN_MAX_KEYS the filter is omitted."""
    tbl, oracle = _seeded(spark, tmp_table_dir)
    tbl.compact()  # clustered + pk bloom filters
    some = oracle[["conv_id", "turn_idx"]].drop_duplicates().head(9)
    keys = [tuple(r) for r in some.itertuples(index=False)]
    df = tbl.read_keys(keys)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(conv_id" in p or "EqualTo(conv_id" in p for p in pushed), plan
    got = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = (
        oracle.merge(some, on=["conv_id", "turn_idx"])[got.columns]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # over the cap: same answer, no pushed key list
    orig = LakeTable.PUSHDOWN_MAX_KEYS
    try:
        LakeTable.PUSHDOWN_MAX_KEYS = 3
        df2 = tbl.read_keys(keys)
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        pushed2 = re.findall(r"PushedFilters: \[([^\]]*)\]", plan2)
        assert not any("In(conv_id" in p for p in pushed2)
        got2 = (
            df2.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got2, want, check_dtype=False)
    finally:
        LakeTable.PUSHDOWN_MAX_KEYS = orig


# ----------------------------------------------------------------------
# read_prefix: whole-conversation fetches by leading pk fields (round 5)
# ----------------------------------------------------------------------


def test_read_prefix_matches_filtered_read(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    convs = sorted(oracle["conv_id"].unique())[:3]
    got = (
        tbl.read_prefix(convs)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        oracle[oracle["conv_id"].isin(convs)]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])
    assert_table_equals_oracle(
        tbl.read_prefix(convs), want, payload_cols=["role", "text", "tool", "ts"]
    )
    # DataFrame input with extra (ignored) columns
    keys_df = spark.createDataFrame(
        [(c, "junk") for c in convs], "conv_id string, noise string"
    )
    assert tbl.read_prefix(keys_df).count() == len(want)
    # full-width prefix degenerates to exact key lookup
    some = oracle[["conv_id", "turn_idx"]].drop_duplicates().head(5)
    keys = [tuple(r) for r in some.itertuples(index=False)]
    assert tbl.read_prefix(keys).count() == len(some)
    # absent prefix: empty, schema intact
    empty = tbl.read_prefix(["no_such_conv"])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        f.name for f in tbl.read().schema.fields
    ]


def test_read_prefix_excludes_deleted_rows(spark, tmp_table_dir):
    tbl, oracle = _seeded(spark, tmp_table_dir)
    conv = oracle["conv_id"].iloc[0]
    victim = int(oracle[oracle["conv_id"] == conv]["turn_idx"].iloc[0])
    tbl.merge(
        _batch(spark, [("DELETE", conv, victim, None, None, None, 1, 10**9, "d")]),
        pipeline_id="del", epoch_id=99,
    )
    got = tbl.read_prefix([conv]).toPandas()
    assert victim not in set(got["turn_idx"])
    assert len(got) == int((oracle["conv_id"] == conv).sum()) - 1


def test_read_prefix_prunes_buckets_and_pushes_predicate(spark, tmp_table_dir, monkeypatch):
    """One conversation lives in ONE bucket: the resolved read must
    receive exactly that bucket (never the table), and the IN(conv_id)
    predicate must reach the parquet scan."""
    import re

    tbl, oracle = _seeded(spark, tmp_table_dir)
    tbl.compact()
    conv = oracle["conv_id"].iloc[0]
    seen = {}
    orig = LakeTable._resolved

    def spy(self, snap, buckets, **kw):
        seen["buckets"] = list(buckets)
        return orig(self, snap, buckets, **kw)

    monkeypatch.setattr(LakeTable, "_resolved", spy)
    df = tbl.read_prefix([conv])
    assert len(seen["buckets"]) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(conv_id" in p or "EqualTo(conv_id" in p for p in pushed), plan
    assert df.count() == int((oracle["conv_id"] == conv).sum())


def test_read_prefix_validates_inputs(spark, tmp_table_dir):
    tbl, _ = _seeded(spark, tmp_table_dir, n_events=200)
    with pytest.raises(ValueError, match="mixed prefix widths"):
        tbl.read_prefix([("c1",), ("c2", 0)])
    with pytest.raises(ValueError, match="outside"):
        tbl.read_prefix([("c1", 0, "extra")])
    with pytest.raises(ValueError, match="leading pk column"):
        tbl.read_prefix(spark.createDataFrame([(0,)], "turn_idx int"))


def test_point_lookup_broadcast_gated_by_measured_count(spark, tmp_path, monkeypatch):
    """Within the caps read_keys/read_prefix filter by parsed literals:
    no join and no broadcast, the pk0 IN plus the exact tuple IN. Past
    them the lazy key relation is the probe, broadcast only within
    BROADCAST_KEYS_MAX: an explicit hint bypasses
    autoBroadcastJoinThreshold, so a change-volume-sized key relation
    (the sync paths) must shuffle-join instead. Results stay equal."""
    from tests.test_plans import _plan

    tbl, _ = _seeded(spark, tmp_path / "bgate")
    rows = tbl.read().select("conv_id", "turn_idx").distinct().collect()
    seen, keys = set(), []
    for r in rows:
        if r["conv_id"] not in seen:
            seen.add(r["conv_id"])
            keys.append((r["conv_id"], r["turn_idx"]))
        if len(keys) == 6:
            break
    convs = sorted(k[0] for k in keys)
    small = tbl.read_keys(keys)
    smallp = tbl.read_prefix(convs)
    plan = _plan(small)
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert "named_struct(conv_id, conv_id" in plan and ") IN ([" in plan, plan

    # shrink BOTH caps below the key count: the set is no longer
    # provably small and exceeds the broadcast budget -> no hint
    monkeypatch.setattr(type(tbl), "PUSHDOWN_MAX_KEYS", 2)
    monkeypatch.setattr(type(tbl), "BROADCAST_KEYS_MAX", 2)
    # with the hint gated off, only Spark's own autoBroadcastJoinThreshold
    # decides - disable it to observe the ungated (shuffle) plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = tbl.read_keys(keys)
        bigp = tbl.read_prefix(convs)
        assert "BroadcastExchange" not in _plan(big)
        assert "BroadcastExchange" not in _plan(bigp)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    assert sorted(map(tuple, smallp.collect())) == sorted(map(tuple, bigp.collect()))


def test_keyed_reads_ignore_null_keys(spark, tmp_table_dir):
    """A NULL pk in the keys frame (a sync feeds these reads with keys
    from a diff) matches nothing instead of failing the literal probe."""
    tbl, oracle = _seeded(spark, tmp_table_dir)
    conv = sorted(oracle["conv_id"].unique())[0]
    turn = int(oracle[oracle["conv_id"] == conv]["turn_idx"].min())
    keys = spark.createDataFrame(
        [(conv, turn), (None, turn), (conv, None), (None, None)],
        "conv_id string, turn_idx int",
    )
    got = tbl.read_keys(keys).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == [(conv, turn)]
    want = int((oracle["conv_id"] == conv).sum())
    assert tbl.read_prefix(keys.select("conv_id")).count() == want
    assert tbl.read_prefix(keys).count() == 1
    assert tbl.read_keys([(None, turn)]).count() == 0
