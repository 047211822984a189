"""Incremental changelog reads (LakeTable.read_changes): the net
INSERT/UPDATE/DELETE diff between two snapshots, the Iceberg
changelog-scan / Hudi incremental-query analog a CDC consumer chains off
the lake. The reference verifies pipelines by comparing final table
states (demo/test_pipeline.sh:225-286); the changelog generalizes that
comparison into a queryable operator, and the invariant test here applies
a diff to the older state and requires the newer state back."""

import json
from collections import Counter
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA

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


def _changes_pdf(tbl, v_from, v_to=None, **kw) -> pd.DataFrame:
    return (
        tbl.read_changes(v_from, v_to, **kw)
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "change_type"])
        .reset_index(drop=True)
    )


def test_insert_update_delete_classification(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(
            spark,
            [
                ("INSERT", "c1", 0, "user", "hello", None, 100, 10, "f0"),
                ("INSERT", "c1", 1, "assistant", "hi", None, 101, 11, "f0"),
                ("INSERT", "c2", 0, "user", "other", None, 102, 12, "f0"),
            ],
        ),
        pipeline_id="t",
        epoch_id=0,
    )
    v1 = tbl.current_version()
    tbl.merge(
        _batch(
            spark,
            [
                ("UPDATE", "c1", 0, "user", "hello v2", None, 103, 20, "f1"),
                ("DELETE", "c1", 1, None, None, None, 104, 21, "f1"),
                ("INSERT", "c3", 0, "tool", "new", "tool_01", 105, 22, "f1"),
            ],
        ),
        pipeline_id="t",
        epoch_id=1,
    )
    got = _changes_pdf(tbl, v1)
    assert list(got["change_type"]) == ["update", "delete", "insert"]
    assert list(got["conv_id"]) == ["c1", "c1", "c3"]
    assert list(got["turn_idx"]) == [0, 1, 0]
    # post-image for the update, PRE-image payload for the delete
    assert got.loc[0, "text"] == "hello v2"
    assert got.loc[1, "text"] == "hi"
    assert got.loc[2, "tool"] == "tool_01"
    # untouched key c2/0 emits nothing
    assert not ((got["conv_id"] == "c2")).any()


def test_update_preimages_delta_cdf_style(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "old", None, 100, 10, "f0")]),
        pipeline_id="t",
        epoch_id=0,
    )
    v1 = tbl.current_version()
    tbl.merge(
        _batch(spark, [("UPDATE", "c1", 0, "user", "new", None, 101, 20, "f1")]),
        pipeline_id="t",
        epoch_id=1,
    )
    got = _changes_pdf(tbl, v1, include_preimages=True)
    assert list(got["change_type"]) == ["update_postimage", "update_preimage"]
    by_type = got.set_index("change_type")["text"]
    assert by_type["update_preimage"] == "old"
    assert by_type["update_postimage"] == "new"


def test_net_semantics_and_empty_ranges(spark, tmp_table_dir):
    tbl = _make_table(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "a", None, 100, 10, "f0")]),
        pipeline_id="t",
        epoch_id=0,
    )
    # transient key: inserted then deleted strictly inside the range
    tbl.merge(
        _batch(spark, [("INSERT", "c9", 9, "user", "gone", None, 101, 20, "f1")]),
        pipeline_id="t",
        epoch_id=1,
    )
    tbl.merge(
        _batch(spark, [("DELETE", "c9", 9, None, None, None, 102, 30, "f2")]),
        pipeline_id="t",
        epoch_id=2,
    )
    # from == to -> empty
    assert tbl.read_changes(tbl.current_version()).count() == 0
    got = _changes_pdf(tbl, v0)
    # net diff: transient c9 emits nothing; from the empty create snapshot
    # everything live is an insert and equals read()
    assert list(got["change_type"]) == ["insert"]
    assert list(got["conv_id"]) == ["c1"]
    with pytest.raises(ValueError):
        tbl.read_changes(tbl.current_version(), v0)


def _apply_diff(state: pd.DataFrame, diff: pd.DataFrame) -> pd.DataFrame:
    """Replay a changelog onto a state snapshot: delete removed/updated
    keys, insert the post-images."""
    pk = ["conv_id", "turn_idx"]
    cols = list(state.columns)
    touched = diff[diff["change_type"].isin(["update", "delete"])][pk]
    keep = state.merge(touched, on=pk, how="left", indicator=True)
    keep = keep[keep["_merge"] == "left_only"][cols]
    add = diff[diff["change_type"].isin(["insert", "update"])][cols]
    return pd.concat([keep, add], ignore_index=True)


def test_changelog_reconstructs_every_adjacent_state(spark, tmp_table_dir):
    """Invariant: state(v_from) + read_changes(v_from, v_to) == state(v_to)
    for every adjacent snapshot pair of a multi-epoch replay."""
    changes = gen_changes(
        spark, n_events=4_000, n_convs=40, max_turns=20, n_files=4, seed=77,
        dup_frac=0.1,
    )
    changes.persist()
    tbl = _make_table(spark, tmp_table_dir)
    files = sorted(r[0] for r in changes.select("source_file").distinct().collect())
    versions = [tbl.current_version()]
    for epoch, f in enumerate(files):
        tbl.merge(
            changes.filter(F.col("source_file") == f), pipeline_id="t", epoch_id=epoch
        )
        versions.append(tbl.current_version())
    changes.unpersist()
    pk = ["conv_id", "turn_idx"]

    def state(v):
        return (
            tbl.read(version=v)
            .toPandas()
            .sort_values(pk)
            .reset_index(drop=True)
        )

    for v_from, v_to in zip(versions, versions[1:]):
        diff = tbl.read_changes(v_from, v_to).toPandas()
        rebuilt = (
            _apply_diff(state(v_from), diff).sort_values(pk).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(rebuilt, state(v_to), check_dtype=False)
    # and across the whole range in one call
    diff = tbl.read_changes(versions[0], versions[-1]).toPandas()
    rebuilt = (
        _apply_diff(state(versions[0]), diff).sort_values(pk).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(rebuilt, state(versions[-1]), check_dtype=False)


def test_changed_bucket_pruning(spark, tmp_table_dir):
    """A single-key epoch touches one bucket; the changelog between the
    surrounding snapshots must inspect only that bucket."""
    tbl = _make_table(spark, tmp_table_dir, num_buckets=16)
    wide = gen_changes(spark, n_events=2_000, n_convs=30, seed=3)
    tbl.merge(wide, pipeline_id="t", epoch_id=0)
    v1 = tbl.current_version()
    tbl.merge(
        _batch(spark, [("INSERT", "c_solo", 0, "user", "x", None, 900, 10**6, "f9")]),
        pipeline_id="t",
        epoch_id=1,
    )
    changed = tbl.changed_buckets(v1)
    assert len(changed) == 1
    got = _changes_pdf(tbl, v1)
    assert list(got["conv_id"]) == ["c_solo"]


def test_changelog_over_mor_deltas(spark, tmp_table_dir):
    """Delta-only commits (write_mode='mor') change no base files; the
    changed-bucket scan must still see them via the delta manifests."""
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "old", None, 100, 10, "f0")]),
        pipeline_id="t",
        epoch_id=0,
        write_mode="mor",
    )
    v1 = tbl.current_version()
    tbl.merge(
        _batch(
            spark,
            [
                ("UPDATE", "c1", 0, "user", "new", None, 101, 20, "f1"),
                ("INSERT", "c2", 0, "user", "born", None, 102, 21, "f1"),
            ],
        ),
        pipeline_id="t",
        epoch_id=1,
        write_mode="mor",
    )
    got = _changes_pdf(tbl, v1)
    assert list(got["change_type"]) == ["update", "insert"]
    assert got.loc[0, "text"] == "new"


def test_changelog_across_schema_evolution(spark, tmp_table_dir):
    """A column added inside the range: rows differing only in the new
    column diff as updates with a null pre-image for it (the from-side is
    read under the to-snapshot's wider schema, the time-travel null-fill
    path)."""
    tbl = _make_table(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("INSERT", "c1", 0, "user", "t", None, 100, 10, "f0")]),
        pipeline_id="t",
        epoch_id=0,
    )
    v1 = tbl.current_version()
    evolved = spark.createDataFrame(
        [("UPDATE", "c1", 0, "user", "t", None, 101, 20, "f1", "claude-3")],
        CHANGE_DDL + ", model string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    tbl.merge(evolved, pipeline_id="t", epoch_id=1)
    got = tbl.read_changes(v1).toPandas()
    assert list(got["change_type"]) == ["update"]
    assert got.loc[0, "model"] == "claude-3"
    pre = tbl.read_changes(v1, include_preimages=True).toPandas()
    pre = pre.set_index("change_type")
    assert pd.isna(pre.loc["update_preimage", "model"])
    assert pre.loc["update_postimage", "model"] == "claude-3"


# ---------------------------------------------------------------------
# The diff core against a pandas net diff of read() at both versions.
# read_changes key-prunes a range only when every commit in it is a merge
# or compaction and every merge recorded its batch keys within the cap
# (LakeTable._recorded_keys); each case below pins which path it takes,
# and both must return the same rows.
# ---------------------------------------------------------------------

PAYLOAD = ["role", "text", "tool", "ts"]


def _state(tbl, v) -> pd.DataFrame:
    pdf = tbl.read(version=v).toPandas()
    return pdf.astype(object).where(pdf.notna(), None)


def _net_diff(tbl, v_a, v_b) -> Counter:
    """(change_type, pk..., payload...) rows of the net diff of read()."""
    pk = ["conv_id", "turn_idx"]
    j = _state(tbl, v_a).merge(
        _state(tbl, v_b), on=pk, how="outer", suffixes=("_a", "_b"),
        indicator=True,
    )
    out = Counter()
    for r in j.to_dict("records"):
        k = (r["conv_id"], r["turn_idx"])
        a = tuple(r[f"{c}_a"] for c in PAYLOAD)
        b = tuple(r[f"{c}_b"] for c in PAYLOAD)
        if r["_merge"] == "right_only":
            out[("insert", *k, *b)] += 1
        elif r["_merge"] == "left_only":
            out[("delete", *k, *a)] += 1
        elif a != b:
            out[("update", *k, *b)] += 1
    return out


def _envelope_rows(tbl, v_a, v_b) -> Counter:
    """The envelope feed mapped onto the net-diff row shape (ts as the
    envelope's ts_ms)."""
    kind = {"c": "insert", "u": "update", "d": "delete"}
    out = Counter()
    for r in tbl.read_changes_envelope(v_a, v_b).collect():
        e = json.loads(r["value"])
        img = e["before"] if e["op"] == "d" else e["after"]
        key = json.loads(r["key"])
        out[(kind[e["op"]], key["conv_id"], key["turn_idx"], img["role"],
             img["text"], img["tool"], e["ts_ms"])] += 1
    return out


def _ts_ms(rows: Counter) -> Counter:
    return Counter(
        {
            (*r[:-1], None if r[-1] is None else r[-1].value // 10**6): n
            for r, n in rows.items()
        }
    )


def _assert_diff(tbl, v_a, v_b, pruned: bool) -> None:
    keys = tbl._recorded_keys(tbl.snapshot(v_a), tbl.snapshot(v_b))
    assert (keys not in (None, False)) == pruned, keys
    want = _net_diff(tbl, v_a, v_b)
    got = tbl.read_changes(v_a, v_b).toPandas()
    got = got.astype(object).where(got.notna(), None)
    got = Counter(
        tuple(r[c] for c in ["change_type", "conv_id", "turn_idx", *PAYLOAD])
        for r in got.to_dict("records")
    )
    assert got == want
    assert _envelope_rows(tbl, v_a, v_b) == _ts_ms(want)


def _grown(spark, path):
    """A 4-bucket table grown by one 600-event merge (lsns below 10^6), so
    hand-written batches at lsn >= 10^6 are small against it."""
    tbl = _make_table(spark, path, num_buckets=4)
    tbl.merge(
        gen_changes(spark, n_events=600, n_convs=30, seed=11),
        pipeline_id="t", epoch_id=0,
    )
    keys = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in tbl.read().select("conv_id", "turn_idx").collect()
    )
    return tbl, keys


def _upsert(spark, rows, lsn0):
    """(op, key, text) triples -> a change batch at lsns lsn0, lsn0+1, ..."""
    return _batch(
        spark,
        [
            (op, k[0], k[1], None if op == "DELETE" else "user",
             None if op == "DELETE" else text, None, 1_000 + i, lsn0 + i, "h")
            for i, (op, k, text) in enumerate(rows)
        ],
    )


def test_diff_cow_and_mor_merges(spark, tmp_table_dir):
    """Key-pruned ranges over COW merges, MOR delta merges, and a range
    spanning both with a (non-purging) compaction in between."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    edits = [("UPDATE", keys[0], "u0"), ("DELETE", keys[1], None),
             ("INSERT", ("new_a", 0), "n0"), ("UPDATE", keys[7], "u7")]
    tbl.merge(_upsert(spark, edits, 10**6), pipeline_id="t", epoch_id=1)
    v1 = tbl.current_version()
    _assert_diff(tbl, v0, v1, pruned=True)
    mor = [("UPDATE", keys[0], "m0"), ("DELETE", keys[2], None),
           ("INSERT", ("new_b", 1), "n1"), ("DELETE", ("new_a", 0), None)]
    tbl.merge(_upsert(spark, mor, 2 * 10**6), pipeline_id="t", epoch_id=2,
              write_mode="mor")
    v2 = tbl.current_version()
    _assert_diff(tbl, v1, v2, pruned=True)
    tbl.compact()
    tbl.merge(_upsert(spark, [("UPDATE", keys[3], "c3")], 3 * 10**6),
              pipeline_id="t", epoch_id=3, write_mode="mor")
    _assert_diff(tbl, v0, tbl.current_version(), pruned=True)
    _assert_diff(tbl, v2, v2 + 1, pruned=False)  # compaction alone: no rows


def test_diff_partial_update_overlays(spark, tmp_table_dir):
    """Partial-update MOR overlays: an overlay keeps the columns it leaves
    null, an overlay on a missing key stays invisible, and a later full
    row becomes the new barrier."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    overlay = _batch(
        spark,
        [
            ("UPDATE", keys[0][0], keys[0][1], None, "patched", None, 2000,
             10**6, "p"),
            ("UPDATE", "ghost", 0, None, "nobody", None, 2001, 10**6 + 1, "p"),
            ("UPDATE", keys[4][0], keys[4][1], "system", None, "t_1", 2002,
             10**6 + 2, "p"),
        ],
    )
    tbl.merge(overlay, pipeline_id="t", epoch_id=1, write_mode="mor",
              update_mode="partial")
    v1 = tbl.current_version()
    assert tbl.snapshot(v1).properties.get("partial_delta_buckets")
    _assert_diff(tbl, v0, v1, pruned=True)
    tbl.merge(
        _upsert(spark, [("INSERT", ("ghost", 0), "born"),
                        ("DELETE", keys[4], None)], 2 * 10**6),
        pipeline_id="t", epoch_id=2, write_mode="mor",
    )
    _assert_diff(tbl, v1, tbl.current_version(), pruned=True)
    _assert_diff(tbl, v0, tbl.current_version(), pruned=True)


def test_diff_purging_compaction_is_pruned(spark, tmp_table_dir):
    """A compaction that purges tombstones the range itself wrote leaves no
    trace of those deletes in b, but the merge that wrote them recorded
    their keys: the pruned diff still emits the deletes."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(
        _upsert(spark, [("DELETE", keys[0], None), ("UPDATE", keys[5], "x")],
                10**6),
        pipeline_id="t", epoch_id=1,
    )
    tbl.compact(purge_tombstones_below_lsn=10**6 + 10)
    _assert_diff(tbl, v0, tbl.current_version(), pruned=True)
    # a purge watermark at or below the range's lowest lsn purges nothing
    # the range wrote
    v2 = tbl.current_version()
    tbl.merge(_upsert(spark, [("DELETE", keys[6], None)], 2 * 10**6),
              pipeline_id="t", epoch_id=2)
    tbl.compact(purge_tombstones_below_lsn=2 * 10**6)
    _assert_diff(tbl, v2, tbl.current_version(), pruned=True)


def test_diff_rollback_dml_and_append_fall_back(spark, tmp_table_dir):
    """Rollback, predicate DML and append (null _lsn) write rows no merge
    hull covers: ranges containing them take the unpruned path."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(_upsert(spark, [("UPDATE", keys[0], "r")], 10**6),
              pipeline_id="t", epoch_id=1)
    v1 = tbl.current_version()
    tbl.rollback(v0)
    _assert_diff(tbl, v1, tbl.current_version(), pruned=False)
    v2 = tbl.current_version()
    tbl.delete_where(f"conv_id = '{keys[3][0]}'")
    _assert_diff(tbl, v2, tbl.current_version(), pruned=False)
    v3 = tbl.current_version()
    tbl.update_where(f"conv_id = '{keys[-1][0]}'", {"text": "redacted"})
    _assert_diff(tbl, v3, tbl.current_version(), pruned=False)
    v4 = tbl.current_version()
    tbl.append(
        spark.createDataFrame(
            [("appended", 0, "user", "a", None, datetime(2024, 1, 1))],
            TRANSCRIPT_SCHEMA,
        )
    )
    tbl.merge(_upsert(spark, [("UPDATE", keys[9], "after")], 2 * 10**6),
              pipeline_id="t", epoch_id=2)
    _assert_diff(tbl, v4, tbl.current_version(), pruned=False)
    _assert_diff(tbl, v0, tbl.current_version(), pruned=False)


def test_diff_null_and_out_of_order_lsns_are_pruned(spark, tmp_table_dir):
    """Recorded keys do not depend on lsns: a batch with a null lsn, lsns
    arriving out of order across two merges, and the later merge alone
    (below an lsn its range's start already stores) all take the pruned
    path, and a stale update that loses LWW emits nothing."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(
        _upsert(spark, [("UPDATE", keys[0], "hi"), ("INSERT", ("z", 0), "z")],
                5 * 10**6),
        pipeline_id="t", epoch_id=1,
    )
    tbl.merge(
        _upsert(spark, [("UPDATE", keys[0], "stale"), ("UPDATE", keys[8], "lo"),
                        ("INSERT", ("z", 1), "z1")], 2 * 10**6),
        pipeline_id="t", epoch_id=2,
    )
    v2 = tbl.current_version()
    _assert_diff(tbl, v0, v2, pruned=True)
    _assert_diff(tbl, v0 + 1, v2, pruned=True)
    nulls = _batch(
        spark,
        [("UPDATE", keys[10][0], keys[10][1], "user", "nolsn", None, 3000,
          None, "n"),
         ("UPDATE", keys[11][0], keys[11][1], "user", "lsn", None, 3001,
          6 * 10**6, "n")],
    )
    tbl.merge(nulls, pipeline_id="t", epoch_id=3)
    assert tbl.snapshot().summary["changed_keys"] == 2
    _assert_diff(tbl, v2, tbl.current_version(), pruned=True)


def test_diff_redelivered_old_lsn_is_pruned(spark, tmp_table_dir):
    """A COW merge whose batch re-delivers one event at an old lsn carries
    the rewritten buckets' other rows over with their stored lsns; the
    recorded keys are the batch's three, so the diff stays pruned to them
    and exact."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    stored = tbl.read(include_system=True).agg(F.min("_lsn"), F.max("_lsn")).first()
    assert stored[0] < stored[1] < 10**6
    late = [("UPDATE", keys[0], "fresh"), ("INSERT", ("late_a", 0), "n")]
    batch = _upsert(spark, late, 10**6).unionByName(
        _upsert(spark, [("UPDATE", keys[5], "replayed")], stored[0])
    )
    tbl.merge(batch, pipeline_id="t", epoch_id=1)
    v1 = tbl.current_version()
    assert tbl.snapshot(v1).summary["changed_keys"] == 3
    _assert_diff(tbl, v0, v1, pruned=True)
    # the same change at fresh lsns only is key-pruned
    tbl.merge(_upsert(spark, late, 2 * 10**6), pipeline_id="t", epoch_id=2)
    _assert_diff(tbl, v1, tbl.current_version(), pruned=True)


def test_diff_branch_and_expired_ranges(spark, tmp_table_dir):
    """A branch's own range is an ancestor range (pruned); main's range
    across the publish of that branch, and a range whose intermediate
    snapshot expired, cannot walk the parent chain and read whole
    buckets."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    wap = tbl.create_branch("wap")
    wap.merge(_upsert(spark, [("UPDATE", keys[0], "staged"),
                              ("DELETE", keys[1], None)], 10**6),
              pipeline_id="w", epoch_id=1)
    _assert_diff(wap, v0, wap.current_version(), pruned=True)
    tbl.publish_branch("wap")
    v1 = tbl.current_version()
    assert tbl.snapshot(v1).operation == "publish"
    _assert_diff(tbl, v0, v1, pruned=False)
    tbl.tag("before", v1)
    for e in range(2, 4):
        tbl.merge(_upsert(spark, [("UPDATE", keys[e], f"e{e}")], e * 10**6),
                  pipeline_id="t", epoch_id=e)
    tbl.expire_snapshots(keep_last=1)
    assert tbl.retained_versions() == [v1, tbl.current_version()]
    _assert_diff(tbl, v1, tbl.current_version(), pruned=False)


def test_diff_over_cap_merge_falls_back(spark, tmp_table_dir, monkeypatch):
    """A merge whose batch passes PUSHDOWN_MAX_KEYS records no keys, and a
    range whose merges' recorded keys together pass it opens no sidecar:
    both read whole buckets."""
    tbl, keys = _grown(spark, tmp_table_dir)
    monkeypatch.setattr(type(tbl), "PUSHDOWN_MAX_KEYS", 3)
    v0 = tbl.current_version()
    big = [("UPDATE", keys[i], f"b{i}") for i in range(4)]
    tbl.merge(_upsert(spark, big, 10**6), pipeline_id="t", epoch_id=1)
    v1 = tbl.current_version()
    assert "changed_keys" not in tbl.snapshot(v1).summary
    _assert_diff(tbl, v0, v1, pruned=False)
    for e in (2, 3):
        tbl.merge(
            _upsert(spark, [("UPDATE", keys[e], "x"), ("DELETE", keys[e + 4], None)],
                    e * 10**6),
            pipeline_id="t", epoch_id=e,
        )
    v3 = tbl.current_version()
    assert len(tbl._recorded_keys(tbl.snapshot(v3 - 1), tbl.snapshot(v3))) == 2
    _assert_diff(tbl, v1, v3, pruned=False)


def test_diff_unrecorded_merge_falls_back(spark, tmp_table_dir):
    """A range crossing a merge committed before merges recorded their
    keys (its summary names no sidecar), or a merge whose batch holds a
    key with a NULL field (no literal matches it), reads whole buckets."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(_upsert(spark, [("UPDATE", keys[0], "old"),
                              ("INSERT", ("pre", 0), "p")], 10**6),
              pipeline_id="t", epoch_id=1)
    v1 = tbl.current_version()
    path = tbl._snapshot_path(v1)
    d = json.loads(path.read_text())
    (tbl.root / d["summary"].pop("changed_keys_file")).unlink()
    del d["summary"]["changed_keys"]
    path.write_text(json.dumps(d))
    tbl = LakeTable(spark, tbl.root)
    tbl.merge(_upsert(spark, [("UPDATE", keys[1], "new"),
                              ("INSERT", (keys[1][0], None), "n")], 2 * 10**6),
              pipeline_id="t", epoch_id=2)
    v2 = tbl.current_version()
    assert "changed_keys" not in tbl.snapshot(v2).summary
    _assert_diff(tbl, v0, v1, pruned=False)
    _assert_diff(tbl, v1, v2, pruned=False)


def test_diff_rollback_and_dml_amid_recorded_merges_fall_back(
    spark, tmp_table_dir
):
    """Merges that recorded their keys on both sides of a rollback and of
    a predicate update: the rollback restores rows no recorded key names
    and the update rewrites rows of keys no merge wrote, so every range
    holding either reads whole buckets."""
    tbl, keys = _grown(spark, tmp_table_dir)
    v0 = tbl.current_version()
    tbl.merge(_upsert(spark, [("DELETE", keys[0], None),
                              ("UPDATE", keys[1], "r1")], 10**6),
              pipeline_id="t", epoch_id=1)
    tbl.rollback(v0)
    tbl.merge(_upsert(spark, [("UPDATE", keys[2], "r2")], 2 * 10**6),
              pipeline_id="t", epoch_id=1)
    v3 = tbl.current_version()
    _assert_diff(tbl, v0 + 1, v3, pruned=False)
    tbl.update_where(f"conv_id = '{keys[-1][0]}'", {"text": "redacted"})
    tbl.merge(_upsert(spark, [("UPDATE", keys[3], "r3")], 3 * 10**6),
              pipeline_id="t", epoch_id=2)
    _assert_diff(tbl, v3, tbl.current_version(), pruned=False)
    assert tbl._recorded_keys(tbl.snapshot(v3 + 1), tbl.snapshot()) == [keys[3]]
