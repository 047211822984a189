"""Round-3 hardening: the null-lsn rule, merges that write no session
conf, bounded snapshot cache, trigger/rate-limit surface, and the
transformer-loading contract for explicit paths.

Each test pins a behavior flagged in round-2 review (VERDICT.md "What's
wrong" / ADVICE.md) so it cannot regress silently.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.streaming.pipeline import stage_changes
from tests.util import TRANSCRIPT_SCHEMA

TS = dt.datetime(2024, 1, 1, 0, 0, 0)

CHANGE_COLS = "op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, lsn long, source_file string"


def _mk_table(spark, path, **kw):
    return LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4, **kw,
    )


def _null_lsn_scenario(spark, root):
    """Seed a table with one real-lsn row and one append-originated
    (null-lsn) row, then merge a batch holding: a null-lsn UPDATE against
    each, and an unmatched null-lsn INSERT."""
    tbl = _mk_table(spark, root)
    # real-lsn target row (c0,0)
    tbl.merge(
        spark.createDataFrame(
            [("INSERT", "c0", 0, "user", "orig", None, TS, 10, "f0")], CHANGE_COLS
        ),
        pipeline_id="p", epoch_id=0,
    )
    # append-originated null-lsn target row (c1,1)
    tbl.append(
        spark.createDataFrame(
            [("c1", 1, "user", "appended", None, TS)], TRANSCRIPT_SCHEMA
        )
    )
    batch = spark.createDataFrame(
        [
            # null-lsn vs real target lsn 10 -> target must win (ord -1 < 10)
            ("UPDATE", "c0", 0, "user", "null-lsn-update", None, TS, None, "f1"),
            # null-lsn vs null-lsn target -> batch preference wins
            ("UPDATE", "c1", 1, "user", "null-beats-append", None, TS, None, "f1"),
            # unmatched null-lsn insert -> row appears with its payload
            ("INSERT", "c2", 2, "user", "fresh-null-lsn", None, TS, None, "f1"),
        ],
        CHANGE_COLS,
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=1)
    out = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in tbl.read().collect()
    }
    return out


EXPECTED_NULL_LSN_STATE = {
    ("c0", 0): "orig",
    ("c1", 1): "null-beats-append",
    ("c2", 2): "fresh-null-lsn",
}


def test_null_lsn_rule_small_epoch_union_plan(spark, tmp_path):
    assert (
        _null_lsn_scenario(spark, tmp_path / "t_small")
        == EXPECTED_NULL_LSN_STATE
    )


def test_merges_never_write_session_conf(spark, tmp_path, monkeypatch):
    """No merge plan sets or unsets session conf, so a query running
    beside a merge on the same SparkSession plans under the conf it was
    given: COW (union and broadcast split), MOR, COW and MOR
    partial-update and merge_into. Every arm ends in the one commit
    tail, so each commit's operation, merge_plan, summary keys and
    applied_events are pinned here too."""
    from pyspark.sql.conf import RuntimeConfig

    writes: list[tuple] = []
    orig_set, orig_unset = RuntimeConfig.set, RuntimeConfig.unset

    def rec_set(self, key, value):
        writes.append(("set", key, value))
        return orig_set(self, key, value)

    def rec_unset(self, key):
        writes.append(("unset", key))
        return orig_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", rec_set)
    monkeypatch.setattr(RuntimeConfig, "unset", rec_unset)

    grow = gen_changes(spark, n_events=2_000, n_convs=40, seed=31)
    small = gen_changes(spark, n_events=100, n_convs=40, seed=32).withColumn(
        "lsn", F.col("lsn") + 10**6
    )
    cow = _mk_table(spark, str(tmp_path / "cow"))
    commits = {
        "cow-union": cow.merge(grow, pipeline_id="p", epoch_id=0),
        "cow-broadcast": cow.merge(small, pipeline_id="p", epoch_id=1),
    }
    mor = _mk_table(spark, str(tmp_path / "mor"))
    commits["mor"] = mor.merge(
        grow, pipeline_id="p", epoch_id=0, write_mode="mor"
    )
    partial = _mk_table(spark, str(tmp_path / "partial"))
    commits["partial"] = partial.merge(
        grow, pipeline_id="p", epoch_id=0, update_mode="partial"
    )
    mor_partial = _mk_table(spark, str(tmp_path / "mor_partial"))
    commits["mor-partial"] = mor_partial.merge(
        grow, pipeline_id="p", epoch_id=0, write_mode="mor",
        update_mode="partial",
    )
    src = cow.read().limit(5).withColumn("text", F.lit("merged-into"))
    commits["merge_into"] = cow.merge_into(src, when_matched_update=True)
    assert cow.read().filter(F.col("text") == "merged-into").count() == 5
    assert writes == []

    base = {
        "applied_events", "touched_buckets", "hot_keys", "batch_events",
        "changed_keys", "changed_keys_file",
    }
    want = {
        "cow-union": ("merge", "cow-union"),
        "cow-broadcast": ("merge", "cow-broadcast"),
        "mor": ("merge-mor", "mor-delta"),
        "partial": ("merge-partial", None),
        "mor-partial": ("merge-mor-partial", None),
        "merge_into": ("merge", "cow-broadcast"),
    }
    for arm, (operation, plan) in want.items():
        snap = commits[arm]
        assert snap.operation == operation, arm
        assert snap.summary.get("merge_plan") == plan, arm
        keys = base | {"merge_plan"} if plan else base
        assert set(snap.summary) == keys, (arm, sorted(snap.summary))
    # applied_events: the keys whose winner came from the batch on the
    # full-update arms; every event of the batch on the partial arms
    def n_keys(df):
        return df.select("conv_id", "turn_idx").distinct().count()

    applied = {
        "cow-union": n_keys(grow),
        "cow-broadcast": n_keys(small),
        "mor": n_keys(grow),
        "partial": 2_000,
        "mor-partial": 2_000,
        "merge_into": 5,
    }
    assert {
        arm: commits[arm].summary["applied_events"] for arm in applied
    } == applied
    assert commits["mor-partial"].properties["partial_delta_buckets"]
    assert "partial_delta_buckets" not in commits["mor"].properties


def test_concurrent_merges_two_tables_one_session(spark, tmp_path):
    """Interleaved merges into two tables on ONE SparkSession: both final
    states must equal the per-key LWW oracle and the session conf must be
    restored afterwards (VERDICT.md item 6: merge() previously mutated
    session-global conf without coordination)."""
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions", "200")

    roots = [str(tmp_path / "ta"), str(tmp_path / "tb")]
    tables = [_mk_table(spark, r) for r in roots]
    changes = [
        gen_changes(spark, n_events=4_000, n_convs=40, seed=11 + i)
        for i in range(2)
    ]
    errs: list[Exception] = []

    def run(i):
        try:
            for epoch, lo, hi in [(0, 0, 2_000), (1, 2_000, 4_000)]:
                part = changes[i].filter(
                    (F.col("lsn") >= lo * 2) & (F.col("lsn") < hi * 2)
                )
                tables[i].merge(part, pipeline_id=f"p{i}", epoch_id=epoch)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions", "200") == sp_before

    for i in range(2):
        want = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in gen_changes(spark, n_events=4_000, n_convs=40, seed=11 + i)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("conv_id", "turn_idx").orderBy(
                        F.col("lsn").desc()
                    )
                ),
            )
            .filter((F.col("_rn") == 1) & (F.col("op") != "DELETE"))
            .collect()
        }
        got = {
            (r["conv_id"], r["turn_idx"]): r["text"]
            for r in tables[i].read().collect()
        }
        assert got == want, f"table {i} diverged from LWW oracle"


def test_snapshot_cache_is_bounded(spark, tmp_path):
    """ADVICE.md lake/table.py:166 - thousands of epochs must not
    accumulate thousands of internalized snapshots in driver memory."""
    tbl = _mk_table(spark, tmp_path / "t_cache")
    df = spark.createDataFrame(
        [("INSERT", "c0", 0, "user", "x", None, TS, 1, "f")], CHANGE_COLS
    )
    for epoch in range(LakeTable.SNAP_CACHE_SIZE + 4):
        tbl.merge(df.withColumn("lsn", F.lit(epoch + 1)), pipeline_id="p", epoch_id=epoch)
    assert len(tbl._snap_cache) <= LakeTable.SNAP_CACHE_SIZE
    # evicted versions remain readable (re-internalized from disk)
    assert len(tbl.history()) == LakeTable.SNAP_CACHE_SIZE + 5
    assert tbl.read(version=2).count() == 1


def test_continuous_trigger_rejected(spark, tmp_path):
    """VERDICT.md What's-wrong #5: the continuous branch could never run
    (file source + foreachBatch); it must fail fast with a clear error."""
    with pytest.raises(ValueError, match="continuous"):
        stage_changes(
            spark,
            str(tmp_path / "landing"),
            str(tmp_path / "staged"),
            str(tmp_path / "ckpt"),
            schema=TRANSCRIPT_SCHEMA,
            trigger="continuous",
        )


def test_max_bytes_per_trigger_limits_batches(spark, tmp_path):
    """maxBytesPerTrigger (reference PERFORMANCE_TUNING_GUIDE.md:86-88):
    a 1-byte cap forces one file per micro-batch, so availableNow must
    drain the landing dir across multiple batches without losing rows."""
    landing = tmp_path / "landing"
    changes = gen_changes(spark, n_events=1_000, n_convs=20, n_files=4, seed=3)
    write_change_files(changes, landing)
    q = stage_changes(
        spark,
        str(landing),
        str(tmp_path / "staged"),
        str(tmp_path / "ckpt"),
        schema=None,
        max_bytes_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)
    staged = spark.read.parquet(str(tmp_path / "staged"))
    assert staged.count() == 1_000
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches > 1, "byte cap should split the drain into >1 batches"


# --- portable (md5) datagen mode -----------------------------------------
def test_md5_hash_mode_matches_duckdb_replay(spark):
    """hash_mode='md5' is the cross-engine contract behind the flagship
    oracle: a DuckDB replay of the same md5 expressions must reproduce the
    generated events byte-for-byte."""
    import duckdb

    from dataingestion_spark.sources.datagen import md5_hash_sql

    df = gen_changes(
        spark, n_events=500, n_convs=20, max_turns=10, seed=9, hash_mode="md5"
    )
    got = (
        df.select("op", "conv_id", "turn_idx", "lsn", "role", "text", "tool")
        .toPandas()
        .sort_values(["lsn", "op"], kind="mergesort")
        .reset_index(drop=True)
    )

    def H(col, stream, mod):
        return md5_hash_sql(col, 9, stream, mod)

    want = duckdb.sql(f"""
        WITH ids AS (SELECT range AS gen_id FROM range(0, 500)),
        base AS (SELECT CASE WHEN gen_id < 475 THEN gen_id
                             ELSE {H('gen_id', 7, 475)} END AS b FROM ids),
        hs AS (SELECT b, {H('b', 1, 1 << 20)} AS h1, {H('b', 2, 10)} AS h2,
                      {H('b', 3, 1 << 20)} AS h3, {H('b', 4, 4)} AS h4,
                      {H('b', 5, 20)} AS h5, {H('b', 6, 64)} AS h6 FROM base),
        ev AS (
          SELECT b * 2 AS lsn,
                 printf('conv_%06d',
                        CAST(floor(20 * h1 * h1 / {float(1 << 40)!r}) AS INT)) AS conv_id,
                 CAST(h2 AS INT) AS turn_idx,
                 CASE WHEN h3 / {float(1 << 20)!r} < 0.5 THEN 'INSERT'
                      WHEN h3 / {float(1 << 20)!r} < 0.9 THEN 'UPDATE'
                      ELSE 'DELETE' END AS op,
                 (['user','assistant','system','tool'])[CAST(h4 AS INT) + 1] AS role0,
                 h5, h6
          FROM hs)
        SELECT op, conv_id, turn_idx, lsn,
               CASE WHEN op = 'DELETE' THEN NULL ELSE role0 END AS role,
               CASE WHEN op = 'DELETE' THEN NULL
                    ELSE printf('turn text %s/%d seq=%d %s', conv_id, turn_idx,
                                lsn, repeat('x', CAST(h6 + 8 AS INT))) END AS text,
               CASE WHEN op = 'DELETE' THEN NULL
                    WHEN role0 = 'tool' THEN printf('tool_%02d', CAST(h5 AS INT))
               END AS tool
        FROM ev ORDER BY lsn, op
    """).df().reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_md5_hash_mode_rejects_unreplayable_zipf(spark):
    with pytest.raises(ValueError, match="zipf_exp"):
        gen_changes(spark, n_events=10, zipf_exp=1.5, hash_mode="md5")


# --- transformer loading contract (ADVICE.md transformers.py:112) ---------
def clean_frames(frame):  # first param deliberately not named df/annotated
    return frame.withColumn("cleaned", F.lit(True))


def make_tagger(tag: str = "t"):
    def _t(df):
        return df.withColumn("tag", F.lit(tag))

    return _t


def test_explicit_path_transformer_not_autocalled(spark):
    """An explicit 'module:attr' spec with no args must return the object
    as-is - a plain transformer with an unusual first-parameter name must
    not be misclassified as a factory and invoked at load time."""
    from dataingestion_spark.functions.transformers import load_transformer

    t = load_transformer("tests.test_round3_fixes:clean_frames")
    # returned as-is (same function, not the result of calling it)
    assert t.__name__ == "clean_frames"
    out = t(spark.range(1))
    assert out.columns == ["id", "cleaned"]


def test_explicit_path_factory_with_args_still_called():
    from dataingestion_spark.functions.transformers import load_transformer

    t = load_transformer(
        {"path": "tests.test_round3_fixes:make_tagger", "args": {"tag": "x"}}
    )
    assert callable(t) and t is not make_tagger


def test_bare_name_factory_still_autocalled(spark):
    """Bare-name discovery keeps the factory-autocall convenience
    (reference TransformerLoader candidate patterns)."""
    from dataingestion_spark.functions.transformers import load_transformer

    t = load_transformer("normalize_text")
    df = spark.createDataFrame([("  a   b  ",)], "text string")
    assert t(df).first()["text"] == "a b"


# --- two-phase hot-key gate (bucket pre-gate + suspect-bucket-only scan) ---


def _brute_force_hot(changes, threshold):
    import pyspark.sql.functions as F

    total = changes.count()
    rows = (
        changes.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold * total)
        .collect()
    )
    return sorted(r["conv_id"] for r in rows)


def test_hot_gate_parity_skewed(spark, tmp_path):
    """The bucket-level pre-gate + suspect-bucket per-key scan finds
    EXACTLY the keys a full per-key count would (soundness: a key with
    >= theta of the batch forces its bucket over theta, so restricting
    the exact scan to suspect buckets loses nothing)."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    changes = gen_changes(
        spark, n_events=4_000, n_convs=300, zipf_exp=3.0, seed=31
    )
    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=8,
    )
    tbl.merge(changes, pipeline_id="t", epoch_id=0, hot_key_threshold=0.05,
              hot_key_min_rows=0)
    assert sorted(tbl.snapshot().summary["hot_keys"]) == _brute_force_hot(
        changes, 0.05
    )


def test_hot_gate_parity_uniform_no_hot(spark, tmp_path):
    """A uniform batch over many buckets trips no bucket gate and yields
    no hot keys — same answer as the brute-force per-key count."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    changes = gen_changes(
        spark, n_events=4_000, n_convs=500, zipf_exp=1.0, seed=32
    )
    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=64,
    )
    tbl.merge(changes, pipeline_id="t", epoch_id=0, hot_key_threshold=0.05,
              hot_key_min_rows=0)
    hot = tbl.snapshot().summary["hot_keys"]
    assert hot == [] and _brute_force_hot(changes, 0.05) == []
