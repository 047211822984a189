"""Round-4 fixes, pinned by regression tests:

  * update_where applies ALL assignments in one projection whose hit
    mask and RHS expressions see the PRE-update row (round-3 advice
    high: sequential withColumn re-resolved the predicate after the
    first assignment mutated a column it referenced, silently skipping
    later SETs; also SQL UPDATE requires SET a=b, b=a to swap).
  * _stat_value timestamp conversion is exact integer micros (advice
    medium: float truncation is off by +/-1us past 2^53 micros - year
    2255+, i.e. the 9999-12-31 "no expiry" sentinels real data carries -
    and a bound-equal file could be wrongly pruned).
  * read(where=) with a non-numeric bound behaves identically whether or
    not the table carries MOR deltas (advice low: used to raise
    TypeError only on the delta-free path).
  * the quarantine gate canonicalizes op to upper-case on the valid side
    so the merge's case-sensitive DELETE classification agrees with the
    gate's case-insensitive acceptance (advice low).
  * sessionize total_value is an exact DECIMAL(18,6) sum (associative -
    immune to partial-agg order), cross-checked against DuckDB at two
    shuffle-partition settings (verdict item 2).
  * assign_cells falls back to a broadcast-packed argmax above the
    centroid literal budget, result-equal to the inlined path (verdict
    item 3).

The round's sync pins live with their component suites:
test_changes_to_batch_rejects_reserved_columns in tests/test_sync.py and
test_sync_aggregate_runs_no_take_probe in tests/test_sync_aggregate.py.
"""

import datetime

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataingestion_spark.lake.table import LakeTable
from dataingestion_spark.oracle import replay
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle

SF_DIR = "/root/testdata/sf0.001"

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


def _seeded(spark, path, n_events=2000, write_mode="cow"):
    tbl = _make_table(spark, path)
    changes = gen_changes(spark, n_events=n_events, n_convs=30, seed=11)
    changes = changes.persist()
    tbl.merge(changes, pipeline_id="seed", epoch_id=0, write_mode=write_mode)
    oracle = replay(changes.toPandas())
    changes.unpersist()
    return tbl, oracle


# ----------------------------------------------------------------------
# update_where projection semantics
# ----------------------------------------------------------------------


def test_update_where_sets_predicate_column_and_others(spark, tmp_table_dir):
    """The advice repro: assigning the predicate column FIRST must not
    stop later assignments from applying."""
    tbl, oracle = _seeded(spark, tmp_table_dir)
    snap = tbl.update_where(
        "role = 'user'", {"role": "end_user", "tool": F.lit("annotated")}
    )
    assert snap is not None
    expected = oracle.copy()
    hit = expected["role"] == "user"
    assert hit.any()
    expected.loc[hit, "role"] = "end_user"
    expected.loc[hit, "tool"] = "annotated"
    assert_table_equals_oracle(tbl.read(), expected)


def test_update_where_rhs_sees_preimage_swap(spark, tmp_table_dir):
    """SQL UPDATE: SET a=b, b=a swaps (every RHS evaluates against the
    pre-update row), never chains."""
    tbl, oracle = _seeded(spark, tmp_table_dir)
    snap = tbl.update_where(
        "role = 'assistant'", {"text": F.col("tool"), "tool": F.col("text")}
    )
    assert snap is not None
    expected = oracle.copy()
    hit = expected["role"] == "assistant"
    assert hit.any()
    old_text = expected.loc[hit, "text"].copy()
    expected.loc[hit, "text"] = expected.loc[hit, "tool"]
    expected.loc[hit, "tool"] = old_text
    assert_table_equals_oracle(tbl.read(), expected)


# ----------------------------------------------------------------------
# exact timestamp stats / pruning bounds
# ----------------------------------------------------------------------


def test_stat_value_timestamp_micros_exact():
    """Exact integer epoch-micros for every datetime, including past
    2^53 micros where float64 timestamp() math is off by +/-1us (year
    2260 round-trips UP, year 3000 DOWN - both directions observed)."""
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    cases = [
        datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
        # the float path returns 9151488000000002 for this one
        epoch + datetime.timedelta(microseconds=9_151_488_000_000_001),
        # and 32503680000000000 for this one
        epoch + datetime.timedelta(microseconds=32_503_680_000_000_001),
        datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
    ]
    for v in cases:
        aware = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
        d = aware - epoch
        exact = d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds
        assert LakeTable._stat_value(v) == exact, v
        # bound and stat go through the same exact conversion
        assert LakeTable._bound_value(v) == exact


def test_read_where_string_bounds_consistent_across_delta_state(
    spark, tmp_table_dir
):
    """A non-numeric bound must behave the same on a delta-free (COW)
    table and on one carrying MOR deltas: no pruning, exact residual
    filter, never a TypeError."""
    for mode in ("cow", "mor"):
        path = f"{tmp_table_dir}_{mode}"
        tbl, oracle = _seeded(spark, path, write_mode=mode)
        got = (
            tbl.read(where={"role": ("assistant", "user")})
            .toPandas()
        )
        expected = oracle[
            (oracle["role"] >= "assistant") & (oracle["role"] <= "user")
        ]
        assert len(got) == len(expected), mode
        assert set(got["role"]) <= {"assistant", "system", "tool", "user"}


def test_timestamp_prune_boundary_keeps_equal_bound_rows(spark, tmp_table_dir):
    """A file whose ts min/max EQUALS the predicate bound at microsecond
    precision is kept - data skipping returns exactly what the residual
    filter would."""
    tbl = _make_table(spark, tmp_table_dir, num_buckets=2)
    epoch = datetime.datetime(1970, 1, 1)
    # includes a >2^53-micros sentinel where float math truncated
    ts_vals = [
        epoch + datetime.timedelta(microseconds=9_151_488_000_000_001),
        datetime.datetime(2024, 1, 1, 0, 0, 0, 7),
        datetime.datetime(2024, 1, 1, 0, 0, 0, 999999),
    ]
    rows = [
        ("INSERT", f"c{i}", 0, "user", f"t{i}", None, t, i, "f0")
        for i, t in enumerate(ts_vals)
    ]
    batch = spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp, lsn long, source_file string",
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=0)
    for t in ts_vals:
        got = tbl.read(where={"ts": (t, t)}).toPandas()
        assert len(got) == 1, t
    full = tbl.read(
        where={"ts": (min(ts_vals), max(ts_vals))}
    ).toPandas()
    assert len(full) == len(ts_vals)


# ----------------------------------------------------------------------
# quarantine op canonicalization
# ----------------------------------------------------------------------


def test_quarantine_normalizes_op_case_for_the_merge(spark, tmp_table_dir):
    """A lowercase 'delete' passes the case-insensitive gate AND must be
    APPLIED as a delete - the gate upper-cases op on the valid side so
    the merge's case-sensitive DELETE classification agrees."""
    from dataingestion_spark.sources.quarantine import split_invalid

    raw = spark.createDataFrame(
        [
            ("insert", "c1", 0, "user", "hello", None, 1, 1, "f"),
            ("delete", "c1", 0, None, None, None, 2, 2, "f"),
            ("bogus", "c2", 0, "user", "x", None, 3, 3, "f"),
        ],
        CHANGE_DDL,
    ).withColumn("ts", F.timestamp_seconds("ts"))
    valid, bad = split_invalid(raw, pk_fields=["conv_id", "turn_idx"])
    ops = {r["op"] for r in valid.collect()}
    assert ops == {"INSERT", "DELETE"}
    assert bad.count() == 1  # the bogus op
    tbl = _make_table(spark, tmp_table_dir, num_buckets=2)
    tbl.merge(valid, pipeline_id="p", epoch_id=0)
    assert tbl.read().count() == 0  # the lowercase delete really deleted


# ----------------------------------------------------------------------
# sessionize exact decimal sum (verdict item 2)
# ----------------------------------------------------------------------


def test_sessionize_total_value_exact_vs_duckdb_across_parallelism(spark):
    """total_value must equal DuckDB's EXACTLY (float ==, no rounding
    tolerance) regardless of Spark's partial-aggregation order - pinned
    at two shuffle-partition settings and two input partitionings."""
    from dataingestion_spark.operators.temporal import sessionize

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    con = duckdb.connect()
    want = con.sql(
        f"""
        WITH g AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM read_parquet('{SF_DIR}/events.parquet')
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_seq FROM g
        )
        SELECT user_id, session_seq,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM s GROUP BY user_id, session_seq
        """
    ).df().sort_values(["user_id", "session_seq"]).reset_index(drop=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts, repart in ((1, 1), (16, 7)):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got = (
                sessionize(events.repartition(repart), agg_value="value")
                .select("user_id", "session_seq", "total_value")
                .toPandas()
                .sort_values(["user_id", "session_seq"])
                .reset_index(drop=True)
            )
            assert len(got) == len(want)
            # exact float equality - the decimal sum is associative
            assert (got["total_value"].values == want["total_value"].values).all(), (
                parts,
                repart,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ----------------------------------------------------------------------
# assign_cells literal budget (verdict item 3)
# ----------------------------------------------------------------------


def test_assign_cells_budget_fallback_matches_inline(spark, monkeypatch):
    """Crossing the literal budget switches to the broadcast-packed
    argmax; cell assignments and ivf_topk output are identical."""
    from dataingestion_spark.operators import similarity as sim

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(120)
        .persist()
    )
    queries = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run():
        cents = sim.ivf_centroids(emb, n_centroids=12)
        cells = (
            sim.assign_cells(emb, cents)
            .select("vec_id", "cell")
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        topk = (
            sim.ivf_topk(emb, queries, k=3, n_centroids=12, n_probe=2)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        return cells, topk

    inline_cells, inline_topk = run()
    # 12 centroids x dim certainly exceeds a budget of 1: fallback path
    monkeypatch.setattr(sim, "INLINE_LITERAL_BUDGET", 1)
    packed_cells, packed_topk = run()
    emb.unpersist()
    pd.testing.assert_frame_equal(inline_cells, packed_cells)
    pd.testing.assert_frame_equal(inline_topk, packed_topk)
