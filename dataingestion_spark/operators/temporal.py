"""Temporal operators Spark lacks natively: as-of join and gap
sessionization.

Both are one-shuffle compositions of existing DataFrame ops (union +
window / lag + running sum) - no UDFs, no per-row Python - so they keep
whole-stage codegen and scale exactly like the LWW window: shuffle keyed
on the entity, sorted runs within partitions. The engine's session runs
with AQE off, so nothing splits a skewed partition: all of one entity's
rows land in one task.

As-of join (the kdb / pandas merge_asof / DuckDB ASOF JOIN semantic):
for each left row, the single right row with the greatest right_ts <=
left_ts per key. Re-expressed for Spark as a UNION of both sides with a
last-non-null window over (key, ts) - ONE exchange and no join node,
which beats a range-join (O(left x right) per key worst case) at any
scale and never needs a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: every ``left`` row plus the payload of the latest
    ``right`` row with ``right_ts <= left_ts`` for the same ``on`` keys
    (inclusive; no match -> nulls - DuckDB's ASOF LEFT JOIN semantics,
    which is also this function's test oracle).

    Ties: a right row AT the left row's timestamp matches (right sorts
    before left at equal ts); multiple right rows at one (key, ts)
    resolve to the last in window order - give ``right`` a deterministic
    secondary ordering upstream if its source can produce such ties."""
    payload = right_payload or [
        c for c in right.columns if c not in on and c != right_ts
    ]
    r_struct = F.struct(
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in payload],
    )
    r_type = right.select(r_struct.alias("_r")).schema["_r"].dataType
    lcols = left.columns
    l_struct = F.struct(*[F.col(c).alias(c) for c in lcols])
    l_type = left.select(l_struct.alias("_l")).schema["_l"].dataType
    l_tag = left.select(
        *on,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        l_struct.alias("_l"),
        F.lit(None).cast(r_type).alias("_r"),
    )
    r_tag = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_type).alias("_l"),
        r_struct.alias("_r"),
    )
    union = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ats").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = union.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
    out = matched.filter(F.col("_side") == 1)
    return out.select(
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        F.col(f"_m.{right_ts}{suffix}").alias(f"{right_ts}{suffix}"),
        *[F.col(f"_m.{c}{suffix}").alias(f"{c}{suffix}") for c in payload],
    )


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    agg_value: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of one ``key`` belong
    to one session while the gap between neighbors is <= ``gap_s``
    seconds. Returns one row per session: (key, session_seq,
    session_start, session_end, n_events[, total_value]); session_seq
    numbers a key's sessions from 1 in time order.

    Plan: lag + a running count of gap-breaks over (key, ts), then the
    session aggregate - all three share the (key, ts) sort, so Spark
    plans ONE exchange. Gap arithmetic on microsecond epochs
    (unix_micros <-> DuckDB epoch_us) for cross-engine exactness."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    # NTZ timestamps (driver parquet) cast through the UTC session tz
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_break = us - F.lag(us).over(w) > gap_s * 1_000_000
    marked = df.withColumn(
        "_new", F.when(F.coalesce(gap_break, F.lit(True)), 1).otherwise(0)
    )
    sessions = marked.withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if agg_value:
        # Exact cross-engine sum: cast each value to DECIMAL(18,6) (a
        # deterministic per-value rounding), sum decimals (exact, hence
        # ASSOCIATIVE - partial-aggregation order cannot change the
        # total, unlike a double sum), then one correctly-rounded cast
        # of the exact total back to double. round(sum(double), 6)
        # matched DuckDB only while no per-session sum straddled a
        # 6th-decimal rounding boundary within an ulp.
        aggs.append(
            F.sum(F.col(agg_value).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value")
        )
    return sessions.groupBy(key, "session_seq").agg(*aggs)
