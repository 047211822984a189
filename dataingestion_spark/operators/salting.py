"""Explicit skew salting for hot conversations (SURVEY.md §4).

The engine's session runs with AQE off, so nothing splits skewed
partitions at runtime: hot conversations are *explicitly* salted into
sub-partitions and reconciled. The mechanism:

  * ``detect_hot_keys`` - sample-based frequency estimate of per-conv_id
    event share in a batch (a cheap aggregate over a sample; exact when
    sample_fraction=1.0). Returns a SMALL driver-side list, which is then
    broadcast-joined against the stream - never a shuffle of the big side
    by conv_id alone.
  * ``with_salt`` - adds ``_salt = pmod(xxhash64(turn_idx), k)`` for hot
    conversations (0 for cold ones). Because the salt is a pure function of
    turn_idx, every event of a given (conv_id, turn_idx) key lands in the
    same salt bucket, so per-key LWW winners computed within a salt bucket
    are globally exact - no second reconcile aggregation is needed for
    correctness; the salt only spreads *different turns* of one hot
    conversation across reducers/writers (correctness argument: SURVEY.md §4).

Used on the merge write path: repartition by (_bucket, _salt) so a hot
bucket's file writes fan out over k tasks instead of one straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SALT_COL = "_salt"


def detect_hot_keys(
    df: DataFrame,
    key: str = "conv_id",
    threshold: float = 0.05,
    sample_fraction: float = 1.0,
    seed: int = 42,
    total: int | None = None,
) -> list[str]:
    """Keys whose (estimated) share of batch rows exceeds ``threshold``.

    The aggregate benefits from map-side partial combine, and the result is
    at most 1/threshold keys - bounded and driver-safe by construction.
    Pass ``total`` when the caller already knows the row count (on a cached
    batch this saves one Spark job per epoch).
    """
    sampled = df if sample_fraction >= 1.0 else df.sample(sample_fraction, seed=seed)
    counts = sampled.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    if total is None:
        total = sampled.count()
    if total == 0:
        return []
    hot = counts.filter(F.col("_n") >= threshold * total)
    return [r[0] for r in hot.select(key).collect()]


def with_salt(
    df: DataFrame,
    hot_keys: list[str],
    k: int,
    key: str = "conv_id",
    sub_key: str = "turn_idx",
) -> DataFrame:
    """Add SALT_COL: hash(sub_key) % k for hot keys, 0 otherwise.

    ``hot_keys`` is small (≤ 1/threshold entries) so the membership test is
    a literal isin - evaluated JVM-side in whole-stage codegen, no join at
    all. Deterministic: same row always gets the same salt.
    """
    if not hot_keys or k <= 1:
        return df.withColumn(SALT_COL, F.lit(0))
    return df.withColumn(
        SALT_COL,
        F.when(
            F.col(key).isin(list(hot_keys)),
            F.pmod(F.xxhash64(F.col(sub_key)), F.lit(k)).cast("int"),
        ).otherwise(F.lit(0)),
    )
