"""Explicit skew salting for hot conversations (SURVEY.md §4).

The engine's session runs with AQE off, so nothing splits skewed
partitions at runtime: hot conversations are *explicitly* salted into
sub-partitions. The merge's pre-scan finds the hot keys (an exact
per-key count over the buckets that could hold one, see
``LakeTable._merge_once``) and passes that small list here:

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


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
