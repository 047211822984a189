"""SparkSession factory with the engine's scale-oriented defaults.

Mirrors the capability of the reference's optimized session builder
(/root/reference/spark/src/main/scala/com/example/core/SparkUtils.scala:25-42:
Kryo, AQE, partition coalescing, checkpoint compression) restated for
PySpark, with one deliberate departure: AQE is OFF. The engine sizes its
merge exchanges explicitly and handles skew by salting, so it does not
rely on AQE's runtime re-planning, which costs a job per query stage.
Also: Arrow for pandas UDFs, UTC session timezone for deterministic
cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "transcript-cdc-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the CDC apply workload.

    ``master=None`` defers to spark-submit (multi-executor cluster); tests
    and the sandbox bench pass ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf: dict[str, str] = {
        # Each AQE query stage is its own job; skew is handled by
        # explicit salting (operators/salting.py).
        "spark.sql.adaptive.enabled": "false",
        # Arrow transfer for every pandas UDF (no per-row Python anywhere).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamps across Spark / DuckDB / pandas.
        "spark.sql.session.timeZone": "UTC",
        # Lake files are immutable once committed; cheap listing.
        "spark.sql.parquet.compression.codec": "snappy",
        # INT96 (the legacy default) writes NO column statistics and
        # disables parquet predicate pushdown on timestamps; MICROS gives
        # both - required for file-level ts data skipping and row-group
        # pruning on time-range reads.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # The engine writes via explicit file manifests, never by
        # overwriting directories - but keep dynamic overwrite semantics
        # safe for any auxiliary writers.
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
