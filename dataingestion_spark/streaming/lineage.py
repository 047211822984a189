"""Per-batch lineage + metrics rows.

Generalizes the reference's Kafka `_meta` provenance struct
(/root/reference/spark/src/main/scala/com/example/Phase1Job.scala:60-64) and
its metrics entity (pipeline, dataset, ts, records_processed, duration_ms,
throughput_rps, batch_id, status -
/root/reference/metrics-service/src/main/java/com/example/metrics/entity/IngestionMetric.java:22-75,
throughput calc /root/reference/metrics-service/src/main/java/com/example/metrics/service/MetricsService.java:93-97)
into an append-only Parquet lineage table next to the lake table:

one row per (epoch, source file) carrying the applied offset range -
resumability evidence - plus one EPOCH_SUMMARY row per epoch carrying the
commit snapshot version, applied-event count, duration and throughput.

An epoch's rows are a few hundred bytes, so the driver writes them as one
Parquet file with pyarrow - no Spark job, the way the lake table writes
its key and stats sidecars. The file lands under a dot-prefixed name and
is renamed into place, and Spark's reader skips dot files, so a reader
never sees a half-written file. Files Spark wrote into the same
directory read back alongside them under ``LINEAGE_SCHEMA``.
"""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("pipeline_id", T.StringType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # FILE | EPOCH_SUMMARY
        T.StructField("source_file", T.StringType()),
        T.StructField("min_lsn", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("applied_events", T.LongType()),
        T.StructField("snapshot_version", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("throughput_rps", T.DoubleType()),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.DoubleType()),
    ]
)


class LineageLog:
    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)

    def record_epoch(
        self,
        pipeline_id: str,
        epoch_id: int,
        batch: DataFrame | None,
        applied_events: int | None,
        snapshot_version: int | None,
        duration_ms: int,
        status: str = "SUCCESS",
        lsn_col: str = "lsn",
        file_col: str = "source_file",
        file_stats: list[dict] | None = None,
        quarantined_events: int | None = None,
    ) -> None:
        """Write lineage rows for one epoch as one driver-written Parquet
        file (module docstring). Per-source offset ranges come from
        ``file_stats`` when the merge already computed them from its
        pinned batch (LakeTable.merge(collect_file_stats=True) - no Spark
        job at all), else from a tiny aggregate over ``batch`` (one row
        per source file, one job)."""
        now = time.time()
        rows: list[dict] = []
        total = 0
        if file_stats is None and batch is not None and file_col in batch.columns:
            file_stats = [
                {
                    "source_file": r[file_col],
                    "min_lsn": r["min_lsn"],
                    "max_lsn": r["max_lsn"],
                    "event_count": r["event_count"],
                }
                for r in batch.groupBy(file_col)
                .agg(
                    F.min(lsn_col).alias("min_lsn"),
                    F.max(lsn_col).alias("max_lsn"),
                    F.count(F.lit(1)).alias("event_count"),
                )
                .collect()
            ]
        for r in file_stats or []:
            total += r["event_count"]
            rows.append(
                {
                    "pipeline_id": pipeline_id,
                    "epoch_id": epoch_id,
                    "kind": "FILE",
                    "source_file": r["source_file"],
                    "min_lsn": r["min_lsn"],
                    "max_lsn": r["max_lsn"],
                    "event_count": r["event_count"],
                    "applied_events": None,
                    "snapshot_version": snapshot_version,
                    "duration_ms": None,
                    "throughput_rps": None,
                    "status": status,
                    "committed_at": now,
                }
            )
        if quarantined_events is not None:
            # dead-letter visibility: how many rows this epoch REJECTED
            # (sources/quarantine.py) - alarms key off this row
            rows.append(
                {
                    "pipeline_id": pipeline_id,
                    "epoch_id": epoch_id,
                    "kind": "QUARANTINE",
                    "source_file": None,
                    "min_lsn": None,
                    "max_lsn": None,
                    "event_count": quarantined_events,
                    "applied_events": None,
                    "snapshot_version": snapshot_version,
                    "duration_ms": None,
                    "throughput_rps": None,
                    "status": status,
                    "committed_at": now,
                }
            )
        throughput = (total / (duration_ms / 1000.0)) if duration_ms > 0 else None
        rows.append(
            {
                "pipeline_id": pipeline_id,
                "epoch_id": epoch_id,
                "kind": "EPOCH_SUMMARY",
                "source_file": None,
                "min_lsn": None,
                "max_lsn": None,
                "event_count": total or None,
                "applied_events": applied_events,
                "snapshot_version": snapshot_version,
                "duration_ms": duration_ms,
                "throughput_rps": throughput,
                "status": status,
                "committed_at": now,
            }
        )
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(LINEAGE_SCHEMA))
        name = f"part-{uuid.uuid4()}.parquet"
        self.path.mkdir(parents=True, exist_ok=True)
        # no Arrow schema in the footer (Spark reads LINEAGE_SCHEMA anyway)
        # and no dictionary pages, which outweigh the few rows they encode
        pq.write_table(
            table, self.path / f".{name}", store_schema=False, use_dictionary=False
        )
        os.replace(self.path / f".{name}", self.path / name)

    def read(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(str(self.path))
