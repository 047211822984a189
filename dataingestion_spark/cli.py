"""spark-submit entry points.

Mirrors the reference's CLI contract - Airflow DAGs spark-submit Phase-1 /
Phase-2 with --dataset/--raw-path/--lake-path/--checkpoint/--mode args
(/root/reference/airflow/dags/phase2_dag.py:122-146,
/root/reference/spark/src/main/scala/com/example/core/IngestionConfig.scala:39-126)
- restated as subcommands of one module, launched as

    spark-submit --py-files dataingestion_spark.zip -m dataingestion_spark.cli ...

Subcommands:
  bootstrap  create the target lake table
  stage      Phase-1: landing change files -> staged changelog (checkpointed)
  apply      Phase-2: staged changelog -> exactly-once MERGE into the lake
  datagen    deterministic synthetic change stream (FIXTURES.md §2)
  compact    lake maintenance (small files + tombstone purge)
  vacuum     lake maintenance (snapshot expiry + orphan-file removal)
  sync       incremental table-to-table hop off the changelog (exactly-once)
  detect     identify an unlabeled change stream's wire format (setup-time)
"""

from __future__ import annotations

import argparse
import functools
import json
import sys

from pyspark.sql import types as T

from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.session import build_session
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.streaming.pipeline import (
    TRIGGERS,
    apply_changes,
    bootstrap_table,
    stage_changes,
    subscribe_feed,
)
from dataingestion_spark.functions.transformers import apply_chain, build_chain

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        *TRANSCRIPT_SCHEMA.fields,
        T.StructField("lsn", T.LongType()),
        T.StructField("source_file", T.StringType()),
    ]
)


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="override master (tests/bench)")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _parquet_rows(spark, path: str) -> int:
    """Row count of a just-written export from the parquet FOOTERS -
    metadata-only reads, not a second full scan of the output. Local
    paths only; URI-scheme outputs (hdfs://, s3a://, file:/), and plain
    paths the local glob cannot see (a non-local ``fs.defaultFS``
    resolves them on the cluster filesystem), fall back to a Spark count
    so a remote export never reports rows: 0 just because pathlib can't
    see it."""
    from pathlib import Path

    import pyarrow.parquet as pq

    local = (
        []
        if "://" in path or path.startswith("file:")
        else list(Path(path).glob("*.parquet"))
    )
    if not local:
        return spark.read.parquet(path).count()
    return sum(pq.ParquetFile(str(f)).metadata.num_rows for f in local)


def _print_sync(src, dst, key: str, snap) -> None:
    """A sync command's report: the source version, the destination
    version under ``key``, and whether this call committed."""
    print(
        json.dumps(
            {
                "src_version": src.current_version(),
                key: dst.current_version(),
                "applied": snap is not None,
            }
        )
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="dataingestion_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("bootstrap")
    _add_common(p)
    p.add_argument("--config", required=True, help="DatasetConfig JSON path")

    p = sub.add_parser("stage")
    _add_common(p)
    p.add_argument("--landing", default=None, help="landing dir (file sources)")
    p.add_argument("--staged", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--max-bytes-per-trigger", default=None,
        help="byte-based rate cap per micro-batch, e.g. '1g' or a byte count",
    )
    p.add_argument(
        "--source-format", default="parquet",
        choices=["parquet", "json", "kafka"],
    )
    p.add_argument(
        "--infer-schema", action="store_true",
        help="infer the change schema from already-landed files instead of "
        "the built-in transcript change schema",
    )
    p.add_argument(
        "--trigger", default=None,
        help="processing-time cadence: fast|normal|slow|'45 seconds'; "
        "default drains available input and stops",
    )
    p.add_argument("--kafka-servers", default=None)
    p.add_argument("--kafka-topic", default=None)
    p.add_argument("--starting-offsets", default="earliest")
    p.add_argument("--max-offsets-per-trigger", type=int, default=None)
    p.add_argument(
        "--dedup-within-watermark", default=None,
        help="drop exact (conv_id, turn_idx, lsn) re-deliveries across "
        "micro-batches with bounded state, e.g. '10 minutes'",
    )

    p = sub.add_parser("apply")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--source", required=True, help="staged changelog dir")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--lineage", default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--max-bytes-per-trigger", default=None,
        help="byte-based rate cap per micro-batch, e.g. '1g' or a byte count",
    )
    p.add_argument(
        "--trigger", default=None,
        help="processing-time cadence: fast|normal|slow|'45 seconds'",
    )
    p.add_argument(
        "--quarantine", default=None,
        help="dead-letter dir: unmergeable rows (null pk/lsn, unknown op) "
        "are rejected there instead of reaching the merge",
    )
    p.add_argument(
        "--branch", default="main",
        help="stage commits on a WAP branch (create it first with "
        "'branch --create'); publish after auditing",
    )

    p = sub.add_parser("branch")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--create", default=None, help="branch name to fork")
    p.add_argument(
        "--at", default=None,
        help="fork point: version number or tag (default: current head)",
    )
    p.add_argument("--publish", default=None, help="branch name to publish")
    p.add_argument("--drop", default=None, help="branch name to drop")

    p = sub.add_parser("datagen")
    _add_common(p)
    p.add_argument("--out", required=True)
    p.add_argument("--events", type=int, required=True)
    p.add_argument("--convs", type=int, default=1000)
    p.add_argument("--files", type=int, default=16)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--zipf", type=float, default=2.0)

    p = sub.add_parser("compact")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--purge-tombstones-below-lsn", type=int, default=None)
    p.add_argument(
        "--cluster-by", default=None,
        help="comma-separated in-file sort columns (default: the pk, or "
        "the table's persistent sort order); cluster by your dominant "
        "read predicate, e.g. ts",
    )
    p.add_argument(
        "--cluster-mode", default=None, choices=["linear", "zorder"],
        help="zorder interleaves the cluster columns (Morton code) so "
        "one layout serves predicates on all of them",
    )
    p.add_argument(
        "--max-records-per-file", type=int, default=None,
        help="split each bucket's sorted rewrite into bounded files so "
        "file-level stats prune whole files on the cluster columns",
    )

    p = sub.add_parser("sortorder")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--cols", default=None,
        help="comma-separated sort columns; omit to CLEAR the order",
    )
    p.add_argument("--mode", default="zorder", choices=["linear", "zorder"])

    p = sub.add_parser("vacuum")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--keep-last", type=int, default=None,
        help="first expire all but the newest N snapshots",
    )
    p.add_argument(
        "--older-than", type=float, default=3600.0,
        help="grace window in seconds; only files older than this are "
        "removed (keeps vacuum safe beside concurrent writers)",
    )
    p.add_argument("--dry-run", action="store_true")

    p = sub.add_parser("rollback")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--to", required=True,
        help="version number or tag name to roll the table state back to",
    )

    p = sub.add_parser("tag")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--name", default=None, help="tag to create (or drop)")
    p.add_argument("--version", type=int, default=None)
    p.add_argument("--drop", action="store_true")

    p = sub.add_parser("aggview")
    _add_common(p)
    p.add_argument("--src-table", required=True, help="source lake table path")
    p.add_argument("--out", required=True, help="aggregate view table path")
    p.add_argument(
        "--group", required=True,
        help="comma-separated group columns (become the view's pk)",
    )
    p.add_argument(
        "--sum", default=None,
        help="comma-separated numeric columns to SUM alongside the count",
    )
    p.add_argument(
        "--min", default=None, dest="min_cols",
        help="comma-separated columns to track MIN of (dirty groups "
        "recomputed exactly on deletes)",
    )
    p.add_argument(
        "--max", default=None, dest="max_cols",
        help="comma-separated columns to track MAX of",
    )
    p.add_argument("--pipeline-id", default="aggsync")

    p = sub.add_parser("lshindex")
    _add_common(p)
    p.add_argument("--src-table", required=True, help="document lake table path")
    p.add_argument("--out", required=True, help="band index table path")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=16)
    p.add_argument("--num-bands", type=int, default=4)
    p.add_argument("--pipeline-id", default="lshsync")

    p = sub.add_parser("bloomindex")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--bits-per-key", type=int, default=10)
    p.add_argument("--k", type=int, default=7)
    p.add_argument(
        "--rebuild", action="store_true",
        help="wipe and rebuild under a new (bits-per-key, k) spec",
    )

    p = sub.add_parser("rebucket")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--num-buckets", type=int, required=True,
        help="new bucket count; one full rewrite under the new hash "
        "(run off the ingest path, like compaction)",
    )

    p = sub.add_parser("rename")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--column", metavar="OLD=NEW",
        help="metadata-only column rename (no data rewrite); old files "
        "resolve through the prior-name map at read time",
    )
    p.add_argument(
        "--retire", action="store_true",
        help="instead of renaming, drop prior-name mappings proven absent "
        "from every referenced file (footer check)",
    )

    p = sub.add_parser("describe")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--with-sizes", action="store_true")

    p = sub.add_parser("retention")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--col", required=True, help="age-out column, e.g. ts")
    p.add_argument(
        "--cutoff", required=True,
        help="rows with col < cutoff are tombstoned; ISO timestamp or number",
    )

    p = sub.add_parser("lookup")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--col", required=True, help="non-pk column to match")
    p.add_argument("--values", required=True, help="comma-separated values")
    p.add_argument("--limit", type=int, default=1000)
    p.add_argument(
        "--no-index", action="store_true",
        help="skip the secondary bloom index (full pushed-IN scan)",
    )

    p = sub.add_parser("secindex")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--col", required=True, help="non-pk column to index")
    p.add_argument("--bits-per-key", type=int, default=10)
    p.add_argument("--k", type=int, default=7)
    p.add_argument("--rebuild", action="store_true")

    p = sub.add_parser("fsck")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--no-data", action="store_true",
        help="skip the pk-uniqueness data job (metadata checks only)",
    )

    p = sub.add_parser("optimize")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--max-delta-files", type=int, default=8)
    p.add_argument("--max-base-files", type=int, default=16)
    p.add_argument("--keep-snapshots", type=int, default=10)
    p.add_argument("--vacuum-grace-s", type=float, default=3600.0)

    p = sub.add_parser("ndv")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--cols", required=True, help="comma-separated columns to sketch"
    )
    p.add_argument("--lg-k", type=int, default=None)
    p.add_argument("--rebuild", action="store_true")

    p = sub.add_parser("meta")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--kind", required=True,
        choices=["snapshots", "files", "partitions", "manifests", "indexes"],
    )
    p.add_argument("--version", type=int, default=None)
    p.add_argument("--limit", type=int, default=1000)

    p = sub.add_parser("history")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--as-of", default=None,
        help="ISO timestamp or unix seconds: also print which version a "
        "TIMESTAMP-AS-OF read would resolve to",
    )

    p = sub.add_parser("read")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--version", default=None,
        help="time travel: snapshot version number or tag name",
    )
    p.add_argument(
        "--as-of", default=None,
        help="time travel: ISO timestamp or unix seconds (latest snapshot "
        "committed at or before it); mutually exclusive with --version",
    )
    p.add_argument(
        "--range", action="append", default=None, metavar="COL:LO:HI",
        help="closed-range predicate col:lo:hi (either bound may be "
        "empty); repeatable; drives file-level min/max stats pruning "
        "before the scan plus an exact residual filter",
    )
    p.add_argument(
        "--columns", default=None, help="comma-separated output columns"
    )
    p.add_argument("--limit", type=int, default=1000)
    p.add_argument(
        "--output", default=None,
        help="write the full result as parquet here instead of printing "
        "JSON rows (the batch-verification export path)",
    )

    p = sub.add_parser("changelog")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--from-version", type=int, required=True)
    p.add_argument("--to-version", type=int, default=None)
    p.add_argument(
        "--preimages", action="store_true",
        help="emit update_preimage/update_postimage row pairs for "
        "updates (Delta CDF convention) instead of one post-image row",
    )
    p.add_argument(
        "--envelope", action="store_true",
        help="emit Kafka-record-shaped Debezium envelopes (key/value "
        "JSON) instead of typed diff rows",
    )
    p.add_argument("--limit", type=int, default=1000)
    p.add_argument(
        "--output", default=None,
        help="write the full changelog as parquet here instead of "
        "printing JSON rows",
    )

    p = sub.add_parser("delete")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--where", required=True,
        help="SQL predicate over the table schema; matching live rows are "
        "tombstoned (bucket-pruned copy-on-write rewrite)",
    )

    p = sub.add_parser("update")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument("--where", required=True, help="SQL predicate")
    p.add_argument(
        "--set", required=True, action="append", metavar="COL=SQL_EXPR",
        help="assignment, repeatable; the value is a SQL expression "
        "(use NULL to clear a column)",
    )

    p = sub.add_parser("requeue")
    _add_common(p)
    p.add_argument("--config", required=True)
    p.add_argument(
        "--quarantine", required=True, help="dead-letter dir to replay"
    )
    p.add_argument(
        "--set", default=None, action="append", metavar="COL=SQL_EXPR",
        help="fix applied to dead-letter rows before re-validation, "
        "repeatable (e.g. --set \"op='INSERT'\")",
    )
    p.add_argument(
        "--reasons", default=None,
        help="comma-separated _invalid_reason tags to requeue "
        "(default: all)",
    )
    p.add_argument(
        "--pipeline-id", default=None,
        help="exactly-once cursor namespace; pass a FRESH id to replay "
        "epochs a previous requeue ran with a wrong fix (safe: cured "
        "rows re-merge as LWW no-ops)",
    )

    p = sub.add_parser("route")
    _add_common(p)
    p.add_argument(
        "--configs", required=True,
        help="comma-separated dataset config paths; each config's `name` "
        "is its route key (the value of --table-col selecting it)",
    )
    p.add_argument("--source", required=True, help="staged change-log dir")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--table-col", default="table")
    p.add_argument(
        "--on-unrouted", default="fail", choices=["fail", "ignore"]
    )
    p.add_argument(
        "--quarantine", default=None,
        help="dead-letter root; each route's rejects land under "
        "<dir>/<route>/epoch=N",
    )
    p.add_argument("--lineage", default=None)
    p.add_argument("--trigger", default=None)

    p = sub.add_parser("feed")
    _add_common(p)
    p.add_argument("--src-table", required=True, help="source lake table path")
    p.add_argument(
        "--out", required=True,
        help="feed directory: envelope JSON ranges + cursor land here "
        "(the file-system stand-in for a Kafka topic)",
    )
    p.add_argument("--db", default="lake", help="source.db in the envelope")
    p.add_argument("--table-name", default=None)
    p.add_argument("--ts-col", default="ts")

    p = sub.add_parser("subscribe")
    _add_common(p)
    p.add_argument(
        "--feed", required=True,
        help="feed directory produced by `feed` (Debezium-envelope JSON "
        "ranges); consumed as a Structured Streaming file source",
    )
    p.add_argument(
        "--config", required=True,
        help="destination DatasetConfig JSON (bootstrapped if absent)",
    )
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--lineage", default=None)
    p.add_argument(
        "--key-fields", default="conv_id:string,turn_idx:int",
        help="comma-separated name:type pk fields in the envelope key",
    )
    p.add_argument(
        "--payload-fields", default=None,
        help="comma-separated name:type payload fields in the row images; "
        "omit to infer from the existing destination table's schema",
    )
    p.add_argument("--trigger", default=None, choices=list(TRIGGERS) + [None])
    p.add_argument("--await-seconds", type=int, default=None)

    p = sub.add_parser("sync")
    _add_common(p)
    p.add_argument("--src-table", required=True, help="source lake table path")
    p.add_argument(
        "--config", required=True,
        help="destination DatasetConfig JSON (bootstrapped if absent)",
    )
    p.add_argument("--pipeline-id", default="sync")
    p.add_argument("--write-mode", default=None, choices=["cow", "mor"])

    p = sub.add_parser("detect")
    _add_common(p)
    p.add_argument(
        "--source", required=True,
        help="path of a STATIC sample of the change stream (detection "
        "is a setup-time decision; pin the result in the dataset "
        "config, don't re-detect per batch)",
    )
    p.add_argument(
        "--source-format", default="parquet", choices=["parquet", "text"],
        help="parquet for structured envelopes; text for one-JSON-"
        "object-per-line Kafka value dumps",
    )
    p.add_argument("--value-col", default="value")
    p.add_argument("--sample-rows", type=int, default=16)

    p = sub.add_parser("scd2")
    _add_common(p)
    p.add_argument("--src-table", required=True, help="source lake table path")
    p.add_argument(
        "--out", required=True,
        help="SCD2 history table path (created on first sync)",
    )
    p.add_argument("--pipeline-id", default="scd2sync")
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--write-mode", default="cow", choices=["cow", "mor"])

    a = parser.parse_args(argv)
    spark = build_session(
        app_name=f"cdc-{a.cmd}",
        master=a.master,
        shuffle_partitions=a.shuffle_partitions,
    )

    if a.cmd == "bootstrap":
        cfg = DatasetConfig.load(a.config)
        tbl = bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
        print(json.dumps({"table": str(tbl.root), "version": tbl.current_version()}))
    elif a.cmd == "stage":
        kafka_opts = None
        if a.source_format == "kafka":
            from dataingestion_spark.streaming.pipeline import build_kafka_options

            kafka_opts = build_kafka_options(
                a.kafka_servers, a.kafka_topic, a.starting_offsets,
                a.max_offsets_per_trigger,
            )
        q = stage_changes(
            spark, a.landing, a.staged, a.checkpoint,
            schema=None if (a.infer_schema or a.source_format == "kafka") else CHANGE_SCHEMA,
            max_files_per_trigger=a.max_files_per_trigger,
            max_bytes_per_trigger=a.max_bytes_per_trigger,
            trigger=a.trigger,
            source_format=a.source_format,
            kafka_options=kafka_opts,
            dedup_within_watermark=a.dedup_within_watermark,
        )
        q.awaitTermination()
    elif a.cmd == "apply":
        cfg = DatasetConfig.load(a.config)
        chain = build_chain(cfg.transformers) if cfg.transformers else None
        tbl = bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
        if a.branch != "main":
            tbl = tbl.branch(a.branch)
        q = apply_changes(
            spark, cfg, a.source, a.checkpoint,
            lineage_path=a.lineage, transformers=chain,
            max_files_per_trigger=a.max_files_per_trigger,
            max_bytes_per_trigger=a.max_bytes_per_trigger,
            trigger=a.trigger,
            quarantine_dir=a.quarantine,
            branch=a.branch,
        )
        q.awaitTermination()
        print(
            json.dumps(
                {"version": tbl.current_version(), "branch": a.branch}
            )
        )
    elif a.cmd == "branch":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        out: dict = {}
        if a.create:
            at = (
                int(a.at) if a.at and a.at.isdigit() else a.at
            )
            bh = tbl.create_branch(a.create, at_version=at)
            out["created"] = a.create
            out["at_version"] = bh.current_version()
        if a.publish:
            snap = tbl.publish_branch(a.publish)
            out["published"] = a.publish
            out["version"] = None if snap is None else snap.version
        if a.drop:
            out["dropped_snapshots"] = tbl.drop_branch(a.drop)
        out["branches"] = tbl.branches()
        print(json.dumps(out))
    elif a.cmd == "datagen":
        df = gen_changes(
            spark, n_events=a.events, n_convs=a.convs, n_files=a.files,
            seed=a.seed, zipf_exp=a.zipf,
        )
        files = write_change_files(df, a.out)
        print(json.dumps({"files": len(files), "events": a.events}))
    elif a.cmd == "compact":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        snap = tbl.compact(
            purge_tombstones_below_lsn=a.purge_tombstones_below_lsn,
            cluster_cols=(
                [c.strip() for c in a.cluster_by.split(",") if c.strip()]
                if a.cluster_by
                else None
            ),
            cluster_mode=a.cluster_mode,
            max_records_per_file=a.max_records_per_file,
        )
        print(json.dumps({"version": snap.version}))
    elif a.cmd == "sortorder":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        cols = (
            [c.strip() for c in a.cols.split(",") if c.strip()]
            if a.cols
            else None
        )
        snap = tbl.set_sort_order(cols, mode=a.mode)
        print(
            json.dumps(
                {"version": snap.version, "sort_order": tbl.sort_order()}
            )
        )
    elif a.cmd == "rollback":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        to = int(a.to) if a.to.isdigit() else a.to
        snap = tbl.rollback(to)
        print(
            json.dumps(
                {
                    "version": snap.version,
                    "rolled_back_to": snap.summary.get("rolled_back_to"),
                }
            )
        )
    elif a.cmd == "tag":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        if a.name and a.drop:
            tbl.drop_tag(a.name)
        elif a.name:
            tbl.tag(a.name, a.version)
        print(json.dumps({"tags": tbl.tags()}))
    elif a.cmd == "aggview":
        from dataingestion_spark.lake.sync import sync_aggregate

        src = LakeTable(spark, a.src_table)
        snap = sync_aggregate(
            src,
            a.out,
            group_cols=[c.strip() for c in a.group.split(",") if c.strip()],
            sums=[c.strip() for c in (a.sum or "").split(",") if c.strip()],
            mins=[c.strip() for c in (a.min_cols or "").split(",") if c.strip()],
            maxs=[c.strip() for c in (a.max_cols or "").split(",") if c.strip()],
            pipeline_id=a.pipeline_id,
        )
        _print_sync(src, LakeTable(spark, a.out), "view_version", snap)
    elif a.cmd == "lshindex":
        from dataingestion_spark.lake.sync import sync_band_index

        src = LakeTable(spark, a.src_table)
        snap = sync_band_index(
            src,
            a.out,
            id_col=a.id_col,
            text_col=a.text_col,
            n=a.shingle_n,
            num_hashes=a.num_hashes,
            num_bands=a.num_bands,
            pipeline_id=a.pipeline_id,
        )
        _print_sync(src, LakeTable(spark, a.out), "index_version", snap)
    elif a.cmd == "bloomindex":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        print(
            json.dumps(
                tbl.update_bloom_index(
                    bits_per_key=a.bits_per_key, k=a.k, rebuild=a.rebuild
                )
            )
        )
    elif a.cmd == "rebucket":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        snap = tbl.rebucket(a.num_buckets)
        print(
            json.dumps(
                {"version": snap.version, "num_buckets": snap.num_buckets}
            )
        )
    elif a.cmd == "rename":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        if a.retire:
            retired = tbl.retire_renames()
            print(
                json.dumps(
                    {
                        "version": tbl.current_version(),
                        "retired_prior_names": retired,
                    }
                )
            )
        else:
            if not a.column:
                raise SystemExit("rename needs --column OLD=NEW or --retire")
            old, sep, new = a.column.partition("=")
            if not sep:
                raise SystemExit(f"--column needs OLD=NEW, got {a.column!r}")
            snap = tbl.rename_column(old, new)
            print(
                json.dumps(
                    {
                        "version": snap.version,
                        "renamed": {"from": old, "to": new},
                        "schema_version": snap.schema_version,
                    }
                )
            )
    elif a.cmd == "describe":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        print(json.dumps(tbl.describe(with_sizes=a.with_sizes)))
    elif a.cmd == "retention":
        import datetime as _dt

        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        raw = a.cutoff
        try:
            cutoff = float(raw) if "." in raw else int(raw)
        except ValueError:
            cutoff = _dt.datetime.fromisoformat(raw)
        snap = tbl.apply_retention(a.col, cutoff)
        print(
            json.dumps(
                {
                    "applied": snap is not None,
                    "version": tbl.current_version(),
                }
            )
        )
    elif a.cmd == "lookup":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        values = [v for v in a.values.split(",") if v]
        rows = tbl.read_in(
            a.col, values, use_index=not a.no_index
        ).toJSON().take(a.limit)
        for line in rows:
            print(line)
    elif a.cmd == "secindex":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        print(
            json.dumps(
                tbl.update_secondary_index(
                    a.col, bits_per_key=a.bits_per_key, k=a.k,
                    rebuild=a.rebuild,
                )
            )
        )
    elif a.cmd == "fsck":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        report = tbl.verify_integrity(check_data=not a.no_data)
        print(json.dumps(report))
        return 0 if report["ok"] else 1
    elif a.cmd == "optimize":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        print(
            json.dumps(
                tbl.optimize(
                    max_delta_files_per_bucket=a.max_delta_files,
                    max_base_files_per_bucket=a.max_base_files,
                    keep_snapshots=a.keep_snapshots,
                    vacuum_older_than_s=a.vacuum_grace_s,
                )
            )
        )
    elif a.cmd == "ndv":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        cols = [c.strip() for c in a.cols.split(",") if c.strip()]
        out = tbl.update_ndv_sketch(cols, lg_k=a.lg_k, rebuild=a.rebuild)
        out["ndv"] = {c: tbl.approx_ndv(c, refresh=False) for c in cols}
        print(json.dumps(out))
    elif a.cmd == "meta":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        for line in tbl.meta(a.kind, version=a.version).toJSON().take(a.limit):
            print(line)
    elif a.cmd == "history":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        tags = {v: n for n, v in tbl.tags().items()}
        out = {
            "history": [
                {
                    "version": s.version,
                    "operation": s.operation,
                    "committed_at": s.committed_at,
                    "schema_version": s.schema_version,
                    "summary": s.summary,
                    **({"tag": tags[s.version]} if s.version in tags else {}),
                }
                for s in tbl.history()
            ]
        }
        if a.as_of is not None:
            try:
                ts = float(a.as_of)
            except ValueError:
                import datetime as _dt

                ts = _dt.datetime.fromisoformat(a.as_of).timestamp()
            out["as_of_resolves_to"] = tbl.version_as_of(ts)
        print(json.dumps(out))
    elif a.cmd == "read":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        version = None
        if a.version is not None:
            version = int(a.version) if a.version.isdigit() else a.version
        as_of = None
        if a.as_of is not None:
            try:
                as_of = float(a.as_of)
            except ValueError:
                import datetime as _dt

                as_of = _dt.datetime.fromisoformat(a.as_of)

        def _bound(s: str):
            # coercion order int -> float -> ISO datetime -> string;
            # bounds must be the column's own domain for the residual
            # filter (stats pruning is bound-type-checked library-side)
            if s == "":
                return None
            for cast in (int, float):
                try:
                    return cast(s)
                except ValueError:
                    pass
            try:
                import datetime as _dt

                return _dt.datetime.fromisoformat(s)
            except ValueError:
                return s

        where = None
        if a.range:
            where = {}
            for spec in a.range:
                try:
                    col, lo, hi = spec.split(":", 2)
                except ValueError:
                    raise SystemExit(f"--range wants COL:LO:HI, got {spec!r}")
                where[col] = (_bound(lo), _bound(hi))
        df = tbl.read(version=version, where=where, as_of=as_of)
        if a.columns:
            df = df.select(
                *[c.strip() for c in a.columns.split(",") if c.strip()]
            )
        if a.output:
            df.write.mode("overwrite").parquet(a.output)
            n = _parquet_rows(spark, a.output)
            print(json.dumps({"rows": n, "output": a.output}))
        else:
            for line in df.toJSON().take(a.limit):
                print(line)
    elif a.cmd == "changelog":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        if a.envelope and a.preimages:
            raise SystemExit("--envelope already carries before/after "
                             "images; drop --preimages")
        if a.envelope:
            df = tbl.read_changes_envelope(a.from_version, a.to_version)
        else:
            df = tbl.read_changes(
                a.from_version, a.to_version,
                include_preimages=a.preimages,
            )
        if a.output:
            df.write.mode("overwrite").parquet(a.output)
            n = _parquet_rows(spark, a.output)
            print(json.dumps({"rows": n, "output": a.output}))
        else:
            for line in df.toJSON().take(a.limit):
                print(line)
    elif a.cmd in ("delete", "update"):
        from pyspark.sql import functions as F

        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        if a.cmd == "delete":
            snap = tbl.delete_where(a.where)
        else:
            assignments = {}
            for item in a.set:
                col, _, expr = item.partition("=")
                if not _:
                    raise SystemExit(f"--set needs COL=SQL_EXPR, got {item!r}")
                assignments[col.strip()] = F.expr(expr)
            snap = tbl.update_where(a.where, assignments)
        print(
            json.dumps(
                {
                    "version": tbl.current_version(),
                    "applied": snap is not None,
                    "buckets": (snap.summary.get("dml_buckets") if snap else []),
                }
            )
        )
    elif a.cmd == "requeue":
        from pyspark.sql import functions as F

        from dataingestion_spark.sources.quarantine import requeue_quarantine

        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        fix = None
        if a.set:
            fixes = {}
            for item in a.set:
                col, _, expr = item.partition("=")
                if not _:
                    raise SystemExit(f"--set needs COL=SQL_EXPR, got {item!r}")
                fixes[col.strip()] = F.expr(expr)

            def fix(df, _fixes=fixes):
                return df.withColumns(_fixes)

        result = requeue_quarantine(
            tbl, a.quarantine, fix=fix,
            pipeline_id=a.pipeline_id,
            reasons=(
                [r.strip() for r in a.reasons.split(",") if r.strip()]
                if a.reasons
                else None
            ),
            constraints=list(cfg.constraints or []),
            write_mode=cfg.write_mode,
        )
        result["version"] = tbl.current_version()
        print(json.dumps(result))
    elif a.cmd == "sync":
        from dataingestion_spark.lake import sync_incremental

        cfg = DatasetConfig.load(a.config)
        src = LakeTable(spark, a.src_table)
        dst = bootstrap_table(spark, cfg, src.snapshot().schema)
        snap = sync_incremental(
            src, dst, pipeline_id=a.pipeline_id,
            write_mode=a.write_mode or cfg.write_mode,
        )
        _print_sync(src, dst, "dst_version", snap)
    elif a.cmd == "detect":
        from dataingestion_spark.sources.cdc_formats import detect_cdc_format

        sample = (
            spark.read.parquet(a.source)
            if a.source_format == "parquet"
            else spark.read.text(a.source)
        )
        try:
            fmt = detect_cdc_format(
                sample, value_col=a.value_col, sample_rows=a.sample_rows
            )
        except ValueError as e:
            # refusal is the contract: a wrong adapter is a correctness
            # bug, so ambiguity must stop the subscription setup
            print(json.dumps({"detected": None, "error": str(e)}))
            return 1
        print(json.dumps({"detected": fmt}))
    elif a.cmd == "scd2":
        from dataingestion_spark.lake.sync import sync_scd2

        src = LakeTable(spark, a.src_table)
        snap = sync_scd2(
            src, a.out, pipeline_id=a.pipeline_id,
            num_buckets=a.num_buckets, write_mode=a.write_mode,
        )
        _print_sync(src, LakeTable(spark, a.out), "history_version", snap)
    elif a.cmd == "subscribe":

        def _fields(spec: str) -> list[tuple[str, str]]:
            out = []
            for item in spec.split(","):
                name, _, typ = item.strip().partition(":")
                if not typ:
                    raise SystemExit(
                        f"field spec needs name:type, got {item!r}"
                    )
                out.append((name, typ))
            return out

        cfg = DatasetConfig.load(a.config)
        keys = _fields(a.key_fields)
        payload = _fields(a.payload_fields) if a.payload_fields else None
        if payload is not None:
            schema = T.StructType(
                [
                    T.StructField(n, T._parse_datatype_string(t))
                    for n, t in keys + payload
                ]
            )
            tbl = bootstrap_table(spark, cfg, schema)
        else:
            tbl = LakeTable(spark, cfg.table_path)
            if not tbl.exists():
                raise SystemExit(
                    "destination table does not exist: pass "
                    "--payload-fields to bootstrap it"
                )
        q = subscribe_feed(
            spark, cfg, a.feed, a.checkpoint,
            key_fields=keys, payload_fields=payload,
            lineage_path=a.lineage, trigger=a.trigger,
        )
        if a.await_seconds:
            q.awaitTermination(a.await_seconds)
            q.stop()
        else:
            q.awaitTermination()
        print(json.dumps({"version": tbl.current_version()}))
    elif a.cmd == "route":
        from dataingestion_spark.streaming.pipeline import route_changes

        routes, chains = {}, {}
        for path in (p.strip() for p in a.configs.split(",") if p.strip()):
            cfg = DatasetConfig.load(path)
            routes[cfg.name] = cfg
            if cfg.transformers:  # the chain `apply` builds, per route
                chains[cfg.name] = functools.partial(
                    apply_chain, chain=build_chain(cfg.transformers)
                )
            bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
        q = route_changes(
            spark, routes, a.source, a.checkpoint,
            table_col=a.table_col, on_unrouted=a.on_unrouted,
            quarantine_dir=a.quarantine, transformers=chains,
            lineage_path=a.lineage, trigger=a.trigger,
        )
        q.awaitTermination()
        print(
            json.dumps(
                {
                    name: LakeTable(spark, cfg.table_path).current_version()
                    for name, cfg in routes.items()
                }
            )
        )
    elif a.cmd == "feed":
        from dataingestion_spark.lake.sync import emit_feed

        src = LakeTable(spark, a.src_table)
        out = emit_feed(
            src, a.out, db=a.db, table_name=a.table_name, ts_col=a.ts_col
        )
        print(json.dumps(out))
    elif a.cmd == "vacuum":
        cfg = DatasetConfig.load(a.config)
        tbl = LakeTable(spark, cfg.table_path)
        expired = (
            tbl.expire_snapshots(keep_last=a.keep_last, dry_run=a.dry_run)
            if a.keep_last is not None
            else []
        )
        removed = tbl.vacuum(older_than_s=a.older_than, dry_run=a.dry_run)
        print(
            json.dumps(
                {
                    "expired_versions": expired,
                    "removed_data_files": len(removed["data"]),
                    "removed_manifest_files": len(removed["manifests"]),
                    "removed_key_files": len(removed["keys"]),
                    "dry_run": a.dry_run,
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
