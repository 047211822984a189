"""The two streaming pipelines, re-imagined from the reference's Phase-1 /
Phase-2 jobs on Structured Streaming + LakeTable.

Phase-1 analog - ``stage_changes``: tail a landing directory of change
files (the sandbox stand-in for the Kafka binlog topic,
/root/reference/spark/src/main/scala/com/example/Phase1Job.scala:51-79) and
append them, with provenance metadata, to a staged change-log directory
under an exactly-once file-sink checkpoint.

Phase-2 analog - ``apply_changes``: tail the staged change log and, per
micro-batch inside ``foreachBatch`` (the load-bearing bridge - MERGE is not
a native streaming sink, SURVEY.md §7.3):

  1. epoch-marker idempotency check (foreachBatch is at-least-once; the
     marker in the lake snapshot makes the apply exactly-once,
     reference design /root/reference/artifacts/lld/LLD.md:386),
  2. pluggable transformer chain (functions/transformers.py),
  3. schema gate + LWW dedup + salted MERGE (lake/table.py),
  4. lineage + metrics rows (streaming/lineage.py).

Resumability: the Structured Streaming checkpoint replays unfinished
epochs after a crash; markers de-duplicate the overlap. Restarting with the
same checkpoint dir continues from the last committed source offset.
"""

from __future__ import annotations

import contextlib
import hashlib
import shutil
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.streaming.lineage import LineageLog

# The reference's trigger menu (SparkUtils.scala:151-156): named cadences
# for long-running deployments plus the replay/backfill trigger.
TRIGGERS = {
    "fast": "30 seconds",
    "normal": "1 minute",
    "slow": "5 minutes",
}


def build_kafka_options(
    kafka_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Kafka source options, mirroring the reference's option builder
    (/root/reference/spark/src/main/scala/com/example/core/SparkUtils.scala:95-108):
    subscribe + offsets + failOnDataLoss=false + session/request timeouts,
    extended with the rate limit the design doc calls for
    (/root/reference/artifacts/lld/LLD.md:384)."""
    opts = {
        "kafka.bootstrap.servers": kafka_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
        "kafka.session.timeout.ms": "30000",
        "kafka.request.timeout.ms": "40000",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def _with_trigger(writer, trigger: str | None, available_now: bool):
    """Apply the trigger choice: a named cadence from TRIGGERS, an explicit
    interval string ('45 seconds'), or the replay default (availableNow
    when requested, else Spark's as-fast-as-possible default). Mirrors
    SparkUtils.scala:151-156 + Phase1Job.scala:78.

    The reference menu also lists ``continuous`` (SparkUtils.scala:151-156),
    but Spark's continuous processing mode supports neither file sources
    nor ``foreachBatch`` sinks - i.e. no source/sink combination this
    engine ships can ever run under it - so it is rejected (fail-fast at
    pipeline entry via _validate_trigger) instead of failing deep inside
    ``.start()``."""
    if trigger is not None:
        _validate_trigger(trigger)
        return writer.trigger(processingTime=TRIGGERS.get(trigger, trigger))
    if available_now:
        return writer.trigger(availableNow=True)
    return writer


def _validate_trigger(trigger: str | None) -> None:
    if trigger == "continuous":
        raise ValueError(
            "trigger='continuous' is not supported: Spark continuous "
            "processing works only with Kafka-like sources and simple "
            "sinks, never with file sources or foreachBatch (both of "
            "which this engine's pipelines use). Use a processing-time "
            "trigger ('fast'|'normal'|'slow'|'<interval>') or "
            "availableNow instead."
        )


def _start_batch_stream(
    spark: SparkSession, process_batch: Callable[[DataFrame, int], None],
    source_dir: str, checkpoint_dir: str, schema: T.StructType | None,
    source_format: str, reader_options: dict | None,
    max_files_per_trigger: int | None, max_bytes_per_trigger: int | str | None,
    trigger: str | None, available_now: bool,
) -> StreamingQuery:
    """Tail ``source_dir`` and hand each micro-batch to ``process_batch``
    under ``checkpoint_dir`` - the stream start-up of
    :func:`apply_changes` and :func:`route_changes`. ``schema=None``
    infers the schema from the parquet files already there."""
    if schema is None:
        if source_format != "parquet":
            raise ValueError(
                f"schema inference is parquet-only; pass an explicit "
                f"schema for source_format={source_format!r}"
            )
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    writer = (
        reader.format(source_format).load(source_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return _with_trigger(writer, trigger, available_now).start()


def _quarantine(
    df: DataFrame, config: DatasetConfig, pipeline_id: str, out_dir: str
) -> tuple[DataFrame, int]:
    """Split off ``df``'s unmergeable rows (sources/quarantine.py) and
    write them to ``out_dir``, overwritten so a replayed epoch rewrites
    the identical set; returns the mergeable rows and the count. The
    write is the one Spark job: an ``Observation`` on it counts the rows.
    Spark writes a schema-only file for zero rows, so a clean epoch then
    removes ``out_dir`` and the parents the write created - it leaves no
    directory, and ``requeue_quarantine`` finds no epoch to merge."""
    from dataingestion_spark.sources.quarantine import split_invalid

    df, bad = split_invalid(
        df, list(config.pk_fields), lsn_col=config.order_fields[0],
        constraints=list(config.constraints or []),
    )
    created = [p for p in Path(out_dir).parents if not p.exists()]
    obs = Observation()
    bad.withColumn("_q_pipeline", F.lit(pipeline_id)).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(out_dir)
    n_quarantined = obs.get["n"]
    if not n_quarantined:
        shutil.rmtree(out_dir)
        # innermost first; a parent another route wrote into stays
        with contextlib.suppress(OSError):
            for p in created:
                p.rmdir()
    return df, n_quarantined


def _merge(
    table: LakeTable, df: DataFrame, config: DatasetConfig,
    pipeline_id: str, epoch_id: int, lineage: LineageLog | None,
):
    """The exactly-once MERGE of one epoch under ``config``'s settings;
    with lineage on, the merge computes per-file offset ranges from its
    pinned batch so the lineage row never rescans the source."""
    return table.merge(
        df,
        pipeline_id=pipeline_id,
        epoch_id=epoch_id,
        fail_on_breaking=config.fail_on_breaking_schema,
        evolution_policy=config.evolution_policy,
        hot_key_threshold=config.hot_key_threshold,
        hot_key_min_rows=config.hot_key_min_rows,
        salt_buckets=config.salt_buckets,
        write_mode=config.write_mode,
        update_mode=config.update_mode,
        collect_file_stats=lineage is not None,
    )


def _record_epoch(
    lineage: LineageLog, pipeline_id: str, epoch_id: int, df: DataFrame,
    snap, t0: float, n_quarantined: int | None,
) -> None:
    """The lineage row of one epoch's merge or append started at ``t0``
    (``snap`` None: a replayed epoch its marker skipped)."""
    lineage.record_epoch(
        pipeline_id=pipeline_id,
        epoch_id=epoch_id,
        batch=df if snap is not None else None,
        applied_events=snap.summary.get("applied_events") if snap else 0,
        snapshot_version=snap.version if snap else None,
        duration_ms=int((time.time() - t0) * 1000),
        status="SUCCESS" if snap is not None else "SKIPPED_DUPLICATE_EPOCH",
        file_stats=snap.summary.get("file_stats") if snap else None,
        quarantined_events=n_quarantined,
    )


def stage_changes(
    spark: SparkSession,
    landing_dir: str,
    staged_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | str | None = None,
    available_now: bool = True,
    trigger: str | None = None,
    source_format: str = "parquet",
    kafka_options: dict[str, str] | None = None,
    dedup_within_watermark: str | None = None,
    dedup_keys: list[str] | None = None,
    event_time_col: str = "ts",
) -> StreamingQuery:
    """Phase-1: change source -> staged change log with provenance.

    ``dedup_within_watermark`` (e.g. "10 minutes") drops exact
    re-deliveries of the same (conv_id, turn_idx, lsn) ACROSS micro-batches
    at the staging stage via ``dropDuplicatesWithinWatermark`` - bounded
    state (keys are evicted once the watermark passes), so
    redelivery-heavy sources stop amplifying downstream staged volume.
    Purely an optimization: the apply-side LWW merge is idempotent to
    duplicates regardless, so late duplicates past the watermark remain
    correct.

    Source selection mirrors the reference's Phase-1
    (/root/reference/spark/src/main/scala/com/example/Phase1Job.scala:51-53):

      * ``parquet`` / ``json`` - tail a landing directory of change files
        (the sandbox stand-in for the binlog topic). ``schema=None`` on a
        json/parquet source infers the schema from the files already
        landed (the reference's inference path, Phase2Job.scala:67-76).
      * ``kafka`` - subscribe via build_kafka_options(); ``landing_dir``
        is ignored and ``kafka_options`` must carry the subscription. The
        sandbox has no broker, so this path is exercised as far as option
        construction + plan building in unit tests; the file stand-in is
        the tested end-to-end route.

    Rate limiting via maxFilesPerTrigger mirrors the reference's
    maxOffsetsPerTrigger (/root/reference/artifacts/lld/LLD.md:384);
    maxBytesPerTrigger adds the byte-based cap of the reference's tuning
    guide (PERFORMANCE_TUNING_GUIDE.md:86-88)."""
    _validate_trigger(trigger)
    if source_format == "kafka":
        if not kafka_options:
            raise ValueError("kafka source requires kafka_options")
        stream = spark.readStream.format("kafka").options(**kafka_options).load()
        # the reference stages CAST(value AS STRING) + a _meta struct of
        # source coordinates (Phase1Job.scala:60-64)
        staged = stream.select(
            F.col("value").cast("string").alias("json"),
            F.struct(
                F.col("topic"),
                F.col("partition"),
                F.col("offset"),
                F.col("timestamp"),
                F.col("key").cast("string").alias("key"),
            ).alias("_meta"),
        )
    else:
        if schema is None:
            # infer once, driver-side, from the already-landed files -
            # the streaming source itself requires an explicit schema
            inferred = (
                spark.read.format(source_format).load(landing_dir).schema
            )
            schema = inferred
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        if max_bytes_per_trigger:
            # byte-based rate cap alongside the file-count cap (reference
            # PERFORMANCE_TUNING_GUIDE.md:86-88); Spark accepts "10g"-style
            # size strings or a plain byte count
            reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
        stream = reader.format(source_format).load(landing_dir)
        if dedup_within_watermark:
            keys = dedup_keys or ["conv_id", "turn_idx", "lsn"]
            stream = stream.withWatermark(
                event_time_col, dedup_within_watermark
            ).dropDuplicatesWithinWatermark(keys)
        staged = stream.withColumn(
            "_meta",
            F.struct(
                F.input_file_name().alias("input_file"),
                F.current_timestamp().alias("staged_at"),
            ),
        )
    writer = (
        staged.writeStream.format("parquet")
        .option("path", staged_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    writer = _with_trigger(writer, trigger, available_now)
    return writer.start()


def apply_changes(
    spark: SparkSession,
    config: DatasetConfig,
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    lineage_path: str | None = None,
    transformers: list[Callable[[DataFrame], DataFrame]] | None = None,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | str | None = None,
    available_now: bool = True,
    trigger: str | None = None,
    quarantine_dir: str | None = None,
    source_format: str = "parquet",
    reader_options: dict | None = None,
    branch: str = "main",
) -> StreamingQuery:
    """Phase-2: staged change log -> exactly-once keyed MERGE into the lake.

    The target LakeTable must exist (create it with bootstrap_table).
    ``schema=None`` infers the change schema from the staged files
    (reference inference path, Phase2Job.scala:67-76); the per-batch schema
    gate still classifies every micro-batch against the table. ``trigger``
    selects a processing-time cadence (see TRIGGERS) for long-running
    deployments; the default availableNow serves replay/backfill.

    ``quarantine_dir`` enables the dead-letter path
    (sources/quarantine.py): rows that cannot be applied (null pk, null
    lsn, unknown op) are split off BEFORE the merge, written as parquet
    under ``<dir>/epoch=<n>`` (overwrite per epoch, so a replayed epoch
    rewrites the identical dead-letter set - idempotent alongside the
    merge's epoch markers), and counted in a QUARANTINE lineage row. The
    write is the split's one Spark job and also counts the rows; a clean
    epoch leaves no ``epoch=<n>`` directory.
    Without it the merge sees whatever the adapters produced, nulls and
    all - fine for trusted streams, fatal at 10^10 events of real CDC.

    ``branch`` targets a WAP branch (LakeTable.create_branch) instead of
    main: commits and epoch markers land on the branch chain, audits run
    against the branch head, and publish_branch atomically exposes the
    audited state to main readers - epoch markers ride along, so the
    resumed stream stays exactly-once against main after publish."""
    _validate_trigger(trigger)
    # Incremental view/history syncs are cursored by SOURCE CHAIN version
    # numbers. Running them off a WAP branch handle would stamp branch
    # versions into destinations that later continue from main's chain:
    # after publish, a main version <= the branch cursor silently skips
    # every sync, and past it read_changes would diff versions from two
    # DIFFERENT chains - wrong intervals with no error. Audit-stage data
    # also must not leak into published views; fail fast (E3 posture).
    if branch != "main" and (config.agg_views or config.scd2_history):
        raise ValueError(
            "agg_views / scd2_history cannot run against a WAP branch: "
            "their version cursors are chain-scoped and the branch chain "
            "ends at publish; run the syncs from a main-chain apply (or "
            "sync once after publish_branch)"
        )
    table = LakeTable(spark, config.table_path, branch=branch)
    lineage = LineageLog(spark, lineage_path) if lineage_path else None
    # Epoch ids are only meaningful relative to ONE checkpoint lineage -
    # foreachBatch restarts numbering at 0 for a fresh checkpoint dir. The
    # marker namespace therefore includes a checkpoint fingerprint: resuming
    # the same checkpoint dedups correctly, while a new checkpoint gets a
    # fresh namespace instead of silently skipping epochs 0..last.
    ckpt_tag = hashlib.md5(str(Path(checkpoint_dir).resolve()).encode()).hexdigest()[:8]
    pipeline_id = f"apply::{config.name}::{ckpt_tag}"

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        df = batch
        for fn in transformers or []:
            df = fn(df)
        n_quarantined = None
        if quarantine_dir is not None:
            df, n_quarantined = _quarantine(
                df, config, pipeline_id, f"{quarantine_dir}/epoch={epoch_id}"
            )
        if config.mode == "upsert":
            snap = _merge(table, df, config, pipeline_id, epoch_id, lineage)
            limit = config.compact_delta_files
            if snap is not None and limit:
                table.maybe_compact(max_delta_files_per_bucket=limit)
            if snap is not None:
                for spec in config.agg_views or []:
                    from dataingestion_spark.lake.sync import sync_aggregate

                    sync_aggregate(
                        table,
                        spec["path"],
                        group_cols=list(spec["group"]),
                        sums=list(spec.get("sums", [])),
                        mins=list(spec.get("mins", [])),
                        maxs=list(spec.get("maxs", [])),
                        pipeline_id=spec.get("pipeline_id", "aggsync"),
                    )
                if config.scd2_history:
                    from dataingestion_spark.lake.sync import sync_scd2

                    sync_scd2(table, config.scd2_history)
        else:
            snap = table.append(
                df.drop("op"),
                pipeline_id=pipeline_id,
                epoch_id=epoch_id,
                fail_on_breaking=config.fail_on_breaking_schema,
                evolution_policy=config.evolution_policy,
            )
        if lineage is not None:
            _record_epoch(
                lineage, pipeline_id, epoch_id, df, snap, t0, n_quarantined
            )

    return _start_batch_stream(
        spark, process_batch, source_dir, checkpoint_dir, schema,
        source_format, reader_options, max_files_per_trigger,
        max_bytes_per_trigger, trigger, available_now,
    )


def subscribe_feed(
    spark: SparkSession,
    config: DatasetConfig,
    feed_dir: str,
    checkpoint_dir: str,
    key_fields: list[tuple[str, str]],
    payload_fields: list[tuple[str, str]] | None = None,
    lineage_path: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    trigger: str | None = None,
) -> StreamingQuery:
    """STREAMING subscriber for an outbound feed directory
    (`lake.sync.emit_feed` - or any Debezium-envelope JSON-lines drop): a
    Structured Streaming file source tails the feed's range directories,
    `parse_debezium` recovers the canonical change relation per
    micro-batch, and the standard exactly-once MERGE applies it - the
    complete lake-to-lake CHAIN over a Kafka-shaped wire, both ends
    checkpointed (producer: emission cursor; consumer: file-source
    checkpoint + epoch markers).

    Ordering needs NOTHING from the transport: `source.lsn` in each
    envelope is the producing snapshot version, and the LWW merge orders
    by it - a micro-batch that picks up several range directories at once
    (catch-up) or re-delivers one (checkpoint replay) converges to the
    same state, the same argument the inbound binlog path makes.

    Glob discovery: the source path is ``<feed>/v*-*`` so new range
    directories published after the stream starts are picked up on the
    next trigger (the file source re-lists the glob per batch); the
    cursor file and in-flight ``_cursor_tmp*`` writes never match.

    ``payload_fields=None`` infers them from the DESTINATION table's
    current schema (every non-key column, as its table type) - the
    natural contract for a subscriber: it consumes exactly what its table
    stores, and after the destination evolves a column the next restart
    picks the wider shape up automatically.

    Upstream COLUMN RENAMES cross the wire by name (envelope images carry
    the producer's current names - the same contract a real Debezium
    topic has): when the source renames a column, rename the destination
    (`LakeTable.rename_column`) before consuming the first post-rename
    range, or a by-name extraction of the old name reads null. The
    destination's own rename is metadata-only, so the remedy is O(1)."""
    from dataingestion_spark.sources.cdc_formats import parse_debezium

    if payload_fields is None:
        tbl = LakeTable(spark, config.table_path)
        keys = {n for n, _ in key_fields}
        payload_fields = [
            (f.name, f.dataType.simpleString())
            for f in tbl.snapshot().schema.fields
            if f.name not in keys
        ]

    def _parse(df: DataFrame) -> DataFrame:
        # ts_ms/source_file are wire metadata, not table columns - keeping
        # them would schema-evolve the destination with transport artifacts
        return parse_debezium(
            df, payload_fields=payload_fields, key_fields=key_fields
        ).drop("ts_ms", "source_file")

    return apply_changes(
        spark,
        config,
        source_dir=f"{feed_dir}/v*-*",
        checkpoint_dir=checkpoint_dir,
        schema=T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        ),
        lineage_path=lineage_path,
        transformers=[_parse],
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
        trigger=trigger,
        source_format="json",
        reader_options={"pathGlobFilter": "part-*"},
    )


def route_changes(
    spark: SparkSession,
    routes: dict[str, DatasetConfig],
    source_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    table_col: str = "table",
    on_unrouted: str = "fail",
    quarantine_dir: str | None = None,
    lineage_path: str | None = None,
    transformers: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | str | None = None,
    available_now: bool = True,
    trigger: str | None = None,
    source_format: str = "parquet",
    reader_options: dict | None = None,
    route_parallelism: int = 4,
) -> StreamingQuery:
    """Multi-table CDC router (Debezium-server topic-routing analog): ONE
    change stream whose rows carry a ``table_col`` discriminator fans out
    into N lake tables, each with its own per-table exactly-once cursor.
    This is the server-side shape of real CDC at scale - a single binlog/
    WAL connector emits every table's changes interleaved; running one
    pipeline per table re-reads the wire N times, the router reads it
    once.

    Per micro-batch: pin the batch (one read feeds every route), list the
    DISTINCT table names present (one O(#tables)-row job - bounded by the
    route count, never by batch size), then for each matching route
    project to that table's CURRENT schema (wire schema is the UNION of
    all routed tables; columns a table doesn't declare are dropped for
    it - per-table schema evolution still works by evolving the TABLE,
    after which the projection passes the new column through) and run the
    standard exactly-once MERGE under pipeline id
    ``route::<name>::<ckpt_tag>``. A crash mid-fan-out replays the whole
    micro-batch; routes that already committed skip via their epoch
    markers, so each table is exactly-once independently (markers need
    not be contiguous - an epoch with no rows for a table is simply
    absent from its history).

    ``on_unrouted``: ``"fail"`` (default) aborts the batch when the
    stream carries a table name with no route OR a NULL discriminator -
    the fail-fast contract for a misconfigured connector; ``"ignore"``
    drops those rows, recorded when lineage is enabled as a
    ``DROPPED_UNROUTED`` epoch row carrying the dropped count.
    ``transformers`` maps route name to a per-route transform applied
    before the gate.

    ``quarantine_dir`` enables the per-route dead-letter gate: each
    route's unmergeable rows (null pk/lsn, unknown op, that route's
    CHECK-constraint violations) land under ``<dir>/<route>/epoch=<n>``
    (overwrite per epoch - idempotent beside the markers), replayable
    per table with ``requeue_quarantine``.

    A route's config is applied as far as its MERGE goes (pk, order,
    schema policy, write/update mode, constraints, salting); a config
    that also asks for ``mode="append"``, ``compact_delta_files``,
    ``agg_views`` or ``scd2_history`` is refused up front - run that
    table through :func:`apply_changes` instead.

    ``route_parallelism`` (default 4) runs the per-route merges as
    CONCURRENT Spark job chains - safe because routes target different
    tables (no shared commit chain) and a win at scale: N small routes
    keep the cluster busy instead of serializing N job chains through
    the driver loop. Any route failure fails the
    whole batch, so the checkpoint replays it and committed routes skip
    via their markers. ``route_parallelism=1`` restores strictly
    sequential (deterministic-order) execution."""
    if on_unrouted not in ("fail", "ignore"):
        raise ValueError(f"on_unrouted must be fail|ignore, got {on_unrouted!r}")
    if route_parallelism < 1:
        raise ValueError("route_parallelism must be >= 1")
    for name, cfg in routes.items():
        for field, value in (
            ("mode", cfg.mode != "upsert" and cfg.mode),
            ("compact_delta_files", cfg.compact_delta_files),
            ("agg_views", cfg.agg_views),
            ("scd2_history", cfg.scd2_history),
        ):
            if value:
                raise ValueError(
                    f"route {name!r} sets {field}={value!r}, which "
                    "route_changes does not apply; run that table "
                    "through apply_changes"
                )
    _validate_trigger(trigger)
    tables = {name: LakeTable(spark, cfg.table_path) for name, cfg in routes.items()}
    lineage = LineageLog(spark, lineage_path) if lineage_path else None
    ckpt_tag = hashlib.md5(
        str(Path(checkpoint_dir).resolve()).encode()
    ).hexdigest()[:8]

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        if table_col not in batch.columns:
            raise ValueError(
                f"route_changes needs discriminator column {table_col!r} "
                f"in the stream; got {batch.columns}"
            )
        batch = batch.persist()
        try:
            names = [
                r[0] for r in batch.select(table_col).distinct().collect()
            ]
            present = sorted(n for n in names if n is not None)
            # a NULL discriminator is unrouted too - the malformed-stream
            # case the fail-fast contract exists for
            unrouted = [n for n in present if n not in routes] + (
                ["<NULL>"] if any(n is None for n in names) else []
            )
            if unrouted and on_unrouted == "fail":
                raise ValueError(
                    f"no route for table(s) {unrouted}; routes know "
                    f"{sorted(routes)} (on_unrouted='ignore' to drop)"
                )
            if unrouted and lineage is not None:
                dropped = batch.filter(
                    F.col(table_col).isNull()
                    | ~F.col(table_col).isin(list(routes))
                ).count()
                lineage.record_epoch(
                    pipeline_id=f"route::<unrouted>::{ckpt_tag}",
                    epoch_id=epoch_id,
                    batch=None,
                    applied_events=0,
                    snapshot_version=None,
                    duration_ms=0,
                    status="DROPPED_UNROUTED",
                    quarantined_events=dropped,
                )
            def _apply_route(name: str) -> None:
                cfg, tbl = routes[name], tables[name]
                t0 = time.time()
                df = batch.filter(F.col(table_col) == name).drop(table_col)
                fn = (transformers or {}).get(name)
                if fn is not None:
                    df = fn(df)
                n_quarantined = None
                pipeline_id = f"route::{name}::{ckpt_tag}"
                if quarantine_dir is not None:
                    df, n_quarantined = _quarantine(
                        df, cfg, pipeline_id,
                        f"{quarantine_dir}/{name}/epoch={epoch_id}",
                    )
                declared = {f.name for f in tbl.snapshot().schema.fields}
                keep = [
                    c
                    for c in df.columns
                    if c in declared
                    or c in ("op", "source_file")
                    or c in cfg.order_fields
                ]
                df = df.select(*keep)
                snap = _merge(tbl, df, cfg, pipeline_id, epoch_id, lineage)
                if lineage is not None:
                    # concurrent routes each write their own lineage file
                    _record_epoch(
                        lineage, pipeline_id, epoch_id, df, snap, t0,
                        n_quarantined,
                    )

            routed = [n for n in present if n in routes]
            # Routes target DIFFERENT tables, so their merges share no
            # commit chain - run them as concurrent Spark job chains
            # (the classic scheduler-pool fan-out) instead of
            # serializing N full job chains in the driver loop. At
            # route_parallelism=1 behavior is the sequential original.
            if route_parallelism > 1 and len(routed) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(route_parallelism, len(routed))
                ) as pool:
                    # list() propagates the FIRST route failure - the
                    # batch must fail so the checkpoint replays it
                    list(pool.map(_apply_route, routed))
            else:
                for name in routed:
                    _apply_route(name)
        finally:
            batch.unpersist()

    return _start_batch_stream(
        spark, process_batch, source_dir, checkpoint_dir, schema,
        source_format, reader_options, max_files_per_trigger,
        max_bytes_per_trigger, trigger, available_now,
    )


def bootstrap_table(
    spark: SparkSession, config: DatasetConfig, schema: T.StructType
) -> LakeTable:
    """Create the target lake table if absent (idempotent)."""
    tbl = LakeTable(spark, config.table_path)
    if tbl.exists():
        return tbl
    Path(config.table_path).mkdir(parents=True, exist_ok=True)
    return LakeTable.create(
        spark,
        config.table_path,
        schema,
        pk_fields=config.pk_fields,
        order_fields=config.order_fields,
        num_buckets=config.num_buckets,
    )
