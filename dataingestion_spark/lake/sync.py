"""Incremental table-to-table sync and incremental aggregate
maintenance: chain CDC pipelines off the lake.

`sync_incremental(src, dst)` propagates committed changes from one lake
table into another by reading the changelog since the last synced source
version (`LakeTable.read_changes`) and MERGE-ing it downstream — the
medallion bronze→silver pattern, or a filtered/projected serving copy.
The reference ships one hop (Kafka → lake,
/root/reference/spark/src/main/scala/com/example/Phase2Job.scala); this
operator makes the lake itself a change SOURCE so hops compose.

Exactly-once without a new mechanism: the SOURCE SNAPSHOT VERSION is the
downstream epoch id, so the destination's existing epoch-marker
idempotency dedupes redeliveries — a crash after the destination commit
re-reads the same version range and is skipped whole; a crash before it
replays the same diff (the diff is a pure function of two immutable
snapshots, so the retry is byte-identical).

Scale shape: each hop costs one `read_changes` plus one ordinary MERGE
of the net diff. The diff is priced by the range's change volume: it
reads only the buckets whose manifests changed since the last sync, and
when the range holds only merges and compactions it ships just the keys
those merges wrote through one pk exchange; any other commit in the
range (DML, append, rollback, rebucket, publish), a null lsn, an event
at or below an lsn the last synced snapshot already stores, or a
change volume as large as the changed buckets makes it exchange those
buckets whole, never the table. Because the diff is NET, a key
updated k times between syncs crosses the wire once — downstream write
amplification is bounded by the net change rate, not the upstream event
rate.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from dataingestion_spark.lake.table import LakeTable, Snapshot


RESERVED_BATCH_COLS = ("op", "lsn", "source_file")


def _check_reserved(cols, context: str) -> None:
    """The change-batch envelope appends literal op/lsn/source_file
    columns; a source whose USER schema already carries any of these
    names would yield duplicate columns and ambiguous references in the
    downstream merge. Fail fast with the fix instead."""
    clash = [c for c in RESERVED_BATCH_COLS if c in cols]
    if clash:
        raise ValueError(
            f"{context}: source schema already contains reserved "
            f"change-batch column(s) {clash}; rename them before syncing"
        )


def changes_to_batch(diff: DataFrame, lsn: int) -> DataFrame:
    """Convert a read_changes diff into a merge-able change batch:
    change_type → op (insert/update → full-row UPSERT semantics via
    INSERT/UPDATE, delete → DELETE), with the source snapshot version as
    the batch-wide lsn. One row per key (net diff), so in-batch LWW is
    trivially satisfied; across syncs the version is strictly increasing,
    so late redeliveries order correctly."""
    _check_reserved(
        [c for c in diff.columns if c != "change_type"], "changes_to_batch"
    )
    return diff.select(
        F.when(F.col("change_type") == "insert", F.lit("INSERT"))
        .when(F.col("change_type") == "update", F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
        .alias("op"),
        *[c for c in diff.columns if c != "change_type"],
        F.lit(lsn).cast("long").alias("lsn"),
        F.lit(f"sync@v{lsn}").alias("source_file"),
    )


def sync_incremental(
    src: LakeTable,
    dst: LakeTable,
    pipeline_id: str = "sync",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    write_mode: str = "cow",
) -> Snapshot | None:
    """One incremental hop: merge into ``dst`` everything committed to
    ``src`` since the last sync under ``pipeline_id``.

    ``transform`` (optional) maps the change batch (op + source columns)
    before the merge — project, filter, derive; it must keep the op/lsn
    columns and the pk. Filtering WHOLE KEYS out is safe (their deletes
    are filtered consistently too); value-dependent row filters are the
    caller's responsibility to keep consistent across updates.

    Returns the destination snapshot, or None when the source has no new
    commits. The FIRST sync seeds the destination with the source's full
    current state (as INSERTs), so it is correct even when the source's
    early snapshots have been expired; later syncs are incremental and
    raise if the cursor predates the source's retained history
    (expire_snapshots outran this consumer — the Kafka retention-loss
    analog; drop the destination's cursor to re-seed)."""
    cur = src.current_version()
    last = dst.last_applied_epoch(pipeline_id)
    if last >= cur:
        return None
    if last == -1:
        # initial seed: full state at cur, op=INSERT
        state = src.read(version=cur)
        _check_reserved(state.columns, "sync_incremental seed")
        batch = state.select(
            F.lit("INSERT").alias("op"),
            *state.columns,
            F.lit(cur).cast("long").alias("lsn"),
            F.lit(f"sync@v{cur}").alias("source_file"),
        )
        from_v = None
    else:
        retained = src.retained_versions()
        if last not in retained:
            raise ValueError(
                f"sync cursor v{last} expired from source history "
                f"(oldest retained: v{retained[0]}); re-seed the destination"
            )
        from_v = last
        batch = changes_to_batch(src.read_changes(from_v, cur), lsn=cur)
    if transform is not None:
        batch = transform(batch)
    return dst.merge(
        batch,
        pipeline_id=pipeline_id,
        epoch_id=cur,
        write_mode=write_mode,
        lineage={"sync_from": from_v, "sync_to": cur},
    )


# ----------------------------------------------------------------------
# incremental aggregate maintenance (materialized-view sync)
# ----------------------------------------------------------------------


def aggregate_schema(
    src_schema,
    group_cols: list[str],
    sums: list[str],
    count_col: str,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
):
    """Destination schema for an aggregate view: the group columns (types
    from the source), a long row count, one sum column per summed source
    column - long for integral inputs, double otherwise (matching what a
    plain groupBy().agg() would produce) - and one min_/max_ column per
    extremum-tracked column, typed as the source column (min/max preserve
    type)."""
    from pyspark.sql import types as T

    fields = [src_schema[c] for c in group_cols]
    fields.append(T.StructField(count_col, T.LongType(), True))
    for c in sums:
        integral = isinstance(
            src_schema[c].dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
        fields.append(
            T.StructField(
                f"sum_{c}", T.LongType() if integral else T.DoubleType(), True
            )
        )
    for c in mins or []:
        fields.append(T.StructField(f"min_{c}", src_schema[c].dataType, True))
    for c in maxs or []:
        fields.append(T.StructField(f"max_{c}", src_schema[c].dataType, True))
    return T.StructType(fields)


def sync_aggregate(
    src: LakeTable,
    dst: "LakeTable | str",
    group_cols: list[str],
    sums: list[str] | None = None,
    count_col: str = "n_rows",
    pipeline_id: str = "aggsync",
    num_buckets: int = 32,
    write_mode: str = "cow",
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
) -> Snapshot | None:
    """Incrementally maintain a grouped aggregate of ``src`` (COUNT(*) +
    SUM(col)s + MIN/MAX(col)s per ``group_cols``) as its own lake table -
    incremental view maintenance off the changelog, the pattern that
    turns "recompute the conversation stats over 100 TB nightly" into
    "apply the deltas of what actually changed".

    Per sync: one ``read_changes(last, cur, include_preimages=True)``
    (bucket-pruned to changed source manifests), a map-side-combinable
    delta aggregate (+1/+val for insert and update_postimage rows,
    -1/-val for delete and update_preimage rows - so updates that MOVE a
    row between groups transfer it correctly), a point-lookup of the
    affected groups' current values (``read_keys`` - priced by the
    touched groups, never the view), and one MERGE writing the new
    totals; groups whose count reaches zero are deleted. Cost scales with
    the CHANGE volume, not the source size.

    COUNT and SUM are self-maintainable under deletes (subtract the
    preimage). MIN/MAX are the classic IVM hard case: a delete can evict
    the current extremum, and no view-local arithmetic can name the
    runner-up. Insert-only groups still fold cheaply
    (least/greatest against the stored value); a group that saw ANY
    remove event this sync (delete or update preimage) is DIRTY and its
    extrema are recomputed from the source - pruned to exactly the dirty
    groups via ``read_prefix`` when ``group_cols`` is a leading pk
    prefix (the bucket transform hashes the first pk field, so the
    recompute touches only the dirty groups' buckets - the natural
    per-conversation view never rescans the table), else via a broadcast
    semi-join of the dirty group keys against the source (change-bounded
    group count, but a full scan; prefer pk-prefix groupings at scale).

    Exactly-once rides the same mechanism as :func:`sync_incremental`:
    the source snapshot version is the destination epoch id (and the
    batch lsn), so crash-replays are skipped whole and the retried diff
    is byte-identical. The first sync seeds with a full groupBy at the
    current version. Rows whose group key is NULL are excluded (a lake
    pk cannot be null; SQL oracles should filter the same way).

    Caveat: sums over floating columns accumulate the usual FP
    reassociation drift relative to a fresh recompute; counts and
    integral sums are exact, and min/max are exact (dirty groups are
    recomputed, never approximated)."""
    sums = list(sums or [])
    mins = list(mins or [])
    maxs = list(maxs or [])
    if isinstance(dst, (str,)) or hasattr(dst, "__fspath__"):
        path = dst
        probe = LakeTable(src.spark, path)
        if probe.exists():
            dst = probe
        else:
            dst = LakeTable.create(
                src.spark,
                path,
                aggregate_schema(
                    src.snapshot().schema, group_cols, sums, count_col,
                    mins=mins, maxs=maxs,
                ),
                pk_fields=list(group_cols),
                order_fields=["lsn"],
                num_buckets=num_buckets,
            )
    want_cols = {f.name for f in aggregate_schema(
        src.snapshot().schema, group_cols, sums, count_col,
        mins=mins, maxs=maxs,
    ).fields}
    have_cols = {f.name for f in dst.snapshot().schema.fields}
    if list(dst.snapshot().pk_fields) != list(group_cols) or want_cols != have_cols:
        raise ValueError(
            "destination is not the aggregate view this call describes "
            f"(pk {dst.snapshot().pk_fields} vs group {group_cols}, "
            f"columns {sorted(have_cols)} vs {sorted(want_cols)}); "
            "point at a fresh path or match the original group/sum spec"
        )
    cur = src.current_version()
    last = dst.last_applied_epoch(pipeline_id)
    if last >= cur:
        return None

    key_ok = None
    for c in group_cols:
        cond = F.col(c).isNotNull()
        key_ok = cond if key_ok is None else (key_ok & cond)

    sum_cols = [f"sum_{c}" for c in sums]
    ext_cols = [f"min_{c}" for c in mins] + [f"max_{c}" for c in maxs]

    def _merge_totals(totals: DataFrame) -> Snapshot | None:
        batch = totals.select(
            F.when(F.col(count_col) > 0, F.lit("UPSERT"))
            .otherwise(F.lit("DELETE"))
            .alias("op"),
            *group_cols,
            *[
                F.when(F.col(count_col) > 0, F.col(c)).alias(c)
                for c in [count_col, *sum_cols, *ext_cols]
            ],
            F.lit(cur).cast("long").alias("lsn"),
            F.lit(f"aggsync@v{cur}").alias("source_file"),
        )
        return dst.merge(
            batch,
            pipeline_id=pipeline_id,
            epoch_id=cur,
            write_mode=write_mode,
            lineage={"aggsync_from": None if last == -1 else last, "aggsync_to": cur},
        )

    if last == -1:
        state = src.read(version=cur).filter(key_ok)
        totals = state.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias(count_col),
            *[F.sum(F.col(c)).cast(
                aggregate_schema(src.snapshot().schema, group_cols, [c], count_col)[f"sum_{c}"].dataType
            ).alias(f"sum_{c}") for c in sums],
            *[F.min(F.col(c)).alias(f"min_{c}") for c in mins],
            *[F.max(F.col(c)).alias(f"max_{c}") for c in maxs],
        )
        return _merge_totals(totals)

    retained = src.retained_versions()
    if last not in retained:
        raise ValueError(
            f"aggregate-sync cursor v{last} expired from source history "
            f"(oldest retained: v{retained[0]}); re-seed the destination"
        )
    # persist (NOT checkpoint): the diff feeds the group-delta
    # aggregate, the affected-group point lookup, and the merge's
    # multi-pass batch evaluation - cache the diff once instead of
    # once per consumer while staying recoverable under executor loss
    # (lost cache blocks recompute via lineage; unpersisted in the
    # finally below).
    diff = (
        src.read_changes(last, cur, include_preimages=True)
        .filter(key_ok)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        sign = F.when(
            F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        deltas = diff.groupBy(*group_cols).agg(
            F.sum(sign).alias("_d_count"),
            *[
                F.sum(
                    F.when(F.col(c).isNotNull(), sign * F.col(c))
                ).alias(f"_d_sum_{c}")
                for c in sums
            ],
            # extrema deltas: candidate min/max among ADDED rows fold
            # cheaply; any REMOVE marks the group dirty (the removed value
            # might have been the stored extremum, and the view cannot name
            # the runner-up - see the docstring)
            *[F.min(F.when(sign == 1, F.col(c))).alias(f"_a_min_{c}") for c in mins],
            *[F.max(F.when(sign == 1, F.col(c))).alias(f"_a_max_{c}") for c in maxs],
            *(
                [
                    F.max(
                        F.when(sign == -1, F.lit(1)).otherwise(F.lit(0))
                    ).alias("_dirty")
                ]
                if (mins or maxs)
                else []
            ),
        )
        # No emptiness probe: merge the (possibly empty) totals unconditionally.
        # A version that advanced with no net row changes (compaction, DML
        # no-op) flows through as an EMPTY batch, and the merge's existing
        # empty-batch path commits the epoch marker - the take(1) probe would
        # re-run the whole delta aggregate once per sync just to decide this.
        old = dst.read_keys(deltas.select(*group_cols))
        agg_types = aggregate_schema(src.snapshot().schema, group_cols, sums, count_col)
        joined = old.join(deltas, on=list(group_cols), how="full_outer")
        totals = joined.select(
            *group_cols,
            (
                F.coalesce(F.col(count_col), F.lit(0))
                + F.coalesce(F.col("_d_count"), F.lit(0))
            ).cast("long").alias(count_col),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"_d_sum_{c}"), F.lit(0))
                ).cast(agg_types[f"sum_{c}"].dataType).alias(f"sum_{c}")
                for c in sums
            ],
            # least/greatest skip nulls: a brand-new group takes the add-side
            # candidate, an add-free group keeps the stored extremum; dirty
            # groups get these folded values REPLACED by the recompute below
            *[
                F.least(F.col(f"min_{c}"), F.col(f"_a_min_{c}")).alias(f"min_{c}")
                for c in mins
            ],
            *[
                F.greatest(F.col(f"max_{c}"), F.col(f"_a_max_{c}")).alias(f"max_{c}")
                for c in maxs
            ],
            *(
                [F.coalesce(F.col("_dirty"), F.lit(0)).alias("_dirty")]
                if (mins or maxs)
                else []
            ),
        )
        if mins or maxs:
            dirty = totals.filter(F.col("_dirty") == 1).select(*group_cols)
            pk_prefix = list(src.snapshot().pk_fields)[: len(group_cols)]
            if list(group_cols) == pk_prefix:
                # the bucket transform hashes the first pk field, so the
                # recompute is pruned to exactly the dirty groups' buckets
                rows = src.read_prefix(dirty, version=cur)
            else:
                # non-pk grouping: change-bounded group count, but a source
                # scan (broadcast semi-join keeps only the dirty groups)
                rows = src.read(version=cur).join(
                    F.broadcast(dirty), on=list(group_cols), how="left_semi"
                )
            rec = rows.filter(key_ok).groupBy(*group_cols).agg(
                *[F.min(F.col(c)).alias(f"_r_min_{c}") for c in mins],
                *[F.max(F.col(c)).alias(f"_r_max_{c}") for c in maxs],
            )
            totals = totals.join(rec, on=list(group_cols), how="left").select(
                *group_cols,
                count_col,
                *sum_cols,
                *[
                    F.when(F.col("_dirty") == 1, F.col(f"_r_min_{c}"))
                    .otherwise(F.col(f"min_{c}"))
                    .alias(f"min_{c}")
                    for c in mins
                ],
                *[
                    F.when(F.col("_dirty") == 1, F.col(f"_r_max_{c}"))
                    .otherwise(F.col(f"max_{c}"))
                    .alias(f"max_{c}")
                    for c in maxs
                ],
            )
        return _merge_totals(totals)
    finally:
        diff.unpersist()


# ----------------------------------------------------------------------
# SCD Type-2 history maintenance (full-history sync)
# ----------------------------------------------------------------------


SCD2_COLS = ("valid_from_lsn", "valid_to_lsn", "is_current")


def scd2_schema(src_schema):
    """Destination schema for an SCD2 history table: every source column
    plus the validity interval - ``valid_from_lsn`` (source snapshot
    version that made this row-version current), ``valid_to_lsn`` (source
    version that superseded it; NULL while current) and the conventional
    ``is_current`` flag (redundant with valid_to IS NULL, kept because
    every Kimball-style consumer filters on it)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            *src_schema.fields,
            T.StructField("valid_from_lsn", T.LongType(), True),
            T.StructField("valid_to_lsn", T.LongType(), True),
            T.StructField("is_current", T.BooleanType(), True),
        ]
    )


def sync_scd2(
    src: LakeTable,
    dst: "LakeTable | str",
    pipeline_id: str = "scd2sync",
    num_buckets: int = 32,
    write_mode: str = "cow",
) -> Snapshot | None:
    """Incrementally maintain a TYPE-2 SLOWLY-CHANGING-DIMENSION history
    of ``src`` as its own lake table: where :func:`sync_incremental`
    mirrors the source's CURRENT state, this keeps every row-version a
    key has ever held, intervaled by source snapshot version - the
    "what did this conversation look like last Tuesday, and when did it
    change" table that warehouse modelers hand-build on top of Debezium
    feeds (the pattern the reference's upsert lake cannot answer without
    replaying the raw changelog from zero).

    Destination layout: source columns + (valid_from_lsn, valid_to_lsn,
    is_current), pk = source pk + valid_from_lsn, so a key's versions
    are adjacent in the same bucket (the bucket transform hashes the
    FIRST pk field - whole-history fetches for one key are read_prefix
    point reads, and closures below are bucket-pruned the same way).

    Per sync (last -> cur):

      * net diff = ``read_changes(last, cur)`` (bucket-pruned to changed
        source manifests, one row per changed key);
      * CLOSE: keys updated or deleted get their current history row
        rewritten with ``valid_to_lsn = cur, is_current = false``. The
        row to close is found with ``read_prefix`` over the changed
        keys (priced by those keys' buckets, never the history table);
      * OPEN: inserted/updated keys get a fresh row-version
        (``valid_from_lsn = cur``, open-ended, current) - an UPSERT at a
        brand-new pk (key, cur).

    History granularity is the SYNC CADENCE, not the event stream: a key
    updated k times between syncs contributes ONE transition (the net
    diff), and a key inserted and deleted entirely between syncs
    contributes none - same contract as every changelog consumer here.
    Intermediate intra-epoch states were never committed table states,
    so the history records exactly the sequence of states the source
    table actually exposed.

    Exactly-once rides the source-version-as-epoch mechanism of
    :func:`sync_incremental`: a crash after the destination commit is
    skipped whole; a crash before replays a byte-identical batch (pure
    function of two immutable snapshots). The first sync seeds the
    history with the source's full current state (all current, opened at
    the seed version); an expired cursor raises (re-seed at a fresh
    path). Cost per sync scales with the change volume - one changelog
    read, one prefix lookup of the changed keys, one merge - never with
    the accumulated history size."""
    if isinstance(dst, (str,)) or hasattr(dst, "__fspath__"):
        path = dst
        probe = LakeTable(src.spark, path)
        if probe.exists():
            dst = probe
        else:
            _check_reserved(
                [f.name for f in src.snapshot().schema.fields],
                "sync_scd2",
            )
            clash = [
                c for c in SCD2_COLS
                if c in {f.name for f in src.snapshot().schema.fields}
            ]
            if clash:
                raise ValueError(
                    f"sync_scd2: source schema already carries {clash}; "
                    "rename them before building a history table"
                )
            dst = LakeTable.create(
                src.spark,
                path,
                scd2_schema(src.snapshot().schema),
                pk_fields=[*src.snapshot().pk_fields, "valid_from_lsn"],
                order_fields=["lsn"],
                num_buckets=num_buckets,
            )
    src_pk = list(src.snapshot().pk_fields)
    want_pk = [*src_pk, "valid_from_lsn"]
    want = {f.name for f in scd2_schema(src.snapshot().schema).fields}
    have = {f.name for f in dst.snapshot().schema.fields}
    if list(dst.snapshot().pk_fields) != want_pk or want != have:
        raise ValueError(
            "destination is not the SCD2 history of this source "
            f"(pk {dst.snapshot().pk_fields} vs {want_pk}, "
            f"columns {sorted(have)} vs {sorted(want)}); "
            "point at a fresh path"
        )
    cur = src.current_version()
    last = dst.last_applied_epoch(pipeline_id)
    if last >= cur:
        return None

    src_cols = [f.name for f in src.snapshot().schema.fields]

    def _envelope(rows: DataFrame, op: str) -> DataFrame:
        return rows.select(
            F.lit(op).alias("op"),
            *[c for c in rows.columns],
            F.lit(cur).cast("long").alias("lsn"),
            F.lit(f"scd2sync@v{cur}").alias("source_file"),
        )

    def _merge(batch: DataFrame) -> Snapshot | None:
        return dst.merge(
            batch,
            pipeline_id=pipeline_id,
            epoch_id=cur,
            write_mode=write_mode,
            lineage={
                "scd2sync_from": None if last == -1 else last,
                "scd2sync_to": cur,
            },
        )

    def _open(rows: DataFrame) -> DataFrame:
        return rows.select(
            *src_cols,
            F.lit(cur).cast("long").alias("valid_from_lsn"),
            F.lit(None).cast("long").alias("valid_to_lsn"),
            F.lit(True).alias("is_current"),
        )

    if last == -1:
        return _merge(_envelope(_open(src.read(version=cur)), "INSERT"))

    retained = src.retained_versions()
    if last not in retained:
        raise ValueError(
            f"scd2 cursor v{last} expired from source history "
            f"(oldest retained: v{retained[0]}); re-seed the history"
        )
    # persist (NOT checkpoint): the diff (one pk exchange over the
    # changed buckets' rows) feeds BOTH the closures' key lookup and the
    # opens, and the merge evaluates its batch more than once - cache
    # the diff once instead of re-running it per consumer, while a lost
    # executor's blocks recompute via lineage (a checkpoint's would
    # fail the sync unrecoverably).
    diff = src.read_changes(last, cur).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # CLOSE the superseded versions: the changed keys' current rows,
        # found via a bucket-pruned prefix lookup (the history pk leads
        # with the source pk), rewritten with the closing interval bound
        changed = diff.filter(F.col("change_type") != "insert").select(*src_pk)
        closures = (
            dst.read_prefix(changed)
            .filter(F.col("is_current"))
            .select(
                *src_cols,
                "valid_from_lsn",
                F.lit(cur).cast("long").alias("valid_to_lsn"),
                F.lit(False).alias("is_current"),
            )
        )
        # OPEN the new versions at (key, cur)
        opens = _open(diff.filter(F.col("change_type") != "delete"))
        batch = _envelope(closures, "UPSERT").unionByName(
            _envelope(opens, "INSERT")
        )
        return _merge(batch)
    finally:
        diff.unpersist()


# ----------------------------------------------------------------------
# incremental LSH band-index maintenance (secondary-index sync)
# ----------------------------------------------------------------------


def band_index_schema(src_schema, id_col: str):
    """Destination schema for a band index: the doc id (type from the
    source), the band ordinal, and the band hash."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            src_schema[id_col],
            T.StructField("band_idx", T.IntegerType(), True),
            T.StructField("band_hash", T.StringType(), True),
        ]
    )


def sync_band_index(
    src: LakeTable,
    dst: "LakeTable | str",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    pipeline_id: str = "lshsync",
    num_buckets: int = 32,
    write_mode: str = "cow",
) -> Snapshot | None:
    """Incrementally maintain the MinHash-LSH band index of a document
    lake table as its own lake table - the secondary-index analog of
    :func:`sync_aggregate`. The index relation is
    (id, band_idx, band_hash), pk (id, band_idx): exactly what
    `operators/dedup.py lsh_candidates` joins on, so near-dup candidate
    generation against a 100 TB corpus becomes one equi-join of the
    PRE-COMPUTED index with itself (or with a new batch's band rows)
    instead of re-shingling the corpus per run.

    Per sync: one ``read_changes`` (bucket-pruned to changed source
    manifests), re-shingle/minhash/band ONLY the changed docs'
    post-images, then one MERGE:

      * docs with live post-image text -> UPSERT their ``num_bands``
        rows (a changed text changes every band hash, same keys);
      * deleted docs AND docs whose new text yields no shingles (null /
        shorter than ``n`` tokens) -> DELETE all ``num_bands`` keys.

    The dichotomy is sound because every indexed doc has exactly 0 or
    ``num_bands`` rows (`band_relation`'s invariant). Cost scales with
    the CHANGE volume (shingling is per changed doc, the merge is
    bucket-pruned by the index's own layout), never the corpus.

    Exactly-once rides the source-version-as-epoch mechanism of
    :func:`sync_incremental`; the first sync seeds from the full current
    state; an expired cursor raises (re-seed at a fresh path). The
    (n, num_hashes, num_bands, text_col) spec is RECORDED in the index
    table's snapshot properties at creation and validated on every later
    sync - a call with a different spec raises instead of silently
    mixing hash families in one index."""
    from dataingestion_spark.operators.dedup import band_relation

    spec = {
        "id_col": id_col, "text_col": text_col,
        "n": n, "num_hashes": num_hashes, "num_bands": num_bands,
    }
    if isinstance(dst, (str,)) or hasattr(dst, "__fspath__"):
        path = dst
        probe = LakeTable(src.spark, path)
        if probe.exists():
            dst = probe
        else:
            dst = LakeTable.create(
                src.spark,
                path,
                band_index_schema(src.snapshot().schema, id_col),
                pk_fields=[id_col, "band_idx"],
                order_fields=["lsn"],
                num_buckets=num_buckets,
                properties={"lsh_spec": spec},
            )
    want = {f.name for f in band_index_schema(src.snapshot().schema, id_col).fields}
    have = {f.name for f in dst.snapshot().schema.fields}
    if list(dst.snapshot().pk_fields) != [id_col, "band_idx"] or want != have:
        raise ValueError(
            "destination is not the band index this call describes "
            f"(pk {dst.snapshot().pk_fields} vs [{id_col!r}, 'band_idx'], "
            f"columns {sorted(have)} vs {sorted(want)}); "
            "point at a fresh path or match the original spec"
        )
    stored = dst.snapshot().properties.get("lsh_spec")
    if stored is not None and stored != spec:
        raise ValueError(
            f"band index at {dst.root} was built with spec {stored}; "
            f"this call passed {spec} - one index, one hash family "
            "(use a fresh path for a new spec)"
        )
    cur = src.current_version()
    last = dst.last_applied_epoch(pipeline_id)
    if last >= cur:
        return None

    def _merge(batch: DataFrame) -> Snapshot | None:
        return dst.merge(
            batch,
            pipeline_id=pipeline_id,
            epoch_id=cur,
            write_mode=write_mode,
            lineage={
                "lshsync_from": None if last == -1 else last,
                "lshsync_to": cur,
            },
        )

    def _envelope(rows: DataFrame, op: str) -> DataFrame:
        return rows.select(
            F.lit(op).alias("op"),
            *[c for c in rows.columns],
            F.lit(cur).cast("long").alias("lsn"),
            F.lit(f"lshsync@v{cur}").alias("source_file"),
        )

    if last == -1:
        state = src.read(version=cur)
        bands = band_relation(state, id_col, text_col, n, num_hashes, num_bands)
        return _merge(_envelope(bands, "INSERT"))

    retained = src.retained_versions()
    if last not in retained:
        raise ValueError(
            f"band-index cursor v{last} expired from source history "
            f"(oldest retained: v{retained[0]}); re-seed the destination"
        )
    # persist, not checkpoint: the diff feeds both the re-banded live
    # rows and the retired-key anti-join, each evaluated again inside
    # the merge; unpersisted in the finally below.
    diff = src.read_changes(last, cur).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        live = diff.filter(F.col("change_type") != "delete")
        new_bands = band_relation(live, id_col, text_col, n, num_hashes, num_bands)
        # Changed keys with no new band rows (deleted, or text degraded to
        # null/short): retire ALL their band keys. num_bands is a small
        # constant, so the explode is O(changed keys).
        dead = (
            diff.select(id_col)
            .join(new_bands.select(id_col).distinct(), id_col, "left_anti")
            .select(
                F.col(id_col),
                F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band_idx"),
                F.lit(None).cast("string").alias("band_hash"),
            )
        )
        batch = _envelope(new_bands, "UPSERT").unionByName(
            _envelope(dead, "DELETE")
        )
        return _merge(batch)
    finally:
        diff.unpersist()


def emit_feed(
    src: LakeTable,
    out_dir: str,
    db: str = "lake",
    table_name: str | None = None,
    ts_col: str = "ts",
) -> dict:
    """Incremental OUTBOUND Debezium feed to a directory - the
    file-system stand-in for a Kafka producer (same role the staged
    parquet dir plays for the inbound Kafka source): each call emits the
    envelope records (`LakeTable.read_changes_envelope`) for the source
    range (cursor, head] as JSON-lines files under
    ``out/v{from}-{to}/``, then advances the cursor.

    Exactly-once by the same construction as :func:`sync_incremental`:
    the emission for a range is a pure function of two immutable
    snapshots, the output directory is NAMED by that range and written
    with overwrite, and the cursor (``_feed_cursor.json``, tmp+rename
    atomic) only advances after the files land - a crash between write
    and cursor replays the identical range into the identical directory.
    Consumers tail range directories in ``from``-version order; within a
    range, per-key ordering is carried by the record ``key`` (a keyed
    Kafka topic preserves it) and ``source.lsn`` orders across ranges.

    First call (no cursor) emits the FULL current state as insert
    envelopes - the changelog from the create snapshot - i.e. Debezium's
    initial-snapshot phase, so a fresh subscriber needs no side channel.

    Returns ``{"applied", "from_version", "to_version", "events",
    "path"}`` (``applied=False`` when the cursor is already at head;
    nothing is written)."""
    import json as _json
    import os
    import tempfile as _tempfile

    cursor_path = os.path.join(out_dir, "_feed_cursor.json")
    head = src.current_version()
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            last = int(_json.load(fh)["last_version"])
        retained = src.retained_versions()
        if last not in retained:
            raise ValueError(
                f"feed cursor v{last} expired from source history "
                f"(oldest retained: v{retained[0]}); re-seed the feed "
                "from a fresh directory"
            )
    else:
        last = 1  # the create snapshot: empty -> full state emits as inserts
    if head <= last:
        return {
            "applied": False,
            "from_version": last,
            "to_version": head,
            "events": 0,
            "path": None,
        }
    env = src.read_changes_envelope(
        last, head, db=db, table_name=table_name, ts_col=ts_col
    )
    range_dir = os.path.join(out_dir, f"v{last}-{head}")
    env.write.mode("overwrite").json(range_dir)
    events = src.spark.read.schema("key string, value string").json(
        range_dir
    ).count()
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = _tempfile.mkstemp(dir=out_dir, prefix="_cursor_tmp")
    with os.fdopen(fd, "w") as fh:
        _json.dump({"last_version": head}, fh)
    os.replace(tmp, cursor_path)
    return {
        "applied": True,
        "from_version": last,
        "to_version": head,
        "events": int(events),
        "path": range_dir,
    }
