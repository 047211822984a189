"""Incremental table-to-table sync and incremental aggregate
maintenance: chain CDC pipelines off the lake.

`sync_incremental(src, dst)` propagates committed changes from one lake
table into another by reading the changelog since the last synced source
version (`LakeTable.read_changes`) and MERGE-ing it downstream — the
medallion bronze→silver pattern, or a filtered/projected serving copy.
The reference ships one hop (Kafka → lake,
/root/reference/spark/src/main/scala/com/example/Phase2Job.scala); this
operator makes the lake itself a change SOURCE so hops compose.

Every sync here (mirror, aggregate view, SCD2 history, band index) runs
one protocol, written once in :func:`_sync`: pin the source head
snapshot, open the destination and gate it against the shape derived
from that snapshot (:func:`_derived_table`), stop when the destination's
cursor is current, refuse an expired cursor, and merge a SEED batch of
the full state (first sync) or a STEP batch of the persisted diff since
the cursor. A destination that lags only by new or widened source
columns is evolved by the sync's own merge; any other drift refuses.

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
from pyspark.sql import DataFrame, functions as F, types as T

from dataingestion_spark.lake.table import LakeTable, Snapshot
from dataingestion_spark.schema.evolution import ChangeType, compare_schemas


RESERVED_BATCH_COLS = ("op", "lsn", "source_file")


def _check_reserved(cols, context: str, reserved=RESERVED_BATCH_COLS) -> None:
    """The change-batch envelope appends literal op/lsn/source_file
    columns (an SCD2 history also its validity columns); a source whose
    USER schema already carries any of these names would yield duplicate
    columns and ambiguous references in the downstream merge. Fail fast
    with the fix instead."""
    clash = [c for c in reserved if c in cols]
    if clash:
        raise ValueError(
            f"{context}: source schema already contains reserved "
            f"column(s) {clash}; rename them before syncing"
        )


def _stamp(rows: DataFrame, v: int, kind: str) -> DataFrame:
    """Finish op-tagged rows as a change batch of source version ``v``:
    the version is the batch-wide ``lsn`` and ``{kind}@v{v}`` the
    ``source_file`` tag."""
    return rows.select(
        "*",
        F.lit(v).cast("long").alias("lsn"),
        F.lit(f"{kind}@v{v}").alias("source_file"),
    )


def changes_to_batch(diff: DataFrame, lsn: int) -> DataFrame:
    """Convert a read_changes diff into a merge-able change batch:
    change_type → op (insert/update → full-row UPSERT semantics via
    INSERT/UPDATE, delete → DELETE), with the source snapshot version as
    the batch-wide lsn. One row per key (net diff), so in-batch LWW is
    trivially satisfied; across syncs the version is strictly increasing,
    so late redeliveries order correctly."""
    payload = [c for c in diff.columns if c != "change_type"]
    _check_reserved(payload, "changes_to_batch")
    rows = diff.select(
        F.when(F.col("change_type") == "insert", F.lit("INSERT"))
        .when(F.col("change_type") == "update", F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
        .alias("op"),
        *payload,
    )
    return _stamp(rows, lsn, "sync")


def _derived_table(
    src: LakeTable, snap: Snapshot, dst: "LakeTable | str", schema,
    pk: list[str], what: str, num_buckets: int, properties: dict | None = None,
) -> LakeTable:
    """Open ``dst`` (a table, or a path created with ``schema``/``pk``)
    and gate it against ``schema``, derived from the pinned source
    ``snap``: the pk must match, and the drift (`compare_schemas`) may
    only add or widen SOURCE columns - the sync's merge evolves those.
    A BREAKING drift (dropped, renamed or narrowed column) or an added
    non-source column (an aggregate spec change: a new ``sum_x``) refuses."""
    if isinstance(dst, str) or hasattr(dst, "__fspath__"):
        probe = LakeTable(src.spark, dst)
        dst = probe if probe.exists() else LakeTable.create(
            src.spark, dst, schema, pk_fields=list(pk), order_fields=["lsn"],
            num_buckets=num_buckets, properties=properties,
        )
    have = dst.snapshot()
    cmp = compare_schemas(have.schema, schema)
    foreign = [c for c in cmp.added if c not in snap.schema.names]
    breaking = cmp.change_type == ChangeType.BREAKING
    if list(have.pk_fields) != list(pk) or breaking or foreign:
        raise ValueError(
            f"destination is not the {what} (pk {have.pk_fields} vs "
            f"{list(pk)}; {cmp.describe()}); if the source renamed a "
            "column, apply the same rename_column to the destination, "
            "else match the original spec, or point at a fresh path as "
            "the last resort"
        )
    return dst


def _sync(
    src: LakeTable, open_dst: Callable[[Snapshot], LakeTable],
    pipeline_id: str, kind: str, write_mode: str,
    seed: Callable[[LakeTable, Snapshot, DataFrame], DataFrame],
    step: Callable[[LakeTable, Snapshot, DataFrame, "list | None"], DataFrame],
    preimages: bool = False,
) -> Snapshot | None:
    """The sync protocol (module docstring): pin the source head
    ``snap``, ``open_dst(snap)``, and merge ``seed(dst, snap, state)`` or
    ``step(dst, snap, diff, keys)`` - both return batches stamped ``kind``
    - with the source version as epoch id and ``{kind}_from``/``{kind}_to``
    lineage. ``keys`` are the source pk tuples the range's merges recorded
    (``LakeTable._recorded_keys``, a superset of the diff's keys; ``[]``
    when no merge in the range wrote a batch, None when unrecorded), read
    on the driver with no Spark job. ``preimages`` asks the diff for
    update pre-images."""
    cur = src.current_version()
    snap = src.snapshot(cur)
    dst = open_dst(snap)
    last = dst.last_applied_epoch(pipeline_id)
    if last >= cur:
        return None
    lineage = {f"{kind}_from": None if last == -1 else last, f"{kind}_to": cur}

    def _merge(batch: DataFrame) -> Snapshot | None:
        return dst.merge(batch, pipeline_id=pipeline_id, epoch_id=cur,
                         write_mode=write_mode, lineage=lineage)

    if last == -1:
        return _merge(seed(dst, snap, src.read(version=cur)))
    retained = src.retained_versions()
    if last not in retained:
        raise ValueError(
            f"{kind} cursor v{last} expired from source history "
            f"(oldest retained: v{retained[0]}); re-seed into a fresh "
            "destination path (its first sync copies the full state)"
        )
    # persist (NOT checkpoint): the diff feeds every consumer of the
    # step batch, and the merge evaluates its batch more than once -
    # cache the diff once instead of re-running it per consumer, while a
    # lost executor's blocks recompute via lineage (a checkpoint's would
    # fail the sync unrecoverably).
    diff = src.read_changes(last, cur, include_preimages=preimages).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keys = src._recorded_keys(src.snapshot(last), snap)
    try:
        return _merge(step(dst, snap, diff, [] if keys is False else keys))
    finally:
        diff.unpersist()


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
    commits. The FIRST sync seeds the source's full current state (as
    INSERTs); later syncs are incremental (module docstring: a cursor
    the source's history no longer holds raises)."""
    finish = transform or (lambda batch: batch)

    def seed(_dst, snap, state):
        _check_reserved(state.columns, "sync_incremental seed")
        rows = state.select(F.lit("INSERT").alias("op"), "*")
        return finish(_stamp(rows, snap.version, "sync"))

    def step(_dst, snap, diff, _keys):
        return finish(changes_to_batch(diff, lsn=snap.version))

    return _sync(src, lambda snap: dst, pipeline_id, "sync", write_mode, seed, step)


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
    the CHANGE volume, not the source size. When ``group_cols`` is a
    leading pk prefix and the source merges of the range recorded their
    batch keys (``LakeTable._recorded_keys``), the lookup reads those
    keys' distinct prefixes as a literal list, so it runs no Spark job of
    its own; otherwise it collects the delta groups first (one job).

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

    Exactly-once, seeding and cursor expiry follow the shared protocol
    (module docstring); the seed is a full groupBy at the pinned version.
    Rows whose group key is NULL are excluded (a lake pk cannot be null;
    SQL oracles should filter the same way).

    Caveat: sums over floating columns accumulate the usual FP
    reassociation drift relative to a fresh recompute; counts and
    integral sums are exact, and min/max are exact (dirty groups are
    recomputed, never approximated)."""
    sums = list(sums or [])
    mins = list(mins or [])
    maxs = list(maxs or [])

    def view_schema(snap: Snapshot):
        return aggregate_schema(
            snap.schema, group_cols, sums, count_col, mins=mins, maxs=maxs
        )

    def open_view(snap: Snapshot) -> LakeTable:
        return _derived_table(
            src, snap, dst, view_schema(snap), group_cols,
            "aggregate view this call describes", num_buckets,
        )

    key_ok = None
    for c in group_cols:
        cond = F.col(c).isNotNull()
        key_ok = cond if key_ok is None else (key_ok & cond)

    sum_cols = [f"sum_{c}" for c in sums]
    ext_cols = [f"min_{c}" for c in mins] + [f"max_{c}" for c in maxs]

    def totals_batch(snap: Snapshot, totals: DataFrame) -> DataFrame:
        # typed as the view: the count long, each sum long or double
        types = view_schema(snap)
        live = F.col(count_col) > 0
        rows = totals.select(
            F.when(live, F.lit("UPSERT")).otherwise(F.lit("DELETE")).alias("op"),
            *group_cols,
            *[
                F.when(live, F.col(c)).cast(types[c].dataType).alias(c)
                for c in [count_col, *sum_cols, *ext_cols]
            ],
        )
        return _stamp(rows, snap.version, "aggsync")

    def seed(_view, snap, state):
        totals = state.filter(key_ok).groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias(count_col),
            *[F.sum(F.col(c)).alias(f"sum_{c}") for c in sums],
            *[F.min(F.col(c)).alias(f"min_{c}") for c in mins],
            *[F.max(F.col(c)).alias(f"max_{c}") for c in maxs],
        )
        return totals_batch(snap, totals)

    def step(view, snap, diff, keys):
        diff = diff.filter(key_ok)
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
        #
        # The affected groups' stored totals: under a pk-prefix grouping the
        # source merges' recorded keys name them as a literal list (no job),
        # else a DataFrame of the delta groups does (one collect job). The
        # recorded groups are a superset, so ``deltas`` drives the join, and
        # the hint keeps it a shuffle join: a broadcast of ``old`` would run
        # again in each of the view merge's jobs.
        width = len(group_cols)
        by_prefix = list(group_cols) == list(snap.pk_fields)[:width]
        if keys is not None and by_prefix:
            old = view.read_keys(list(dict.fromkeys(k[:width] for k in keys)))
        else:
            old = view.read_keys(deltas.select(*group_cols))
        joined = deltas.join(old.hint("merge"), on=list(group_cols), how="left")
        totals = joined.select(
            *group_cols,
            (F.coalesce(F.col(count_col), F.lit(0)) + F.col("_d_count")).alias(
                count_col
            ),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"_d_sum_{c}"), F.lit(0))
                ).alias(f"sum_{c}")
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
            *(["_dirty"] if (mins or maxs) else []),
        )
        if mins or maxs:
            dirty = totals.filter(F.col("_dirty") == 1).select(*group_cols)
            if by_prefix:
                # the bucket transform hashes the first pk field, so the
                # recompute is pruned to exactly the dirty groups' buckets
                rows = src.read_prefix(dirty, version=snap.version)
            else:
                # non-pk grouping: change-bounded group count, but a source
                # scan (broadcast semi-join keeps only the dirty groups)
                rows = src.read(version=snap.version).join(
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
        return totals_batch(snap, totals)

    return _sync(
        src, open_view, pipeline_id, "aggsync", write_mode, seed, step,
        preimages=True,
    )


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

    A column the source gains is added by the next sync: row-versions
    written before it read NULL there, new opens carry its value. A
    source rename refuses until the history gets the same rename_column.

    Exactly-once, seeding and cursor expiry follow the shared protocol
    (module docstring); the seed opens the whole current state at the
    seed version. Cost per sync scales with the change volume - one
    changelog read, one prefix lookup of the changed keys, one merge -
    never with the accumulated history size."""

    def open_history(snap: Snapshot) -> LakeTable:
        _check_reserved(snap.schema.names, "sync_scd2", RESERVED_BATCH_COLS + SCD2_COLS)
        return _derived_table(
            src, snap, dst, scd2_schema(snap.schema),
            [*snap.pk_fields, "valid_from_lsn"],
            "SCD2 history of this source", num_buckets,
        )

    def opens(snap: Snapshot, rows: DataFrame) -> DataFrame:
        return rows.select(
            F.lit("INSERT").alias("op"),
            *snap.schema.names,
            F.lit(snap.version).cast("long").alias("valid_from_lsn"),
            F.lit(None).cast("long").alias("valid_to_lsn"),
            F.lit(True).alias("is_current"),
        )

    def seed(_hist, snap, state):
        return _stamp(opens(snap, state), snap.version, "scd2sync")

    def step(hist, snap, diff, _keys):
        # CLOSE the superseded versions: the changed keys' current rows,
        # found via a bucket-pruned prefix lookup (the history pk leads
        # with the source pk), rewritten with the closing interval bound.
        # They carry the history's columns: a column the source gained
        # since they opened is filled NULL by the union below.
        changed = diff.filter(F.col("change_type") != "insert").select(
            *snap.pk_fields
        )
        closures = (
            hist.read_prefix(changed)
            .filter(F.col("is_current"))
            .withColumn("valid_to_lsn", F.lit(snap.version).cast("long"))
            .withColumn("is_current", F.lit(False))
            .select(F.lit("UPSERT").alias("op"), "*")
        )
        # OPEN the new versions at (key, cur)
        batch = closures.unionByName(
            opens(snap, diff.filter(F.col("change_type") != "delete")),
            allowMissingColumns=True,
        )
        return _stamp(batch, snap.version, "scd2sync")

    return _sync(src, open_history, pipeline_id, "scd2sync", write_mode, seed, step)


# ----------------------------------------------------------------------
# incremental LSH band-index maintenance (secondary-index sync)
# ----------------------------------------------------------------------


def band_index_schema(src_schema, id_col: str):
    """Destination schema for a band index: the doc id (type from the
    source), the band ordinal, and the band hash."""
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

    Exactly-once, seeding and cursor expiry follow the shared protocol
    (module docstring). The (n, num_hashes, num_bands, text_col) spec
    is RECORDED in the index table's snapshot properties at creation and
    validated on every later sync - a call with a different spec raises
    instead of silently mixing hash families in one index."""
    from dataingestion_spark.operators.dedup import band_relation

    spec = {
        "id_col": id_col, "text_col": text_col,
        "n": n, "num_hashes": num_hashes, "num_bands": num_bands,
    }

    def open_index(snap: Snapshot) -> LakeTable:
        index = _derived_table(
            src, snap, dst, band_index_schema(snap.schema, id_col),
            [id_col, "band_idx"], "band index this call describes",
            num_buckets, properties={"lsh_spec": spec},
        )
        stored = index.snapshot().properties.get("lsh_spec")
        if stored is not None and stored != spec:
            raise ValueError(
                f"band index at {index.root} was built with spec {stored}; "
                f"this call passed {spec} - one index, one hash family "
                "(use a fresh path for a new spec)"
            )
        return index

    def bands(rows: DataFrame) -> DataFrame:
        return band_relation(rows, id_col, text_col, n, num_hashes, num_bands)

    def seed(_index, snap, state):
        rows = bands(state).select(F.lit("INSERT").alias("op"), "*")
        return _stamp(rows, snap.version, "lshsync")

    def step(_index, snap, diff, _keys):
        new_bands = bands(diff.filter(F.col("change_type") != "delete"))
        # Changed keys with no new band rows (deleted, or text degraded to
        # null/short): retire ALL their band keys. num_bands is a small
        # constant, so the explode is O(changed keys).
        dead = (
            diff.select(id_col)
            .join(new_bands.select(id_col).distinct(), id_col, "left_anti")
            .select(
                F.lit("DELETE").alias("op"),
                F.col(id_col),
                F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band_idx"),
                F.lit(None).cast("string").alias("band_hash"),
            )
        )
        rows = new_bands.select(F.lit("UPSERT").alias("op"), "*").unionByName(dead)
        return _stamp(rows, snap.version, "lshsync")

    return _sync(src, open_index, pipeline_id, "lshsync", write_mode, seed, step)


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
