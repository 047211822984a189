"""Dead-letter quarantine for malformed change events.

A production change stream always carries a tail of rows the pipeline
cannot apply: envelopes whose key didn't parse (the Mongo adapter's
regexp on a non-matching resumeToken yields a NULL lsn,
sources/cdc_formats.py), unknown operations, null primary keys from
upstream bugs. The reference pipeline fails the whole batch or silently
nulls them through; neither survives a 10^10-event replay. The
Debezium/Kafka-Connect answer is a dead-letter queue: REJECT the row,
RECORD why, CONTINUE the stream. This module is that answer over the
canonical change relation:

  * :func:`invalid_reason` - one codegen'd CASE expression classifying
    each row (no Python in the row path); NULL means valid.
  * :func:`split_invalid` - (valid, quarantined) DataFrames; quarantined
    rows carry ``_invalid_reason``.
  * wired into ``apply_changes(quarantine_dir=...)`` - bad rows land in
    a parquet dead-letter dir tagged with pipeline/epoch, the lineage
    log gains a QUARANTINE row per epoch, and the merge only ever sees
    rows that satisfy its contract (pk NOT NULL, lsn NOT NULL, known
    op) - which also closes the null-lsn LWW edge at the gate instead
    of inside the merge plans.

Scale shape: the classifier is a single whole-stage-codegen projection
over the already-staged batch; the quarantine write touches only the
(normally tiny) invalid subset, and it is the split's one Spark job -
``apply_changes`` counts the dead letters with an ``Observation`` on that
write, not with a count of its own, and removes the schema-only file a
clean epoch's write leaves. Nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REASON_COL = "_invalid_reason"

DEFAULT_OPS = ("INSERT", "UPDATE", "UPSERT", "DELETE")


def invalid_reason(
    pk_fields: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    allowed_ops: tuple[str, ...] = DEFAULT_OPS,
    require_ts: str | None = None,
    constraints: list[str] | None = None,
) -> Column:
    """NULL for a valid row, else the first failing rule's tag:

      ``null_pk``   any primary-key column is NULL (unmergeable);
      ``null_lsn``  the LWW ordinal is NULL (unorderable);
      ``bad_op``    operation NULL or outside ``allowed_ops``;
      ``null_ts``   (only when ``require_ts`` names a column) event time
                    is NULL - for pipelines whose watermarking needs it;
      ``constraint:<expr>`` (per entry in ``constraints``) a user CHECK
                    predicate over the row - the Delta table-constraints
                    analog, routed to the DLQ instead of failing the
                    batch. Checked in list order, each as a SQL string; a
                    DELETE row is exempt (its payload is legitimately
                    null) and NULL predicate results count as violations
                    (CHECK semantics are "must be true").

    Rule order is fixed so the reason is deterministic for multiply-
    broken rows (a row missing everything quarantines as ``null_pk``)."""
    pk_null = None
    for c in pk_fields:
        cond = F.col(c).isNull()
        pk_null = cond if pk_null is None else (pk_null | cond)
    reason = F.when(pk_null, F.lit("null_pk")).when(
        F.col(lsn_col).isNull(), F.lit("null_lsn")
    )
    op_u = F.upper(F.col(op_col))
    reason = reason.when(
        F.col(op_col).isNull() | ~op_u.isin(*[o.upper() for o in allowed_ops]),
        F.lit("bad_op"),
    )
    if require_ts:
        reason = reason.when(F.col(require_ts).isNull(), F.lit("null_ts"))
    is_delete = op_u == F.lit("DELETE")
    for expr in constraints or []:
        holds = F.coalesce(F.expr(expr), F.lit(False))
        reason = reason.when(
            ~is_delete & ~holds, F.lit(f"constraint:{expr}")
        )
    return reason.otherwise(F.lit(None).cast("string"))


def split_invalid(
    df: DataFrame,
    pk_fields: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    allowed_ops: tuple[str, ...] = DEFAULT_OPS,
    require_ts: str | None = None,
    constraints: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined): valid rows pass through with ``op``
    normalized to upper-case (the gate accepts ops case-insensitively,
    and downstream merge classification compares ``op == 'DELETE'``
    case-sensitively - canonicalizing here is what makes "the merge only
    sees rows satisfying its contract" hold for case variants too);
    quarantined rows carry ``_invalid_reason``. Both sides are lazy
    filters over the same input - Catalyst pushes the predicate to the
    scan on each side, so the split costs one extra scan of the (staged,
    columnar) batch, not a shuffle."""
    reason = invalid_reason(
        pk_fields, lsn_col=lsn_col, op_col=op_col,
        allowed_ops=allowed_ops, require_ts=require_ts,
        constraints=constraints,
    )
    ann = df.withColumn(REASON_COL, reason)
    valid = (
        ann.filter(F.col(REASON_COL).isNull())
        .drop(REASON_COL)
        .withColumn(op_col, F.upper(F.col(op_col)))
    )
    bad = ann.filter(F.col(REASON_COL).isNotNull())
    return valid, bad


def requeue_quarantine(
    table,
    quarantine_dir: str,
    fix=None,
    pipeline_id: str | None = None,
    reasons: list[str] | None = None,
    constraints: list[str] | None = None,
    **merge_kwargs,
) -> dict:
    """Replay corrected dead-letter rows back through the gate - the
    recovery half of the DLQ contract (Kafka Connect's
    dead-letter-reprocessing pattern): a quarantined row is not lost,
    it waits for a fix.

    Per dead-letter epoch (ascending): read ``<dir>/epoch=<n>``, keep
    rows whose ``_invalid_reason`` is in ``reasons`` (default: all),
    strip the quarantine bookkeeping columns, apply the caller's ``fix``
    transform (backfill the null pk, re-parse the lsn, correct the op -
    whatever the upstream bug was), then RE-RUN the SAME validity gate:
    rows the fix didn't actually cure are counted and left out (the
    gate's contract - the merge never sees an unmergeable row - holds
    for requeued rows too). Cured rows MERGE into the table under this
    requeue's own pipeline id with the DLQ epoch as the epoch id, so a
    crashed or re-run requeue skips already-applied epochs through the
    standard exactly-once markers - the DLQ files themselves are never
    mutated (they stay the audit record of what was rejected and why).

    pk/order fields come from the table snapshot; CHECK ``constraints``
    must be passed again if the dataset uses them (they live in config,
    not in the table). Scale shape: driver-side epoch listing is
    O(epochs); each epoch costs one scan of its (normally tiny)
    dead-letter file plus an ordinary merge of the cured subset.

    CURSOR SCOPE: the exactly-once marker records "this (dir, reasons
    slice) was replayed under this pipeline id" - it cannot know whether
    the FIX was right. Rows a run left behind (outside its ``reasons``
    filter, or uncured by a bad fix) stay recoverable two ways, both
    safe because the DLQ files are immutable and the merge is
    LWW-idempotent: a different ``reasons`` slice gets its own default
    cursor automatically, and a corrected fix is replayed by passing a
    fresh ``pipeline_id`` (CLI ``--pipeline-id``) - already-cured rows
    re-merge as no-ops. The report echoes the id used.

    Returns {"pipeline_id": id, "epochs": applied, "requeued": rows
    merged, "still_invalid": {reason: count}, "skipped_epochs":
    marker-skipped}.
    """
    import hashlib
    import re as _re
    from pathlib import Path

    qdir = Path(quarantine_dir)
    epochs = sorted(
        int(m.group(1))
        for p in qdir.glob("epoch=*")
        if (m := _re.fullmatch(r"epoch=(\d+)", p.name)) and p.is_dir()
    )
    if pipeline_id is None:
        scope = str(qdir.resolve()) + "::" + ",".join(sorted(reasons or []))
        tag = hashlib.md5(scope.encode()).hexdigest()[:8]
        pipeline_id = f"requeue::{tag}"
    snap = table.snapshot()
    pk = list(snap.pk_fields)
    lsn_col = snap.order_fields[0] if snap.order_fields else "lsn"
    out = {
        "pipeline_id": pipeline_id,
        "epochs": 0,
        "requeued": 0,
        "still_invalid": {},
        "skipped_epochs": 0,
    }
    last = table.last_applied_epoch(pipeline_id)
    for e in epochs:
        if e <= last:
            out["skipped_epochs"] += 1
            continue
        df = table.spark.read.parquet(str(qdir / f"epoch={e}"))
        if reasons:
            df = df.filter(F.col(REASON_COL).isin(list(reasons)))
        df = df.drop(REASON_COL, "_q_pipeline")
        if fix is not None:
            df = fix(df)
        valid, bad = split_invalid(df, pk, lsn_col=lsn_col, constraints=constraints)
        for r in bad.groupBy(REASON_COL).count().collect():
            k = r[REASON_COL]
            out["still_invalid"][k] = out["still_invalid"].get(k, 0) + r["count"]
        snap2 = table.merge(
            valid, pipeline_id=pipeline_id, epoch_id=e, **merge_kwargs
        )
        if snap2 is not None:
            out["epochs"] += 1
            # batch_events = rows submitted through the re-run gate; a
            # cured row whose lsn lost the LWW race to an already-applied
            # later event still counts as requeued (it reached the merge;
            # the lsn guard, correctly, decided it was stale).
            out["requeued"] += int(snap2.summary.get("batch_events", 0) or 0)
    return out
