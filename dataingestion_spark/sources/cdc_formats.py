"""Per-source CDC format adapters: map each supported change-stream
envelope onto the engine's canonical change relation.

The reference's most-exercised test surface parses four change-stream
formats, each with its own payload unpack
(/root/reference/spark/src/test/scala/com/example/MultiSourceCDCTest.scala):

  * MySQL binlog CDC       - envelope at :43-51, unpack at :62-72
  * MongoDB change stream  - envelope at :88-95, unpack at :106-115
  * Aerospike record CDC   - envelope at :132-140, unpack at :150-160
  * ClickStream events     - envelope at :178-185, unpack at :196-206

plus the public envelopes the reference family is missing - the
standard wire formats those bespoke pipelines consume upstream:

  * Debezium change events - the standard before/after/source/op/ts_ms
    JSON (public Debezium format; unifies the binlog/change-stream
    shapes above under one schema)
  * Postgres wal2json (format-version=2) logical-decoding output
  * Maxwell's daemon JSON (Zendesk's MySQL binlog bridge)
  * DynamoDB Streams records (typed attribute encoding)
  * Oracle GoldenGate Big Data JSON formatter output
  * Alibaba Canal FlatMessage JSON (multi-row envelopes)
  * SQL Server CDC change tables (fn_cdc_get_all_changes shape)
  * CockroachDB changefeed wrapped envelopes (HLC-ordered)

Every adapter is a pure ``DataFrame -> DataFrame`` transform built from
``get_json_object`` / ``from_json`` column expressions (JVM-side, codegen'd
- no Python in the row path), so an adapter composes with the streaming
pipeline exactly like any transformer: parse -> canonical columns -> LWW
merge. The canonical output carries

  op           INSERT | UPDATE | UPSERT | DELETE (merge treats any
               non-DELETE winner as an upsert, lake/table.py merge step 5)
  <key cols>   the source's primary key, name preserved
  <payload>    typed columns extracted from the JSON payload
  ts_ms        event time as epoch milliseconds (timezone-proof)
  lsn          monotone change ordinal (binlog position / resume token
               ordinal / generation) - the LWW primary order
  source_file  provenance (binlog file / namespace / collection)

Payload extraction is driven by ``payload_fields`` - a list of
``(name, sql_type)`` pairs - because CDC payloads are schemaless JSON and
the subscriber decides the projection (the reference hard-codes the same
projections per test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PayloadFields = list[tuple[str, str]]


def _extract(json_col: Column, fields: PayloadFields) -> list[Column]:
    # try_cast: CDC payloads are schemaless JSON - a single field holding
    # "N/A" where the subscriber projected an int must degrade to NULL in
    # that row, not throw under ANSI mode (Spark 4 default) and kill the
    # batch. Identical to cast for well-formed values.
    return [
        F.get_json_object(json_col, f"$.{name}").try_cast(sql_type).alias(name)
        for name, sql_type in fields
    ]


def _iso_to_ms(col: Column) -> Column:
    """ISO-8601 'yyyy-MM-ddTHH:mm:ssZ' (the reference's clusterTime /
    clickstream timestamp shape) -> epoch milliseconds, UTC."""
    return F.unix_millis(
        F.to_timestamp(
            F.regexp_replace(col, "Z$", ""), "yyyy-MM-dd'T'HH:mm:ss"
        )
    )


def parse_mysql_binlog(
    df: DataFrame,
    payload_fields: PayloadFields,
    op_col: str = "operation",
    key_col: str = "primary_key",
    data_col: str = "data",
) -> DataFrame:
    """MySQL binlog CDC envelope -> canonical change relation.

    Envelope (MultiSourceCDCTest.scala:43-51): operation, table_name,
    primary_key, data (row JSON), binlog_file, binlog_position,
    timestamp (epoch ms). op values are already canonical
    INSERT/UPDATE/DELETE; lsn = binlog_position (the reference's replay
    order); a DELETE's data JSON carries only the key, so payload columns
    null-fill naturally."""
    return df.select(
        F.col(op_col).alias("op"),
        F.col(key_col),
        *_extract(F.col(data_col), payload_fields),
        F.col("timestamp").try_cast("long").alias("ts_ms"),
        F.col("binlog_position").try_cast("long").alias("lsn"),
        F.col("binlog_file").alias("source_file"),
    )


def parse_mongo_change_stream(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_name: str = "document_id",
    key_path: str = "$._id.$oid",
) -> DataFrame:
    """MongoDB change-stream envelope -> canonical change relation.

    Envelope (MultiSourceCDCTest.scala:88-95): operationType
    (insert/update/delete/replace), ns_coll, fullDocument (full row for
    insert/replace, '{"$set": {...}}' partial for update, null for
    delete), documentKey, clusterTime (ISO), resumeToken.

    * op map: insert->INSERT, replace/update->UPDATE, delete->DELETE.
    * key from the documentKey JSON (default path = the reference's
      '$._id.$oid' ObjectId shape, :115).
    * update payloads unwrap the $set envelope before extraction, so the
      same payload_fields projection serves all op types.
    * lsn: the trailing ordinal of the resumeToken ('orders.123' in the
      reference rows) - Mongo resume tokens are monotone per stream.
    """
    doc = F.coalesce(
        F.get_json_object(F.col("fullDocument"), "$.$set"),
        F.col("fullDocument"),
    )
    op = (
        F.when(F.col("operationType") == "insert", "INSERT")
        .when(F.col("operationType").isin("update", "replace"), "UPDATE")
        .when(F.col("operationType") == "delete", "DELETE")
    )
    return df.select(
        op.alias("op"),
        F.get_json_object(F.col("documentKey"), key_path).alias(key_name),
        *_extract(doc, payload_fields),
        _iso_to_ms(F.col("clusterTime")).alias("ts_ms"),
        # try_cast, not cast: regexp_extract yields '' for a resumeToken
        # with no trailing ordinal, and under ANSI mode (Spark 4 default)
        # a plain cast of '' to long THROWS, killing the whole batch for
        # one bad envelope. try_cast degrades it to a NULL lsn, which the
        # quarantine gate (sources/quarantine.py) then rejects row-wise.
        F.regexp_extract(F.col("resumeToken"), r"(\d+)$", 1)
        .try_cast("long")
        .alias("lsn"),
        F.col("ns_coll").alias("source_file"),
    )


def parse_aerospike_cdc(
    df: DataFrame,
    payload_fields: PayloadFields,
) -> DataFrame:
    """Aerospike record-level CDC envelope -> canonical change relation.

    Envelope (MultiSourceCDCTest.scala:132-140): operation (WRITE/DELETE),
    namespace, set_name, user_key, bins (record JSON, null on delete),
    timestamp (epoch ms), generation.

    WRITE is insert-or-update (Aerospike records have no separate insert
    op), mapped to canonical UPSERT; lsn = generation, the per-record
    monotone write counter."""
    op = F.when(F.col("operation") == "DELETE", "DELETE").otherwise("UPSERT")
    return df.select(
        op.alias("op"),
        F.col("user_key"),
        *_extract(F.col("bins"), payload_fields),
        F.col("timestamp").try_cast("long").alias("ts_ms"),
        F.col("generation").try_cast("long").alias("lsn"),
        F.concat_ws(".", F.col("namespace"), F.col("set_name")).alias(
            "source_file"
        ),
    )


def parse_clickstream(
    df: DataFrame,
    payload_fields: PayloadFields,
) -> DataFrame:
    """ClickStream event envelope -> canonical change relation.

    Envelope (MultiSourceCDCTest.scala:178-185): event_type, user_id,
    page_url, timestamp (ISO), properties (JSON), ip_address.

    Clickstreams are append-only facts, not keyed mutations: every event
    is an INSERT and there is no upstream lsn - ordering is event time.
    The canonical lsn is therefore ts_ms (monotone enough for append-mode
    sinks, which ignore it)."""
    ms = _iso_to_ms(F.col("timestamp"))
    return df.select(
        F.lit("INSERT").alias("op"),
        F.col("event_type"),
        F.col("user_id"),
        F.col("page_url"),
        *_extract(F.col("properties"), payload_fields),
        F.col("ip_address"),
        ms.alias("ts_ms"),
        ms.alias("lsn"),
        F.col("page_url").alias("source_file"),
    )


def parse_debezium(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_field: str | None = None,
    key_type: str = "string",
    value_col: str = "value",
    key_fields: PayloadFields | None = None,
) -> DataFrame:
    """Debezium change-event envelope -> canonical change relation.

    Debezium is the de-facto open-source CDC format (the reference's
    binlog/change-stream adapters are bespoke shapes of the same idea;
    Debezium unifies them). Each event is ONE JSON value - the Kafka
    record value - with the public envelope:

      before   row image before the change (null for creates/snapshots)
      after    row image after the change (null for deletes)
      source   connector metadata: db, table, and the stream position -
               ``lsn`` for Postgres WAL, ``pos`` for MySQL binlog
      op       c (create) | u (update) | d (delete) | r (snapshot read)
      ts_ms    event time, epoch milliseconds

    Mapping choices, each pinned to Debezium's documented semantics:
      * op: c->INSERT, u->UPDATE, d->DELETE, r->UPSERT (a snapshot read
        re-asserts current state - applying it must be idempotent, which
        is exactly the merge's UPSERT arm).
      * key: extracted from ``after`` falling back to ``before`` - a
        delete's only row image is ``before``.
      * payload columns: from ``after`` only, so deletes null-fill like
        every other adapter (the merge drops the row anyway).
      * lsn: coalesce(source.lsn, source.pos) - whichever the connector
        emits; both are the stream's monotone replay ordinal.
      * source_file: db.table provenance.

    All extraction is ``get_json_object`` on one value column - JVM-side,
    codegen'd, no Python row path - so a 10^10-event Debezium topic replay
    is bounded by scan + the downstream merge, not parsing.

    Composite keys: pass ``key_fields=[(name, sql_type), ...]`` instead of
    ``key_field``/``key_type`` - each is extracted from the row image with
    the same after-falling-back-to-before rule (a transcript table's
    ``(conv_id, turn_idx)`` pk needs both to merge). Exactly one of
    ``key_field`` / ``key_fields`` must be given."""
    if (key_field is None) == (key_fields is None):
        raise ValueError("pass exactly one of key_field / key_fields")
    if key_fields is None:
        key_fields = [(key_field, key_type)]
    v = F.col(value_col)
    after = F.get_json_object(v, "$.after")
    before = F.get_json_object(v, "$.before")
    row_image = F.coalesce(after, before)
    op_raw = F.get_json_object(v, "$.op")
    op = (
        F.when(op_raw == "c", "INSERT")
        .when(op_raw == "u", "UPDATE")
        .when(op_raw == "d", "DELETE")
        .when(op_raw == "r", "UPSERT")
    )
    return df.select(
        op.alias("op"),
        *[
            F.get_json_object(row_image, f"$.{name}").try_cast(t).alias(name)
            for name, t in key_fields
        ],
        *_extract(after, payload_fields),
        F.get_json_object(v, "$.ts_ms").try_cast("long").alias("ts_ms"),
        F.coalesce(
            F.get_json_object(v, "$.source.lsn").try_cast("long"),
            F.get_json_object(v, "$.source.pos").try_cast("long"),
        ).alias("lsn"),
        F.concat_ws(
            ".",
            F.get_json_object(v, "$.source.db"),
            F.get_json_object(v, "$.source.table"),
        ).alias("source_file"),
    )


def _w2j_map(json_array: Column) -> Column:
    """wal2json column list ``[{"name": ..., "type": ..., "value": ...}]``
    -> a ``map<string,string>`` for by-name lookup. ``from_json`` with a
    StringType value field renders non-string JSON scalars (numbers,
    booleans) as their JSON text and JSON null as SQL NULL, so one map
    type serves every column type; the caller ``try_cast``s per field.
    All JVM-side (JsonToStructs + map_from_entries), no Python row path."""
    entries = F.from_json(
        json_array, "array<struct<name:string,value:string>>"
    )
    return F.map_from_entries(
        F.transform(entries, lambda c: F.struct(c["name"], c["value"]))
    )


def _pg_lsn_to_long(col: Column) -> Column:
    """Postgres pg_lsn text ('0/16B2C38': hex hi/lo 32-bit halves) -> the
    64-bit WAL byte position, the stream's monotone replay ordinal."""
    parts = F.split(col, "/")
    return (
        F.conv(parts.getItem(0), 16, 10).try_cast("long") * F.lit(1 << 32)
        + F.conv(parts.getItem(1), 16, 10).try_cast("long")
    )


def parse_wal2json(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_fields: PayloadFields,
    value_col: str = "value",
) -> DataFrame:
    """Postgres wal2json (format-version=2) envelope -> canonical change
    relation. Completes the public-format family next to Debezium: the
    reference's bespoke adapters (MultiSourceCDCTest.scala) cover MySQL/
    Mongo/Aerospike/ClickStream; wal2json is the standard Postgres
    logical-decoding output those pipelines consume upstream.

    Each record is one JSON object:

      action     I (insert) | U (update) | D (delete) - plus transaction
                 control records B/C (begin/commit) and T/M (truncate/
                 message), which carry no row and are filtered here
      schema     namespace        -> source_file = schema.table
      table      relation name
      columns    [{name, type, value}] new row image (I/U; absent on D)
      identity   [{name, type, value}] replica-identity (key) image
                 (U/D; absent on I)
      lsn        pg_lsn text, e.g. '0/16B2C38' - hex hi/lo halves of the
                 64-bit WAL position (monotone replay ordinal)
      timestamp  commit time 'yyyy-MM-dd HH:mm:ss[.ffffff]+00'

    Mapping choices:
      * key columns resolve from ``columns`` falling back to ``identity``
        - a delete's only row image is the replica identity (the
        after-falling-back-to-before rule, same as parse_debezium).
      * payload columns come from ``columns`` only, so deletes null-fill
        like every other adapter (the merge drops the row anyway).
      * B/C/T/M records are dropped: the engine's exactly-once unit is
        the checkpoint epoch (lake/table.py epoch markers), not the
        upstream transaction, so transaction control markers carry no
        information the lsn ordering doesn't already.

    Column lists are name-keyed (wal2json emits them in relation order,
    which can change under ALTER TABLE), so extraction builds a
    map<name,value> per record and looks fields up by name - order- and
    width-independent, which is exactly the schema-evolution posture the
    rest of the engine takes."""
    v = F.col(value_col)
    action = F.get_json_object(v, "$.action")
    op = (
        F.when(action == "I", "INSERT")
        .when(action == "U", "UPDATE")
        .when(action == "D", "DELETE")
    )
    cols = _w2j_map(F.get_json_object(v, "$.columns"))
    ident = _w2j_map(F.get_json_object(v, "$.identity"))
    return df.where(action.isin("I", "U", "D")).select(
        op.alias("op"),
        # try_element_at, not element_at: under ANSI mode (Spark 4
        # default) element_at THROWS on a missing map key, and a delete
        # record legitimately has no `columns` entry - the key must
        # degrade to the identity fallback, not kill the batch.
        *[
            F.coalesce(
                F.try_element_at(cols, F.lit(name)),
                F.try_element_at(ident, F.lit(name)),
            )
            .try_cast(t)
            .alias(name)
            for name, t in key_fields
        ],
        *[
            F.try_element_at(cols, F.lit(name)).try_cast(t).alias(name)
            for name, t in payload_fields
        ],
        F.unix_millis(
            F.to_timestamp(
                F.regexp_replace(
                    F.get_json_object(v, "$.timestamp"), r"\+00$", ""
                )
            )
        ).alias("ts_ms"),
        _pg_lsn_to_long(F.get_json_object(v, "$.lsn")).alias("lsn"),
        F.concat_ws(
            ".",
            F.get_json_object(v, "$.schema"),
            F.get_json_object(v, "$.table"),
        ).alias("source_file"),
    )


def parse_maxwell(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_field: str = "id",
    key_type: str = "long",
) -> DataFrame:
    """Maxwell's-daemon JSON envelope (the public Zendesk Maxwell MySQL
    CDC format) -> canonical change relation.

    Envelope per record: ``database``, ``table``, ``type``
    (insert / update / delete / bootstrap-insert), ``ts`` (epoch
    seconds), ``xid``, ``position`` ("mysql-bin.000006:800"), ``data``
    (full row JSON - Maxwell always ships the complete post-image),
    ``old`` (changed columns' prior values - not needed for LWW replay).

    * op map: insert/bootstrap-insert -> INSERT (a bootstrap re-snapshot
      replays as plain inserts, which the LWW guard already handles),
      update -> UPDATE, delete -> DELETE; unknown types null out and
      land in the quarantine gate.
    * key: ``key_field`` extracted from ``data`` (Maxwell's delete
      events keep the full row in ``data``, so one path serves all ops).
    * lsn: the binlog POSITION, not xid (xids interleave across
      databases): file ordinal * 2^40 + offset - a single monotone long
      over file rollovers, same recipe as the wal2json LSN fold.
    """
    op = (
        F.when(
            F.col("type").isin("insert", "bootstrap-insert"), "INSERT"
        )
        .when(F.col("type") == "update", "UPDATE")
        .when(F.col("type") == "delete", "DELETE")
    )
    file_no = F.regexp_extract(
        F.col("position"), r"\.(\d+):", 1
    ).try_cast("long")
    offset = F.regexp_extract(F.col("position"), r":(\d+)$", 1).try_cast(
        "long"
    )
    return df.select(
        op.alias("op"),
        F.get_json_object(F.col("data"), f"$.{key_field}")
        .try_cast(key_type)
        .alias(key_field),
        *_extract(F.col("data"), payload_fields),
        (F.col("ts").try_cast("long") * 1000).alias("ts_ms"),
        (file_no * F.lit(1 << 40).cast("long") + offset).alias("lsn"),
        F.regexp_extract(F.col("position"), r"^([^:]+):", 1).alias(
            "source_file"
        ),
    )


_DDB_NUMERIC = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double", "decimal",
}

# DynamoDB SequenceNumbers are decimal strings of up to 40 digits
# (AWS-documented width).  A 40-digit value can NOT be cast to long (or
# even DECIMAL(38,0)), so the lsn is derived by exact big-integer
# subtraction against a per-subscription base, done in two limbs: the
# top 22 digits as DECIMAL(22,0) and the bottom 18 as long.
_DDB_SEQ_WIDTH = 40
_DDB_LO_DIGITS = 18
_DDB_HI_DIGITS = _DDB_SEQ_WIDTH - _DDB_LO_DIGITS  # 22


def _ddb_lsn(seq: Column, seq_base: str) -> Column:
    """Map a DynamoDB SequenceNumber column (decimal string, <=40
    digits) to a monotone 64-bit lsn: ``SequenceNumber - seq_base``
    computed exactly in two decimal limbs.

    * ``seq_base`` is the subscription-time base sequence number (the
      shard iterator's starting sequence, or "0" for toy/synthetic
      streams whose values already fit in long).
    * NULL / non-numeric sequence numbers map to NULL (the standard
      quarantine-gate path, same as every other adapter's garbage arm).
    * A numeric value whose offset from the base does NOT fit in a
      signed 64-bit lsn fails FAST via ``raise_error`` — a real-width
      AWS stream pointed at the wrong base must abort the job, not
      silently dead-letter 100% of its rows.
    """
    base = str(seq_base).strip()
    if not base.isdigit() or len(base) > _DDB_SEQ_WIDTH:
        raise ValueError(
            f"seq_base must be a decimal string of <= {_DDB_SEQ_WIDTH} "
            f"digits (an AWS SequenceNumber), got {seq_base!r}"
        )
    bp = base.zfill(_DDB_SEQ_WIDTH)
    base_hi = F.lit(bp[:_DDB_HI_DIGITS]).cast(
        f"decimal({_DDB_HI_DIGITS},0)"
    )
    base_lo = F.lit(int(bp[_DDB_HI_DIGITS:]))
    pad = F.lpad(seq, _DDB_SEQ_WIDTH, "0")
    hi = F.substring(pad, 1, _DDB_HI_DIGITS).cast(
        f"decimal({_DDB_HI_DIGITS},0)"
    )
    lo = F.substring(
        pad, _DDB_HI_DIGITS + 1, _DDB_LO_DIGITS
    ).cast("long")
    hidiff = hi - base_hi
    # hidiff in [0, 9] is the exact window where hidiff * 10^18 +
    # lodiff can represent a non-negative long: 9*10^18 < 2^63, and a
    # true value past 2^63-1 wraps exactly once to a negative, which
    # the lsn >= 0 guard catches (lodiff is bounded by +-10^18).
    ok_hi = (hidiff >= 0) & (hidiff <= 9)
    hidiff_l = F.when(ok_hi, hidiff).otherwise(F.lit(0)).cast("long")
    lsn = hidiff_l * F.lit(10 ** _DDB_LO_DIGITS) + (lo - base_lo)
    return (
        F.when(
            seq.isNull() | ~seq.rlike(r"^\d{1,40}$"),
            F.lit(None).cast("long"),
        )
        .when(ok_hi & (lsn >= 0), lsn)
        .otherwise(
            F.raise_error(
                F.format_string(
                    "dynamodb SequenceNumber %s does not map into a "
                    "64-bit lsn relative to seq_base "
                    + base
                    + "; re-subscribe with the shard's starting "
                    "sequence number as seq_base",
                    seq,
                )
            )
        )
    )


def parse_dynamodb_stream(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_field: str,
    key_type: str = "string",
    seq_base: str = "0",
) -> DataFrame:
    """DynamoDB Streams record (the public AWS stream-record shape) ->
    canonical change relation.

    Envelope per record: ``eventName`` (INSERT / MODIFY / REMOVE) and a
    ``dynamodb`` JSON blob carrying ``Keys`` / ``NewImage`` /
    ``OldImage`` in DynamoDB's TYPED attribute encoding
    (``{"col": {"S": "text"}}`` / ``{"col": {"N": "42"}}`` - numbers
    arrive as decimal STRINGS), ``SequenceNumber`` (monotone per shard)
    and ``ApproximateCreationDateTime`` (epoch seconds).

    * op map: INSERT -> INSERT, MODIFY -> UPDATE, REMOVE -> DELETE.
    * key from ``Keys`` (present on every record incl. REMOVE); payload
      columns from ``NewImage`` through the typed encoding - numeric
      SQL types read the ``.N`` arm, booleans the ``.BOOL`` arm
      (DynamoDB booleans arrive as ``{"BOOL": true}``), everything
      else ``.S``; a REMOVE has no NewImage and null-fills naturally.
    * lsn: ``SequenceNumber - seq_base``, computed exactly (see
      :func:`_ddb_lsn`).  Real AWS SequenceNumbers are 21-40-digit
      decimals that overflow int64, so callers subscribing to a real
      stream must pass the shard's starting sequence number as
      ``seq_base``; offsets that still don't fit fail fast.  DynamoDB's
      per-item ordering guarantee within a shard maps to the
      reference's per-key in-order delivery assumption.
    """

    def _attr(image: str, name: str, sql_type: str) -> Column:
        lt = sql_type.lower()
        if lt in _DDB_NUMERIC:
            arm = "N"
        elif lt in ("boolean", "bool"):
            arm = "BOOL"
        else:
            arm = "S"
        return F.get_json_object(
            F.col("dynamodb"), f"$.{image}.{name}.{arm}"
        ).try_cast(sql_type)

    op = (
        F.when(F.col("eventName") == "INSERT", "INSERT")
        .when(F.col("eventName") == "MODIFY", "UPDATE")
        .when(F.col("eventName") == "REMOVE", "DELETE")
    )
    return df.select(
        op.alias("op"),
        _attr("Keys", key_field, key_type).alias(key_field),
        *[
            _attr("NewImage", name, sql_type).alias(name)
            for name, sql_type in payload_fields
        ],
        (
            F.get_json_object(
                F.col("dynamodb"), "$.ApproximateCreationDateTime"
            ).try_cast("long")
            * 1000
        ).alias("ts_ms"),
        _ddb_lsn(
            F.get_json_object(F.col("dynamodb"), "$.SequenceNumber"),
            seq_base,
        ).alias("lsn"),
        F.coalesce(F.col("eventSourceARN"), F.lit("dynamodb")).alias(
            "source_file"
        )
        if "eventSourceARN" in df.columns
        else F.lit("dynamodb").alias("source_file"),
    )


_I64_MAX = (1 << 63) - 1


def parse_goldengate(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_fields: PayloadFields,
    value_col: str = "value",
) -> DataFrame:
    """Oracle GoldenGate (Big Data JSON formatter) change record -> the
    canonical change relation. GoldenGate is the dominant commercial
    CDC feed for Oracle/DB2/SQL Server sources; its documented JSON
    output is one object per operation:

      table        "SCHEMA.TABLE"                  -> source_file
      op_type      I (insert) | U (update) | D (delete) | T (truncate)
      op_ts        source commit time 'yyyy-MM-dd HH:mm:ss.ffffff'
      current_ts   replication time (ISO-8601, unused here)
      pos          zero-padded decimal string of the trail position
                   (trail seqno + rba fold), <= 20 digits - the feed's
                   monotone replay ordinal
      before       row image before the change (U/D)
      after        row image after the change (I/U)

    Mapping choices (mirroring :func:`parse_debezium`, the same
    before/after envelope family):
      * key columns resolve from ``after`` falling back to ``before`` -
        a delete's only row image is ``before``.
      * payload columns come from ``after`` only; deletes null-fill.
      * T (truncate) records carry no row and are filtered out, same
        posture as wal2json's B/C/T/M control records.
      * lsn: ``pos`` parsed exactly as DECIMAL(20,0). A position that
        exceeds a signed 64-bit lsn fails FAST via ``raise_error`` (the
        DynamoDB-adapter discipline: a mis-scaled ordinal must abort
        the job, not silently quarantine the stream); a non-numeric pos
        degrades to NULL and lands in the quarantine gate row-wise.
    """
    v = F.col(value_col)
    after = F.get_json_object(v, "$.after")
    before = F.get_json_object(v, "$.before")
    row_image = F.coalesce(after, before)
    op_raw = F.get_json_object(v, "$.op_type")
    op = (
        F.when(op_raw == "I", "INSERT")
        .when(op_raw == "U", "UPDATE")
        .when(op_raw == "D", "DELETE")
    )
    pos = F.get_json_object(v, "$.pos").try_cast("decimal(20,0)")
    lsn = (
        F.when(pos.isNull(), F.lit(None).cast("long"))
        .when(pos <= F.lit(_I64_MAX).cast("decimal(20,0)"), pos.cast("long"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "goldengate pos %s does not fit a 64-bit lsn; "
                    "rebase the trail position before ingest",
                    F.get_json_object(v, "$.pos"),
                )
            )
        )
    )
    return df.where(op_raw.isin("I", "U", "D")).select(
        op.alias("op"),
        *[
            F.get_json_object(row_image, f"$.{name}").try_cast(t).alias(name)
            for name, t in key_fields
        ],
        *_extract(after, payload_fields),
        F.unix_millis(
            F.to_timestamp(F.get_json_object(v, "$.op_ts"))
        ).alias("ts_ms"),
        lsn.alias("lsn"),
        F.get_json_object(v, "$.table").alias("source_file"),
    )


# Canal batches are bounded well under 2^20 rows (canal.instance.memory
# batch defaults are in the low thousands); the lsn folds (batch id,
# row index) into one monotone long with that bound enforced loudly.
_CANAL_ROW_BITS = 20


def parse_canal(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_fields: PayloadFields,
    value_col: str = "value",
) -> DataFrame:
    """Alibaba Canal FlatMessage (the public canal.deployer JSON Kafka
    output) -> canonical change relation. Canal is the standard
    MySQL-binlog bridge in the Alibaba ecosystem; one FlatMessage can
    carry MANY rows:

      type      INSERT | UPDATE | DELETE (DDL/ERALTER etc. filtered via
                isDdl + the type whitelist)
      data      ARRAY of row objects - full post-image for
                INSERT/UPDATE, full deleted-row image for DELETE (all
                scalar values arrive as JSON strings or null)
      old       changed columns' prior values (not needed for LWW)
      database, table                       -> source_file
      es        source binlog execute time, epoch ms  -> ts_ms
      ts        canal processing time (unused - source time orders)
      id        canal store batch id, monotone per destination

    The row array is exploded JVM-side (from_json ->
    array<map<string,string>> + posexplode - no Python row path) and
    the lsn folds (batch id, row position):
    ``id * 2^20 + pos`` - monotone across batches, order-preserving
    within one, with a loud failure if a batch ever exceeds 2^20 rows
    (fail fast, not silent reorder). Keys and payload both resolve from
    the row map by NAME - canal emits columns in relation order, which
    ALTER TABLE changes, so positional extraction would be
    evolution-unsafe (same posture as wal2json)."""
    v = F.col(value_col)
    typ = F.get_json_object(v, "$.type")
    op = (
        F.when(typ == "INSERT", "INSERT")
        .when(typ == "UPDATE", "UPDATE")
        .when(typ == "DELETE", "DELETE")
    )
    batch_id = F.get_json_object(v, "$.id").try_cast("long")
    rows = F.from_json(
        F.get_json_object(v, "$.data"), "array<map<string,string>>"
    )
    base = (
        df.where(
            typ.isin("INSERT", "UPDATE", "DELETE")
            # coalesce: a FlatMessage missing isDdl (older canal
            # versions omit it) must be treated as a data record, not
            # silently dropped by three-valued NULL != 'true'
            & (
                F.coalesce(F.get_json_object(v, "$.isDdl"), F.lit("false"))
                != F.lit("true")
            )
        )
        .select(
            op.alias("op"),
            batch_id.alias("_canal_batch"),
            F.get_json_object(v, "$.es").try_cast("long").alias("ts_ms"),
            F.concat_ws(
                ".",
                F.get_json_object(v, "$.database"),
                F.get_json_object(v, "$.table"),
            ).alias("source_file"),
            F.posexplode(rows).alias("_canal_pos", "_canal_row"),
        )
    )
    row = F.col("_canal_row")
    pos_ok = F.col("_canal_pos") < F.lit(1 << _CANAL_ROW_BITS)
    lsn = F.when(
        F.col("_canal_batch").isNull(), F.lit(None).cast("long")
    ).when(
        pos_ok,
        F.col("_canal_batch") * F.lit(1 << _CANAL_ROW_BITS).cast("long")
        + F.col("_canal_pos"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "canal batch %s carries more than 2^20 rows (row %s); "
                "the (batch, row) lsn fold cannot order it",
                F.col("_canal_batch"),
                F.col("_canal_pos"),
            )
        )
    )
    return base.select(
        "op",
        *[
            F.try_element_at(row, F.lit(name)).try_cast(t).alias(name)
            for name, t in key_fields
        ],
        *[
            F.try_element_at(row, F.lit(name)).try_cast(t).alias(name)
            for name, t in payload_fields
        ],
        "ts_ms",
        lsn.alias("lsn"),
        "source_file",
    )


# SQL Server LSNs are 10-byte binaries, rendered as 20 hex digits, with
# STRUCTURE: (VLF sequence number : 4 bytes)(log block offset : 4 bytes)
# (slot : 2 bytes). Numeric distance between consecutive log records is
# therefore NOT dense - it jumps by 2^16 at block boundaries and by 2^48
# at VLF rollovers - so no fixed small window over raw differences can
# hold. The lsn below is simply the operation's own ``__$seqval`` as an
# 80-bit integer rebased against the subscription base: lexicographic =
# numeric order for fixed-width LSNs, so monotonicity is structural and
# the only budget is total distance (2^63 ~ 2^15 VLFs of log growth).
# Parsed exactly in two 40-bit limbs (each fits a long via conv base
# 16); the 80-bit value lives in DECIMAL(25,0) for the rebase
# arithmetic.  Guards follow the DynamoDB-adapter discipline: a
# mis-based ordinal fails FAST, never silently quarantines the stream.
_MSSQL_LSN_HEX = 20
# operations of a transaction that committed AFTER the subscription
# base may have logged their records BEFORE it; the slack keeps those
# non-negative. It must cover the largest below-base gap a straddling
# transaction can produce - including block jumps (2^16 steps) and VLF
# rollovers (2^48 steps) - so it is sized at two full VLF fields
# (2^49). That sacrifices 2^-14 of the forward range and tolerates a
# transaction whose pre-base log tail spans a whole VLF; anything
# further below is a mis-chosen base and fails loudly.
_MSSQL_SLACK = 1 << 49


def _mssql_hex_limbs(col: Column) -> tuple[Column, Column]:
    """Normalized LSN hex string (<= 20 digits, optional 0x) -> (hi 40
    bits, lo 40 bits) as longs; malformed input - including OVERLONG
    hex, which lpad would otherwise silently left-truncate to a wrong
    value - yields (NULL, NULL)."""
    raw = F.regexp_replace(F.upper(col), "^0X", "")
    ok = raw.rlike(r"^[0-9A-F]{1,20}$")
    clean = F.lpad(raw, _MSSQL_LSN_HEX, "0")
    hi = F.when(ok, F.conv(F.substring(clean, 1, 10), 16, 10).cast("long"))
    lo = F.when(ok, F.conv(F.substring(clean, 11, 10), 16, 10).cast("long"))
    return hi, lo


def _mssql_decimal(hi: Column, lo: Column) -> Column:
    """(hi, lo) 40-bit limbs -> exact DECIMAL(25,0) value."""
    return (
        hi.cast("decimal(25,0)") * F.lit(1 << 40).cast("decimal(25,0)")
        + lo.cast("decimal(25,0)")
    )


def parse_sqlserver_cdc(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_fields: PayloadFields,
    lsn_base: str = "0",
    capture_instance: str = "sqlserver",
    time_col: str | None = "tran_end_time",
) -> DataFrame:
    """SQL Server CDC change table (the public shape
    ``cdc.fn_cdc_get_all_changes_<capture_instance>`` returns, Microsoft-
    documented) -> canonical change relation. This is the third
    commercial-database family next to GoldenGate and Debezium - the
    wire shape every SQL-Server-sourced pipeline starts from.

    Envelope columns per change row:

      __$start_lsn    commit LSN of the transaction, binary(10) rendered
                      as 20 hex digits (with or without ``0x``) - shared
                      by every row of one transaction
      __$seqval       log sequence value ordering rows WITHIN the
                      transaction, same rendering
      __$operation    1 = delete, 2 = insert, 3 = update (before image),
                      4 = update (after image)
      __$update_mask  changed-column bitmap (not needed for LWW)
      <columns>       the captured source columns, natively typed; a
                      delete row carries the full deleted image
      tran_end_time   commit time when the export joins
                      ``cdc.lsn_time_mapping`` (optional; ts_ms is NULL
                      without it - LWW orders by lsn alone)

    Mapping choices:
      * operation 3 rows (update before-images) are filtered: LWW wants
        the after image only, same posture as Debezium's ``before``.
        (The update's 3/4 rows share a seqval; filtering 3 also keeps
        the lsn unique per surviving change row.)
      * lsn = ``__$seqval`` (the operation's OWN log LSN) parsed
        EXACTLY in two 40-bit limbs, rebased against ``lsn_base`` (the
        capture instance's ``sys.fn_cdc_get_min_lsn`` at subscription
        time, hex), plus a small slack for operations logged just
        before the base whose transaction committed after it. No
        structured fold over (start_lsn, seqval) is attempted: LSN
        numeric distance jumps by 2^16 per log block and 2^48 per VLF,
        so any fixed per-transaction window would abort on ordinary
        multi-block transactions. Ordering by seqval alone is correct
        for the engine's PER-KEY LWW: two transactions writing the
        same row serialize on its X lock, so a later committer's
        change rows also log later - per key, seqval order IS commit
        order. (Cross-key, seqval is log order rather than commit
        order; LWW never compares lsns across keys.)
      * budget: the rebased value must fit a signed 64 - with the VLF
        field at bit 48 that is ~2^15 VLFs of log growth after the
        base; outgrowing it (or a seqval more than the slack below the
        base: a wrong lsn_base) fails FAST via ``raise_error`` with a
        re-base instruction - real LSNs silently NULLing out (the
        round-4 DynamoDB bug class) cannot happen.
      * malformed hex degrades to NULL row-wise (quarantine-gate path).
    """
    base = str(lsn_base).strip().upper().removeprefix("0X")
    if not base or len(base) > _MSSQL_LSN_HEX or any(
        c not in "0123456789ABCDEF" for c in base
    ):
        raise ValueError(
            f"lsn_base must be <= {_MSSQL_LSN_HEX} hex digits "
            f"(a SQL Server LSN), got {lsn_base!r}"
        )
    base_val = int(base, 16)
    op_raw = F.col("`__$operation`").try_cast("int")
    op = (
        F.when(op_raw == 1, "DELETE")
        .when(op_raw == 2, "INSERT")
        .when(op_raw == 4, "UPDATE")
    )
    q_hi, q_lo = _mssql_hex_limbs(F.col("`__$seqval`"))
    seqv = _mssql_decimal(q_hi, q_lo)
    # the base is built from its 40-bit limbs like the seqval: a literal
    # of 2^63 or more (VLF >= 0x8000) does not fit F.lit's long
    base_dec = _mssql_decimal(
        F.lit(base_val >> 40), F.lit(base_val & ((1 << 40) - 1))
    )
    off = seqv - base_dec + F.lit(_MSSQL_SLACK).cast("decimal(25,0)")
    off_ok = (off >= 0) & (off <= F.lit(_I64_MAX).cast("decimal(25,0)"))
    lsn = (
        F.when(q_hi.isNull(), F.lit(None).cast("long"))
        .when(off_ok, off.cast("long"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "sqlserver __$seqval %s does not map into a 64-bit "
                    "lsn relative to lsn_base "
                    + (base or "0")
                    + "; choose lsn_base at or below the capture "
                    "instance's min_lsn AT SUBSCRIPTION TIME (too-low "
                    "values only spend forward range; a base above "
                    "in-flight transactions' first log records cannot "
                    "work)",
                    F.col("`__$seqval`"),
                )
            )
        )
    )
    ts_ms = (
        F.unix_millis(F.col(time_col).cast("timestamp"))
        if time_col and time_col in df.columns
        else F.lit(None).cast("long")
    )
    return df.where(op_raw.isin(1, 2, 4)).select(
        op.alias("op"),
        *[F.col(name).try_cast(t).alias(name) for name, t in key_fields],
        *[F.col(name).try_cast(t).alias(name) for name, t in payload_fields],
        ts_ms.alias("ts_ms"),
        lsn.alias("lsn"),
        F.lit(capture_instance).alias("source_file"),
    )


# CockroachDB HLC: "<wall-nanos>.<logical-10-digits>".  The fold below
# reserves 10 bits for the logical counter, so the rebased wall budget
# is 2^53 ns ~ 104 days of changefeed - past that the loud guard asks
# for a re-subscription with a fresh hlc_base. A logical counter past
# 1023 is a different failure: no base can fit it, so its guard names
# the field width instead.
_CRDB_LOGICAL_BITS = 10
_CRDB_WALL_BITS = 53


def parse_cockroach_changefeed(
    df: DataFrame,
    payload_fields: PayloadFields,
    key_fields: PayloadFields,
    value_col: str = "value",
    hlc_base: str = "0",
    topic: str = "cockroachdb",
) -> DataFrame:
    """CockroachDB changefeed wrapped envelope (the public
    ``CREATE CHANGEFEED ... WITH updated, diff`` Kafka JSON output) ->
    canonical change relation. CockroachDB is the NewSQL family's
    representative: no binlog position exists - ordering rides the HLC
    (hybrid logical clock) resolved timestamp.

    Each record is one JSON object:

      after     full post-image row object; JSON null for a delete
      before    prior image (``diff`` option; not needed for LWW)
      key       ARRAY of primary-key values in index order
      updated   HLC commit timestamp "<wall>.<logical>" - wall is epoch
                NANOSECONDS (19 digits today), logical a 10-digit
                zero-padded counter breaking same-nanosecond ties

    Mapping choices:
      * op: CockroachDB's wrapped envelope does not distinguish insert
        from update - ``after`` present is an UPSERT (the merge treats
        any non-DELETE winner as an upsert anyway, lake/table.py step
        5), ``after: null`` is a DELETE. Key columns resolve from the
        positional ``key`` array (present on deletes too), payload from
        ``after`` by name.
      * lsn: ``(wall - hlc_base) * 2^10 + logical`` - HLC order
        preserved exactly. ``hlc_base`` is the changefeed's start/resume
        cursor (nanoseconds); the rebased wall must fit 53 bits (~104
        days of feed) and the logical counter 10 bits, both enforced by
        ``raise_error`` - a changefeed outliving its base fails FAST
        with a re-subscribe instruction instead of silently
        dead-lettering (the round-4 DynamoDB bug class); a logical
        counter past 1023 fails with its own message, since
        re-subscribing cannot shrink it.
      * ts_ms = wall / 10^6 (absolute, not rebased).
    """
    base = str(hlc_base).strip()
    # bound the VALUE, not the digit count: a 19-digit string can still
    # exceed int64 and would otherwise crash F.lit() with an obscure
    # literal-overflow error instead of this message
    if not base.isdigit() or int(base) > _I64_MAX:
        raise ValueError(
            f"hlc_base must be a decimal epoch-nanoseconds string "
            f"(a signed 64-bit value), got {hlc_base!r}"
        )
    base_val = int(base)
    v = F.col(value_col)
    after = F.get_json_object(v, "$.after")
    updated = F.get_json_object(v, "$.updated")
    # F.get, not getItem: a malformed `updated` with no "." yields a
    # 1-element split and must degrade to NULL (quarantine path), not
    # throw INVALID_ARRAY_INDEX under ANSI mode.
    wall = F.get(F.split(updated, r"\."), 0).try_cast("long")
    logical = F.get(F.split(updated, r"\."), 1).try_cast("long")
    wall_off = wall - F.lit(base_val)
    wall_ok = (wall_off >= 0) & (wall_off < F.lit(1 << _CRDB_WALL_BITS))
    logical_ok = (logical >= 0) & (logical < F.lit(1 << _CRDB_LOGICAL_BITS))
    lsn = (
        F.when(wall.isNull() | logical.isNull(), F.lit(None).cast("long"))
        .when(
            wall_ok & logical_ok,
            wall_off * F.lit(1 << _CRDB_LOGICAL_BITS) + logical,
        )
        .when(
            ~wall_ok,
            F.raise_error(
                F.format_string(
                    "cockroach HLC %s does not map into the 64-bit lsn "
                    "fold relative to hlc_base "
                    + (base or "0")
                    + "; re-subscribe with the changefeed cursor as "
                    "hlc_base",
                    updated,
                )
            ),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "cockroach HLC %s has a logical counter outside the "
                    f"lsn fold's {_CRDB_LOGICAL_BITS}-bit field (0.."
                    f"{(1 << _CRDB_LOGICAL_BITS) - 1}); no hlc_base can "
                    "fit it, so re-subscribing will not help. Move bits "
                    "from _CRDB_WALL_BITS to _CRDB_LOGICAL_BITS in "
                    "sources/cdc_formats.py (each bit moved halves the "
                    "~104-day wall budget)",
                    updated,
                )
            )
        )
    )
    op = F.when(after.isNull(), "DELETE").otherwise("UPSERT")
    return df.where(updated.isNotNull()).select(
        op.alias("op"),
        *[
            F.get_json_object(v, f"$.key[{i}]").try_cast(t).alias(name)
            for i, (name, t) in enumerate(key_fields)
        ],
        *[
            F.get_json_object(after, f"$.{name}").try_cast(t).alias(name)
            for name, t in payload_fields
        ],
        # decimal, not double: a 19-digit nanos wall exceeds the 53-bit
        # double mantissa, so wall/1e6 through float can be off by 1 ms
        # at exact-millisecond boundaries.
        F.floor(wall.cast("decimal(25,0)") / F.lit(1_000_000))
        .cast("long")
        .alias("ts_ms"),
        lsn.alias("lsn"),
        F.lit(topic).alias("source_file"),
    )


CDC_PARSERS = {
    "mysql-binlog": parse_mysql_binlog,
    "mongo-change-stream": parse_mongo_change_stream,
    "aerospike-cdc": parse_aerospike_cdc,
    "clickstream": parse_clickstream,
    "debezium": parse_debezium,
    "wal2json": parse_wal2json,
    "maxwell": parse_maxwell,
    "dynamodb-stream": parse_dynamodb_stream,
    "goldengate": parse_goldengate,
    "canal": parse_canal,
    "sqlserver-cdc": parse_sqlserver_cdc,
    "cockroach-changefeed": parse_cockroach_changefeed,
}


def parse_cdc(df: DataFrame, source_format: str, /, **kwargs) -> DataFrame:
    """Dispatch to a named format adapter (the engine-side analog of the
    reference's per-source processing branches)."""
    try:
        parser = CDC_PARSERS[source_format]
    except KeyError:
        raise ValueError(
            f"unknown CDC source format {source_format!r}; "
            f"known: {sorted(CDC_PARSERS)}"
        ) from None
    return parser(df, **kwargs)


# Column-shape signatures for the STRUCTURED envelopes (the format is
# decided by which envelope columns exist - disjoint by construction):
_COLUMN_SIGNATURES: list[tuple[str, frozenset[str]]] = [
    # sqlserver-cdc FIRST: the __$-prefixed envelope columns are a SQL
    # Server reserved namespace that no captured SOURCE column can use,
    # while a capture instance's source columns are arbitrary and could
    # coincidentally satisfy a later signature (e.g. a source table with
    # database/table/type/position/data columns looks like Maxwell) -
    # the most-reserved signature must win before first-subset-match.
    ("sqlserver-cdc", frozenset({"__$start_lsn", "__$operation"})),
    ("mysql-binlog", frozenset({"operation", "binlog_file", "binlog_position"})),
    ("mongo-change-stream", frozenset({"operationType", "fullDocument", "resumeToken"})),
    ("aerospike-cdc", frozenset({"operation", "bins", "generation"})),
    ("clickstream", frozenset({"event_type", "page_url", "properties"})),
    ("maxwell", frozenset({"database", "table", "type", "position", "data"})),
    ("dynamodb-stream", frozenset({"eventName", "dynamodb"})),
]

# JSON-key signatures for the SINGLE-VALUE-COLUMN family (one JSON
# object per record; the format is decided by which top-level keys the
# envelope carries - each set below is unique to its format):
_JSON_SIGNATURES: list[tuple[str, frozenset[str]]] = [
    ("debezium", frozenset({"op", "source"})),
    ("goldengate", frozenset({"op_type", "pos"})),
    ("wal2json", frozenset({"action", "schema"})),
    ("canal", frozenset({"isDdl", "es"})),
    ("cockroach-changefeed", frozenset({"after", "updated"})),
]

# the complete key vocabulary of wal2json v2 B/C/M control records
# (begin/commit with optional xid/timestamp/lsn fields, message with
# prefix/content); used to keep the control-record detection fallback
# from claiming arbitrary "action"-keyed producers
_W2J_CONTROL_KEYS = frozenset(
    {
        "action", "xid", "timestamp", "lsn", "nextlsn", "origin",
        "transactional", "prefix", "content",
    }
)


def detect_cdc_format(
    df: DataFrame, value_col: str = "value", sample_rows: int = 16
) -> str:
    """Identify which supported wire format an UNLABELED change stream
    carries, so a multi-source ingest can route batches without
    per-source configuration (the reference hard-codes one processing
    branch per source; misrouting an envelope there silently yields
    all-null parses - here it is detected or refused loudly).

    Two-stage detection, cheapest first:

    1. **Column shape.** The structured envelopes (MySQL binlog, Mongo
       change stream, Aerospike, ClickStream, Maxwell, DynamoDB
       Streams) each carry distinctive envelope COLUMNS; matching is
       pure schema inspection - zero data read, works on streaming
       DataFrames too.
    2. **Sampled JSON keys.** The Kafka-value family (Debezium,
       GoldenGate, wal2json, Canal) is one JSON object per record in
       ``value_col``; ``sample_rows`` records are read (bounded driver
       work, batch DataFrames only) and their top-level key sets
       matched against per-format signatures. EVERY sampled record
       must agree - a mixed or ambiguous stream raises rather than
       guessing, because a wrong adapter is a correctness bug, not a
       degradation.

    Returns the ``CDC_PARSERS`` key; compose as
    ``parse_cdc(df, detect_cdc_format(df), **adapter_kwargs)``.
    Detection is a setup-time decision: run it once when subscribing a
    source, then pin the result in the dataset config - not per batch.
    """
    import json

    cols = set(df.columns)
    for fmt, sig in _COLUMN_SIGNATURES:
        if sig <= cols:
            return fmt
    if value_col not in cols:
        raise ValueError(
            f"cannot detect CDC format: no structured-envelope column "
            f"signature matches {sorted(cols)} and there is no "
            f"{value_col!r} column to sample"
        )
    if df.isStreaming:
        raise ValueError(
            "cannot sample a streaming DataFrame for JSON-envelope "
            "detection; detect on a static sample of the topic (or pin "
            "the format in the dataset config) before subscribing"
        )
    sampled = df.select(value_col).limit(sample_rows).collect()
    if not sampled:
        raise ValueError("cannot detect CDC format of an empty sample")
    votes: set[str] = set()
    nulls = 0
    for row in sampled:
        # Kafka NULL values are Debezium post-delete TOMBSTONES (and
        # compaction markers generally) - a normal part of any topic
        # where deletes occurred. Skip them; they carry no format
        # information and must not abort detection.
        if row[0] is None:
            nulls += 1
            continue
        try:
            parsed = json.loads(row[0])
            keys = set(parsed.keys())
        except (AttributeError, TypeError, ValueError) as e:
            raise ValueError(
                f"cannot detect CDC format: unparseable JSON envelope "
                f"{row[0]!r}"
            ) from e
        matches = [fmt for fmt, sig in _JSON_SIGNATURES if sig <= keys]
        if (
            not matches
            and parsed.get("action") in ("B", "C", "M")
            and keys <= _W2J_CONTROL_KEYS
        ):
            # wal2json v2 transaction-control records (begin/commit/
            # message) carry only {action[, xid, timestamp, ...]} - no
            # schema key, so the main signature can't see them, but
            # every real wal2json dump contains them (parse_wal2json
            # filters them out downstream for the same reason). The
            # key-subset requirement keeps the refuse-loudly posture:
            # an unknown producer that merely reuses an "action" field
            # with extra keys still refuses instead of misrouting.
            matches = ["wal2json"]
        if len(matches) != 1:
            raise ValueError(
                f"cannot detect CDC format: envelope keys {sorted(keys)} "
                f"match {matches or 'no known format'}"
            )
        votes.add(matches[0])
    if not votes:
        raise ValueError(
            f"cannot detect CDC format: all {nulls} sampled records are "
            "NULL tombstones; sample a wider offset range"
        )
    if len(votes) != 1:
        raise ValueError(
            f"cannot detect CDC format: sampled records disagree "
            f"({sorted(votes)}); split the stream per source first"
        )
    return votes.pop()
