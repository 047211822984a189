"""Merge-on-read write mode: delta-file merges must be observationally
identical to copy-on-write (same final state vs the replay oracle), with
O(batch) write amplification, correct late/duplicate handling via
read-time LWW, and compaction folding deltas into the base."""

import pandas as pd
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle


def _mk(spark, path, buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=buckets,
    )


def _epochs(changes, n):
    lsns = [r[0] for r in changes.select("lsn").distinct().collect()]
    hi = max(lsns) + 1
    step = hi // n + 1
    return [
        changes.filter((F.col("lsn") >= i * step) & (F.col("lsn") < (i + 1) * step))
        for i in range(n)
    ]


def test_mor_matches_oracle_and_cow(spark, tmp_path):
    changes = gen_changes(
        spark, n_events=6_000, n_convs=50, n_files=4, seed=21, dup_frac=0.1
    )
    changes.persist()
    expected = oracle.replay(changes.toPandas())

    mor = _mk(spark, tmp_path / "mor")
    cow = _mk(spark, tmp_path / "cow")
    for e, part in enumerate(_epochs(changes, 3)):
        mor.merge(part, pipeline_id="m", epoch_id=e, write_mode="mor")
        cow.merge(part, pipeline_id="c", epoch_id=e, write_mode="cow")

    assert_table_equals_oracle(mor.read(), expected)
    assert_table_equals_oracle(cow.read(), expected)

    # MOR accumulated deltas and never rewrote the base
    snap = mor.snapshot()
    assert any(snap.deltas.values())
    assert snap.operation == "merge-mor"
    changes.unpersist()


def test_mor_compaction_folds_deltas(spark, tmp_path):
    changes = gen_changes(spark, n_events=3_000, n_convs=30, n_files=2, seed=22)
    changes.persist()
    expected = oracle.replay(changes.toPandas())
    tbl = _mk(spark, tmp_path / "t")
    for e, part in enumerate(_epochs(changes, 2)):
        tbl.merge(part, pipeline_id="m", epoch_id=e, write_mode="mor")

    before = tbl.read().toPandas()
    snap = tbl.compact()
    assert not any(snap.deltas.values()), "compaction must clear deltas"
    assert_table_equals_oracle(tbl.read(), expected)
    after = tbl.read().toPandas()
    cols = ["conv_id", "turn_idx", "text"]
    pd.testing.assert_frame_equal(
        before.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[cols],
        after.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[cols],
    )
    changes.unpersist()


def test_mor_late_lower_lsn_does_not_overwrite(spark, tmp_path):
    tbl = _mk(spark, tmp_path / "t")
    rows = [
        ("INSERT", "c1", 0, "user", "v1", None, "2024-01-01 00:00:00", 10),
        ("UPDATE", "c1", 0, "user", "v2", None, "2024-01-01 00:01:00", 20),
    ]
    schema = "op string, conv_id string, turn_idx int, role string, text string, tool string, ts string, lsn long"
    df = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
    tbl.merge(df, pipeline_id="p", epoch_id=0, write_mode="mor")
    # late re-delivery of the OLD version in a later epoch
    late = spark.createDataFrame([rows[0]], schema).withColumn("ts", F.to_timestamp("ts"))
    tbl.merge(late, pipeline_id="p", epoch_id=1, write_mode="mor")
    got = tbl.read().toPandas()
    assert list(got["text"]) == ["v2"]

    # DELETE tombstone wins over lower-lsn data across deltas
    delete = spark.createDataFrame(
        [("DELETE", "c1", 0, None, None, None, "2024-01-01 00:02:00", 30)], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    tbl.merge(delete, pipeline_id="p", epoch_id=2, write_mode="mor")
    assert tbl.read().count() == 0
    # ...even if the old insert is re-delivered once more
    tbl.merge(late, pipeline_id="p", epoch_id=3, write_mode="mor")
    assert tbl.read().count() == 0


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    """v1 epochs as MOR deltas, then a v2 epoch (adds tool_meta,
    latency_ms): the evolved read must null-fill v1 base/delta rows and
    the LWW resolution must span the schema change."""
    from pyspark.sql import functions as F

    changes_v1 = gen_changes(spark, n_events=2_000, n_convs=25, seed=31)
    changes_v2 = gen_changes(
        spark, n_events=2_000, n_convs=25, seed=31, schema_version=2,
        lsn_offset=1_000_000,
    )
    changes_v1.persist(), changes_v2.persist()
    tbl = _mk(spark, tmp_path / "t")
    tbl.merge(changes_v1, pipeline_id="m", epoch_id=0, write_mode="mor")
    tbl.merge(changes_v2, pipeline_id="m", epoch_id=1, write_mode="mor")

    assert [f.name for f in tbl.snapshot().schema.fields][-2:] == [
        "tool_meta", "latency_ms",
    ]
    union = changes_v1.withColumn(
        "tool_meta", F.lit(None).cast("string")
    ).withColumn("latency_ms", F.lit(None).cast("long")).unionByName(changes_v2)
    expected = oracle.replay(
        union.toPandas(), extra_payload_cols=["tool_meta", "latency_ms"]
    )
    assert_table_equals_oracle(
        tbl.read(), expected,
        payload_cols=["role", "text", "tool", "ts", "tool_meta", "latency_ms"],
    )
    # compaction after evolution keeps the same state
    tbl.compact()
    assert_table_equals_oracle(
        tbl.read(), expected,
        payload_cols=["role", "text", "tool", "ts", "tool_meta", "latency_ms"],
    )
    changes_v1.unpersist(), changes_v2.unpersist()


def test_cow_merge_folds_outstanding_deltas(spark, tmp_path):
    """A COW merge on a table with outstanding MOR deltas must see the
    delta rows (resolved join input) and clear them for touched buckets."""
    changes = gen_changes(spark, n_events=2_000, n_convs=20, n_files=2, seed=23)
    changes.persist()
    expected = oracle.replay(changes.toPandas())
    tbl = _mk(spark, tmp_path / "t")
    parts = _epochs(changes, 2)
    tbl.merge(parts[0], pipeline_id="m", epoch_id=0, write_mode="mor")
    tbl.merge(parts[1], pipeline_id="m", epoch_id=1, write_mode="cow")
    assert_table_equals_oracle(tbl.read(), expected)
    changes.unpersist()


def test_maybe_compact_only_due_buckets(spark, tmp_path):
    """maybe_compact folds only buckets whose delta chain reached the
    limit; healthy buckets keep their deltas; state is unchanged.

    The fixture builds uneven chains BY CONSTRUCTION: epochs 0-1 apply
    whole batches (every bucket +1 delta), then epochs 2-3's rows are
    split along the engine's own bucket assignment - buckets 0-3 get
    each part as its own merge (+2 deltas) while buckets 4-7's rows
    land in one combined merge (+1 delta). Every source row is still
    applied exactly once, so the oracle replay is unaffected. (Before
    the hot-key absolute row floor, salting incidentally produced this
    variance by splitting hot buckets' epochs into per-salt delta
    files; the fixture now states its own assumption.)"""
    from dataingestion_spark.lake.table import bucket_expr

    changes = gen_changes(spark, n_events=3_000, n_convs=40, n_files=4, seed=24)
    changes.persist()
    expected = oracle.replay(changes.toPandas())
    tbl = _mk(spark, tmp_path / "t", buckets=8)
    parts = _epochs(changes, 4)
    deep = bucket_expr("conv_id", 8) < 4
    tbl.merge(parts[0], pipeline_id="m", epoch_id=0, write_mode="mor")
    tbl.merge(parts[1], pipeline_id="m", epoch_id=1, write_mode="mor")
    tbl.merge(parts[2].filter(deep), pipeline_id="m", epoch_id=2, write_mode="mor")
    tbl.merge(parts[3].filter(deep), pipeline_id="m", epoch_id=3, write_mode="mor")
    tbl.merge(
        parts[2].filter(~deep).unionByName(parts[3].filter(~deep)),
        pipeline_id="m",
        epoch_id=4,
        write_mode="mor",
    )
    snap = tbl.snapshot()
    chains = {b: len(fl) for b, fl in snap.deltas.items() if fl}
    limit = max(chains.values())  # only the deepest chains are due
    due = {b for b, n in chains.items() if n >= limit}
    assert due and due != set(chains), "fixture must leave healthy buckets"

    out = tbl.maybe_compact(max_delta_files_per_bucket=limit)
    assert out is not None
    after = tbl.snapshot()
    assert all(not after.deltas.get(b) for b in due), "due buckets compacted"
    healthy = set(chains) - due
    assert any(after.deltas.get(b) for b in healthy), "healthy deltas kept"
    assert_table_equals_oracle(tbl.read(), expected)

    # nothing due -> no-op, no new snapshot
    v = tbl.current_version()
    assert tbl.maybe_compact(max_delta_files_per_bucket=10_000) is None
    assert tbl.current_version() == v
    changes.unpersist()


def test_apply_changes_auto_compaction(spark, tmp_path):
    """compact_delta_files in the dataset config bounds MOR delta chains
    through the streaming apply path."""
    from dataingestion_spark.config import DatasetConfig
    from dataingestion_spark.sources.datagen import write_change_files
    from dataingestion_spark.streaming.pipeline import apply_changes, bootstrap_table

    landing = tmp_path / "landing"
    changes = gen_changes(spark, n_events=2_000, n_convs=25, n_files=4, seed=25)
    changes.persist()
    write_change_files(changes, landing)
    cfg = DatasetConfig(
        name="autocompact",
        table_path=str(tmp_path / "table"),
        num_buckets=4,
        write_mode="mor",
        compact_delta_files=2,
    )
    bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
    q = apply_changes(
        spark, cfg, str(landing), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination()
    tbl = LakeTable(spark, cfg.table_path)
    snap = tbl.snapshot()
    assert all(len(fl) < 2 + 1 for fl in snap.deltas.values()), snap.deltas
    expected = oracle.replay(changes.toPandas())
    assert_table_equals_oracle(tbl.read(), expected)
    changes.unpersist()


# ---------------------------------------------------------------------
# The engine's codec: build_session writes every lake Parquet file with
# zstd and compresses shuffle blocks with zstd. Parquet names its codec
# per column chunk, so files written under the older snappy setting read
# beside zstd ones with no migration.
# ---------------------------------------------------------------------

PARQUET_CODEC = "spark.sql.parquet.compression.codec"


def _codecs(tbl, files) -> set[str]:
    """Every column chunk's codec in ``files`` (bucket -> relative paths),
    from the Parquet footers."""
    import pyarrow.parquet as pq

    out = set()
    for rels in files.values():
        for rel in rels:
            md = pq.ParquetFile(str(tbl.root / rel)).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                out |= {rg.column(i).compression for i in range(rg.num_columns)}
    return out


def test_lake_files_and_shuffle_are_zstd(spark, tmp_path):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"
    assert spark.conf.get(PARQUET_CODEC) == "zstd"
    changes = gen_changes(spark, n_events=1_000, n_convs=20, n_files=2, seed=26)
    first, second = _epochs(changes, 2)
    tbl = _mk(spark, tmp_path / "t")
    tbl.merge(first, pipeline_id="m", epoch_id=0, write_mode="cow")
    assert _codecs(tbl, tbl.snapshot().files) == {"ZSTD"}
    tbl.merge(second, pipeline_id="m", epoch_id=1, write_mode="mor")
    deltas = tbl.snapshot().deltas
    assert any(deltas.values())
    assert _codecs(tbl, deltas) == {"ZSTD"}


def _as_rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    pdf = pdf[cols].astype(object)
    return sorted(
        tuple(r) for r in pdf.where(pdf.notna(), None).itertuples(index=False)
    )


def _oracle_diff(a: pd.DataFrame, b: pd.DataFrame) -> list[tuple]:
    """The net diff between two oracle states as read_changes rows:
    (change_type, pk..., payload...), deletes carrying the older image."""
    pk, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]
    j = a.merge(b, on=pk, how="outer", suffixes=("_a", "_b"), indicator=True)
    j = j.astype(object).where(j.notna(), None)
    out = []
    for r in j.to_dict("records"):
        img_a = tuple(r[f"{c}_a"] for c in payload)
        img_b = tuple(r[f"{c}_b"] for c in payload)
        k = (r["conv_id"], r["turn_idx"])
        if r["_merge"] == "right_only":
            out.append(("insert", *k, *img_b))
        elif r["_merge"] == "left_only":
            out.append(("delete", *k, *img_a))
        elif img_a != img_b:
            out.append(("update", *k, *img_b))
    return sorted(out)


def test_table_written_under_both_codecs(spark, tmp_path):
    """A table whose first commits are snappy and whose later ones are
    zstd answers every read, the changelog, the bloom upkeep and the
    maintenance path like the LWW oracle."""
    changes = gen_changes(
        spark, n_events=4_000, n_convs=40, n_files=4, seed=27, dup_frac=0.1
    )
    changes.persist()
    parts = _epochs(changes, 4)
    pdfs = [p.toPandas() for p in parts]
    states = [oracle.replay(pd.concat(pdfs[: i + 1])) for i in range(4)]
    tbl = _mk(spark, tmp_path / "t")
    prior = spark.conf.get(PARQUET_CODEC)
    spark.conf.set(PARQUET_CODEC, "snappy")
    try:
        tbl.merge(parts[0], pipeline_id="m", epoch_id=0, write_mode="cow")
        v_first = tbl.current_version()
        tbl.merge(parts[1], pipeline_id="m", epoch_id=1, write_mode="mor")
    finally:
        spark.conf.set(PARQUET_CODEC, prior)
    v_snappy = tbl.current_version()
    tbl.merge(parts[2], pipeline_id="m", epoch_id=2, write_mode="mor")
    snap = tbl.snapshot()
    assert _codecs(tbl, snap.files) == {"SNAPPY"}
    assert _codecs(tbl, snap.deltas) == {"SNAPPY", "ZSTD"}
    live = [f for fl in (*snap.files.values(), *snap.deltas.values()) for f in fl]
    assert tbl.update_bloom_index()["covered_files"] == len(live)
    # the stats-sidecar footer pass read the files of both codecs
    stats = tbl._stats_for(live)
    assert all("turn_idx" in stats.get(f, {}) for f in live)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    assert_table_equals_oracle(tbl.read(), states[2])
    keys = [tuple(k) for k in states[2][["conv_id", "turn_idx"]].values[::7]]
    keys += [("absent", 0), ("absent", 1)]
    hit = states[2].merge(
        pd.DataFrame(keys, columns=["conv_id", "turn_idx"]),
        on=["conv_id", "turn_idx"],
    )
    for use_bloom in (True, False):
        got = tbl.read_keys(keys, use_bloom=use_bloom).toPandas()
        assert _as_rows(got, cols) == _as_rows(hit, cols)
    convs = sorted(states[2]["conv_id"].unique())[::5] + ["absent"]
    got = tbl.read_prefix(convs).toPandas()
    want = states[2][states[2]["conv_id"].isin(convs)]
    assert _as_rows(got, cols) == _as_rows(want, cols)

    def changes_rows(v_a, v_b):
        got = tbl.read_changes(v_a, v_b).toPandas()
        return _as_rows(got, ["change_type", *cols])

    assert changes_rows(v_snappy, snap.version) == _oracle_diff(
        states[1], states[2]
    )
    assert changes_rows(v_first, snap.version) == _oracle_diff(states[0], states[2])

    tbl.merge(parts[3], pipeline_id="m", epoch_id=3, write_mode="cow")
    assert_table_equals_oracle(tbl.read(), states[3])
    assert changes_rows(v_first, tbl.current_version()) == _oracle_diff(
        states[0], states[3]
    )
    tbl.merge(parts[3], pipeline_id="m2", epoch_id=0, write_mode="mor")
    out = tbl.compact()
    assert not any(out.deltas.values())
    assert _codecs(tbl, out.files) == {"ZSTD"}
    assert_table_equals_oracle(tbl.read(), states[3])
    report = tbl.verify_integrity()
    assert report["ok"], report["errors"]
    changes.unpersist()
