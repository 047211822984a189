"""Metadata-only column rename (Iceberg ALTER TABLE ... RENAME COLUMN
analog via a prior-name map instead of field IDs - see
LakeTable.rename_column). The reference's schema-evolution surface stops
at add/widen/drop (SchemaEvolution.scala widening lattice,
/root/reference/artifacts/lld/LLD.md:103-122); rename is the missing
fourth arm every long-lived lake table eventually needs. Invariants:

  * rename touches NO data file (manifests identical before/after);
  * reads - COW, MOR overlays, time travel, changelog across the
    rename, stats-pruned range reads - all resolve old files' physical
    names through the map exactly;
  * writes after the rename use the new name; a stale producer still
    emitting the OLD name is rejected with the mapping in the error;
  * a new column reusing a retired physical name is refused until
    retire_renames() proves no referenced file still carries it.
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.schema.evolution import SchemaEvolutionError
from tests.util import merged_table

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _make(spark, path, **kw):
    kw.setdefault("num_buckets", 4)
    return LakeTable.create(
        spark, path, SCHEMA, pk_fields=["conv_id", "turn_idx"],
        order_fields=["lsn", "ts"], **kw,
    )


def _batch(spark, rows, tool_col="tool"):
    import datetime as dt

    ts = dt.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [
            ("INSERT", cid, ti, "user", txt, tool, ts, lsn)
            for cid, ti, txt, tool, lsn in rows
        ],
        f"op string, conv_id string, turn_idx int, role string, "
        f"text string, {tool_col} string, ts timestamp, lsn long",
    )


def test_rename_is_metadata_only_and_reads_resolve(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1), ("c1", 1, "yo", None, 2)]),
        pipeline_id="p", epoch_id=0,
    )
    before = tbl.snapshot()
    tbl.rename_column("tool", "tool_name")
    after = tbl.snapshot()
    # metadata-only: same files, same manifests, no data rewrite
    assert after.files == before.files
    assert after.deltas == before.deltas
    assert after.operation == "rename-column"
    assert after.schema_version == before.schema_version + 1
    assert [f.name for f in after.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool_name", "ts",
    ]
    got = tbl.read().orderBy("turn_idx").toPandas()
    assert list(got.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool_name", "ts",
    ]
    assert got["tool_name"].tolist() == ["search", None]
    # time travel shows the OLD name with the same values
    old = tbl.read(version=before.version).orderBy("turn_idx").toPandas()
    assert "tool" in old.columns and old["tool"].tolist() == ["search", None]


def test_new_writes_use_new_name_and_mix_with_old_files(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0,
    )
    tbl.rename_column("tool", "tool_name")
    tbl.merge(
        _batch(
            spark,
            [("c1", 1, "new", "calc", 2), ("c1", 0, "hi2", "browse", 3)],
            tool_col="tool_name",
        ),
        pipeline_id="p", epoch_id=1,
    )
    got = tbl.read().orderBy("turn_idx").toPandas()
    # turn 0 was UPDATED post-rename (new file), turn 1 inserted post-rename
    assert got["tool_name"].tolist() == ["browse", "calc"]
    assert got["text"].tolist() == ["hi2", "new"]


def test_stale_producer_old_name_rejected_with_mapping(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0,
    )
    tbl.rename_column("tool", "tool_name")
    with pytest.raises(SchemaEvolutionError, match="renamed to 'tool_name'"):
        tbl.merge(
            _batch(spark, [("c1", 1, "x", "y", 2)]), pipeline_id="p",
            epoch_id=1,
        )
    # non-fail-fast: batch applies minus the stale column, ledger BLOCKED
    tbl.merge(
        _batch(spark, [("c1", 1, "x", "y", 2)]), pipeline_id="p",
        epoch_id=1, fail_on_breaking=False,
    )
    got = tbl.read().orderBy("turn_idx").toPandas()
    assert got["text"].tolist() == ["hi", "x"]
    assert got["tool_name"].tolist() == ["search", None]
    assert any(
        e["status"] == "BLOCKED" and "pre-rename" in e["detail"]
        for e in tbl.schema_ledger()
    )


def test_reusing_prior_name_as_added_column_refused(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0,
    )
    tbl.rename_column("tool", "tool_name")
    with pytest.raises(SchemaEvolutionError, match="pre-rename"):
        tbl.propose_schema(
            T.StructType(list(tbl.snapshot().schema.fields) + [
                T.StructField("tool", T.StringType()),
            ])
        )
    # renaming BACK to a still-live prior name is refused too
    with pytest.raises(ValueError, match="retired physical name"):
        tbl.rename_column("tool_name", "tool")


def test_rename_chain_and_retire_after_rewrite(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0,
    )
    tbl.rename_column("tool", "tool_name")
    tbl.rename_column("tool_name", "tool_used")
    snap = tbl.snapshot()
    assert snap.properties["renames"] == {"tool_used": ["tool_name", "tool"]}
    got = tbl.read().toPandas()
    assert got["tool_used"].tolist() == ["search"]
    # 'tool_name' never physically reached a file (renamed twice with no
    # write in between) so it retires immediately; 'tool' is still live
    # inside the pre-rename file and must stay mapped
    assert tbl.retire_renames() == ["tool_name"]
    assert tbl.snapshot().properties["renames"] == {"tool_used": ["tool"]}
    assert tbl.read().toPandas()["tool_used"].tolist() == ["search"]
    # a full compaction rewrites every referenced file under current names
    tbl.compact()
    retired = tbl.retire_renames()
    assert retired == ["tool"]
    assert "renames" not in tbl.snapshot().properties
    assert tbl.read().toPandas()["tool_used"].tolist() == ["search"]
    # the name is free again now
    tbl.rename_column("tool_used", "tool")
    assert tbl.read().toPandas()["tool"].tolist() == ["search"]


def test_rename_pk_field_keeps_layout_and_merges(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "t", 1), ("c2", 0, "yo", "t", 2)]),
        pipeline_id="p", epoch_id=0,
    )
    files_before = tbl.snapshot().files
    tbl.rename_column("conv_id", "conversation_id")
    assert tbl.snapshot().pk_fields == ["conversation_id", "turn_idx"]
    assert tbl.snapshot().files == files_before
    import datetime as dt

    batch = spark.createDataFrame(
        [("UPDATE", "c1", 0, "user", "hi2", "t", dt.datetime(2026, 1, 2), 5)],
        "op string, conversation_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, lsn long",
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=1)
    got = tbl.read().orderBy("conversation_id").toPandas()
    assert got["conversation_id"].tolist() == ["c1", "c2"]
    assert got["text"].tolist() == ["hi2", "yo"]
    # values hash to the same buckets regardless of the column's name
    assert sorted(int(b) for b in tbl.snapshot().files) == sorted(
        int(b) for b in files_before
    )


def test_rename_over_mor_deltas_and_partial_overlays(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0, write_mode="mor",
    )
    tbl.merge(
        _batch(spark, [("c1", 0, "hi-v2", "browse", 2)]), pipeline_id="p",
        epoch_id=1, write_mode="mor",
    )
    assert any(tbl.snapshot().deltas.values())  # unresolved overlay exists
    tbl.rename_column("tool", "tool_name")
    got = tbl.read().toPandas()
    assert got["tool_name"].tolist() == ["browse"]
    assert got["text"].tolist() == ["hi-v2"]
    # compaction folds pre-rename base + delta files under the new name
    tbl.compact()
    assert tbl.read().toPandas()["tool_name"].tolist() == ["browse"]


def test_changelog_across_rename_uses_new_names(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1)]), pipeline_id="p",
        epoch_id=0,
    )
    v0 = tbl.current_version()
    tbl.rename_column("tool", "tool_name")
    tbl.merge(
        _batch(
            spark,
            [("c1", 0, "hi2", "calc", 5), ("c2", 0, "new", None, 6)],
            tool_col="tool_name",
        ),
        pipeline_id="p", epoch_id=1,
    )
    cl = tbl.read_changes(v0).orderBy("conv_id").toPandas()
    assert "tool_name" in cl.columns and "tool" not in cl.columns
    assert cl["change_type"].tolist() == ["update", "insert"]
    assert cl["tool_name"].tolist() == ["calc", None]
    # the pre-rename state reads under the post-rename schema: the UPDATE
    # classification saw tool='search' -> tool_name='calc' as a change
    env = tbl.read_changes_envelope(v0).toPandas()
    ups = [
        json.loads(v) for v in env["value"]
        if json.loads(v)["op"] == "u"
    ]
    assert ups and ups[0]["before"]["tool_name"] == "search"


def test_stats_pruning_consults_prior_name(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    # two appends -> two commits with disjoint turn_idx ranges, stats
    # recorded under the ORIGINAL column name
    import datetime as dt

    for lo in (0, 100):
        batch = spark.createDataFrame(
            [
                ("c%d" % i, lo + i, "user", "t", None, dt.datetime(2026, 1, 1))
                for i in range(5)
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        tbl.append(batch)
    tbl.rename_column("turn_idx", "turn_no")
    pruned, total = tbl.candidate_files(where={"turn_no": (100, None)})
    kept = sum(len(v) for v in pruned.values())
    assert kept < total  # low-range files dropped via the 'turn_idx' stats
    got = tbl.read(where={"turn_no": (100, None)}).toPandas()
    assert sorted(got["turn_no"].tolist()) == [100, 101, 102, 103, 104]


def test_rename_validation_errors(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    with pytest.raises(ValueError, match="no such column"):
        tbl.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("tool", "text")
    with pytest.raises(ValueError, match="reserved"):
        tbl.rename_column("tool", "_tool")


def test_rename_then_widen_combo(spark, tmp_table_dir):
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "t", 1)]), pipeline_id="p", epoch_id=0
    )
    tbl.rename_column("turn_idx", "turn_no")
    # a post-rename batch widens the renamed column int -> long
    import datetime as dt

    batch = spark.createDataFrame(
        [("INSERT", "c1", 2**40, "user", "big", "t", dt.datetime(2026, 1, 2), 2)],
        "op string, conv_id string, turn_no long, role string, "
        "text string, tool string, ts timestamp, lsn long",
    )
    tbl.merge(batch, pipeline_id="p", epoch_id=1)
    assert (
        dict((f.name, f.dataType.simpleString())
             for f in tbl.snapshot().schema.fields)["turn_no"] == "bigint"
    )
    got = tbl.read().orderBy("turn_no").toPandas()
    # the pre-rename, pre-widening file reads as long under 'turn_no'
    assert got["turn_no"].tolist() == [0, 2**40]


def test_renamed_read_plan_no_exchange_and_prior_in_scan(spark, tmp_table_dir):
    """The prior-name resolution must stay a SCAN-STAGE projection: a
    rename adds zero exchanges/jobs to a COW read, the parquet scan's
    ReadSchema carries both physical names, and the coalesce is inside
    the codegen'd project - the O(1)-forever cost claim of SCALE.md."""
    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(spark, [("c1", 0, "hi", "search", 1), ("c2", 0, "yo", None, 2)]),
        pipeline_id="p", epoch_id=0,
    )
    def _plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    base_plan = _plan(tbl.read())
    tbl.rename_column("tool", "tool_name")
    plan = _plan(tbl.read())
    assert plan.count("Exchange") == base_plan.count("Exchange") == 0
    assert "tool_name" in plan and "tool" in plan  # both physical names read
    assert "coalesce" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_rename_with_stale_secondary_index_target_dir(spark, tmp_table_dir):
    """rename_column runs the secondary-index dir move AFTER its commit
    succeeded; a stale target dir (crashed earlier rename, or an index
    once built under the new name) must be cleared and moved over, not
    raise ENOTEMPTY and leave the table renamed but the call failing
    (round-4 ADVICE item). The old column's index is authoritative for
    the just-renamed data."""
    from dataingestion_spark.lake.shardstore import ShardStore

    tbl = _make(spark, tmp_table_dir)
    tbl.merge(
        _batch(
            spark,
            [(f"c{i}", 0, f"t{i}", f"tool_{i % 3}", i) for i in range(30)],
        ),
        pipeline_id="m",
        epoch_id=0,
    )
    tbl.update_secondary_index("tool")
    want = {
        r.conv_id
        for r in tbl.read_in("tool", ["tool_1"]).collect()
    }
    assert want

    # plant a stale, non-empty dir where the renamed index will land
    stale = ShardStore(tbl.root, tbl._secondary_store_name("tool_kind"))
    stale.dir.mkdir(parents=True)
    (stale.dir / "leftover.json").write_text("{}")

    tbl.rename_column("tool", "tool_kind")

    assert tbl.secondary_index_cols() == ["tool_kind"]
    got = {
        r.conv_id
        for r in tbl.read_in("tool_kind", ["tool_1"]).collect()
    }
    assert got == want
    assert not (stale.dir / "leftover.json").exists()


def test_rename_remaps_sort_order_and_index_specs(spark, tmp_path):
    """A metadata-only rename must carry every name-keyed piece of table
    metadata with it, or the next maintenance pass crashes on a column
    that still exists under its new name."""
    from dataingestion_spark.lake.bloom import BloomIndexStore
    from dataingestion_spark.lake.ndv import NdvStore

    tbl = merged_table(spark, tmp_path)
    tbl.set_sort_order(["ts", "turn_idx"], mode="zorder")
    tbl.update_bloom_index()
    tbl.update_ndv_sketch(["tool", "role"])
    ndv_before = tbl.approx_ndv("tool", refresh=False)

    tbl.rename_column("ts", "event_ts")
    tbl.rename_column("tool", "tool_name")
    tbl.rename_column("conv_id", "cid")  # pk rename

    assert tbl.sort_order() == {"cols": ["event_ts", "turn_idx"], "mode": "zorder"}
    assert BloomIndexStore(tbl.root).spec()["pk_fields"] == ["cid", "turn_idx"]
    assert NdvStore(tbl.root).spec()["cols"] == ["role", "tool_name"]
    # bucket sketches moved with the name: the stored estimate survives
    # without any refresh job
    assert tbl.approx_ndv("tool_name", refresh=False) == ndv_before

    # the maintenance pass that used to crash now runs end to end
    report = tbl.optimize(max_delta_files_per_bucket=1, keep_snapshots=2)
    assert "error" not in report["indexes"].get("bloom", {})
    assert "error" not in report["indexes"].get("ndv", {})
    assert tbl.verify_integrity(check_data=False)["ok"]
    # and compaction under the renamed sort order still works
    snap = tbl.compact(max_records_per_file=500)
    assert snap.summary["cluster_cols"] == ["event_ts", "turn_idx"]
