"""One-shot maintenance pass (LakeTable.optimize - the OPTIMIZE ops
entry point): policy compaction, rename retirement, index refresh,
snapshot expiry, vacuum - in dependency order, each priced by churn,
all idempotent, state never changed."""

from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle, merged_table


def test_optimize_full_pass(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    ch = gen_changes(spark, n_events=4_000, n_convs=50, seed=17).persist()
    # 5 MOR epochs -> delta chains; bloom + ndv indexes; a sort order
    for e in range(5):
        lo, hi = e * 1_600, (e + 1) * 1_600
        tbl.merge(
            ch.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
            pipeline_id="p", epoch_id=e, write_mode="mor",
        )
    tbl.update_bloom_index()
    tbl.update_ndv_sketch(["conv_id"])
    tbl.update_secondary_index("tool")
    tbl.set_sort_order(["turn_idx", "ts"], mode="zorder")
    tbl.tag("keeper")
    assert tbl.snapshot().deltas

    report = tbl.optimize(
        max_delta_files_per_bucket=2,
        keep_snapshots=2,
        vacuum_older_than_s=0.0,
    )
    # compaction cleared the due delta chains and applied the z-order
    assert report["compacted"]
    assert not tbl.snapshot().deltas
    assert tbl.snapshot().operation == "compact"
    assert tbl.snapshot().summary["cluster_mode"] == "zorder"
    assert tbl.snapshot().summary["cluster_cols"] == ["turn_idx", "ts"]
    # indexes refreshed (present -> refreshed; the compaction rewrote
    # every compacted bucket, so refresh had real work)
    assert report["indexes"]["bloom"]["applied"]
    assert report["indexes"]["ndv"]["applied"]
    assert report["indexes"]["secondary:tool"]["applied"]
    assert list(report["indexes"]) == ["bloom", "ndv", "secondary:tool"]
    # expiry kept the tag, vacuum reclaimed the replaced MOR files
    assert tbl.resolve_tag("keeper") in tbl.retained_versions()
    assert sum(report["vacuumed"].values()) > 0
    assert report["retired_renames"] == []

    # state untouched by the whole pass
    assert_table_equals_oracle(tbl.read(), oracle.replay(ch.toPandas()))
    ch.unpersist()

    # a second pass finds nothing to do (idempotent, crash-safe resume)
    again = tbl.optimize(
        max_delta_files_per_bucket=2, keep_snapshots=2,
        vacuum_older_than_s=0.0,
    )
    assert again["compacted"] == []
    assert not again["indexes"]["bloom"]["applied"]
    assert not again["indexes"]["ndv"]["applied"]
    assert not again["indexes"]["secondary:tool"]["applied"]
    assert sum(again["vacuumed"].values()) == 0


def test_optimize_skips_absent_indexes(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "t2"), TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        gen_changes(spark, n_events=500, n_convs=10, seed=1),
        pipeline_id="p", epoch_id=0,
    )
    report = tbl.optimize()
    # never creates an index the operator didn't opt into
    assert report["indexes"] == {}
    from dataingestion_spark.lake.bloom import BloomIndexStore
    from dataingestion_spark.lake.ndv import NdvStore

    assert BloomIndexStore(tbl.root).spec() is None
    assert NdvStore(tbl.root).spec() is None


def test_optimize_survives_broken_index_spec(spark, tmp_path):
    """A stale/corrupt index spec must not starve expiry and vacuum."""
    from dataingestion_spark.lake.ndv import NdvStore

    tbl = merged_table(spark, tmp_path, name="t2")
    tbl.update_ndv_sketch(["conv_id"])
    store = NdvStore(tbl.root)
    spec = store.spec()
    spec["cols"] = ["gone_column"]  # simulate crash-mid-rename staleness
    store.write_spec(spec)
    for _ in range(4):
        tbl.merge(
            gen_changes(spark, n_events=200, n_convs=10, seed=7),
            pipeline_id="x", epoch_id=None,
        )
    report = tbl.optimize(keep_snapshots=1, vacuum_older_than_s=0.0)
    assert "error" in report["indexes"]["ndv"]
    assert report["expired_snapshots"]  # downstream steps still ran
    assert sum(report["vacuumed"].values()) >= 0
