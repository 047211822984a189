"""Physical-plan shape assertions: the Catalyst properties the engine's
scale story depends on (SURVEY.md §4). If one of these regresses, the
operator still returns correct rows but stops scaling - so they are
pinned here.

- parquet filter/column pushdown reaches the scan (PushedFilters,
  ReadSchema pruned);
- small dims broadcast (BroadcastHashJoin, no shuffle of the fact side);
- LWW 'agg' strategy plans as hash aggregation with a partial
  (map-side-combining) phase before the exchange;
- scalar text operators stay inside WholeStageCodegen (no Python eval in
  the hot path).
"""

import __spark_entry__ as entry
from pyspark.sql import functions as F

from dataingestion_spark.operators.lww import lww_dedupe
from dataingestion_spark.operators.text import quality_score

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(entry.q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 6 referenced columns - not the full table
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_revenue_by_nation_broadcasts_dims(spark):
    plan = _plan(entry.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the orders fact side must not be exchanged for the join itself:
    # the only Exchange below the join is the broadcast one
    assert "SortMergeJoin" not in plan


def test_lww_agg_strategy_has_partial_aggregate(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(lww_dedupe(ev, ["user_id"], ["ts", "event_id"], []))
    # struct-typed max_by plans as SortAggregate; the property that
    # matters at scale is the partial (map-side) phase before the exchange
    assert "partial_max_by" in plan, "map-side combine missing"
    # exactly one shuffle, keyed on the pk (formatted mode puts the
    # partitioning on the Exchange node's Arguments line)
    assert plan.count("hashpartitioning(user_id") == 1


def test_text_operators_stay_in_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(quality_score(docs).select("doc_id", "quality"))
    # '*' prefix = inside a WholeStageCodegen stage in formatted mode
    assert "* Project" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_read_prunes_to_manifest_files(spark, tmp_path):
    """The manifest-driven read lists exact files (no directory scan) and
    carries the explicit physical schema (null-fill evolution semantics)."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        gen_changes(spark, n_events=500, n_convs=10, seed=5),
        pipeline_id="p", epoch_id=0,
    )
    some_bucket = int(next(iter(tbl.snapshot().files)))
    pruned = tbl.read(buckets=[some_bucket], include_system=True)
    full = tbl.read(include_system=True)
    # bucket restriction really prunes the file set (row subset, and the
    # pruned read only sees rows of that bucket)
    assert pruned.count() < full.count()
    assert pruned.filter(F.col("_bucket") != some_bucket).count() == 0


def _partial_merge_plan(spark, tmp_path, monkeypatch, write_mode):
    """The plan a real partial-update merge hands to the file writer, over
    a table with one merged epoch (so the COW arm reads base rows)."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        gen_changes(spark, n_events=500, n_convs=10, seed=50),
        pipeline_id="p", epoch_id=0,
    )
    plans = []
    write = LakeTable._write_data_files

    def spy(self, df, *args, **kw):
        plans.append(_plan(df))
        return write(self, df, *args, **kw)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)
    snap = tbl.merge(
        gen_changes(spark, n_events=500, n_convs=10, seed=51).withColumn(
            "lsn", F.col("lsn") + 10**6
        ),
        pipeline_id="p", epoch_id=1, write_mode=write_mode,
        update_mode="partial",
    )
    assert len(plans) == 1
    plan = plans[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    return snap, plan


def test_cow_partial_plan_one_pk_exchange_no_join(spark, tmp_path, monkeypatch):
    """The COW partial merge resolves the batch with the touched buckets'
    base and delta rows in ONE dict-merge: one pk hash exchange (the
    barrier window and the per-key aggregate share it), no join, no
    Python eval."""
    snap, plan = _partial_merge_plan(spark, tmp_path, monkeypatch, "cow")
    assert snap.operation == "merge-partial"
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count("hashpartitioning(conv_id#") == 1, plan
    assert "partial_max_by" in plan, "dict-merge lost its aggregate"
    assert snap.summary["applied_events"] == 500


def test_mor_partial_plan_has_no_exchange(spark, tmp_path, monkeypatch):
    """The MOR partial merge appends the batch's events as delta rows
    unfolded: nothing is exchanged before the write."""
    snap, plan = _partial_merge_plan(spark, tmp_path, monkeypatch, "mor")
    assert snap.operation == "merge-mor-partial"
    assert "Exchange" not in plan, plan
    assert snap.summary["applied_events"] == 500


def test_dup_spans_no_cartesian_and_combinable_count(spark):
    """Span dedup must stay explode + hash-agg + equi-join: a cartesian or
    BNLJ here would be O(docs^2) at corpus scale."""
    plan = _plan(entry.q_doc_dup_spans(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # combinable occurrence count


def test_quantized_topk_broadcasts_queries_no_corpus_shuffle(spark):
    """The quantized scoring scan must keep the brute-force baseline's
    shape: queries broadcast, corpus never exchanged for the join."""
    plan = _plan(entry.q_embedding_quantized_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_is_two_hash_aggregates(spark):
    """token index = per-(token,doc) count then per-token fold - both hash
    aggregates with map-side partials; no sort-based aggregation and no
    join anywhere."""
    plan = _plan(entry.q_doc_inverted_index(spark, SF))
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pruned_changelog_diff_is_one_exchange(spark, tmp_path):
    """A small epoch's diff over a grown table: the changed buckets' rows
    are filtered by the merge's recorded keys as literals (the pk0 IN
    pushed into the scan) and exchanged ONCE on the pk - no join, no
    broadcast, and one Spark job for the whole read."""
    import re

    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        gen_changes(spark, n_events=2_000, n_convs=40, seed=60),
        pipeline_id="p", epoch_id=0,
    )
    v = tbl.current_version()
    tbl.merge(
        gen_changes(spark, n_events=40, n_convs=40, seed=61).withColumn(
            "lsn", F.col("lsn") + 10**6
        ),
        pipeline_id="p", epoch_id=1,
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    diff = tbl.read_changes(v)
    assert diff.collect()
    assert scheduler.numTotalJobs() - before == 1
    final = diff._sc._jvm.PythonSQLUtils.explainString(
        diff._jdf.queryExecution(), "simple"
    )
    assert "Join" not in final and "LeftSemi" not in final
    assert "BroadcastExchange" not in final
    pk_exchange = r"Exchange hashpartitioning\(conv_id#\d+, turn_idx"
    assert len(re.findall(pk_exchange, final)) == 1
    assert re.search(r"PushedFilters: \[[^\n]*In\(conv_id", final), final


def test_keyed_reads_job_budget(spark, tmp_path):
    """Keyed serving reads of a key list run only the caller's collect:
    the keys are parsed literals, so the bucket pick, the IN(conv_id)
    pushdown and the exact tuple IN run no job of their own, and a
    provably empty answer (no key, or every file bloom-excluded) runs
    none at all. The count runs from before each call to after its
    collect."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        tbl = LakeTable.create(
            spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
            pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
            num_buckets=4,
        )
        tbl.merge(
            gen_changes(spark, n_events=3_000, n_convs=40, seed=31),
            pipeline_id="p", epoch_id=0, write_mode="mor",
        )
        tbl.merge(
            gen_changes(spark, n_events=300, n_convs=40, seed=32).withColumn(
                "lsn", F.col("lsn") + 10**6
            ),
            pipeline_id="p", epoch_id=1, write_mode="mor",
        )
        assert tbl.update_bloom_index()["applied"]
        state = tbl.read()
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()

        def run(read):
            before = scheduler.numTotalJobs()
            rows = read().collect()
            return scheduler.numTotalJobs() - before, sorted(map(tuple, rows))

        def want(df):
            return sorted(map(tuple, df.collect()))

        pk = ["conv_id", "turn_idx"]
        # one key of each of six conversations, so the keys span buckets
        firsts = state.groupBy("conv_id").agg(F.min("turn_idx")).orderBy("conv_id")
        present = [tuple(r) for r in firsts.limit(6).collect()]
        absent = [("conv_absent_1", 1), ("conv_absent_2", 3)]
        jobs, got = run(lambda: tbl.read_keys(present + absent))
        assert jobs <= 1, jobs
        hit = F.struct(*pk).isin([F.struct(F.lit(c), F.lit(t)) for c, t in present])
        assert got == want(state.filter(hit)) and len(got) == len(present)

        jobs, got = run(lambda: tbl.read_keys([("conv_absent_1", 1)]))
        assert jobs == 0, jobs
        assert got == []

        jobs, got = run(lambda: tbl.read_keys([]))
        assert jobs == 0, jobs
        assert got == []

        convs = [c for c, _ in present[:2]]
        jobs, got = run(lambda: tbl.read_prefix(convs))
        assert jobs <= 1, jobs
        assert got == want(state.filter(F.col("conv_id").isin(convs)))

        v = tbl.current_version()
        tbl.compact()
        jobs, got = run(lambda: tbl.read_changes(v))
        assert jobs == 0, jobs
        assert got == []
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_broadcast_merge_job_budget(spark, tmp_path):
    """A small epoch against a grown COW table takes the broadcast arm
    and runs exactly 3 Spark jobs: the pre-scan, the broadcast of the
    batch keys (built once, reused by both joins of the split) and the
    write."""
    from dataingestion_spark.lake import LakeTable
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    tbl = LakeTable.create(
        spark, tmp_path / "t", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(gen_changes(spark, n_events=4_000, n_convs=80, seed=31),
              hot_key_threshold=1.1)
    batch = gen_changes(
        spark, n_events=60, n_convs=80, seed=32, lsn_offset=10_000_000
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    snap = tbl.merge(batch, hot_key_threshold=1.1)
    assert snap.summary["merge_plan"] == "cow-broadcast"
    assert scheduler.numTotalJobs() - before == 3


def test_incremental_sync_job_budget(spark, tmp_path):
    """One incremental hop of each diff-driven sync runs a pinned number
    of Spark jobs (2k-event source, 4 shuffle partitions): SCD2 history
    <= 3, aggregate view <= 2, mirror <= 2 - each hop's diff filters by
    the source merge's recorded keys with no key job of its own, the hop
    reads its persisted diff once for all of its consumers, the SCD2
    closure lookup filters by the collected keys' literals instead of
    broadcasting them, and the aggregate view's lookup reads the recorded
    keys' group prefixes as a literal list, with no collect job.
    The 600-event tail keeps every hop's COW merge on the union plan (too
    large a batch for the broadcast arm), so the counts measure the sync,
    not the merge's plan choice. Every result equals a recompute from the
    source."""
    from dataingestion_spark.lake import LakeTable, sync_incremental
    from dataingestion_spark.lake.sync import sync_aggregate, sync_scd2
    from dataingestion_spark.sources.datagen import gen_changes
    from tests.util import TRANSCRIPT_SCHEMA

    pk = ["conv_id", "turn_idx"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src, mirror = (
            LakeTable.create(
                spark, tmp_path / name, TRANSCRIPT_SCHEMA, pk_fields=pk,
                order_fields=["lsn", "ts"], num_buckets=4,
            )
            for name in ("src", "mirror")
        )
        hist_path, view_path = str(tmp_path / "hist"), str(tmp_path / "view")
        hops = {
            "scd2": lambda: sync_scd2(src, hist_path, num_buckets=4),
            "aggregate": lambda: sync_aggregate(
                src, view_path, ["conv_id"], sums=["turn_idx"], num_buckets=4
            ),
            "mirror": lambda: sync_incremental(src, mirror),
        }
        src.merge(
            gen_changes(spark, n_events=2_000, n_convs=30, seed=41),
            pipeline_id="p", epoch_id=0,
        )
        for hop in hops.values():
            assert hop() is not None  # the seeds
        src.merge(
            gen_changes(spark, n_events=600, n_convs=30, seed=42).withColumn(
                "lsn", F.col("lsn") + 10**6
            ),
            pipeline_id="p", epoch_id=1,
        )
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        jobs = {}
        for name, hop in hops.items():
            before = scheduler.numTotalJobs()
            assert hop() is not None
            jobs[name] = scheduler.numTotalJobs() - before
        assert jobs["scd2"] <= 3 and jobs["aggregate"] <= 2, jobs
        assert jobs["mirror"] <= 2, jobs

        state = src.read()

        def rows(df):
            return sorted(map(tuple, df.select(*state.columns).collect()))

        assert rows(mirror.read()) == rows(state)
        hist = LakeTable(spark, hist_path).read()
        assert rows(hist.filter(F.col("is_current"))) == rows(state)
        view = LakeTable(spark, view_path).read()
        want = state.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("turn_idx").cast("long").alias("sum_turn_idx"),
        )
        cols = ["conv_id", "n_rows", "sum_turn_idx"]
        assert sorted(map(tuple, view.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
