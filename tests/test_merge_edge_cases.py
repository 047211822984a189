"""Edge cases at the metadata/typing boundary of the merge path:

* pk type widening mid-stream must not lose rows: the touched-bucket
  pre-scan hashes the pk under the RESOLVED table type, so a batch arriving
  with a narrower pk type (int before the table widened to long) buckets
  identically to the conformed winners (xxhash64(int) != xxhash64(long)).
* an APPEND that widens the pk rebuckets every stored row first, exactly
  as a widening merge does: the schema gate of both writers commits the
  ``rebucket`` before the write.
* equal-lsn rows for one key written in DIFFERENT MOR delta commits must
  resolve deterministically to the newest commit - the same tie rule the
  COW join applies (s.lsn >= t._lsn).
"""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestion_spark.lake import LakeTable


INT_PK_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.IntegerType()),
        T.StructField("payload", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _change_df(spark, rows, pk_type="int"):
    schema = (
        f"op string, item_id {pk_type}, payload string, ts string, lsn long"
    )
    return spark.createDataFrame(rows, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_pk_widening_does_not_lose_rows(spark, tmp_path):
    """Table pk widens int->long; the next epoch still arrives with int
    pks. Every winner must land in a bucket the COW commit references."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=8,
    )
    n = 64
    v1 = _change_df(
        spark,
        [("INSERT", i, f"v1-{i}", "2024-01-01 00:00:00", i) for i in range(n)],
    )
    tbl.merge(v1, pipeline_id="p", epoch_id=0)
    assert tbl.read().count() == n

    # widening epoch: pk arrives as LONG (non-breaking int->long)
    v2 = _change_df(
        spark,
        [
            ("UPDATE", i, f"v2-{i}", "2024-01-01 01:00:00", 1000 + i)
            for i in range(n)
        ],
        pk_type="long",
    )
    tbl.merge(v2, pipeline_id="p", epoch_id=1)
    assert tbl.snapshot().schema["item_id"].dataType == T.LongType()
    got = tbl.read().orderBy("item_id").toPandas()
    assert len(got) == n, "widening merge dropped rows"
    assert set(got["payload"]) == {f"v2-{i}" for i in range(n)}

    # post-widening epoch STILL delivering int pks (an upstream that has
    # not redeployed) must bucket identically to the long-typed table
    v3 = _change_df(
        spark,
        [
            ("UPDATE", i, f"v3-{i}", "2024-01-01 02:00:00", 2000 + i)
            for i in range(n)
        ],
    )
    tbl.merge(v3, pipeline_id="p", epoch_id=2)
    got = tbl.read().orderBy("item_id").toPandas()
    assert len(got) == n
    assert set(got["payload"]) == {f"v3-{i}" for i in range(n)}


def test_mor_equal_lsn_across_commits_newest_wins(spark, tmp_path):
    """Two delta commits carry the same (key, lsn) with different payloads:
    read-time LWW must pick the later commit every time (commit-ordinal
    tiebreak), mirroring COW's source-wins-ties rule."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=4,
    )
    first = _change_df(
        spark, [("INSERT", 1, "first", "2024-01-01 00:00:00", 100)]
    )
    second = _change_df(
        spark, [("UPDATE", 1, "second", "2024-01-01 00:00:00", 100)]
    )
    tbl.merge(first, pipeline_id="p", epoch_id=0, write_mode="mor")
    tbl.merge(second, pipeline_id="p", epoch_id=1, write_mode="mor")
    for _ in range(3):  # deterministic across repeated reads
        got = tbl.read().toPandas()
        assert list(got["payload"]) == ["second"]

    # compaction preserves the resolution
    tbl.compact()
    assert list(tbl.read().toPandas()["payload"]) == ["second"]


def test_append_rows_keep_null_lsn_on_mor_table(spark, tmp_path):
    """Stored _lsn must stay null for append-originated rows even after the
    read path resolves them against MOR deltas and compaction rewrites them
    (the LWW ordering uses a transient coalesced column only)."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=4,
    )
    appended = spark.createDataFrame(
        [(1, "appended", None), (2, "appended2", None)],
        "item_id int, payload string, ts timestamp",
    )
    tbl.append(appended)
    delta = _change_df(
        spark, [("UPDATE", 2, "merged", "2024-01-01 00:00:00", 5)]
    )
    tbl.merge(delta, pipeline_id="p", epoch_id=0, write_mode="mor")
    sys_read = tbl.read(include_system=True).orderBy("item_id").toPandas()
    assert sys_read.loc[sys_read["item_id"] == 1, "_lsn"].isna().all()
    tbl.compact()
    sys_read = tbl.read(include_system=True).orderBy("item_id").toPandas()
    assert sys_read.loc[sys_read["item_id"] == 1, "_lsn"].isna().all()
    assert (sys_read.loc[sys_read["item_id"] == 2, "_lsn"] == 5).all()


def test_per_bucket_manifests_shared_across_commits(spark, tmp_path):
    """A merge touching one bucket writes ONE new manifest file; untouched
    buckets' manifest refs are structurally shared with the parent
    snapshot, and time travel still resolves old manifests."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=16,
    )
    wide = _change_df(
        spark,
        [("INSERT", i, f"v1-{i}", "2024-01-01 00:00:00", i) for i in range(256)],
    )
    tbl.merge(wide, pipeline_id="p", epoch_id=0)
    v2 = tbl.snapshot()
    assert len(v2.manifest_refs) > 1

    # one-key epoch -> exactly one bucket touched
    one = _change_df(
        spark, [("UPDATE", 7, "v2-7", "2024-01-01 01:00:00", 1000)]
    )
    snap3 = tbl.merge(one, pipeline_id="p", epoch_id=1)
    assert len(snap3.summary["touched_buckets"]) == 1
    v3 = tbl.snapshot()
    changed = {
        b for b in v3.manifest_refs
        if v2.manifest_refs.get(b) != v3.manifest_refs[b]
    }
    assert len(changed) == 1, f"expected 1 rewritten manifest, got {changed}"
    shared = set(v2.manifest_refs) - changed
    assert all(v2.manifest_refs[b] == v3.manifest_refs[b] for b in shared)

    # time travel reads the OLD manifest set
    old = LakeTable(spark, tmp_path / "t").read(version=v2.version).toPandas()
    assert set(old.loc[old["item_id"] == 7, "payload"]) == {"v1-7"}
    new = tbl.read().toPandas()
    assert set(new.loc[new["item_id"] == 7, "payload"]) == {"v2-7"}
    assert len(new) == 256


def test_pk_widening_partial_batch_rebuckets_whole_table(spark, tmp_path):
    """The round-3 rebucket rule: a widening epoch that touches only SOME
    keys must still rebucket every pre-widening row - otherwise a later
    batch probes a key's NEW bucket while its row sits in the OLD bucket,
    the merge never sees it, and the key silently duplicates."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=8,
    )
    n = 64
    v1 = _change_df(
        spark,
        [("INSERT", i, f"v1-{i}", "2024-01-01 00:00:00", i) for i in range(n)],
    )
    tbl.merge(v1, pipeline_id="p", epoch_id=0)

    # widening epoch touches ONE key only
    v2 = _change_df(
        spark, [("UPDATE", 0, "v2-0", "2024-01-01 01:00:00", 1000)],
        pk_type="long",
    )
    tbl.merge(v2, pipeline_id="p", epoch_id=1)
    snap = tbl.snapshot()
    assert snap.schema["item_id"].dataType == T.LongType()
    # every row's stored bucket must now equal the long-typed hash
    from dataingestion_spark.lake.table import bucket_expr

    rows = tbl.read(include_system=True).withColumn(
        "_expect", bucket_expr("item_id", 8, key_type=T.LongType())
    )
    assert rows.filter(F.col("_bucket") != F.col("_expect")).count() == 0

    # a later epoch updating a key UNTOUCHED during the widening must not
    # duplicate it
    v3 = _change_df(
        spark, [("UPDATE", 37, "v3-37", "2024-01-01 02:00:00", 2000)],
        pk_type="long",
    )
    tbl.merge(v3, pipeline_id="p", epoch_id=2)
    got = tbl.read().toPandas()
    assert len(got) == n, "post-widening update duplicated a key"
    assert (
        got.set_index("item_id").loc[37, "payload"] == "v3-37"
    ), "update against a pre-widening row was lost"


def test_pk_widening_mor_falls_back_to_rebucket(spark, tmp_path):
    """A widening epoch under write_mode='mor' must still rebucket (delta
    files cannot move base rows between buckets): the schema gate commits
    the rebucket first, and the epoch itself stays MOR."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=8,
    )
    n = 32
    tbl.merge(
        _change_df(
            spark,
            [("INSERT", i, f"v1-{i}", "2024-01-01 00:00:00", i) for i in range(n)],
        ),
        pipeline_id="p", epoch_id=0, write_mode="mor",
    )
    tbl.merge(
        _change_df(
            spark, [("UPDATE", 3, "v2-3", "2024-01-01 01:00:00", 1000)],
            pk_type="long",
        ),
        pipeline_id="p", epoch_id=1, write_mode="mor",
    )
    snap = tbl.snapshot()
    assert snap.operation == "merge-mor", "a widening epoch stays MOR"
    parent = tbl.snapshot(snap.parent)
    assert parent.operation == "rebucket" and not parent.deltas, (
        "the schema gate rebuckets every row before the widening epoch"
    )
    tbl.merge(
        _change_df(
            spark, [("UPDATE", 17, "v3-17", "2024-01-01 02:00:00", 2000)],
            pk_type="long",
        ),
        pipeline_id="p", epoch_id=2, write_mode="mor",
    )
    got = tbl.read().toPandas()
    assert len(got) == n
    assert got.set_index("item_id").loc[17, "payload"] == "v3-17"


def _widened_by_append(spark, tmp_path, n=64):
    """n int keys appended to an 8-bucket table, then one append whose pk
    arrives as LONG (key n): the widening happens on the append path."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", INT_PK_SCHEMA,
        pk_fields=["item_id"], order_fields=["lsn", "ts"], num_buckets=8,
    )
    tbl.append(
        spark.createDataFrame(
            [(i, f"a-{i}", None) for i in range(n)],
            "item_id int, payload string, ts timestamp",
        )
    )
    tbl.append(
        spark.createDataFrame(
            [(n, f"a-{n}", None)], "item_id long, payload string, ts timestamp"
        )
    )
    assert tbl.snapshot().schema["item_id"].dataType == T.LongType()
    return tbl


def test_pk_widening_append_keeps_every_key_findable(spark, tmp_path):
    """A widening append rebuckets the old rows: fsck is clean and every
    single-key lookup finds its row (before the schema gate rebucketed,
    57 of these 64 old keys were missed and fsck reported mis-bucketing)."""
    n = 64
    tbl = _widened_by_append(spark, tmp_path, n)
    report = tbl.verify_integrity()
    assert report["ok"], report["errors"]
    missed = [i for i in range(n + 1) if tbl.read_keys([i]).count() != 1]
    assert missed == []
    snap = tbl.snapshot()
    assert snap.operation == "append"
    assert tbl.snapshot(snap.parent).operation == "rebucket"


def test_pk_widening_append_then_cow_merge_of_old_key(spark, tmp_path):
    """A COW merge of a pre-widening key after a widening append commits
    (it raised the stray-bucket RuntimeError while the old rows kept
    their int-hash buckets) and updates the one row."""
    n = 64
    tbl = _widened_by_append(spark, tmp_path, n)
    tbl.merge(
        _change_df(
            spark, [("UPDATE", 5, "m-5", "2024-01-01 00:00:00", 10)],
            pk_type="long",
        ),
        pipeline_id="p", epoch_id=0,
    )
    got = tbl.read().toPandas()
    assert len(got) == n + 1
    assert got.set_index("item_id").loc[5, "payload"] == "m-5"


def test_pk_widening_append_then_mor_merge_and_compact(spark, tmp_path):
    """The same key merged under MOR, then its touched bucket compacted:
    one row per key (65 for 65 keys; the misplaced base row made it 66)."""
    n = 64
    tbl = _widened_by_append(spark, tmp_path, n)
    snap = tbl.merge(
        _change_df(
            spark, [("UPDATE", 5, "m-5", "2024-01-01 00:00:00", 10)],
            pk_type="long",
        ),
        pipeline_id="p", epoch_id=0, write_mode="mor",
    )
    tbl.compact(buckets=snap.summary["touched_buckets"])
    got = tbl.read().toPandas()
    assert len(got) == n + 1
    assert got["item_id"].nunique() == n + 1
    assert got.set_index("item_id").loc[5, "payload"] == "m-5"
