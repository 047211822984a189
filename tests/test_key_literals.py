"""Key lists rendered as parsed SQL literals (lake/table.py key_literals):
read_keys, read_prefix and read_in filter by one parsed IN per key set.
Every key must stay a value: quotes, backslashes (under either
``spark.sql.parser.escapedStringLiterals``), ``${...}`` substitution
syntax and non-ASCII text match exactly the rows a Column filter
matches, and wrong-typed keys raise as ``createDataFrame`` verification
does."""

import datetime
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestion_spark.lake import LakeTable

WEIRD = [
    "it's",
    "back\\slash",
    "both\\'",
    "é😀 naïve",
    "x') OR 1=1 --",
    "${spark.sql.shuffle.partitions}",
    "plain",
]
KV_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _batch(spark, rows, ddl="conv_id string, turn_idx int, text string"):
    return spark.createDataFrame(rows, ddl).select(
        F.lit("INSERT").alias("op"), "*",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.monotonically_increasing_id().alias("lsn"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def kv(spark, tmp_path_factory):
    """A compacted table whose conv_ids and texts are the WEIRD strings
    plus "x", the row an injected ``OR 1=1`` would add."""
    tbl = LakeTable.create(
        spark, tmp_path_factory.mktemp("kv") / "t", KV_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    rows = [(c, t, f"{c}/{t}") for c in WEIRD + ["x"] for t in range(3)]
    tbl.merge(_batch(spark, rows), pipeline_id="p", epoch_id=0)
    tbl.compact()
    return tbl, tbl.read()


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_keys_with_sql_syntax_match_as_values(spark, kv, escaped):
    tbl, state = kv
    keys = [(c, 1) for c in WEIRD]
    want_keys = _rows(
        state.filter(F.col("conv_id").isin(WEIRD) & (F.col("turn_idx") == 1))
    )
    want_prefix = _rows(state.filter(F.col("conv_id").isin(WEIRD[:3])))
    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        assert len(want_keys) == len(WEIRD)
        assert _rows(tbl.read_keys(keys)) == want_keys
        frame = spark.createDataFrame(keys, "conv_id string, turn_idx int")
        assert _rows(tbl.read_keys(frame)) == want_keys
        assert _rows(tbl.read_prefix(WEIRD[:3])) == want_prefix
        injected = tbl.read_keys([("x') OR 1=1 --", 1)]).collect()
        assert [r["conv_id"] for r in injected] == ["x') OR 1=1 --"]
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)


def test_hex_rendered_keys_keep_the_pk0_pushdown(kv):
    tbl, _ = kv
    df = tbl.read_keys([(c, 1) for c in WEIRD])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\n]*In\(conv_id", plan), plan


def test_duplicate_and_null_keys(kv):
    tbl, state = kv
    got = tbl.read_keys([("plain", 2), ("plain", 2), (None, 2), ("plain", None)])
    assert _rows(got) == _rows(state.filter("conv_id = 'plain' AND turn_idx = 2"))
    assert _rows(tbl.read_prefix(["it's", "it's", None])) == _rows(
        state.filter(F.col("conv_id") == "it's")
    )
    assert tbl.read_keys([(None, None)]).collect() == []


def test_wrong_typed_keys_raise(kv):
    tbl, _ = kv
    for bad in ([("plain", "1")], [(1, 1)], [("plain", True)], [("plain", 1.0)]):
        with pytest.raises(TypeError):
            tbl.read_keys(bad)
    with pytest.raises(TypeError):
        tbl.read_prefix([7])
    with pytest.raises(ValueError):
        tbl.read_keys([("plain", 2**31)])


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_read_in_matches_values_with_quotes(spark, kv, escaped):
    tbl, state = kv
    values = [f"{c}/0" for c in WEIRD[:5]] + ["no such text"]
    want = _rows(state.filter(F.col("text").isin(values)))
    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
    try:
        assert len(want) == 5
        assert _rows(tbl.read_in("text", values)) == want
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)


def test_read_in_values_of_another_type_keep_isin_casts(kv):
    """A value whose type does not match the column is not rendered: the
    filter falls back to ``isin``, which casts as it always did - a
    numeric string matches an int column, an int past its range nothing."""
    tbl, state = kv
    assert _rows(tbl.read_in("turn_idx", ["1"])) == _rows(state.filter("turn_idx = 1"))
    assert _rows(tbl.read_in("turn_idx", [2, "0"])) == _rows(
        state.filter("turn_idx IN (0, 2)")
    )
    assert tbl.read_in("turn_idx", [2**40]).collect() == []


def test_keys_of_a_widened_pk(spark, tmp_path):
    """turn_idx widened int -> long: keys past the int range render as
    long literals, and the tuple IN matches the widened struct type."""
    tbl = LakeTable.create(
        spark, tmp_path / "t", KV_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=4,
    )
    tbl.merge(
        _batch(spark, [("a", t, "v1") for t in range(3)]), pipeline_id="p", epoch_id=0
    )
    big = 2**40
    tbl.merge(
        _batch(spark, [("a", big, "v2"), ("b", 1, "v2")],
               "conv_id string, turn_idx long, text string"),
        pipeline_id="p", epoch_id=1,
    )
    assert tbl.snapshot().schema["turn_idx"].dataType == T.LongType()
    state = tbl.read()
    keys = [("a", 1), ("a", big), ("b", 1), ("b", big)]
    want = _rows(state.filter(
        ((F.col("conv_id") == "a") & F.col("turn_idx").isin(1, big))
        | ((F.col("conv_id") == "b") & (F.col("turn_idx") == 1))
    ))
    assert len(want) == 3
    assert _rows(tbl.read_keys(keys)) == want
    assert _rows(tbl.read_keys(spark.createDataFrame(
        keys, "conv_id string, turn_idx long"
    ))) == want
    with pytest.raises(ValueError):
        tbl.read_keys([("a", 2**63)])


def test_keys_of_a_date_pk(spark, tmp_path):
    """A pk field that is neither string nor integral takes a first-field
    ``isin`` and, at full width, the broadcast semi-join of the tuples
    (a struct IN of ``F.lit`` tuples plans far slower); the first pk
    field a date buckets through the key relation."""
    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    tbl = LakeTable.create(
        spark, tmp_path / "t", schema, pk_fields=["day", "conv_id"],
        order_fields=["lsn", "ts"], num_buckets=4,
    )
    days = [datetime.date(2024, 1, d) for d in range(1, 6)]
    tbl.merge(
        _batch(spark, [(d, c, f"{d}/{c}") for d in days for c in ("a", "it's")],
               "day date, conv_id string, text string"),
        pipeline_id="p", epoch_id=0,
    )
    state = tbl.read()
    keys = [(days[0], "a"), (days[1], "it's"), (days[2], "zzz")]
    want = _rows(state.filter(
        ((F.col("day") == days[0]) & (F.col("conv_id") == "a"))
        | ((F.col("day") == days[1]) & (F.col("conv_id") == "it's"))
    ))
    assert len(want) == 2
    got = tbl.read_keys(keys)
    assert _rows(got) == want
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastExchange" in plan, plan
    assert _rows(tbl.read_prefix(days[:2])) == _rows(
        state.filter(F.col("day").isin(days[:2]))
    )
    with pytest.raises(TypeError):
        tbl.read_keys([("2024-01-01", "a")])
