"""Multi-table CDC router (streaming/pipeline.py route_changes): one
change stream carrying several tables' events fans out into N lake
tables, each exactly-once under its own route-scoped pipeline cursor -
the Debezium-server topic-routing shape (a single binlog connector
emits every table interleaved; the reference runs one pipeline per
source instead, MultiSourceCDCTest.scala, and re-reads the wire N
times - the router reads it once)."""

import pytest
from pyspark.sql import functions as F

from dataingestion_spark import oracle
from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.sources.datagen import gen_changes, write_change_files
from dataingestion_spark.streaming.lineage import LineageLog
from dataingestion_spark.streaming.pipeline import bootstrap_table, route_changes
from tests.util import TRANSCRIPT_SCHEMA, assert_table_equals_oracle

def _route_expr():
    return F.when(
        F.substring("conv_id", -1, 1).cast("int") % 2 == 0, F.lit("even")
    ).otherwise(F.lit("odd"))


def _routed_landing(spark, tmp_path, n_events=4_000, seed=31):
    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "ta", "tb")}
    changes = gen_changes(
        spark, n_events=n_events, n_convs=60, n_files=3, seed=seed
    ).persist()
    write_change_files(changes.withColumn("table", _route_expr()), d["landing"])
    pdf = changes.toPandas()
    changes.unpersist()
    pdf["route"] = (pdf["conv_id"].str[-1].astype(int) % 2).map(
        {0: "even", 1: "odd"}
    )
    return d, pdf


def _configs(d):
    return {
        "even": DatasetConfig(
            name="even", table_path=d["ta"], num_buckets=4, salt_buckets=4
        ),
        "odd": DatasetConfig(
            name="odd", table_path=d["tb"], num_buckets=4, salt_buckets=4
        ),
    }


def test_router_fans_out_exactly_once(spark, tmp_path):
    d, pdf = _routed_landing(spark, tmp_path)
    routes = _configs(d)
    for cfg in routes.values():
        bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
    q = route_changes(spark, routes, d["landing"], d["ckpt"])
    q.awaitTermination(240)

    ta, tb = LakeTable(spark, d["ta"]), LakeTable(spark, d["tb"])
    assert_table_equals_oracle(ta.read(), oracle.replay(pdf[pdf.route == "even"]))
    assert_table_equals_oracle(tb.read(), oracle.replay(pdf[pdf.route == "odd"]))

    # replaying the same checkpoint re-runs the fan-out; every route's
    # epoch markers skip it - versions unchanged on BOTH tables
    va, vb = ta.current_version(), tb.current_version()
    q = route_changes(spark, routes, d["landing"], d["ckpt"])
    q.awaitTermination(240)
    assert (ta.current_version(), tb.current_version()) == (va, vb)


def test_router_unrouted_fail_and_ignore(spark, tmp_path):
    d, pdf = _routed_landing(spark, tmp_path, seed=77)
    routes = _configs(d)
    del routes["odd"]
    bootstrap_table(spark, routes["even"], TRANSCRIPT_SCHEMA)

    q = route_changes(
        spark, routes, d["landing"], str(tmp_path / "ckpt_fail")
    )
    try:
        q.awaitTermination(240)
        err = q.exception()
    except Exception as e:  # noqa: BLE001 - StreamingQueryException expected
        err = e
    assert err is not None and "no route for table" in str(err)

    q = route_changes(
        spark, routes, d["landing"], str(tmp_path / "ckpt_ign"),
        on_unrouted="ignore",
    )
    q.awaitTermination(240)
    assert_table_equals_oracle(
        LakeTable(spark, d["ta"]).read(),
        oracle.replay(pdf[pdf.route == "even"]),
    )


def test_router_projects_to_each_tables_schema(spark, tmp_path):
    """The wire schema is the UNION of routed tables: a route whose table
    doesn't declare a column (here: 'tool') silently drops it for that
    table only - the other route keeps it."""
    from pyspark.sql import types as T

    d, pdf = _routed_landing(spark, tmp_path, seed=5)
    routes = _configs(d)
    slim = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"])
    bootstrap_table(spark, routes["even"], slim)
    bootstrap_table(spark, routes["odd"], TRANSCRIPT_SCHEMA)
    q = route_changes(spark, routes, d["landing"], d["ckpt"])
    q.awaitTermination(240)

    assert_table_equals_oracle(
        LakeTable(spark, d["ta"]).read(),
        oracle.replay(pdf[pdf.route == "even"]),
        payload_cols=["role", "text", "ts"],
    )
    assert "tool" not in LakeTable(spark, d["ta"]).read().columns
    assert_table_equals_oracle(
        LakeTable(spark, d["tb"]).read(), oracle.replay(pdf[pdf.route == "odd"])
    )


def test_router_per_route_quarantine_and_requeue(spark, tmp_path):
    """The DLQ gate composes with the router: each route's unmergeable
    rows land under <dir>/<route>/epoch=N, the clean subset merges, and
    requeue_quarantine recovers each table independently."""
    from dataingestion_spark.sources.quarantine import requeue_quarantine

    d = {k: str(tmp_path / k) for k in ("landing", "ckpt", "ta", "tb")}
    changes = gen_changes(
        spark, n_events=4_000, n_convs=60, n_files=3, seed=13
    ).persist()
    # poison: every INSERT with lsn%11==0 loses its op (curable by a fix)
    poisoned = changes.withColumn(
        "op",
        F.when(
            (F.col("lsn") % 11 == 0) & (F.col("op") == "INSERT"), F.lit("??")
        ).otherwise(F.col("op")),
    ).withColumn("table", _route_expr())
    write_change_files(poisoned, d["landing"])
    pdf = changes.toPandas()
    changes.unpersist()
    pdf["route"] = (pdf["conv_id"].str[-1].astype(int) % 2).map(
        {0: "even", 1: "odd"}
    )
    routes = _configs(d)
    for cfg in routes.values():
        bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
    dlq = str(tmp_path / "dlq")
    q = route_changes(
        spark, routes, d["landing"], d["ckpt"], quarantine_dir=dlq
    )
    q.awaitTermination(240)

    bad = (pdf["lsn"] % 11 == 0) & (pdf["op"] == "INSERT")
    assert_table_equals_oracle(
        LakeTable(spark, d["ta"]).read(),
        oracle.replay(pdf[(pdf.route == "even") & ~bad]),
    )
    # per-route DLQ dirs hold exactly that route's rejects
    for name, path_key in (("even", "ta"), ("odd", "tb")):
        n_dlq = spark.read.parquet(f"{dlq}/{name}").count()
        assert n_dlq == int((bad & (pdf.route == name)).sum())
        out = requeue_quarantine(
            LakeTable(spark, d[path_key]), f"{dlq}/{name}",
            fix=lambda df: df.withColumn(
                "op",
                F.when(F.col("op") == "??", F.lit("INSERT")).otherwise(
                    F.col("op")
                ),
            ),
        )
        assert out["requeued"] == n_dlq
        assert_table_equals_oracle(
            LakeTable(spark, d[path_key]).read(),
            oracle.replay(pdf[pdf.route == name]),
        )


def test_router_sequential_equals_parallel(spark, tmp_path):
    """route_parallelism=1 (strict sequential) and the default
    concurrent fan-out converge to identical table states - concurrency
    is a scheduler choice, never semantics (routes share no commit
    chain)."""
    d, pdf = _routed_landing(spark, tmp_path, seed=91, n_events=2_000)
    states = {}
    for par in (1, 4):
        routes = {
            name: DatasetConfig(
                name=name, table_path=str(tmp_path / f"p{par}_{name}"),
                num_buckets=4, salt_buckets=4,
            )
            for name in ("even", "odd")
        }
        for cfg in routes.values():
            bootstrap_table(spark, cfg, TRANSCRIPT_SCHEMA)
        q = route_changes(
            spark, routes, d["landing"], str(tmp_path / f"ck{par}"),
            route_parallelism=par,
        )
        q.awaitTermination(240)
        states[par] = {
            name: LakeTable(spark, cfg.table_path)
            .read()
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
            for name, cfg in routes.items()
        }
    import pandas as pd

    for name in ("even", "odd"):
        pd.testing.assert_frame_equal(states[1][name], states[4][name])
        assert_table_equals_oracle_frames = pdf[pdf.route == name]
        assert len(states[4][name]) == len(
            oracle.replay(assert_table_equals_oracle_frames)
        )


def test_router_bad_args_fail_fast(spark, tmp_path):
    with pytest.raises(ValueError, match="fail|ignore"):
        route_changes(
            spark, {}, str(tmp_path / "x"), str(tmp_path / "c"),
            on_unrouted="quarantine",
        )
    # a route setting the router would silently skip is refused
    history = DatasetConfig(
        name="h", table_path=str(tmp_path / "h"),
        scd2_history=str(tmp_path / "hist"),
    )
    with pytest.raises(
        ValueError, match="route 'h' sets scd2_history=.*apply_changes"
    ):
        route_changes(
            spark, {"h": history}, str(tmp_path / "x"), str(tmp_path / "c")
        )


def test_router_null_discriminator_fails_fast_and_ignore_counts(spark, tmp_path):
    d = {k: str(tmp_path / k) for k in ("landing", "ta", "lineage")}
    changes = gen_changes(spark, n_events=1_000, n_convs=20, seed=61).persist()
    tagged = changes.withColumn(
        "table",
        F.when(F.col("lsn") % 5 == 0, F.lit(None)).otherwise(F.lit("main")),
    )
    write_change_files(tagged, d["landing"])
    pdf = changes.toPandas()
    changes.unpersist()
    routes = {
        "main": DatasetConfig(
            name="main", table_path=d["ta"], num_buckets=4, salt_buckets=4
        )
    }
    bootstrap_table(spark, routes["main"], TRANSCRIPT_SCHEMA)

    q = route_changes(
        spark, routes, d["landing"], str(tmp_path / "ckpt_fail")
    )
    try:
        q.awaitTermination(240)
        err = q.exception()
    except Exception as e:  # noqa: BLE001
        err = e
    assert err is not None and "<NULL>" in str(err)

    q = route_changes(
        spark, routes, d["landing"], str(tmp_path / "ckpt_ign"),
        on_unrouted="ignore", lineage_path=d["lineage"],
    )
    q.awaitTermination(240)
    keep = pdf["lsn"] % 5 != 0
    assert_table_equals_oracle(
        LakeTable(spark, d["ta"]).read(), oracle.replay(pdf[keep])
    )
    lin = LineageLog(spark, d["lineage"]).read().toPandas()
    dropped = lin[lin.status == "DROPPED_UNROUTED"]
    assert dropped.event_count.sum() == int((~keep).sum())
