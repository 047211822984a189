"""Deterministic synthetic transcript CDC stream generator.

Produces the `transcript_changes` event log of FIXTURES.md §2: a
binlog/WAL-shaped stream of INSERT/UPDATE/DELETE over rows keyed by
(conv_id, turn_idx), with

  * Zipf-skewed conversation hotness (a few conversations get most events),
  * out-of-order arrival (lsn is monotone in generation order but events
    are scattered across arrival files by an independent hash),
  * duplicate deliveries (a configurable fraction of events are exact
    re-deliveries of earlier events, same lsn and payload),
  * an optional schema-v2 tail (adds nullable `tool_meta` and `latency_ms`
    columns - the reference's non-breaking add-column path,
    /root/reference/spark/src/main/scala/com/example/core/SchemaEvolution.scala:49-66).

Everything is a pure column expression over ``spark.range`` seeded through
``xxhash64`` - no driver-side RNG, no wall clock - so the same (seed, knobs)
always produce byte-identical data at any scale and any partitioning, and
generation itself distributes across executors (SURVEY.md §7.3: "generate
with Spark itself").

Event shape mirrors the reference's MySQL-binlog CDC test schema
(/root/reference/spark/src/test/scala/com/example/MultiSourceCDCTest.scala:43-51):
operation, primary key, payload, binlog position (here `lsn`), binlog file
(here `source_file`), timestamp.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PRIME = 1_000_000_007
_TS_BASE = 1_700_000_000  # 2023-11-14T22:13:20Z


def _u(col, seed: int, stream: int):
    """Deterministic uniform [0,1) derived from an id column."""
    return (
        F.pmod(F.xxhash64(col, F.lit(seed), F.lit(stream)), F.lit(_PRIME))
        / F.lit(float(_PRIME))
    )


def _h(col, seed: int, stream: int, mod: int):
    """Deterministic uniform integer in [0, mod)."""
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(stream)), F.lit(mod))


# Portable (md5) hash family - used by hash_mode="md5". xxhash64 is
# engine-private (no other SQL engine reproduces Spark's seeding), which is
# fine for bulk bench data but blocks a cross-engine oracle. md5 of a
# canonical "seed:stream:id" string is identical everywhere, so a DuckDB
# replay of the SAME generator expressions is possible - that is what turns
# the flagship transcript_cdc_replay driver query from rows-only into a
# fully hash-verified check. 15 hex chars = 60 bits, exact in a long.
_MD5_U_MOD = 1 << 20  # u = h / 2^20: exact in binary FP on every engine


def _h_md5(col, seed: int, stream: int, mod: int):
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.format_string(f"{seed}:{stream}:%d", col)), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(mod),
    )


def md5_hash_sql(col: str, seed: int, stream: int, mod: int) -> str:
    """The DuckDB-side twin of _h_md5 - emitted into oracle SQL strings so
    generator and oracle share one definition per stream."""
    return (
        f"(('0x' || substring(md5('{seed}:{stream}:' || {col}), 1, 15))"
        f"::UBIGINT % {mod})::BIGINT"
    )


def gen_changes(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 100,
    max_turns: int = 50,
    n_files: int = 8,
    seed: int = 42,
    dup_frac: float = 0.05,
    insert_frac: float = 0.5,
    update_frac: float = 0.4,
    zipf_exp: float = 2.0,
    schema_version: int = 1,
    lsn_offset: int = 0,
    parallelism: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Build the change-event DataFrame.

    ``dup_frac`` of the rows are exact re-deliveries (same key, lsn and
    payload as an earlier event). ``zipf_exp > 1`` skews events toward low
    conversation ids: conv = floor(n_convs * u**zipf_exp).
    ``lsn_offset`` lets callers generate consecutive non-overlapping
    segments (e.g. a v2 tail after a v1 head).

    ``hash_mode="md5"`` swaps the engine-private xxhash64 seeding for the
    portable md5 family (_h_md5/md5_hash_sql) so an external SQL engine
    can replay the generator row-for-row - the basis of the DuckDB oracle
    for the flagship replay query. In this mode every derived quantity is
    exact integer or power-of-two binary-FP arithmetic (no ``pow``), so
    ``zipf_exp`` must be 1.0 or 2.0: cross-engine libm pow() differs by
    ulps, and a 1-ulp difference under floor() would silently desync the
    oracle.
    """
    n_base = int(n_events * (1.0 - dup_frac))
    n_base = max(n_base, 1)
    rng = spark.range(0, n_events, numPartitions=parallelism or spark.sparkContext.defaultParallelism)

    if hash_mode == "md5":
        if zipf_exp not in (1.0, 2.0):
            raise ValueError(
                "hash_mode='md5' supports zipf_exp in {1.0, 2.0} only "
                "(exact cross-engine arithmetic, no libm pow)"
            )
        h = _h_md5
    elif hash_mode == "xxhash64":
        h = _h
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")

    # Re-deliveries: rows past n_base clone the payload of a hashed earlier
    # event. Everything downstream derives from base_id, so a duplicate is
    # byte-identical to its original (matching at-least-once redelivery).
    base_id = F.when(F.col("id") < n_base, F.col("id")).otherwise(
        h(F.col("id"), seed, 7, n_base)
    )
    df = rng.select(
        F.col("id").alias("_gen_id"), base_id.cast("long").alias("_base_id")
    )

    if hash_mode == "md5":
        h1 = h(F.col("_base_id"), seed, 1, _MD5_U_MOD)
        if zipf_exp == 2.0:
            # floor(n_convs * (h1/2^20)^2) as exact binary-FP arithmetic:
            # n_convs*h1*h1 <= n_convs*2^40 stays exact in a double for any
            # realistic n_convs, and division by 2^40 is exact.
            conv = F.floor(
                (F.lit(n_convs) * h1 * h1) / F.lit(float(1 << 40))
            ).cast("int")
        else:
            conv = F.floor(
                (F.lit(n_convs) * h1) / F.lit(float(_MD5_U_MOD))
            ).cast("int")
        u_op = h(F.col("_base_id"), seed, 3, _MD5_U_MOD) / F.lit(
            float(_MD5_U_MOD)
        )
    else:
        conv = F.floor(
            F.lit(n_convs) * F.pow(_u(F.col("_base_id"), seed, 1), F.lit(zipf_exp))
        ).cast("int")
        u_op = _u(F.col("_base_id"), seed, 3)
    turn = h(F.col("_base_id"), seed, 2, max_turns).cast("int")
    op = (
        F.when(u_op < insert_frac, F.lit("INSERT"))
        .when(u_op < insert_frac + update_frac, F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
    )
    lsn = (F.col("_base_id") * 2 + F.lit(lsn_offset)).cast("long")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (h(F.col("_base_id"), seed, 4, 4) + 1).cast("int"),
    )
    tool = F.when(
        role == "tool",
        F.format_string("tool_%02d", h(F.col("_base_id"), seed, 5, 20).cast("int")),
    ).otherwise(F.lit(None).cast("string"))
    ts = F.timestamp_seconds(F.lit(_TS_BASE) + F.col("_base_id"))
    conv_id = F.format_string("conv_%06d", conv)
    text = F.when(
        op == "DELETE", F.lit(None).cast("string")
    ).otherwise(
        F.format_string(
            "turn text %s/%d seq=%d %s",
            conv_id,
            turn,
            lsn,
            F.repeat(F.lit("x"), (h(F.col("_base_id"), seed, 6, 64) + 8).cast("int")),
        )
    )
    source_file = F.format_string(
        "chunk_%05d", h(F.col("_gen_id"), seed, 9, n_files).cast("int")
    )

    out = df.select(
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(op == "DELETE", F.lit(None).cast("string")).otherwise(role).alias("role"),
        text.alias("text"),
        F.when(op == "DELETE", F.lit(None).cast("string")).otherwise(tool).alias("tool"),
        ts.alias("ts"),
        lsn.alias("lsn"),
        source_file.alias("source_file"),
    )
    if schema_version >= 2:
        out = out.withColumn(
            "tool_meta",
            F.when(
                F.col("tool").isNotNull(),
                F.format_string('{"tool": "%s", "ok": true}', F.col("tool")),
            ).otherwise(F.lit(None).cast("string")),
        ).withColumn(
            "latency_ms",
            h(F.col("lsn"), seed, 11, 5000).cast("long"),
        )
    return out


def write_change_files(df: DataFrame, out_dir: str | Path) -> list[Path]:
    """Materialize the change stream as one Parquet file per `source_file`.

    Files land in a flat directory with their chunk names so a Structured
    Streaming file source can tail them in order - the sandbox stand-in for
    the Kafka topic of the reference's Phase-1
    (/root/reference/spark/src/main/scala/com/example/Phase1Job.scala:51-53).
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    written: list[Path] = []
    with tempfile.TemporaryDirectory() as tmp:
        # ONE Spark job: shuffle by chunk, write all chunk dirs in a single
        # partitioned pass, then rename driver-side (pure filesystem moves,
        # no per-chunk scan of the input).
        stage = Path(tmp) / "staged"
        (
            # duplicate dir column: partitionBy consumes _chunk while the
            # payload keeps its source_file column for downstream readers
            df.withColumn("_chunk", F.col("source_file"))
            .repartition(F.col("_chunk"))
            .write.partitionBy("_chunk")
            .mode("overwrite")
            .parquet(str(stage))
        )
        for chunk_dir in sorted(stage.glob("_chunk=*")):
            chunk = chunk_dir.name.split("=", 1)[1]
            parts = sorted(chunk_dir.glob("part-*.parquet"))
            for i, part in enumerate(parts):
                suffix = "" if len(parts) == 1 else f"_{i:03d}"
                dest = out / f"{chunk}{suffix}.parquet"
                shutil.move(str(part), dest)
                written.append(dest)
    # The file source tails a directory oldest-first by modification time,
    # and chunks written by concurrent tasks can share one: stamp them one
    # second apart in chunk order.
    base = time.time() - len(written)
    for i, dest in enumerate(written):
        os.utime(dest, (base + i, base + i))
    return written
