"""The three CDC workloads: `replay`, `steady` and `serve`.

Each workload generates its inputs from `gen_changes` with the run's
seed (`generate`), builds the tables the timed loop starts from
(`bootstrap`), runs the loop's plan shapes once (`warm_up`), then drives
one closed-loop client through the timed work (`window`): the next epoch
or read starts only after the previous one returned. How much work is
timed follows from `--seconds` and class constants, so two runs with the
same `--seconds` time the same operations. `check` compares the engine's
results with an independent recomputation.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from dataingestion_spark.config import DatasetConfig
from dataingestion_spark.lake import LakeTable
from dataingestion_spark.lake.sync import (
    aggregate_schema, scd2_schema, sync_aggregate, sync_scd2,
)
from dataingestion_spark.sources.cdc_formats import parse_debezium
from dataingestion_spark.sources.datagen import gen_changes
from dataingestion_spark.sources.quarantine import split_invalid
from dataingestion_spark.streaming.pipeline import apply_changes, bootstrap_table

from perfbench import check
from perfbench.spans import job_counter

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
PK = ["conv_id", "turn_idx"]
MAX_TURNS = 64
NUM_BUCKETS = 8


@dataclass
class Samples:
    """What one timed window measured."""

    epoch_s: list = field(default_factory=list)
    epoch_jobs: list = field(default_factory=list)
    events: int = 0
    read_s: list = field(default_factory=list)
    read_jobs: list = field(default_factory=list)
    reads_by_kind: dict = field(default_factory=dict)
    window_s: float = 0.0
    first_job: int = 0
    end_job: int = 0
    write_bytes: int = 0


def dir_bytes(*paths) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_events(path) -> pd.DataFrame:
    """Staged change events, read back with pyarrow (not Spark)."""
    df = pq.read_table(str(path)).to_pandas()
    df["ts"] = pd.to_datetime(df["ts"], utc=True).dt.tz_convert(None)
    return df


class Workload:
    name = ""

    def __init__(self, spark, root: Path, seed: int, seconds: float, tracer):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.reads: list[dict] = []  # timed reads kept for the check

    def generate(self) -> None:
        """Generate and stage the inputs."""
        raise NotImplementedError

    def bootstrap(self) -> None:
        """Create and grow the tables the timed loop starts from."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def window(self, s: Samples) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def data_dirs(self) -> list[Path]:
        raise NotImplementedError

    def table(self) -> LakeTable:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def n_convs(self) -> int:
        raise NotImplementedError

    def batch_durations(self) -> dict:
        return {}

    def plan_mix(self) -> dict:
        mix: dict = {}
        for snap in self.table().history():
            plan = snap.summary.get("merge_plan")
            if plan:
                mix[plan] = mix.get(plan, 0) + 1
        return mix

    # -- shared pieces --------------------------------------------------
    def timed_window(self, s: Samples, steps: int, step) -> None:
        """Run `step` `steps` times back to back."""
        before = dir_bytes(*self.data_dirs())
        s.first_job = job_counter(self.spark)
        t0 = time.time()
        for _ in range(steps):
            step(s)
        s.window_s = time.time() - t0
        s.end_job = job_counter(self.spark)
        s.write_bytes = dir_bytes(*self.data_dirs()) - before

    def timed_epoch(self, s: Samples, events: int, fn) -> None:
        j0 = job_counter(self.spark)
        t0 = time.time()
        fn()
        s.epoch_s.append(time.time() - t0)
        s.epoch_jobs.append(job_counter(self.spark) - j0)
        s.events += events

    def timed_read(self, s: Samples | None, tbl: LakeTable, kind: str, arg,
                   keep: bool = True) -> list:
        version = tbl.current_version()
        j0 = job_counter(self.spark)
        t0 = time.time()
        with self.tracer.span(f"lake.table.{kind}") as sp:
            rows = getattr(tbl, kind)(arg).collect()
        dt = time.time() - t0
        if sp is not None:
            sp.extra["rows_out"] = len(rows)
        if s is not None:
            s.read_s.append(dt)
            s.read_jobs.append(job_counter(self.spark) - j0)
            s.reads_by_kind[kind] = s.reads_by_kind.get(kind, 0) + 1
        if keep:
            self.reads.append(
                {"kind": kind, "arg": arg, "version": version, "rows": rows}
            )
        return rows

    def hot_key(self, n_convs: int) -> tuple:
        if self.rng.random() < 0.2:  # absent: beyond the generated range
            conv = n_convs + self.rng.randrange(n_convs)
        else:
            conv = int(n_convs * self.rng.random() ** 2.0)
        return (f"conv_{conv:06d}", self.rng.randrange(MAX_TURNS))

    def check_reads(self, want_state, reads: list[dict]) -> list[str]:
        """Each kept read equals a filter over read() at its version
        (read_changes: the net diff of read() at the two versions)."""
        tbl = self.table()
        states: dict[int, pd.DataFrame] = {}

        def at(v):
            if v not in states:
                states[v] = check.canon(tbl.read(version=v).toPandas())
            return states[v]

        bad: list[str] = []
        for i, r in enumerate(reads):
            got = pd.DataFrame([x.asDict() for x in r["rows"]])
            label = f"{self.name} {r['kind']} #{i} at v{r['version']}"
            if r["kind"] == "read_changes":
                cols = ["change_type", *check.COLS]
                got = check.canon(got, cols) if len(got) else got
                want = check.net_changes(at(r["arg"]), at(r["version"]))
            else:
                got = check.canon(got) if len(got) else got
                state = at(r["version"])
                want = (check.keyed(state, r["arg"]) if r["kind"] == "read_keys"
                        else check.prefixed(state, r["arg"]))
            bad += check.diff_frames(label, got, want)
        if want_state is not None:
            bad += check.diff_frames(
                f"{self.name} final state", at(tbl.current_version()),
                want_state,
            )
        return bad


def epoch_by_file():
    """Arrival file -> epoch: events of an epoch arrive out of order."""
    return F.regexp_extract("source_file", r"(\d+)$", 1).cast("int")


def epoch_by_lsn(size: int):
    """Runs of `size` events in lsn order, so every epoch is the same size
    and the per-epoch figures do not vary with the seed's file split."""
    rank = F.row_number().over(Window.orderBy("lsn", "source_file")) - 1
    return F.floor(rank / size).cast("int")


def stage_epochs(changes, path: Path, epoch) -> None:
    """Epoch partitions, so each epoch is one read."""
    changes.withColumn("epoch", epoch).write.partitionBy("epoch").mode(
        "overwrite").parquet(str(path))


def new_table(spark, path: Path) -> LakeTable:
    return LakeTable.create(
        spark, str(path), SCHEMA, pk_fields=PK, order_fields=["lsn", "ts"],
        num_buckets=NUM_BUCKETS,
    )


# ----------------------------------------------------------------------
class Replay(Workload):
    """From-empty COW burst: EPOCHS large epochs, each about the size of
    the table, of zipf-2.0 keys with 5% re-deliveries arriving out of
    order. Each burst starts from a fresh table."""

    name = "replay"
    EVENTS = 160_000
    EPOCHS = 4
    BURSTS = 1  # timed bursts per run

    def n_convs(self) -> int:
        return self.EVENTS // 200

    def generate(self) -> None:
        self.dir = self.root / "data"
        self.staged = self.dir / "staged"
        changes = gen_changes(
            self.spark, n_events=self.EVENTS, n_convs=self.EVENTS // 200,
            max_turns=MAX_TURNS, n_files=self.EPOCHS, seed=self.seed,
            zipf_exp=2.0, dup_frac=0.05,
        )
        stage_epochs(changes, self.staged, epoch_by_file())
        self.bursts = 0

    def warm_up(self) -> None:
        self.run_burst()
        self.probe_reads(None)

    def run_burst(self, s: Samples | None = None) -> None:
        self.tbl = new_table(self.spark, self.dir / f"burst{self.bursts}")
        self.bursts += 1
        for e in range(self.EPOCHS):
            batch = self.spark.read.parquet(str(self.staged / f"epoch={e}"))

            def apply(batch=batch, e=e):
                self.tbl.merge(batch, pipeline_id="replay", epoch_id=e)
            if s is None:
                apply()
            else:
                self.timed_epoch(s, self.epoch_sizes[e], apply)

    def window(self, s: Samples) -> None:
        counts = (
            self.spark.read.parquet(str(self.staged))
            .groupBy("epoch").count().collect()
        )
        self.epoch_sizes = {int(r[0]): int(r[1]) for r in counts}

        def step(s):
            self.run_burst(s)
            self.probe_reads(s)
        self.timed_window(s, self.BURSTS, step)

    def probe_reads(self, s: Samples | None) -> None:
        """One read of each kind, kept for the check when timed: eight
        zipf-hot keys (one in five absent), two whole conversations, the
        latest epoch's changes."""
        n = self.n_convs()
        reads = [("read_keys", [self.hot_key(n) for _ in range(8)]),
                 ("read_prefix", [self.hot_key(n)[0] for _ in range(2)]),
                 ("read_changes", max(self.tbl.current_version() - 1, 1))]
        for kind, arg in reads:
            self.timed_read(s, self.tbl, kind, arg, keep=s is not None)

    def data_dirs(self) -> list[Path]:
        return [self.dir]

    def table(self) -> LakeTable:
        return self.tbl

    def check(self) -> list[str]:
        want = check.lww_state(read_events(self.staged))
        return self.check_reads(want, self.reads)


# ----------------------------------------------------------------------
KV_SCHEMA = T.StructType(
    [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
)
PAYLOAD_FIELDS = [("role", "string"), ("text", "string"), ("tool", "string"),
                  ("ts", "timestamp")]
KEY_FIELDS = [("conv_id", "string"), ("turn_idx", "int")]


def parse_envelopes(df):
    return parse_debezium(
        df, payload_fields=PAYLOAD_FIELDS, key_fields=KEY_FIELDS
    ).drop("ts_ms")


def debezium(changes, seed: int, bad_per_mille: int):
    """Change events as Debezium envelopes (`key`, `value`) beside the
    plain event columns the check replays. One event in every
    1000 / `bad_per_mille` consecutive ones (lsns step by 2) carries a
    NULL key (invalid: quarantined), so every epoch of a few hundred
    events has some, and its job count does not depend on the seed."""
    every = 2 * (1000 // bad_per_mille)
    bad = F.pmod(F.col("lsn"), F.lit(every)) == 2 * (seed % (every // 2))
    conv = F.when(bad, F.lit(None).cast("string")).otherwise(F.col("conv_id"))
    key = F.struct(conv.alias("conv_id"), F.col("turn_idx"))
    image = F.struct(
        conv.alias("conv_id"), "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    is_del = F.col("op") == "DELETE"
    envelope = F.to_json(F.struct(
        F.when(is_del, key).alias("before"),
        F.when(~is_del, image).alias("after"),
        F.struct(F.lit("lake").alias("db"), F.lit("transcripts").alias("table"),
                 F.col("lsn").alias("lsn")).alias("source"),
        F.when(is_del, "d").when(F.col("op") == "INSERT", "c")
        .otherwise("u").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
    ))
    return changes.select("*", bad.alias("bad"), F.to_json(key).alias("key"),
                          envelope.alias("value"))


class Steady(Workload):
    """A grown COW table takes small Debezium-JSON epochs, mostly
    updates, through the streaming apply path with quarantine, lineage,
    an aggregate view and SCD2 history on. After the timed epochs the
    stream stops and READERS downstream consumers read their changes back
    (`read_changes`).

    Set-up grows the table with one merge and seeds the view and the
    history from it, so the timed epochs take the incremental sync path.
    No stream epoch runs before the timed ones: one costs about as much
    as a whole run's timed window (see perfbench/README.md)."""

    name = "steady"
    BASE_EVENTS = 5_000
    EPOCH_EVENTS = 500
    BAD_PER_MILLE = 5
    BUCKETS = 4
    EPOCH_S = 12  # one timed epoch on a 4-CPU host: --seconds / EPOCH_S epochs
    READERS = 3  # downstream reads of the timed epochs' changes

    def n_convs(self) -> int:
        return self.BASE_EVENTS // 50

    def generate(self) -> None:
        """The growth batch (epoch 0, plain events) and the timed epochs
        (1 on, Debezium envelopes), all held as one pandas frame."""
        self.dir = self.root / "data"
        timed = max(1, round(self.seconds / self.EPOCH_S))
        self.base = gen_changes(
            self.spark, n_events=self.BASE_EVENTS, n_convs=self.n_convs(),
            max_turns=MAX_TURNS, n_files=2, seed=self.seed,
        )
        tail = gen_changes(
            self.spark, n_events=self.EPOCH_EVENTS * timed,
            n_convs=self.n_convs(), max_turns=MAX_TURNS, n_files=timed,
            seed=self.seed + 1, lsn_offset=2 * self.BASE_EVENTS + 2,
            insert_frac=0.1, update_frac=0.85,
        ).withColumn("epoch", epoch_by_lsn(self.EPOCH_EVENTS) + 1)
        base = self.base.select(
            "*", F.lit(0).alias("epoch"), F.lit(False).alias("bad"),
            F.lit(None).cast("string").alias("key"),
            F.lit(None).cast("string").alias("value"))
        tail = debezium(tail, self.seed, self.BAD_PER_MILLE)
        events = base.unionByName(tail).toPandas()
        events["ts"] = pd.to_datetime(events["ts"], utc=True).dt.tz_convert(None)
        self.events = events

    def bootstrap(self) -> None:
        d = self.dir
        view, hist = str(d / "view"), str(d / "hist")
        self.config = DatasetConfig(
            name="steady", table_path=str(d / "table"),
            num_buckets=self.BUCKETS, salt_buckets=self.BUCKETS,
            agg_views=[{"path": view, "group": ["conv_id"],
                        "sums": ["turn_idx"]}],
            scd2_history=hist,
        )
        self.tbl = bootstrap_table(self.spark, self.config, SCHEMA)
        # Created here, the view and the history get the table's bucket
        # count, as a deployment on a host this size would configure
        # them; the syncs would create them with their default of 32.
        src = self.tbl.snapshot().schema
        LakeTable.create(
            self.spark, view,
            aggregate_schema(src, ["conv_id"], ["turn_idx"], "n_rows"),
            pk_fields=["conv_id"], order_fields=["lsn"],
            num_buckets=self.BUCKETS,
        )
        LakeTable.create(
            self.spark, hist, scd2_schema(src),
            pk_fields=[*PK, "valid_from_lsn"], order_fields=["lsn"],
            num_buckets=self.BUCKETS,
        )
        self.tbl.merge(self.base, pipeline_id="grow", epoch_id=0)
        sync_aggregate(self.tbl, view, group_cols=["conv_id"], sums=["turn_idx"])
        sync_scd2(self.tbl, hist)
        (d / "epochs").mkdir()
        for e, part in self.events[self.events["epoch"] > 0].groupby("epoch"):
            with open(d / "epochs" / f"{e:05d}.json", "w") as f:
                for k, v in zip(part["key"], part["value"]):
                    f.write(json.dumps({"key": k, "value": v}) + "\n")
        (d / "landing").mkdir()
        self.next_epoch = 1

    def start_stream(self) -> None:
        d = self.dir
        self.query = apply_changes(
            self.spark, self.config, str(d / "landing"), str(d / "ckpt"),
            schema=KV_SCHEMA, lineage_path=str(d / "lineage"),
            transformers=[parse_envelopes], max_files_per_trigger=1,
            available_now=False, quarantine_dir=str(d / "quarantine"),
            source_format="json",
        )

    def apply_next(self) -> int:
        """Hand the next epoch file to the stream and wait until every
        commit it causes has landed; returns its event count."""
        e = self.next_epoch
        name = f"{e:05d}.json"
        os.rename(self.dir / "epochs" / name, self.dir / "landing" / name)
        self.query.processAllAvailable()
        self.next_epoch += 1
        return int((self.events["epoch"] == e).sum())

    def warm_up(self) -> None:
        self.start_stream()

    def window(self, s: Samples) -> None:
        before = self.tbl.current_version()

        def work(s):
            while (self.dir / "epochs" / f"{self.next_epoch:05d}.json").exists():
                n = int((self.events["epoch"] == self.next_epoch).sum())
                self.timed_epoch(s, n, self.apply_next)
                if self.tracer.enabled:
                    self.trace_sources(self.next_epoch - 1)
            self.batch_ms = self.batch_means()
            # the readers run once the stream has stopped, as consumers
            # on other hosts would: an idle stream polls its source every
            # few milliseconds on the driver, which would slow them
            self.close()
            for _ in range(self.READERS):
                self.timed_read(s, self.tbl, "read_changes", before)
        self.timed_window(s, 1, work)

    def trace_sources(self, epoch: int) -> None:
        """Parse and quarantine split are lazy and fuse into the merge's
        scan, so the traced run also forces them, on their own, over the
        epoch's input."""
        raw = self.spark.read.schema(KV_SCHEMA).json(
            str(self.dir / "landing" / f"{epoch:05d}.json"))
        with self.tracer.span("sources.cdc_formats.parse"):
            parsed = parse_envelopes(raw)
            parsed.write.format("noop").mode("overwrite").save()
        with self.tracer.span("sources.quarantine.split"):
            valid, bad = split_invalid(parsed, PK)
            valid.write.format("noop").mode("overwrite").save()
            bad.write.format("noop").mode("overwrite").save()

    def data_dirs(self) -> list[Path]:
        return [self.dir / n for n in ("table", "view", "hist", "lineage",
                                       "quarantine")]

    def table(self) -> LakeTable:
        return self.tbl

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()

    def check(self) -> list[str]:
        self.close()
        applied = self.events[self.events["epoch"] < self.next_epoch]
        want = check.lww_state(applied[~applied["bad"]])
        bad = self.check_reads(want, self.reads)
        view = LakeTable(self.spark, str(self.dir / "view")).read().toPandas()
        view = view[["conv_id", "n_rows", "sum_turn_idx"]].sort_values(
            "conv_id").reset_index(drop=True)
        bad += check.diff_frames("steady aggregate view", view,
                                 check.aggregate_view(want))
        hist = LakeTable(self.spark, str(self.dir / "hist")).read()
        current = check.canon(hist.filter(F.col("is_current")).toPandas())
        bad += check.diff_frames("steady scd2 current rows", current, want)
        injected = int(applied["bad"].sum())
        quarantined = (
            self.spark.read.parquet(str(self.dir / "quarantine")).count()
            if (self.dir / "quarantine").exists() else 0
        )
        if quarantined != injected:
            bad.append(f"steady quarantine: {quarantined} rows, "
                       f"{injected} invalid events injected")
        return bad

    def batch_durations(self) -> dict:
        return self.batch_ms

    def batch_means(self) -> dict:
        """Mean `durationMs` parts over the micro-batches that had input
        (all of them timed: no epoch reaches the stream before the
        window)."""
        parts: dict = {}
        progs = [p for p in self.query.recentProgress if p.numInputRows]
        for p in progs:
            for k, v in (p.durationMs or {}).items():
                parts[k] = parts.get(k, 0) + v / len(progs)
        return parts


# ----------------------------------------------------------------------
class Serve(Workload):
    """A grown MOR table with a bloom index serves keyed reads from one
    client. Each cycle of timed work lands a small MOR epoch, with
    maybe_compact on its policy and the bloom index refreshed, then runs
    READS."""

    name = "serve"
    BASE_EVENTS = 6_000
    EPOCH_EVENTS = 600
    # the reads of one cycle, the same in every run: (kind, keys or
    # conversations present in the table, keys absent from it)
    READS = (("read_keys", 6, 2), ("read_keys", 0, 1), ("read_prefix", 2, 0),
             ("read_changes", 0, 0))
    # growth leaves one delta per bucket and each epoch adds one, so the
    # reads of the first cycle resolve three per bucket; the fourth
    # epoch compacts
    COMPACT_AT = 4
    CYCLE_S = 10  # one cycle on a 4-CPU host: --seconds / CYCLE_S cycles

    def n_convs(self) -> int:
        return self.BASE_EVENTS // 50

    def generate(self) -> None:
        self.dir = self.root / "data"
        self.cycles = max(1, round(self.seconds / self.CYCLE_S))
        base = gen_changes(
            self.spark, n_events=self.BASE_EVENTS, n_convs=self.n_convs(),
            max_turns=MAX_TURNS, n_files=2, seed=self.seed,
        ).withColumn("epoch", F.lit(0))
        tail = gen_changes(
            self.spark, n_events=self.EPOCH_EVENTS * (self.cycles + 1),
            n_convs=self.n_convs(), max_turns=MAX_TURNS,
            n_files=self.cycles + 1, seed=self.seed + 1,
            lsn_offset=2 * self.BASE_EVENTS + 2,
        ).withColumn("epoch", epoch_by_lsn(self.EPOCH_EVENTS) + 1)
        stage_epochs(base.unionByName(tail), self.dir / "staged", F.col("epoch"))

    def bootstrap(self) -> None:
        d = self.dir
        self.tbl = new_table(self.spark, d / "table")
        self.tbl.merge(self.epoch_input(0), pipeline_id="grow", epoch_id=0,
                       write_mode="mor")
        self.tbl.update_bloom_index()
        self.next_epoch = 1
        # keys present in the grown table, hot conversations first
        self.live = check.lww_state(read_events(d / "staged" / "epoch=0"))

    def epoch_input(self, e: int):
        return self.spark.read.parquet(str(self.dir / "staged" / f"epoch={e}"))

    def write_epoch(self) -> None:
        e = self.next_epoch
        self.last_write_from = self.tbl.current_version()
        self.tbl.merge(self.epoch_input(e), pipeline_id="serve", epoch_id=e,
                       write_mode="mor")
        self.tbl.maybe_compact(max_delta_files_per_bucket=self.COMPACT_AT)
        self.tbl.update_bloom_index()
        self.next_epoch += 1

    def present_row(self):
        """A row of the grown table, zipf-hot: the hot conversations sort
        first, and the pick leans to the front."""
        return self.live.iloc[int(len(self.live) * self.rng.random() ** 2.0)]

    def read_arg(self, kind: str, present: int, absent: int):
        if kind == "read_changes":
            return self.last_write_from
        if kind == "read_prefix":
            return [self.present_row()["conv_id"] for _ in range(present)]
        keys = []
        for _ in range(present):
            row = self.present_row()
            keys.append((row["conv_id"], int(row["turn_idx"])))
        for _ in range(absent):  # beyond the generated conversations
            conv = self.n_convs() + self.rng.randrange(self.n_convs())
            keys.append((f"conv_{conv:06d}", self.rng.randrange(MAX_TURNS)))
        return keys

    def warm_up(self) -> None:
        """An epoch, then one read of each kind."""
        self.write_epoch()
        for kind, present, absent in dict((r[0], r) for r in self.READS).values():
            self.timed_read(None, self.tbl, kind,
                            self.read_arg(kind, present, absent), keep=False)

    def window(self, s: Samples) -> None:
        def work(s):
            for _ in range(self.cycles):
                self.timed_epoch(s, self.EPOCH_EVENTS, self.write_epoch)
                for kind, present, absent in self.READS:
                    self.timed_read(s, self.tbl, kind,
                                    self.read_arg(kind, present, absent))
        self.timed_window(s, 1, work)

    def data_dirs(self) -> list[Path]:
        return [self.dir / "table"]

    def table(self) -> LakeTable:
        return self.tbl

    def check(self) -> list[str]:
        events = read_events(self.dir / "staged")
        events = events[events["epoch"].astype(int) < self.next_epoch]
        return self.check_reads(check.lww_state(events), self.reads)


WORKLOADS = {w.name: w for w in (Replay, Steady, Serve)}
