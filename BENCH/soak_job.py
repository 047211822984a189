"""Sustained-ingest soak: steady-state CDC apply against a GROWN table,
with maintenance interleaved - the regime a production pipeline lives
in, as opposed to replay_job.py's from-scratch burst.

Two questions this answers that the replay bench can't:

1. **Steady-state COW cost.** During a from-scratch replay the batch is
   never small relative to the table, so the COW broadcast split (one
   broadcast of the batch keys; only the table rows the batch hits are
   exchanged) never engages.
   Here the table is bootstrapped to many times the epoch size first,
   then timed epochs run in the table >> batch regime - the 100 TB
   shape, where each epoch touches a sliver of a huge table.
   The plan follows the counted gate (base rows >= 4x batch events);
   ``--no-broadcast`` raises the ratio to infinity, so every epoch
   takes the union plan, for an A/B on the same staged bytes.

2. **Compaction-amortized throughput** (round-4 verdict item #7).
   ``--optimize-every K`` runs the full ``optimize()`` maintenance pass
   (compaction, snapshot expiry, vacuum, index refresh) inside the
   timed window every K epochs, so the reported events/s is what a
   24/7 deployment actually sustains, not a clean-epochs-only number.

Prints one JSON line:
  {"cpus", "bootstrap_rows", "steady_events", "steady_epochs",
   "apply_sec", "events_per_sec", "optimize_passes", "optimize_sec",
   "merge_plan", "plans", "write_mode", "broadcast"}

Methodology matches replay_job.py: byte-identical staged input per
seed, untimed warm-up + untimed bootstrap, tmpfs-backed table and
shuffle dirs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataingestion_spark.lake import LakeTable
from dataingestion_spark.session import build_session
from dataingestion_spark.sources.datagen import gen_changes
from tests.util import TRANSCRIPT_SCHEMA

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument(
        "--bootstrap-events", type=int, default=16_000_000,
        help="events loaded (untimed) to grow the table first",
    )
    ap.add_argument(
        "--steady-events", type=int, default=250_000,
        help="events per timed steady-state epoch",
    )
    ap.add_argument("--steady-epochs", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--optimize-every", type=int, default=0,
        help="run optimize() inside the timed window every K epochs "
        "(0 = never)",
    )
    ap.add_argument(
        "--write-mode", default="cow", choices=["cow", "mor"],
    )
    ap.add_argument(
        "--no-broadcast", action="store_true",
        help="run the union COW plan on every epoch (A/B control)",
    )
    ap.add_argument("--no-shm", action="store_true")
    a = ap.parse_args()

    base = None if a.no_shm else SHM
    tmp = tempfile.mkdtemp(prefix=f"soak_{a.cpus}_", dir=base)
    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "48g",
    }
    if base:
        extra["spark.local.dir"] = f"{tmp}/spark-local"
    spark = build_session(
        app_name=f"cdc-soak-{a.cpus}",
        master=f"local[{a.cpus}]",
        shuffle_partitions=max(a.cpus * 2, 16),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one key universe shared by bootstrap and steady epochs, so steady
    # batches are mostly UPDATES against existing keys (the production
    # shape) with inserts arriving as unseen (conv, turn) pairs
    n_convs = max(a.bootstrap_events // 200, 100)

    staged = f"{tmp}/staged"
    steady_total = a.steady_events * a.steady_epochs
    steady = gen_changes(
        spark, n_events=steady_total, n_convs=n_convs, max_turns=64,
        n_files=a.steady_epochs, seed=a.seed + 1, zipf_exp=2.0,
        dup_frac=0.05, lsn_offset=a.bootstrap_events * 16,
    )
    steady.withColumn(
        "epoch", F.regexp_extract("source_file", r"(\d+)$", 1).cast("int")
    ).write.partitionBy("epoch").mode("overwrite").parquet(staged)

    tbl = LakeTable.create(
        spark, f"{tmp}/table", TRANSCRIPT_SCHEMA,
        pk_fields=["conv_id", "turn_idx"], order_fields=["lsn", "ts"],
        num_buckets=a.buckets,
    )
    if a.no_broadcast:
        tbl.BROADCAST_TABLE_BATCH_RATIO = float("inf")

    # untimed bootstrap: grow the table (MOR + compact is the fastest
    # loader; the steady phase runs the mode under test)
    boot_files = 8
    boot = gen_changes(
        spark, n_events=a.bootstrap_events, n_convs=n_convs, max_turns=64,
        n_files=boot_files, seed=a.seed, zipf_exp=2.0, dup_frac=0.05,
    )
    boot.withColumn(
        "epoch", F.regexp_extract("source_file", r"(\d+)$", 1).cast("int")
    ).write.partitionBy("epoch").mode("overwrite").parquet(f"{tmp}/boot")
    for e in range(boot_files):
        tbl.merge(
            spark.read.parquet(f"{tmp}/boot/epoch={e}"),
            pipeline_id="boot", epoch_id=e, write_mode="mor",
        )
    tbl.compact()
    bootstrap_rows = tbl.read().count()

    # timed steady-state window: K small epochs (+ optimize every M)
    plans: list[str] = []
    opt_passes = 0
    opt_sec = 0.0
    t0 = time.time()
    for e in range(a.steady_epochs):
        snap = tbl.merge(
            spark.read.parquet(f"{staged}/epoch={e}"),
            pipeline_id="soak", epoch_id=e, write_mode=a.write_mode,
        )
        plans.append(snap.summary.get("merge_plan", "?"))
        if a.optimize_every and (e + 1) % a.optimize_every == 0:
            ot = time.time()
            tbl.optimize()
            opt_sec += time.time() - ot
            opt_passes += 1
    dt = time.time() - t0
    rows = tbl.read().count()
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "cpus": a.cpus,
                "bootstrap_rows": bootstrap_rows,
                "final_rows": rows,
                "steady_events": a.steady_events,
                "steady_epochs": a.steady_epochs,
                "apply_sec": round(dt, 3),
                "events_per_sec": round(steady_total / dt, 1),
                "optimize_passes": opt_passes,
                "optimize_sec": round(opt_sec, 3),
                "merge_plan": max(set(plans), key=plans.count),
                "plans": {p: plans.count(p) for p in sorted(set(plans))},
                "write_mode": a.write_mode,
                "broadcast": not a.no_broadcast,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
