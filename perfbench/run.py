"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload replay|steady|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. One driver process on local[<nproc>];
one closed-loop client (the next epoch or read starts only after the
previous one returned). The inputs come from `gen_changes` with the
given seed. Everything the run writes lives under `.perfbench_work/`
in the current directory and is removed at exit.

Set-up (`setup_s`) is session start, input generation, table bootstrap
and growth, and the warm-up. It is measured once per run: it costs tens
of seconds, so repeating it inside a run would not fit a run of under
a minute.

`--seconds` sets how much work is timed: `steady` times about one epoch
per 12 s and `serve` one cycle (an epoch and its reads) per 10 s, at
least one, so two runs with the same `--seconds` time the same
operations.

With --trace 0 the run measures the end-to-end metrics with no tracing.
With --trace 1 the same window runs with spans around the engine's
public calls (perfbench/spans.py) and the run reports per-layer metrics,
plus the traced epoch and read medians: the tracing overhead is these
minus `epoch_ms_p50` and `read_ms_p50` of a --trace 0 run with the same
seed.

Stdout: human-readable report lines (every end-to-end metric), then, as
the last line, one JSON object {"correct", "attempted", "failed",
"metrics"} whose metrics are the bounded ones (GUARDED) or, traced, the
per-layer ones. A correctness mismatch prints the result with
"correct": false and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

# Every end-to-end metric the run prints, with its unit.
END_TO_END = {
    "setup_s": "s",
    "apply_eps": "events/s",
    "epoch_ms_p50": "ms",
    "read_ms_p50": "ms",
    "reads_per_s": "reads/s",
    "jobs_per_epoch": "count",
    "jobs_per_read": "count",
    "write_bytes_per_event": "B/event",
    "shuffle_bytes_per_event": "B/event",
    "peak_rss_mb": "MB",
}
# The ones in the result line, which BENCHMARK.json bounds: the counts
# and bytes repeat from run to run, while the times swing with the load
# other guests put on the host (perfbench/README.md, "Which metrics are
# bounded"). setup_s is bounded so that work moved into set-up shows.
GUARDED = ("setup_s", "jobs_per_epoch", "jobs_per_read",
           "write_bytes_per_event", "shuffle_bytes_per_event")

# Spans every workload runs: all fields, per call.
COMMON_SPANS = ("lake.table.merge", "lake.table.read_keys",
                "lake.table.read_prefix", "lake.table.read_changes")
# Spans only some workloads run: counters only, so a workload without the
# span reports counts of zero rather than a constant zero time.
OTHER_SPANS = ("lake.table.maintenance", "lake.sync.aggregate",
               "lake.sync.scd2", "streaming.pipeline.batch",
               "streaming.lineage.record_epoch", "sources.cdc_formats.parse",
               "sources.quarantine.split")
TIME_FIELDS = ("wall_ms", "self_ms", "driver_ms", "exec_cpu_ms")
COUNT_FIELDS = ("jobs", "stages")
BYTE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
               "output_bytes")
# rows_out (reads) and plan.<merge_plan> (merge) are on the span lines
EXTRA_FIELDS = {"lake.table.merge": ("files_written", "buckets_touched")}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for name in COMMON_SPANS + OTHER_SPANS:
        out[f"{name}.calls"] = "count"
        fields = (TIME_FIELDS if name in COMMON_SPANS else ()) + COUNT_FIELDS
        for f in fields + BYTE_FIELDS + EXTRA_FIELDS.get(name, ()):
            out[f"{name}.{f}"] = ("ms" if f in TIME_FIELDS else
                                  "B" if f in BYTE_FIELDS else "count")
    out["unattributed.jobs"] = "count"
    out["traced.epoch_ms_p50"] = "ms"
    out["traced.read_ms_p50"] = "ms"
    return out


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of a fixed ladder of percentiles
    with at least ten samples beyond it."""
    xs = sorted(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        v = xs[min(len(xs) - 1, int(len(xs) * p / 100.0))] if xs else None
        if v is not None and sum(1 for x in xs if x > v) >= 10:
            return p, v
    return None, None


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this host so far, from /proc/stat: on a
    virtual machine, time the hypervisor gave to other guests."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def on_tmpfs(path: Path) -> bool:
    best, fstype = "", ""
    for line in Path("/proc/mounts").read_text().splitlines():
        parts = line.split()
        mnt = parts[1]
        if str(path).startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best):
            best, fstype = mnt, parts[2]
    return fstype == "tmpfs"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("replay", "steady", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0


def mean(xs: list) -> float:
    return sum(xs) / len(xs)


def end_to_end(s, setup_s: float, shuffle_bytes: int, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "apply_eps": s.events / sum(s.epoch_s),
        "epoch_ms_p50": p50_ms(s.epoch_s),
        "read_ms_p50": p50_ms(s.read_s),
        "reads_per_s": len(s.read_s) / sum(s.read_s),
        "jobs_per_epoch": mean(s.epoch_jobs),
        "jobs_per_read": mean(s.read_jobs),
        "write_bytes_per_event": s.write_bytes / s.events,
        "shuffle_bytes_per_event": shuffle_bytes / s.events,
        "peak_rss_mb": rss_mb,
    }


def tail_line(name: str, xs: list[float]) -> str:
    p, v = tail(xs)
    if p is None:
        return (f"metric {name} n/a ms (n={len(xs)}: no percentile has "
                "10 samples beyond it)")
    return f"metric {name} {v * 1000.0:.3f} ms (p{p:g}, n={len(xs)})"


def report(s, e2e: dict, label: str) -> None:
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {END_TO_END[k]}{label}")
    print(tail_line("epoch_ms_tail", s.epoch_s) + label)
    print(tail_line("read_ms_tail", s.read_s) + label)


def per_layer(tracer, spans_mod, unattributed: dict, s) -> dict:
    agg = spans_mod.aggregate(tracer)
    out = {}
    for key, unit in per_layer_units().items():
        name, _, fld = key.rpartition(".")
        if key == "unattributed.jobs":
            out[key] = unattributed["jobs"]
        elif key == "traced.epoch_ms_p50":
            out[key] = p50_ms(s.epoch_s)
        elif key == "traced.read_ms_p50":
            out[key] = p50_ms(s.read_s)
        else:
            a = agg.get(name, {"calls": 0})
            calls = a["calls"]
            out[key] = calls if fld == "calls" else (
                a.get(fld, 0) / calls if calls else 0)
    return out, agg


def main(argv=None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    try:
        import pyspark
        from dataingestion_spark.session import build_session
        from perfbench import spans
        from perfbench.workloads import WORKLOADS, Samples
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "repository root", file=sys.stderr)
        return 2

    work = (Path.cwd() / ".perfbench_work"
            / f"{args.workload}-{args.seed}-{os.getpid()}")
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    spark = jvm = w = None
    try:
        spark = build_session(
            app_name="perfbench", master=master, shuffle_partitions=nproc,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.driver.memory": "2g",
                "spark.local.dir": str(work / "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work / 'tmp'}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._gateway.proc
        t_session = time.time() - t_start

        tracer = spans.Tracer(spark)
        undo = spans.instrument(tracer) if args.trace else []
        w = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                     tracer)
        t0 = time.time()
        w.generate()
        t_gen = time.time() - t0
        t0 = time.time()
        w.bootstrap()
        t_boot = time.time() - t0
        t0 = time.time()
        w.warm_up()
        t_warm = time.time() - t0
        setup_s = t_session + t_gen + t_boot + t_warm

        load0 = os.getloadavg()[0]
        ticks0 = cpu_ticks()
        s = Samples()
        tracer.enabled = bool(args.trace)
        w.window(s)
        traced_end = spans.job_counter(spark)
        tracer.enabled = False
        load1 = os.getloadavg()[0]
        ticks1 = cpu_ticks()
        spans.restore(undo)

        plan_mix = w.plan_mix()
        batch_ms = w.batch_durations()
        mismatches = w.check()
        w.close()
        jobs, stages = spans.window_jobs(spark, s.first_job, s.end_job)
        shuffle = spans.stage_totals(stages)["shuffle_write_bytes"]
        if args.trace:
            jobs, stages = spans.window_jobs(spark, s.first_job, traced_end)
            unattributed = spans.attribute(tracer, jobs, stages)
        rss = peak_rss_mb(jvm.pid)
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except Exception:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        if not any((work.parent).iterdir()):
            work.parent.rmdir()

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "load": "closed loop, 1 client", "nproc": nproc, "master": master,
        "pyspark": pyspark.__version__, "tmpfs": on_tmpfs(work),
        "loadavg_1m_start": load0, "loadavg_1m_end": load1,
        "cpu_steal_frac": round((ticks1[0] - ticks0[0])
                                / max(ticks1[1] - ticks0[1], 1), 4),
        "merge_plan_mix": plan_mix,
        "setup": {"session_s": round(t_session, 3),
                  "generate_s": round(t_gen, 3),
                  "bootstrap_s": round(t_boot, 3),
                  "warm_up_s": round(t_warm, 3)},
        "window_s": round(s.window_s, 3), "epochs": len(s.epoch_s),
        "reads": s.reads_by_kind,
    }
    print("record " + json.dumps(record, sort_keys=True))
    e2e = end_to_end(s, setup_s, shuffle, rss)
    label = " (traced)" if args.trace else ""
    report(s, e2e, label)
    attempted = len(s.epoch_s) + len(s.read_s)
    failed = min(len(mismatches), attempted)
    print(f"metric failed_ops_frac {failed / attempted:.6g} ratio{label}")
    for m in mismatches:
        print(f"MISMATCH {m}")
    if args.trace:
        metrics, agg = per_layer(tracer, spans, unattributed, s)
        total = sum(a.get("jobs", 0) for a in agg.values()) + unattributed["jobs"]
        print(f"trace jobs_in_window={len(jobs)} attributed+unattributed={total}")
        for name, a in sorted(agg.items()):
            fields = " ".join(
                f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                for k, v in sorted(a.items()))
            print(f"span {name} (sums over calls) {fields}")
        for k, v in sorted(batch_ms.items()):
            print(f"span streaming.pipeline.batch durationMs.{k}={v:.4g} "
                  "(mean per batch)")
        units = per_layer_units()
    else:
        metrics, units = {k: e2e[k] for k in GUARDED}, END_TO_END
    result = {
        "correct": not mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
