"""Benchmark-side span collector.

A span times one public call into the engine, from outside it: the
benchmark wraps the call, tags every Spark job the call submits with a
job group of the span's own, and, after the timed window, reads job and
stage metrics for the window back from Spark's status store. The engine
code is not changed; `instrument` swaps the public entry points for thin
wrappers and `restore` puts the originals back.

Span fields (all per call, summed over a name's calls by `aggregate`):
wall_ms, self_ms (wall minus the time child spans cover), driver_ms
(wall during which none of the span's jobs, its children's included,
was running), jobs, stages, exec_cpu_ms, shuffle_write_bytes,
shuffle_read_bytes, input_bytes, output_bytes, plus per-span extras
(rows_out, files_written, ...). Job and stage counters are exclusive:
a job counts in the innermost span whose group submitted it, so the
per-span job counts plus `unattributed` add up to every job in the
window.

Job groups are thread-local in Spark (and in PySpark's pinned-thread
mode), so a call on the streaming `foreachBatch` thread opens its span,
and sets its group, on that thread: the span stack is thread-local too.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"

COUNTERS = (
    "jobs", "stages", "exec_cpu_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "output_bytes",
)
FIELDS = ("wall_ms", "self_ms", "driver_ms") + COUNTERS


@dataclass
class Span:
    id: int
    name: str
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # (job id, start s, end s)


class Tracer:
    """Collects spans while `enabled`; a disabled tracer opens no span
    and sets no job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, parent, time.time())
        prev_group = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev_group)
            sp.t1 = time.time()
            with self._lock:
                self.spans.append(sp)
                if parent is not None:
                    parent.children.append(sp)


# ----------------------------------------------------------------------
# Spark status store: jobs and stages of a window
# ----------------------------------------------------------------------
def job_counter(spark) -> int:
    """Jobs submitted so far in this SparkContext (ids are sequential)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _opt(o):
    return o.get() if o.isDefined() else None


def window_jobs(spark, first_job: int, end_job: int) -> tuple[list[dict], dict]:
    """Job and stage records for job ids [first_job, end_job), read from
    the status store once the listener bus has drained. A stage counts
    once, in the first job (lowest id) that lists it and ran it; stages
    that ran before the window (skipped re-uses) are left out."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    seen: set[int] = set()
    t_first = None
    for jid in range(first_job, end_job):
        jd = store.job(jid)
        sub = _opt(jd.submissionTime())
        end = _opt(jd.completionTime())
        start_s = sub.getTime() / 1000.0 if sub is not None else None
        end_s = end.getTime() / 1000.0 if end is not None else start_s
        if t_first is None and start_s is not None:
            t_first = start_s
        sids = [int(s) for s in jd.stageIds().mkString(",").split(",") if s]
        own = []
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            st_sub = _opt(st.submissionTime())
            if st_sub is None or (t_first is not None and st_sub.getTime() / 1000.0 < t_first - 0.001):
                continue  # never ran, or ran before the window
            stages[sid] = {
                "exec_cpu_ms": st.executorCpuTime() / 1e6,
                "shuffle_write_bytes": int(st.shuffleWriteBytes()),
                "shuffle_read_bytes": int(st.shuffleReadBytes()),
                "input_bytes": int(st.inputBytes()),
                "output_bytes": int(st.outputBytes()),
            }
            own.append(sid)
        jobs.append({
            "id": jid, "group": _opt(jd.jobGroup()), "start": start_s,
            "end": end_s, "stages": own,
        })
    return jobs, stages


def stage_totals(stages: dict) -> dict:
    out = {k: 0 for k in ("exec_cpu_ms", "shuffle_write_bytes",
                          "shuffle_read_bytes", "input_bytes", "output_bytes")}
    for st in stages.values():
        for k in out:
            out[k] += st[k]
    return out


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


def attribute(tracer: Tracer, jobs: list[dict], stages: dict) -> dict:
    """Give each window job to the span whose group submitted it; return
    the unattributed remainder. Fills every span's counters."""
    by_id = {sp.id: sp for sp in tracer.spans}
    stats = {sp.id: {k: 0 for k in COUNTERS} for sp in tracer.spans}
    un = {k: 0 for k in COUNTERS}
    for j in jobs:
        g = j["group"] or ""
        sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
        target = stats.get(sid, un)
        target["jobs"] += 1
        for s in j["stages"]:
            target["stages"] += 1
            for k, v in stages[s].items():
                target[k] += v
        if sid in by_id and j["start"] is not None:
            by_id[sid].jobs.append((j["id"], j["start"], j["end"]))
    for sp in tracer.spans:
        sp.extra.update(stats[sp.id])
    return un


def _all_jobs(sp: Span):
    yield from sp.jobs
    for c in sp.children:
        yield from _all_jobs(c)


def span_record(sp: Span) -> dict:
    wall = (sp.t1 - sp.t0) * 1000.0
    child = _union_ms([(c.t0, c.t1) for c in sp.children], sp.t0, sp.t1)
    busy = _union_ms([(a, b) for _, a, b in _all_jobs(sp)], sp.t0, sp.t1)
    return {"wall_ms": wall, "self_ms": wall - child, "driver_ms": wall - busy,
            **sp.extra}


def aggregate(tracer: Tracer) -> dict[str, dict]:
    """Per span name: call count and every numeric field summed."""
    out: dict[str, dict] = {}
    for sp in tracer.spans:
        rec = span_record(sp)
        agg = out.setdefault(sp.name, {"calls": 0})
        agg["calls"] += 1
        for k, v in rec.items():
            if isinstance(v, (int, float)):
                agg[k] = agg.get(k, 0) + v
    return out


# ----------------------------------------------------------------------
# wrapping the engine's public calls from the benchmark process
# ----------------------------------------------------------------------
def _files(snap) -> set[str]:
    return {f for fl in snap.files.values() for f in fl} | {
        f for fl in snap.deltas.values() for f in fl
    }


def instrument(tracer: Tracer) -> list:
    """Wrap the public calls the per-layer table names; returns the undo
    list for `restore`. Wrappers call straight through while the tracer
    is disabled."""
    from pyspark.sql.streaming import DataStreamWriter

    from dataingestion_spark.lake import sync as sync_mod
    from dataingestion_spark.lake.table import LakeTable
    from dataingestion_spark.streaming.lineage import LineageLog

    undo = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def traced(name, skip_inside=(), after=None):
        """Span around a call. No new span when the innermost open span
        is `name` itself or starts with one of `skip_inside`: its jobs
        then stay with that span."""

        def make(orig):
            def wrapper(*args, **kwargs):
                cur = tracer.current() if tracer.enabled else None
                if not tracer.enabled or (cur is not None and (
                    cur.name == name or cur.name.startswith(skip_inside)
                )):
                    return orig(*args, **kwargs)
                with tracer.span(name) as sp:
                    out = orig(*args, **kwargs)
                # outside the span: the extras' own reads are not the call's
                if after is not None:
                    after(sp, args, out)
                return out
            return wrapper
        return make

    def merge_after(sp, args, snap):
        if snap is None:
            sp.extra["skipped"] = 1
            return
        tbl = args[0]
        before = _files(tbl.snapshot(snap.parent)) if snap.parent else set()
        sp.extra["files_written"] = len(_files(snap) - before)
        sp.extra["buckets_touched"] = len(snap.summary.get("touched_buckets", []))
        plan = snap.summary.get("merge_plan", "cow-unknown")
        sp.extra[f"plan.{plan}"] = 1

    patch(LakeTable, "merge",
          traced("lake.table.merge", ("lake.sync.",), merge_after))
    for m in ("read_keys", "read_prefix", "read_changes"):
        patch(LakeTable, m, traced(f"lake.table.{m}"))
    for m in ("maybe_compact", "update_bloom_index", "optimize"):
        patch(LakeTable, m, traced("lake.table.maintenance"))
    patch(sync_mod, "sync_aggregate", traced("lake.sync.aggregate"))
    patch(sync_mod, "sync_scd2", traced("lake.sync.scd2"))
    patch(LineageLog, "record_epoch", traced("streaming.lineage.record_epoch"))

    def wrap_foreach(orig):
        def foreachBatch(self, func):
            @functools.wraps(func)
            def batch_fn(df, epoch_id):
                with tracer.span("streaming.pipeline.batch"):
                    return func(df, epoch_id)
            return orig(self, batch_fn)
        return foreachBatch

    patch(DataStreamWriter, "foreachBatch", wrap_foreach)
    return undo


def restore(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)
