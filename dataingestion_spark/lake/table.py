"""LakeTable: a from-scratch snapshot-isolated, bucketed, copy-on-write
Parquet lake table with keyed MERGE - the engine's sink.

The reference reaches these semantics through Hudi copy-on-write upsert
(/root/reference/spark/src/main/scala/com/example/Phase2Job.scala:137-145,
options /root/reference/spark/src/main/scala/com/example/core/SparkUtils.scala:131-146);
the north rule re-targets them at Iceberg MERGE INTO. This sandbox ships no
Iceberg/Hudi runtime jars, so the table format itself is built here from
first principles - the same ideas Iceberg uses (file-level manifests,
atomic snapshot commits, hidden bucket partitioning, schema evolution by
metadata, commit properties for exactly-once markers), in ~one file of
driver-side Python around pure DataFrame ops:

  table_root/
    _meta/snapshots/v<N>.json   immutable snapshot manifests; commit =
                                O_EXCL create of the next version (atomic,
                                optimistic - a losing concurrent writer
                                gets CommitConflictError, nothing partial)
    data/<commit-uuid>/_pb=<bucket>/part-*.parquet
                                immutable data files; a snapshot references
                                the exact file list per bucket, so readers
                                NEVER list directories (object-store-scale
                                friendly) and time travel is free

Scale design points (10^10-event replay, SURVEY.md §4/§7):

  * Hidden bucket partitioning: every row is assigned
    ``_bucket = pmod(xxhash64(conv_id), num_buckets)``. A MERGE touches
    only the buckets present in the change batch - bucket pruning bounds
    the copy-on-write rewrite to touched data, independent of table size.
  * The MERGE's probe of batch-vs-table is a single LWW aggregate over
    (batch UNION current rows) of the *touched buckets only*; skew is
    handled in the operator, not by AQE: the exchange is explicitly
    salted for hot conversations (operators/salting.py) so no single
    reducer owns a hot bucket.
  * Late/duplicate events: the table persists ``_lsn`` per row and MERGE
    only lets a source row win when ``s.lsn >= t._lsn``; deletes write
    tombstones (``_deleted = true``) rather than removing rows, so an
    out-of-order event older than an applied DELETE cannot resurrect the
    key across epochs (SURVEY.md §7.3 "deletes + late arrivals").
    ``compact()`` purges tombstones once the stream is past them.
  * Exactly-once: each snapshot carries ``pipelines: {id: last_epoch}``;
    re-running an epoch (foreachBatch is at-least-once) is detected and
    skipped (reference design /root/reference/artifacts/lld/LLD.md:386).
  * Schema evolution by metadata only: NON_BREAKING changes merge the
    schema in the snapshot; old files are never rewritten (missing columns
    read as null, widened ints read under the wider type - both native to
    Spark 4's Parquet reader). BREAKING changes fail fast and are recorded
    BLOCKED in the schema ledger (schema/evolution.py).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataingestion_spark.lake.shardstore import ShardStore
from dataingestion_spark.operators.lww import lww_dedupe
from dataingestion_spark.operators.salting import SALT_COL, with_salt
from dataingestion_spark.schema.evolution import (
    ChangeType,
    SchemaEvolutionError,
    SchemaStatus,
    compare_schemas,
    is_compatible_type_change,
    merge_schemas,
)

BUCKET_COL = "_bucket"
LSN_COL = "_lsn"
DELETED_COL = "_deleted"
DELTA_SEQ_COL = "_seq"  # commit ordinal stamped into MOR delta files
PARTIAL_COL = "_partial"  # MOR delta rows that are per-column overlays
_PARTITION_DIR_COL = "_pb"  # physical partition dir; _bucket stays a data column
SYSTEM_COLS = [LSN_COL, DELETED_COL, BUCKET_COL]


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first."""


# Branch names: no dashes (the snapshot filename grammar B-<name>-v<N>.json
# must parse unambiguously), no path separators.
_BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9_.]+$")


# The read-time LWW policy of merge-on-read, shared by every resolved read
# (LakeTable._resolved) and the changelog diff (LakeTable._diff_images).
def _lww_pref(delta: bool) -> Column:
    """The commit ordinal in a row's read-time LWW rank: 0 for base rows,
    the committing snapshot's version for delta rows, so equal-lsn rows
    for one key resolve to the newest commit - the COW join's "newer
    source wins ties" rule (s.lsn >= t._lsn)."""
    ordinal = F.coalesce(F.col(DELTA_SEQ_COL), F.lit(1)) if delta else F.lit(0)
    return ordinal.cast("long")


def _lww_ord(pref: Column) -> Column:
    """A row's read-time LWW rank: ``(coalesce(_lsn, -1), pref)``, with
    ``pref`` from :func:`_lww_pref`. Append-originated rows (null
    ``_lsn``) rank lowest; the stored ``_lsn`` is untouched. A plan that
    exchanges the rows anyway can ship ``pref`` flat and build the struct
    after the exchange, so ``_lsn`` does not ride twice."""
    return F.struct(
        F.coalesce(F.col(LSN_COL), F.lit(-1)).alias("l"), pref.alias("p")
    )


def _lww_barrier(pk: list[str], rows: Column | None = None) -> Column:
    """Per key (a window over ``pk``), the ``_ord`` of the newest FULL row
    - base row, full delta row or tombstone - among ``rows``: partial
    overlays count only when ranked above it."""
    full = ~F.col(PARTIAL_COL) if rows is None else rows & ~F.col(PARTIAL_COL)
    return F.max(F.when(full, F.col("_ord"))).over(Window.partitionBy(*pk))


def _lww_overlay(barrier: Column) -> Column:
    """A partial overlay row ranked after its key's ``barrier``."""
    return F.col(PARTIAL_COL) & (F.col("_ord") > barrier)


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: dict
    schema_version: int
    num_buckets: int
    pk_fields: list[str]
    order_fields: list[str]
    # bucket (as str) -> table-relative file paths. In-memory view; on disk
    # each bucket's lists live in a per-bucket MANIFEST file referenced by
    # manifest_refs, so a commit touching k of N buckets writes k manifest
    # files and the snapshot json - never a full file-list rewrite
    # (Iceberg's manifest-list model; at 100 TB the untouched buckets'
    # metadata is shared structurally across snapshots).
    files: dict[str, list[str]] = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    operation: str = "create"
    summary: dict = field(default_factory=dict)
    committed_at: float = 0.0
    # merge-on-read delta files per bucket (Hudi-MOR analog): rows here
    # override base rows by LWW on (_lsn, ts) at read time; compact() folds
    # them into the base. Empty for pure copy-on-write tables.
    deltas: dict[str, list[str]] = field(default_factory=dict)
    # bucket (as str) -> table-relative manifest path (persisted form)
    manifest_refs: dict[str, str] = field(default_factory=dict)
    # chain this snapshot belongs to ("main" or a WAP branch name): a child
    # inherits it, so every commit on a branch names the branch; legacy
    # snapshot jsons lack the field and load as main
    branch: str = "main"

    def child(
        self,
        operation: str,
        summary: dict,
        partial_buckets_add: list[str] | None = None,
        **changes,
    ) -> "Snapshot":
        """The snapshot that follows this one: ``version + 1`` with this
        one as ``parent``, on the same ``branch``, holding a deep copy of
        this one's fields with ``changes`` applied (the fork alone passes
        its own ``version`` and ``parent``). ``None`` summary values are
        dropped. Every snapshot keeps the partial-bucket invariant here:
        ``properties["partial_delta_buckets"]`` names the buckets whose
        delta chains hold partial-update overlay rows, which need the
        partial-aware read. A bucket stays in the set only while it still
        has deltas, so a COW rewrite, compaction or rebucket that clears a
        chain drops it; ``partial_buckets_add`` joins the set."""
        fields = {
            **self.__dict__,
            "version": self.version + 1,
            "parent": self.version,
            **changes,
            "operation": operation,
            "summary": {},
        }
        snap = Snapshot(**json.loads(json.dumps(fields)))
        snap.summary = {k: v for k, v in summary.items() if v is not None}
        props = snap.properties
        plist = {
            b for b in props.get("partial_delta_buckets", [])
            if snap.deltas.get(str(b))
        }
        plist.update(partial_buckets_add or [])
        if plist:
            props["partial_delta_buckets"] = sorted(plist, key=int)
        else:
            props.pop("partial_delta_buckets", None)
        return snap

    def state(self) -> dict:
        """The table this snapshot describes, apart from its place in the
        history: what a rollback restores and a publish carries across
        chains, as ``child`` changes."""
        names = ("schema_json", "schema_version", "num_buckets", "pk_fields",
                 "order_fields", "files", "deltas", "properties")
        return {k: getattr(self, k) for k in names}

    def rewritten(
        self, buckets, new_files: dict[str, list[str]]
    ) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
        """This snapshot's files and deltas after a copy-on-write rewrite
        of ``buckets``: each of them, and each bucket ``new_files`` names,
        takes its files from ``new_files`` (none when absent) and loses
        its delta chain."""
        files, deltas = dict(self.files), dict(self.deltas)
        for b in {str(b) for b in buckets} | set(new_files):
            files[b] = new_files.get(b, [])
            deltas.pop(b, None)
        return files, deltas

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def to_json(self) -> str:
        """Persisted form: per-bucket lists are externalized to manifest
        files (manifest_refs), keeping the snapshot json O(buckets)."""
        d = dict(self.__dict__)
        d.pop("files")
        d.pop("deltas")
        return json.dumps(d, indent=1, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "Snapshot":
        return cls(**json.loads(text))


def bucket_expr(key_col: str, num_buckets: int, key_type: T.DataType | None = None):
    """Hidden-partitioning transform: pmod(xxhash64(key), N), the analog of
    Iceberg's bucket(N, col).

    ``key_type`` pins the hashed physical type. xxhash64 hashes int and long
    inputs differently, so every bucket computation over a table's pk MUST
    cast to the table schema's pk type first - otherwise a batch arriving
    with a narrower pk type (pre-widening) lands rows in different buckets
    than the conformed winners, and a copy-on-write commit that trusts the
    pre-scan would silently drop them. For the same reason a write that
    widens the pk first rebuckets every stored row (``LakeTable._gate``)."""
    col = F.col(key_col)
    if key_type is not None:
        col = col.cast(key_type)
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")


# key types rendered as SQL literals; integral ones: (suffix, bit width)
_LITERALS = {T.StringType(): None, T.ByteType(): ("Y", 8), T.ShortType(): ("S", 16),
             T.IntegerType(): ("", 32), T.LongType(): ("L", 64)}


def _sql_literal(v, f: T.StructField) -> str:
    """``v`` as a SQL literal of exactly ``f``'s type, checked as
    ``createDataFrame`` verifies a row. A string holding a quote, a
    backslash or ``$`` (variable substitution) renders as UTF-8 hex, so
    no key parses as SQL under any parser setting."""
    t = f.dataType
    if type(v) is not (str if _LITERALS[t] is None else int):
        raise TypeError(f"field {f.name}: {t} can not accept {v!r} ({type(v)})")
    if type(v) is str:
        plain = not any(ch in v for ch in "'\\$")
        return f"'{v}'" if plain else f"CAST(X'{v.encode().hex()}' AS STRING)"
    suffix, bits = _LITERALS[t]
    if not -(1 << bits - 1) <= v < 1 << bits - 1:
        raise ValueError(f"field {f.name}: {v} out of range for {t}")
    return f"{v}{suffix}"


def key_literals(
    spark: SparkSession, fields: list[T.StructField], tuples: list[tuple]
) -> tuple[DataFrame, list[Column], DataFrame | None]:
    """Distinct, NULL-free key tuples (values in ``fields`` order) as a
    relation carrying their first field, the filters that match them, and
    the probe a keyed read must still semi-join (None when the filters are
    exact). String and integral keys cross into Spark as parsed SQL text,
    not one py4j call per value: a ``VALUES`` LocalRelation of the
    distinct first fields (collecting a projection of it runs no job), a
    first-field IN and, at width > 1, an exact tuple IN. Any other type
    takes ``createDataFrame`` and a first-field ``isin``; at width > 1
    that relation, broadcast, is the probe, since a struct IN of ``F.lit``
    tuples takes minutes to plan at 10k tuples."""
    names = [f.name for f in fields]
    if all(f.dataType in _LITERALS for f in fields):
        quoted = ["`" + n.replace("`", "``") + "`" for n in names]
        rows = [[_sql_literal(v, f) for v, f in zip(t, fields)] for t in tuples]
        first = ", ".join(dict.fromkeys(r[0] for r in rows))
        relation = spark.sql(f"SELECT * FROM VALUES {first} AS t({quoted[0]})")
        filters = [F.expr(f"{quoted[0]} IN ({first})")]
        if len(fields) > 1:
            values = ", ".join(f"({', '.join(r)})" for r in rows)
            filters.append(F.expr(f"({', '.join(quoted)}) IN ({values})"))
        return relation, filters, None
    relation = spark.createDataFrame(tuples, T.StructType(fields))
    first = F.col(names[0]).isin(list(dict.fromkeys(t[0] for t in tuples)))
    return relation, [first], F.broadcast(relation) if len(fields) > 1 else None


class LakeTable:
    """Handle to one lake table rooted at a directory."""

    # The COW broadcast split (merge plan "cow-broadcast", SCALE.md "The
    # COW table-side shuffle is eliminable"): one broadcast of the
    # batch's pk tuples splits the touched buckets' rows into the rows
    # the batch hits, which join the batch in the union plan's one
    # exchange, and the rest, which stream from the scan to the write
    # unshuffled. The broadcast is one extra fixed-latency job, so the
    # split pays when the table side DWARFS the batch - the steady-state
    # ingest regime. Engage only when the touched buckets' base rows
    # (exact, from the stats sidecars) are at least this multiple of the
    # batch, and the batch is at most BROADCAST_KEYS_MAX events; the plan
    # is a function of these counts alone, never of measured speed.
    # float("inf") keeps every epoch on the union plan.
    BROADCAST_TABLE_BATCH_RATIO = 4.0

    # Absolute floor for hot-key salting. Salting exists to split
    # PHYSICALLY oversized shuffle partitions and write files; whether a
    # key needs it is a property of its row volume, not its share of the
    # batch. A fractional-only threshold mis-fires on micro-batches: in a
    # 1,000-event steady-state epoch a 5% threshold salts 50-row keys -
    # pure plan overhead (and it vetoes the COW broadcast split in
    # exactly the regime that plan targets). 100k transcript rows is
    # single-digit MB - far below any executor partition or file-size
    # budget - so a key is hot only when it holds BOTH >= threshold of
    # the batch AND at least this many rows. At 10^10-event replay scale
    # the floor is invisible (an 8M-event epoch's 5% is 400k rows); it
    # only silences salting where salting cannot help.
    HOT_KEY_MIN_ROWS = 100_000

    # Bounded snapshot cache: a long-running apply stream commits one
    # snapshot per epoch, and each internalized Snapshot holds every
    # bucket's file list - an unbounded cache leaks driver memory
    # O(epochs x buckets x files) over thousands of epochs, undermining the
    # O(buckets) manifest design. An LRU of the latest few versions keeps
    # the hot path (current snapshot re-read per epoch) cached while old
    # epochs age out; history()/time-travel re-reads evicted manifests from
    # disk, which is what they cost on a fresh handle anyway.
    SNAP_CACHE_SIZE = 8

    def __init__(
        self, spark: SparkSession, root: str | Path, branch: str = "main"
    ):
        self.spark = spark
        self.root = Path(root)
        # Which snapshot CHAIN this handle reads and commits to. "main" is
        # the published table; any other name is a WAP branch created by
        # create_branch() - same root, same manifests/data files, its own
        # version files (B-<name>-v*.json). Every read/write entry point
        # resolves heads through _snapshot_path/current_version, so the
        # whole API (merge/append/DML/compact/rollback/time travel/
        # changelog/epoch markers) is branch-scoped for free.
        if branch != "main" and not _BRANCH_NAME_RE.match(branch):
            raise ValueError(
                f"invalid branch name {branch!r}: use [A-Za-z0-9_.]+ "
                "(no dashes)"
            )
        self.branch_name = branch
        # snapshots are immutable once committed - LRU-cache internalized
        # (manifest-resolved) snapshots per version for this handle
        self._snap_cache: OrderedDict[int, Snapshot] = OrderedDict()
        # per-commit-dir stats sidecars (file-level min/max), also bounded
        self._stats_cache: dict[str, dict] = {}

    # ------------------------------------------------------------------
    # metadata plumbing
    # ------------------------------------------------------------------
    @property
    def _snap_dir(self) -> Path:
        return self.root / "_meta" / "snapshots"

    def _snapshot_path(self, version: int) -> Path:
        if self.branch_name == "main":
            return self._snap_dir / f"v{version:012d}.json"
        return self._snap_dir / f"B-{self.branch_name}-v{version:012d}.json"

    @property
    def _snap_pattern(self) -> str:
        """Glob for THIS handle's chain: branch files start with "B-" so
        the main pattern ("v*.json") never matches them and vice versa."""
        if self.branch_name == "main":
            return "v*.json"
        return f"B-{self.branch_name}-v*.json"

    @staticmethod
    def _snap_version(p: Path) -> int:
        """Version number from a snapshot filename of either chain."""
        return int(p.stem.rsplit("v", 1)[1])

    def retained_versions(self) -> list[int]:
        """Sorted versions still retained on this handle's chain."""
        return sorted(
            self._snap_version(p)
            for p in self._snap_dir.glob(self._snap_pattern)
        )

    def exists(self) -> bool:
        return self._snap_dir.is_dir() and any(
            self._snap_dir.glob(self._snap_pattern)
        )

    def current_version(self) -> int:
        versions = [
            self._snap_version(p)
            for p in self._snap_dir.glob(self._snap_pattern)
        ]
        if not versions:
            raise FileNotFoundError(
                f"no snapshots under {self.root} (branch {self.branch_name!r})"
            )
        return max(versions)

    def _cache_put(self, version: int, snap: Snapshot) -> None:
        self._snap_cache[version] = snap
        self._snap_cache.move_to_end(version)
        while len(self._snap_cache) > self.SNAP_CACHE_SIZE:
            self._snap_cache.popitem(last=False)

    def snapshot(self, version: int | str | None = None) -> Snapshot:
        if isinstance(version, str):
            version = self.resolve_tag(version)
        v = self.current_version() if version is None else version
        if v in self._snap_cache:
            self._snap_cache.move_to_end(v)
            return self._snap_cache[v]
        d = json.loads(self._snapshot_path(v).read_text())
        # legacy inline form carried files/deltas in the snapshot json
        inline_files = d.pop("files", None)
        inline_deltas = d.pop("deltas", None)
        snap = Snapshot(**d)
        if snap.manifest_refs:
            for b, ref in snap.manifest_refs.items():
                files, deltas = self._resolve_manifest(ref)
                if files:
                    snap.files[b] = files
                if deltas:
                    snap.deltas[b] = deltas
        else:
            snap.files = inline_files or {}
            snap.deltas = inline_deltas or {}
        self._cache_put(v, snap)
        return snap

    def version_as_of(self, ts) -> int:
        """Latest committed version whose commit time is <= ``ts`` - the
        Iceberg ``TIMESTAMP AS OF`` resolution step. ``ts`` is unix
        seconds or a datetime (naive = local time, matching
        ``committed_at``'s time.time() base). Raises when ``ts`` predates
        the oldest RETAINED snapshot (an expired version cannot be read,
        so resolving to it would lie) or no snapshot exists yet.

        O(retained versions) driver-side metadata reads - an admin/read
        entry point, never on the ingest hot path (same cost class as
        Iceberg scanning its metadata log)."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        ts = float(ts)
        best: Snapshot | None = None
        oldest: Snapshot | None = None
        for snap in self.history():
            if oldest is None or snap.version < oldest.version:
                oldest = snap
            if snap.committed_at <= ts and (
                best is None or snap.version > best.version
            ):
                best = snap
        if best is None:
            if oldest is None:
                raise ValueError("table has no snapshots")
            raise ValueError(
                f"as-of {ts} predates the oldest retained snapshot "
                f"(v{oldest.version} @ {oldest.committed_at}); earlier "
                "history has been expired"
            )
        return best.version

    def history(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self.retained_versions()]

    # ------------------------------------------------------------------
    # snapshot tags (Iceberg tag analog): named, expiry-protected versions
    # ------------------------------------------------------------------
    # The training-data use case: "dataset release v1" pins the exact
    # snapshot a corpus was cut from, readable forever by name
    # (read(version="release-1")) and immune to expire_snapshots until the
    # tag is dropped. Stored as one JSON map name->version; writes go
    # through tmp+rename (atomic vs readers). Tagging is a maintenance
    # operation - concurrent tag() calls are last-writer-wins on the map,
    # like Iceberg's tag DDL under a single catalog writer.

    @property
    def _tags_path(self) -> Path:
        return self.root / "_meta" / "tags.json"

    def _tags_raw(self) -> dict:
        """All tags across every chain, as stored: name -> {"version",
        "branch"} (legacy int values read as main-chain tags)."""
        p = self._tags_path
        raw = json.loads(p.read_text()) if p.is_file() else {}
        return {
            n: (
                e
                if isinstance(e, dict)
                else {"version": int(e), "branch": "main"}
            )
            for n, e in raw.items()
        }

    def tags(self) -> dict[str, int]:
        """Tags of THIS handle's chain only (name -> version). Tags are
        chain-scoped: version numbers are only meaningful within one
        snapshot chain, so a tag minted on a WAP branch must never
        resolve against main's snapshot of the same number (and vice
        versa). Chain scoping also keeps expire_snapshots' tag
        protection exact - each chain's expiry honors its own tags."""
        return {
            n: int(e["version"])
            for n, e in self._tags_raw().items()
            if e.get("branch", "main") == self.branch_name
        }

    def resolve_tag(self, name: str) -> int:
        all_tags = self._tags_raw()
        if name not in all_tags:
            raise KeyError(
                f"unknown tag {name!r} (have: {sorted(all_tags) or 'none'})"
            )
        entry = all_tags[name]
        chain = entry.get("branch", "main")
        if chain != self.branch_name:
            raise ValueError(
                f"tag {name!r} was created on chain {chain!r} and cannot "
                f"resolve from a {self.branch_name!r} handle: v"
                f"{entry['version']} names a DIFFERENT snapshot there; "
                f"use branch({chain!r}) to read the tagged state"
                if chain != "main"
                else f"tag {name!r} belongs to the main chain; use the "
                "main-table handle to read it"
            )
        return int(entry["version"])

    def _write_tags(self, tags: dict[str, int]) -> None:
        tmp = self._tags_path.with_suffix(f".{uuid.uuid4().hex[:8]}.tmp")
        tmp.write_text(json.dumps(tags, sort_keys=True))
        tmp.replace(self._tags_path)

    def _own_tag_entry(self, tags: dict, name: str, verb: str) -> None:
        """Refuse to retarget/remove a tag another chain owns: the tag
        map is name-global, and resolve_tag's cross-chain refusal would
        be hollow if a branch handle could silently overwrite (or drop)
        main's 'release-1' - stripping its expire_snapshots shield."""
        entry = tags.get(name)
        if entry is None:
            return
        chain = (
            entry.get("branch", "main") if isinstance(entry, dict) else "main"
        )
        if chain != self.branch_name:
            raise ValueError(
                f"cannot {verb} tag {name!r}: it belongs to chain "
                f"{chain!r}, not {self.branch_name!r}; use a handle on "
                "that chain (tag names are table-global)"
            )

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under ``name``. The version
        must still be retained; re-tagging an existing name repoints it
        (same-chain only - see :meth:`_own_tag_entry`)."""
        v = self.current_version() if version is None else int(version)
        if not self._snapshot_path(v).is_file():
            raise FileNotFoundError(f"cannot tag v{v}: snapshot not retained")
        tags = self._tags_raw()
        self._own_tag_entry(tags, name, "retag")
        tags[name] = {"version": v, "branch": self.branch_name}
        self._write_tags(tags)
        return v

    def drop_tag(self, name: str) -> None:
        tags = self._tags_raw()
        self._own_tag_entry(tags, name, "drop")
        tags.pop(name, None)
        self._write_tags(tags)

    # ------------------------------------------------------------------
    # branches (Iceberg branch / write-audit-publish analog)
    # ------------------------------------------------------------------
    # The WAP pattern a production CDC pipeline runs before exposing data
    # to consumers: stage one or more commits on a BRANCH (same table
    # root, its own snapshot chain), run audits against the branch head
    # (row counts, constraint scans, oracle diffs), then PUBLISH the
    # audited state to main as one atomic metadata-only commit - or drop
    # the branch and let vacuum reclaim its files. Iceberg spells this
    # spark.wap.branch + fast_forward; the mechanics here are the same:
    # branch snapshots live beside main's in _meta/snapshots as
    # B-<name>-v<N>.json, share ALL manifests/data files structurally,
    # and every LakeTable entry point works on a branch handle because
    # head resolution goes through _snapshot_path/current_version.
    #
    # Fork and publish are both O(buckets) metadata ops - no data file is
    # read, rewritten, or moved at ANY table size. Publish is guarded:
    # it refuses when main advanced past the fork point (the audit
    # validated a state that no longer exists; re-fork and re-audit).
    # Epoch markers ride along deliberately - a stream that staged epochs
    # on the branch is, after publish, exactly-once against main too.

    def branches(self) -> dict[str, int]:
        """Map of branch name -> head version (retained chains only)."""
        heads: dict[str, int] = {}
        for p in self._snap_dir.glob("B-*-v*.json"):
            name, _, vs = p.stem[2:].rpartition("-v")
            v = int(vs)
            if heads.get(name, -1) < v:
                heads[name] = v
        return heads

    def branch(self, name: str) -> "LakeTable":
        """Handle for an existing branch's chain."""
        bh = LakeTable(self.spark, self.root, branch=name)
        if not bh.exists():
            raise KeyError(
                f"unknown branch {name!r} "
                f"(have: {sorted(self.branches()) or 'none'})"
            )
        return bh

    def create_branch(
        self, name: str, at_version: int | str | None = None
    ) -> "LakeTable":
        """Fork a branch off this chain at ``at_version`` (default: head)
        and return its handle. Metadata-only: the fork snapshot SHARES the
        source's manifest refs, so no manifest, chunk, or data file is
        written. The fork base is recorded in snapshot properties
        (surviving branch-side expiry) for publish's guard."""
        if name == "main":
            raise ValueError("'main' is the published chain, not a branch")
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(
                f"invalid branch name {name!r}: use [A-Za-z0-9_.]+ (no dashes)"
            )
        if any(self._snap_dir.glob(f"B-{name}-v*.json")):
            raise ValueError(f"branch {name!r} already exists")
        src = self.snapshot(
            self.resolve_tag(at_version)
            if isinstance(at_version, str)
            else at_version
        )
        fork = src.child(
            "fork", {"forked_from": f"{self.branch_name}@{src.version}"},
            version=src.version, parent=src.parent, branch=name,
        )
        fork.properties["branch_base"] = {
            "chain": self.branch_name, "version": src.version
        }
        bh = LakeTable(self.spark, self.root, branch=name)
        try:  # every bucket is unchanged: the fork shares each manifest
            bh._commit(fork, parent=src)
        except CommitConflictError as e:  # raced create_branch(same name)
            raise ValueError(f"branch {name!r} already exists") from e
        return bh

    def publish_branch(self, name: str) -> Snapshot | None:
        """Atomically publish branch ``name``'s audited head onto THIS
        chain as one squash commit (operation ``publish``) - the
        Iceberg fast-forward/cherry-pick step of WAP. Metadata-only: the
        commit shares every manifest the branch head references. The
        branch's pipeline epoch markers come along, so a stream that
        staged epochs on the branch stays exactly-once after publish.

        Returns None (no-op) when nothing was staged. Raises
        CommitConflictError when this chain advanced past the fork point:
        the audit blessed a state built on a stale base - splicing it in
        could silently drop or duplicate rows, so the caller must re-fork
        from the new head and re-audit. The branch itself is left intact
        either way (drop_branch when done)."""
        staged = self.branch(name).snapshot()
        base = staged.properties.get("branch_base") or {}
        base_chain = base.get("chain", "main")
        if base_chain != self.branch_name:
            raise ValueError(
                f"branch {name!r} forked from {base_chain!r}; publish it "
                f"there, not onto {self.branch_name!r}"
            )
        base_v = int(base.get("version", staged.version))
        if staged.version == base_v and staged.operation == "fork":
            return None  # nothing staged since the fork
        head = self.snapshot()
        if head.version != base_v:
            raise CommitConflictError(
                f"cannot publish branch {name!r}: {self.branch_name} advanced "
                f"from v{base_v} to v{head.version} since the fork; "
                "re-create the branch from the new head and re-audit"
            )
        snap = head.child(
            "publish",
            {
                "published_branch": name,
                "branch_head": staged.version,
                "staged_commits": staged.version - base_v,
            },
            **staged.state(),
        )
        snap.properties.pop("branch_base", None)
        # parent=staged shares ALL manifest refs; a concurrent main commit
        # loses the O_EXCL race -> CommitConflictError (no retry: any main
        # advance invalidates the audited base by definition)
        return self._commit(snap, parent=staged)

    def drop_branch(self, name: str) -> int:
        """Delete a branch's snapshot files (the chain's data/manifest
        files become orphans reclaimed by vacuum). Returns the number of
        snapshots dropped."""
        # Same validation as create_branch: a name containing glob
        # metacharacters (e.g. "*") must not expand across OTHER
        # branches' snapshot files.
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(
                f"invalid branch name {name!r} "
                f"(must match {_BRANCH_NAME_RE.pattern})"
            )
        files = sorted(self._snap_dir.glob(f"B-{name}-v*.json"))
        if not files:
            raise KeyError(f"unknown branch {name!r}")
        # drop the chain's tags with the chain: a stale chain-scoped tag
        # would be permanently un-droppable (_own_tag_entry refuses every
        # other chain) and, worse, would resolve against an UNRELATED
        # chain if the branch name is ever reused - the wrong-snapshot
        # read the chain scoping exists to prevent. Tags go FIRST: a
        # crash between the two steps then leaves a still-droppable
        # branch (minus tags), not a dead chain with orphaned tags.
        tags = self._tags_raw()
        orphaned = [
            t
            for t, e in tags.items()
            if isinstance(e, dict) and e.get("branch", "main") == name
        ]
        if orphaned:
            for t in orphaned:
                tags.pop(t)
            self._write_tags(tags)
        for p in files:
            p.unlink()
        return len(files)

    @property
    def _manifest_dir(self) -> Path:
        return self.root / "_meta" / "manifests"

    @property
    def _keys_dir(self) -> Path:
        return self.root / "_meta" / "keys"

    # Second-level manifests: a bucket manifest holds SEALED chunk refs
    # plus an inline tail. Appends (MOR delta files, insert-only appends)
    # rewrite only the tail; once the tail reaches this many entries it is
    # sealed into an immutable chunk file shared by every later snapshot.
    # Per-epoch metadata write per touched bucket is then O(chunk refs +
    # tail) instead of O(total accumulated files): at 10^7 files/bucket a
    # flat manifest rewrites ~10^7 entries every epoch, the chunked form
    # ~10^7/CHUNK entries of refs + a bounded tail (SCALE.md's deferred
    # manifest-of-manifests, now in).
    MANIFEST_CHUNK_ENTRIES = 256

    def _resolve_manifest(self, ref: str) -> tuple[list[str], list[str]]:
        """Resolve a bucket manifest to (files, deltas): sealed chunks in
        order, then the inline tail. The legacy flat form ({"files":...,
        "deltas":...} with no "chunks") resolves identically."""
        m = json.loads((self.root / ref).read_text())
        files: list[str] = []
        deltas: list[str] = []
        for cref in m.get("chunks", []):
            c = json.loads((self.root / cref).read_text())
            files += c.get("files", [])
            deltas += c.get("deltas", [])
        files += m.get("files", [])
        deltas += m.get("deltas", [])
        return files, deltas

    def _commit(self, snap: Snapshot, parent: Snapshot | None = None) -> Snapshot:
        """Atomically publish a snapshot: write per-bucket manifest files
        for CHANGED buckets only (unchanged buckets structurally share the
        parent's manifest; append-only changes share the parent's sealed
        CHUNKS and rewrite just the tail), then O_EXCL create the next
        version file. Losers of a concurrent race raise CommitConflictError
        with no partial state (data/manifest/chunk files of a failed commit
        are simply unreferenced - removable by maintenance)."""
        self._snap_dir.mkdir(parents=True, exist_ok=True)
        self._manifest_dir.mkdir(parents=True, exist_ok=True)
        refs: dict[str, str] = {}
        parent_files = parent.files if parent else {}
        parent_deltas = parent.deltas if parent else {}
        parent_refs = parent.manifest_refs if parent else {}
        commit_tag = uuid.uuid4().hex[:12]
        chunk_cap = self.MANIFEST_CHUNK_ENTRIES
        for b in sorted(set(snap.files) | set(snap.deltas), key=int):
            files = snap.files.get(b, [])
            deltas = snap.deltas.get(b, [])
            if not files and not deltas:
                continue
            pf = parent_files.get(b, [])
            pd_ = parent_deltas.get(b, [])
            if b in parent_refs and pf == files and pd_ == deltas:
                refs[b] = parent_refs[b]  # unchanged bucket: share manifest
                continue
            chunks: list[str] = []
            tail_f, tail_d = files, deltas
            if (
                b in parent_refs
                and (pf or pd_)
                and files[: len(pf)] == pf
                and deltas[: len(pd_)] == pd_
            ):
                # append-only change: keep the parent's sealed chunks,
                # extend only its tail with the new entries. The prefix
                # check is an O(len) pointer-fast str compare - ~10ms at
                # 10^7 entries, driver-side, bounded per touched bucket.
                pm = json.loads((self.root / parent_refs[b]).read_text())
                chunks = list(pm.get("chunks", []))
                sealed_f = len(pf) - len(pm.get("files", []))
                sealed_d = len(pd_) - len(pm.get("deltas", []))
                tail_f = files[sealed_f:]
                tail_d = deltas[sealed_d:]
            if len(tail_f) + len(tail_d) >= chunk_cap:
                cpath = (
                    self._manifest_dir / f"c-{commit_tag}-{b}-{len(chunks)}.json"
                )
                cpath.write_text(json.dumps({"files": tail_f, "deltas": tail_d}))
                chunks.append(str(cpath.relative_to(self.root)))
                tail_f, tail_d = [], []
            mpath = self._manifest_dir / f"m-{commit_tag}-{b}.json"
            payload: dict = {"files": tail_f, "deltas": tail_d}
            if chunks:
                payload["chunks"] = chunks
            mpath.write_text(json.dumps(payload))
            refs[b] = str(mpath.relative_to(self.root))
        snap.manifest_refs = refs
        snap.committed_at = time.time()
        path = self._snapshot_path(snap.version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflictError(
                f"snapshot v{snap.version} already exists at {path}"
            ) from e
        with os.fdopen(fd, "w") as f:
            f.write(snap.to_json())
        self._cache_put(snap.version, snap)
        return snap

    # ------------------------------------------------------------------
    # create / read
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str | Path,
        schema: T.StructType,
        pk_fields: list[str],
        order_fields: list[str] | None = None,
        num_buckets: int = 32,
        properties: dict | None = None,
    ) -> "LakeTable":
        tbl = cls(spark, root)
        if tbl.exists():
            raise FileExistsError(f"table already exists at {root}")
        snap = Snapshot(
            version=1,
            parent=None,
            schema_json=json.loads(schema.json()),
            schema_version=1,
            num_buckets=num_buckets,
            pk_fields=list(pk_fields),
            order_fields=list(order_fields or ["lsn", "ts"]),
            files={},
            properties={"pipelines": {}, **(properties or {})},
            operation="create",
        )
        tbl._commit(snap)
        tbl._ledger_append(
            {
                "schema_version": 1,
                "status": SchemaStatus.ACTIVE.value,
                "change_type": "INITIAL",
                "schema_json": json.loads(schema.json()),
            }
        )
        return tbl

    def _physical_schema(
        self, snap: Snapshot, schema: T.StructType | None = None
    ) -> T.StructType:
        fields = list((schema or snap.schema).fields)
        fields.append(T.StructField(LSN_COL, T.LongType(), True))
        fields.append(T.StructField(DELETED_COL, T.BooleanType(), True))
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    def _read_files(
        self,
        snap: Snapshot,
        buckets: list[int] | None,
        schema: T.StructType | None = None,
        file_map: dict[str, list[str]] | None = None,
        with_seq: bool = False,
        with_partial: bool = False,
        renames: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Read a snapshot's files (base by default, or any manifest dict
        such as ``snap.deltas``), optionally restricted to buckets and
        optionally under an evolved (wider) schema: pre-evolution files
        null-fill added columns and widen promoted ones natively.
        ``with_seq`` additionally surfaces the per-commit delta ordinal
        column stamped into merge-on-read delta files; ``with_partial``
        surfaces the overlay flag of partial-update delta rows (null-filled
        False for full-row delta files).

        Columns renamed by :meth:`rename_column` resolve through the
        snapshot's prior-name map (``properties["renames"]``, overridable
        via ``renames`` for cross-snapshot reads): the scan schema carries
        the current name AND every prior physical name (typed as the
        current - widened - type), and each renamed column projects as
        ``coalesce(current, *priors)``. Any one file physically contains
        at most ONE of the names (writes always use the name current at
        write time), so the coalesce is exact, never a value preference."""
        source = snap.files if file_map is None else file_map
        wanted = (
            source
            if buckets is None
            else {str(b): source.get(str(b), []) for b in buckets}
        )
        files = [str(self.root / f) for fl in wanted.values() for f in fl]
        phys = self._physical_schema(snap, schema)
        if with_seq:
            phys = T.StructType(
                list(phys.fields) + [T.StructField(DELTA_SEQ_COL, T.LongType(), True)]
            )
        if with_partial:
            phys = T.StructType(
                list(phys.fields) + [T.StructField(PARTIAL_COL, T.BooleanType(), True)]
            )
        if not files:
            return self._empty(phys)
        if renames is None:
            renames = snap.properties.get("renames", {})
        cur_names = {f.name for f in phys.fields}
        active = {
            f.name: renames[f.name]
            for f in phys.fields
            if f.name in renames
        }
        if not active:
            # Manifest-driven read: exact file list, no directory listing;
            # the explicit schema gives null-fill for pre-evolution files
            # and widened-type reads.
            return self.spark.read.schema(phys).parquet(*files)
        types = {f.name: f.dataType for f in phys.fields}
        prior_fields = [
            T.StructField(p, types[cur], True)
            for cur, priors in active.items()
            for p in priors
            if p not in cur_names
        ]
        scan_schema = T.StructType(list(phys.fields) + prior_fields)
        df = self.spark.read.schema(scan_schema).parquet(*files)
        return df.select(
            *[
                (
                    F.coalesce(F.col(f.name), *[F.col(p) for p in active[f.name]])
                    if f.name in active
                    else F.col(f.name)
                ).alias(f.name)
                for f in phys.fields
            ]
        )

    def _resolved(
        self,
        snap: Snapshot,
        buckets: list[int] | None,
        schema: T.StructType | None = None,
        file_map: dict[str, list[str]] | None = None,
        delta_map: dict[str, list[str]] | None = None,
        batch: DataFrame | None = None,
    ) -> DataFrame:
        """Base ∪ delta rows with read-time LWW resolution (merge-on-read):
        for every pk the winner by (_lsn, delta commit ordinal) survives,
        tombstones included. Equal to the base read for pure-COW tables.

        Ordering is deterministic across epochs: every delta write stamps
        its rows with the committing snapshot's version (DELTA_SEQ_COL),
        and the LWW ranks rows by :func:`_lww_ord` on transient columns;
        stored ``_lsn`` values (incl. nulls from append mode) pass through
        unchanged.

        ``batch`` (a COW partial merge's conformed events, stamped with
        DELTA_SEQ_COL and PARTIAL_COL) joins the deltas as the newest
        delta commit and resolves through :meth:`_resolve_partial`. It
        leads the union, so the plan runs in the batch's session: a
        ``foreachBatch`` frame lives in a cloned session, and its
        Observations report only there."""
        base = self._read_files(snap, buckets, schema, file_map=file_map)
        effective_deltas = snap.deltas if delta_map is None else delta_map
        has_deltas = any(
            fl
            for b, fl in effective_deltas.items()
            if buckets is None or int(b) in buckets
        )
        if not has_deltas and batch is None:
            return base
        partial_buckets = {
            int(b) for b in snap.properties.get("partial_delta_buckets", [])
        }
        has_partial = batch is not None or any(
            buckets is None or b in buckets for b in partial_buckets
        )
        deltas = self._read_files(
            snap, buckets, schema, file_map=effective_deltas, with_seq=True,
            with_partial=has_partial,
        )
        if batch is not None:
            deltas = batch.unionByName(deltas)
        if has_partial:
            return self._resolve_partial(snap, base, deltas, schema)
        union = base.withColumn("_pref", _lww_pref(False)).unionByName(
            deltas.withColumn("_pref", _lww_pref(True)).drop(DELTA_SEQ_COL)
        )
        # the rank as flat columns in _lww_ord's order: lww_dedupe ships its
        # payload and its order struct, so a nested rank would ride twice
        union = union.withColumn("_lsn_ord", _lww_ord(F.col("_pref"))["l"])
        resolved = lww_dedupe(
            union, snap.pk_fields, ["_lsn_ord", "_pref"], tiebreak_fields=[]
        )
        return resolved.drop("_pref", "_lsn_ord")

    def _resolve_partial(
        self,
        snap: Snapshot,
        base: DataFrame,
        deltas: DataFrame,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """The one dict-merge of ``update_mode='partial'`` (the reference
        oracle's ``user_state[pk].update(data)``,
        demo/test_pipeline.sh:244-262), used by every read of a bucket
        with PARTIAL overlay rows, by compaction and by the COW partial
        merge (whose batch arrives as the newest delta commit, see
        :meth:`_resolved`). Per key, the newest FULL row by
        :func:`_lww_ord` (base row, full delta row, INSERT, or tombstone)
        is the barrier; overlay rows (UPDATEs) ranked after it contribute
        their non-null columns, last writer per column, and raise the
        key's ``_lsn`` to theirs. Every event keeps its own lsn, so a
        stale redelivery ranks where it belongs, whichever commit brings
        it. A tombstone barrier takes no overlay column. Overlays with no
        barrier at all (an update that arrived before any insert - the
        reference's 'UPDATE on missing key' case,
        demo/test_pipeline.sh:256-258) stay invisible until a barrier
        lands underneath them.

        ``deltas`` leads the union (see :meth:`_resolved`)."""
        payload_cols = [
            f.name for f in (schema or snap.schema).fields
            if f.name not in snap.pk_fields
        ]
        pk = snap.pk_fields
        union = deltas.withColumns(
            {
                "_pref": _lww_pref(True),
                PARTIAL_COL: F.coalesce(F.col(PARTIAL_COL), F.lit(False)),
            }
        ).drop(DELTA_SEQ_COL).unionByName(
            base.withColumns(
                {"_pref": _lww_pref(False), PARTIAL_COL: F.lit(False)}
            )
        )
        union = union.withColumn("_ord", _lww_ord(F.col("_pref")))
        is_full = ~F.col(PARTIAL_COL)
        union = union.withColumn("_b_ord", _lww_barrier(pk))
        after_barrier = _lww_overlay(F.col("_b_ord"))
        agg = union.groupBy(*pk).agg(
            F.max_by(
                F.struct(
                    *[F.col(c).alias(c) for c in payload_cols],
                    F.col(LSN_COL).alias(LSN_COL),
                    F.col(DELETED_COL).alias(DELETED_COL),
                    F.col(BUCKET_COL).alias(BUCKET_COL),
                ),
                F.when(is_full, F.col("_ord")),
            ).alias("_b"),
            F.max(F.when(after_barrier, F.col(LSN_COL))).alias("_m_lsn"),
            *[
                F.max_by(
                    F.col(c),
                    F.when(after_barrier & F.col(c).isNotNull(), F.col("_ord")),
                ).alias(f"_u_{c}")
                for c in payload_cols
            ],
        )
        # overlay-only keys (no barrier): invisible
        agg = agg.filter(F.col("_b").isNotNull())
        b_deleted = F.coalesce(F.col(f"_b.{DELETED_COL}"), F.lit(False))
        return agg.select(
            *pk,
            *[
                F.when(b_deleted, F.col(f"_b.{c}"))
                .otherwise(F.coalesce(F.col(f"_u_{c}"), F.col(f"_b.{c}")))
                .alias(c)
                for c in payload_cols
            ],
            F.greatest(
                F.col(f"_b.{LSN_COL}"), F.col("_m_lsn")
            ).alias(LSN_COL),
            F.col(f"_b.{DELETED_COL}").alias(DELETED_COL),
            F.col(f"_b.{BUCKET_COL}").alias(BUCKET_COL),
        )

    def read(
        self,
        version: int | str | None = None,
        buckets: list[int] | None = None,
        include_system: bool = False,
        where: dict[str, tuple] | None = None,
        as_of=None,
    ) -> DataFrame:
        """Current (or time-travel) table state: live rows only (delta
        files LWW-resolved against the base for merge-on-read tables).

        Time travel: ``version`` (number or tag name), or ``as_of`` (unix
        seconds / datetime - resolved to the latest snapshot committed at
        or before it, Iceberg ``TIMESTAMP AS OF``); passing both is an
        error.

        ``where={col: (lo, hi)}`` (numeric/timestamp/string closed ranges;
        either bound may be None) applies file-level min/max DATA SKIPPING before
        the scan plus an exact residual filter after it - the Iceberg/Delta
        stats-pruning analog for time-range reads ("transcripts since ts").
        Skipping only drops whole files proven disjoint from the range, so
        results equal read().filter(...) exactly. When the candidate
        buckets carry unresolved MOR delta files the file pruning is
        SKIPPED (only the residual filter applies): dropping a base file
        by a payload predicate could change a key's read-time LWW winner -
        pruning must never see through unresolved overlays. After
        compact() the table is delta-free and skipping resumes."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_as_of(as_of)
        snap = self.snapshot(version)
        pruned_map = None
        if where:
            has_deltas = any(
                fl
                for b, fl in snap.deltas.items()
                if buckets is None or int(b) in buckets
            )
            if not has_deltas:
                pruned_map, _ = self.candidate_files(snap.version, buckets, where)
        if pruned_map is not None:
            df = self._read_files(snap, None, file_map=pruned_map)
        else:
            df = self._resolved(snap, buckets)
        if where:
            for c, (lo, hi) in where.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if include_system:
            return df
        return df.select(*[f.name for f in snap.schema.fields])

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> list[int]:
        """Buckets whose file or delta manifests differ between two
        snapshots - the only buckets that can contain row-level changes.
        O(buckets) driver-side: buckets that structurally share a manifest
        ref between the snapshots are skipped without touching their file
        lists, so an incremental consumer of a single-epoch diff pays for
        the epoch's touched buckets, never the table."""
        snap_a = self.snapshot(from_version)
        snap_b = self.snapshot(to_version)
        changed: list[int] = []
        for b in set(snap_a.files) | set(snap_b.files) | set(snap_a.deltas) | set(
            snap_b.deltas
        ):
            ref_a = snap_a.manifest_refs.get(b)
            if ref_a is not None and ref_a == snap_b.manifest_refs.get(b):
                continue  # structurally shared manifest: identical by construction
            if snap_a.files.get(b, []) == snap_b.files.get(b, []) and snap_a.deltas.get(
                b, []
            ) == snap_b.deltas.get(b, []):
                continue
            changed.append(int(b))
        return sorted(changed)

    # Commit operations a key-pruned diff may span: a merge changes only
    # its batch keys' images, a compaction none. Anything else - DML,
    # append, rollback, rebucket, renames, fork/publish - sends the diff
    # down the unpruned path.
    _KEYED_DIFF_OPS = frozenset(
        {"merge", "merge-mor", "merge-partial", "merge-mor-partial", "compact"}
    )

    def _recorded_keys(
        self, snap_a: Snapshot, snap_b: Snapshot
    ) -> list[tuple] | None | bool:
        """The distinct batch keys the merges in ``(a, b]`` recorded
        (:meth:`_commit_merge`): a superset of every key whose live image
        changed, since a merge writes only its batch keys' rows (a batch
        row that loses LWW changes nothing) and a compaction, purging or
        not, changes no live image. ``False`` when no commit in the range
        wrote a batch; ``None`` (diff unpruned) when b's parent chain
        does not reach a through retained snapshots, a commit is not in
        ``_KEYED_DIFF_OPS``, a merge with a batch recorded no keys (over the
        cap, a NULL key field, or written before keys were recorded), or
        the recorded counts pass ``PUSHDOWN_MAX_KEYS``. The summaries
        decide before any sidecar is opened."""
        sidecars = []
        total = 0
        v = snap_b.version
        while v != snap_a.version:
            path = self._snapshot_path(v)
            if v < snap_a.version or not path.is_file():
                return None
            d = json.loads(path.read_text())
            s = d.get("summary", {})
            if d.get("operation") not in self._KEYED_DIFF_OPS:
                return None
            if d["operation"] != "compact" and s.get("batch_events", 1):
                if "changed_keys" not in s:
                    return None
                total += s["changed_keys"]
                if total > self.PUSHDOWN_MAX_KEYS:
                    return None
                sidecars.append(s["changed_keys_file"])
            v = d.get("parent")
            if v is None:
                return None
        if not sidecars:
            return False
        import pyarrow.parquet as pq

        return list(dict.fromkeys(
            t
            for rel in sidecars
            for t in zip(*pq.read_table(self.root / rel).to_pydict().values())
        ))

    def _diff_images(
        self, from_version: int, snap_b: "Snapshot"
    ) -> tuple[DataFrame, Column, Column, Column] | None:
        """Shared core of the changelog readers (:meth:`read_changes` and
        :meth:`read_changes_envelope`): both snapshots' live images of
        every changed key, computed in ONE hash exchange on the pk.
        Returns ``(images, is_insert, is_delete, is_update)`` where
        ``images`` carries the pk columns plus ``_a_pay`` / ``_b_pay``
        pre-/post-image payload structs, or ``None`` when the range
        provably changed nothing. Classification predicates are returned
        (not applied) so each caller projects its own output shape.

        Plan: the base and delta files of :meth:`changed_buckets` are read
        ONCE, each tagged by which snapshot lists it (a-only, b-only or
        both). When the range's merges recorded their batch keys
        (:meth:`_recorded_keys`), every scan is filtered by them as parsed
        literals (:func:`key_literals`: a pk0 IN that prunes row groups
        and an exact tuple IN), so unchanged carried-over rows never reach
        the exchange and the diff runs as one job. Then one grouped pass
        per pk computes each side's read-time LWW image - max over
        :func:`_lww_ord`, with partial-update overlays folded after their
        barrier by the same helpers :meth:`_resolve_partial` uses - and the
        insert/update/delete classification follows from the two images."""
        snap_a = self.snapshot(from_version)
        if snap_a.version > snap_b.version:
            raise ValueError(
                f"from_version {snap_a.version} is newer than to_version "
                f"{snap_b.version}"
            )
        schema = snap_b.schema
        pk = list(snap_b.pk_fields)
        payload = [f.name for f in schema.fields if f.name not in pk]
        changed = (
            []
            if snap_a.version == snap_b.version
            else self.changed_buckets(snap_a.version, snap_b.version)
        )
        if not changed:
            return None
        keys = self._recorded_keys(snap_a, snap_b)
        if keys is False:
            return None
        filters, probe = (), None
        if keys is not None:
            _, filters, probe = key_literals(
                self.spark, [schema[c] for c in pk], keys
            )
        has_partial = any(
            int(b) in changed
            for s in (snap_a, snap_b)
            for b in s.properties.get("partial_delta_buckets", [])
        )
        # the `to` side's prior-name map covers renames that happened
        # anywhere in the range, so the `from` side's files read
        # correctly under the `to` schema's (renamed) column names
        renames = snap_b.properties.get("renames", {})

        # file classes, as the tag each row carries: listed by a only (1),
        # by b only (2), or by both snapshots (3)
        classes = {"a": 1, "b": 2, "ab": 3}

        def _scan(files: list[str], delta: bool, tag: int):
            df = self._read_files(
                snap_b, None, schema, file_map={"": files}, with_seq=delta,
                with_partial=delta and has_partial, renames=renames,
            )
            cols = {"_p": _lww_pref(delta), "_tag": F.lit(tag)}
            if has_partial:
                cols[PARTIAL_COL] = (
                    F.coalesce(F.col(PARTIAL_COL), F.lit(False))
                    if delta
                    else F.lit(False)
                )
            return df.withColumns(cols).drop(BUCKET_COL, DELTA_SEQ_COL)

        parts = []
        for delta, m_a, m_b in (
            (False, snap_a.files, snap_b.files),
            (True, snap_a.deltas, snap_b.deltas),
        ):
            fa = {f for b in changed for f in m_a.get(str(b), [])}
            fb = {f for b in changed for f in m_b.get(str(b), [])}
            for cls, files in (("a", fa - fb), ("b", fb - fa), ("ab", fa & fb)):
                if files:
                    parts.append(_scan(sorted(files), delta, classes[cls]))
        if not parts:
            return None
        rows = parts[0]
        for df in parts[1:]:
            rows = rows.unionByName(df)
        for cond in filters:  # pushed into every scan by the optimizer
            rows = rows.filter(cond)
        if probe is not None:
            rows = rows.join(probe, on=pk, how="left_semi")

        # The ONE exchange ships the rows themselves: a key's rows sit in
        # different files, so a map-side partial aggregate would combine
        # almost nothing and cost a second sort. Each side's LWW image is
        # the greater of its own class's and the shared class's winner;
        # max over struct(_ord, payload...) orders by _ord first.
        rows = rows.repartition(*pk).withColumn("_ord", _lww_ord(F.col("_p")))
        is_full = ~F.col(PARTIAL_COL) if has_partial else F.lit(True)
        in_side = {
            "a": F.col("_tag") != classes["b"], "b": F.col("_tag") != classes["a"]
        }
        image = F.struct(
            F.col("_ord"), *[F.col(c) for c in payload], F.col(DELETED_COL)
        )
        aggs = [
            F.max(F.when((F.col("_tag") == tag) & is_full, image)).alias(f"_m_{cls}")
            for cls, tag in classes.items()
        ]
        if has_partial:
            # each side's overlays after its barrier contribute their
            # non-null columns, as in _resolve_partial
            for s, cond in in_side.items():
                rows = rows.withColumn(f"_{s}_bar", _lww_barrier(pk, cond))
            aggs += [
                F.max_by(
                    F.col(c),
                    F.when(
                        cond & _lww_overlay(F.col(f"_{s}_bar"))
                        & F.col(c).isNotNull(),
                        F.col("_ord"),
                    ),
                ).alias(f"_{s}_u_{c}")
                for s, cond in in_side.items()
                for c in payload
            ]
        images = rows.groupBy(*pk).agg(*aggs)

        def _side(s: str) -> list[Column]:
            img = F.greatest(F.col(f"_m_{s}"), F.col("_m_ab"))
            pay = (
                F.struct(
                    *[
                        F.coalesce(F.col(f"_{s}_u_{c}"), img[c]).alias(c)
                        for c in payload
                    ]
                )
                if has_partial
                else img.dropFields("_ord", DELETED_COL)
            )
            live = img.isNotNull() & ~F.coalesce(img[DELETED_COL], F.lit(False))
            return [
                pay.alias(f"_{s}_pay"),
                F.when(live, F.lit(True)).alias(f"_{s}_present"),
            ]

        j = images.select(*pk, *_side("a"), *_side("b")).filter(
            F.col("_a_present") | F.col("_b_present")
        )
        is_insert = F.col("_a_present").isNull()
        is_delete = F.col("_b_present").isNull()
        # null-safe struct equality: one comparison covers every payload col
        is_update = (
            ~is_insert & ~is_delete & ~F.col("_a_pay").eqNullSafe(F.col("_b_pay"))
        )
        return j, is_insert, is_delete, is_update

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental changelog between two snapshots (Iceberg
        changelog-scan / Hudi incremental-query / Delta CDF analog): the
        NET row-level diff of the live table states, one row per changed
        key, so a downstream consumer can chain CDC pipelines off the lake
        instead of re-reading full snapshots.

        Returns ``change_type`` + the ``to`` snapshot's columns:
          * ``insert`` - key live in ``to`` only (post-image);
          * ``update`` - key live in both with differing payload
            (post-image); with ``include_preimages=True`` each update
            instead emits ``update_preimage`` (old row) +
            ``update_postimage`` (new row), the Delta CDF convention;
          * ``delete`` - key live in ``from`` only (pre-image).

        Scale shape: priced by the range's change volume. The changed
        buckets' files (:meth:`changed_buckets`, exact manifest lists) are
        read once. Every merge records its batch keys in its commit, so
        when each commit in the range is a merge or a compaction and the
        merges' keys number at most ``PUSHDOWN_MAX_KEYS``
        (:meth:`_recorded_keys`), those keys filter every scan as parsed
        literals and only their rows cross the ONE pk exchange that
        builds both images - one Spark job, and a single-epoch diff on a
        100 TB table ships the epoch's keys, not its touched buckets. It
        falls back to exchanging every row of the changed buckets when
        the range holds any other commit (DML, append, rollback,
        rebucket, rename, publish), a merge over the cap or one that
        recorded no keys (a NULL key field, or committed before keys were
        recorded), or an expired snapshot. Schema evolution across the
        range is handled by reading the ``from`` side under the ``to``
        snapshot's (wider) schema, the same
        null-fill/widen path time travel uses; a row that differs only in
        a column added after ``from`` diffs as an update whose pre-image
        value for that column is null, matching what a reader of ``from``
        would have observed.

        The diff is NET: a key inserted and deleted strictly between the
        two snapshots appears in neither state and emits nothing -
        changelog semantics over snapshots, not a binlog replay."""
        snap_b = self.snapshot(to_version)
        pk = list(snap_b.pk_fields)
        payload = [f.name for f in snap_b.schema.fields if f.name not in pk]
        joined = self._diff_images(from_version, snap_b)
        if joined is None:
            chg = T.StructField("change_type", T.StringType(), False)
            return self._empty(T.StructType([chg, *snap_b.schema.fields]))
        j, is_insert, is_delete, is_update = joined

        def _tagged(tag: str, side: str):
            return F.struct(
                F.lit(tag).alias("change_type"),
                *[F.col(f"{side}.{c}").alias(c) for c in payload],
            )

        upd_rows = (
            F.array(
                _tagged("update_preimage", "_a_pay"),
                _tagged("update_postimage", "_b_pay"),
            )
            if include_preimages
            else F.array(_tagged("update", "_b_pay"))
        )
        rows = (
            F.when(is_insert, F.array(_tagged("insert", "_b_pay")))
            .when(is_delete, F.array(_tagged("delete", "_a_pay")))
            .when(is_update, upd_rows)
        )
        exploded = j.select(*pk, F.explode(rows).alias("_chg"))
        return exploded.select(
            F.col("_chg.change_type").alias("change_type"),
            *pk,
            *[F.col(f"_chg.{c}").alias(c) for c in payload],
        )

    def read_changes_envelope(
        self,
        from_version: int,
        to_version: int | None = None,
        db: str = "lake",
        table_name: str | None = None,
        ts_col: str = "ts",
    ) -> DataFrame:
        """OUTBOUND CDC feed: the snapshot-range changelog as Kafka-record-
        shaped Debezium change events, so downstream consumers subscribe to
        this table exactly like they would to a Debezium connector (the
        emit-side complement of :func:`sources.cdc_formats.parse_debezium`;
        public Debezium envelope, before/after/source/op/ts_ms).

        Returns two string columns - ``key`` (JSON of the pk fields, the
        Kafka record key, so a keyed topic partitioner preserves per-key
        ordering) and ``value`` (the envelope JSON):

          * insert -> op ``c``: ``before`` null, ``after`` = post-image;
          * update -> op ``u``: ``before`` = pre-image, ``after`` =
            post-image (one event per key - the NET diff, not the
            intermediate history);
          * delete -> op ``d``: ``before`` = pre-image, ``after`` null
            (Debezium's delete convention: the only row image is before).

        ``source.lsn`` is the ``to`` snapshot version - the feed's monotone
        replay ordinal, exactly what a consumer needs for LWW ordering
        across successive emits (version numbers are totally ordered and
        publish-gated). ``ts_ms`` is the post-image's ``ts_col`` in epoch
        millis (pre-image for deletes), null when the table has no such
        column - deterministic event time, never emit wall-clock.

        Same scale shape as :meth:`read_changes`: ONE key-pruned pk
        exchange over the changed buckets, then a pure projection - the JSON
        rendering is ``to_json`` (JVM codegen, ``ignoreNullFields=false``
        so the envelope carries explicit ``"before": null`` like Debezium
        does, and the key keeps a NULL pk field). Round-trip contract
        (tested): ``parse_debezium`` over this output recovers
        op/keys/payload exactly, so a second LakeTable can chain off the
        feed with the standard adapter."""
        snap_b = self.snapshot(to_version)
        pk = list(snap_b.pk_fields)
        payload = [f.name for f in snap_b.schema.fields if f.name not in pk]
        joined = self._diff_images(from_version, snap_b)
        if joined is None:
            return self._empty(T.StructType(
                [T.StructField(c, T.StringType(), False) for c in ("key", "value")]
            ))
        j, is_insert, is_delete, is_update = joined

        def _image(side: str) -> Column:
            return F.struct(
                *[F.col(c).alias(c) for c in pk],
                *[F.col(f"{side}.{c}").alias(c) for c in payload],
            )

        before = F.when(is_delete | is_update, _image("_a_pay"))
        after = F.when(~is_delete, _image("_b_pay"))
        op = (
            F.when(is_insert, F.lit("c"))
            .when(is_delete, F.lit("d"))
            .when(is_update, F.lit("u"))
        )
        if ts_col in payload:
            ts_ms = F.unix_millis(
                F.when(is_delete, F.col(f"_a_pay.{ts_col}")).otherwise(
                    F.col(f"_b_pay.{ts_col}")
                ).cast("timestamp")
            )
        else:
            ts_ms = F.lit(None).cast("long")
        source = F.struct(
            F.lit(db).alias("db"),
            F.lit(table_name or self.root.name).alias("table"),
            F.lit(int(snap_b.version)).cast("long").alias("lsn"),
        )
        envelope = F.struct(
            before.alias("before"),
            after.alias("after"),
            source.alias("source"),
            op.alias("op"),
            ts_ms.alias("ts_ms"),
        )
        return j.filter(is_insert | is_delete | is_update).select(
            F.to_json(
                F.struct(*[F.col(c).alias(c) for c in pk]),
                {"ignoreNullFields": "false"},
            ).alias("key"),
            F.to_json(envelope, {"ignoreNullFields": "false"}).alias("value"),
        )

    def read_keys(
        self,
        keys,
        version: int | None = None,
        use_bloom: bool = True,
    ) -> DataFrame:
        """Point lookups: the live rows for an explicit key set - the
        serving-side read of a CDC-fed table ("fetch these turns"). k keys
        touch at most min(k, num_buckets) buckets, whatever the table size.

        ``keys`` is a DataFrame carrying the pk columns (extra columns are
        ignored) or a list of tuples/values in pk order. This is
        :meth:`read_prefix` at full pk width plus the file-level bloom
        consult (``use_bloom``); :meth:`_keyed_read` has the plan: one job
        for a key list, none when the bloom index excludes every key."""
        snap = self.snapshot(version)
        keys, cols = self._key_prefix(snap, keys)
        if len(cols) < len(snap.pk_fields):
            have = keys.columns if isinstance(keys, DataFrame) else cols
            missing = [c for c in snap.pk_fields if c not in have]
            raise ValueError(f"keys relation lacks pk columns {missing}")
        return self._keyed_read(snap, keys, cols, use_bloom)

    def read_prefix(self, keys, version: int | None = None) -> DataFrame:
        """Live rows whose LEADING pk fields match any key in the set -
        "fetch these whole conversations" for a (conv_id, turn_idx) table,
        which :meth:`read_keys` (every pk field) cannot express. The bucket
        transform hashes ONLY the first pk field, so k prefixes touch at
        most min(k, num_buckets) buckets, like full keys.

        ``keys`` is a DataFrame carrying the first k pk columns (k = the
        longest leading run of pk fields present; other columns are
        ignored) or a list of scalars/tuples in pk order; a list is read
        in one job (:meth:`_keyed_read`). The pk bloom index is NOT
        consulted: its bitmaps hash full pk tuples, so a prefix proves
        nothing."""
        snap = self.snapshot(version)
        keys, cols = self._key_prefix(snap, keys)
        if not cols:
            raise ValueError(
                f"keys relation lacks the leading pk column {snap.pk_fields[0]!r}"
            )
        return self._keyed_read(snap, keys, cols, False)

    def _key_prefix(self, snap: Snapshot, keys) -> tuple:
        """``keys`` as a DataFrame or a list of tuples, plus the leading pk
        fields it carries (a list's scalars become 1-tuples)."""
        pk = list(snap.pk_fields)
        if isinstance(keys, DataFrame):
            k = next((i for i, c in enumerate(pk) if c not in keys.columns), len(pk))
            return keys, pk[:k]
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        widths = {len(r) for r in rows}
        if len(widths) > 1:
            raise ValueError(f"mixed prefix widths {sorted(widths)}")
        k = widths.pop() if widths else len(pk)
        if not 1 <= k <= len(pk):
            raise ValueError(f"prefix width {k} outside 1..{len(pk)} (pk {pk})")
        return rows, pk[:k]

    def _keyed_read(
        self, snap: Snapshot, keys, cols: list[str], use_bloom: bool
    ) -> DataFrame:
        """The core of :meth:`read_keys` and :meth:`read_prefix`: live rows
        whose leading pk fields ``cols`` match a key of ``keys`` (NULL keys
        match nothing). Up to ``PUSHDOWN_MAX_KEYS`` distinct keys - a list
        as given, a DataFrame's with their buckets in ONE capped collect
        job - become :func:`key_literals`: a list's bucket pick (no job),
        the bloom consult, the IN(<first pk>) scan filter (row-group pruning) and, at width
        > 1, the exact tuple IN, with no further job and no join (a pk
        field neither string nor integral: a broadcast semi-join of the
        tuples instead). Past the cap, one job counts keys per bucket, a
        capped pk0 sample feeds the IN filter, and the lazy key relation
        is the probe, broadcast within BROADCAST_KEYS_MAX."""
        fields = [snap.schema[c] for c in cols]
        bucket = bucket_expr(cols[0], snap.num_buckets, key_type=fields[0].dataType)
        cap = self.PUSHDOWN_MAX_KEYS

        def capped(df: DataFrame) -> list | None:
            # coalesce(1) makes it one job: a bare limit plans as
            # CollectLimit, whose incremental take runs two
            rows = df.limit(cap + 1).coalesce(1).collect()
            return None if len(rows) > cap else [tuple(r) for r in rows]

        buckets = None
        if isinstance(keys, DataFrame):  # the collect job brings the buckets
            keyed = keys.select(
                *[F.col(c).cast(f.dataType).alias(c) for c, f in zip(cols, fields)]
            ).dropna(subset=cols).distinct()
            rows = capped(keyed.select(*cols, bucket))
            tuples = None if rows is None else [r[:-1] for r in rows]
            buckets = None if rows is None else sorted({r[-1] for r in rows})
        else:
            tuples = list(dict.fromkeys(t for t in keys if None not in t))
            if len(tuples) > cap:
                keyed = self.spark.createDataFrame(tuples, T.StructType(fields))
                tuples = None
        filters, probe = (), None
        if tuples is None:  # per-bucket key counts: <= num_buckets rows
            per_bucket = keyed.groupBy(bucket).count().collect()
            buckets = sorted(int(r[0]) for r in per_bucket)
            pk0 = capped(keyed.select(cols[0]).distinct())
            if pk0:
                filters = key_literals(self.spark, fields[:1], pk0)[1]
            probe = keyed.select(*cols)
            if sum(r[1] for r in per_bucket) <= self.BROADCAST_KEYS_MAX:
                probe = F.broadcast(probe)
        elif tuples:
            relation, filters, probe = key_literals(self.spark, fields, tuples)
            if buckets is None:  # a key list
                buckets = sorted({r[0] for r in relation.select(bucket).collect()})
        if not buckets:
            return self._empty(snap.schema)
        file_map = delta_map = None
        if use_bloom and tuples:
            # file-level bloom skipping (lake/bloom.py): drop candidate
            # files that provably hold none of the keys; unindexed stay
            pruned = self._bloom_prune(snap, buckets, tuples)
            if pruned is not None:
                file_map, delta_map, _ = pruned
                if not any(file_map.values()) and not any(delta_map.values()):
                    return self._empty(snap.schema)
        df = self._resolved(
            snap, buckets, file_map=file_map, delta_map=delta_map
        ).filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        for cond in filters:
            df = df.filter(cond)
        if probe is not None:
            df = df.join(probe, on=cols, how="left_semi")
        return df.select(*[f.name for f in snap.schema.fields])

    def _empty(self, schema: T.StructType) -> DataFrame:
        """An empty frame that collects with no job: a bare empty
        ``createDataFrame`` is an RDD of empty partitions, and collecting
        it runs a job; ``limit(0)`` plans as an empty LocalRelation."""
        return self.spark.createDataFrame([], schema).limit(0)

    # ------------------------------------------------------------------
    # file-level bloom index (Hudi bloom-index / metadata-table analog)
    # ------------------------------------------------------------------
    BLOOM_SPEC_HASH = "pandas-siphash-v1"

    def update_ndv_sketch(
        self,
        cols: list[str],
        lg_k: int | None = None,
        rebuild: bool = False,
    ) -> dict:
        """Incrementally maintain per-bucket HLL NDV sketches under
        ``_meta/ndv/`` (lake/ndv.py - the Iceberg puffin-blob / Delta
        computeStats analog): ONE ``hll_sketch_agg`` job over only the
        buckets whose file sets changed since the last call, grouped by
        bucket, over LIVE rows (MOR resolved, tombstones out). Unchanged
        buckets keep their sketch untouched - maintenance cost scales
        with churn, never table size. Idempotent: a second call on the
        same snapshot returns ``applied: False`` and runs no job.

        One index, one precision: a call whose ``lg_k`` disagrees with
        the recorded spec fails fast unless ``rebuild=True``. Adding NEW
        columns to an existing index recomputes every bucket for those
        columns (their sketches don't exist yet) but leaves existing
        columns' fresh buckets alone."""
        from dataingestion_spark.lake import ndv as N

        snap = self.snapshot()
        by_name = {f.name: f.dataType for f in snap.schema.fields}
        unknown = [c for c in cols if c not in by_name]
        if unknown:
            raise ValueError(f"ndv columns not in schema: {unknown}")
        bad = [c for c in cols if not N.sketchable(by_name[c])]
        if bad:
            raise ValueError(
                f"ndv needs numeric/string/binary/timestamp/date columns; "
                f"unsupported: {bad}"
            )
        store = N.NdvStore(self.root)
        lg_k = int(lg_k or N.DEFAULT_LG_K)
        spec = store.spec()
        if spec is not None and not rebuild and spec["lg_k"] != lg_k:
            raise ValueError(
                f"ndv index already built with lg_k={spec['lg_k']}; one "
                "index, one precision - pass rebuild=True to re-create"
            )
        if spec is None or rebuild:
            if rebuild:
                for b in store.buckets():
                    store.drop_bucket(b)
            spec = {"lg_k": lg_k, "cols": []}
        all_cols = sorted(set(spec["cols"]) | set(cols))
        live_buckets = sorted(set(snap.files) | set(snap.deltas), key=int)
        stale: list[int] = []
        prints: dict[int, str] = {}
        for b in live_buckets:
            fp = N.fingerprint(
                list(snap.files.get(b, [])) + list(snap.deltas.get(b, []))
            )
            prints[int(b)] = fp
            entry = store.load_bucket(b)
            if entry.get("fingerprint") != fp or any(
                c not in entry.get("sketches", {}) for c in all_cols
            ):
                stale.append(int(b))
        for b in store.buckets():  # buckets no longer live (rebucket)
            if str(b) not in set(snap.files) | set(snap.deltas):
                store.drop_bucket(b)
        if not stale:
            if sorted(spec["cols"]) != all_cols:
                store.write_spec({"lg_k": lg_k, "cols": all_cols})
            return {"applied": False, "buckets_refreshed": 0}
        df = self._resolved(snap, stale).filter(
            ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        )
        aggs = [
            F.hll_sketch_agg(N.sketch_input(c, by_name[c]), F.lit(lg_k))
            .alias(c)
            for c in all_cols
        ]
        rows = {
            int(r["_b"]): r
            for r in df.groupBy(F.col(BUCKET_COL).alias("_b")).agg(*aggs).collect()
        }
        for b in stale:
            r = rows.get(b)
            store.write_bucket(
                b,
                {
                    "fingerprint": prints[b],
                    "sketches": {
                        c: (N.NdvStore.encode(r[c]) if r and r[c] else None)
                        for c in all_cols
                    },
                },
            )
        store.write_spec({"lg_k": lg_k, "cols": all_cols})
        return {"applied": True, "buckets_refreshed": len(stale)}

    def approx_ndv(self, col: str, refresh: bool = True) -> int:
        """Approximate COUNT(DISTINCT col) over live rows from the
        per-bucket HLL sketches: refresh stale buckets (one job over only
        the churned buckets; ``refresh=False`` serves the possibly-stale
        stored estimate for zero jobs), then union the bucket sketches -
        an O(buckets)-row job over ~1 KiB binaries, never a data scan.
        HLL union is lossless, so sharding costs no accuracy
        (~2.5% relative std error at the default lg_k=12)."""
        from dataingestion_spark.lake import ndv as N

        store = N.NdvStore(self.root)
        spec = store.spec()
        if refresh or spec is None or col not in (spec or {}).get("cols", []):
            self.update_ndv_sketch(
                [col], lg_k=(spec or {}).get("lg_k")
            )
        sketches = [
            N.NdvStore.decode(s)
            for b in store.buckets()
            if (s := store.load_bucket(b).get("sketches", {}).get(col))
        ]
        if not sketches:
            return 0
        df = self.spark.createDataFrame(
            [(s,) for s in sketches],
            T.StructType([T.StructField("sk", T.BinaryType())]),
        )
        return int(
            df.agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ndv")
            ).collect()[0]["ndv"]
        )

    def update_bloom_index(
        self,
        bits_per_key: int = 10,
        k: int = 7,
        rebuild: bool = False,
    ) -> dict:
        """Incrementally maintain the file-level pk bloom index under
        ``_meta/bloom/`` (see lake/bloom.py): one bitmap per live data
        file, base AND merge-on-read delta, kept by
        :meth:`_update_file_bloom`. Idempotent: a second call on the same
        snapshot returns ``applied: False`` and writes nothing.

        Like the LSH band index (lake/sync.py sync_band_index), ONE index
        has ONE hash-family/sizing spec: a call whose (bits_per_key, k)
        disagrees with the recorded spec fails fast unless
        ``rebuild=True``, which wipes and rebuilds under the new spec.

        The spark-local build reads each new file's pk columns with
        pyarrow on the driver - the same stand-in posture as the stats
        sidecar footer pass (:meth:`_write_stats_sidecar`); a cluster
        port builds bitmaps executor-side in the writer, as Hudi does.
        Cost is O(new-file rows) per call, never O(table)."""
        from dataingestion_spark.lake import bloom as B

        snap = self.snapshot()
        pk = list(snap.pk_fields)
        if not B.indexable_pk(snap.schema, pk):
            raise ValueError(
                f"bloom index needs string/integer pk columns; table pk "
                f"{pk} has non-indexable types"
            )
        return self._update_file_bloom(
            snap, B.BloomIndexStore(self.root), pk, {"pk_fields": pk},
            "bloom index", bits_per_key, k, rebuild,
        )

    def _update_file_bloom(
        self, snap: Snapshot, store: ShardStore, cols: list[str], shape: dict,
        label: str, bits_per_key: int, k: int, rebuild: bool,
    ) -> dict:
        """The upkeep loop of every file-bloom index over ``cols`` (the pk
        bloom and each secondary bloom): enforce the one spec (hash
        family, sizing and ``shape``, which names what is indexed),
        then per bucket keep the entries of live files, build bitmaps
        for live files without one, drop entries of dead files, and
        rewrite only the buckets where that changed anything."""
        from dataingestion_spark.lake import bloom as B

        want = {
            "hash": self.BLOOM_SPEC_HASH,
            "bits_per_key": int(bits_per_key),
            "k": int(k),
            **shape,
        }
        spec = store.spec()
        if spec is not None and not rebuild:
            have = {key: spec.get(key) for key in want}
            if have != want:
                raise ValueError(
                    f"{label} already built with spec {have}; one index, "
                    "one hash family - pass rebuild=True to re-create"
                )
        if spec is None or rebuild:
            if rebuild:
                for b in store.buckets():
                    store.drop_bucket(b)
            store.write_spec(want)
        renames = snap.properties.get("renames", {})
        indexed = dropped = covered = 0
        for b in sorted(set(snap.files) | set(snap.deltas), key=int):
            entries = store.load_bucket(b)
            fresh: dict[str, dict] = {}
            for rel in [*snap.files.get(b, []), *snap.deltas.get(b, [])]:
                if rel in entries:
                    fresh[rel] = entries[rel]
                    continue
                frame = self._read_pk_frame(rel, cols, renames)
                if frame is None:
                    continue  # legacy file without the columns: stays unindexed
                fresh[rel] = B.build_bitmap(frame, bits_per_key, k)
                indexed += 1
            dropped += sum(1 for r in entries if r not in fresh)
            covered += len(fresh)
            if fresh != entries:
                store.write_bucket(b, fresh)
        return {
            "applied": bool(indexed or dropped),
            "version": snap.version,
            "indexed": indexed,
            "dropped": dropped,
            "covered_files": covered,
        }

    # ------------------------------------------------------------------
    # secondary-column bloom index (Hudi 1.0 secondary-index analog)
    # ------------------------------------------------------------------
    @staticmethod
    def _secondary_store_name(col: str) -> str:
        return f"bloom-col-{col}"

    def secondary_index_cols(self) -> list[str]:
        """Columns carrying a secondary bloom index (spec present)."""
        return [
            name.split(":", 1)[1]
            for name, kind, *_ in self._indexes()
            if kind == "column-bloom"
        ]

    def _indexes(self) -> list[tuple]:
        """Every index present on the table (spec written), in report
        order: ``(name, kind, store, spec, refresh)`` for the pk bloom,
        the NDV sketches and each secondary bloom by column. ``refresh``
        re-runs the index's upkeep under ``spec`` and returns its report,
        or None when there is nothing to refresh (an NDV spec tracking
        no column). The one list :meth:`optimize`, ``meta('indexes')``
        and :meth:`verify_integrity` walk."""
        from dataingestion_spark.lake import bloom as B
        from dataingestion_spark.lake import ndv as N
        found = [
            ("bloom", "pk-bloom", B.BloomIndexStore(self.root),
             lambda s: self.update_bloom_index(
                 bits_per_key=s["bits_per_key"], k=s["k"])),
            ("ndv", "hll-ndv", N.NdvStore(self.root),
             lambda s: self.update_ndv_sketch(
                 list(s["cols"]), lg_k=s["lg_k"]) if s.get("cols") else None),
        ]
        prefix = self._secondary_store_name("")
        for p in sorted((self.root / "_meta").glob(prefix + "*")):
            col = p.name[len(prefix):]
            found.append((
                f"secondary:{col}", "column-bloom", ShardStore(self.root, p.name),
                lambda s, c=col: self.update_secondary_index(
                    c, bits_per_key=s["bits_per_key"], k=s["k"]),
            ))
        return [
            (name, kind, store, spec, refresh)
            for name, kind, store, refresh in found
            if (spec := store.spec()) is not None
        ]

    def update_secondary_index(
        self,
        col: str,
        bits_per_key: int = 10,
        k: int = 7,
        rebuild: bool = False,
    ) -> dict:
        """Incrementally maintain a SECONDARY bloom index over ``col``
        (the Hudi 1.0 secondary-index shape: value -> which part of the
        table can hold it, for columns the bucketing does NOT hash).
        Same upkeep loop (:meth:`_update_file_bloom`), store layout,
        freshness discipline and one-index-one-spec contract as the pk
        bloom index (:meth:`update_bloom_index`); one bitmap per live
        file under ``_meta/bloom-col-<col>/``. Consumed by
        :meth:`read_in`, which prunes at BUCKET granularity - the
        exact-under-MOR rule (see there)."""
        from dataingestion_spark.lake import bloom as B
        snap = self.snapshot()
        if not B.indexable_pk(snap.schema, [col]):
            raise ValueError(
                f"secondary index needs a string/integer column; "
                f"{col!r} is not indexable (or not in the schema)"
            )
        return self._update_file_bloom(
            snap, ShardStore(self.root, self._secondary_store_name(col)),
            [col], {"col": col}, "secondary index", bits_per_key, k, rebuild,
        )

    def _secondary_prune(
        self, snap: Snapshot, col: str, values: list
    ) -> tuple[list[int], dict[str, list[str]]] | None:
        """(buckets, base-file map) that can hold a live row with
        ``col`` in ``values``, per the secondary bloom bitmaps; None
        when no index exists (keep everything).

        Granularity is two-level. BUCKET granularity is what keeps this
        EXACT under merge-on-read: a winning (LWW-resolved) row carries
        value V only if SOME physical row in SOME file of its bucket
        carries V, so a bucket every one of whose files provably lacks
        all requested values cannot contribute a result row - while
        dropping individual files inside a DELTA-CARRYING bucket could
        drop the newer overlay that supersedes a stale match. Inside an
        OVERLAY-FREE bucket (no delta files) no read-time resolution
        happens among base rows, so each base file stands alone and a
        file whose bloom provably lacks every requested value is pruned
        INDIVIDUALLY - post-compaction point lookups touch only the
        files that may match, not the whole bucket. Each file's answer
        is :meth:`_bloom_prune`'s bloom test."""
        buckets = sorted(set(snap.files) | set(snap.deltas), key=int)
        pruned = self._bloom_prune(
            snap, buckets, [(v,) for v in values],
            ShardStore(self.root, self._secondary_store_name(col)),
        )
        if pruned is None:
            return None
        fmap, dmap, _ = pruned
        kept: dict[str, list[str]] = {}
        for b in buckets:
            if snap.deltas.get(b):
                # MOR soundness rule: all-or-nothing per bucket
                if fmap[b] or dmap[b]:
                    kept[b] = list(snap.files.get(b, []))
            elif fmap[b]:
                kept[b] = fmap[b]
        return [int(b) for b in kept], kept

    def read_in(
        self,
        col: str,
        values: list,
        version: int | None = None,
        use_index: bool = True,
    ) -> DataFrame:
        """Live rows where ``col IN values`` for a NON-pk column - the
        lookup the bucketing can't price (it hashes the pk). With a
        secondary index (:meth:`update_secondary_index`) the scan is
        pruned to the buckets whose bitmaps may hold a value - for a
        rare value on a big table that is a handful of buckets, not a
        table scan; without one (or for unindexed new files) every
        bucket is kept and the pushed ``IN`` filter carries alone.
        Always exact: the residual filter applies after the normal
        MOR/LWW resolution, and pruning is bucket-granular (see
        :meth:`_secondary_prune` for why that is the sound unit)."""
        snap = self.snapshot(version)
        if col not in {f.name for f in snap.schema.fields}:
            raise ValueError(f"no such column: {col!r}")
        values = [v for v in values if v is not None]
        if not values:
            return self._empty(snap.schema)
        buckets, file_map = None, None
        if use_index:
            pruned = self._secondary_prune(snap, col, values)
            if pruned is not None:
                buckets, file_map = pruned
        if buckets is None:
            buckets = sorted(
                {int(b) for b in snap.files} | {int(b) for b in snap.deltas}
            )
        if not buckets:
            return self._empty(snap.schema)
        df = self._resolved(snap, buckets, file_map=file_map).filter(
            ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        )
        field, match = snap.schema[col], None
        if field.dataType in _LITERALS:  # one parsed IN, not a py4j call per value
            try:
                match = key_literals(self.spark, [field], [(v,) for v in values])[1][0]
            except (TypeError, ValueError):
                pass  # values of another type: isin casts them, as it always did
        if match is None:
            match = F.col(col).isin(values)
        return df.filter(match).select(*[f.name for f in snap.schema.fields])

    def _read_pk_frame(self, rel: str, pk: list[str], renames: dict):
        """pk columns of one data file as a pandas frame in pk order,
        resolving renamed columns through the prior-name map; None when a
        pk column is physically absent under any known name."""
        import pyarrow.parquet as pq

        f = pq.ParquetFile(str(self.root / rel))
        names = set(f.schema_arrow.names)
        cols: list[str] = []
        for c in pk:
            for cand in [c, *renames.get(c, [])]:
                if cand in names:
                    cols.append(cand)
                    break
            else:
                return None
        frame = f.read(columns=cols).to_pandas()
        frame = frame[cols]
        frame.columns = pk
        return frame

    def _bloom_prune(
        self, snap, buckets: list, key_tuples: list[tuple],
        store: ShardStore | None = None,
    ) -> tuple[dict, dict, int] | None:
        """Bloom-test the candidate buckets' files against the requested
        keys: returns (file_map, delta_map, skipped) restricted to
        ``buckets``, or None when no index exists. ``store`` is the bloom
        index to consult: the pk bloom by default, a secondary bloom for
        :meth:`_secondary_prune` (keys are then 1-tuples of values).
        Files WITHOUT an index entry are always kept, so correctness
        never depends on index
        freshness; files with an entry are dropped only when the bitmap
        PROVES none of the keys is present (no false negatives). Sound
        under merge-on-read: key-pruning keeps every file that may hold a
        requested key, so per-key LWW resolution is unchanged."""
        from dataingestion_spark.lake import bloom as B

        store = store or B.BloomIndexStore(self.root)
        if store.spec() is None or not key_tuples:
            return None
        h1, h2 = B.key_hashes(key_tuples)
        fmap: dict[str, list[str]] = {}
        dmap: dict[str, list[str]] = {}
        skipped = 0
        for b in buckets:
            entries = store.load_bucket(b)
            for source, out in ((snap.files, fmap), (snap.deltas, dmap)):
                kept = []
                for rel in source.get(str(b), []):
                    e = entries.get(rel)
                    if e is None or B.any_key_maybe_present(e, h1, h2):
                        kept.append(rel)
                    else:
                        skipped += 1
                out[str(b)] = kept
        return fmap, dmap, skipped

    # ------------------------------------------------------------------
    # exactly-once epoch markers
    # ------------------------------------------------------------------
    def last_applied_epoch(self, pipeline_id: str) -> int:
        pipelines = self.snapshot().properties.get("pipelines", {})
        return int(pipelines.get(pipeline_id, {}).get("last_epoch", -1))

    # ------------------------------------------------------------------
    # schema ledger (E5 state machine)
    # ------------------------------------------------------------------
    @property
    def _ledger_path(self) -> Path:
        return self.root / "_meta" / "schema_ledger.json"

    def schema_ledger(self) -> list[dict]:
        if not self._ledger_path.exists():
            return []
        return json.loads(self._ledger_path.read_text())

    def _ledger_append(self, entry: dict) -> None:
        ledger = self.schema_ledger()
        entry = {"recorded_at": time.time(), **entry}
        ledger.append(entry)
        self._ledger_path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self._ledger_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(ledger, indent=1))
        os.replace(tmp, self._ledger_path)

    def _refuse_schema(
        self, snap: Snapshot, schema: T.StructType, change_type: ChangeType,
        detail: str, message: str, fail: bool = True,
    ) -> tuple[T.StructType, int, None]:
        """Record a refused ``schema`` as BLOCKED in the ledger, at the
        table's schema version; raise ``SchemaEvolutionError(message)``
        when ``fail``, else keep the table's schema (the gate's result)."""
        self._ledger_append(
            {
                "schema_version": snap.schema_version,
                "status": SchemaStatus.BLOCKED.value,
                "change_type": change_type.value,
                "detail": detail,
                "schema_json": json.loads(schema.json()),
            }
        )
        if fail:
            raise SchemaEvolutionError(message)
        return snap.schema, snap.schema_version, None

    def _resolve_schema(
        self, snap: Snapshot, batch_schema: T.StructType,
        fail_on_breaking: bool, evolution_policy: str = "full",
    ) -> tuple[T.StructType, int, str | None]:
        """The schema gate run before every merge/append: classify the
        incoming batch schema against the table schema and either continue,
        evolve, or fail fast (reference control flow
        /root/reference/spark/src/main/scala/com/example/Phase2Job.scala:85-97).

        ``evolution_policy`` constrains which NON-BREAKING changes may
        auto-apply (the controlled-evolution knob the reference's
        versioned metastore implies - a PENDING proposal gate per dataset,
        artifacts/lld/LLD.md:89-110 - expressed as a per-apply policy):

          * ``"full"``     additions AND type widenings evolve (default,
                           the reference's inferred-schema behavior)
          * ``"additive"`` new nullable columns evolve; widenings are
                           BLOCKED (frozen types: downstream readers keep
                           their column types forever)
          * ``"frozen"``   any schema change is BLOCKED (serving tables
                           with a pinned contract)

        A policy-blocked change lands in the schema ledger as BLOCKED
        exactly like a breaking one, and obeys ``fail_on_breaking`` the
        same way (raise, or skip evolution and conform the batch).

        A batch field that is NARROWER than the table's (e.g. int arriving
        after the table widened to long) is not a schema change - it
        conforms losslessly by upcast - so it is normalized to the table
        type before classification. Only genuine widenings/additions reach
        the evolution path."""
        table_fields = {f.name: f for f in snap.schema.fields}
        norm_fields = []
        for f in batch_schema.fields:
            tf = table_fields.get(f.name)
            if (
                tf is not None
                and tf.dataType != f.dataType
                and is_compatible_type_change(f.dataType, tf.dataType)
            ):
                f = T.StructField(f.name, tf.dataType, f.nullable)
            norm_fields.append(f)
        batch_schema = T.StructType(norm_fields)
        # A batch column bearing a PRIOR physical name (pre-rename) is a
        # stale producer, not an addition: silently evolving it would fork
        # the renamed column (new files would resurrect the old name that
        # read-time coalesce still resolves). Fail fast with the mapping.
        stale = self._stale_rename_fields(snap, batch_schema)
        if stale:
            detail = "batch uses pre-rename column names: " + "; ".join(
                f"column '{old}' was renamed to '{new}'" for old, new in stale
            )
            return self._refuse_schema(
                snap, batch_schema, ChangeType.BREAKING, detail, detail,
                fail_on_breaking,
            )
        if evolution_policy not in ("full", "additive", "frozen"):
            raise ValueError(
                f"unknown evolution_policy {evolution_policy!r}; "
                "known: full, additive, frozen"
            )
        cmp = compare_schemas(snap.schema, batch_schema)
        if cmp.change_type == ChangeType.NO_CHANGE:
            return snap.schema, snap.schema_version, None
        if cmp.change_type == ChangeType.NON_BREAKING and (
            evolution_policy == "frozen"
            or (evolution_policy == "additive" and cmp.modified)
        ):
            detail = (
                f"evolution_policy={evolution_policy} rejects non-breaking "
                f"change: {cmp.describe()}"
            )
            return self._refuse_schema(
                snap, batch_schema, cmp.change_type, detail, detail,
                fail_on_breaking,
            )
        if cmp.change_type == ChangeType.BREAKING:
            return self._refuse_schema(
                snap, batch_schema, cmp.change_type, cmp.describe(),
                f"breaking schema change rejected: {cmp.describe()}",
                fail_on_breaking,
            )
        # NON_BREAKING: evolve - mark old version OBSOLETE, new ACTIVE. If
        # the evolved schema matches an outstanding PENDING proposal
        # (propose_schema), this apply PROMOTES it - the reference's
        # PENDING -> ACTIVE lifecycle (/root/reference/artifacts/lld/LLD.md:103,110).
        evolved = merge_schemas(snap.schema, batch_schema)
        new_version = snap.schema_version + 1
        evolved_json = json.loads(evolved.json())
        ledger = self.schema_ledger()
        promoted = bool(
            ledger
            and ledger[-1].get("status") == SchemaStatus.PENDING.value
            and ledger[-1].get("schema_json") == evolved_json
        )
        self._ledger_append(
            {
                "schema_version": new_version,
                "status": SchemaStatus.ACTIVE.value,
                "previous_status": (
                    SchemaStatus.PENDING.value
                    if promoted
                    else SchemaStatus.OBSOLETE.value
                ),
                "change_type": cmp.change_type.value,
                "detail": cmp.describe(),
                "schema_json": evolved_json,
            }
        )
        return evolved, new_version, cmp.describe()

    @staticmethod
    def _stale_rename_fields(
        snap: Snapshot, batch_schema: T.StructType
    ) -> list[tuple[str, str]]:
        """(prior_name, current_name) pairs for batch fields that are not
        in the table schema but match a recorded pre-rename physical name."""
        table_names = {f.name for f in snap.schema.fields}
        prior_to_cur = {
            p: cur
            for cur, priors in snap.properties.get("renames", {}).items()
            for p in priors
        }
        return [
            (f.name, prior_to_cur[f.name])
            for f in batch_schema.fields
            if f.name not in table_names and f.name in prior_to_cur
        ]

    def propose_schema(self, schema: T.StructType) -> dict | None:
        """Register a schema-evolution REQUEST as a PENDING version - the
        reference's ADD COLUMN / drop-column admin flow creates a PENDING
        row that the next successful apply promotes to ACTIVE
        (/root/reference/artifacts/lld/LLD.md:103,110,122). Returns the
        ledger entry (None when the proposal is a no-op); raises on a
        breaking proposal, recording it BLOCKED."""
        snap = self.snapshot()
        stale = self._stale_rename_fields(snap, schema)
        if stale:
            detail = "; ".join(
                f"column '{old}' was renamed to '{new}'" for old, new in stale
            )
            raise SchemaEvolutionError(
                f"proposal uses pre-rename column names: {detail}"
            )
        cmp = compare_schemas(snap.schema, schema)
        if cmp.change_type == ChangeType.NO_CHANGE:
            return None
        if cmp.change_type == ChangeType.BREAKING:
            self._refuse_schema(
                snap, schema, cmp.change_type, cmp.describe(),
                f"breaking schema proposal rejected: {cmp.describe()}",
            )
        evolved = merge_schemas(snap.schema, schema)
        entry = {
            "schema_version": snap.schema_version + 1,
            "status": SchemaStatus.PENDING.value,
            "change_type": cmp.change_type.value,
            "detail": cmp.describe(),
            "schema_json": json.loads(evolved.json()),
        }
        self._ledger_append(entry)
        return entry

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def _single_exchange_layout(
        self,
        df: DataFrame,
        pk: list[str],
        touched: list[int],
        hot: list[str],
        salt_buckets: int,
    ) -> tuple[DataFrame, list[str], int]:
        """Repartition ONCE by the write-layout keys; returns
        (df, layout key names to prepend to the LWW grouping, partition
        count). The grouping must CONTAIN the partitioning keys so
        Catalyst elides the aggregate's own exchange - the fold and the
        per-bucket file write then share one shuffle.

        The cold path (no hot keys) deliberately carries NO salt column:
        ``_salt = lit(0)`` constant-folds, and a HashPartitioning over
        ``Literal(0)`` can never semantically match the aggregate's
        grouping attribute, so Catalyst re-inserts the exchange - sized by
        spark.sql.shuffle.partitions, scattering every bucket across every
        reduce task (measured: 16 files/bucket instead of 1). Bucket-only
        layout keeps the proof intact. The hot path's salt is a real
        when/otherwise expression (operators/salting.py) and survives."""
        if hot and salt_buckets > 1:
            df = with_salt(
                df, hot, salt_buckets,
                key=pk[0], sub_key=pk[1] if len(pk) > 1 else pk[0],
            )
            target_parts = max(len(touched), 1) * salt_buckets
            return (
                df.repartition(target_parts, F.col(BUCKET_COL), F.col(SALT_COL)),
                [BUCKET_COL, SALT_COL],
                target_parts,
            )
        target_parts = max(len(touched), 1)
        return (
            df.repartition(target_parts, F.col(BUCKET_COL)),
            [BUCKET_COL],
            target_parts,
        )

    def _write_data_files(
        self,
        df: DataFrame,
        target_partitions: int,
        pre_partitioned: bool = False,
        cluster_by: list | None = None,
        bloom_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> dict[str, list[str]]:
        """Write rows (must carry BUCKET_COL, and SALT_COL if salted) as
        immutable files under a fresh commit dir; returns bucket->files.

        Repartitioning by (_bucket, _salt) makes file writes line up with
        the bucket layout while letting hot buckets fan out across salt
        sub-partitions (the reconcile is metadata-only: all of a bucket's
        salted files are listed under that bucket in the manifest).
        ``pre_partitioned=True`` skips that exchange: the caller already
        partitioned the plan by (_bucket, _salt) - the single-exchange
        merge plans do this BEFORE their per-key aggregate so the fold and
        the file layout share one shuffle.

        ``bloom_cols`` writes parquet BLOOM FILTERS for those columns
        (the Hudi bloom-index analog, executor-side, zero driver cost):
        point lookups with a pushed key predicate then skip row groups
        whose bloom provably lacks the key - the probabilistic complement
        of clustered compaction's min/max sort. Deliberately NOT set on
        the ingest hot path (blooms cost write time per row); compaction
        and DML rewrites - already off the hot path, already read-
        optimizing - pass the pk here."""
        commit_id = uuid.uuid4().hex[:12]
        commit_dir = self.root / "data" / commit_id
        out = df.withColumn(_PARTITION_DIR_COL, F.col(BUCKET_COL))
        if not pre_partitioned:
            part_cols = [BUCKET_COL] + (
                [SALT_COL] if SALT_COL in df.columns else []
            )
            out = out.repartition(
                target_partitions, *[F.col(c) for c in part_cols]
            )
        if SALT_COL in df.columns:
            out = out.drop(SALT_COL)
        if cluster_by:
            # Cluster rows inside each written file: sort by (_pb, keys)
            # so parquet row groups carry tight key/ts ranges for
            # row-group pruning. Entries may be column NAMES or arbitrary
            # Column EXPRESSIONS (the z-order Morton code rides here as a
            # pure sort expression - never materialized as a column, so
            # file schemas stay clean). The partition column leads the
            # sort so the file writer's required ordering is a prefix of
            # ours and it inserts NO second sort of its own.
            out = out.sortWithinPartitions(
                _PARTITION_DIR_COL,
                *[F.col(c) if isinstance(c, str) else c for c in cluster_by],
            )
        writer = out.write
        if max_records_per_file:
            # Split each bucket's sorted run into bounded files: with a
            # z-order/cluster sort upstream, every split file carries a
            # TIGHT min/max sidecar range on the cluster columns, turning
            # in-file row-group pruning into whole-file skipping.
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        if bloom_cols:
            for c in bloom_cols:
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{c}", "true"
                )
            # Right-size by observed ndv (4x smaller than the fixed 1MB
            # default in measurement). Chunks that stay fully dictionary-
            # encoded skip the bloom entirely - the dictionary is already
            # an exact membership filter - so small tables pay ~0 bytes
            # and blooms appear exactly when cardinality forces plain
            # encoding, i.e. when they start being needed.
            writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
        writer.partitionBy(_PARTITION_DIR_COL).mode("append").parquet(
            str(commit_dir)
        )
        files: dict[str, list[str]] = {}
        for bdir in sorted(commit_dir.glob(f"{_PARTITION_DIR_COL}=*")):
            bucket = bdir.name.split("=", 1)[1]
            rels = [
                str(p.relative_to(self.root)) for p in sorted(bdir.glob("*.parquet"))
            ]
            if rels:
                files[bucket] = rels
        if self.COLLECT_FILE_STATS:
            self._write_stats_sidecar(commit_dir, files)
        return files

    # ------------------------------------------------------------------
    # file-level column stats + data skipping (Delta add.stats analog)
    # ------------------------------------------------------------------
    # Per-commit sidecar `data/<commit>/.stats.json`: file -> column ->
    # [min, max] for numeric/timestamp/string columns (timestamps as epoch
    # micros). String bounds are sidecar-size-bounded via BOUND-PRESERVING
    # truncation (_trunc_lower/_trunc_upper - Iceberg's truncate-transform
    # upper-bound adjustment): a plain prefix stays a valid min, the max
    # prefix gets its last code point incremented so it sorts above every
    # string it covers. Wrong-side truncation would prune matching files;
    # these bounds only ever widen.
    # Sidecars ride the commit dir, so the manifest format, chunk sealing,
    # structural sharing and vacuum are untouched, and pre-stats commits
    # degrade to "no pruning for those files" - never a wrong answer.
    COLLECT_FILE_STATS = True

    # the keyed reads filter by up to this many distinct keys as parsed
    # literals (key_literals); beyond it planning the literal lists costs
    # more than they prune and the lazy key relation is the probe.
    PUSHDOWN_MAX_KEYS = 10_000

    # past that cap _keyed_read broadcasts the key relation only up to
    # this many keys (measured), and the COW merge's broadcast split
    # only batches of up to this many events: an explicit hint bypasses
    # autoBroadcastJoinThreshold, and a larger key set must shuffle-join
    # instead. 10^6 short key rows is a few tens of MB.
    BROADCAST_KEYS_MAX = 1_000_000

    @staticmethod
    def _stat_value(v):
        import datetime

        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            # Exact integer epoch-micros. float(timestamp())*1e6 has ~0.24us
            # ulp at the current epoch; a 1us truncation error on EITHER the
            # file stat or the predicate bound can wrongly prune a file whose
            # min/max equals the bound - a wrong answer, not a missed
            # optimization.
            d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            return d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds
        if isinstance(v, datetime.date):
            return v.toordinal()
        if isinstance(v, str):
            # UTF-8 byte order == code-point order, and Spark's string
            # comparison is code-point order too, so parquet string
            # min/max are directly comparable to string predicate bounds.
            return v
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return v

    _STAT_STR_TRUNC = 64

    @classmethod
    def _trunc_lower(cls, s: str) -> str:
        """Sidecar-size-bounded LOWER bound: a prefix sorts <= the full
        string, so plain truncation keeps min valid."""
        return s[: cls._STAT_STR_TRUNC]

    @classmethod
    def _trunc_upper(cls, s: str) -> str:
        """Sidecar-size-bounded UPPER bound (Iceberg's truncate transform
        for max): a plain prefix would sort BELOW the value it bounds, so
        increment the last incrementable code point of the prefix -
        strictly greater than every string sharing the prefix. Falls back
        to the full value when nothing is incrementable."""
        if len(s) <= cls._STAT_STR_TRUNC:
            return s
        p = s[: cls._STAT_STR_TRUNC]
        for i in range(len(p) - 1, -1, -1):
            c = ord(p[i]) + 1
            if 0xD800 <= c <= 0xDFFF:
                c = 0xE000  # skip the surrogate gap (not JSON-encodable)
            if c <= 0x10FFFF:
                return p[:i] + chr(c)
        return s

    def _write_stats_sidecar(
        self, commit_dir: Path, files: dict[str, list[str]]
    ) -> None:
        """Footer-scan the commit's new files (driver-side, O(new files)
        per epoch - the same order as the manifest write itself). A real
        cluster writer would collect these inline like Iceberg's writers;
        the footer pass is the spark-local stand-in."""
        import pyarrow.parquet as pq

        stats: dict[str, dict[str, list]] = {}
        for rels in files.values():
            for rel in rels:
                md = pq.ParquetFile(str(self.root / rel)).metadata
                cols: dict[str, list] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        s = c.statistics
                        if s is None or not s.has_min_max or "." in c.path_in_schema:
                            continue
                        lo = self._stat_value(s.min)
                        hi = self._stat_value(s.max)
                        if lo is None or hi is None:
                            continue
                        name = c.path_in_schema
                        if name in cols:
                            cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
                        else:
                            cols[name] = [lo, hi]
                for name, (lo, hi) in cols.items():
                    if isinstance(lo, str):
                        # bound-preserving truncation keeps sidecars
                        # small for long text-ish columns
                        cols[name] = [
                            self._trunc_lower(lo), self._trunc_upper(hi)
                        ]
                # Exact file row count (free: the footer is already
                # open). Keyed so it can never collide with a real
                # column; consumers do keyed lookups only. Used by the
                # COW merge's table-vs-batch ratio gate.
                cols["__rows__"] = md.num_rows
                stats[rel] = cols
        (commit_dir / ".stats.json").write_text(json.dumps(stats))

    def _base_rows(self, snap: Snapshot, buckets: list[int]) -> int | None:
        """Exact row count of the BASE files under ``buckets``, from the
        stats sidecars - driver-side, O(files), cached per commit dir.
        None when any file predates row-count sidecars (legacy commits):
        the caller must then assume nothing about table size."""
        rels = [f for b in buckets for f in snap.files.get(str(b), [])]
        if not rels:
            return 0
        stats = self._stats_for(rels)
        total = 0
        for rel in rels:
            n = stats.get(rel, {}).get("__rows__")
            if n is None:
                return None
            total += int(n)
        return total

    def _stats_for(self, rel_files: list[str]) -> dict[str, dict[str, list]]:
        """Load the stats covering ``rel_files`` (per-commit sidecars,
        cached per handle). Files without stats simply don't appear."""
        out: dict[str, dict[str, list]] = {}
        dirs = {str(Path(rel).parent.parent) for rel in rel_files}
        for d in dirs:
            if d not in self._stats_cache:
                p = self.root / d / ".stats.json"
                self._stats_cache[d] = (
                    json.loads(p.read_text()) if p.is_file() else {}
                )
                while len(self._stats_cache) > 64:
                    self._stats_cache.pop(next(iter(self._stats_cache)))
        for rel in rel_files:
            s = self._stats_cache.get(str(Path(rel).parent.parent), {}).get(rel)
            if s:
                out[rel] = s
        return out

    @classmethod
    def _bound_value(cls, v):
        """Stat-comparable form of a pruning bound, or None when the bound's
        type has no collected stats (arrays, binary, ...). Unsupported
        bounds never raise: pruning silently keeps every file and the exact
        residual filter decides - so read(where=...) behaves identically
        whether or not the table happens to carry MOR deltas."""
        return cls._stat_value(v)

    def candidate_files(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        where: dict[str, tuple] | None = None,
    ) -> tuple[dict[str, list[str]], int]:
        """Stats-pruned base-file map for a read: drop every file whose
        [min, max] for some predicate column cannot intersect the bound.
        Returns (kept file map, total candidate count). Files lacking
        stats for a column are KEPT (legacy commits, string columns)."""
        snap = self.snapshot(version)
        source = (
            snap.files
            if buckets is None
            else {str(b): snap.files.get(str(b), []) for b in buckets}
        )
        total = sum(len(v) for v in source.values())
        if not where:
            return {b: list(fl) for b, fl in source.items() if fl}, total
        bounds: dict[str, tuple] = {}
        for c, (lo, hi) in where.items():
            blo = None if lo is None else self._bound_value(lo)
            bhi = None if hi is None else self._bound_value(hi)
            if (lo is not None and blo is None) or (
                hi is not None and bhi is None
            ):
                # Unsupported bound type for this column: no pruning on it
                # (all files kept), the residual filter stays exact.
                continue
            bounds[c] = (blo, bhi)
        all_files = [f for fl in source.values() for f in fl]
        stats = self._stats_for(all_files)
        # stats sidecars record the column name CURRENT AT WRITE TIME, so a
        # predicate on a renamed column must also consult its prior names
        renames = snap.properties.get("renames", {})
        aliases = {c: [c] + renames.get(c, []) for c in bounds}
        kept: dict[str, list[str]] = {}
        for b, fl in source.items():
            keep = []
            for rel in fl:
                s = stats.get(rel)
                drop = False
                if s:
                    for c, (lo, hi) in bounds.items():
                        name = next((n for n in aliases[c] if n in s), None)
                        if name is not None:
                            fmin, fmax = s[name]
                            ref = hi if hi is not None else lo
                            if isinstance(fmin, str) != isinstance(ref, str):
                                # stat/bound type drift (e.g. legacy sidecar
                                # before a type change): keep the file, the
                                # residual filter stays exact
                                continue
                            if (hi is not None and fmin > hi) or (
                                lo is not None and fmax < lo
                            ):
                                drop = True
                                break
                if not drop:
                    keep.append(rel)
            if keep:
                kept[b] = keep
        return kept, total

    def _conform(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project/cast a batch to the (possibly evolved) table schema:
        missing columns become typed nulls, widenable columns are cast."""
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        extra = [
            c
            for c in df.columns
            if c in (LSN_COL, DELETED_COL, BUCKET_COL, SALT_COL, PARTIAL_COL)
        ]
        return df.select(*cols, *[F.col(c) for c in extra])

    def _gate(
        self,
        snap: Snapshot,
        batch: DataFrame,
        drop: set[str],
        fail_on_breaking: bool,
        evolution_policy: str,
    ) -> tuple[Snapshot, T.StructType, int, str | None]:
        """The schema gate of merge and append: :meth:`_resolve_schema` on
        the batch's payload - every column but ``drop`` and the
        underscore-prefixed system/provenance ones (e.g. the staged
        changelog's ``_meta``), all nullable, as a batch stricter than the
        table is no schema change. When pk0's type changes (int->long),
        every stored bucket is stale (xxhash64 hashes the types apart), so
        a ``rebucket`` at the same count (:meth:`_rehash`) commits first.
        Returns the snapshot to write against, schema, version, detail."""
        payload = T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in batch.schema.fields
                if f.name not in drop and not f.name.startswith("_")
            ]
        )
        schema, schema_version, evo = self._resolve_schema(
            snap, payload, fail_on_breaking, evolution_policy
        )
        key = snap.pk_fields[0]
        if schema[key].dataType != snap.schema[key].dataType:
            # committed against snap itself: a lost race must reach the
            # writer's own retry, which re-checks its epoch marker
            snap = self._rehash(snap, snap.num_buckets, schema, schema_version)
        return snap, schema, schema_version, evo

    def _append_once(
        self,
        df: DataFrame,
        pipeline_id: str | None = None,
        epoch_id: int | None = None,
        fail_on_breaking: bool = True,
        evolution_policy: str = "full",
        lineage: dict | None = None,
    ) -> Snapshot | None:
        """Insert-only write (the reference's Parquet append mode,
        /root/reference/spark/src/main/scala/com/example/Phase2Job.scala:131-135),
        with the same schema gate (:meth:`_gate`, which rebuckets the
        table first when the batch widens the pk) and epoch idempotency
        as merge."""
        snap = self.snapshot()
        if (
            pipeline_id is not None
            and epoch_id is not None
            and epoch_id <= self.last_applied_epoch(pipeline_id)
        ):
            return None
        snap, schema, schema_version, evo = self._gate(
            snap, df, set(), fail_on_breaking, evolution_policy
        )
        data = self._conform(df, schema)
        key = snap.pk_fields[0]
        data = data.withColumn(BUCKET_COL, bucket_expr(key, snap.num_buckets))
        data = data.withColumn(LSN_COL, F.lit(None).cast("long")).withColumn(
            DELETED_COL, F.lit(False)
        )
        new_files = self._write_data_files(data, target_partitions=snap.num_buckets)
        files = {
            **snap.files,
            **{b: snap.files.get(b, []) + fl for b, fl in new_files.items()},
        }
        return self._commit_write(
            snap, files, schema, schema_version, "append", pipeline_id, epoch_id,
            {"evolution": evo, **(lineage or {})},
        )

    def _commit_write(
        self,
        parent: Snapshot,
        files: dict[str, list[str]],
        schema: T.StructType,
        schema_version: int,
        operation: str,
        pipeline_id: str | None,
        epoch_id: int | None,
        summary: dict,
        deltas: dict[str, list[str]] | None = None,
        partial_buckets_add: list[str] | None = None,
    ) -> Snapshot:
        """Commit ``parent``'s child holding ``files``, ``deltas`` (None:
        the parent's) and ``schema``, and mark ``epoch_id`` done for
        ``pipeline_id``. On a lost snapshot race the computed lists are
        rebased onto the new head (:meth:`_rebase_onto_head`) and the
        head's child is committed instead; ``Snapshot.child`` keeps the
        partial-bucket set on every pass."""
        while True:
            snap = parent.child(
                operation, summary, partial_buckets_add,
                files=files,
                deltas=parent.deltas if deltas is None else deltas,
                schema_json=json.loads(schema.json()),
                schema_version=schema_version,
            )
            if pipeline_id is not None and epoch_id is not None:
                snap.properties.setdefault("pipelines", {})[pipeline_id] = {
                    "last_epoch": int(epoch_id)
                }
            try:
                return self._commit(snap, parent=parent)
            except CommitConflictError:
                parent, files, deltas = self._rebase_onto_head(
                    parent, files, deltas, pipeline_id, epoch_id
                )  # raises the conflict onward when not provably safe

    def _rebase_onto_head(
        self,
        parent: Snapshot,
        files: dict[str, list[str]],
        deltas: dict[str, list[str]] | None,
        pipeline_id: str | None,
        epoch_id: int | None,
    ) -> tuple[Snapshot, dict[str, list[str]], dict[str, list[str]] | None]:
        """Metadata-level commit rebase (Iceberg's cheap retry): after
        losing the snapshot race, re-point this commit's ALREADY-COMPUTED
        outputs at the new head instead of re-running the Spark job -
        valid only when the result provably doesn't depend on what the
        intervening commits changed. Conservative rules; anything else
        re-raises and the operation-level retry recomputes:

          * schema raced -> recompute (the job conformed to a stale
            schema).
          * intervening commits touch NONE of our changed buckets -> our
            outputs are independent of them; splice our bucket lists onto
            the head's.
          * intervening commits touch our buckets but are ALL
            state-preserving compactions (no tombstone purge) -> a COW
            rewrite or a fresh delta computed from the pre-compaction
            rows is still byte-correct against the compacted base (same
            logical rows; delta rows order above any base row), so the
            splice remains valid. An intervening MERGE on our buckets
            always recomputes - its rows must feed our fold.

        Splice rule per changed bucket: an append-style change (our list
        extends the parent's) keeps the head's list plus our new suffix;
        a replace-style change (COW rewrite, compaction, delta clear)
        keeps ours wholesale."""
        try:
            head = self.snapshot()
            if head.schema_version != parent.schema_version:
                raise CommitConflictError("schema raced during commit")
            if head.num_buckets != parent.num_buckets:
                # a rebucket re-hashed the layout: our outputs were bucketed
                # under the OLD transform, so no splice can be valid - even
                # for buckets the naive disjointness check wouldn't flag
                raise CommitConflictError("bucket layout raced during commit")
            if pipeline_id is not None and epoch_id is not None:
                marker = (
                    head.properties.get("pipelines", {})
                    .get(pipeline_id, {})
                    .get("last_epoch", -1)
                )
                if int(marker) >= int(epoch_id):
                    # a racing clone of OUR pipeline already landed this
                    # epoch - splicing would double-apply it; the
                    # operation-level retry skips idempotently instead
                    raise CommitConflictError(
                        f"epoch {epoch_id} of {pipeline_id} committed "
                        "concurrently"
                    )
            eff_deltas = deltas if deltas is not None else dict(parent.deltas)
            ours_f = {
                b
                for b in set(files) | set(parent.files)
                if files.get(b, []) != parent.files.get(b, [])
            }
            ours_d = {
                b
                for b in set(eff_deltas) | set(parent.deltas)
                if eff_deltas.get(b, []) != parent.deltas.get(b, [])
            }
            ours = ours_f | ours_d
            theirs = {str(b) for b in self.changed_buckets(parent.version, head.version)}
            if ours & theirs:
                for v in range(parent.version + 1, head.version + 1):
                    s = self.snapshot(v)
                    if s.operation != "compact" or s.summary.get("purged_below_lsn"):
                        raise CommitConflictError(
                            f"concurrent {s.operation} touched this commit's "
                            "buckets; recompute required"
                        )

            def _splice(ours_set, our_map, par_map, head_map):
                out = {b: list(fl) for b, fl in head_map.items()}
                for b in ours_set:
                    mine = our_map.get(b, [])
                    par = par_map.get(b, [])
                    if par and mine[: len(par)] == par:
                        out[b] = head_map.get(b, []) + mine[len(par):]
                    else:
                        out[b] = list(mine)
                    if not out[b]:
                        out.pop(b, None)
                return out

            new_files = _splice(ours_f, files, parent.files, head.files)
            new_deltas = (
                None
                if deltas is None
                else _splice(ours_d, eff_deltas, parent.deltas, head.deltas)
            )
            return head, new_files, new_deltas
        except CommitConflictError:
            raise
        except Exception as e:  # pragma: no cover - unexpected: stay safe
            raise CommitConflictError(f"rebase aborted: {e!r}") from e

    # ------------------------------------------------------------------
    # MERGE - the heart of the engine
    # ------------------------------------------------------------------
    # Optimistic-concurrency retry (Iceberg's commit loop): a writer that
    # loses the O_EXCL snapshot race re-runs its WHOLE operation against
    # the winner's freshly-committed state - every *_once body re-reads
    # self.snapshot() and re-checks its epoch marker at entry, so a retry
    # after a same-pipeline duplicate commit degrades to the idempotent
    # skip, and a retry after an unrelated commit (compaction racing the
    # ingest writer) recomputes against the new file layout. Data files
    # written by a failed attempt are unreferenced and reclaimed by
    # vacuum().
    #
    # Contention model: a losing commit first tries a METADATA-LEVEL
    # REBASE (_rebase_onto_head - Iceberg's cheap retry): when the
    # intervening commits provably cannot affect this commit's outputs
    # (they touch disjoint buckets, or are state-preserving compactions
    # of ours), the already-computed files are re-pointed at the new head
    # in O(ms) with no Spark re-run - so the ingest writer can never be
    # starved by maintenance. Only a TRUE overlap (a concurrent MERGE
    # into our buckets, a schema race, a purging compaction) falls back
    # to the full recompute below, and only a sustained stream of such
    # overlaps exhausts the budget - at which point CommitConflictError
    # surfaces and maintenance loops treat it as "yield to the writer".
    COMMIT_RETRIES = 3

    def _retry_commit(self, fn):
        for attempt in range(self.COMMIT_RETRIES + 1):
            try:
                return fn()
            except CommitConflictError:
                if attempt == self.COMMIT_RETRIES:
                    # sustained contention: surface it - under a busy
                    # ingest writer a maintenance pass SHOULD yield rather
                    # than spin (callers loop anyway)
                    raise
                # linear backoff so the retry doesn't re-race the very
                # next commit of a busy writer (amount is irrelevant next
                # to the recompute the retry performs)
                time.sleep(0.05 * (attempt + 1))

    def merge(self, changes: DataFrame, **kwargs) -> Snapshot | None:
        """Keyed MERGE upsert with optimistic commit retries; semantics
        and parameters documented on :meth:`_merge_once`."""
        return self._retry_commit(lambda: self._merge_once(changes, **kwargs))

    def append(self, df: DataFrame, **kwargs) -> Snapshot | None:
        """Insert-only append with optimistic commit retries; see
        :meth:`_append_once`."""
        return self._retry_commit(lambda: self._append_once(df, **kwargs))

    def compact(self, **kwargs) -> Snapshot:
        """Compaction with optimistic commit retries (it races ingest
        writers by design - maintenance runs off the hot path); see
        :meth:`_compact_once`."""
        return self._retry_commit(lambda: self._compact_once(**kwargs))

    # ------------------------------------------------------------------
    # table sort order (Iceberg sort-order / Delta OPTIMIZE ZORDER analog)
    # ------------------------------------------------------------------
    def sort_order(self) -> dict | None:
        """The persistent sort order, ``{"cols": [...], "mode":
        "linear"|"zorder"}``, or None when the table keeps the default
        pk clustering."""
        so = self.snapshot().properties.get("sort_order")
        return dict(so) if so else None

    def _validate_cluster_spec(
        self, snap: Snapshot, cols: list[str], mode: str
    ) -> None:
        from dataingestion_spark.lake.zorder import (
            MAX_ZORDER_COLS, is_zorderable,
        )

        if mode not in ("linear", "zorder"):
            raise ValueError(f"unknown cluster mode {mode!r}")
        by_name = {f.name: f.dataType for f in snap.schema.fields}
        unknown = [c for c in cols if c not in by_name]
        if unknown:
            raise ValueError(f"cluster columns not in schema: {unknown}")
        if mode == "zorder":
            if not 1 <= len(cols) <= MAX_ZORDER_COLS:
                raise ValueError(
                    f"zorder takes 1..{MAX_ZORDER_COLS} columns, "
                    f"got {len(cols)}"
                )
            bad = [c for c in cols if not is_zorderable(by_name[c])]
            if bad:
                raise ValueError(
                    "zorder needs numeric/timestamp/date/boolean/string "
                    f"columns; unsupported: {bad}"
                )

    def _resolve_cluster_spec(
        self,
        snap: Snapshot,
        cluster_cols: list[str] | None,
        cluster_mode: str | None,
    ) -> tuple[list[str] | None, str | None]:
        """Effective (cols, mode) for a rewrite: explicit arguments win,
        then the table's persistent sort order, then (None, None) -
        caller falls back to pk clustering."""
        if cluster_cols:
            mode = cluster_mode or "linear"
            self._validate_cluster_spec(snap, list(cluster_cols), mode)
            return list(cluster_cols), mode
        so = snap.properties.get("sort_order")
        if so:
            cols, mode = list(so["cols"]), cluster_mode or so["mode"]
            self._validate_cluster_spec(snap, cols, mode)
            return cols, mode
        if cluster_mode:
            raise ValueError(
                "cluster_mode given without cluster_cols and the table "
                "has no persistent sort order (set_sort_order)"
            )
        return None, None

    def set_sort_order(
        self, cols: list[str] | None, mode: str = "zorder"
    ) -> Snapshot:
        """Declare the table's persistent sort order (Iceberg
        ``ALTER TABLE ... WRITE ORDERED BY`` analog) - METADATA-ONLY:
        no rewrite happens here. Every subsequent compaction without an
        explicit ``cluster_cols`` applies it (including the
        ``maybe_compact`` maintenance policy), so the declared layout is
        restored continuously as ingest dirties buckets, instead of by
        remembering the right flags on every ops invocation.
        ``cols=None`` clears the order (back to pk clustering). The
        rewrite itself stays off the ingest hot path - merges never
        sort; only compaction pays."""

        def _once() -> Snapshot:
            snap = self.snapshot()
            out = snap.child("set-sort-order", {})
            out.properties.pop("sort_order", None)
            if cols:
                self._validate_cluster_spec(snap, list(cols), mode)
                for d in (out.properties, out.summary):
                    d["sort_order"] = {"cols": list(cols), "mode": mode}
            return self._commit(out, parent=snap)

        return self._retry_commit(_once)

    def _zorder_bounds(
        self,
        snap: Snapshot,
        cols: list[str],
        target: list[int],
        df: DataFrame,
    ) -> dict[str, tuple]:
        """Quantization bounds for the z columns, in stat units. Primary
        source: the file-stats sidecars of every referenced file in the
        target buckets (driver-side, zero Spark jobs). Columns some file
        doesn't cover (legacy commits, all-null files) fall back to ONE
        min/max aggregate over the rewrite input - a single extra scan of
        exactly the buckets being rewritten, worst case."""
        from dataingestion_spark.lake.zorder import string_embed

        by_name = {f.name: f.dataType for f in snap.schema.fields}

        def _to_quant(c: str, v):
            """Stat value -> quantization units: strings embed via their
            6-byte UTF-8 prefix (matching norm_expr's executor-side
            embedding; the sidecars' bound-preserving truncation keeps
            min <= data <= max, and the first 6 bytes survive the 64-char
            truncation untouched)."""
            if isinstance(v, str):
                return (
                    string_embed(v)
                    if isinstance(by_name.get(c), T.StringType)
                    else None
                )
            if isinstance(v, bool):
                return int(v)
            return v if isinstance(v, (int, float)) else None

        rels = [
            f
            for b in target
            for f in (
                snap.files.get(str(b), []) + snap.deltas.get(str(b), [])
            )
        ]
        stats = self._stats_for(rels)
        bounds: dict[str, tuple] = {}
        missing: list[str] = []
        for c in cols:
            lo = hi = None
            covered = bool(rels)
            for rel in rels:
                s = stats.get(rel, {}).get(c)
                qlo = _to_quant(c, s[0]) if s else None
                qhi = _to_quant(c, s[1]) if s else None
                if qlo is None or qhi is None:
                    covered = False
                    break
                lo = qlo if lo is None else min(lo, qlo)
                hi = qhi if hi is None else max(hi, qhi)
            if covered and lo is not None:
                bounds[c] = (lo, hi)
            else:
                missing.append(c)
        if missing:
            row = df.select(
                *[F.min(c).alias(f"lo_{c}") for c in missing],
                *[F.max(c).alias(f"hi_{c}") for c in missing],
            ).collect()[0]
            for c in missing:
                lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
                # booleans and strings quantize on their embeddings; the
                # raw aggregate values convert through the same mapping
                # the sidecar path uses
                lo = _to_quant(c, self._stat_value(lo) if not isinstance(lo, (bool, str)) else lo)
                hi = _to_quant(c, self._stat_value(hi) if not isinstance(hi, (bool, str)) else hi)
                bounds[c] = (lo, hi)
        return bounds

    def rollback(self, version: int | str) -> Snapshot:
        """Roll the table back to an earlier snapshot's state (Iceberg
        ``rollback_to_snapshot`` analog) - the bad-deploy recovery move: a
        broken transformer or misfired DML landed, point the table at the
        last good state and let the stream re-apply from there.

        Implemented as a NEW commit (operation ``rollback``) whose
        files/deltas/schema/properties are the target snapshot's -
        history is preserved (the bad versions remain time-travelable
        until expired) and concurrent writers race through the normal
        optimistic-commit path. The target's PIPELINE EPOCH MARKERS come
        back with it deliberately: epochs applied after the target point
        are no longer marked, so a resumed stream RE-APPLIES them -
        rolling back data without rolling back the exactly-once cursor
        would silently drop those epochs forever. ``version`` may be a
        number or a tag name; the target must still be retained."""

        def _once() -> Snapshot:
            target = self.snapshot(version)
            cur = self.snapshot()
            if target.version == cur.version:
                return cur
            snap = cur.child(
                "rollback", {"rolled_back_to": target.version}, **target.state()
            )
            return self._commit(snap, parent=cur)

        return self._retry_commit(_once)

    def rebucket(self, new_num_buckets: int) -> Snapshot:
        """Change the table's bucket count with optimistic commit retries;
        see :meth:`_rebucket_once`."""
        return self._retry_commit(lambda: self._rebucket_once(new_num_buckets))

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a column METADATA-ONLY (Iceberg ``ALTER TABLE ... RENAME
        COLUMN`` analog): no data file is touched. Iceberg carries renames
        via immutable field IDs; parquet-over-directory has only names, so
        the same contract is kept with a PRIOR-NAME MAP
        (``properties["renames"]``: current -> [prior physical names,
        newest first]) that every read resolves through - files written
        before the rename still store the old column name and project as
        ``coalesce(new, old)`` (exact: any one file contains at most one
        of the names). Writes after the rename use the new name; a batch
        still producing the OLD name is rejected by the schema gate with
        the rename mapping in the error (stale-producer fail-fast), and
        adding a fresh column that reuses a prior name is likewise
        refused - that name is still live inside old files, and the
        read-time coalesce could not tell the two columns apart. For the
        same reason renaming BACK to a prior name is refused until
        :meth:`retire_renames` proves no referenced file still carries it.

        Renaming a pk or order field is allowed: bucketing hashes VALUES,
        not names, so the layout is untouched; ``pk_fields`` /
        ``order_fields`` follow the rename atomically in the same commit.

        Scale shape: O(1) driver-side - one snapshot json write; the
        rename never triggers a data rewrite at any table size (the
        Iceberg guarantee). Read-side cost is one codegen'd ``coalesce``
        per renamed column until :meth:`retire_renames`; note filter
        PUSHDOWN on a renamed column is lost while the map is active
        (the predicate sits above the coalesce), the file-level min/max
        skipping in :meth:`candidate_files` still applies via prior-name
        stats lookup."""

        def _once() -> Snapshot:
            snap = self.snapshot()
            names = {f.name for f in snap.schema.fields}
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column already exists: {new!r}")
            if not new or new.startswith("_"):
                raise ValueError(
                    f"invalid column name {new!r}: empty or reserved "
                    "underscore prefix"
                )
            renames = {
                k: list(v)
                for k, v in snap.properties.get("renames", {}).items()
            }
            priors_all = {p for ps in renames.values() for p in ps}
            if new in priors_all:
                raise ValueError(
                    f"{new!r} is a retired physical name still present in "
                    "old data files; run retire_renames() after a full "
                    "rewrite to free it"
                )
            renames[new] = [old] + renames.pop(old, [])
            fields = [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in snap.schema.fields
            ]
            schema = T.StructType(fields)
            new_version = snap.schema_version + 1
            self._ledger_append(
                {
                    "schema_version": new_version,
                    "status": SchemaStatus.ACTIVE.value,
                    "previous_status": SchemaStatus.OBSOLETE.value,
                    "change_type": ChangeType.NON_BREAKING.value,
                    "detail": f"RENAMED: {old} -> {new}",
                    "schema_json": json.loads(schema.json()),
                }
            )
            out = snap.child(
                "rename-column",
                {"renamed_from": old, "renamed_to": new},
                schema_json=json.loads(schema.json()),
                schema_version=new_version,
                pk_fields=[new if c == old else c for c in snap.pk_fields],
                order_fields=[new if c == old else c for c in snap.order_fields],
            )
            out.properties["renames"] = renames
            # the persistent sort order follows the rename atomically in
            # the same commit, or the next compaction would fail on a
            # column that still exists under its new name
            so = out.properties.get("sort_order")
            if so:
                so["cols"] = [new if c == old else c for c in so["cols"]]
            return self._commit(out, parent=snap)

        committed = self._retry_commit(_once)
        # name-keyed index metadata follows the rename right after the
        # commit (idempotent - the old name simply stops matching on a
        # re-run; a crash in between leaves a stale spec that
        # verify_integrity reports and optimize tolerates)
        self._remap_index_specs(old, new)
        return committed

    def _remap_index_specs(self, old: str, new: str) -> None:
        """Rewrite index metadata for a column rename. Every index keys
        by VALUE (blooms hash pk or column values; HLL sketches hash cell
        values), so a rename only has to move the NAME - no sketch or
        bitmap is rebuilt."""
        for name, kind, store, spec, _ in self._indexes():
            if kind == "pk-bloom" and old in spec.get("pk_fields", []):
                spec["pk_fields"] = [
                    new if c == old else c for c in spec["pk_fields"]
                ]
                store.write_spec(spec)
            elif kind == "hll-ndv" and old in spec.get("cols", []):
                spec["cols"] = sorted(
                    new if c == old else c for c in spec["cols"]
                )
                store.write_spec(spec)
                for b in store.buckets():
                    entry = store.load_bucket(b)
                    sk = entry.get("sketches", {})
                    if old in sk:
                        sk[new] = sk.pop(old)
                        store.write_bucket(b, entry)
            elif name == f"secondary:{old}":
                # a secondary bloom is keyed by the column IN ITS DIR
                # NAME: move the whole store and restamp the spec
                target = ShardStore(self.root, self._secondary_store_name(new))
                # os.replace raises ENOTEMPTY when the target dir already
                # exists (stale leftovers of a crashed earlier rename, or
                # an index once built under the new name) - and this runs
                # AFTER the rename commit succeeded, so failing here would
                # leave the table renamed but the call raising. The old
                # index is authoritative for the just-renamed data; clear
                # the stale target and move over it.
                if target.dir.exists():
                    shutil.rmtree(target.dir)
                os.replace(store.dir, target.dir)
                spec["col"] = new
                target.write_spec(spec)

    def retire_renames(self) -> list[str]:
        """Drop prior-name mappings whose old physical name no longer
        appears in ANY file referenced by the current snapshot (base or
        delta), freeing the name for reuse and removing the read-time
        coalesce. Proof is footer-exact: the union of the referenced
        files' parquet schemas (footer reads only - no data scan, one
        driver-side listing of O(files) footers) must not contain the
        prior name - true after compaction/rebucket/DML has rewritten
        every pre-rename file. Returns the retired prior names; mappings
        still live in some file are kept (partial retirement of a chain
        is fine - each prior name is judged independently)."""

        def _once() -> list[str]:
            snap = self.snapshot()
            renames = {
                k: list(v)
                for k, v in snap.properties.get("renames", {}).items()
            }
            if not renames:
                return []
            files = [
                str(self.root / f)
                for source in (snap.files, snap.deltas)
                for fl in source.values()
                for f in fl
            ]
            if files:
                physical = {
                    f.name
                    for f in self.spark.read.option("mergeSchema", "true")
                    .parquet(*files)
                    .schema.fields
                }
            else:
                physical = set()
            retired: list[str] = []
            kept: dict[str, list[str]] = {}
            for cur, priors in renames.items():
                live = [p for p in priors if p in physical]
                retired.extend(p for p in priors if p not in physical)
                if live:
                    kept[cur] = live
            if not retired:
                return []
            out = snap.child(
                "retire-renames", {"retired_prior_names": sorted(retired)}
            )
            if kept:
                out.properties["renames"] = kept
            else:
                out.properties.pop("renames", None)
            self._commit(out, parent=snap)
            return sorted(retired)

        return self._retry_commit(_once)

    def delete_where(self, condition, **kwargs) -> Snapshot | None:
        """Predicate DELETE with optimistic commit retries; see
        :meth:`_dml_once`."""
        return self._retry_commit(lambda: self._dml_once(condition, None, **kwargs))

    def update_where(self, condition, assignments: dict, **kwargs) -> Snapshot | None:
        """Predicate UPDATE with optimistic commit retries; see
        :meth:`_dml_once`."""
        return self._retry_commit(
            lambda: self._dml_once(condition, assignments, **kwargs)
        )

    def apply_retention(self, col: str, cutoff) -> Snapshot | None:
        """Row TTL (Iceberg/Delta retention-delete pattern): tombstone
        every live row with ``col < cutoff`` - the age-out pass a
        transcript lake runs for compliance windows and storage budgets.
        A thin, correctly-priced composition: :meth:`delete_where` with
        the cutoff ALSO passed as a file-stats prune bound, so discovery
        skips every file whose min(col) is already past the cutoff - on
        a time-clustered (or ts-z-ordered) table the rewrite touches
        only the aging boundary region, never the table. Physical
        erasure then completes through the normal chain:
        ``compact(purge_tombstones_below_lsn=...)`` + expiry + vacuum."""
        return self.delete_where(
            F.col(col) < F.lit(cutoff), prune={col: (None, cutoff)}
        )

    @staticmethod
    def _assign_projection(
        df: DataFrame, assignments: dict, hit: Column, schema_cols: dict
    ) -> DataFrame:
        """All SET assignments land in ONE projection (shared by
        update_where's DML arm and merge_into's UPDATE arm): the hit
        mask and every RHS resolve against the PRE-update row, matching
        SQL UPDATE semantics (``SET a=b, b=a`` swaps). Sequential
        withColumn calls would re-resolve ``hit`` after an assignment
        mutates a column it references, silently skipping later SETs.
        An assigned column ABSENT from ``df`` is materialized (hit ->
        value, else the NULL the conform step would have filled) -
        skipping it would null the column on every hit row, the opposite
        of the request."""

        def _set(c):
            v = assignments[c]
            val = v if isinstance(v, Column) else F.lit(v)
            return F.when(hit, val.cast(schema_cols[c]))

        proj = [
            _set(c).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
        proj += [
            _set(c).otherwise(F.lit(None).cast(schema_cols[c])).alias(c)
            for c in assignments
            if c not in df.columns
        ]
        return df.select(*proj)

    def next_lsn(self) -> int:
        """Smallest lsn strictly greater than every stored ``_lsn`` -
        the change-timeline position a batch DML/MERGE INTO stamps so the
        LWW guard ranks it newer than all applied history. Driver-side
        from the file-stats sidecars when they cover ``_lsn`` in every
        referenced file (zero jobs); one max aggregate over the resolved
        table otherwise."""
        snap = self.snapshot()
        rels = [
            f
            for fl in list(snap.files.values()) + list(snap.deltas.values())
            for f in fl
        ]
        if not rels:
            return 1
        stats = self._stats_for(rels)
        hi, covered = 0, True
        for rel in rels:
            s = stats.get(rel, {}).get(LSN_COL)
            if not s or not isinstance(s[1], (int, float)):
                covered = False
                break
            hi = max(hi, int(s[1]))
        if not covered:
            buckets = sorted(
                {int(b) for b in snap.files} | {int(b) for b in snap.deltas}
            )
            row = (
                self._resolved(snap, buckets).agg(F.max(LSN_COL)).collect()[0]
            )
            hi = int(row[0] or 0)
        return hi + 1

    def merge_into(
        self,
        source: DataFrame,
        when_matched_update=None,
        when_matched_delete=None,
        when_not_matched_insert=True,
        update_assignments: dict | None = None,
        pipeline_id: str | None = None,
        epoch_id: int | None = None,
        **merge_kwargs,
    ) -> Snapshot | None:
        """Declarative batch MERGE (the Delta/Iceberg ``MERGE INTO t
        USING s ON pk WHEN MATCHED [AND cond] THEN UPDATE/DELETE WHEN NOT
        MATCHED [AND cond] THEN INSERT`` user API) for sources that are
        plain row batches, not op-labeled change streams - backfills,
        dimension refreshes, corrections landing beside the CDC feed.

        Each ``when_*`` argument is that clause's condition: ``None`` =
        clause absent, ``True`` = unconditional, a SQL string / Column =
        evaluated over the SOURCE row. Rows matching no applicable clause
        are no-ops. When both matched clauses apply to a row, DELETE wins
        (destructive intent must be explicit, so it is never shadowed).
        ``update_assignments`` optionally maps column -> value for the
        UPDATE arm (``SET col = expr``; RHS sees the SOURCE row,
        evaluated in one projection so assignments never observe each
        other); without it UPDATE is a full-row replace by the source
        row. The source must be pk-unique (fail-fast otherwise: MERGE
        semantics are undefined for multiple source matches - the same
        error Delta raises) and carry the table's payload columns.

        Compilation, all on existing machinery: label source rows
        matched/not-matched with one bucket-pruned point-lookup join
        (:meth:`read_keys` - priced by the SOURCE's buckets, never the
        table; a tombstoned key is NOT matched, so re-insert works),
        compile the clauses into the canonical op column, stamp the
        batch at :meth:`next_lsn` (newer than all applied history, so
        the LWW guard lets it win; a later CDC event with a higher lsn
        still supersedes it - the stream stays the source of truth), and
        run the standard exactly-once :meth:`merge`."""

        def _cond(c):
            if c is None or c is False:
                return None
            if c is True:
                return F.lit(True)
            return F.expr(c) if isinstance(c, str) else c

        upd, dele, ins = (
            _cond(when_matched_update),
            _cond(when_matched_delete),
            _cond(when_not_matched_insert),
        )
        if upd is None and dele is None and ins is None:
            raise ValueError("merge_into needs at least one WHEN clause")
        snap = self.snapshot()
        pk = list(snap.pk_fields)
        reserved = {"op", "_matched"} & set(source.columns)
        if reserved:
            raise ValueError(
                f"source must not carry reserved column(s) {sorted(reserved)}"
            )
        # persist: the source lineage (often a join/aggregate the caller
        # built) is consumed by the dup check, the live-key lookup's
        # collects, the labeled join, and the merge's own passes - cache
        # it once, recoverable via lineage, released in the finally.
        from pyspark import StorageLevel

        source = source.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._merge_into_body(
                source, snap, pk, upd, dele, ins, update_assignments,
                pipeline_id, epoch_id, merge_kwargs,
            )
        finally:
            source.unpersist()

    def _merge_into_body(
        self, source, snap, pk, upd, dele, ins, update_assignments,
        pipeline_id, epoch_id, merge_kwargs,
    ):
        dup = (
            source.groupBy(*pk).count().filter(F.col("count") > 1).take(1)
        )
        if dup:
            raise ValueError(
                f"source is not pk-unique on {pk} (e.g. "
                f"{ {c: dup[0][c] for c in pk} }); MERGE INTO semantics "
                "are undefined for multiple source matches"
            )
        live_keys = self.read_keys(source.select(*pk)).select(
            *pk, F.lit(True).alias("_matched")
        )
        labeled = source.join(live_keys, on=pk, how="left")
        matched = F.coalesce(F.col("_matched"), F.lit(False))
        op = F.lit(None).cast("string")
        if ins is not None:
            op = F.when(~matched & ins, F.lit("INSERT")).otherwise(op)
        if upd is not None:
            op = F.when(matched & upd, F.lit("UPDATE")).otherwise(op)
        if dele is not None:  # last WHEN wins in a when-chain: DELETE first
            op = F.when(matched & dele, F.lit("DELETE")).otherwise(op)
        # materialize op BEFORE assignments so an assignment to a column
        # a clause condition references can never re-resolve the clause
        df = (
            labeled.select(*source.columns, op.alias("op"))
            .filter(F.col("op").isNotNull())
        )
        if update_assignments:
            schema_cols = {f.name: f.dataType for f in snap.schema.fields}
            bad = [
                c
                for c in update_assignments
                if c not in schema_cols or c in pk
            ]
            if bad:
                raise ValueError(
                    f"merge_into cannot assign {bad}: pk or unknown column"
                )
            df = self._assign_projection(
                df, update_assignments, F.col("op") == "UPDATE", schema_cols
            )
        lsn_col = snap.order_fields[0] if snap.order_fields else "lsn"
        df = df.withColumn(lsn_col, F.lit(self.next_lsn()).cast("long"))
        return self.merge(
            df, pipeline_id=pipeline_id, epoch_id=epoch_id, **merge_kwargs
        )

    def _merge_once(
        self,
        changes: DataFrame,
        pipeline_id: str | None = None,
        epoch_id: int | None = None,
        op_col: str = "op",
        fail_on_breaking: bool = True,
        evolution_policy: str = "full",
        hot_key_threshold: float = 0.05,
        hot_key_min_rows: int | None = None,
        salt_buckets: int = 8,
        lineage: dict | None = None,
        write_mode: str = "cow",
        update_mode: str = "full",
        collect_file_stats: bool = False,
        file_col: str = "source_file",
    ) -> Snapshot | None:
        """Apply a batch of keyed INSERT/UPDATE/DELETE change events.

        Semantics (= Iceberg `MERGE INTO t USING s ON pk  WHEN MATCHED AND
        s.op='DELETE' THEN DELETE  WHEN MATCHED THEN UPDATE SET *  WHEN NOT
        MATCHED AND s.op<>'DELETE' THEN INSERT *`, plus an LSN guard so a
        stale source row never overwrites a newer target row):

          1. epoch marker check - re-delivered epochs are skipped whole.
          2. schema gate (:meth:`_gate`) - evolve or fail fast, metadata
             only unless the pk's type changes, which commits a rebucket
             of every row first.
          3. ONE (bucket, key) pre-scan job: touched-bucket set, batch
             size, exact hot-key gate (and, for the rare hot epoch, the
             hot keys themselves from the same shuffle).
          4. bucket pruning - only buckets present in the batch are read.
          5. ONE map-side-combining LWW aggregate over (batch ∪ resolved
             current rows of touched buckets), max_by ordered by
             (lsn, source-over-table, ts) - subsumes the in-batch dedup,
             the batch-vs-table probe and the "source wins iff
             s.lsn >= t._lsn" guard of a classic MERGE join. DELETE
             winners are tombstone rows.
          6. salted copy-on-write rewrite of touched buckets; atomic
             snapshot commit referencing untouched buckets' old files.

        Steps 5-6 describe the union plan. When the counted gate holds
        (no hot keys, no deltas under the touched buckets,
        batch <= BROADCAST_KEYS_MAX events, base rows >=
        BROADCAST_TABLE_BATCH_RATIO x batch), the plan is
        ``cow-broadcast``: one broadcast of the batch's pk tuples splits
        the touched rows, and only those whose key the batch holds enter
        step 5; the rest go to the write unshuffled.

        ``update_mode="partial"`` switches UPDATE events from full-row
        replace to the reference replay oracle's dict-merge semantics
        (demo/test_pipeline.sh:244-262: ``user_state[pk].update(data)``):
        an UPDATE's NULL payload columns mean "not set" and retain the
        current value; an UPDATE on a missing or deleted key is DROPPED
        (the oracle's ``if primary_key in user_state`` guard); INSERT stays
        a full-row replace and DELETE a full-row tombstone. This makes the
        Mongo ``$set`` adapter (sources/cdc_formats.py) honest end-to-end -
        its unwrapped partial documents no longer null-out unset fields.
        Both arms keep every event with its own lsn and resolve through
        the one dict-merge reads use (``_resolve_partial``), with the batch
        as the table's newest delta commit: MOR appends the events as
        delta rows, COW rewrites the touched buckets with the resolved
        rows. ``applied_events`` is the batch's event count. Two caveats:
        a partial UPDATE can never set a column back to NULL, and a COW
        partial merge drops an UPDATE whose key is missing or deleted, so
        an older INSERT of that key delivered in a later epoch does not
        bring the update back (the oracle, replaying in lsn order, would);
        under in-order delivery this never shows.

        ``write_mode="mor"`` (merge-on-read, the Hudi-MOR analog) replaces
        steps 5-6 with an append of the batch winners as per-bucket DELTA
        files: write amplification is O(batch) instead of O(table), which
        is what keeps 10^10-event replay sustainable as the table grows;
        the per-key LWW resolution moves to read time (``_resolved``) and
        ``compact()`` folds deltas back into the base. Late/duplicate
        events need no join-time lsn guard here - read-time LWW over
        (_lsn, delta-recency) subsumes it.

        Returns the committed Snapshot, or None if the epoch was already
        applied (idempotent replay).
        """
        if update_mode not in ("full", "partial"):
            raise ValueError(f"unknown update_mode: {update_mode!r}")
        snap = self.snapshot()
        if (
            pipeline_id is not None
            and epoch_id is not None
            and epoch_id <= self.last_applied_epoch(pipeline_id)
        ):
            return None

        pk = snap.pk_fields
        order_fields = snap.order_fields
        lsn_src = order_fields[0]

        # op/ordering/source metadata is not payload (ts is both ordering
        # tiebreak and payload - kept)
        snap, schema, schema_version, evo = self._gate(
            snap, changes, {op_col, "source_file", lsn_src},
            fail_on_breaking, evolution_policy,
        )

        # (4) touched-bucket pruning + hot-key detection, cheapest-first:
        # job 1 groups the raw batch by BUCKET only - the map side combines
        # to <= num_buckets rows per partition, so the shuffle is O(maps x
        # buckets) regardless of batch size. That yields the touched set,
        # the exact batch size, and a SOUND hotness pre-gate: a key holding
        # >= hot_key_threshold of the batch forces its bucket's count over
        # the same threshold, so "no bucket above threshold" proves "no hot
        # key" without ever counting per key. Only when a bucket trips the
        # gate (rare: requires real skew or very few buckets) does job 2
        # run the per-key count - and only over the suspect buckets, which
        # keeps the exact per-key hot list while the common case pays one
        # tiny aggregate. (Round-1 shape grouped by (bucket, key) up front:
        # an O(distinct keys) shuffle on every epoch, ~1.5x the pre-scan
        # cost at 250k-event epochs, to compute a max_k that almost every
        # epoch ignores.)
        # The batch is deliberately NOT cached: each auxiliary job reads a
        # column-pruned slice straight from the staged parquet (cheaper than
        # materializing the full batch into executor storage), and the
        # write job below makes exactly one full-width pass.
        # The pre-scan hashes the pk CAST TO THE TABLE TYPE so it agrees
        # with the conformed winners' bucket assignment when a batch still
        # carries a narrower pk type (xxhash64(int) != xxhash64(long)).
        bucket_stats = changes.groupBy(
            bucket_expr(
                pk[0], snap.num_buckets, key_type=schema[pk[0]].dataType
            ).alias(BUCKET_COL)
        ).agg(F.count(F.lit(1)).alias("_n"))
        file_stats: list[dict] | None = None
        if collect_file_stats and file_col in changes.columns:
            # Fused into the SAME driver action as the pre-scan: the two
            # aggregates read disjoint column slices of the staged batch,
            # so a tagged union costs the same I/O as either alone but one
            # fewer job per epoch (round-2 review item 5). The branches
            # keep their own shuffles; only the collect is shared.
            fstats = changes.groupBy(F.col(file_col).alias("_f")).agg(
                F.min(F.col(lsn_src)).cast("long").alias("_min_lsn"),
                F.max(F.col(lsn_src)).cast("long").alias("_max_lsn"),
                F.count(F.lit(1)).alias("_n"),
            )
            unioned = bucket_stats.select(
                F.lit("b").alias("_t"),
                F.col(BUCKET_COL),
                F.col("_n"),
                F.lit(None).cast("string").alias("_f"),
                F.lit(None).cast("long").alias("_min_lsn"),
                F.lit(None).cast("long").alias("_max_lsn"),
            ).unionByName(
                fstats.select(
                    F.lit("f").alias("_t"),
                    F.lit(None).cast("int").alias(BUCKET_COL),
                    F.col("_n"),
                    F.col("_f"),
                    F.col("_min_lsn"),
                    F.col("_max_lsn"),
                )
            )
            rows = unioned.collect()
            raw_stats = [r for r in rows if r["_t"] == "b"]
            file_stats = [
                {
                    "source_file": r["_f"],
                    "min_lsn": r["_min_lsn"],
                    "max_lsn": r["_max_lsn"],
                    "event_count": r["_n"],
                }
                for r in rows
                if r["_t"] == "f"
            ]
        else:
            raw_stats = bucket_stats.collect()
        touched = sorted(int(r[BUCKET_COL]) for r in raw_stats)
        batch_events = sum(r["_n"] for r in raw_stats)

        hot: list[str] = []
        min_rows = (
            self.HOT_KEY_MIN_ROWS if hot_key_min_rows is None
            else hot_key_min_rows
        )
        hot_floor = max(hot_key_threshold * batch_events, min_rows)
        suspect_buckets = [
            int(r[BUCKET_COL]) for r in raw_stats if r["_n"] >= hot_floor
        ]
        if batch_events > 0 and suspect_buckets:
            # exact per-key pass, restricted to the buckets that COULD
            # contain a hot key (see the gate soundness argument above)
            hot = [
                r["_k"]
                for r in changes.filter(
                    bucket_expr(
                        pk[0], snap.num_buckets, key_type=schema[pk[0]].dataType
                    ).isin(suspect_buckets)
                )
                .groupBy(F.col(pk[0]).alias("_k"))
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") >= hot_floor)
                .select("_k")
                .collect()
            ]

        # batch_events (pre-LWW submitted rows) rides into every commit
        # summary alongside applied_events: the pair is the per-epoch
        # submitted-vs-won lineage a DLQ requeue or an ops dashboard needs,
        # and it is free - the pre-scan already counted it. Every arm
        # commits this one summary through _commit_merge.
        summary = {
            "touched_buckets": [int(b) for b in touched],
            "hot_keys": hot,
            "evolution": evo,
            "file_stats": file_stats,
            **(lineage or {}),
            "batch_events": int(batch_events),
        }

        # (3) the conformed source relation: op -> tombstone flag, lsn
        # column, cast to the (possibly evolved) table schema, bucketed.
        src = (
            changes.withColumn(DELETED_COL, F.col(op_col) == F.lit("DELETE"))
            .withColumn(LSN_COL, F.col(lsn_src).cast("long"))
        )
        if update_mode == "partial":
            src = src.withColumn(PARTIAL_COL, F.col(op_col) == F.lit("UPDATE"))
        src = self._conform(src, schema).withColumn(
            BUCKET_COL, bucket_expr(pk[0], snap.num_buckets)
        )
        # The batch's pk tuples, for the broadcast split below: taken
        # BEFORE the Observation is attached, so the observed src is
        # still consumed exactly once.
        batch_keys = src.select(*[F.col(c).alias(f"_k_{c}") for c in pk])
        # The batch keys, for read_changes: every arm below consumes src
        # exactly once, so the set arrives with the write job - no job,
        # no shuffle. Recorded up to PUSHDOWN_MAX_KEYS pre-LWW events.
        keys_obs = None
        if 0 < batch_events <= self.PUSHDOWN_MAX_KEYS:
            keys_obs = Observation(f"merge_keys_{uuid.uuid4().hex[:8]}")
            src = src.observe(keys_obs, F.collect_set(F.struct(*pk)).alias("k"))
        obs = Observation(f"merge_applied_{uuid.uuid4().hex[:8]}")
        mor = write_mode == "mor"

        # (5-pre) COW broadcast split - only the table rows the batch hits
        # are exchanged (the local storage-partitioned-join analog).
        # Eligible whenever the epoch is an ordinary cold full-update COW
        # merge: no hot keys (the split's unshuffled rows cannot take the
        # salted write layout), no unresolved deltas under the touched
        # buckets (their read-time fold is itself a shuffle), a batch within
        # the broadcast-key cap, and a table side that dwarfs the batch
        # (BROADCAST_TABLE_BATCH_RATIO, exact sidecar counts). Counted
        # inputs alone decide the plan.
        broadcast = bool(
            update_mode == "full"
            and not mor
            and touched
            and not hot
            and not any(snap.deltas.get(str(b)) for b in touched)
            and batch_events <= self.BROADCAST_KEYS_MAX
            and (base_rows := self._base_rows(snap, touched)) is not None
            and base_rows >= self.BROADCAST_TABLE_BATCH_RATIO * batch_events
        )

        if update_mode == "partial":
            # The batch's events, unfolded, are the table's newest delta
            # commit: MOR appends them; COW resolves them with the touched
            # buckets' rows (_resolve_partial) and rewrites those buckets.
            rows = src.withColumn(
                DELTA_SEQ_COL, F.lit(snap.version + 1).cast("long")
            )
            if not mor:
                rows = self._resolved(snap, touched, schema=schema, batch=rows)
            salted = with_salt(
                rows, hot, salt_buckets,
                key=pk[0], sub_key=pk[1] if len(pk) > 1 else pk[0],
            )
            new_files = self._write_data_files(
                salted,
                target_partitions=max(len(touched), 1)
                * (salt_buckets if hot else 1),
            )
            operation = "merge-mor-partial" if mor else "merge-partial"
            plan = None
        elif mor:
            # (5'/6') in-batch LWW winners appended as delta files - no
            # table read, no join; O(batch) write amplification. Rows are
            # stamped with the committing snapshot version so read-time LWW
            # resolves equal-lsn rows across delta commits
            # deterministically (newest commit wins, matching the COW tie
            # rule). The winner count comes out of the write job via the
            # Observation API (no extra action).
            # Single-exchange fold+write (same trick as the small COW
            # plan): repartition once by the write-layout keys, group the
            # LWW by (layout keys + pk) so no second exchange is planned,
            # write pre-partitioned.
            src_s, group_prefix, target_parts = self._single_exchange_layout(
                src, pk, touched, hot, salt_buckets
            )
            winners = lww_dedupe(
                src_s, group_prefix + pk,
                [LSN_COL] + list(order_fields[1:]), strategy="agg",
            )
            winners = winners.observe(obs, F.count(F.lit(1)).alias("applied"))
            winners = winners.withColumn(
                DELTA_SEQ_COL, F.lit(snap.version + 1).cast("long")
            )
            new_files = self._write_data_files(
                winners, target_partitions=target_parts, pre_partitioned=True
            )
            operation, plan = "merge-mor", "mor-delta"
        else:
            # (5) ONE map-side-combining LWW aggregate over (batch ∪
            # resolved current rows of touched buckets): in-batch dedup,
            # batch-vs-table probe and the lsn guard collapse into a single
            # max_by ordered by (lsn, source-over-table, ts). Equal-lsn ties
            # go to the batch row (the "s.lsn >= t._lsn" rule of a guarded
            # MERGE); a DELETE winner IS the tombstone row.
            current = self._resolved(snap, touched, schema=schema)
            rest = None
            if broadcast:
                # Split the table side by ONE broadcast of the batch keys
                # (both joins plan the same BroadcastExchange, which Spark
                # reuses): the hits fold with the batch, the rest keep
                # their row and skip the exchange. Null-safe, as the fold
                # groups a NULL pk field with its equal.
                hit = reduce(
                    lambda a, b: a & b,
                    [F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in pk],
                )
                keys = F.broadcast(batch_keys)
                rest = current.join(keys, hit, "left_anti")
                current = current.join(keys, hit, "leftsemi")
            # SINGLE-exchange plan (round 3): repartition ONCE by the
            # write-layout keys, then run the LWW aggregate GROUPED BY
            # (layout keys + pk). Because the partitioning keys are a
            # subset of the grouping keys, Catalyst proves the exchange
            # satisfies the aggregate's distribution and inserts no second
            # shuffle - the same exchange that co-locates keys for the fold
            # also lays rows out for the per-bucket file write
            # (pre_partitioned=True). Measured ~1.2x per epoch over the
            # former agg-exchange + write-repartition pair at 250k-event
            # epochs. (6) outstanding deltas of the touched buckets are
            # folded in (the resolved read includes them) and cleared at
            # commit.
            union = src.withColumn("_pref", F.lit(1)).unionByName(
                current.withColumn("_pref", F.lit(0))
            )
            union = union.withColumn(
                "_lsn_ord", F.coalesce(F.col(LSN_COL), F.lit(-1))
            )
            union, group_prefix, target_parts = self._single_exchange_layout(
                union, pk, touched, hot, salt_buckets
            )
            merged = lww_dedupe(
                union,
                group_prefix + pk,
                ["_lsn_ord", "_pref"] + list(order_fields[1:]),
                tiebreak_fields=[],
            )
            # applied = keys whose winner came from THIS batch
            merged = merged.observe(obs, F.sum("_pref").alias("applied"))
            merged = merged.drop("_pref", "_lsn_ord")
            if rest is not None:
                merged = merged.unionByName(rest)
            new_files = self._write_data_files(
                merged, target_partitions=target_parts, pre_partitioned=True
            )
            operation = "merge"
            plan = "cow-broadcast" if broadcast else "cow-union"
        # observed inside the write job (no extra action); a partial merge
        # keeps every event, so it applies the batch's event count
        if update_mode == "partial":
            applied = batch_events
        else:
            applied = int(obs.get["applied"] or 0) if touched else 0
        return self._commit_merge(
            snap, schema, schema_version, operation, touched, new_files,
            {"applied_events": applied, **summary, "merge_plan": plan},
            pipeline_id, epoch_id,
            keys=None if keys_obs is None else keys_obs.get["k"],
        )

    def _commit_merge(
        self,
        snap: Snapshot,
        schema: T.StructType,
        schema_version: int,
        operation: str,
        touched: list[int],
        new_files: dict[str, list[str]],
        summary: dict,
        pipeline_id: str | None,
        epoch_id: int | None,
        keys: list | None = None,
    ) -> Snapshot:
        """The one commit tail of every merge arm. The MOR arms
        (``merge-mor``, ``merge-mor-partial``) append their files to the
        buckets' delta chains; the partial one also marks those buckets
        as holding overlay rows. The COW arms replace the touched buckets'
        files and clear their delta chains (``Snapshot.rewritten``), after
        checking that no bucket outside the touched set was written.

        ``keys``, the batch's distinct pk tuples, are written sorted and
        typed as the pk to one zstd Parquet sidecar under ``_meta/keys/``;
        the summary names it (``changed_keys_file``) and counts its keys
        (``changed_keys``) for :meth:`_recorded_keys`. A key with a NULL
        field records nothing: no literal filter can match it."""
        rows = [tuple(k) for k in keys or []]  # a Row's `in` reads names
        if rows and not any(None in r for r in rows):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema

            pk = list(snap.pk_fields)
            rows.sort()
            table = pa.Table.from_pylist(
                [dict(zip(pk, r)) for r in rows],
                schema=to_arrow_schema(
                    T.StructType([schema[c] for c in pk]), timestamp_utc=False
                ),
            )
            path = self._keys_dir / f"{uuid.uuid4().hex[:12]}.parquet"
            path.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(table, path, compression="zstd")
            summary = {
                **summary,
                "changed_keys": len(rows),
                "changed_keys_file": str(path.relative_to(self.root)),
            }
        if operation.startswith("merge-mor"):
            files = snap.files
            deltas = {
                **snap.deltas,
                **{b: snap.deltas.get(b, []) + fl for b, fl in new_files.items()},
            }
        else:
            # Safety net behind the typed pre-scan: a written bucket outside
            # the touched set means its current rows were NOT joined -
            # committing it would lose data. Fail loudly instead.
            stray = set(new_files) - {str(b) for b in touched}
            if stray:
                raise RuntimeError(
                    f"{operation} wrote buckets {sorted(stray)} outside the "
                    f"touched set {touched}; pre-scan/winner bucket "
                    "assignment diverged (stored rows mis-bucketed? a full "
                    "compact(), no bucket list, re-hashes every row)"
                )
            files, deltas = snap.rewritten(touched, new_files)
        return self._commit_write(
            snap, files, schema, schema_version, operation, pipeline_id,
            epoch_id, summary, deltas=deltas,
            partial_buckets_add=(
                sorted(new_files) if operation == "merge-mor-partial" else None
            ),
        )

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def maybe_compact(
        self,
        max_delta_files_per_bucket: int = 8,
        max_base_files_per_bucket: int | None = None,
    ) -> Snapshot | None:
        """Compact ONLY buckets that are due - the operational policy that
        bounds read amplification without rewriting healthy buckets:

          * a merge-on-read delta chain at ``max_delta_files_per_bucket``
            (every read of the bucket resolves its whole chain);
          * optionally, a BASE file list at ``max_base_files_per_bucket``
            - the small-file problem append-heavy tables accumulate (each
            append adds files per bucket; scans then pay per-file open
            cost and the footer-stats pass grows).

        Per-bucket, so at cluster scale compaction parallelizes and runs
        off the ingest path. Returns the compaction snapshot, or None when
        no bucket is due."""
        snap = self.snapshot()
        due = {
            int(b)
            for b, fl in snap.deltas.items()
            if len(fl) >= max_delta_files_per_bucket
        }
        if max_base_files_per_bucket is not None:
            due |= {
                int(b)
                for b, fl in snap.files.items()
                if len(fl) >= max_base_files_per_bucket
            }
        if not due:
            return None
        return self.compact(buckets=sorted(due))

    def verify_integrity(self, check_data: bool = True) -> dict:
        """Table fsck - the invariant audit an operator runs after an
        incident (disk loss, manual surgery, suspected bug) before
        trusting the table again. Metadata checks are driver-side over
        the manifests; ``check_data=True`` adds ONE Spark job asserting
        the live-row pk-uniqueness invariant (the A2 contract every
        merge preserves).

        Checks:
          * every file referenced by the current snapshot exists on disk
            (base, delta, manifests);
          * snapshot chain parents resolve within retained history
            (older parents may be legitimately expired);
          * bucket keys in files/deltas are within ``num_buckets``;
          * index specs (pk bloom, NDV, secondary blooms) agree with
            the current schema;
          * live rows are pk-unique (data job, optional);
          * orphan count (vacuum dry-run) - informational, not an error.

        Returns ``{"ok": bool, "errors": [...], "warnings": [...],
        "checked_files": n, "orphans": n}``. Never mutates anything."""
        snap = self.snapshot()
        errors: list[str] = []
        warnings: list[str] = []
        refs = [
            ("base", rel)
            for rels in snap.files.values()
            for rel in rels
        ] + [
            ("delta", rel)
            for rels in snap.deltas.values()
            for rel in rels
        ] + [("manifest", ref) for ref in snap.manifest_refs.values()]
        for kind, rel in refs:
            if not (self.root / rel).is_file():
                errors.append(f"missing {kind} file: {rel}")
        retained = set(self.retained_versions())
        for v in retained:
            s = self.snapshot(v)
            if s.parent is not None and s.parent not in retained:
                warnings.append(
                    f"v{v} parent v{s.parent} expired (history truncated)"
                )
        for fmap, label in ((snap.files, "files"), (snap.deltas, "deltas")):
            bad = [b for b in fmap if not 0 <= int(b) < snap.num_buckets]
            if bad:
                errors.append(
                    f"{label} carry out-of-range bucket ids {bad} "
                    f"(num_buckets={snap.num_buckets})"
                )
        names = {f.name for f in snap.schema.fields}
        for name, kind, _, spec, _ in self._indexes():
            if kind == "pk-bloom":
                if spec.get("pk_fields") != list(snap.pk_fields):
                    errors.append(
                        f"bloom index built for pk {spec.get('pk_fields')} "
                        f"but table pk is {list(snap.pk_fields)}"
                    )
            elif kind == "hll-ndv":
                gone = [c for c in spec.get("cols", []) if c not in names]
                if gone:
                    warnings.append(
                        f"ndv sketches track dropped column(s) {gone}"
                    )
            elif (col := name.split(":", 1)[1]) not in names:
                warnings.append(
                    f"secondary index tracks dropped column {col!r}"
                )
        if check_data and not errors:
            pk = list(snap.pk_fields)
            # The uniqueness check runs PRE-resolution, on the base
            # rows: self.read() applies read-time LWW whenever deltas
            # exist, which makes post-resolution rows pk-unique by
            # construction - a tautology that would mask duplicated or
            # mis-bucketed base rows. Base rows are the invariant every
            # COW write maintains (one row per pk); delta rows are
            # legitimately multi-versioned per pk and stay out of scope.
            base = self._read_files(snap, None)
            dup = (
                base.groupBy(*pk)
                .count()
                .filter(F.col("count") > 1)
                .take(1)
            )
            if dup:
                errors.append(
                    f"base rows are NOT pk-unique (e.g. "
                    f"{ {c: dup[0][c] for c in pk} })"
                )
            # mis-bucketing: a base row whose stored _bucket disagrees
            # with bucket_expr(pk) under the current schema, OR a file
            # listed under the WRONG bucket's manifest entry - either
            # way the row is invisible to every touched-bucket merge
            # probe: silent duplication waiting to happen. Manifest
            # placement is checked by joining each row's source file
            # (part-file names are globally unique) against the
            # manifest's file->bucket map, broadcast-sized at O(files).
            # keyed by the last TWO path segments (bucket dir +
            # part-file name): a dynamic-partition task reuses one part
            # name across every bucket dir it writes, so the file name
            # alone is ambiguous within a commit.
            pathmap = self.spark.createDataFrame(
                [
                    (f"{Path(rel).parent.name}/{Path(rel).name}", int(b))
                    for b, rels in snap.files.items()
                    for rel in rels
                ]
                or [("__none__", -1)],
                "_fname string, _mb int",
            ).dropDuplicates(["_fname"])
            parts = F.split(F.input_file_name(), "/")
            mis = (
                base.withColumn(
                    "_fname",
                    F.concat_ws(
                        "/", F.element_at(parts, -2), F.element_at(parts, -1)
                    ),
                )
                .join(F.broadcast(pathmap), "_fname", "left")
                .filter(
                    (
                        F.col(BUCKET_COL)
                        != bucket_expr(
                            pk[0], snap.num_buckets,
                            key_type=snap.schema[pk[0]].dataType,
                        )
                    )
                    | (F.col(BUCKET_COL) != F.col("_mb"))
                )
                .take(1)
            )
            if mis:
                errors.append(
                    f"mis-bucketed base row (e.g. "
                    f"{ {c: mis[0][c] for c in pk} } stored bucket "
                    f"{mis[0][BUCKET_COL]}, manifest bucket "
                    f"{mis[0]['_mb']}); a full compact() (no bucket list) "
                    "re-hashes every row"
                )
        orphans = sum(
            len(v) for v in self.vacuum(dry_run=True, older_than_s=0).values()
        )
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "checked_files": len(refs),
            "orphans": orphans,
        }

    def optimize(
        self,
        max_delta_files_per_bucket: int = 8,
        max_base_files_per_bucket: int | None = 16,
        keep_snapshots: int = 10,
        vacuum_older_than_s: float = 3600.0,
        refresh_indexes: bool = True,
    ) -> dict:
        """ONE maintenance pass (the ``OPTIMIZE`` ops entry point): run
        every upkeep the table needs, in dependency order, each priced by
        what actually changed - the scheduled job a production deployment
        points at a table instead of remembering five commands.

          1. policy compaction (:meth:`maybe_compact` - due buckets only;
             a persistent sort order set via :meth:`set_sort_order` is
             restored automatically by the rewrite),
          2. retire rename mappings the rewrite made obsolete
             (restores predicate pushdown on renamed columns),
          3. refresh every index IF PRESENT - pk bloom, NDV, secondary
             blooms (never creates one - opting into an index is a
             separate decision; refresh touches only churned buckets),
          4. expire snapshots beyond ``keep_snapshots`` (tags shielded),
          5. vacuum orphans older than the grace window.

        Every step is idempotent and crash-safe on its own (the same
        commit/marker machinery as ingest), so optimize needs no
        transaction around the sequence - a crash mid-pass leaves a
        table a later pass finishes. Returns a step-by-step report."""
        report: dict = {}
        snap = self.maybe_compact(
            max_delta_files_per_bucket=max_delta_files_per_bucket,
            max_base_files_per_bucket=max_base_files_per_bucket,
        )
        report["compacted"] = (
            snap.summary.get("compacted_buckets") if snap else []
        )
        report["retired_renames"] = self.retire_renames()
        report["indexes"] = {}
        if refresh_indexes:
            # a broken index spec (e.g. stale after a crash mid-rename)
            # must not starve the downstream steps - expiry and vacuum
            # are what keep the table bounded; the error is reported for
            # the operator to repair (fsck names the mismatch)
            for name, _, _, spec, refresh in self._indexes():
                try:
                    result = refresh(spec)
                except ValueError as e:
                    result = {"error": str(e)}
                if result is not None:
                    report["indexes"][name] = result
        report["expired_snapshots"] = self.expire_snapshots(
            keep_last=keep_snapshots
        )
        removed = self.vacuum(older_than_s=vacuum_older_than_s)
        report["vacuumed"] = {k: len(v) for k, v in removed.items()}
        return report

    def meta(self, kind: str, version: int | None = None) -> DataFrame:
        """Queryable METADATA TABLES (Iceberg ``table$files`` /
        ``$snapshots`` / ``$partitions`` / ``$manifests`` analog): the
        table's own bookkeeping as DataFrames, so ops questions ("which
        commit grew the table?", "how skewed are the buckets?", "what
        does epoch 17 reference?") are ordinary Spark queries instead of
        bespoke scripts.

        Kinds:
          - ``snapshots``: one row per RETAINED snapshot - version,
            parent, operation, committed_at, schema_version, num_buckets,
            file/delta counts, tags, summary (JSON string).
          - ``files``: one row per file referenced by the target snapshot
            (base AND delta) - bucket, path, kind, size_bytes, row_count.
          - ``partitions``: per-bucket rollup of ``files``.
          - ``manifests``: bucket -> manifest ref of the target snapshot.

        Cost model matches Iceberg's metadata scans: driver-side over the
        manifests, O(retained snapshots) or O(referenced files) - file
        rows read each parquet FOOTER (row counts/sizes), never data.
        The result is a normal DataFrame; at realistic file counts
        (thousands per table) this is a single small partition."""
        snap = self.snapshot(version)
        if kind == "snapshots":
            by_version: dict[int, list[str]] = {}
            for t, v in self.tags().items():
                by_version.setdefault(int(v), []).append(t)
            rows = [
                (
                    s.version,
                    s.parent,
                    s.operation,
                    datetime.datetime.fromtimestamp(
                        s.committed_at, datetime.timezone.utc
                    ),
                    s.schema_version,
                    s.num_buckets,
                    sum(len(f) for f in s.files.values()),
                    sum(len(f) for f in s.deltas.values()),
                    sorted(by_version.get(s.version, [])),
                    json.dumps(s.summary, sort_keys=True),
                )
                for s in self.history()
            ]
            schema = (
                "version long, parent long, operation string, "
                "committed_at timestamp, schema_version long, "
                "num_buckets long, data_files long, delta_files long, "
                "tags array<string>, summary string"
            )
            return self.spark.createDataFrame(rows, schema)
        if kind == "files":
            import pyarrow.parquet as pq

            rows = []
            for fkind, fmap in (("base", snap.files), ("delta", snap.deltas)):
                for b, rels in fmap.items():
                    for rel in rels:
                        p = self.root / rel
                        md = pq.ParquetFile(str(p)).metadata
                        rows.append(
                            (
                                int(b), rel, fkind,
                                p.stat().st_size, md.num_rows,
                                md.num_row_groups,
                            )
                        )
            schema = (
                "bucket int, path string, kind string, size_bytes long, "
                "row_count long, row_groups long"
            )
            return self.spark.createDataFrame(rows, schema)
        if kind == "partitions":
            files = self.meta("files", version)
            return (
                files.groupBy("bucket")
                .agg(
                    F.sum(F.when(F.col("kind") == "base", 1).otherwise(0))
                    .cast("long").alias("data_files"),
                    F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0))
                    .cast("long").alias("delta_files"),
                    F.sum("size_bytes").alias("size_bytes"),
                    F.sum("row_count").alias("row_count"),
                )
                .orderBy("bucket")
            )
        if kind == "manifests":
            rows = [
                (int(b), ref, len(snap.files.get(b, [])), len(snap.deltas.get(b, [])))
                for b, ref in sorted(
                    snap.manifest_refs.items(), key=lambda kv: int(kv[0])
                )
            ]
            return self.spark.createDataFrame(
                rows,
                "bucket int, manifest string, data_files long, delta_files long",
            )
        if kind == "indexes":
            rows = [
                (name, ikind, json.dumps(spec, sort_keys=True), len(store.buckets()))
                for name, ikind, store, spec, _ in self._indexes()
            ]
            return self.spark.createDataFrame(
                rows, "name string, kind string, spec string, buckets long"
            )
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(snapshots|files|partitions|manifests|indexes)"
        )

    def describe(self, version: int | None = None, with_sizes: bool = False) -> dict:
        """Table-health report for operators and maintenance schedulers,
        computed driver-side from the manifests (no Spark job): layout,
        per-bucket file/delta-chain distribution (max + p99-ish top-3, the
        numbers that tell you WHICH policy knob to turn), pipeline epoch
        markers and retained snapshot count. ``with_sizes=True`` adds
        total bytes via per-file stat calls - O(files), fine for a
        maintenance cadence, skipped by default."""
        snap = self.snapshot(version)
        f_counts = sorted((len(fl) for fl in snap.files.values()), reverse=True)
        d_counts = sorted((len(fl) for fl in snap.deltas.values()), reverse=True)
        report = {
            "version": snap.version,
            "operation": snap.operation,
            "schema_version": snap.schema_version,
            "num_buckets": snap.num_buckets,
            "pk_fields": list(snap.pk_fields),
            "data_files": sum(f_counts),
            "delta_files": sum(d_counts),
            "buckets_with_data": len(f_counts),
            "buckets_with_deltas": len(d_counts),
            "max_files_per_bucket": (f_counts[0] if f_counts else 0),
            "top_file_buckets": f_counts[:3],
            "max_delta_chain": (d_counts[0] if d_counts else 0),
            "top_delta_chains": d_counts[:3],
            "partial_delta_buckets": list(
                snap.properties.get("partial_delta_buckets", [])
            ),
            "sort_order": snap.properties.get("sort_order"),
            "pipelines": {
                p: int(v.get("last_epoch", -1))
                for p, v in snap.properties.get("pipelines", {}).items()
            },
            "snapshots_retained": len(self.retained_versions()),
        }
        if with_sizes:
            total = 0
            for fl in list(snap.files.values()) + list(snap.deltas.values()):
                for rel in fl:
                    p = self.root / rel
                    if p.is_file():
                        total += p.stat().st_size
            report["total_bytes"] = total
        return report

    def _rebucket_once(self, new_num_buckets: int) -> Snapshot:
        """Scale the bucket count (Iceberg partition-evolution analog for
        the hidden ``bucket(N, pk)`` transform): :meth:`_rehash` at the
        new count, or the head unchanged when the count is the same.

        Why it exists: buckets are the unit of merge parallelism, rewrite
        granularity and manifest sharding - a table created at 8 buckets
        that grows to 100 TB needs thousands, and without this operation
        ``num_buckets`` is frozen at creation (SCALE.md sizing note).
        Iceberg solves growth with spec evolution; the equivalent here is
        a single explicit rewrite, run off the ingest path like
        compaction."""
        if new_num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
        snap = self.snapshot()
        if new_num_buckets == snap.num_buckets:
            return snap
        return self._rehash(snap, new_num_buckets, snap.schema, snap.schema_version)

    def _rehash(
        self,
        snap: Snapshot,
        num_buckets: int,
        schema: T.StructType,
        schema_version: int,
    ) -> Snapshot:
        """Rewrite ``snap``'s rows under ``pmod(xxhash64(pk0), num_buckets)``
        with pk0 typed as in ``schema`` in one shuffle, and commit the
        result as ``snap``'s child, operation ``rebucket``, holding
        ``schema``. The one place rows move between buckets besides full
        compaction's heal: :meth:`rebucket` calls it for a new count, the
        schema gate (:meth:`_gate`) at the same count when a write changes
        pk0's type (xxhash64 hashes int and long differently).

        Semantics: the full resolved state (MOR delta chains folded,
        tombstones preserved with their lsns so the LWW redelivery guard
        survives the rewrite) is re-hashed, pk-clustered per file. Epoch
        markers carry over - exactly-once pipelines resume unaffected;
        subsequent merges read ``num_buckets`` from the new snapshot and
        just work. Time travel to older versions reads the old layout
        (each snapshot owns its bucket count). Concurrent writers lose
        the snapshot race and recompute against the new layout (a
        rebucket changes the bucket count or the schema version, and the
        metadata rebase refuses to splice across either); a lost race
        raises CommitConflictError to the caller's retry."""
        pk = snap.pk_fields
        # read under schema, so pk0 already has the type it hashes as
        df = self._resolved(snap, None, schema=schema).withColumn(
            BUCKET_COL, bucket_expr(pk[0], num_buckets)
        )
        new_files = self._write_data_files(
            df, target_partitions=num_buckets, cluster_by=list(pk)
        )
        # every delta chain was folded into full base rows above
        out = snap.child(
            "rebucket",
            {"from_buckets": snap.num_buckets, "to_buckets": num_buckets},
            num_buckets=num_buckets, files=new_files, deltas={},
            schema_json=json.loads(schema.json()), schema_version=schema_version,
        )
        return self._commit(out, parent=snap)

    def _dml_once(
        self,
        condition,
        assignments: dict | None,
        prune: dict[str, tuple] | None = None,
    ) -> Snapshot | None:
        """Predicate DELETE / UPDATE on the table (Iceberg `DELETE FROM t
        WHERE ...` / `UPDATE t SET ... WHERE ...` analog, copy-on-write):
        the out-of-band DML a CDC-fed lake still needs - GDPR erasure,
        backfill corrections, redaction - without synthesizing change
        events.

        ``condition`` is a SQL string or Column over the table's schema,
        evaluated against LIVE rows only. ``assignments`` maps payload
        column -> value (Column or literal; pk and system columns are
        rejected; values are cast to the column's declared type so the
        schema never drifts); ``None`` means DELETE. ``prune`` optionally
        gives ``{col: (lo, hi)}`` ranges for file-level stats skipping
        during bucket discovery (same contract as :meth:`read`).

        Plan shape (scales like compaction, not like a table rewrite):
          1. DISCOVERY - one bucket-pruned scan finds the distinct buckets
             holding matching live rows (predicate pushed into the parquet
             scan; O(buckets) driver result).
          2. REWRITE - only those buckets are read (MOR delta chains
             resolved, so the rewrite doubles as their compaction), hit
             rows are tombstoned (DELETE) or assigned (UPDATE), and the
             buckets' file lists are replaced in one snapshot commit.
        An untouched bucket keeps its manifest by structural sharing; a
        predicate matching nothing commits nothing and returns None.

        LWW placement: DML keeps each row's stored ``_lsn`` - the edit
        sits at the row's existing point in the change timeline. A change
        event with lsn >= the row's still wins (the engine's universal
        newer-source-wins-ties rule; by design the stream stays the source
        of truth for new facts, and an equal-lsn redelivery of the
        original event restores it), while an event with a strictly lower
        lsn cannot resurrect or un-edit. Callers needing DML durable
        against equal-lsn redelivery should quiesce the pipeline past the
        row's lsn first - the same watermark contract
        compact(purge_tombstones_below_lsn=...) documents. DELETE
        tombstones become physical erasure through the normal chain:
        compact(purge) + expire_snapshots + vacuum."""
        snap = self.snapshot()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        schema_cols = {f.name: f.dataType for f in snap.schema.fields}
        if assignments is not None:
            bad = [
                c
                for c in assignments
                if c not in schema_cols or c in snap.pk_fields
            ]
            if bad:
                raise ValueError(
                    f"update_where cannot assign {bad}: pk or unknown column"
                )
        live = self.read(version=snap.version, where=prune, include_system=True)
        target = sorted(
            int(r[0])
            for r in live.filter(cond).select(BUCKET_COL).distinct().collect()
        )
        if not target:
            return None
        df = self._resolved(snap, target)
        hit = (~F.coalesce(F.col(DELETED_COL), F.lit(False))) & cond
        if assignments is None:
            df = df.withColumn(
                DELETED_COL, F.when(hit, F.lit(True)).otherwise(F.col(DELETED_COL))
            )
        else:
            df = self._assign_projection(df, assignments, hit, schema_cols)
        new_files = self._write_data_files(
            df,
            target_partitions=max(len(target), 1),
            cluster_by=list(snap.pk_fields),
            bloom_cols=list(snap.pk_fields),
        )
        files, deltas = snap.rewritten(target, new_files)
        return self._commit_write(
            snap, files, snap.schema, snap.schema_version,
            "delete" if assignments is None else "update", None, None,
            {"dml_buckets": [int(b) for b in target]},
            deltas=deltas,
        )

    def _compact_once(
        self,
        purge_tombstones_below_lsn: int | None = None,
        buckets: list[int] | None = None,
        cluster: bool = True,
        cluster_cols: list[str] | None = None,
        cluster_mode: str | None = None,
        max_records_per_file: int | None = None,
    ) -> Snapshot:
        """Rewrite buckets to merge small files and fold outstanding
        merge-on-read deltas into the base; optionally purge tombstones
        whose _lsn is below a watermark the stream has passed (safe: no
        in-flight event can carry a lower lsn).

        ``cluster`` (default) additionally sorts rows by the pk inside
        each rewritten file so parquet row groups carry tight key ranges -
        point lookups and key-range scans then skip row groups via the
        ordinary parquet pushdown, complementing the file-level stats
        sidecars. ``cluster_cols`` overrides the sort key: clustering by
        a time column instead (e.g. ``["ts"]``) gives each parquet ROW
        GROUP a tight range on that column, so time-range predicates skip
        row groups inside every file the scan does open (file-level
        min/max can't narrow within a bucket's single file; the in-file
        sort is what makes the residual filter cheap) - pick the column
        your dominant read predicate filters on, the same layout choice
        Delta's OPTIMIZE ZORDER makes. Compaction is exactly where
        clustering belongs: the ingest path stays sort-free and the
        background rewrite pays the sort once per file, off the hot
        path.

        ``cluster_mode="zorder"`` interleaves the cluster columns into a
        Morton code (Delta ``OPTIMIZE ZORDER BY`` analog, lake/zorder.py)
        so ONE layout serves range/point predicates on ALL of them;
        combined with ``max_records_per_file`` the sorted run splits into
        bounded files whose stats sidecars carry tight per-dimension
        ranges - multi-column predicates then skip whole files, not just
        row groups. Quantization bounds come from the existing sidecars
        (driver-side, zero jobs) with a one-row aggregate fallback for
        uncovered columns; bound quality affects clustering only, never
        answers. When neither ``cluster_cols`` nor ``cluster_mode`` is
        given, the table's persistent sort order (:meth:`set_sort_order`,
        the Iceberg table-sort-order analog) applies, so routine
        ``maybe_compact`` maintenance keeps the declared layout."""
        snap = self.snapshot()
        if buckets is not None:
            target = buckets
        else:
            target = sorted(
                {int(b) for b in snap.files} | {int(b) for b in snap.deltas}
            )
        df = self._resolved(snap, target)
        if buckets is None:
            # Full compaction also HEALS stored buckets against the current
            # schema's hashing (no-op under the stored-bucket invariant;
            # repairs tables where an append widened the pk before the
            # schema gate rebucketed such writes). Partial compaction
            # preserves stored buckets - a healed row could land outside
            # the compacted set.
            df = df.withColumn(
                BUCKET_COL,
                bucket_expr(
                    snap.pk_fields[0],
                    snap.num_buckets,
                    key_type=snap.schema[snap.pk_fields[0]].dataType,
                ),
            )
        if purge_tombstones_below_lsn is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col(DELETED_COL), F.lit(False))
                    & (F.col(LSN_COL) < purge_tombstones_below_lsn)
                )
            )
        sort_cols, sort_mode = self._resolve_cluster_spec(
            snap, cluster_cols, cluster_mode
        )
        if sort_cols and sort_mode == "zorder":
            from dataingestion_spark.lake.zorder import zorder_expr

            bounds = self._zorder_bounds(snap, sort_cols, target, df)
            # pk tiebreak after the Morton code keeps point lookups on
            # row-group dictionary/min-max as sharp as linear clustering
            cluster_by = [zorder_expr(sort_cols, bounds, snap.schema)] + [
                F.col(c) for c in snap.pk_fields
            ]
        elif sort_cols:
            cluster_by = list(sort_cols)
        else:
            cluster_by = list(snap.pk_fields) if cluster else None
        new_files = self._write_data_files(
            df,
            target_partitions=max(len(target), 1),
            cluster_by=cluster_by,
            bloom_cols=list(snap.pk_fields),
            max_records_per_file=max_records_per_file,
        )
        files, deltas = snap.rewritten(target, new_files)
        return self._commit_write(
            snap, files, snap.schema, snap.schema_version, "compact", None, None,
            {
                "compacted_buckets": [int(b) for b in target],
                # rebase guard: a purging compaction is NOT state-preserving,
                # so concurrent commits must recompute rather than splice
                "purged_below_lsn": purge_tombstones_below_lsn,
                **(
                    {"cluster_cols": list(sort_cols), "cluster_mode": sort_mode}
                    if sort_cols
                    else {}
                ),
            },
            deltas=deltas,
        )

    # ------------------------------------------------------------------
    # maintenance: snapshot expiry + orphan-file vacuum
    # ------------------------------------------------------------------
    def expire_snapshots(
        self, keep_last: int = 10, dry_run: bool = False
    ) -> list[int]:
        """Delete snapshot version files older than the newest
        ``keep_last`` (Iceberg's expire_snapshots). Time travel to an
        expired version stops working; the data/manifest/chunk files only
        those versions referenced become orphans, reclaimed by
        ``vacuum()``. The CURRENT version is always retained, and so is
        every TAGGED version (dataset releases outlive retention until
        their tag is dropped). Driver-side metadata ops only -
        O(versions), no Spark job."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.retained_versions()
        tagged = set(self.tags().values())
        expired = [v for v in versions[:-keep_last] if v not in tagged]
        if not dry_run:
            for v in expired:
                self._snapshot_path(v).unlink()
                self._snap_cache.pop(v, None)
        return expired

    def vacuum(
        self, older_than_s: float = 3600.0, dry_run: bool = False
    ) -> dict[str, list[str]]:
        """Remove orphan data/manifest/chunk files and changed-key sidecars
        referenced by NO live snapshot (failed commits, expired versions,
        replaced COW files).
        Only files older than ``older_than_s`` seconds are touched: a
        commit writes its data and manifest files BEFORE the O_EXCL
        snapshot publish, so the grace window keeps vacuum safe to run
        concurrently with writers (the remove-orphans ``olderThan``
        contract). Driver-side file ops, O(total files) - a maintenance
        pass scheduled off the ingest path, exactly like compaction."""
        referenced: set[str] = set()
        # every chain's snapshots are live roots: main (v*.json) AND every
        # WAP branch (B-*-v*.json) - a staged branch's data files must
        # survive vacuum until the branch is dropped
        for p in sorted(self._snap_dir.glob("*.json")):
            d = json.loads(p.read_text())
            for ref in (d.get("manifest_refs") or {}).values():
                referenced.add(ref)
                m = json.loads((self.root / ref).read_text())
                for cref in m.get("chunks", []):
                    referenced.add(cref)
                    c = json.loads((self.root / cref).read_text())
                    referenced.update(c.get("files", []))
                    referenced.update(c.get("deltas", []))
                referenced.update(m.get("files", []))
                referenced.update(m.get("deltas", []))
            # legacy snapshots carried file lists inline
            for fl in (d.get("files") or {}).values():
                referenced.update(fl)
            for fl in (d.get("deltas") or {}).values():
                referenced.update(fl)
            referenced.add((d.get("summary") or {}).get("changed_keys_file"))
        cutoff = time.time() - older_than_s
        removed: dict[str, list[str]] = {"data": [], "manifests": [], "keys": []}

        def _sweep(paths, kind):
            for p in paths:
                rel = str(p.relative_to(self.root))
                if rel in referenced:
                    continue
                try:
                    if p.stat().st_mtime > cutoff:
                        continue
                    removed[kind].append(rel)
                    if not dry_run:
                        p.unlink()
                except FileNotFoundError:
                    continue  # concurrent vacuum/writer cleanup - fine

        _sweep(self.root.glob("data/*/*/*.parquet"), "data")
        if self._manifest_dir.is_dir():
            _sweep(self._manifest_dir.glob("*.json"), "manifests")
        _sweep(self._keys_dir.glob("*.parquet"), "keys")
        if not dry_run:
            # drop commit dirs left holding no parquet (only write-marker
            # files like _SUCCESS remain), respecting the same grace window
            for cdir in self.root.glob("data/*"):
                if not cdir.is_dir() or cdir.stat().st_mtime > cutoff:
                    continue
                if any(cdir.rglob("*.parquet")):
                    continue
                shutil.rmtree(cdir, ignore_errors=True)
        return removed
