"""Dataset / pipeline configuration.

Replaces the reference's Postgres-backed metastore dataset entity
(/root/reference/spark/src/main/scala/com/example/core/IngestionConfig.scala:29-37
MetastoreDataset: id, name, kafkaTopic, mode, pkFields, partitionKeys,
transformJars) with a plain dataclass + JSON file. Unlike the reference,
which silently uses only the FIRST pk field
(/root/reference/spark/src/main/scala/com/example/Phase2Job.scala:139),
we support composite primary keys - (conv_id, turn_idx) for transcripts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields, asdict
from pathlib import Path


TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TRANSCRIPT_PK = ["conv_id", "turn_idx"]

# CDC ordering columns (binlog position analog + event-time tiebreak),
# mirroring Hudi's precombine field config in the reference
# (/root/reference/spark/src/main/scala/com/example/core/SparkUtils.scala:134,140).
ORDER_COLUMNS = ["lsn", "ts"]

OP_COLUMN = "op"
OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"


@dataclass
class DatasetConfig:
    """Everything the apply pipeline needs to know about one dataset."""

    name: str
    table_path: str
    pk_fields: list[str] = field(default_factory=lambda: list(TRANSCRIPT_PK))
    # "upsert" (keyed MERGE, Hudi-mode analog) or "append" (Parquet-mode
    # analog, /root/reference/spark/src/main/scala/com/example/Phase2Job.scala:130-149).
    mode: str = "upsert"
    order_fields: list[str] = field(default_factory=lambda: list(ORDER_COLUMNS))
    num_buckets: int = 32
    # Dotted-path strings resolving to DataFrame->DataFrame callables -
    # the idiomatic substitute for the reference's S3-JAR transformer
    # loading (/root/reference/spark/src/main/scala/com/example/core/TransformerLoader.scala).
    transformers: list[str] = field(default_factory=list)
    # Skew handling: conversations whose per-batch event count exceeds this
    # share of the batch are salted into sub-partitions (SURVEY.md §4).
    # A key must ALSO hold at least hot_key_min_rows rows - salting splits
    # physically oversized partitions, so a fractional share of a
    # micro-batch is never by itself "hot" (None = LakeTable.HOT_KEY_MIN_ROWS).
    hot_key_threshold: float = 0.05
    hot_key_min_rows: int | None = None
    salt_buckets: int = 8
    # Fail the pipeline on breaking schema changes (reference fail-fast,
    # /root/reference/spark/src/main/scala/com/example/core/SchemaEvolution.scala:114-137).
    fail_on_breaking_schema: bool = True
    # Which NON-breaking changes auto-evolve: "full" (additions +
    # widenings, reference inferred-schema behavior), "additive" (new
    # nullable columns only), "frozen" (none - pinned serving contract).
    # Policy-blocked changes land in the ledger as BLOCKED and obey
    # fail_on_breaking_schema.
    evolution_policy: str = "full"
    # Upsert write strategy: "cow" (copy-on-write rewrite of touched
    # buckets, Hudi-COW/reference parity) or "mor" (merge-on-read delta
    # files + read-time LWW + compaction; O(batch) write amplification
    # for 10^10-event replay scale).
    write_mode: str = "cow"
    # MOR read-amplification bound: after each applied epoch, buckets whose
    # delta chain reaches this many files are compacted (0 disables - run
    # compaction out-of-band via the CLI instead).
    compact_delta_files: int = 0
    # UPDATE semantics: "full" (full-row replace, Hudi/Iceberg MERGE
    # parity) or "partial" (the reference replay oracle's dict-merge -
    # NULL payload columns on an UPDATE mean "not set"; required for
    # Mongo $set change streams, demo/test_pipeline.sh:244-262).
    update_mode: str = "full"
    # CHECK constraints (Delta table-constraints analog): SQL predicates
    # over the change row that must hold for non-DELETE events; violating
    # rows go to the dead-letter quarantine instead of failing the batch.
    # Only enforced when the pipeline runs with a quarantine dir.
    constraints: list[str] = field(default_factory=list)
    # Continuously maintained aggregate views (streaming materialized
    # views): after each applied epoch, every spec {"path": ..., "group":
    # [cols], "sums": [cols]} is incrementally synced off the table's
    # changelog (lake/sync.py sync_aggregate) - cost per epoch scales
    # with that epoch's change volume, and exactly-once rides the view's
    # own source-version epoch markers.
    agg_views: list[dict] = field(default_factory=list)
    # Continuously maintained SCD Type-2 history (streaming materialized
    # history): after each applied epoch the history table at this path
    # is incrementally synced off the changelog (lake/sync.py
    # sync_scd2) - every committed table state remains sliceable by
    # source version forever, at per-epoch cost bounded by the epoch's
    # change volume.
    scd2_history: str | None = None

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2)

    @classmethod
    def from_json(cls, text: str) -> "DatasetConfig":
        d = json.loads(text)
        # Configs saved before the COW plan became a function of row
        # counts carry this key; every value it held now means the same.
        d.pop("cow_plan_adaptive", None)
        unknown = sorted(set(d) - {f.name for f in fields(cls)})
        if unknown:
            raise ValueError(f"unknown DatasetConfig key(s): {unknown}")
        return cls(**d)

    @classmethod
    def load(cls, path: str | Path) -> "DatasetConfig":
        return cls.from_json(Path(path).read_text())

    def save(self, path: str | Path) -> None:
        Path(path).write_text(self.to_json())
