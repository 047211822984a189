"""Shared per-bucket index store: the ``_meta/<name>/`` layout every
file-side index uses - ``spec.json`` head (hash family / precision /
tracked columns, the one-index-one-spec contract) plus one
``bucket-<b>.json`` shard per bucket, every write tmp+rename
(crash-safe, idempotent re-runs). The pk bloom index (lake/bloom.py),
each secondary bloom (``_meta/bloom-col-<col>/``) and the NDV sketches
(lake/ndv.py) are instances, listed together by ``LakeTable._indexes``;
each gets the same durability and the same maintenance discipline:
touch only the buckets whose file sets changed."""

from __future__ import annotations

import json
import os
from pathlib import Path


class ShardStore:
    def __init__(self, table_root: Path, name: str):
        self.dir = Path(table_root) / "_meta" / name

    @property
    def spec_path(self) -> Path:
        return self.dir / "spec.json"

    def spec(self) -> dict | None:
        p = self.spec_path
        return json.loads(p.read_text()) if p.is_file() else None

    def write_spec(self, spec: dict) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        self._atomic(self.spec_path, json.dumps(spec, indent=1, sort_keys=True))

    def bucket_path(self, bucket: int | str) -> Path:
        return self.dir / f"bucket-{int(bucket)}.json"

    def load_bucket(self, bucket: int | str) -> dict:
        p = self.bucket_path(bucket)
        return json.loads(p.read_text()) if p.is_file() else {}

    def write_bucket(self, bucket: int | str, entry: dict) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        self._atomic(self.bucket_path(bucket), json.dumps(entry))

    def drop_bucket(self, bucket: int | str) -> None:
        p = self.bucket_path(bucket)
        if p.is_file():
            p.unlink()

    def buckets(self) -> list[int]:
        return sorted(
            int(p.stem.split("-", 1)[1]) for p in self.dir.glob("bucket-*.json")
        )

    @staticmethod
    def _atomic(path: Path, text: str) -> None:
        tmp = path.with_suffix(path.suffix + ".tmp")
        tmp.write_text(text)
        os.replace(tmp, path)
