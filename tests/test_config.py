"""DatasetConfig JSON round trip: configs saved by older releases still
load, and a key the dataclass does not know fails with its name."""

from __future__ import annotations

import json

import pytest

from dataingestion_spark.config import DatasetConfig


def test_saved_config_loads_and_unknown_key_is_named(tmp_path):
    cfg = DatasetConfig(name="t", table_path=str(tmp_path / "t"))
    assert DatasetConfig.from_json(cfg.to_json()) == cfg

    # a config saved while the COW plan chooser had a switch; every
    # value it held loads as today's only behaviour
    for retired in (None, True, False):
        old = json.loads(cfg.to_json())
        old["cow_plan_adaptive"] = retired
        path = tmp_path / "old.json"
        path.write_text(json.dumps(old))
        assert DatasetConfig.load(path) == cfg

    typo = json.loads(cfg.to_json())
    typo["num_bucket"] = 8
    with pytest.raises(ValueError, match="num_bucket"):
        DatasetConfig.from_json(json.dumps(typo))
