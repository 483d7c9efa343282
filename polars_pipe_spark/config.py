"""Pipeline config: the reference's attrs classes re-expressed as plain
dataclasses (no attrs dependency needed).

Reference: ``GeneralConfig`` (src/polars_pipe/core/config.py:15-71) —
validated fields, path absolutisation, FileType membership check,
datetime → "%Y%m%d_%H%M" string; ``TransformConfig``
(src/polars_pipe/core/transform.py:26-48) — per-stage maps, with
``filter_exprs`` compiled through the validation rule parser and
``recast_map`` dtype-name resolution at parse time.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from datetime import datetime
from pathlib import Path
from typing import Any

from pyspark.sql import Column

from polars_pipe_spark.adapters.io import FileType
from polars_pipe_spark.expressions import parse_rules_config
from polars_pipe_spark.types import resolve_dtype


def _abs_path(path: str) -> str:
    return str(Path(path).absolute())


@dataclass
class GeneralConfig:
    guid: str
    date_time: str | datetime
    process_name: str
    src_path: str
    src_file_type: str
    dst_root: str
    dst_file_type: str
    validation: dict = field(default_factory=dict)
    transformations: dict = field(default_factory=dict)
    custom_transformations: dict = field(default_factory=dict)
    pipeline_plan: list = field(default_factory=list)
    valid_dst_stem: str = "transformed_data"
    invalid_dst_stem: str = "error_records"
    config_dst_stem: str = "config"
    desc_stats_stem: str = "desc_stats"
    select_cols: list | str = "*"
    # scale_mode=True switches the 25%/50%/75% statistics to
    # percentile_approx — the 100 TB path where exact percentiles would
    # need a full sort per column. n_unique stays an exact countDistinct.
    scale_mode: bool = False

    def __post_init__(self) -> None:
        if isinstance(self.date_time, datetime):
            self.date_time = self.date_time.strftime("%Y%m%d_%H%M")
        self.src_path = _abs_path(self.src_path)
        self.dst_root = _abs_path(self.dst_root)
        self.src_file_type = self.src_file_type.strip().upper()
        self.dst_file_type = self.dst_file_type.strip().upper()
        for ft in (self.src_file_type, self.dst_file_type):
            if ft not in FileType.__members__:
                raise ValueError(
                    f"unknown file type {ft!r}; supported: {list(FileType.__members__)}"
                )

    @classmethod
    def from_dict(cls, config: dict) -> "GeneralConfig":
        names = {f.name for f in fields(cls)}
        return cls(**{k: v for k, v in config.items() if k in names})

    def to_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


@dataclass(frozen=True)
class TransformConfig:
    drop_cols: list = field(default_factory=list)
    rename_map: dict = field(default_factory=dict)
    recast_map: dict = field(default_factory=dict)
    fill_map: dict = field(default_factory=dict)
    clip_map: dict = field(default_factory=dict)
    filter_exprs: list = field(default_factory=list)
    new_col_map: dict = field(default_factory=dict)
    dedupe_cols: list = field(default_factory=list)
    unnest_cols: list = field(default_factory=list)
    nest_cols: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, config: dict) -> "TransformConfig":
        config = dict(config)
        # filter_exprs config is rule-shaped {"name": [col, method, value]}
        # and compiles through the same parser as validation rules
        # (reference transform.py:42-44).
        raw_filters = config.get("filter_exprs", {})
        config["filter_exprs"] = (
            list(parse_rules_config(raw_filters).values())
            if isinstance(raw_filters, dict)
            else [e for e in raw_filters if isinstance(e, Column)]
        )
        config["recast_map"] = {
            c: resolve_dtype(t) for c, t in config.get("recast_map", {}).items()
        }
        names = {f.name for f in fields(cls)}
        return cls(**{k: v for k, v in config.items() if k in names})


def dummy_config(src_path: str, dst_root: str, **overrides: Any) -> dict:
    """Convenience: a minimal valid config dict for tests/examples."""
    cfg = {
        "process_name": "process",
        "src_path": src_path,
        "src_file_type": "parquet",
        "dst_root": dst_root,
        "dst_file_type": "parquet",
    }
    cfg.update(overrides)
    return cfg
