"""Job configuration (the reference's yacs CfgNode analog,
reference/configs/custom_config.py:33-68 — but a typed, frozen
dataclass parsed from argv; the whole plan stays declarative)."""

from __future__ import annotations

import argparse
import dataclasses
from dataclasses import dataclass, fields


@dataclass(frozen=True)
class FeaturizerConfig:
    input_path: str
    output_path: str
    ledger_path: str
    fast_rows: int = 32
    slow_rows: int = 64
    fast_len: int = 32
    slow_len: int = 8
    buckets: int = 64
    batch_id: str = "batch-0"
    cpus: str = "*"

    @classmethod
    def from_args(cls, argv: list[str] | None = None) -> "FeaturizerConfig":
        p = argparse.ArgumentParser(description="PIT featurizer backfill")
        for f in fields(cls):
            if f.default is dataclasses.MISSING:
                p.add_argument(f"--{f.name.replace('_', '-')}", required=True, type=str)
            else:
                p.add_argument(
                    f"--{f.name.replace('_', '-')}", default=f.default, type=type(f.default)
                )
        ns = p.parse_args(argv)
        return cls(**{f.name: getattr(ns, f.name) for f in fields(cls)})
