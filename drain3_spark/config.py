"""Engine configuration.

Keeps the reference's ``.ini`` surface (reference:
drain3/template_miner_config.py:14-82) for drop-in fidelity, exposed as a
frozen-ish dataclass that the Spark operators consume.  Defaults match the
reference defaults exactly (drain3/template_miner_config.py:15-30).
"""

from __future__ import annotations

import ast
import configparser
import json
from dataclasses import dataclass, field
from typing import List, Optional, Sequence


@dataclass
class MaskRule:
    """One masking instruction: regex -> ``prefix + name + suffix``.

    Mirrors reference drain3/masking.py:25-37 (MaskingInstruction).
    """

    pattern: str
    mask_with: str


@dataclass
class EngineConfig:
    # mining engine ("drain" token-positional or "jaccard" set-similarity;
    # reference drain3/template_miner.py:57-59 accepts Drain|JaccardDrain)
    engine: str = "drain"
    sim_th: float = 0.4
    depth: int = 4
    max_children: int = 100
    max_clusters: Optional[int] = None
    extra_delimiters: Sequence[str] = field(default_factory=list)
    parametrize_numeric_tokens: bool = True
    mask_prefix: str = "<"
    mask_suffix: str = ">"
    masking: List[MaskRule] = field(default_factory=list)
    parameter_extraction_cache_capacity: int = 3000
    # snapshotting (reference drain3/template_miner_config.py:18-20)
    snapshot_interval_minutes: int = 5
    snapshot_compress_state: bool = True
    profiling_enabled: bool = False
    profiling_report_sec: int = 60

    # --- Spark-side knobs (no reference analog; scale controls) ---
    # "exact": group mining by token_count only -> bit-exact reference
    #   semantics per group.  "scalable": group by (token_count,
    #   canonical prefix) -> one independent Drain subtree per prefix
    #   group; much higher parallelism, documented approximation of the
    #   reference's cross-prefix wildcard fallback (drain3/drain.py:313-314).
    mining_mode: str = "exact"
    # mining_salt > 1 splits each mining group into salt banks folded in
    # parallel, then reconciles bank templates in a driver-side merge
    # (the two-phase mine+merge of SURVEY.md §7; template merge is
    # associative, drain3/drain.py:415-425).  Assignment-time sizes and
    # change types become bank-local — a documented approximation for
    # hot-group scalability; cluster table results stay deterministic.
    # 0 = AUTO: resolve to the cluster's default parallelism at mine
    # time, so the post-shuffle mining stage is never bounded by the
    # handful of distinct token-count groups (~6-13 on template corpora).
    mining_salt: int = 1

    @property
    def param_str(self) -> str:
        # reference drain3/template_miner.py:53
        return f"{self.mask_prefix}*{self.mask_suffix}"

    @property
    def max_node_depth(self) -> int:
        # reference drain3/drain.py:94
        return self.depth - 2

    def validate(self) -> "EngineConfig":
        if self.depth < 3:
            raise ValueError("depth must be at least 3")
        if self.engine not in ("drain", "jaccard"):
            raise ValueError(f"unknown engine: {self.engine}")
        if self.mining_mode not in ("exact", "scalable"):
            raise ValueError(f"unknown mining_mode: {self.mining_mode}")
        if self.mining_salt < 0:
            raise ValueError("mining_salt must be >= 0 (0 = auto)")
        return self

    @classmethod
    def load_ini(cls, path: str) -> "EngineConfig":
        """Load a reference-compatible .ini file
        (surface per drain3/template_miner_config.py:32-82)."""
        parser = configparser.ConfigParser()
        parser.read(path)
        cfg = cls()

        def get(section: str, key: str, conv, default):
            try:
                raw = parser.get(section, key)
            except (configparser.NoSectionError, configparser.NoOptionError):
                return default
            return conv(raw)

        engine = get("DRAIN", "engine", str, "Drain")
        cfg.engine = {"Drain": "drain", "JaccardDrain": "jaccard"}.get(engine, engine)
        cfg.profiling_enabled = get("PROFILING", "enabled",
                                    lambda s: s.lower() in ("1", "true", "yes", "on"),
                                    cfg.profiling_enabled)
        cfg.profiling_report_sec = get("PROFILING", "report_sec", int, cfg.profiling_report_sec)
        cfg.snapshot_interval_minutes = get("SNAPSHOT", "snapshot_interval_minutes", int,
                                            cfg.snapshot_interval_minutes)
        cfg.snapshot_compress_state = get("SNAPSHOT", "compress_state",
                                          lambda s: s.lower() in ("1", "true", "yes", "on"),
                                          cfg.snapshot_compress_state)
        cfg.extra_delimiters = get("DRAIN", "extra_delimiters", ast.literal_eval,
                                   list(cfg.extra_delimiters))
        cfg.sim_th = get("DRAIN", "sim_th", float, cfg.sim_th)
        cfg.depth = get("DRAIN", "depth", int, cfg.depth)
        cfg.max_children = get("DRAIN", "max_children", int, cfg.max_children)
        cfg.max_clusters = get("DRAIN", "max_clusters", int, cfg.max_clusters)
        cfg.parametrize_numeric_tokens = get("DRAIN", "parametrize_numeric_tokens",
                                             lambda s: s.lower() in ("1", "true", "yes", "on"),
                                             cfg.parametrize_numeric_tokens)
        cfg.mask_prefix = get("MASKING", "mask_prefix", str, cfg.mask_prefix)
        cfg.mask_suffix = get("MASKING", "mask_suffix", str, cfg.mask_suffix)
        cfg.parameter_extraction_cache_capacity = get(
            "MASKING", "parameter_extraction_cache_capacity", int,
            cfg.parameter_extraction_cache_capacity)
        masking_json = get("MASKING", "masking", str, None)
        if masking_json:
            cfg.masking = [MaskRule(m["regex_pattern"], m["mask_with"])
                           for m in json.loads(masking_json)]
        return cfg.validate()
