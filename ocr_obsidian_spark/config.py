"""Pipeline configuration.

All knobs (and their defaults) mirror the reference CLI / pipeline.yaml
surface so the same semantics are reproducible:

  * line grouping tolerance     — reference ingest/ocr.py:176 (line_y_tolerance_px=14)
  * printed-page detection      — reference ingest/ocr.py:177-183
  * span context window         — reference ingest/spans.py:153-160
  * QA gate thresholds          — reference ingest/qa_metrics.py:6-11
  * highlight/block shape gates — reference ingest/highlights.py:97-105

The config is a plain frozen dataclass: it is captured by value into UDF
closures (broadcast with the serialized function — tiny, no Spark broadcast
variable needed) and hashed into lineage rows for reproducibility, mirroring
the reference's config_hash echo (ingest/config.py:134-136).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field, fields
from typing import Any


class ConfigError(RuntimeError):
    """Invalid/missing configuration (reference ingest/config.py:34-36;
    mapped to exit code 3 by the CLI, reference cli.py:224-226)."""


@dataclass(frozen=True)
class QaThresholds:
    min_avg_word_conf: float = 58.0
    max_garbage_ratio: float = 0.22
    max_pipe_ratio: float = 0.04
    min_alpha_ratio: float = 0.45


@dataclass(frozen=True)
class PrintedPageConfig:
    detect: bool = True
    debug: bool = False  # emit the top-10 candidate debug payload as data
    top_band_frac: float = 0.12
    min_conf: float = 40.0
    roman_max_value: int = 80
    roman_min_len: int = 2
    arabic_switch_min: int = 10
    max_top_lines: int = 5


@dataclass(frozen=True)
class SpanConfig:
    k_before: int = 2
    k_after: int = 2
    min_overlap_frac: float = 0.02
    min_x_overlap_px: int = 40
    max_overlap_lines: int = 8


@dataclass(frozen=True)
class BlockFilterConfig:
    min_area: int = 120
    edge_margin_px: int = 25
    max_hw_ratio: float = 3.0
    max_height_frac: float = 0.15
    frame_crop_frac: float = 0.02
    # detection-side knobs (reference ingest/highlights.py:97-106 defaults)
    hsv_low: tuple[int, int, int] = (15, 20, 80)
    hsv_high: tuple[int, int, int] = (95, 255, 255)
    kernel_size: int = 5


@dataclass(frozen=True)
class PipelineConfig:
    line_y_tolerance_px: int = 14
    clean_text: bool = True
    qa: QaThresholds = field(default_factory=QaThresholds)
    printed_page: PrintedPageConfig = field(default_factory=PrintedPageConfig)
    spans: SpanConfig = field(default_factory=SpanConfig)
    blocks: BlockFilterConfig = field(default_factory=BlockFilterConfig)
    # scale knobs (Spark-side only; no reference analog — single process there)
    salt_partitions: int = 0  # 0 = leave partitioning to AQE/source splits

    def config_hash(self) -> str:
        """Stable 16-hex-char config fingerprint (reference ingest/config.py:134-136)."""
        payload = json.dumps(asdict(self), sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


DEFAULT_CONFIG = PipelineConfig()

_SECTION_TYPES = {
    "qa": QaThresholds,
    "printed_page": PrintedPageConfig,
    "spans": SpanConfig,
    "blocks": BlockFilterConfig,
}


def deep_merge(base: dict[str, Any], override: dict[str, Any]) -> dict[str, Any]:
    """Recursive dict merge, override wins (reference ingest/config.py:53-61)."""
    merged = dict(base)
    for key, value in override.items():
        existing = merged.get(key)
        if isinstance(existing, dict) and isinstance(value, dict):
            merged[key] = deep_merge(existing, value)
        else:
            merged[key] = value
    return merged


def pipeline_config_from_dict(raw: dict[str, Any]) -> PipelineConfig:
    """Deep-merge a (possibly partial, e.g. YAML-loaded) mapping over the
    defaults and build a validated PipelineConfig. Unknown keys are a
    ConfigError — a typo'd threshold must never silently fall back."""
    merged = deep_merge(asdict(DEFAULT_CONFIG), raw or {})
    top_known = {f.name for f in fields(PipelineConfig)}
    unknown = set(merged) - top_known
    if unknown:
        raise ConfigError(f"unknown pipeline config keys: {sorted(unknown)}")
    kwargs: dict[str, Any] = {}
    for f in fields(PipelineConfig):
        value = merged[f.name]
        section = _SECTION_TYPES.get(f.name)
        if section is not None:
            if not isinstance(value, dict):
                raise ConfigError(f"'{f.name}' must be a mapping")
            known = {sf.name for sf in fields(section)}
            bad = set(value) - known
            if bad:
                raise ConfigError(f"unknown keys in '{f.name}': {sorted(bad)}")
            coerced = {
                k: tuple(v) if isinstance(v, list) else v for k, v in value.items()
            }
            kwargs[f.name] = section(**coerced)
        else:
            kwargs[f.name] = value
    ks = kwargs["blocks"].kernel_size
    if ks < 1 or ks % 2 == 0:
        raise ConfigError(
            f"blocks.kernel_size must be odd and >= 1 (got {ks}): the "
            "separable morphology's symmetric radius matches the reference "
            "center-anchored kernel for odd sizes only"
        )
    return PipelineConfig(**kwargs)


def load_pipeline_yaml(path: str | None) -> PipelineConfig:
    """YAML file → PipelineConfig with deep-merge-over-defaults semantics
    (reference ingest/config.py:39-77). ``None`` → defaults."""
    if path is None:
        return DEFAULT_CONFIG
    import yaml

    from pathlib import Path

    p = Path(path)
    if not p.exists():
        raise ConfigError(f"Config file not found: {p}")
    try:
        loaded = yaml.safe_load(p.read_text(encoding="utf-8"))
    except yaml.YAMLError as exc:
        raise ConfigError(f"Invalid YAML in {p}: {exc}") from exc
    if loaded is None:
        loaded = {}
    if not isinstance(loaded, dict):
        raise ConfigError(f"Expected mapping in YAML file: {p}")
    return pipeline_config_from_dict(loaded)
