"""Pipeline config file contract (reference: core/config.py:39-139,
cfg/config.default.yml).

The reference reads ``cfg/config.yml`` (falling back to
``cfg/config.default.yml``) into a pydantic model carrying the pipeline
paths plus derived checkpoint-file names. Spark twin: a plain frozen
dataclass with the SAME keys — no pydantic dependency. The stage
checkpoint names are not derived: ``meertrap_run`` does not memoize its
stages, it writes only the final tables under ``output_path``.

Unknown keys raise (the reference's pydantic model rejects extras the
same way) so a typo in a user's config fails loudly instead of being
silently ignored.
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from pathlib import Path


@dataclass(frozen=True)
class PipelineConfig:
    """Reference ``Config`` twin (core/config.py:39-60).

    ``save_output`` gates the parquet table writes; ``partition_key``
    selects the run partition (e.g. a date directory).
    """

    output_path: Path
    remote_file_root_path: str
    data_path: Path = Path("/data")
    partition_key: str = ""
    save_output: bool = True

    @property
    def partition_data_path(self) -> Path:
        return self.data_path / self.partition_key


def load_config(
    cfg_path: str | Path | None = None,
    default_cfg_path: str | Path | None = None,
    overrides: dict | None = None,
) -> PipelineConfig:
    """Load a :class:`PipelineConfig` from YAML (reference
    core/config.py:130-139: ``cfg/config.yml`` falling back to
    ``cfg/config.default.yml``).

    ``overrides`` (e.g. CLI flags) win over file values. Either path may
    be missing — the other is used; with neither, ``overrides`` must
    carry the required keys.
    """
    import yaml

    raw: dict = {}
    for p in (default_cfg_path, cfg_path):  # default first, cfg wins
        if p is None:
            continue
        p = Path(p)
        if p.exists():
            with p.open("r", encoding="utf-8") as f:
                loaded = yaml.safe_load(f) or {}
            if not isinstance(loaded, dict):
                raise ValueError(f"{p}: expected a YAML mapping")
            raw.update(loaded)
    raw.update(overrides or {})

    known = {f.name for f in fields(PipelineConfig)}
    unknown = set(raw) - known
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    missing = {"output_path", "remote_file_root_path"} - set(raw)
    if missing:
        raise ValueError(f"missing required config keys: {sorted(missing)}")

    raw["output_path"] = Path(raw["output_path"])
    if "data_path" in raw:
        raw["data_path"] = Path(raw["data_path"])
    if "partition_key" in raw:
        # YAML parses bare 2023-11-20 as a date; the key is a string
        # path segment (reference Config.partition_key: str coerces too).
        raw["partition_key"] = str(raw["partition_key"])
    if "remote_file_root_path" in raw:
        raw["remote_file_root_path"] = str(raw["remote_file_root_path"])
    cfg = PipelineConfig(**raw)
    if cfg.save_output:
        # reference core/config.py:60-75 creates the output dir eagerly
        cfg.output_path.mkdir(parents=True, exist_ok=True)
    return cfg
