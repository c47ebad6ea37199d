"""Job configuration — the graft of the reference's config cascade.

The reference resolves a flat JSON config through a first-existing-path
cascade plus env vars (/root/reference/src/ocr_pipeline.py:101-124,
src/entrypoint.py:11-36).  The graft keeps the same resolution order
(explicit path > env var > candidate locations > code defaults) but the
record is a typed, frozen dataclass shipped to executors via
--py-files, and engine knobs become Spark conf entries.
"""

from __future__ import annotations

import dataclasses
import json
import os

_ENV_PREFIX = "EXTRACT_"

# candidate config locations, first existing wins (graft of
# ocr_pipeline.py:104-112's five-path cascade)
CONFIG_CANDIDATES = (
    "./extract_config.json",
    "./config/extract_config.json",
    "~/.config/ocr_pipeline_spark/config.json",
    "/etc/ocr_pipeline_spark/config.json",
)


@dataclasses.dataclass(frozen=True)
class JobConfig:
    describe_diagrams: bool = True       # ref: --diagrams flag default on
    mode: str = "fused"                  # fused | staged
    n_buckets: int = 64                  # bucket(warc_ts) partition count
    chunk_size: int | None = None        # buckets per manifest commit

    def validate(self) -> "JobConfig":
        if self.mode not in ("fused", "staged"):
            raise ValueError(f"mode must be fused|staged, got {self.mode!r}")
        if self.n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        return self


def _coerce(value: str, target_type):
    if target_type in (bool, "bool"):
        return value.strip().lower() in ("1", "true", "yes", "on")
    if target_type is int:
        return int(value)
    return value


def load_config(path: str | None = None, env: dict | None = None) -> JobConfig:
    """Explicit path > EXTRACT_CONFIG env > candidate cascade > defaults,
    then per-field EXTRACT_<FIELD> env overrides (graft of entrypoint.py)."""
    env = dict(os.environ if env is None else env)

    chosen = path or env.get(_ENV_PREFIX + "CONFIG")
    if not chosen:
        for candidate in CONFIG_CANDIDATES:
            expanded = os.path.expanduser(candidate)
            if os.path.exists(expanded):
                chosen = expanded
                break

    raw: dict = {}
    if chosen:
        with open(os.path.expanduser(chosen)) as fh:
            raw = json.load(fh)

    fields = {f.name: f for f in dataclasses.fields(JobConfig)}
    values: dict = {}
    for name, field in fields.items():
        if name in raw:
            values[name] = raw[name]
        env_key = _ENV_PREFIX + name.upper()
        if env_key in env:
            base_type = (
                bool if field.default in (True, False) else type(field.default)
            )
            if field.default is None:
                base_type = int
            values[name] = _coerce(env[env_key], base_type)

    return JobConfig(**values).validate()
