"""Per-stream and daemon configuration.

Reproduces the *semantics* of the reference's config surface
(/root/reference/src/config.rs) in plain Python:

- ``LogConfig``: per-container stream options (defaults at config.rs:172-184).
- ``parse_duration_s``: ``<digits><w|d|h|m|s>`` (case-insensitive) to
  seconds. NOTE the reference quirk: ``m`` means *minutes* in code
  (config.rs:92-95) even though its README documents "months" — we match
  the code. A bare number with no suffix is an error (the suffix match
  falls through to the error arm on empty string).
- ``parse_size_bytes``: ``<digits><g|m|k|b>`` with 1024-based multipliers
  (config.rs:105-133); bare numbers are errors likewise.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict
from typing import Any, Mapping

_DURATION_MULTIPLIERS = {
    "w": 7 * 24 * 60 * 60,
    "d": 24 * 60 * 60,
    "h": 60 * 60,
    "m": 60,
    "s": 1,
}

_SIZE_MULTIPLIERS = {
    "g": 1024**3,
    "m": 1024**2,
    "k": 1024,
    "b": 1,
}

class ConfigError(ValueError):
    """Raised on malformed option values (mirrors config.rs ParsingError)."""

def _split_number_prefix(value: str) -> tuple[int, str]:
    pos = 0
    for ch in value:
        if not ch.isdigit():
            break
        pos += 1
    if pos == 0:
        raise ConfigError(f"cannot parse {value!r}: no leading number")
    return int(value[:pos]), value[pos:]

def parse_duration_s(value: str) -> int:
    """``"30d"`` -> 2592000 seconds. Suffix is required; ``m`` = minutes."""
    num, suffix = _split_number_prefix(value)
    mult = _DURATION_MULTIPLIERS.get(suffix.lower())
    if mult is None:
        raise ConfigError(f"unknown time specifier {suffix!r}")
    return num * mult

def parse_size_bytes(value: str) -> int:
    """``"10M"`` -> 10485760 bytes (1024-based). Suffix is required."""
    num, suffix = _split_number_prefix(value)
    mult = _SIZE_MULTIPLIERS.get(suffix.lower())
    if mult is None:
        raise ConfigError(f"unknown size specifier {suffix!r}")
    return num * mult

def _parse_bool(value: str) -> bool:
    low = value.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    raise ConfigError('delete_when_stopped is neither "true" nor "false"')

@dataclass
class LogConfig:
    """Per-container stream configuration (config.rs:17-25 semantics).

    In the reference the tx options (``max_lines_per_tx``,
    ``max_size_per_tx``, ``message_read_timeout_ms``) throttle SQLite
    transaction commits; here the ``LogConfig`` handed to
    ``Engine.start_multiplexed_ingest`` maps them onto the stream's
    micro-batch sizing (maxBytesPerTrigger, records per file) and
    trigger interval.  The tx options a container sends with
    StartLogging are stored with its state but do not shape the
    shared stream's micro-batches; its retention options
    (``cleanup_*``) and ``delete_when_stopped`` do apply to it.
    """

    max_lines_per_tx: int = 10_000
    max_size_per_tx: int = 10 * 1024 * 1024
    message_read_timeout_ms: int = 100
    cleanup_age_s: int | None = None
    cleanup_max_lines: int | None = 10_000_000
    cleanup_interval_s: int = 10 * 60
    delete_when_stopped: bool = True

    @classmethod
    def from_options(cls, options: Mapping[str, str] | None) -> "LogConfig":
        """Parse Docker's per-container ``--log-opt`` map (config.rs:186-231).

        Unknown keys are silently ignored, matching the reference's
        catch-all ``_ => ()`` arm.
        """
        conf = cls()
        if not options:
            return conf
        for opt, val in options.items():
            if opt == "message_read_timeout":
                conf.message_read_timeout_ms = int(val)
            elif opt == "max_lines_per_tx":
                conf.max_lines_per_tx = int(val)
            elif opt == "max_size_per_tx":
                conf.max_size_per_tx = parse_size_bytes(val)
            elif opt == "cleanup_age":
                conf.cleanup_age_s = parse_duration_s(val)
            elif opt == "cleanup_max_lines":
                conf.cleanup_max_lines = int(val)
            elif opt == "delete_when_stopped":
                conf.delete_when_stopped = _parse_bool(val)
        return conf

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: Mapping[str, Any]) -> "LogConfig":
        return cls(**{k: d[k] for k in cls.__dataclass_fields__ if k in d})

@dataclass
class EngineConfig:
    """Daemon-level configuration (config.rs:8-14 semantics).

    ``databases_dir`` becomes the root of the unified Parquet logs table;
    ``state_database`` becomes the control-table directory; the unix
    socket has no Spark equivalent (the API surface is the Python
    facade in :mod:`logsqlite_spark.api`).
    """

    warehouse_dir: str = "/tmp/logsqlite_spark"
    cleanup_interval_s: int = 30 * 60

    @property
    def logs_dir(self) -> str:
        return f"{self.warehouse_dir}/logs"

    @property
    def state_dir(self) -> str:
        return f"{self.warehouse_dir}/state"

    @property
    def checkpoints_dir(self) -> str:
        return f"{self.warehouse_dir}/checkpoints"

    @property
    def spool_dir(self) -> str:
        return f"{self.warehouse_dir}/spool"
