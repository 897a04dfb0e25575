"""Config parser semantics (reference: /root/reference/src/config.rs)."""

import pytest

from logsqlite_spark.config import (
    ConfigError,
    LogConfig,
    parse_duration_s,
    parse_size_bytes,
)

def test_duration_suffixes():
    assert parse_duration_s("30s") == 30
    assert parse_duration_s("5m") == 300  # m = MINUTES (code, not README)
    assert parse_duration_s("2h") == 7200
    assert parse_duration_s("30d") == 30 * 86400
    assert parse_duration_s("1w") == 7 * 86400
    assert parse_duration_s("30D") == 30 * 86400  # case-insensitive

def test_duration_errors():
    with pytest.raises(ConfigError):
        parse_duration_s("30")  # bare number: suffix required
    with pytest.raises(ConfigError):
        parse_duration_s("x30d")
    with pytest.raises(ConfigError):
        parse_duration_s("30y")

def test_size_suffixes():
    assert parse_size_bytes("10M") == 10 * 1024 * 1024
    assert parse_size_bytes("1g") == 1024**3
    assert parse_size_bytes("3K") == 3 * 1024
    assert parse_size_bytes("512b") == 512

def test_size_errors():
    with pytest.raises(ConfigError):
        parse_size_bytes("512")
    with pytest.raises(ConfigError):
        parse_size_bytes("1T")

def test_logconfig_defaults():
    c = LogConfig()
    assert c.max_lines_per_tx == 10_000
    assert c.max_size_per_tx == 10 * 1024 * 1024
    assert c.message_read_timeout_ms == 100
    assert c.cleanup_age_s is None
    assert c.cleanup_max_lines == 10_000_000
    assert c.delete_when_stopped is True

def test_logconfig_from_options():
    c = LogConfig.from_options(
        {
            "max_lines_per_tx": "500",
            "max_size_per_tx": "1M",
            "cleanup_age": "1h",
            "cleanup_max_lines": "1000",
            "delete_when_stopped": "FALSE",
            "unknown_key": "ignored",  # reference's catch-all arm
        }
    )
    assert c.max_lines_per_tx == 500
    assert c.max_size_per_tx == 1024 * 1024
    assert c.cleanup_age_s == 3600
    assert c.cleanup_max_lines == 1000
    assert c.delete_when_stopped is False

def test_logconfig_bad_bool():
    with pytest.raises(ConfigError):
        LogConfig.from_options({"delete_when_stopped": "maybe"})

def test_logconfig_roundtrip():
    c = LogConfig(cleanup_age_s=60)
    assert LogConfig.from_dict(c.to_dict()) == c
