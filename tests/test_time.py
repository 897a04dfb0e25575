"""RFC3339 parsing + docker sentinel normalization (F1, P6)."""

from logsqlite_spark.functions.time import (
    DOCKER_TS_SENTINEL,
    normalize_read_params,
    rfc3339_to_nanos,
)

def test_basic_parse():
    assert rfc3339_to_nanos("1970-01-01T00:00:00Z") == 0
    assert rfc3339_to_nanos("1970-01-01T00:00:01Z") == 1_000_000_000

def test_nanosecond_precision_preserved():
    assert rfc3339_to_nanos("1970-01-01T00:00:00.123456789Z") == 123_456_789
    assert rfc3339_to_nanos("1970-01-01T00:00:00.5Z") == 500_000_000

def test_timezone_offset():
    assert rfc3339_to_nanos("1970-01-01T01:00:00+01:00") == 0

def test_unparseable_returns_none():
    # reference silently drops the predicate (if let Ok, logger.rs:324)
    assert rfc3339_to_nanos("not a date") is None
    assert rfc3339_to_nanos("") is None

def test_sentinel_elimination():
    s, u, t = normalize_read_params(DOCKER_TS_SENTINEL, DOCKER_TS_SENTINEL, -1)
    assert s is None and u is None and t is None

def test_tail_normalization():
    # docker.rs:152: Tail < 1 means "all"
    assert normalize_read_params(None, None, 0)[2] is None
    assert normalize_read_params(None, None, 5)[2] == 5


def test_normalize_clamps_bounds_to_int64_nanos():
    """Bounds a nanosecond int64 cannot hold compare as the far past or
    future they name (the predicate literal would overflow)."""
    s, u, _ = normalize_read_params("1500-01-01T00:00:00Z",
                                    "9999-12-31T23:59:59-01:00", None)
    assert (s, u) == (-(1 << 63), (1 << 63) - 1)
    assert normalize_read_params("2024-01-01T00:00:00Z", None, None)[0] \
        == 1_704_067_200_000_000_000
