"""Time parsing and Docker sentinel normalization (F1, P6).

The reference parses RFC3339 with chrono's ``%+`` and converts to epoch
nanoseconds (/root/reference/src/logger.rs:323-343); an unparseable
string silently drops the predicate (the ``if let Ok`` swallows errors).
Docker sends ``"0001-01-01T00:00:00Z"`` for unset Since/Until and
``Tail < 1`` for "all", both normalized away before planning
(/root/reference/src/docker.rs:144-166).
"""

from __future__ import annotations

from datetime import datetime, timezone

DOCKER_TS_SENTINEL = "0001-01-01T00:00:00Z"

def rfc3339_to_nanos(value: str) -> int | None:
    """RFC3339 string -> epoch nanoseconds, or None if unparseable.

    Nanosecond digits beyond microseconds are preserved by splitting the
    fractional part manually (Python datetimes are µs-precision).
    """
    try:
        frac_nanos = 0
        base = value
        # split off fractional seconds to keep full ns precision
        if "." in value:
            head, rest = value.split(".", 1)
            digits = ""
            idx = 0
            while idx < len(rest) and rest[idx].isdigit():
                digits += rest[idx]
                idx += 1
            tz_part = rest[idx:]
            frac_nanos = int((digits + "000000000")[:9]) if digits else 0
            base = head + tz_part
        if base.endswith(("Z", "z")):
            base = base[:-1] + "+00:00"
        dt = datetime.fromisoformat(base)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp()) * 1_000_000_000 + frac_nanos
    except (ValueError, OverflowError):
        return None

_NANOS_MIN, _NANOS_MAX = -(1 << 63), (1 << 63) - 1


def _clamp_nanos(n: int | None) -> int | None:
    return None if n is None else min(max(n, _NANOS_MIN), _NANOS_MAX)


def normalize_read_params(
    since: str | None,
    until: str | None,
    tail: int | None,
) -> tuple[int | None, int | None, int | None]:
    """Apply docker.rs:144-166 sentinel elimination.

    Returns (since_nanos, until_nanos, tail) with sentinels/unparseables
    mapped to None; tail < 1 means "all". A bound outside the int64
    range ``ts_nanos`` lives in (before 1677 or after 2262) is clamped
    to it, so it compares like the far past or future it names instead
    of overflowing the predicate literal.
    """
    since_n = None
    if since is not None and since != DOCKER_TS_SENTINEL:
        since_n = _clamp_nanos(rfc3339_to_nanos(since))
    until_n = None
    if until is not None and until != DOCKER_TS_SENTINEL:
        until_n = _clamp_nanos(rfc3339_to_nanos(until))
    norm_tail = tail if tail is not None and tail >= 1 else None
    return since_n, until_n, norm_tail
