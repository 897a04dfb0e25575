"""Correctness checkers: each returns ``None`` when the answer is right
and a one-line reason when it is not."""

from __future__ import annotations


def check_read(lines: list[str], expected: list) -> str | None:
    """ReadLogs: frame count, first and last line, and frames in seq
    (arrival) order."""
    if len(lines) != len(expected):
        return f"frame count {len(lines)} != expected {len(expected)}"
    if not lines:
        return None
    if lines[0] != expected[0].stored:
        return "first line differs"
    if lines[-1] != expected[-1].stored:
        return "last line differs"
    ns = [int(ln[:7]) for ln in lines]
    if any(b <= a for a, b in zip(ns, ns[1:])):
        return "frames out of seq order"
    return None


def check_live_read(lines: list[str], cid: str, tail: int | None
                    ) -> str | None:
    """A ReadLogs answer while ingest and retention run: the rows of
    this container, a contiguous run of arrival indexes in order, and
    no more than ``tail`` of them."""
    if tail is not None and len(lines) > tail:
        return f"tail={tail} returned {len(lines)} frames"
    try:
        ns = [int(ln.split(" ", 3)[0]) for ln in lines]
        if any(ln.split(" ", 3)[2] != cid for ln in lines):
            return "frame from another container"
    except (ValueError, IndexError):
        return "malformed line"
    if any(b != a + 1 for a, b in zip(ns, ns[1:])):
        return "frames not contiguous in seq order"
    return None


def check_follow(ns: list[int], written: int) -> str | None:
    """Follow: every written line exactly once and in order."""
    if ns == list(range(written)):
        return None
    seen = set(ns)
    if len(seen) != len(ns):
        return "a line arrived twice"
    if any(b < a for a, b in zip(ns, ns[1:])):
        return "lines out of order"
    return f"{written - len(seen)} of {written} lines never arrived"


def check_ingest(audit: dict, written: dict[str, int]) -> str | None:
    """Ingest: per container, count equals lines written and seq runs
    contiguously from 1."""
    for cid, w in written.items():
        n, lo, hi, d = audit.get(cid, [0, None, None, 0])
        if n != w:
            return f"{cid}: {n} rows committed, {w} written"
        if (lo, hi, d) != (1, w, w):
            return f"{cid}: seq not contiguous (min {lo}, max {hi}, " \
                   f"distinct {d})"
    return None


def check_retention(audit: dict, written: dict[str, int], keep: int
                    ) -> str | None:
    """Live retention: the final count is min(written, keep), and the
    survivors are the newest rows with contiguous seqs."""
    for cid, w in written.items():
        n, lo, hi, d = audit.get(cid, [0, None, None, 0])
        want = min(w, keep)
        if n != want:
            return f"{cid}: {n} rows kept, expected min({w}, {keep})"
        if (hi, d, hi - lo + 1 if n else 0) != (w, n, n):
            return f"{cid}: kept rows are not the newest contiguous run"
    return None


def check_curation(survivors: list[int], exact_dups: list[int],
                   counts: list[int]) -> str | None:
    """Curation: every planted exact duplicate removed, and the survivor
    count identical on every repetition of the same input."""
    left = set(exact_dups) & set(survivors)
    if left:
        return f"{len(left)} planted exact duplicates survived"
    if len(set(counts)) > 1:
        return f"survivor count varies across repetitions: {counts}"
    return None
