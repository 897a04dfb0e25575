"""Property tests: the Spark pipelines vs a pure-Python reference model.

The model implements the reference's documented semantics directly
(inclusive ts bounds, tail-after-filters with clamping, arrival order,
strict-< retention boundaries); hypothesis generates adversarial little
logs (duplicate timestamps, out-of-order ts, boundary-exact values) and
the Spark operators must agree exactly.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from logsqlite_spark.operators.read import read_logs
from logsqlite_spark.operators.retention import retention_survivors

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9_000),  # ts seconds
        st.sampled_from(["c1", "c2"]),
    ),
    min_size=1,
    max_size=25,
)

def _model_read(rows, container, since_s, until_s, tail, cursor=None):
    """Reference semantics in plain Python (logger.rs:303-392)."""
    out = [r for r in rows if r["container_id"] == container]
    if cursor is not None:
        out = [r for r in out if r["seq"] >= cursor]
    if since_s is not None:
        out = [r for r in out if r["ts_nanos"] >= since_s * 10**9]
    if until_s is not None:
        out = [r for r in out if r["ts_nanos"] <= until_s * 10**9]
    if tail is not None and tail >= 1:
        out = out[max(len(out) - tail, 0):]
    return [r["seq"] for r in out]

def _mk_rows(raw):
    # assign per-container contiguous seq in arrival (list) order
    counters = {}
    rows = []
    for ts_s, cid in raw:
        counters[cid] = counters.get(cid, 0) + 1
        rows.append({"seq": counters[cid], "ts_nanos": ts_s * 10**9,
                     "container_id": cid})
    return rows

@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    raw=ROWS,
    since_s=st.one_of(st.none(), st.integers(0, 9_000)),
    until_s=st.one_of(st.none(), st.integers(0, 9_000)),
    tail=st.one_of(st.none(), st.integers(-1, 30)),
)
def test_read_logs_matches_model(spark, raw, since_s, until_s, tail):
    rows = _mk_rows(raw)
    df = spark.createDataFrame(
        [(r["seq"], r["ts_nanos"], r["container_id"]) for r in rows],
        "seq long, ts_nanos long, container_id string",
    )
    def iso(s):
        return f"1970-01-01T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z"

    got = [
        r["seq"]
        for r in read_logs(
            df, container_id="c1",
            since=iso(since_s) if since_s is not None else None,
            until=iso(until_s) if until_s is not None else None,
            tail=tail,
        ).collect()
    ]
    want = _model_read(rows, "c1", since_s, until_s,
                       tail if tail is not None and tail >= 1 else None)
    assert got == want

def _iso(s):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(s, tz=timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%SZ")

@settings(max_examples=100, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    raw=st.lists(st.tuples(st.integers(0, 3 * 86_400),  # ts over 4 days
                           st.sampled_from(["c1", "c2"]),
                           st.integers(0, 2)),            # file it lands in
                 min_size=1, max_size=25),
    since_s=st.one_of(st.none(), st.integers(0, 3 * 86_400)),
    until_s=st.one_of(st.none(), st.integers(0, 3 * 86_400)),
    tail=st.one_of(st.none(), st.integers(-1, 30)),
    cursor=st.one_of(st.none(), st.integers(0, 26)),
    no_stats=st.booleans(),
)
def test_scan_container_matches_model(raw, since_s, until_s, tail, cursor,
                                      no_stats):
    """The driver-side scan over parquet files laid out like the table
    (``container_id=<c>/date=<utc day>/``): rows are spread over files
    at random, so seq ranges overlap across files; ``no_stats`` writes
    one file without footer statistics."""
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logsqlite_spark.operators.read import scan_container

    rows = _mk_rows([(ts, cid) for ts, cid, _ in raw])
    files: dict[str, list] = {}
    for r, (ts, cid, k) in zip(rows, raw):
        day = _iso(ts)[:10]
        files.setdefault(f"container_id={cid}/date={day}/f{k}.parquet",
                         []).append(r)
    root = Path(tempfile.mkdtemp())
    try:
        for i, (rel, rs) in enumerate(sorted(files.items())):
            (root / rel).parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.table({
                "seq": pa.array([r["seq"] for r in rs], pa.int32()),
                "ts_nanos": [r["ts_nanos"] for r in rs],
                "line": [f"{r['seq']}\n" for r in rs],
            }), root / rel, write_statistics=not (no_stats and i == 0))
        got = [s for t in scan_container(
                   root, {"files": sorted(files)}, "c1",
                   since=_iso(since_s) if since_s is not None else None,
                   until=_iso(until_s) if until_s is not None else None,
                   tail=tail, cursor=cursor)
               for s in t.column("seq").to_pylist()]
    finally:
        shutil.rmtree(root)
    want = _model_read(rows, "c1", since_s, until_s,
                       tail if tail is not None and tail >= 1 else None,
                       cursor)
    assert got == want

def _model_survivors(rows, now_s, age_s, max_lines):
    by_c = {}
    for r in rows:
        by_c.setdefault(r["container_id"], []).append(r)
    keep = set()
    for cid, rs in by_c.items():
        kept = rs
        if max_lines is not None:
            kept = kept[max(len(kept) - max_lines, 0):]
        if age_s is not None:
            cutoff = (now_s - age_s) * 10**9
            kept = [r for r in kept if r["ts_nanos"] >= cutoff]
        keep |= {(cid, r["seq"]) for r in kept}
    return keep

@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    raw=ROWS,
    age_s=st.one_of(st.none(), st.integers(0, 9_000)),
    max_lines=st.one_of(st.none(), st.integers(1, 30)),
)
def test_retention_matches_model(spark, raw, age_s, max_lines):
    rows = _mk_rows(raw)
    df = spark.createDataFrame(
        [(r["seq"], r["ts_nanos"], r["container_id"]) for r in rows],
        "seq long, ts_nanos long, container_id string",
    )
    now_s = 10_000
    got = {
        (r["container_id"], r["seq"])
        for r in retention_survivors(
            df, now_nanos=now_s * 10**9, cleanup_age_s=age_s,
            cleanup_max_lines=max_lines,
        ).collect()
    }
    assert got == _model_survivors(rows, now_s, age_s, max_lines)
