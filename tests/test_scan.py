"""Driver-side scan of the committed snapshot (``read.scan_container``).

The LogDriver ReadLogs route, both follow paths and the CLI read
committed rows through this one scan; its frames must be byte-identical
to the distributed path (``to_wire_frames`` over ``read_logs``, ordered
by seq) on the same snapshot.
"""

from datetime import datetime, timezone

import pytest

from logsqlite_spark.api import Engine
from logsqlite_spark.config import EngineConfig
from logsqlite_spark.operators import read as R
from logsqlite_spark.operators import wire as W
from logsqlite_spark.sources.frames import LogEntry, PartialMeta
from logsqlite_spark.sources.spool import SpoolWriter

DAY = 86_400 * 10**9
BASE_TS = 1_704_067_200_000_000_000 + 123_456_789  # 2024-01-01, odd nanos
CID = "a:b"  # needs Hive escaping: container_id=a%3Ab


def _iso(ns: int) -> str:
    s, frac = divmod(ns, 10**9)
    return datetime.fromtimestamp(s, tz=timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:09d}Z"


def _entries(k: int) -> list:
    """Burst ``k``: partial rows with and without metadata, and
    timestamps that go back across a day boundary."""
    out = []
    for i in range(6):
        ts = BASE_TS + (k * 6 + i) * 3_600 * 10**9
        if i == 4:
            ts -= DAY  # arrives late, lands in an earlier date partition
        pm = PartialMeta(last=i == 2, id=f"p{k}", ordinal=i) \
            if i in (1, 2) else None
        out.append(LogEntry(source="stderr" if i % 3 else "stdout",
                            time_nano=ts, line=f"k{k} l{i}".encode(),
                            partial=i in (1, 3), partial_meta=pm))
    return out


def _round_robin_rewrite(eng: Engine, cid: str) -> None:
    """Rewrite a container's files round-robin into 3 files per date —
    what a retention rewrite plus a fresh append leaves: files whose
    seq ranges overlap."""
    from logsqlite_spark.table import escape_partition_value

    prefix = f"container_id={escape_partition_value(cid)}/"
    old = [f for f in eng.table.manifest()["files"] if f.startswith(prefix)]
    df = eng.spark.read.option("basePath", str(eng.table.dir)).parquet(
        *[str(eng.table.dir / f) for f in old])
    staging = eng.table.new_staging_dir()
    df.repartition(3).write.mode("overwrite") \
        .partitionBy("container_id", "date").parquet(str(staging))
    eng.table.commit_replace(old, eng.table.adopt_staged(staging))


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    eng = Engine(spark, EngineConfig(
        warehouse_dir=str(tmp_path_factory.mktemp("scan") / "wh")))
    for cid in (CID, "rr"):
        eng.start_logging(cid, None)
    eng.start_logging("empty", None)
    for k in range(3):
        for cid in (CID, "rr"):
            SpoolWriter(eng.config.spool_dir, cid).write_burst(_entries(k))
        eng.ingest_once()
    _round_robin_rewrite(eng, "rr")
    SpoolWriter(eng.config.spool_dir, "rr").write_burst(_entries(3))
    eng.ingest_once()
    yield eng
    eng.stop_all()


def _spark_frames(eng, snap, cid, **kw) -> list[bytes]:
    df = R.read_logs(eng.table.read_df(eng.spark, snap),
                     container_id=cid, **kw)
    return [bytes(r["frame"])
            for r in W.to_wire_frames(df).orderBy("seq").collect()]


def _scan_frames(eng, snap, cid, **kw) -> list[bytes]:
    return [f for t in R.scan_container(eng.table.dir, snap, cid, **kw)
            for f in W.frames_of(t)]


# a row's exact ts_nanos as since/until: seq 3 of burst 0 (hour 2) and
# seq 8 of burst 1 (hour 7)
_T3 = _iso(BASE_TS + 2 * 3_600 * 10**9)
_T8 = _iso(BASE_TS + 7 * 3_600 * 10**9)

CASES = [
    {},
    {"since": _T3},
    {"until": _T8},
    {"since": _T3, "until": _T8},
    {"since": _T8, "until": _T8},
    {"tail": 4},
    {"tail": 1000},
    {"tail": 3, "since": _T3, "until": _T8},
    {"tail": 50, "since": _T3},
    {"cursor": 7},
    {"cursor": 5, "tail": 2, "until": _T8},
    {"since": _iso(BASE_TS + 400 * DAY)},
    {"since": "0001-01-01T00:00:00Z", "until": "garbage", "tail": 0},
    # bounds outside the int64 nanosecond range
    {"since": "1500-01-01T00:00:00Z",
     "until": "9999-12-31T23:59:59-01:00", "tail": 5},
]


@pytest.mark.parametrize("kw", CASES, ids=[str(c) for c in CASES])
@pytest.mark.parametrize("cid", [CID, "rr"])
def test_scan_frames_match_spark_path(wh, cid, kw):
    snap = wh.table.manifest()
    want = _spark_frames(wh, snap, cid, **kw)
    assert _scan_frames(wh, snap, cid, **kw) == want
    if not kw:
        assert len(want) == (18 if cid == CID else 24)


def test_scan_fixture_covers_partials_dates_and_overlap(wh):
    """The warehouse above exercises what the parity test claims:
    partial rows with and without metadata, rows in several date
    partitions, and files whose seq ranges overlap."""
    import pyarrow.parquet as pq

    snap = wh.table.manifest()
    rows = [r for t in R.scan_container(wh.table.dir, snap, CID)
            for r in R.rows_of(t, CID)]
    assert any(r["partial"] and r["partial_meta"] is None for r in rows)
    assert any(r["partial_meta"] is not None for r in rows)
    assert len({r["date"] for r in rows}) >= 2
    assert [r["seq"] for r in rows] == list(range(1, 19))

    ranges = []
    for f in snap["files"]:
        if f.startswith("container_id=rr/"):
            col = pq.read_table(wh.table.dir / f).column("seq").to_pylist()
            ranges.append((min(col), max(col)))
    ranges.sort()
    assert any(b[0] <= a[1] for a, b in zip(ranges, ranges[1:])), ranges


@pytest.mark.parametrize("cid", ["empty", "nope", "a"])
def test_scan_empty_and_unknown_containers(wh, cid):
    """No files for the container (registered or not, or a prefix of
    another container's id): no rows, on both paths."""
    snap = wh.table.manifest()
    assert _scan_frames(wh, snap, cid) == [] == \
        _spark_frames(wh, snap, cid)
    assert _scan_frames(wh, snap, cid, tail=5) == []


def test_scan_plans_before_returning(wh, monkeypatch):
    """File selection, footers and the tail boundary run in the call,
    not on first iteration, so a caller can fail before it answers."""
    import pyarrow.dataset as ds

    def boom(*a, **k):
        raise OSError("footer unreadable")

    monkeypatch.setattr(ds, "dataset", boom)
    with pytest.raises(OSError, match="footer unreadable"):
        R.scan_container(wh.table.dir, wh.table.manifest(), CID, tail=2)


def test_scan_tail_reads_only_newest_groups(wh, monkeypatch):
    """A tail read that the newest group satisfies never reads the
    older files' data. The newest group is burst 2's two files (its
    late row sits in the previous day's partition)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    snap = wh.table.manifest()
    newest = set()
    for f in snap["files"]:
        if f.startswith("container_id=a%3Ab/"):
            seqs = pq.read_table(wh.table.dir / f, columns=["seq"]) \
                .column("seq").to_pylist()
            if min(seqs) >= 13:
                newest.add(str(wh.table.dir / f))
    assert len(newest) == 2
    read = []
    real = ds.FileSystemDataset

    def spy(fragments, *a, **k):
        read.extend(fr.path for fr in fragments)
        return real(fragments, *a, **k)

    monkeypatch.setattr(ds, "FileSystemDataset", spy)
    got = [r["seq"] for t in R.scan_container(wh.table.dir, snap, CID,
                                              tail=2)
           for r in R.rows_of(t, CID)]
    assert got == [17, 18]
    assert set(read) == newest, read
