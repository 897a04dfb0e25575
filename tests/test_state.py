"""Control plane: state store (S9) + Engine lifecycle (T3/T5)."""

import os
import threading
import time

import pytest

from logsqlite_spark.api import Engine
from logsqlite_spark.config import EngineConfig, LogConfig
from logsqlite_spark.sources.frames import LogEntry
from logsqlite_spark.sources.spool import SpoolWriter
from logsqlite_spark.state import StateStore

BASE_TS = 1_704_067_200_000_000_000

def _burst(spool, cid, n, ts=BASE_TS):
    w = SpoolWriter(spool, cid)
    w.write_burst([
        LogEntry(source="stdout", time_nano=ts + i * 10**9,
                 line=f"l{i}".encode())
        for i in range(n)
    ])

def test_state_upsert_get_remove(tmp_path):
    s = StateStore(str(tmp_path))
    s.upsert("c1", "/run/fifo1", LogConfig())
    s.upsert("c1", "/run/fifo2", LogConfig(max_lines_per_tx=5))  # replace
    doc = s.get("c1")
    assert doc["fifo"] == "/run/fifo2"
    assert doc["log_conf"]["max_lines_per_tx"] == 5
    assert s.remove("c1") is True
    assert s.remove("c1") is False
    assert s.get("c1") is None

def test_state_list_and_dataframe(spark, tmp_path):
    s = StateStore(str(tmp_path))
    s.upsert("c1", "f1", LogConfig())
    s.upsert("c2", "f2", LogConfig(cleanup_age_s=60))
    assert [d["container_id"] for d in s.list_all()] == ["c1", "c2"]
    df = s.to_dataframe(spark)
    assert df.count() == 2
    row = df.filter("container_id = 'c2'").collect()[0]
    assert row["log_conf"]["cleanup_age_s"] == 60

@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    yield eng
    eng.stop_all()

def test_engine_lifecycle_batch(engine):
    engine.start_logging("c1", "/fifo/c1",
                         {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "c1", 5)
    res = engine.ingest_once()
    assert res["rows"] == 5

    out = engine.read_logs("c1", tail=2)
    assert [r["seq"] for r in out.collect()] == [4, 5]

    engine.stop_logging("c1")
    assert engine.state.get("c1") is None
    # delete_when_stopped=false keeps data
    assert engine.logs_df().count() == 5

def test_engine_delete_when_stopped(engine):
    engine.start_logging("c1", "/fifo/c1")  # default: delete on stop
    engine.start_logging("c2", "/fifo/c2")
    _burst(engine.config.spool_dir, "c1", 3)
    _burst(engine.config.spool_dir, "c2", 2)
    engine.ingest_once()
    engine.stop_logging("c1")
    left = engine.logs_df()
    assert left.select("container_id").distinct().collect()[0][0] == "c2"
    assert left.count() == 2


def _committed(eng):
    """(container_id, seq) pairs of a full-table read, after checking
    that every file the manifest references exists."""
    assert all(os.path.exists(f) for f in eng.table.data_files())
    return sorted((r["container_id"], r["seq"]) for r in
                  eng.logs_df().select("container_id", "seq").collect())


def test_stop_logging_drops_container_under_multiplexed_stream(engine):
    """StopLogging with delete_when_stopped while the multiplexed
    stream runs: the container's unconsumed spool files and one
    written after the stop are never committed, the table stays
    readable, and a later StartLogging commits again from seq 1."""
    spool = engine.config.spool_dir
    q = engine.start_multiplexed_ingest()
    engine.start_logging("cd")  # default: delete on stop
    engine.start_logging("ck", None, {"delete_when_stopped": "false"})
    _burst(spool, "cd", 3)
    _burst(spool, "ck", 2)
    q.processAllAvailable()
    assert _committed(engine) == [("cd", 1), ("cd", 2), ("cd", 3),
                                  ("ck", 1), ("ck", 2)]
    _burst(spool, "cd", 2, ts=BASE_TS + 10**11)  # not consumed yet
    engine.stop_logging("cd")
    _burst(spool, "cd", 1, ts=BASE_TS + 2 * 10**11)
    _burst(spool, "ck", 1, ts=BASE_TS + 2 * 10**11)
    q.processAllAvailable()
    assert _committed(engine) == [("ck", 1), ("ck", 2), ("ck", 3)]
    assert "cd" not in engine.table.head()["high_water"]

    engine.start_logging("cd", None, {"delete_when_stopped": "false"})
    _burst(spool, "cd", 2, ts=BASE_TS + 3 * 10**11)
    q.processAllAvailable()
    assert [s for c, s in _committed(engine) if c == "cd"] == [1, 2]
    assert q.isActive


def test_stop_logging_between_read_and_commit(spark, tmp_path, monkeypatch):
    """A drop that lands after a batch was read and staged but before
    it commits: the batch commits only the other containers' rows,
    the dropped container's staged files never enter the data tree,
    and the table stays readable."""
    from logsqlite_spark.streaming import ingest as ING

    eng = Engine(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    spool = eng.config.spool_dir
    eng.start_logging("cr")  # default: delete on stop
    eng.start_logging("ck", None, {"delete_when_stopped": "false"})
    _burst(spool, "ck", 1)
    eng.ingest_once()
    _burst(spool, "cr", 3)
    _burst(spool, "ck", 2, ts=BASE_TS + 10**11)

    real = ING._parquet_num_rows
    stopped: list = []

    def stop_then_count(path):
        if not stopped:
            stopped.append(1)
            eng.stop_logging("cr")
        return real(path)

    monkeypatch.setattr(ING, "_parquet_num_rows", stop_then_count)
    res = eng.ingest_once()
    assert stopped and res["rows"] == 2
    assert all(f.startswith("container_id=ck/") for f in res["new_files"])
    assert _committed(eng) == [("ck", 1), ("ck", 2), ("ck", 3)]
    assert not (tmp_path / "wh" / "logs" / "container_id=cr").exists()
    assert not any((tmp_path / "wh" / "logs" / "_staging").rglob("*"))
    assert os.listdir(os.path.join(spool, "cr")) == []  # consumed

def test_engine_replay_restores_registrations(spark, engine):
    engine.start_logging("c1", "/fifo/c1")
    engine.start_logging("c2", "/fifo/c2")
    # new engine instance over the same warehouse == daemon restart
    eng2 = Engine(spark, engine.config)
    assert eng2.replay() == ["c1", "c2"]

def test_engine_cleanup_all(engine):
    engine.start_logging("c1", None, {"cleanup_max_lines": "2",
                                      "delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "c1", 6)
    engine.ingest_once()
    results = engine.cleanup_all()
    assert results["c1"]["deleted_rows"] == 4
    assert sorted(r["seq"] for r in
                  engine.read_logs("c1").select("seq").collect()) == [5, 6]

def test_engine_sql_surface(engine):
    engine.start_logging("c1", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "c1", 4)
    engine.ingest_once()
    out = engine.sql(
        "SELECT container_id, count(*) AS n, max(seq) AS top "
        "FROM logs GROUP BY container_id")
    assert out.collect()[0].asDict() == {"container_id": "c1", "n": 4, "top": 4}
    st = engine.sql("SELECT container_id, log_conf.delete_when_stopped AS d "
                    "FROM active_streams")
    assert st.collect()[0]["d"] is False

def _wait(pred, timeout=60.0, every=0.5):
    import time
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            if pred():
                return True
        except Exception:
            pass
        time.sleep(every)
    return False


def test_t4_quarantine_policy_never_restarts(spark, tmp_path):
    """Decode errors on the multiplexed stream quarantine the bad
    frame and keep the good prefix; the stream keeps its original run
    (nothing bounces it) and goes on consuming."""
    from pathlib import Path

    from logsqlite_spark.sources.frames import encode_frame

    eng = Engine(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    try:
        eng.start_logging("cq4", "/run/cq4.fifo",
                          {"delete_when_stopped": "false"})
        d = Path(eng.config.spool_dir) / "cq4"
        d.mkdir(parents=True, exist_ok=True)
        good = encode_frame(LogEntry(source="stdout", time_nano=BASE_TS,
                                     line=b"ok"))
        import time as _time
        (d / f"{_time.time_ns():020d}-000000.plog").write_bytes(
            good + b"\x00\x00\x00\xffgarbage")
        q0 = eng.start_multiplexed_ingest()
        run_id0 = q0.runId
        assert _wait(lambda: spark.read.parquet(
            eng.config.logs_dir).count() >= 1)
        assert _wait(lambda: eng.decode_errors_df() is not None
                     and eng.decode_errors_df().count() == 1)
        _burst(eng.config.spool_dir, "cq4", 2, ts=BASE_TS + 10**11)
        assert _wait(lambda: spark.read.parquet(
            eng.config.logs_dir).count() >= 3)
        assert [r["seq"] for r in
                eng.read_logs("cq4").orderBy("seq").collect()] == [1, 2, 3]
        assert eng.decode_errors_df().count() == 1
        assert q0.isActive and q0.exception() is None
        assert eng._queries["__mux__"] is q0 and q0.runId == run_id0
    finally:
        eng.stop_all()


def test_cleaner_counts_and_reports_errors(engine, monkeypatch, capsys):
    """A failing cleaner pass is counted and printed as ``type:
    message`` on stderr, and the loop keeps running."""
    import time as _t

    calls = []

    def broken(*a, **k):
        calls.append(1)
        raise RuntimeError("disk full")

    monkeypatch.setattr(engine, "cleanup_all", broken)
    stop = engine.start_cleaner(interval_s=0.01)
    deadline = _t.monotonic() + 30
    while engine.cleaner_errors < 3 and _t.monotonic() < deadline:
        _t.sleep(0.01)
    stop.set()
    assert engine.cleaner_errors >= 3
    assert len(calls) >= engine.cleaner_errors
    assert "cleaner pass failed: RuntimeError: disk full" \
        in capsys.readouterr().err


def test_follow_live_seam_catchup_to_live_no_gap_no_dup(engine):
    """follow_live (round 13): the follow seam contract —
    history from the snapshot, live rows pushed by the ingest commit
    hook; rows landing between iterator creation and the first read
    appear exactly once inside the (shifted) tail window, the live
    handoff is at the snapshot high-water, no gap, no dup."""
    engine.start_logging("cv", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cv", 3)          # seqs 1..3
    engine.ingest_once()

    it = engine.follow_live("cv", tail=2, poll_interval_s=0.05,
                            max_idle_polls=3)
    # lands BEFORE the first read: part of the snapshot, tail shifts
    _burst(engine.config.spool_dir, "cv", 2, ts=BASE_TS + 10**11)  # 4,5
    engine.ingest_once()
    first = [r["seq"] for r in next(it)]
    assert first == [4, 5]

    # live rows pushed by the commit hook: exactly once, no gap
    _burst(engine.config.spool_dir, "cv", 2, ts=BASE_TS + 2 * 10**11)  # 6,7
    engine.ingest_once()
    rows2 = next(it)
    second = [r["seq"] for r in rows2]
    assert second == [6, 7]
    assert [r["line"] for r in rows2] == ["l0\n", "l1\n"]

    emitted = first + second
    assert len(emitted) == len(set(emitted))
    assert emitted == list(range(min(emitted), max(emitted) + 1))
    assert list(it) == []                             # idle timeout
    # subscription cleaned up on exhaustion
    assert engine._live_subs.get("cv") == []


def test_follow_live_streaming_end_to_end(engine):
    """follow_live over the MULTIPLEXED streaming ingest: a line
    written to the spool surfaces through the commit hook without a
    second (follow-side) trigger, and stopping the follow stops
    emission. The container registers and gets its spool dir only
    after the stream started."""
    import threading
    import time as _t

    engine.start_multiplexed_ingest()
    engine.start_logging("cw", None, {"delete_when_stopped": "false"})
    SpoolWriter(engine.config.spool_dir, "cw")
    got: list = []
    stop_flag = threading.Event()
    it = engine.follow_live("cw", poll_interval_s=0.1,
                            max_idle_polls=600,
                            stop=stop_flag.is_set)

    def drain():
        for batch in it:
            got.extend(batch)

    th = threading.Thread(target=drain, daemon=True)
    th.start()
    _burst(engine.config.spool_dir, "cw", 3)
    deadline = _t.time() + 90
    while len(got) < 3 and _t.time() < deadline:
        _t.sleep(0.05)
    assert [r["seq"] for r in got] == [1, 2, 3]
    assert got[0]["container_id"] == "cw"
    assert got[0]["line"] == "l0\n"
    stop_flag.set()
    th.join(timeout=30)
    assert not th.is_alive()
    engine.stop_all()


def test_follow_tail_seam_and_seq_parity(engine):
    """follow_tail (round 13): driver-side spool tail stitched at the
    manifest (high_water, last_file) seam.  The tail's provisional
    seq assignment must equal what ingest later commits; history/live
    handoff is exactly-once; a misnamed (stale) file is skipped just
    like the quarantine path."""
    engine.start_logging("ct", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "ct", 3)          # 1..3
    engine.ingest_once()

    it = engine.follow_tail("ct", tail=2, poll_interval_s=0.02,
                            max_idle_polls=4)
    _burst(engine.config.spool_dir, "ct", 2, ts=BASE_TS + 10**11)  # 4,5
    first = [r["seq"] for r in next(it)]
    assert first == [2, 3]                       # history tail window
    live = next(it)
    assert [r["seq"] for r in live] == [4, 5]    # decoded off the spool
    assert [r["line"] for r in live] == ["l0\n", "l1\n"]

    # a misnamed file below the tail's marker: skipped, not seq'd
    from pathlib import Path

    from logsqlite_spark.sources.frames import LogEntry, encode_frame
    bad = Path(engine.config.spool_dir) / "ct" / "00000000000000000000_0.plog"
    bad.write_bytes(encode_frame(LogEntry(
        source="stdout", time_nano=BASE_TS, line=b"misnamed")))
    _burst(engine.config.spool_dir, "ct", 1, ts=BASE_TS + 2 * 10**11)  # 6
    third = next(it)
    assert [r["seq"] for r in third] == [6]

    # ingest commits the same files: seqs must MATCH the tail's
    engine.ingest_once()
    table = {r["seq"]: r["line"] for r in
             engine.read_logs("ct").collect()}
    for r in live + third:
        assert table[r["seq"]] == r["line"]
    assert list(it) == []                        # idle timeout


def _inotify_fds() -> int:
    n = 0
    for fd in os.listdir("/proc/self/fd"):
        try:
            n += os.readlink(f"/proc/self/fd/{fd}") == "anon_inode:inotify"
        except OSError:
            pass
    return n


class _NoInotify:
    """A libc whose inotify_init1 fails (EMFILE / no inotify)."""

    @staticmethod
    def inotify_init1(flags):
        return -1


def _publish_later(spool, cid, n, ts, delay=0.3):
    """Publish a burst from another thread once the follower idles;
    returns the thread and a dict filled with the publish time."""
    at = {}

    def run():
        time.sleep(delay)
        at["t"] = time.monotonic()
        _burst(spool, cid, n, ts=ts)
    th = threading.Thread(target=run, daemon=True)
    th.start()
    return th, at


@pytest.mark.parametrize("armed", [True, False],
                         ids=["inotify", "sleep-fallback"])
def test_follow_tail_wakes_on_publish(engine, monkeypatch, armed):
    """An idle follow_tail wakes on the spool publish, not on its poll:
    with a 5 s poll a burst published while the tail waits is emitted
    in well under 1 s, with the seqs ingest later commits. With the
    watch forced to its sleep fallback the same burst is emitted
    exactly once, on the poll."""
    from logsqlite_spark.sources import spool as SP

    if not armed:
        monkeypatch.setattr(SP, "_libc", lambda: _NoInotify())
    poll = 5.0 if armed else 0.2
    spool = engine.config.spool_dir
    engine.start_logging("cwk", None, {"delete_when_stopped": "false"})
    _burst(spool, "cwk", 2)                                # 1,2
    engine.ingest_once()
    base_fds = _inotify_fds()

    it = engine.follow_tail("cwk", poll_interval_s=poll, max_idle_polls=3)
    assert [r["seq"] for r in next(it)] == [1, 2]
    assert _inotify_fds() == base_fds + armed
    th, at = _publish_later(spool, "cwk", 2, BASE_TS + 10**11)  # 3,4
    live = next(it)
    lag = time.monotonic() - at["t"]
    th.join()
    assert [r["seq"] for r in live] == [3, 4]
    if armed:
        assert lag < 1.0, lag

    engine.ingest_once()
    table = {r["seq"]: r["line"] for r in engine.read_logs("cwk").collect()}
    assert {r["seq"]: r["line"] for r in live} == {3: "l0\n", 4: "l1\n"}
    assert all(table[r["seq"]] == r["line"] for r in live)
    # exactly once: the next chunk is the next burst, not a re-emission
    th, _ = _publish_later(spool, "cwk", 1, BASE_TS + 2 * 10**11)  # 5
    assert [r["seq"] for r in next(it)] == [5]
    th.join()
    if armed:
        it.close()
    else:
        assert list(it) == []                  # idle polls, no dup
    assert _inotify_fds() == base_fds


def test_follow_tail_before_spool_dir_exists(engine):
    """A follow started before <spool>/<cid> exists sleeps on the poll
    until the directory appears, arms its watch then, and delivers the
    first burst."""
    spool = engine.config.spool_dir
    base_fds = _inotify_fds()
    it = engine.follow_tail("cnew", poll_interval_s=0.05,
                            max_idle_polls=200)
    th, _ = _publish_later(spool, "cnew", 3, BASE_TS)
    assert [r["seq"] for r in next(it)] == [1, 2, 3]
    th.join()
    assert _inotify_fds() == base_fds + 1      # armed once the dir exists
    th, _ = _publish_later(spool, "cnew", 1, BASE_TS + 10**11)
    assert [r["seq"] for r in next(it)] == [4]
    th.join()
    it.close()
    assert _inotify_fds() == base_fds


def test_publish_watch_above_fd_setsize(tmp_path):
    """A daemon with many open connections hands the watch an fd above
    FD_SETSIZE (1024), which select(2) cannot wait on; the wait must
    still time out and wake on a publish."""
    from logsqlite_spark.sources.spool import PublishWatch

    hold = []
    try:
        while not hold or hold[-1] <= 1024:
            hold.append(os.dup(0))
        watch = PublishWatch(str(tmp_path / "c"))   # no dir: fallback
        (tmp_path / "c").mkdir()
        watch.wait(0.01)                            # re-arms
        assert _inotify_fds() >= 1
        t0 = time.monotonic()
        watch.wait(0.05)
        assert time.monotonic() - t0 >= 0.04        # timed out
        th = threading.Timer(0.1, _burst, (str(tmp_path), "c", 1))
        th.start()
        t0 = time.monotonic()
        watch.wait(5.0)
        assert time.monotonic() - t0 < 1.0          # woke on the publish
        th.join()
        watch.close()
    finally:
        for fd in hold:
            os.close(fd)


def test_follow_tail_releases_its_watch(engine):
    """200 follows, half exhausted and half closed mid-stream, leave
    no fd behind. Total fds get a small slack for py4j's connection
    pool; a per-follow leak would add hundreds."""
    engine.start_logging("cfd", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cfd", 2)
    engine.ingest_once()
    base_fds = _inotify_fds()
    before = len(os.listdir("/proc/self/fd"))
    for i in range(200):
        it = engine.follow_tail("cfd", poll_interval_s=0.001,
                                max_idle_polls=1)
        assert [r["seq"] for r in next(it)] == [1, 2]
        if i % 2:
            it.close()
        else:
            assert list(it) == []
    assert _inotify_fds() == base_fds
    assert len(os.listdir("/proc/self/fd")) < before + 10


def test_follow_tail_resyncs_when_ingest_consumes_between_polls(engine):
    """Files consumed AND deleted by ingest between tail polls never
    appear in the listing — the head (high_water, last_file) check
    must resync from the committed table with no gap and no seq
    shift for files tailed afterwards."""
    engine.start_logging("cu", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cu", 2)          # 1,2
    engine.ingest_once()

    it = engine.follow_tail("cu", poll_interval_s=0.02,
                            max_idle_polls=4)
    hist = [r["seq"] for r in next(it)]
    assert hist == [1, 2]
    # burst + ingest (consume deletes the file) BEFORE the next poll
    _burst(engine.config.spool_dir, "cu", 3, ts=BASE_TS + 10**11)  # 3..5
    engine.ingest_once()
    resynced = [r["seq"] for r in next(it)]
    assert resynced == [3, 4, 5]
    # a file tailed AFTER the resync continues at the right seq
    _burst(engine.config.spool_dir, "cu", 1, ts=BASE_TS + 2 * 10**11)  # 6
    assert [r["seq"] for r in next(it)] == [6]
    engine.ingest_once()
    assert sorted(r["seq"] for r in engine.read_logs("cu").collect()) \
        == [1, 2, 3, 4, 5, 6]
    assert list(it) == []


def test_follow_tail_decode_error_prefix_parity(engine):
    """A corrupt frame stops a file's tail decode at the bad frame —
    exactly the distributed decode's good-prefix rule — so the tail's
    seq assignment stays equal to what ingest commits."""
    from pathlib import Path

    from logsqlite_spark.sources.frames import LogEntry, encode_frame

    engine.start_logging("cx", None, {"delete_when_stopped": "false"})
    w = SpoolWriter(engine.config.spool_dir, "cx")
    good = encode_frame(LogEntry(source="stdout", time_nano=BASE_TS,
                                 line=b"keep"))
    name = w.write_burst([])
    Path(name).write_bytes(good + b"\xff\xff\xff\xff garbage")
    _burst(engine.config.spool_dir, "cx", 1, ts=BASE_TS + 10**11)
    it = engine.follow_tail("cx", poll_interval_s=0.02,
                            max_idle_polls=4)
    got = []
    for batch in it:
        got.extend(batch)
        if len(got) >= 2:
            break
    assert [(r["seq"], r["line"]) for r in got] == \
        [(1, "keep\n"), (2, "l0\n")]
    engine.ingest_once()
    table = sorted((r["seq"], r["line"])
                   for r in engine.read_logs("cx").collect())
    assert table == [(1, "keep\n"), (2, "l0\n")]


def test_follow_tail_commit_between_head_and_manifest_no_duplicates(engine):
    """The resync must take rows AND file markers from ONE manifest
    snapshot: a commit landing between the tail's head read and its
    manifest read (spool file left on disk, consume=False) was
    previously emitted twice — once from the manifest rows, then
    re-decoded off the spool with shifted seqs, over-advancing the
    cursor so later committed rows would be dropped."""
    import logsqlite_spark.streaming.ingest as ING

    engine.start_logging("cz", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cz", 2)          # 1,2
    engine.ingest_once()

    it = engine.follow_tail("cz", poll_interval_s=0.02,
                            max_idle_polls=4)
    assert [r["seq"] for r in next(it)] == [1, 2]

    # commit G lands before the next head read...
    _burst(engine.config.spool_dir, "cz", 1, ts=BASE_TS + 10**11)  # 3
    engine.ingest_once()

    # ...and commit H (file left ON DISK) lands in the window between
    # the head read and the manifest read — injected one-shot
    orig_head = engine.table.head
    fired = {"v": False}

    def racing_head():
        h = orig_head()
        if not fired["v"]:
            fired["v"] = True
            _burst(engine.config.spool_dir, "cz", 2,
                   ts=BASE_TS + 2 * 10**11)            # 4,5
            ING.ingest_spool_once(
                engine.spark, engine.config.spool_dir,
                engine.config.logs_dir, engine.config.state_dir,
                "cz", consume=False)
        return h

    engine.table.head = racing_head
    try:
        out = [r for rows in it for r in rows]
    finally:
        engine.table.head = orig_head
    assert [r["seq"] for r in out] == [3, 4, 5], \
        [r["seq"] for r in out]
    assert [r["line"] for r in out[-2:]] == ["l0\n", "l1\n"]


def test_follow_tail_decodes_gzip_spool(engine):
    """A rotated-shipper .plog.gz spool file is decoded by the driver
    tail with the same seqs ingest later commits."""
    from logsqlite_spark.sources.frames import LogEntry

    engine.start_logging("cgz", None, {"delete_when_stopped": "false"})
    w = SpoolWriter(engine.config.spool_dir, "cgz")
    w.write_burst([LogEntry(source="stdout", time_nano=BASE_TS,
                            line=b"h0")])
    engine.ingest_once()

    it = engine.follow_tail("cgz", poll_interval_s=0.02,
                            max_idle_polls=4)
    assert [r["seq"] for r in next(it)] == [1]
    w.write_burst([LogEntry(source="stdout",
                            time_nano=BASE_TS + 10**11 + i,
                            line=f"z{i}".encode()) for i in range(2)],
                  compress=True)
    live = next(it)
    assert [r["seq"] for r in live] == [2, 3]
    assert [r["line"] for r in live] == ["z0\n", "z1\n"]
    engine.ingest_once()
    table = {r["seq"]: r["line"]
             for r in engine.read_logs("cgz").collect()}
    for r in live:
        assert table[r["seq"]] == r["line"]


def test_follow_tail_resync_over_large_backlog_emits_chunked(
        engine, monkeypatch):
    """VERDICT r13 #3: a consumer that stalls while ingest keeps
    consuming resyncs over the whole backlog — the catch-up emit must
    be CHUNKED (toLocalIterator + FOLLOW_EMIT_BATCH), never one
    unbounded driver collect, and still exactly-once in seq order."""
    from logsqlite_spark.streaming import follow as FW

    monkeypatch.setattr(FW, "FOLLOW_EMIT_BATCH", 4)
    engine.start_logging("cbk", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cbk", 2)          # 1,2
    engine.ingest_once()

    it = engine.follow_tail("cbk", poll_interval_s=0.02,
                            max_idle_polls=4)
    assert [r["seq"] for r in next(it)] == [1, 2]
    # stalled consumer: 10 rows (2.5x the emit batch) land AND are
    # consumed (files deleted) before the next poll
    _burst(engine.config.spool_dir, "cbk", 10, ts=BASE_TS + 10**11)
    engine.ingest_once()
    got, chunks = [], []
    while len(got) < 10:
        ch = next(it)
        chunks.append(len(ch))
        got.extend(r["seq"] for r in ch)
    assert got == list(range(3, 13))       # exactly-once, seq order
    assert max(chunks) <= 4, chunks        # bounded chunks
    assert len(chunks) >= 3, chunks
    assert list(it) == []                  # idle timeout, no stragglers


def test_follow_live_sheds_fat_commits_to_resync(engine, monkeypatch):
    """r16 (VERDICT r15 #7): _publish_live runs in the committing
    thread, so its per-commit work is hard-bounded (LIVE_MAX_FILES/
    LIVE_MAX_BYTES).  A commit over the bound pushes a resync
    sentinel instead of pyarrow rows; the follower catches up from
    the committed table in ITS OWN thread — exactly once, no gap, no
    dup, and the commit loop never read a data byte."""
    import pyarrow.parquet as pq

    engine.start_logging("cf", None, {"delete_when_stopped": "false"})
    _burst(engine.config.spool_dir, "cf", 3)          # seqs 1..3
    engine.ingest_once()

    # every subsequent commit is "fat": shed everything
    monkeypatch.setattr(type(engine), "LIVE_MAX_FILES_PER_COMMIT", 0)
    # prove the commit thread reads no data bytes while shedding
    real_read = pq.read_table

    def _no_read(*a, **k):
        raise AssertionError("fan-out read a parquet despite the bound")

    it = engine.follow_live("cf", tail=2, poll_interval_s=0.05,
                            max_idle_polls=6)
    first = [r["seq"] for r in next(it)]
    assert first == [2, 3]

    monkeypatch.setattr(pq, "read_table", _no_read)
    _burst(engine.config.spool_dir, "cf", 2, ts=BASE_TS + 10**11)  # 4,5
    engine.ingest_once()
    monkeypatch.setattr(pq, "read_table", real_read)  # follower may read
    second = [r["seq"] for r in next(it)]
    assert second == [4, 5]

    # a second shed batch: the resync cursor advanced, no dup
    monkeypatch.setattr(pq, "read_table", _no_read)
    _burst(engine.config.spool_dir, "cf", 2, ts=BASE_TS + 2 * 10**11)
    engine.ingest_once()
    monkeypatch.setattr(pq, "read_table", real_read)
    third = [r["seq"] for r in next(it)]
    assert third == [6, 7]

    emitted = first + second + third
    assert len(emitted) == len(set(emitted))
    assert emitted == list(range(min(emitted), max(emitted) + 1))
    assert list(it) == []
