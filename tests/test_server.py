"""LogDriver HTTP endpoint over a unix socket (wire parity, S8/main.rs)."""

import json

import pytest

from logsqlite_spark.api import Engine
from logsqlite_spark.config import EngineConfig
from logsqlite_spark.server import connect_client
from logsqlite_spark.sources.frames import LogEntry, decode_frames
from logsqlite_spark.sources.spool import SpoolWriter

BASE_TS = 1_704_067_200_000_000_000


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    yield eng
    eng.stop_all()


@pytest.fixture()
def server(engine, tmp_path):
    srv = engine.serve_logdriver(str(tmp_path / "plugin.sock"))
    yield srv
    srv.stop()


def _post(srv, route, obj):
    conn = connect_client(srv.socket_path)
    body = json.dumps(obj).encode()
    conn.request("POST", route, body=body,
                 headers={"Content-Length": str(len(body))})
    return conn.getresponse()


def test_capabilities(server):
    resp = _post(server, "/LogDriver.Capabilities", {})
    assert resp.status == 200
    assert json.loads(resp.read()) == {"Cap": {"ReadLogs": True}}


def test_start_read_stop_roundtrip(spark, engine, server):
    # StartLogging registers the container (keyed by fifo, like docker)
    resp = _post(server, "/LogDriver.StartLogging",
                 {"File": "/run/f1.fifo",
                  "Info": {"ContainerID": "c1",
                           "Config": {"max_lines_per_tx": "500"}}})
    assert json.loads(resp.read())["Err"] == ""

    w = SpoolWriter(engine.config.spool_dir, "c1")
    w.write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + i * 10**9,
                 line=f"hello-{i}".encode())
        for i in range(5)
    ])
    engine.ingest_once("c1")

    # ReadLogs streams back the exact wire frames (chunked body)
    resp = _post(server, "/LogDriver.ReadLogs",
                 {"Info": {"ContainerID": "c1"},
                  "Config": {"Since": "0001-01-01T00:00:00Z",
                             "Until": "0001-01-01T00:00:00Z",
                             "Tail": 0, "Follow": False}})
    assert resp.status == 200
    entries = list(decode_frames(resp.read()))
    assert [e.line for e in entries] == \
        [f"hello-{i}\n".encode() for i in range(5)]
    assert entries[0].source == "stdout"
    assert entries[0].time_nano == BASE_TS

    # tail + since behave like the reference's ReadConfig normalization
    resp = _post(server, "/LogDriver.ReadLogs",
                 {"Info": {"ContainerID": "c1"}, "Config": {"Tail": 2}})
    tails = [e.line for e in decode_frames(resp.read())]
    assert tails == [b"hello-3\n", b"hello-4\n"]

    resp = _post(server, "/LogDriver.StopLogging", {"File": "/run/f1.fifo"})
    assert json.loads(resp.read())["Err"] == ""


def test_read_unknown_container_empty_stream(server):
    resp = _post(server, "/LogDriver.ReadLogs",
                 {"Info": {"ContainerID": "nope"}, "Config": {}})
    assert resp.status == 200
    assert list(decode_frames(resp.read())) == []


def _ingest(engine, cid, n, start=0):
    SpoolWriter(engine.config.spool_dir, cid).write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + i * 10**9,
                 line=f"hello-{i}".encode())
        for i in range(start, start + n)])
    engine.ingest_once(cid)


def test_read_error_before_first_frame_is_json_500(engine, server,
                                                   monkeypatch):
    """A ReadLogs that fails while planning answers with a well-formed
    JSON 500 — no 200 status line or chunked headers go out first —
    and the connection keeps serving."""
    engine.start_logging("ce", None)
    _ingest(engine, "ce", 3)

    def broken(*a, **k):
        raise OSError("manifest unreadable")

    monkeypatch.setattr(engine, "scan", broken)
    conn = connect_client(server.socket_path)
    body = json.dumps({"Info": {"ContainerID": "ce"},
                       "Config": {"Tail": 2}}).encode()
    conn.request("POST", "/LogDriver.ReadLogs", body=body,
                 headers={"Content-Length": str(len(body))})
    resp = conn.getresponse()
    assert resp.status == 500
    assert resp.getheader("Transfer-Encoding") is None
    assert json.loads(resp.read()) == \
        {"Err": "OSError: manifest unreadable"}

    monkeypatch.undo()
    conn.request("POST", "/LogDriver.ReadLogs", body=body,
                 headers={"Content-Length": str(len(body))})
    resp = conn.getresponse()
    assert resp.status == 200
    assert [e.line for e in decode_frames(resp.read())] == \
        [b"hello-1\n", b"hello-2\n"]
    conn.close()


def test_read_error_after_first_frame_truncates_stream(engine, server,
                                                      monkeypatch):
    """A failure after frames went out must not look like success: the
    server closes the connection without the terminating chunk, and
    the client sees a truncated body that holds only the frames sent."""
    import http.client

    engine.start_logging("cm", None)
    _ingest(engine, "cm", 2)
    _ingest(engine, "cm", 2, start=2)  # a second file: a second chunk
    real = engine.scan

    def fails_after_first(*a, **k):
        tables = real(*a, **k)

        def gen():
            yield next(tables)
            raise OSError("data file vanished")
        return gen()

    monkeypatch.setattr(engine, "scan", fails_after_first)
    resp = _post(server, "/LogDriver.ReadLogs",
                 {"Info": {"ContainerID": "cm"}, "Config": {}})
    assert resp.status == 200
    with pytest.raises(http.client.IncompleteRead) as exc:
        resp.read()
    assert [e.line for e in decode_frames(exc.value.partial)] == \
        [b"hello-0\n", b"hello-1\n"]


def test_unknown_route_404(server):
    resp = _post(server, "/LogDriver.Bogus", {})
    assert resp.status == 404


def test_tail_then_follow_combined(spark, engine, server):
    """The reference's tail-then-follow seam (logger.rs:386): one
    ReadLogs call with Tail=2 AND Follow=true serves the capped
    history first, then drops the cap and streams rows ingested after
    the call started — over the real unix-socket chunked wire."""
    import struct
    import threading
    import time as _time

    from logsqlite_spark.sources.frames import decode_log_entry

    resp = _post(server, "/LogDriver.StartLogging",
                 {"File": "/run/f2.fifo",
                  "Info": {"ContainerID": "c2", "Config": {}}})
    assert json.loads(resp.read())["Err"] == ""

    w = SpoolWriter(engine.config.spool_dir, "c2")
    w.write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + i * 10**9,
                 line=f"hello-{i}".encode())
        for i in range(5)
    ])
    engine.ingest_once("c2")

    conn = connect_client(server.socket_path)
    body = json.dumps({"Info": {"ContainerID": "c2"},
                       "Config": {"Tail": 2, "Follow": True}}).encode()
    conn.request("POST", "/LogDriver.ReadLogs", body=body,
                 headers={"Content-Length": str(len(body))})
    resp = conn.getresponse()
    assert resp.status == 200

    got: list[bytes] = []

    def _read_exact(n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = resp.read(n - len(buf))
            if not chunk:
                raise AssertionError(f"stream ended after {got}")
            buf += chunk
        return buf

    def _reader():
        # exactly 5 frames total (tail 2 of history + 3 live); the
        # reader must exit after the last one — a blocked read() holds
        # the response lock and deadlocks conn.close() in the main
        # thread
        while len(got) < 5:
            (ln,) = struct.unpack(">I", _read_exact(4))
            got.append(decode_log_entry(_read_exact(ln)).line)

    t = threading.Thread(target=_reader, daemon=True)
    t.start()

    # the capped history must arrive while the live rows don't exist
    deadline = _time.monotonic() + 30
    while len(got) < 2 and _time.monotonic() < deadline:
        _time.sleep(0.1)
    assert got[:2] == [b"hello-3\n", b"hello-4\n"], got

    # live rows ingested AFTER the call started stream out uncapped
    w.write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + (5 + i) * 10**9,
                 line=f"hello-{5 + i}".encode())
        for i in range(3)
    ])
    engine.ingest_once("c2")
    t.join(timeout=30)
    assert got == [f"hello-{i}\n".encode() for i in range(3, 8)], got
    conn.close()


def test_plugin_activate_handshake(spark, engine, server):
    """Dockerd's first call is /Plugin.Activate (docker.rs:190-193,
    routed at main.rs:101); the full handshake — Activate →
    Capabilities → StartLogging → ReadLogs — must work over ONE
    keep-alive socket session, like a real daemon drives it."""
    conn = connect_client(server.socket_path)

    def req(route, obj):
        body = json.dumps(obj).encode()
        conn.request("POST", route, body=body,
                     headers={"Content-Length": str(len(body))})
        resp = conn.getresponse()
        assert resp.status == 200, route
        return resp.read()

    assert json.loads(req("/Plugin.Activate", {})) == \
        {"Implements": ["LogDriver"]}
    assert json.loads(req("/LogDriver.Capabilities", {})) == \
        {"Cap": {"ReadLogs": True}}
    assert json.loads(req("/LogDriver.StartLogging",
                          {"File": "/run/hs.fifo",
                           "Info": {"ContainerID": "hs1"}}))["Err"] == ""

    w = SpoolWriter(engine.config.spool_dir, "hs1")
    w.write_burst([LogEntry(source="stdout", time_nano=BASE_TS,
                            line=b"hi")])
    engine.ingest_once("hs1")

    frames = req("/LogDriver.ReadLogs",
                 {"Info": {"ContainerID": "hs1"}, "Config": {}})
    assert [e.line for e in decode_frames(frames)] == [b"hi\n"]
    conn.close()


def test_decisions_served_while_following(spark, engine, server):
    """End-to-end composition (VERDICT r9 #6): engine ingest → per-
    batch minhash pair emits → streamed components state → the user-
    facing keep/drop verdict table served from that state WHILE a
    follow stream on the same engine is live — the pipeline a user
    actually runs (continuous log ingest with dedup verdicts on tap),
    not the pieces in isolation.  Verdicts must equal the batch API
    over the full corpus, and the follow reader must have streamed the
    second burst concurrently (proof the decisions read never blocked
    or drained the follow seam)."""
    import threading

    from pyspark.sql import functions as F

    from logsqlite_spark.operators.dedup import (
        _verdict_rows,
        connected_components,
        minhash_band_pairs,
    )
    from logsqlite_spark.streaming.incremental import (
        components_sink,
        decisions_rows,
        emitted_rows,
        minhash_sink,
    )

    resp = _post(server, "/LogDriver.StartLogging",
                 {"File": "/run/fdup.fifo",
                  "Info": {"ContainerID": "cdup", "Config": {}}})
    assert json.loads(resp.read())["Err"] == ""

    # doc texts with real shingle mass; 0≡3 exact dups, burst 2 dups 1
    mk = "the quick brown fox jumps over the lazy dog number {} end".format
    burst1 = [mk(0), mk(1), mk(2), mk(0)]
    burst2 = [mk(1), mk(9)]

    w = SpoolWriter(engine.config.spool_dir, "cdup")
    w.write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + i * 10**9,
                 line=t.encode())
        for i, t in enumerate(burst1)])
    engine.ingest_once("cdup")

    def docs_batch(lo: int):
        return (engine.logs_df()
                .filter(F.col("container_id") == "cdup")
                .filter(F.col("seq") > lo)
                .select(F.col("seq").alias("doc_id"),
                        F.col("line").alias("text")))

    mh_state = str(engine.config.warehouse_dir) + "/mh"
    emits = str(engine.config.warehouse_dir) + "/emits"
    cc_state = str(engine.config.warehouse_dir) + "/cc"
    mh = minhash_sink(mh_state, emit_dir=emits)
    cc = components_sink(cc_state)

    def feed(batch_id: int, lo: int, seen: set) -> set:
        mh(docs_batch(lo), batch_id)
        allp = {(r["a_id"], r["b_id"])
                for r in emitted_rows(spark, mh_state, emits).collect()}
        cc(spark.createDataFrame(sorted(allp - seen),
                                 "a_id long, b_id long"), batch_id)
        return allp

    seen = feed(0, 0, set())

    # live follow on the same engine, reading while decisions serve
    stop = threading.Event()
    followed: list[str] = []

    def _follow():
        for rows in engine.follow_tail("cdup", poll_interval_s=0.2,
                                       max_idle_polls=50, stop=stop.is_set):
            followed.extend(r["line"].rstrip("\n") for r in rows)
            if len(followed) >= len(burst1) + len(burst2):
                break

    th = threading.Thread(target=_follow, daemon=True)
    th.start()

    w.write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + (10 + i) * 10**9,
                 line=t.encode())
        for i, t in enumerate(burst2)])
    engine.ingest_once("cdup")
    feed(1, len(burst1), seen)

    all_docs = docs_batch(0)
    got = {r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
           for r in decisions_rows(spark, cc_state, all_docs).collect()}
    want = {r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
            for r in _verdict_rows(
                all_docs.select("doc_id")
                .join(connected_components(minhash_band_pairs(all_docs))
                      .withColumnRenamed("doc_id", "__cd"),
                      F.col("doc_id") == F.col("__cd"), "left")
                .select("doc_id", "cluster_id")).collect()}
    assert got == want and len(got) == len(burst1) + len(burst2)
    # the cross-burst dup resolved against history: burst2's copy of
    # mk(1) (seq 5) is an exact dup of burst1's seq 2, so it lands in
    # a cluster whose representative precedes it and is dropped (the
    # single-token-differing texts may legitimately band into one
    # minhash cluster — the exact rep id comes from `want`)
    dup_row = got[5]
    assert dup_row[1] is False and dup_row[2] == "near_dup"
    assert dup_row[0] is not None and dup_row[0] < 5

    th.join(timeout=30)
    stop.set()
    assert followed[:len(burst1)] == burst1
    assert followed[len(burst1):] == burst2


def _inotify_fds() -> int:
    import os

    n = 0
    for fd in os.listdir("/proc/self/fd"):
        try:
            n += os.readlink(f"/proc/self/fd/{fd}") == "anon_inode:inotify"
        except OSError:
            pass
    return n


def test_follow_hangup_releases_inotify_fd(engine, server):
    """A client that disconnects mid-follow leaves no inotify fd
    behind: the next publish makes the handler's send fail, and the
    spool tail's watch is closed with the stream."""
    import socket
    import time

    engine.start_logging("chu", None)
    _ingest(engine, "chu", 2)
    base = _inotify_fds()

    body = json.dumps({"Info": {"ContainerID": "chu"},
                       "Config": {"Follow": True}}).encode()
    s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    s.connect(server.socket_path)
    s.sendall(b"POST /LogDriver.ReadLogs HTTP/1.1\r\nHost: x\r\n"
              + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
    got = b""
    while b"hello-1" not in got:
        chunk = s.recv(65536)
        assert chunk, got
        got += chunk
    assert _inotify_fds() == base + 1         # the tail's watch
    s.close()

    SpoolWriter(engine.config.spool_dir, "chu").write_burst([
        LogEntry(source="stdout", time_nano=BASE_TS + 10**11,
                 line=b"after-hangup")])
    deadline = time.monotonic() + 30
    while _inotify_fds() > base and time.monotonic() < deadline:
        time.sleep(0.05)
    assert _inotify_fds() == base
