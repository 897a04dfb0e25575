"""Docker LogDriver HTTP endpoint over a unix socket (wire parity).

The reference is a logging-driver *plugin*: Docker talks to it via
HTTP POSTs on a unix socket (/root/reference/src/main.rs:97-110) —
`/LogDriver.StartLogging`, `/LogDriver.StopLogging`,
`/LogDriver.Capabilities`, and `/LogDriver.ReadLogs`, the last
streaming length-prefixed protobuf LogEntry frames back as the
response body (docker.rs:187, logger.rs:395-455). This module is the
same surface as a thin stdlib shim in front of :class:`Engine`, which
makes the parity claim end-to-end demonstrable: a Docker daemon (or
any client of the reference) can point at this socket unchanged.

Design notes:
- Threaded handlers (the reference serves concurrently via axum;
  Spark's driver schedules concurrent jobs fine). Control-plane
  mutations still serialize through the Engine's state store, like the
  reference's actor loop (statehandler.rs:102-191).
- ReadLogs is answered on the driver without a Spark job: the
  committed snapshot's files for the container are scanned with
  ``pyarrow.dataset`` (``read.scan_container``) and encoded to frames
  from column arrays (``wire.frames_of``). Files whose seq ranges
  overlap are read as one group, so the driver holds at most the
  largest such group, never the whole result. The scan is planned
  (snapshot, file selection, footers, tail boundary) before the status
  line goes out, so a planning failure is a well-formed JSON 500. The
  body is chunked, one chunk per group; a failure after the status
  line closes the connection without the terminating chunk, so the
  client sees a truncated stream, never a clean end. Follow=true keeps
  the body open and streams rows as spool files are published, like
  the reference's waker (logger.rs:442-451) but woken by the publish
  instead of a 1 s timer.
- Docker sometimes omits content-type; the reference injects it via
  middleware (main.rs:17-29). We simply never require it.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from http.server import BaseHTTPRequestHandler
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from logsqlite_spark.api import Engine

_SENTINEL_DATES = ("0001-01-01T00:00:00Z", "")


def _norm_time(v) -> str | None:
    """P6 sentinel elimination (docker.rs:148-158): zero-value dates
    mean 'unbounded'."""
    if v is None or v in _SENTINEL_DATES:
        return None
    return str(v)


def _norm_tail(v) -> int | None:
    """Tail < 1 means 'all' (docker.rs:144-147)."""
    try:
        n = int(v)
    except (TypeError, ValueError):
        return None
    return n if n >= 1 else None


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "logsqlite-spark"

    # the server instance carries .engine and .fifo_map
    def _json_body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b"{}"
        try:
            return json.loads(raw.decode("utf-8") or "{}")
        except json.JSONDecodeError:
            return {}

    def _reply_json(self, obj: dict, status: int = 200) -> None:
        body = json.dumps(obj).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet: tests assert on output
        pass

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        eng: Engine = self.server.engine  # type: ignore[attr-defined]
        body = self._json_body()
        try:
            if self.path == "/Plugin.Activate":
                # Plugin handshake (docker.rs:190-193, routed at
                # main.rs:101): dockerd calls this FIRST to discover
                # what the plugin implements; without it the daemon
                # never reaches StartLogging.
                self._reply_json({"Implements": ["LogDriver"]})
            elif self.path == "/LogDriver.Capabilities":
                # main.rs capabilities: the plugin reads logs back
                self._reply_json({"Cap": {"ReadLogs": True}})
            elif self.path == "/LogDriver.StartLogging":
                fifo = body.get("File") or ""
                info = body.get("Info") or {}
                cid = info.get("ContainerID") or ""
                if not cid:
                    self._reply_json({"Err": "missing Info.ContainerID"})
                    return
                eng.start_logging(cid, fifo or None,
                                  options=info.get("Config") or None)
                with self.server.lock:  # type: ignore[attr-defined]
                    self.server.fifo_map[fifo] = cid  # type: ignore[attr-defined]
                self._reply_json({"Err": ""})
            elif self.path == "/LogDriver.StopLogging":
                fifo = body.get("File") or ""
                with self.server.lock:  # type: ignore[attr-defined]
                    cid = self.server.fifo_map.pop(fifo, None)  # type: ignore[attr-defined]
                if cid is not None:
                    eng.stop_logging(cid)
                self._reply_json({"Err": ""})
            elif self.path == "/LogDriver.ReadLogs":
                self._read_logs(eng, body)
            else:
                self._reply_json({"Err": f"unknown route {self.path}"}, 404)
        except (BrokenPipeError, ConnectionResetError):
            pass  # client hung up mid-stream (docker does this on ^C)
        except Exception as e:  # noqa: BLE001 - protocol says Err string
            try:
                self._reply_json({"Err": f"{type(e).__name__}: {e}"}, 500)
            except BrokenPipeError:
                pass

    def _read_logs(self, eng: Engine, body: dict) -> None:
        import sys

        from logsqlite_spark.operators.wire import frames_of

        info = body.get("Info") or {}
        cfg = body.get("Config") or {}
        cid = info.get("ContainerID") or ""
        since = _norm_time(cfg.get("Since"))
        until = _norm_time(cfg.get("Until"))
        tail = _norm_tail(cfg.get("Tail"))
        follow = bool(cfg.get("Follow"))
        # errors up to here reach do_POST before any byte is sent
        tables = None if follow else \
            eng.scan(cid, since=since, until=until, tail=tail)

        self.send_response(200)
        self.send_header("Content-Type", "application/x-json-stream")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()

        def send(frames: list[bytes]) -> None:
            if frames:
                chunk = b"".join(frames)
                self.wfile.write(f"{len(chunk):x}\r\n".encode() + chunk
                                 + b"\r\n")

        try:
            if tables is not None:
                for t in tables:
                    send(frames_of(t))
            else:
                self._follow(eng, cid, since, tail, send)
        except (BrokenPipeError, ConnectionResetError):
            raise
        except Exception as e:  # noqa: BLE001 — the status line is out
            # a JSON 500 now would land inside the chunked body; end the
            # connection without the terminating chunk instead
            self.close_connection = True
            print(f"[logsqlite-spark] ReadLogs {cid} failed mid-stream: "
                  f"{type(e).__name__}: {e}", file=sys.stderr)
            return
        self.wfile.write(b"0\r\n\r\n")
        self.wfile.flush()

    def _follow(self, eng: Engine, cid: str, since, tail, send) -> None:
        """Follow=true: history from the committed snapshot, then rows
        as they arrive; every row encoded on the driver with the same
        frame contract as the non-follow scan."""
        from contextlib import closing

        from logsqlite_spark.operators.wire import frame_of

        stop = getattr(self.server, "stopping", None)
        # follow via the driver spool tail: it wakes on each spool
        # publish (the reference polls every 1 s, logger.rs:287-288),
        # no Spark job per batch, and keeps the reference's idle
        # window. closing(): a hang-up surfaces as an error from
        # send(), and the tail's inotify fd must go with it.
        with closing(eng.follow_tail(
                cid, since=since, tail=tail,
                stop=(lambda: stop.is_set()) if stop else None)) as it:
            for rows in it:
                send([frame_of(r["source"], r["ts_nanos"], r["line"],
                               r["partial"], r["partial_meta"])
                      for r in rows])


class _UnixHTTPServer(socketserver.ThreadingUnixStreamServer):
    daemon_threads = True
    allow_reuse_address = True

    def get_request(self):
        sock, _ = self.socket.accept()
        # BaseHTTPRequestHandler wants a (host, port) client address
        return sock, ("unix", 0)

    def handle_error(self, request, client_address):
        # docker tears the ReadLogs connection down mid-stream on ^C;
        # that's a normal disconnect, not a server error worth a
        # traceback on stderr
        import sys
        exc = sys.exc_info()[1]
        if isinstance(exc, (BrokenPipeError, ConnectionResetError)):
            return
        super().handle_error(request, client_address)


class LogDriverServer:
    """Lifecycle wrapper: bind the unix socket, serve on a daemon
    thread, close cleanly (the plugin process of the reference)."""

    def __init__(self, engine: Engine, socket_path: str):
        self.socket_path = socket_path
        self._srv = _UnixHTTPServer(socket_path, _Handler)
        self._srv.engine = engine  # type: ignore[attr-defined]
        self._srv.fifo_map = {}  # type: ignore[attr-defined]
        self._srv.lock = threading.Lock()  # type: ignore[attr-defined]
        self._srv.stopping = threading.Event()  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    def start(self) -> LogDriverServer:
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        name="logdriver-http", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.stopping.set()  # type: ignore[attr-defined]
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread:
            self._thread.join(timeout=10)


def connect_client(socket_path: str):
    """An http.client.HTTPConnection speaking over the unix socket —
    what the Docker daemon does; used by tests and CLIs."""
    import http.client

    class UnixHTTPConnection(http.client.HTTPConnection):
        def __init__(self, path: str):
            super().__init__("localhost")
            self._path = path

        def connect(self):
            self.sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self.sock.connect(self._path)

    return UnixHTTPConnection(socket_path)
