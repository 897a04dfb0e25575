"""Clients of the system under test: the LogDriver HTTP protocol over
its unix socket (what dockerd speaks) and the benchmark's control
socket."""

from __future__ import annotations

import http.client
import json
import socket
import struct
import time


class _UnixConn(http.client.HTTPConnection):
    def __init__(self, path: str, timeout: float):
        super().__init__("localhost", timeout=timeout)
        self._path = path

    def connect(self):
        self.sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        self.sock.settimeout(self.timeout)
        self.sock.connect(self._path)


class LogDriver:
    """One keep-alive connection to the plugin socket."""

    def __init__(self, path: str, timeout: float = 120.0):
        self.conn = _UnixConn(path, timeout)

    def post(self, route: str, body: dict, headers: dict | None = None
             ) -> bytes:
        self.conn.request("POST", route, json.dumps(body).encode(),
                          {"Content-Type": "application/json",
                           **(headers or {})})
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"{route}: HTTP {resp.status} {data[:200]!r}")
        return data

    def start_logging(self, cid: str, options: dict | None = None) -> None:
        out = json.loads(self.post("/LogDriver.StartLogging", {
            "File": f"/run/docker/logging/{cid}",
            "Info": {"ContainerID": cid, "Config": options or {}}}))
        if out.get("Err"):
            raise RuntimeError(out["Err"])

    def read_logs(self, cid: str, since: str | None = None,
                  until: str | None = None, tail: int | None = None,
                  request_id: str | None = None) -> bytes:
        cfg = {"Follow": False, "Tail": tail if tail else -1}
        if since:
            cfg["Since"] = since
        if until:
            cfg["Until"] = until
        hdr = {"X-Bench-Request": request_id} if request_id else None
        return self.post("/LogDriver.ReadLogs",
                         {"Info": {"ContainerID": cid}, "Config": cfg}, hdr)

    def follow(self, cid: str):
        """Open a Follow=true stream; returns the response to read from."""
        self.conn.request("POST", "/LogDriver.ReadLogs", json.dumps({
            "Info": {"ContainerID": cid},
            "Config": {"Follow": True, "Tail": -1}}).encode(),
            {"Content-Type": "application/json"})
        return self.conn.getresponse()

    def close(self) -> None:
        self.conn.close()


def split_frames(buf: bytes) -> tuple[list[bytes], bytes]:
    """Complete length-prefixed frames of ``buf`` and the remainder."""
    out = []
    pos = 0
    while pos + 4 <= len(buf):
        (n,) = struct.unpack_from(">I", buf, pos)
        if pos + 4 + n > len(buf):
            break
        out.append(buf[pos + 4:pos + 4 + n])
        pos += 4 + n
    return out, buf[pos:]


def lines_of(body: bytes) -> list[str]:
    """Decode a ReadLogs body into its lines (frame order kept)."""
    from logsqlite_spark.sources.frames import decode_log_entry

    frames, rest = split_frames(body)
    if rest:
        raise ValueError(f"{len(rest)} trailing bytes after the last frame")
    return [decode_log_entry(f).line.decode("utf-8") for f in frames]


class Control:
    """The SUT's control socket: one JSON request and reply per line."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, op: str, timeout: float = 170.0, **kw):
        with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
            s.settimeout(timeout)
            s.connect(self.path)
            s.sendall((json.dumps({"op": op, **kw}) + "\n").encode())
            buf = b""
            while not buf.endswith(b"\n"):
                chunk = s.recv(1 << 20)
                if not chunk:
                    raise RuntimeError(f"control {op}: connection closed")
                buf += chunk
        res = json.loads(buf)
        if "err" in res:
            raise RuntimeError(f"control {op}: {res['err']}")
        return res["ok"]

    def wait_ready(self, deadline: float) -> None:
        while True:
            try:
                self("ping", timeout=5)
                return
            except OSError:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.05)
