"""Span tracing for the traced run, installed from outside the engine.

``install(tracer)`` wraps the engine's public functions at the names
through which they are looked up (module attributes the callers
resolve at call time, class methods), so no engine file changes. A
span is ``(name, start, end, parent, request id)``; spans stay in
memory until ``Tracer.dump`` writes them out, and ``Tracer.reduce``
turns them into per-layer self time and counts.

A function returning an iterator (ReadLogs frame streaming, the follow
iterators) gets one span from the call to the iterator's exhaustion or
close.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording -----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self):
        return getattr(self._local, "req", None)

    @request_id.setter
    def request_id(self, value) -> None:
        self._local.req = value

    def begin(self, name: str) -> tuple:
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1][0] if st else None
        st.append((sid, name))
        return sid, name, parent, self.request_id, time.perf_counter()

    def end(self, token: tuple) -> float:
        sid, name, parent, req, t0 = token
        t1 = time.perf_counter()
        st = self._stack()
        for i in range(len(st) - 1, -1, -1):
            if st[i][0] == sid:
                del st[i]
                break
        with self._lock:
            self.spans.append((name, t0, t1, sid, parent, req))
        return t1 - t0

    def within(self, name: str) -> bool:
        """Is a span called ``name`` open in this thread?"""
        return any(n == name for _, n in self._stack())

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    def wrap(self, name: str, fn, after=None, before=None):
        """``fn`` with a span; ``before(args, kwargs)`` and
        ``after(result, args, kwargs, seconds)`` record counts."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if before:
                before(a, kw)
            tok = tracer.begin(name)
            try:
                res = fn(*a, **kw)
            except BaseException as e:
                tracer.end(tok)
                tracer.add(f"{name}.raised.{type(e).__name__}")
                raise
            secs = tracer.end(tok)
            if after:
                after(res, a, kw, secs)
            return res
        return wrapper

    def wrap_iter(self, name: str, fn, per_item=None):
        """``fn`` returns an iterator: the span runs from the call (which
        may already start the work) to the iterator's exhaustion."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            req = tracer.request_id
            tok = tracer.begin(name)
            try:
                it = fn(*a, **kw)
            except BaseException:
                tracer.end(tok)
                raise

            def run():
                tracer.request_id = req
                try:
                    for item in it:
                        if per_item:
                            per_item(item)
                        yield item
                finally:
                    tracer.end(tok)
            return run()
        return wrapper

    # -- output ------------------------------------------------------------------

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
            counts = dict(self.counts)
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start", "end", "id", "parent",
                                  "request"],
                       "spans": spans, "counts": counts}, fh)

    def reduce(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus
        the time its direct children cover)."""
        with self._lock:
            spans = list(self.spans)
        child_time: dict[int, float] = {}
        for name, t0, t1, sid, parent, req in spans:
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        out: dict[str, dict] = {}
        for name, t0, t1, sid, parent, req in spans:
            d = out.setdefault(name, {"count": 0, "total_s": 0.0,
                                      "self_s": 0.0})
            d["count"] += 1
            d["total_s"] += t1 - t0
            d["self_s"] += max(0.0, (t1 - t0) - child_time.get(sid, 0.0))
        return out

    def by_request(self, names: tuple[str, ...]) -> dict:
        """Seconds per request id spent in the named spans."""
        with self._lock:
            spans = list(self.spans)
        out: dict = {}
        for name, t0, t1, sid, parent, req in spans:
            if req is not None and name in names:
                out[req] = out.get(req, 0.0) + (t1 - t0)
        return out


def _size(paths) -> int:
    total = 0
    for p in paths or ():
        try:
            total += os.stat(p).st_size
        except OSError:
            pass
    return total


def install(tr: Tracer) -> None:
    """Wrap the engine's layer boundaries (see the module docstring)."""
    from logsqlite_spark import api, server, session
    from logsqlite_spark.operators import compact, read, retention, wire
    from logsqlite_spark.sources import jsonl
    from logsqlite_spark.streaming import ingest
    from logsqlite_spark.table import CommitConflict, ManifestTable

    # session: the benchmark's SUT calls session.get_spark by attribute
    session.get_spark = tr.wrap("session.get_spark", session.get_spark)

    # sources: the pull resolves read_spool_batch from ingest's globals
    # and read_jsonl_spool_batch from the jsonl module at call time
    def src_before(a, kw):
        paths = kw.get("paths") or []
        tr.add("sources.spool_files", len(paths))
        tr.add("sources.spool_bytes", _size(paths))
    ingest.read_spool_batch = tr.wrap(
        "sources.read_plan", ingest.read_spool_batch, before=src_before)
    jsonl.read_jsonl_spool_batch = tr.wrap(
        "sources.read_plan", jsonl.read_jsonl_spool_batch, before=src_before)

    # ingest: api resolves ING.ingest_spool_once at call time
    def pull_after(res, a, kw, secs):
        res = res or {}
        tr.add("ingest.pulls")
        tr.add("ingest.rows", res.get("rows", 0))
        tr.add("ingest.files_out", len(res.get("new_files") or []))
        tr.add("ingest.decode_errors", res.get("decode_errors", 0) or 0)
    ingest.ingest_spool_once = tr.wrap(
        "ingest.pull", ingest.ingest_spool_once, after=pull_after)

    # table: class methods, so every caller goes through the wrapper
    def commit_after(kind):
        def after(res, a, kw, secs):
            tr.add(f"table.commits_{kind}")
        return after
    orig_append = ManifestTable.commit_append
    orig_replace = ManifestTable.commit_replace

    def counted_conflicts(name, fn, after):
        w = tr.wrap(name, fn, after=after)

        @functools.wraps(fn)
        def inner(*a, **kw):
            try:
                return w(*a, **kw)
            except CommitConflict:
                tr.add("table.commit_conflicts")
                raise
        return inner
    ManifestTable.commit_append = counted_conflicts(
        "table.commit_append", orig_append, commit_after("append"))
    ManifestTable.commit_replace = counted_conflicts(
        "table.commit_replace", orig_replace, commit_after("replace"))
    ManifestTable.import_existing = tr.wrap(
        "table.import_existing", ManifestTable.import_existing)

    def read_df_after(res, a, kw, secs):
        manifest = a[2] if len(a) > 2 else kw.get("manifest")
        if manifest is not None and "files" in manifest:
            tr._local.last_files = manifest["files"]
    ManifestTable.read_df = tr.wrap("table.read_df", ManifestTable.read_df,
                                    after=read_df_after)

    def head_before(a, kw):
        if tr.within("follow.tail"):
            tr.add("follow.tail_polls")
    ManifestTable.head = tr.wrap("table.head", ManifestTable.head,
                                 before=head_before)

    def manifest_before(a, kw):
        if tr.within("follow.tail"):
            tr.add("follow.resyncs")
    ManifestTable.manifest = tr.wrap("table.manifest", ManifestTable.manifest,
                                     before=manifest_before)

    # read: api resolves R.read_logs at call time. Files scanned are
    # the snapshot's files that survive partition pruning: the
    # container's directory, narrowed to the window's dates.
    def read_after(res, a, kw, secs):
        files = getattr(tr._local, "last_files", None)
        cid = kw.get("container_id")
        if files is None or cid is None:
            return
        from logsqlite_spark.functions.time import normalize_read_params
        from logsqlite_spark.table import escape_partition_value

        since, until, _ = normalize_read_params(kw.get("since"),
                                                kw.get("until"), None)
        prefix = f"container_id={escape_partition_value(cid)}/date="
        lo = _date_of(since) if since is not None else ""
        hi = _date_of(until) if until is not None else "9999"
        n = sum(1 for f in files if f.startswith(prefix)
                and lo <= f[len(prefix):len(prefix) + 10] <= hi)
        tr.add("read.calls")
        tr.add("read.files_scanned", n)
    read.read_logs = tr.wrap("read.plan", read.read_logs, after=read_after)

    # wire: the ReadLogs handler imports stream_wire_frames at call time
    def frame_seen(row):
        tr.add("wire.frames")
        tr.add("wire.bytes", len(row["frame"]))
    wire.stream_wire_frames = tr.wrap_iter(
        "wire.stream", wire.stream_wire_frames, per_item=frame_seen)

    # server: one span per ReadLogs request, keyed by the client's id
    orig_read = server._Handler._read_logs

    @functools.wraps(orig_read)
    def read_logs_handler(self, eng, body):
        tr.request_id = self.headers.get("X-Bench-Request")
        tok = tr.begin("server.read_logs")
        try:
            return orig_read(self, eng, body)
        finally:
            tr.end(tok)
            tr.request_id = None
    server._Handler._read_logs = read_logs_handler

    # follow: the engine's iterators; rows counted per yielded chunk
    def follow_rows(chunk):
        tr.add("follow.rows", len(chunk))
    for meth, name in (("follow_tail", "follow.tail"),
                       ("follow_live", "follow.live")):
        setattr(api.Engine, meth, tr.wrap_iter(
            name, getattr(api.Engine, meth), per_item=follow_rows))

    # retention / compaction: api resolves RET.apply_retention and
    # CP.compact_all through module attributes at call time
    def ret_after(res, a, kw, secs):
        res = res or {}
        tr.add("retention.deleted_rows", res.get("deleted_rows", 0))
        tr.add("retention.rewritten_partitions",
               res.get("rewritten_partitions", 0))
        tr.add("retention.conflicts", 1 if res.get("conflict") else 0)
    retention.apply_retention = tr.wrap(
        "retention.apply", retention.apply_retention, after=ret_after)
    api.Engine.cleanup_all = tr.wrap("retention.pass", api.Engine.cleanup_all)

    def compact_after(res, a, kw, secs):
        for r in (res or {}).values():
            tr.add("compact.files_before", r.get("files_before", 0))
            tr.add("compact.files_after", r.get("files_after", 0))
    compact.compact_all = tr.wrap("compact.pass", compact.compact_all,
                                  after=compact_after)


def _date_of(ns: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(ns / 1e9, tz=dt.timezone.utc) \
        .strftime("%Y-%m-%d")
