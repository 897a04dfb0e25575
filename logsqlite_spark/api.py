"""The engine facade — the LogDriver protocol surface re-expressed.

Maps the reference's four HTTP endpoints (/root/reference/src/main.rs:97-110,
docker.rs) onto Python methods over Spark:

- StartLogging  -> :meth:`Engine.start_logging` (registers the container;
                   its spool is ingested by the one multiplexed stream,
                   :meth:`Engine.start_multiplexed_ingest`, or by
                   :meth:`Engine.ingest_once` pulls)
- StopLogging   -> :meth:`Engine.stop_logging`
- ReadLogs      -> :meth:`Engine.scan` (served on the driver),
                   :meth:`Engine.follow_tail` / :meth:`Engine.follow_live`
                   (follow); :meth:`Engine.read_logs` is the DataFrame twin
- Capabilities  -> trivially {"ReadLogs": True}

plus boot replay (statehandler.rs:193-219 -> :meth:`Engine.replay`)
and the cleaner loop (cleaner.rs:134-158 -> :meth:`Engine.cleanup_all`).
"""

from __future__ import annotations

import threading
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from logsqlite_spark.config import EngineConfig, LogConfig
from logsqlite_spark.operators import read as R
from logsqlite_spark.operators import retention as RET
from logsqlite_spark.session import ensure_engine_confs
from logsqlite_spark.state import StateStore
from logsqlite_spark.streaming import follow as FW
from logsqlite_spark.streaming import ingest as ING
from logsqlite_spark.table import ManifestTable

class Engine:
    """One instance ≈ one daemon process of the reference."""

    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = ensure_engine_confs(spark)
        self.config = config or EngineConfig()
        self.state = StateStore(self.config.state_dir)
        self.table = ManifestTable(self.config.logs_dir)
        self._queries: dict[str, object] = {}  # stream key -> StreamingQuery
        # follow_live subscriptions: container_id -> [Queue] (round 13)
        self._live_subs: dict[str, list] = {}
        self._live_lock = threading.Lock()
        # one maintenance rewrite at a time (round 14): retention,
        # compaction, and erase each derive their output from a
        # snapshot, so running them concurrently makes them abort each
        # other via CommitConflict — and under adversarial cadence
        # (compaction period ~ retention runtime) retention can lose
        # EVERY race and starve (observed: 0 retention passes in 30
        # soak cycles). Serializing them in-process removes the
        # starvation by construction — the reference's cleaner is one
        # sequential loop too (cleaner.rs:134-158) — while the commit
        # conflict check stays as the cross-process safety net.
        self._maintenance_lock = threading.Lock()
        # failed background cleaner passes (see start_cleaner)
        self.cleaner_errors = 0

    # -- data access ---------------------------------------------------------

    def logs_df(self) -> DataFrame:
        """The unified logs table (all containers) — a snapshot-
        consistent view of the current manifest; maintenance rewrites
        never break it (the reference's readers-never-blocked contract,
        logger.rs:314-318)."""
        # import_existing is a no-op once the manifest exists; it adopts
        # warehouses written before the manifest protocol (migration).
        return self.table.read_df(self.spark, self.table.import_existing())

    def logs_df_at(self, generation: int) -> DataFrame:
        """Time travel: the logs table as of a retained manifest
        generation (``self.table.generations()`` lists them; valid
        inside the gc retention window — see table.manifest_at)."""
        return self.table.read_df(self.spark,
                                  self.table.manifest_at(generation))

    # -- StartLogging (docker.rs:59-84) ---------------------------------------

    def start_logging(self, container_id: str, fifo: str | None = None,
                      options: dict[str, str] | None = None) -> None:
        """Register a container. Its spool is ingested by the
        multiplexed stream (:meth:`start_multiplexed_ingest`), which
        picks up containers registered after it started, or by
        :meth:`ingest_once` pulls.  A container that
        :meth:`stop_logging` dropped commits again from here on."""
        conf = LogConfig.from_options(options)
        self.table.readmit_container(container_id)
        self.state.upsert(container_id, fifo, conf)

    def start_multiplexed_ingest(self, conf: LogConfig | None = None,
                                 fmt: str = "plog"):
        """The daemon's streaming ingest: one stream over every
        container's spool (SURVEY §7.5), committed by one epoch-keyed
        manifest commit per micro-batch.

        ``fmt`` selects the wire format; a ``plog`` and a ``jsonl``
        stream may run side by side (their source globs are disjoint
        — ``*.plog*`` vs ``*.jsonl*`` — so they never share a spool
        file, and each commits under its own query-name scope through
        the manifest lock)."""
        key = "__mux__" if fmt == "plog" else f"__mux_{fmt}__"
        if key in self._queries:
            raise RuntimeError(f"multiplexed {fmt} stream already active")
        q = ING.start_ingest_stream(
            self.spark, self.config.spool_dir, self.config.logs_dir,
            self.config.state_dir, f"{self.config.checkpoints_dir}/{key}",
            conf or LogConfig(),
            query_name="ingest-mux" if fmt == "plog" else f"ingest-mux-{fmt}",
            fmt=fmt,
            on_batch_result=self._publish_live,
        )
        self._queries[key] = q
        return q

    def ingest_once(self, container_id: str | None = None) -> dict:
        """Pull-mode ingest: drain the spool in one batch commit."""
        res = ING.ingest_spool_once(
            self.spark, self.config.spool_dir, self.config.logs_dir,
            self.config.state_dir, container_id,
        )
        self._publish_live(res)
        return res

    # -- follow_live fan-out (round 13) ----------------------------------------

    # follow_live fan-out bound (r16, VERDICT r15 #7): _publish_live
    # runs IN THE COMMITTING THREAD, so an unbounded pyarrow read of a
    # fat commit would stall the ingest hot path for every follower.
    # A commit whose subscribed-container slice exceeds either bound
    # sheds to a RESYNC sentinel: the follower re-reads `seq > cursor`
    # from the committed table in ITS OWN thread (the same scan
    # follow_tail resyncs with when a spool file vanishes), and the
    # commit loop pays only a few stat() calls.
    LIVE_MAX_BYTES_PER_COMMIT = 32 << 20
    LIVE_MAX_FILES_PER_COMMIT = 64
    _LIVE_RESYNC = "__resync__"

    def _publish_live(self, res: dict) -> None:
        """Post-commit fan-out to in-process followers: scans ONLY the
        just-committed batch's files for SUBSCRIBED containers
        (footer-listed rel paths ride the commit result) — no Spark
        job, driver cost O(batch ∩ followed) and HARD-BOUNDED per
        commit (see LIVE_MAX_*; oversized slices shed to resync).
        Runs in the committing thread AFTER the manifest commit, so a
        follower never sees an uncommitted row."""
        files = (res or {}).get("new_files") or []
        if not files:
            return
        with self._live_lock:
            subs = {c: list(qs) for c, qs in self._live_subs.items() if qs}
        if not subs:
            return
        from logsqlite_spark.table import escape_partition_value

        for cid, queues in subs.items():
            prefix = f"container_id={escape_partition_value(cid)}/"
            sel = [f for f in files if f.startswith(prefix)]
            if not sel:
                continue
            if len(sel) > self.LIVE_MAX_FILES_PER_COMMIT:
                for q in queues:
                    q.put(self._LIVE_RESYNC)
                continue
            try:
                total = sum((self.table.dir / f).stat().st_size
                            for f in sel)
            except OSError:
                total = None  # a file vanished mid-stat: resync
            if total is None or total > self.LIVE_MAX_BYTES_PER_COMMIT:
                for q in queues:
                    q.put(self._LIVE_RESYNC)
                continue
            rows = [r for t in self.scan(cid, snapshot={"files": sel})
                    for r in R.rows_of(t, cid)]
            if rows:
                for q in queues:
                    q.put(rows)

    def follow_live(self, container_id: str, since: str | None = None,
                    tail: int | None = None,
                    poll_interval_s: float = 1.0,
                    max_idle_polls: int = FW.FOLLOW_COUNTER_MAX,
                    stop=None):
        """ReadLogs Follow=true served at COMMIT latency (round 13,
        VERDICT r12 #5): history from a manifest snapshot, then live
        rows pushed by the ingest commit hook — one trigger (the
        ingest micro-batch itself) between a line landing in the spool
        and its emission, instead of an ingest trigger plus a follow
        poll.  The reference's design point is a 1 s follow poll
        (logger.rs:287-288); this path is bounded by the ingest
        trigger alone.

        Seam exactness (the contract ``follow_tail`` also keeps):
        the subscription registers BEFORE the history snapshot is
        read, so a batch committing at any point lands either inside
        the snapshot (≤ its high-water, filtered out of the live queue
        by the cursor) or in the queue — exactly once, no gap, no dup.
        """
        import queue as _queue

        def gen():
            qq: _queue.Queue = _queue.Queue()
            with self._live_lock:
                self._live_subs.setdefault(container_id, []).append(qq)
            try:
                snap = self.table.import_existing()
                cursor = int(snap.get("high_water", {})
                             .get(container_id, 0))
                yield from self._scan_rows(snap, container_id,
                                           since=since, tail=tail)
                idle = 0
                while idle < max_idle_polls and not (stop and stop()):
                    try:
                        batch = qq.get(timeout=poll_interval_s)
                    except _queue.Empty:
                        idle += 1
                        continue
                    if batch == self._LIVE_RESYNC:
                        # shed path (r16): the commit was too fat for
                        # the in-thread fan-out — catch up from the
                        # committed table in THIS thread instead
                        snap2 = self.table.import_existing()
                        hw2 = int(snap2.get("high_water", {})
                                  .get(container_id, 0))
                        if hw2 > cursor:
                            yield from self._scan_rows(
                                snap2, container_id, cursor=cursor + 1)
                            cursor = hw2
                            idle = 0
                        continue
                    fresh = [r for r in batch if r["seq"] > cursor]
                    if fresh:
                        cursor = fresh[-1]["seq"]
                        idle = 0
                        yield fresh
            finally:
                with self._live_lock:
                    try:
                        self._live_subs.get(container_id, []).remove(qq)
                    except ValueError:
                        pass

        return gen()

    # -- StopLogging (docker.rs:93-109, statehandler.rs:126-135) --------------

    def stop_logging(self, container_id: str) -> None:
        """Drop state; delete data if configured
        (statehandler.rs:173-182 delete_when_stopped).  The drop is a
        manifest commit that tombstones the container, so rows the
        running stream or a pull read before it — and spool files
        that arrive after it — are never committed, until the
        container is registered again (:meth:`start_logging`)."""
        doc = self.state.get(container_id)
        self.state.remove(container_id)
        if doc and doc["log_conf"].get("delete_when_stopped"):
            RET.drop_container(self.config.logs_dir, container_id)

    # -- ReadLogs (docker.rs:138-188) ------------------------------------------

    def read_logs(self, container_id: str, since: str | None = None,
                  until: str | None = None, tail: int | None = None) -> DataFrame:
        return R.read_logs(self.logs_df(), container_id=container_id,
                           since=since, until=until, tail=tail)

    def scan(self, container_id: str, since: str | None = None,
             until: str | None = None, tail: int | None = None,
             cursor: int | None = None, snapshot: dict | None = None):
        """The serving twin of :meth:`read_logs`: one container's
        committed rows read on the driver (no Spark job), as Arrow
        tables in seq order — see ``read.scan_container``. Planning
        happens before this returns. ``snapshot`` defaults to the
        latest committed manifest."""
        if snapshot is None:
            snapshot = self.table.import_existing()
        return R.scan_container(self.table.dir, snapshot, container_id,
                                since=since, until=until, tail=tail,
                                cursor=cursor)

    def _scan_rows(self, snapshot: dict, container_id: str, **kw):
        """:meth:`scan` as follow chunks: lists of at most
        ``FOLLOW_EMIT_BATCH`` Rows, so a long catch-up never sits in
        one driver list."""
        for t in self.scan(container_id, snapshot=snapshot, **kw):
            for off in range(0, t.num_rows, FW.FOLLOW_EMIT_BATCH):
                yield R.rows_of(t.slice(off, FW.FOLLOW_EMIT_BATCH),
                                container_id)

    def follow_tail(self, container_id: str, since: str | None = None,
                    tail: int | None = None,
                    poll_interval_s: float = 0.05,
                    max_idle_polls: int | None = None,
                    stop=None):
        """ReadLogs Follow=true served by a DRIVER-SIDE SPOOL TAIL
        (round 13, VERDICT r12 #5): history from a manifest snapshot,
        then new rows decoded straight off the spool directory with
        the engine's own Python codec — no Spark job and no ingest
        trigger in the path.  The ingest stream keeps running for
        persistence; this is only an alternate READ path.

        Visibility is wake-on-publish: an idle tail waits on an
        inotify watch of the container's spool directory
        (``spool.PublishWatch``), so a published file is decoded as
        soon as its rename lands (the reference polls every 1 s,
        logger.rs:287-288).  ``poll_interval_s`` is the wait's
        timeout: the cadence of the ingest-consumed-file resync, and
        the whole visibility bound where the watch cannot be armed
        (no inotify, or the per-user inotify limits spent — the tail
        then sleeps between polls).  ``max_idle_polls`` defaults to
        the reference's wall-clock follow window, FOLLOW_COUNTER_MAX ×
        FOLLOW_WAKETIME, so a quiet container's follow is not cut
        sooner than the reference would cut it.

        Seq parity (what makes the emission exact): ingest assigns
        ``seq = high_water + row_number over (path, frame_no)`` under
        the one-writer-per-container invariant, so the tail can assign
        the SAME seqs by decoding files in name order starting from
        the snapshot's (high_water, last_file) pair — the two are
        committed atomically, so the pair pins the boundary exactly.
        Decode-error frames stop a file's decode at the bad frame and
        are never seq'd, identical to the distributed decode; a stale
        (name ≤ watermark) file is skipped, matching quarantine.

        If a spool file vanishes before the tail reads it (the ingest
        stream consumed and deleted it), the tail RESYNCS from the
        committed table: emit rows ``seq > cursor`` from the fresh
        manifest and fast-forward the file watermark to its
        ``last_file`` — exactly-once either way (pytest-pinned against
        the ingest path's assignment).
        """
        import glob as _glob

        from logsqlite_spark.sources import frames as _fr
        from logsqlite_spark.sources import jsonl as _js
        from logsqlite_spark.sources.spool import PublishWatch

        spool = f"{self.config.spool_dir}/{container_id}"
        if max_idle_polls is None:
            max_idle_polls = int(FW.FOLLOW_COUNTER_MAX
                                 * FW.FOLLOW_WAKETIME_S / poll_interval_s)

        def _decode_file(path: str) -> list | None:
            """Rows of one spool file (seq-eligible only), or None if
            the file vanished (consumed by ingest) — caller resyncs."""
            try:
                blob = open(path, "rb").read()
            except OSError:
                return None
            if path.endswith(".gz"):
                import gzip
                import zlib

                try:
                    blob = gzip.decompress(blob)
                except (OSError, EOFError, zlib.error):
                    # corrupt gzip: no decodable frames; parity with
                    # the ingest path's decode-error quarantine (the
                    # error row is never seq'd either way)
                    blob = b""
                path = path[:-3]
            out = []
            if path.endswith(".jsonl"):
                # the lines ingest quarantines are skipped (never
                # seq'd); the rest are seq'd in ingest's (n, nulls
                # first) order
                recs = [r for r in map(_js.parse_jsonl_line,
                                       _js.jsonl_lines(blob))
                        if r is not None]
                recs.sort(key=lambda r: (r[0] is not None, r[0] or 0))
                out = [r[1:] for r in recs]
            else:
                try:
                    entries = list(_fr.decode_frames(blob))
                except _fr.FrameDecodeError:
                    # keep the good prefix, like the distributed decode
                    entries = []
                    pos, n = 0, len(blob)
                    import struct as _struct
                    while pos + 4 <= n:
                        (ln,) = _struct.unpack_from(">I", blob, pos)
                        if pos + 4 + ln > n:
                            break
                        try:
                            entries.append(_fr.decode_log_entry(
                                blob[pos + 4:pos + 4 + ln]))
                        except _fr.FrameDecodeError:
                            break
                        pos += 4 + ln
                for e in entries:
                    pm = None
                    if e.partial_meta is not None:
                        pm = {"last": e.partial_meta.last,
                              "id": e.partial_meta.id,
                              "ordinal": e.partial_meta.ordinal}
                    out.append((e.source,
                                int(e.time_nano),
                                e.line.decode("utf-8", "replace"),
                                bool(e.partial),
                                pm))
            return out

        def _rows(decoded: list, start_seq: int) -> list:
            from datetime import datetime, timedelta, timezone

            from pyspark.sql import Row

            epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
            rows = []
            for i, (source, tn, line, partial, pm) in enumerate(decoded):
                if not line.endswith("\n"):
                    line += "\n"  # S2 canonicalization
                # integer-micros arithmetic: float seconds can round a
                # µs off the table's exact timestamp_micros, breaking
                # row parity with the ingest path
                ts = epoch + timedelta(microseconds=tn // 1000)
                rows.append(Row(
                    seq=start_seq + i, ts_nanos=tn, ts=ts,
                    source=source, line=line, partial=partial,
                    partial_meta=(Row(**pm) if pm else None),
                    container_id=container_id, date=ts.date()))
            return rows

        def gen(watch):
            snap = self.table.import_existing()
            cursor = int(snap.get("high_water", {}).get(container_id, 0))
            last_name = ING._norm_path(
                snap.get("last_file", {}).get(container_id, ""))
            yield from self._scan_rows(snap, container_id,
                                       since=since, tail=tail)
            idle = 0
            import time as _time
            while idle < max_idle_polls and not (stop and stop()):
                emitted = False
                # the ingest stream may CONSUME (and delete) spool
                # files between our polls — files we'd never even list.
                # Its commit moves (high_water, last_file) atomically,
                # so a cheap head read detects it: resync from the
                # committed table and fast-forward the file marker
                # BEFORE assigning seqs to any on-disk file (assigning
                # from a listing that silently lost an earlier file
                # would shift every subsequent seq).
                head = self.table.head()
                lf = ING._norm_path(
                    head.get("last_file", {}).get(container_id, ""))
                if lf > last_name:
                    # ONE consistent snapshot feeds rows AND markers:
                    # taking last_name from the (older) head while the
                    # rows come from a fresher manifest would re-decode
                    # files the manifest already covered — duplicate
                    # rows, then over-advanced seqs dropping real ones
                    snap2 = self.table.manifest()
                    # chunked catch-up (same discipline as the history
                    # emit above): a consumer stalled for minutes
                    # resyncs over everything ingested meanwhile — one
                    # list would hold that whole backlog on the driver
                    for rows in self._scan_rows(snap2, container_id,
                                                cursor=cursor + 1):
                        yield rows
                        emitted = True
                    cursor = max(cursor, int(
                        snap2.get("high_water", {})
                        .get(container_id, 0)))
                    last_name = max(last_name, ING._norm_path(
                        snap2.get("last_file", {})
                        .get(container_id, "")))
                fresh = sorted(
                    p for p in _glob.glob(f"{spool}/*.plog*")
                    + _glob.glob(f"{spool}/*.jsonl*")
                    if p > last_name)
                if fresh:
                    # a commit landing between the head read and this
                    # listing may have consumed (deleted) an EARLIER
                    # file the listing never saw — assigning local
                    # seqs now would hand that file's seq range to a
                    # later file. Deletion only follows the commit, so
                    # an unchanged committed watermark proves the
                    # listing complete; otherwise resync first.
                    lf2 = ING._norm_path(
                        self.table.head()
                        .get("last_file", {}).get(container_id, ""))
                    if lf2 > last_name:
                        # back off before retrying: under a
                        # continuously-committing ingest stream this
                        # guard can trip on every poll — without the
                        # sleep the loop spins through head reads, and
                        # without the idle tick the max_idle_polls
                        # budget is never charged for these iterations
                        idle += 1
                        _time.sleep(poll_interval_s)
                        continue
                for p in fresh:
                    decoded = _decode_file(p)
                    if decoded is None:
                        break  # deleted under us: head check resyncs
                    rows = _rows(decoded, cursor + 1)
                    if rows:
                        yield rows
                        cursor = rows[-1]["seq"]
                        emitted = True
                    last_name = p
                if emitted:
                    idle = 0
                else:
                    idle += 1
                    watch.wait(poll_interval_s)

        def watched():
            # armed BEFORE the first snapshot and listing: a publish
            # landing after any listing is queued on the watch, so the
            # wait that follows returns at once instead of missing it.
            # The finally releases the fd on exhaustion, error and
            # close() (a client hang-up) alike.
            watch = PublishWatch(spool)
            try:
                yield from gen(watch)
            finally:
                watch.close()

        return watched()

    # -- boot replay (T3) ------------------------------------------------------

    def replay(self) -> list[str]:
        """The containers registered before a restart
        (statehandler.rs:193-219). Nothing per container needs
        restarting: the multiplexed stream's checkpoint resumes its
        offsets exactly-once, and pulls resume at the seq high-water."""
        return [doc["container_id"] for doc in self.state.list_all()]

    # -- cleaner (cleaner.rs:134-158) ------------------------------------------

    def cleanup_all(self, now_nanos: int | None = None) -> dict[str, dict]:
        """One cleaner pass over every registered container."""
        if now_nanos is None:
            now_nanos = int(datetime.now(timezone.utc).timestamp() * 1e9)
        results = {}
        with self._maintenance_lock:
            for doc in self.state.list_all():
                conf = LogConfig.from_dict(doc["log_conf"])
                if conf.cleanup_age_s is None \
                        and conf.cleanup_max_lines is None:
                    continue
                results[doc["container_id"]] = RET.apply_retention(
                    self.spark, self.config.logs_dir, doc["container_id"],
                    conf, now_nanos=now_nanos,
                )
            # reclaim files no recent snapshot references; keeping the
            # last 2 generations gives in-flight readers a full cleaner
            # interval of grace before their snapshot's files can
            # disappear
            results["__gc__"] = self.table.gc(keep_generations=2)
        return results

    def register_views(self) -> None:
        """Expose the engine tables to Spark SQL: ``logs`` (the unified
        table) and ``active_streams`` (control plane). After this,
        ``engine.sql("SELECT ... FROM logs WHERE ...")`` serves the
        same surface the reference served through SQLite. The engine's
        scalar literal parsers (duration/size/RFC3339, F1-F3) are
        installed as SQL functions too — pure-SQL bodies, so they
        inline into codegen."""
        from logsqlite_spark.functions.sqlfns import register_sql_functions

        self.logs_df().createOrReplaceTempView("logs")
        self.state.to_dataframe(self.spark).createOrReplaceTempView(
            "active_streams")
        register_sql_functions(self.spark)

    def sql(self, query: str) -> DataFrame:
        """Run SQL against the registered engine views (Catalyst plans
        it with the same pushdown/pruning as the DataFrame paths)."""
        self.register_views()
        return self.spark.sql(query)

    def compact(self, container_id: str | None = None, **kw) -> dict:
        """Small-file compaction (see operators/compact.py); run it on
        the cleaner cadence for streaming-ingested warehouses."""
        from logsqlite_spark.operators import compact as CP

        with self._maintenance_lock:
            if container_id is not None:
                return CP.compact_container(
                    self.spark, self.config.logs_dir, container_id, **kw)
            return CP.compact_all(self.spark, self.config.logs_dir, **kw)

    def start_quality_monitor(self, **kw):
        """Streaming per-window health metrics over the logs table
        with threshold alerts appended to ``<state>/quality_alerts``
        (see streaming/monitor.py)."""
        import os

        from logsqlite_spark.streaming.monitor import (
            start_quality_monitor)

        return start_quality_monitor(
            self.spark, self.config.logs_dir,
            os.path.join(self.config.state_dir, "quality_alerts"),
            os.path.join(self.config.state_dir, "quality_monitor_ck"),
            **kw)

    def erase(self, predicate_sql: str,
              container_id: str | None = None) -> dict:
        """Targeted erasure (right-to-be-forgotten): delete every row
        matching the predicate as one manifest commit (see
        operators/retention.py::erase_matching)."""
        from logsqlite_spark.operators.retention import erase_matching

        with self._maintenance_lock:
            return erase_matching(self.spark, self.config.logs_dir,
                                  predicate_sql, container_id)

    def start_cleaner(self, interval_s: float | None = None):
        """The cleaner loop (cleaner.rs:134-158): a background thread
        running :meth:`cleanup_all` every interval until stopped.
        A failed pass never kills the daemon: it is counted in
        ``cleaner_errors`` and reported on stderr, and the loop goes
        on. Returns a ``threading.Event``; set it to stop the loop."""
        import sys
        import threading

        interval = interval_s if interval_s is not None \
            else self.config.cleanup_interval_s
        stop_flag = threading.Event()

        def loop() -> None:
            while not stop_flag.wait(interval):
                try:
                    self.cleanup_all()
                except Exception as e:  # noqa: BLE001 — daemon thread
                    self.cleaner_errors += 1
                    print(f"[logsqlite-spark] cleaner pass failed: "
                          f"{type(e).__name__}: {e}", file=sys.stderr)

        t = threading.Thread(target=loop, name="logsqlite-cleaner",
                             daemon=True)
        t.start()
        return stop_flag

    def decode_errors_df(self) -> DataFrame | None:
        """Quarantined corrupt-frame records (T4), if any."""
        from pathlib import Path

        p = Path(self.config.state_dir) / "decode_errors"
        if not p.exists():
            return None
        return self.spark.read.parquet(str(p))

    def serve_logdriver(self, socket_path: str):
        """Serve the Docker LogDriver HTTP protocol on a unix socket
        (the reference's plugin surface, main.rs:97-110). Returns the
        started :class:`logsqlite_spark.server.LogDriverServer`."""
        from logsqlite_spark.server import LogDriverServer

        return LogDriverServer(self, socket_path).start()

    def out_of_order_df(self) -> DataFrame | None:
        """Quarantined spool rows whose file name violated the
        per-container monotonic-name invariant (sorted at or below the
        consumed watermark without being a sanctioned replay). Nothing
        here ever entered the logs table; re-ingest by rewriting the
        rows to the spool under a fresh (monotonic) name."""
        from pathlib import Path

        p = Path(self.config.state_dir) / "out_of_order"
        if not p.exists():
            return None
        return self.spark.read.parquet(str(p))

    def stop_all(self) -> None:
        for q in list(self._queries.values()):
            try:
                q.stop()
            except Exception:
                pass
        self._queries.clear()
