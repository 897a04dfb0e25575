#!/usr/bin/env python
"""Lifecycle soak harness with randomized kill injection (VERDICT r13 #2).

Every remaining risk class in this engine is an interaction-under-crash,
not a query: the round-13 bugs (banded-sink crash replay, artifact-sink
data loss, follow_tail TOCTOU) were all found by review.  This harness
hunts that class by machine:

Each cycle spawns a VICTIM process that runs the full lifecycle
concurrently — multiplexed pull ingest over 5 containers (plog plain,
plog+gzip and jsonl+gzip with injected corrupt files, a retention
target, a targeted-erase target), one rotating maintenance actor
(retention+gc, compaction, right-to-be-forgotten erase — the
production cleaner shape), an EXTRA gc racing live commits,
follow_tail and follow_live consumers, and a generic
append_artifact_sink — then SIGKILLs its whole process group at a
random point (sometimes during Spark startup, usually mid-work).  The
parent snapshots the spool (size+sha1, forensics), drains, and asserts
the invariant set against an INDEPENDENT ledger (written by the victim
with intent-before-publish discipline, so the ledger never lies about
what was handed to the engine):

  I1  per-container seqs are contiguous with no duplicates
  I2  exact no loss / no dup: every container's high-water equals the
      MATERIALIZED ledger — unpublished final intents (kill between
      the fsync'd intent and the rename) are void-resolved each cycle
      via a decidable oracle (in the pre-drain snapshot | consumed by
      the engine | unmaterialized) — and every surviving row's line
      matches the ledger's line for that seq
  I3  retention only ever removes a prefix (rows form a suffix), and
      only on the retention container; erase holes only at MARKED
      lines on the erase container, with no phantom seqs
  I4  follow consumers saw a contiguous, content-correct seq run
      (no dup, no gap, no uncommitted row) up to the kill
  I5  artifact sink: committed-only reads (artifact ids == union of
      ledgered batches at or below the pointer), pointer monotone
      across cycles, never behind a ledgered completion
  I6  manifest generation monotone across cycles; no out-of-order
      quarantine (names are monotonic by construction)
  I7  the victim logged no exceptions while alive
  I8  every decode-error row maps to a ledgered corrupt file (the
      error line carries the byte count the read saw)

A final COVERAGE gate fails runs (>=10 cycles) that never drove
followers, the sink, corrupt files, retention, or erase — a green run
that exercised nothing proves nothing (and it caught a real
maintenance-starvation bug an invariant never would have).  Every
profile ledgers each maintenance op's start and outcome
(``ledger_maint.jsonl``) and reports them per op, so a zero count
reads as starvation or as a failing op.

Usage:
    python tools/soak.py --cycles 20 [--seed 7] [--root DIR] [--keep]
    python tools/soak.py --victim ROOT SEED CYCLE     (internal)

Exit 0 = all cycles green.  On violation: exits 1 and leaves the
warehouse + ledger + forensics in --root.
"""

from __future__ import annotations

import argparse
import glob
import gzip
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_TS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z

CONTAINERS = {
    # cid -> (fmt, gz_mix, corrupt_rate)
    "c0": ("plog", 0.0, 0.0),    # retention target
    "c1": ("plog", 0.5, 0.12),   # follow_tail consumer, gz + corrupt mix
    "c2": ("plog", 0.0, 0.0),    # follow_live consumer
    "c3": ("jsonl", 0.5, 0.12),  # jsonl + gz + corrupt mix
    "c4": ("plog", 0.0, 0.0),    # targeted-erase target (lines marked -X)
}
RETENTION_CID = "c0"
RETENTION_KEEP = 40
ERASE_CID = "c4"
ERASE_MARK = "-X"  # ~20% of c4 lines carry it; the erase predicate

# --- two-daemon profile (VERDICT r14 #3) ----------------------------
# Two engines in separate PROCESSES share one warehouse on disjoint
# containers: the cross-process story (flock commit lock + validate-
# referenced-files CommitConflict) under kill injection.  Each engine
# runs ALL THREE maintenance op classes on its own containers, so
# starvation shows up as a missing (engine, op) success in coverage.
CONTAINERS_DUO = {
    "c0": ("plog", 0.0, 0.0),         # A: retention target
    "c1": ("plog", 0.5, 0.12),        # A: follow_tail, gz+corrupt
    "c5": ("plog", 0.0, 0.0),         # A: targeted-erase target
    "c2": ("plog", 0.0, 0.0),         # B: follow_live consumer
    "c3": ("jsonl", 0.5, 0.12),       # B: jsonl gz+corrupt
    "c4": ("plog", 0.0, 0.0),         # B: targeted-erase target
    "c6": ("plog", 0.0, 0.0),         # B: retention target
}
DUO_OWNER = {"a": ("c0", "c1", "c5"), "b": ("c2", "c3", "c4", "c6")}
RETENTION_CIDS = {"c0", "c6"}
ERASE_CIDS = {"c4", "c5"}


def containers_for(profile: str) -> dict:
    return CONTAINERS_DUO if profile == "duo" else CONTAINERS


# every LONG_WINDOW_EVERY-th cycle the victim is killed LONG_WINDOW_S
# after it is ready instead of 2.5-9 s
LONG_WINDOW_EVERY = 4
LONG_WINDOW_S = (15.0, 25.0)


def long_window(cycle: int) -> bool:
    return cycle % LONG_WINDOW_EVERY == LONG_WINDOW_EVERY - 1


def first_pass_order(cycle: int) -> list[str]:
    """The maintenance actor's op order for its first pass in a cycle.

    On a victim that has just started, one op fills most of a short
    kill window.  Measured on 4 vCPU: in the pull profile cleanup
    (retention over every registered container, then gc) took
    14-17 s, its retention commit for the retention container about
    9 s, compaction about 6 s and erase about 7.5 s; in the stream
    profile erase took 10 s, compaction 13 s and cleanup 11.5 s.  An
    op that does not lead the first pass hardly ever runs before the
    kill: when cleanup led every cycle, compaction and erase never
    started in a 10-cycle run.  So the long windows lead with erase
    and then cleanup, whose first commit is the retention container's,
    and the short ones alternate between erase and compaction."""
    if long_window(cycle):
        return ["erase", "cleanup", "compact"]
    if cycle % 2 == 0:
        return ["erase", "compact", "cleanup"]
    return ["compact", "erase", "cleanup"]


# --- IVF index lifecycle profile (VERDICT r14 #4) -------------------
IVF_BASE = 200      # ids [0, IVF_BASE) in the initial build
IVF_DIM = 8
IVF_CLUSTERS = 4


def _ivf_vec(i: int) -> list[float]:
    """Deterministic per-id vector — victim and checker reproduce the
    same embedding from the id alone, so the ledger never stores
    vectors."""
    r = random.Random(i * 1_000_003 + 7)
    return [round(r.uniform(-1.0, 1.0), 6) for _ in range(IVF_DIM)]


def _append_jsonl(fh, obj) -> None:
    fh.write(json.dumps(obj) + "\n")
    fh.flush()
    os.fsync(fh.fileno())


def _read_jsonl_tolerant(path: str) -> list[dict]:
    """Ledger reader: a kill can truncate the FINAL line mid-write —
    that partial record's file was never published (publish follows
    the fsync'd append), so dropping it is exact, not lossy."""
    out = []
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for ln in fh:
            try:
                out.append(json.loads(ln))
            except ValueError:
                break  # truncated trailing record from a kill
    return out


class LedgeredWriter:
    """Spool writer with intent-before-publish ledgering.

    The ledger append (fsync'd) strictly precedes the atomic rename
    that publishes the file, and the writer is sequential per
    container — so at most the LAST ledger record per container can
    describe a file that never materialized, and a file can never
    exist without its ledger record.  That asymmetry is what lets the
    checker assert exact no-loss/no-dup without trusting the engine.
    """

    def __init__(self, root: str, spool_dir: str, cid: str,
                 fmt: str, rnd: random.Random):
        self.dir = Path(spool_dir) / cid
        self.dir.mkdir(parents=True, exist_ok=True)
        led_path = Path(root) / f"ledger_{cid}.jsonl"
        # repair before appending: a kill mid-append leaves a partial
        # final line (its file was never published, so dropping it is
        # exact); appending after it would weld two records into one
        # garbage line and truncate every later record at read time
        if led_path.exists():
            blob = led_path.read_bytes()
            if blob and not blob.endswith(b"\n"):
                cut = blob.rfind(b"\n") + 1
                with open(led_path, "r+b") as fh:
                    fh.truncate(cut)
        self.led = open(led_path, "a")
        self.cid, self.fmt, self.rnd = cid, fmt, rnd
        self.counter = 0
        self.total_lines = sum(
            len(r.get("lines", []))
            for r in _read_jsonl_tolerant(self.led.name))

    def write_burst(self, n: int, gz_mix: float, corrupt_rate: float) -> None:
        from logsqlite_spark.sources import frames as fr

        corrupt = self.rnd.random() < corrupt_rate
        compress = corrupt or (self.rnd.random() < gz_mix)
        lines = [] if corrupt else [
            f"{self.cid}-{self.total_lines + i}-{self.rnd.randrange(10**9)}"
            + (ERASE_MARK if self.cid in ERASE_CIDS
               and self.rnd.random() < 0.2 else "")
            for i in range(n)]
        stem = f"{time.time_ns():020d}-{self.counter:06d}"
        ext = self.fmt + (".gz" if compress else "")
        name = f"{stem}.{ext}"
        _append_jsonl(self.led, {"name": name, "lines": lines,
                                 "corrupt": corrupt})
        if corrupt:
            blob = b"\x1f\x8b\x08\x00this-is-not-a-gzip-stream"
        elif self.fmt == "plog":
            entries = [
                fr.LogEntry(source="stdout",
                            time_nano=BASE_TS
                            + (self.total_lines + i) * 10**9,
                            line=ln.encode())
                for i, ln in enumerate(lines)]
            blob = b"".join(fr.encode_frame(e) for e in entries)
            if compress:
                blob = gzip.compress(blob)
        else:
            blob = ("\n".join(
                json.dumps({"n": i, "source": "stdout",
                            "time_nano": BASE_TS
                            + (self.total_lines + i) * 10**9,
                            "line": ln})
                for i, ln in enumerate(lines)) + "\n").encode()
            if compress:
                blob = gzip.compress(blob)
        tmp = self.dir / f".{name}.tmp"
        tmp.write_bytes(blob)
        os.rename(tmp, self.dir / name)  # atomic publish
        self.total_lines += len(lines)
        self.counter += 1


# --------------------------------------------------------------------------
# victim
# --------------------------------------------------------------------------

def run_victim(root: str, seed: int, cycle: int,
               profile: str = "pull", engine_id: str = "") -> None:
    rnd = random.Random(seed * 10_007 + cycle
                        + (7_919 if engine_id == "b" else 0))
    errlog = open(Path(root) / "victim_errors.log", "a")
    errlock = threading.Lock()

    def log_err(where: str, e: BaseException) -> None:
        with errlock:
            errlog.write(f"cycle={cycle} {where}: "
                         f"{type(e).__name__}: {e}\n")
            errlog.flush()
            os.fsync(errlog.fileno())

    from pyspark.sql import SparkSession

    from logsqlite_spark.api import Engine
    from logsqlite_spark.config import EngineConfig, LogConfig
    from logsqlite_spark.streaming.incremental import (
        append_artifact_sink,
        last_appended_batch,
    )

    spark = (SparkSession.builder.master("local[4]")
             .appName(f"soak-victim-{cycle}")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .getOrCreate())
    cfg = EngineConfig(warehouse_dir=f"{root}/wh")
    eng = Engine(spark, cfg)
    cmap = containers_for(profile)
    # duo: each engine PROCESS owns a disjoint container set and only
    # ever writes/ingests/maintains its own; every manifest commit
    # still contends with the peer through the cross-process flock
    mine = (DUO_OWNER[engine_id] if profile == "duo"
            else tuple(cmap))
    for cid in mine:
        eng.state.upsert(cid, None, LogConfig(
            cleanup_max_lines=RETENTION_KEEP)
            if cid in RETENTION_CIDS else LogConfig())

    writers = {
        cid: LedgeredWriter(root, cfg.spool_dir, cid, cmap[cid][0], rnd)
        for cid in mine}

    def writer_loop(cid: str) -> None:
        fmt, gz_mix, corrupt_rate = cmap[cid]
        w = writers[cid]
        while True:
            try:
                w.write_burst(rnd.randint(1, 8), gz_mix, corrupt_rate)
            except Exception as e:  # noqa: BLE001 — soak forensics
                log_err(f"writer[{cid}]", e)
            time.sleep(rnd.uniform(0.03, 0.25))

    def ingest_loop() -> None:
        from logsqlite_spark.streaming.ingest import ingest_spool_once
        while True:
            for fmt in ("plog", "jsonl"):
                try:
                    res = ingest_spool_once(
                        spark, cfg.spool_dir, cfg.logs_dir,
                        cfg.state_dir, fmt=fmt)
                    eng._publish_live(res)  # follow_live fan-out
                except Exception as e:  # noqa: BLE001
                    log_err(f"ingest[{fmt}]", e)
            time.sleep(rnd.uniform(0.02, 0.15))

    def ingest_loop_duo() -> None:
        """Per-container SCOPED pulls (``container_id=`` on the one
        commit path) — a duo engine must never pull the peer's spool
        dirs."""
        from logsqlite_spark.streaming.ingest import ingest_spool_once
        while True:
            for cid in mine:
                try:
                    res = ingest_spool_once(
                        spark, cfg.spool_dir, cfg.logs_dir,
                        cfg.state_dir, container_id=cid,
                        fmt=cmap[cid][0])
                    eng._publish_live(res)  # follow_live fan-out
                except Exception as e:  # noqa: BLE001
                    log_err(f"ingest[{engine_id}/{cid}]", e)
            time.sleep(rnd.uniform(0.02, 0.15))

    def stream_ingest_start() -> None:
        """VERDICT r14 #1 (stream profile): the S4/S5 PRIMARY mode —
        start_multiplexed_ingest + Spark checkpoints + foreachBatch —
        under kill injection.  Each cycle RESUMES the same checkpoint
        (restart-at-arbitrary-point coverage; resume semantics ≡
        statehandler.rs:193-219 replay); a replayed micro-batch must
        dedup through the manifest batch-id cursor.  The two mux
        streams (plog + jsonl) read disjoint globs and race each
        other, maintenance, and the sink through the manifest lock."""
        from logsqlite_spark.config import LogConfig as LC

        seen_dead: set[str] = set()
        try:
            eng.start_multiplexed_ingest(LC(), fmt="plog")
            eng.start_multiplexed_ingest(LC(), fmt="jsonl")
        except Exception as e:  # noqa: BLE001
            log_err("stream-start", e)
            return
        while True:  # a dead stream is an engine bug, not a stall
            for key, q in list(eng._queries.items()):
                try:
                    exc = q.exception()
                except Exception:  # noqa: BLE001 — py4j teardown race
                    continue
                if exc is not None and key not in seen_dead:
                    seen_dead.add(key)
                    log_err(f"stream[{key}]", exc)
            time.sleep(0.5)

    def maintenance_loop() -> None:
        """ONE sequential maintenance actor — the production cleaner
        shape (the reference's cleaner is one loop too): retention+gc,
        compaction, targeted erase, in rotation under kills.  Three
        independent ~1 s-cadence loops oversubscribed the ~1 s-per-op
        budget and starved whoever lost the (unfair) lock queue — a
        soak-schedule artifact, not an engine behavior; the engine's
        maintenance lock stays as the safety for consumers who DO run
        them concurrently."""
        from logsqlite_spark.table import CommitConflict

        my_ret = next(c for c in mine if c in RETENTION_CIDS) \
            if any(c in RETENTION_CIDS for c in mine) else None
        my_erase = next(c for c in mine if c in ERASE_CIDS) \
            if any(c in ERASE_CIDS for c in mine) else None
        # every profile ledgers each op's start and outcome, with its
        # offset from the actor's start and its duration, so coverage
        # can tell an op the kill window starves from one that fails
        maint_led = open(Path(root) / "ledger_maint.jsonl", "a")
        t_actor = time.monotonic()

        def record(op: str, **kv) -> None:
            _append_jsonl(maint_led, {
                "engine": engine_id, "op": op, "cycle": cycle,
                "t": round(time.monotonic() - t_actor, 2), **kv})

        ops = first_pass_order(cycle)
        while True:
            for op in ops:
                time.sleep(rnd.uniform(0.1, 0.4))
                record(op, start=True)
                t_op = time.monotonic()

                def done(ok: bool) -> None:
                    record(op, ok=ok, dt=round(time.monotonic() - t_op, 2))
                try:
                    if profile != "duo":
                        if op == "cleanup":
                            # retention (c0 conf) + gc
                            res = eng.cleanup_all()
                            done(not res[RETENTION_CID].get("conflict"))
                        elif op == "compact":
                            res = eng.compact()
                            done(all(not r.get("conflicts")
                                     for r in res.values()))
                        else:
                            eng.erase(f"contains(line, '{ERASE_MARK}')",
                                      ERASE_CID)
                            done(True)
                        continue
                    # duo: each engine runs ALL THREE op classes on
                    # its OWN containers; per-(engine, op) pass rates
                    # are ledgered so cross-process starvation (no
                    # shared maintenance lock between processes — only
                    # the flock + CommitConflict safety) is measurable
                    if op == "cleanup":
                        from logsqlite_spark.config import LogConfig as LC
                        from logsqlite_spark.operators.retention import (
                            apply_retention)
                        res = apply_retention(
                            spark, cfg.logs_dir, my_ret,
                            LC(cleanup_max_lines=RETENTION_KEEP))
                        eng.table.gc(keep_generations=2)
                        done(not res.get("conflict"))
                    elif op == "compact":
                        from logsqlite_spark.operators.compact import (
                            compact_container)
                        conflicts = 0
                        for cid in mine:
                            r = compact_container(spark, cfg.logs_dir,
                                                  cid, min_files=4)
                            conflicts += r.get("conflicts", 0)
                        done(conflicts == 0)
                    else:
                        eng.erase(f"contains(line, '{ERASE_MARK}')",
                                  my_erase)
                        done(True)
                except CommitConflict:
                    done(False)  # cross-actor race: retried later
                except Exception as e:  # noqa: BLE001
                    log_err(op, e)
            # later passes shuffle: with a fixed order the tail op
            # could starve across a whole run (seed 123 starved erase)
            rnd.shuffle(ops)

    def gc_loop() -> None:
        """An EXTRA gc racing live commits from outside the cleaner
        (the grace defense's coverage path, round-14 audit)."""
        while True:
            time.sleep(rnd.uniform(1.0, 2.0))
            try:
                eng.table.gc(keep_generations=2)
            except Exception as e:  # noqa: BLE001
                log_err("gc", e)

    def follow_loop(kind: str, cid: str) -> None:
        out = open(Path(root) / f"follow_{kind}_{cid}_{cycle}.jsonl", "a")
        try:
            gen = (eng.follow_tail(cid, poll_interval_s=0.05,
                                   max_idle_polls=10**9)
                   if kind == "tail" else
                   eng.follow_live(cid, poll_interval_s=0.2,
                                   max_idle_polls=10**9))
            for batch in gen:
                for r in batch:
                    out.write(json.dumps(
                        {"seq": r["seq"], "line": r["line"]}) + "\n")
                out.flush()
        except Exception as e:  # noqa: BLE001
            log_err(f"follow_{kind}[{cid}]", e)

    def sink_loop() -> None:
        state = os.path.join(cfg.state_dir, "soak_sink")
        sink = append_artifact_sink(
            state, transform=lambda df: df.select("doc_id"))
        led = open(Path(root) / "ledger_sink.jsonl", "a")
        while True:
            try:
                last = last_appended_batch(state)
                bid = 0 if last is None else last + 1
                ids = [bid * 1000 + i for i in range(rnd.randint(1, 12))]
                _append_jsonl(led, {"bid": bid, "ids": ids})
                df = spark.createDataFrame(
                    [(i, f"doc-{i}") for i in ids], "doc_id long, text string")
                sink(df, bid)
                _append_jsonl(led, {"done": bid})
            except Exception as e:  # noqa: BLE001
                log_err("sink", e)
            time.sleep(rnd.uniform(0.2, 0.5))

    ingest_target = (stream_ingest_start if profile == "stream"
                     else ingest_loop_duo if profile == "duo"
                     else ingest_loop)
    threads = (
        [threading.Thread(target=writer_loop, args=(cid,), daemon=True)
         for cid in mine]
        + [threading.Thread(target=ingest_target, daemon=True),
           threading.Thread(target=maintenance_loop, daemon=True),
           threading.Thread(target=gc_loop, daemon=True)])
    if profile == "duo":
        # followers and the sink split across the two engines: A tails
        # its own c1; B live-follows its own c2 (follow_live fans out
        # from the INGESTING engine); the sink runs in A only
        if engine_id == "a":
            threads += [
                threading.Thread(target=follow_loop, args=("tail", "c1"),
                                 daemon=True),
                threading.Thread(target=sink_loop, daemon=True)]
        else:
            threads += [
                threading.Thread(target=follow_loop, args=("live", "c2"),
                                 daemon=True)]
    else:
        threads += [
            threading.Thread(target=follow_loop, args=("tail", "c1"),
                             daemon=True),
            threading.Thread(target=follow_loop, args=("live", "c2"),
                             daemon=True),
            threading.Thread(target=sink_loop, daemon=True)]
    for t in threads:
        t.start()
    suffix = f"_{engine_id}" if profile == "duo" else ""
    # parent may start the kill clock
    Path(root, f"ready_{cycle}{suffix}").touch()
    while True:
        time.sleep(1)


def run_victim_ivf(root: str, seed: int, cycle: int) -> None:
    """IVF-index lifecycle victim (VERDICT r14 #4): append / erase /
    compact actors maintaining ONE persisted index under kill
    injection, with intent-before-publish ledgering so the checker
    can decide exactly which vectors are committed."""
    rnd = random.Random(seed * 20_011 + cycle)
    errlog = open(Path(root) / "victim_errors.log", "a")
    errlock = threading.Lock()

    def log_err(where: str, e: BaseException) -> None:
        with errlock:
            errlog.write(f"cycle={cycle} {where}: "
                         f"{type(e).__name__}: {e}\n")
            errlog.flush()
            os.fsync(errlog.fileno())

    from pyspark.sql import SparkSession

    from logsqlite_spark.operators.similarity import (
        _index_marker_exists,
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_lists,
        erase_from_ivf_index,
    )

    spark = (SparkSession.builder.master("local[4]")
             .appName(f"soak-ivf-victim-{cycle}")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .getOrCreate())
    path = f"{root}/wh/ivf_index"
    os.makedirs(f"{root}/wh", exist_ok=True)
    led_path = Path(root) / "ledger_ivf.jsonl"
    recs = _read_jsonl_tolerant(str(led_path))
    led = open(led_path, "a")
    led_lock = threading.Lock()

    def ledger(obj: dict) -> None:
        with led_lock:
            _append_jsonl(led, obj)

    # committed view from the ledger: ids usable for erase picks,
    # and the next fresh id (intents count — an unfinished append's
    # ids must never be reused)
    done_appends = {r["done_append"] for r in recs if "done_append" in r}
    appended: dict[int, list[int]] = {
        r["append"][0]: r["append"] for r in recs if "append" in r}
    erase_intent_ids = {i for r in recs if "erase" in r for i in r["erase"]}
    live: set[int] = set()
    if any("done_build" in r for r in recs):
        live |= set(range(IVF_BASE))
    for key in done_appends:
        live |= set(appended.get(key, []))
    live -= erase_intent_ids
    next_id = IVF_BASE  # the build always owns [0, IVF_BASE)
    for ids in appended.values():
        next_id = max(next_id, max(ids) + 1)

    def vec_df(ids: list[int]):
        return spark.createDataFrame(
            [(i, _ivf_vec(i)) for i in ids],
            "vec_id long, embedding array<float>")

    from logsqlite_spark.operators.similarity import _heal_refit

    # _heal_refit FIRST: a kill mid-refit legitimately leaves the
    # marker off with the full union staged — rebuilding the BASE
    # index here would wipe every appended vector; healing restores
    # the complete committed set (or reports no-index for a true
    # never-completed initial build)
    if not _heal_refit(spark, path):
        # initial build (or retry of one a cold kill interrupted):
        # idempotent overwrite; the marker is written LAST
        try:
            ledger({"build": IVF_BASE})
            build_ivf_index(vec_df(list(range(IVF_BASE))), path,
                            n_clusters=IVF_CLUSTERS, sq_dim=IVF_DIM)
            ledger({"done_build": IVF_BASE})
        except Exception as e:  # noqa: BLE001
            log_err("ivf-build", e)
    else:
        # restart-equivalent recovery FIRST (the engine runs the same
        # adoption at every compact/erase entry): a kill inside a
        # staged cluster swap must heal before anything serves
        from logsqlite_spark.operators.similarity import (
            _adopt_staged_cluster_swaps)
        try:
            _adopt_staged_cluster_swaps(spark, path, ".compact_tmp_")
            _adopt_staged_cluster_swaps(spark, path, ".erase_tmp_")
        except Exception as e:  # noqa: BLE001
            log_err("ivf-adopt", e)
        # a kill mid-erase leaves a staged erase; FINISH it first (the
        # engine's crash-resume contract) so later erases aren't
        # refused — its intent is already ledgered from that cycle
        stage = Path(path) / ".erase_stage.json"
        if stage.exists():
            try:
                staged_ids = [int(x) for x in
                              json.loads(stage.read_text())["ids"]]
                erase_from_ivf_index(spark, path, staged_ids)
                ledger({"done_erase": staged_ids[0]})
            except Exception as e:  # noqa: BLE001
                log_err("ivf-erase-resume", e)

    state_lock = threading.Lock()

    def append_loop() -> None:
        nonlocal next_id
        while True:
            with state_lock:
                n = rnd.randint(3, 12)
                ids = list(range(next_id, next_id + n))
                next_id += n
            try:
                ledger({"append": ids})
                # ~1-in-12 appends force a REFIT through the real
                # drift path (tiny threshold): the crash-safe refit
                # protocol (stage union + meta -> marker off ->
                # rebuild -> marker last) and its _heal_refit recovery
                # get kill coverage, not just the pytest pin.  A refit
                # preserves the committed set (rebuild from lists ∪
                # batch), so the checker's invariants are unchanged.
                thr = 1e-9 if rnd.random() < 0.08 else 10.0
                append_to_ivf_index(vec_df(ids), path,
                                    drift_threshold=thr)
                ledger({"done_append": ids[0]})
                with state_lock:
                    live.update(ids)
            except Exception as e:  # noqa: BLE001
                log_err("ivf-append", e)
            time.sleep(rnd.uniform(0.05, 0.3))

    def erase_loop() -> None:
        while True:
            time.sleep(rnd.uniform(0.3, 0.9))
            with state_lock:
                if len(live) < 8:
                    continue
                ids = sorted(rnd.sample(sorted(live), rnd.randint(1, 4)))
                live.difference_update(ids)
            try:
                ledger({"erase": ids})
                erase_from_ivf_index(spark, path, ids)
                ledger({"done_erase": ids[0]})
            except Exception as e:  # noqa: BLE001
                log_err("ivf-erase", e)

    def compact_loop() -> None:
        while True:
            time.sleep(rnd.uniform(0.6, 1.4))
            try:
                res = compact_ivf_lists(spark, path, min_files=3)
                if res["compacted_clusters"]:
                    ledger({"done_compact": res["compacted_clusters"]})
            except Exception as e:  # noqa: BLE001
                log_err("ivf-compact", e)

    for t in (threading.Thread(target=append_loop, daemon=True),
              threading.Thread(target=erase_loop, daemon=True),
              threading.Thread(target=compact_loop, daemon=True)):
        t.start()
    Path(root, f"ready_{cycle}").touch()
    while True:
        time.sleep(1)


# --------------------------------------------------------------------------
# checker
# --------------------------------------------------------------------------

class SoakViolation(AssertionError):
    pass


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise SoakViolation(msg)


def check_cycle_ivf(spark, root: str, cycle: int, prev: dict) -> dict:
    """IVF-profile invariants: the persisted index serves EXACTLY the
    committed vector set.

    Kill-time classification from the intent-before-publish ledger:
    - MUST HAVE: the build's base ids and every done-append's ids,
      minus any id an erase ever INTENDED (an unfinished erase may
      have removed some of its ids; a finished one removed all).
    - MUST NOT HAVE: every done-erase's ids, and any id no intent
      ever introduced.
    - MAY HAVE (either way, but never twice): ids of unfinished
      appends (a killed append job can be partially visible — each
      file rename is atomic, the job commit is not) and unfinished
      erases.
    Every present id must appear EXACTLY once (a lost compaction swap
    shows as absence; a double-adopted swap as duplication), and a
    probed search (all lists) for a sample of must-have vectors must
    return their own ids."""
    errs = Path(root, "victim_errors.log")
    _check(not errs.exists() or errs.read_text() == "",
           "victim logged errors:\n"
           + (errs.read_text() if errs.exists() else ""))

    recs = _read_jsonl_tolerant(str(Path(root) / "ledger_ivf.jsonl"))
    built = any("done_build" in r for r in recs)
    appended = {r["append"][0]: r["append"] for r in recs if "append" in r}
    done_app = {k for k in (r.get("done_append") for r in recs)
                if k is not None}
    erased = {r["erase"][0]: r["erase"] for r in recs if "erase" in r}
    done_er = {k for k in (r.get("done_erase") for r in recs)
               if k is not None}
    erase_intent_ids = {i for ids in erased.values() for i in ids}
    must_have: set[int] = set(range(IVF_BASE)) if built else set()
    for k in done_app:
        must_have |= set(appended.get(k, []))
    must_have -= erase_intent_ids
    must_not = {i for k in done_er for i in erased.get(k, [])}
    known = set(range(IVF_BASE)) | {
        i for ids in appended.values() for i in ids}

    path = f"{root}/wh/ivf_index"
    # restart-equivalent recovery FIRST, exactly what the victim (and
    # the engine's own lifecycle entries) run after a crash: adopt or
    # discard any staged cluster swap, and finish or discard a staged
    # REFIT (a kill mid-refit leaves the marker off with the full
    # union staged) — both are healable windows, not loss
    from logsqlite_spark.operators.similarity import (
        _adopt_staged_cluster_swaps,
        _heal_refit,
        ivf_topk_indexed,
    )
    if os.path.isdir(path):
        _adopt_staged_cluster_swaps(spark, path, ".compact_tmp_")
        _adopt_staged_cluster_swaps(spark, path, ".erase_tmp_")
    if not (os.path.isdir(path) and _heal_refit(spark, path)):
        _check(not built, "index unrecoverable after a done build: "
                          "marker off with no staged refit to finish")
        return {"ivf_live": 0, "done_appends": len(done_app),
                "done_erases": len(done_er),
                "compactions": sum(1 for r in recs if "done_compact" in r)}

    ids_rows = (spark.read.option("basePath", f"{path}/lists")
                .parquet(f"{path}/lists").select("nid").collect())
    got = [int(r["nid"]) for r in ids_rows]
    got_set = set(got)
    _check(len(got) == len(got_set),
           f"duplicate vector ids in the lists: n={len(got)} "
           f"distinct={len(got_set)}")
    missing = must_have - got_set
    _check(not missing, f"committed vectors LOST from the index: "
                        f"{sorted(missing)[:10]} (+{len(missing) - 10 if len(missing) > 10 else 0})")
    resur = must_not & got_set
    _check(not resur, f"erased vectors RESURRECTED: {sorted(resur)[:10]}")
    foreign = got_set - known
    _check(not foreign, f"ids never intended: {sorted(foreign)[:10]}")

    # serving-path probe: the index must SERVE what it stores — query
    # AT a sample of committed vectors over ALL lists; each must come
    # back for its own query (probe ids live outside the id space
    # because the scorer excludes qid == nid self-pairs)
    sample = sorted(must_have)[-8:]
    if sample:
        from pyspark.sql import functions as F
        qdf = spark.createDataFrame(
            [(10**9 + i, _ivf_vec(i)) for i in sample],
            "vec_id long, embedding array<float>")
        hits = (ivf_topk_indexed(spark, qdf, path, k=3,
                                 n_probe=IVF_CLUSTERS)
                .groupBy("qid")
                .agg(F.collect_list("nid").alias("nids")).collect())
        by_q = {int(r["qid"]) - 10**9: [int(x) for x in r["nids"]]
                for r in hits}
        for i in sample:
            _check(i in by_q.get(i, []),
                   f"probed search failed to serve committed id {i}: "
                   f"top-3 = {by_q.get(i)}")

    return {"ivf_live": len(got_set), "done_appends": len(done_app),
            "done_erases": len(done_er),
            "compactions": sum(1 for r in recs if "done_compact" in r)}


def check_cycle(spark, root: str, cycle: int, prev: dict,
                profile: str = "pull") -> dict:
    from logsqlite_spark.config import EngineConfig
    from logsqlite_spark.streaming.incremental import (
        artifact_rows,
        last_appended_batch,
    )
    from logsqlite_spark.streaming.ingest import ingest_spool_once
    from logsqlite_spark.table import ManifestTable

    cfg = EngineConfig(warehouse_dir=f"{root}/wh")
    table = ManifestTable(cfg.logs_dir)
    # forensics snapshot BEFORE any cleanup/drain: if a later invariant
    # fails, this proves whether the bytes were complete ON DISK when
    # the reader ran (splits writer-side truncation from reader-side
    # misreads — the round-14 mystery); killed partial .tmps included
    import hashlib

    snap = {}
    for p in sorted(glob.glob(f"{cfg.spool_dir}/*/*.*")
                    + glob.glob(f"{cfg.spool_dir}/*/.*.tmp")):
        blob = open(p, "rb").read()
        snap[p] = {"size": len(blob),
                   "sha1": hashlib.sha1(blob).hexdigest()}
    with open(Path(root, f"forensics_{cycle}.json"), "w") as fh:
        json.dump(snap, fh, indent=1)

    # a kill can leave never-renamed .tmp partials; they were never
    # published (no ledger materialization), so clearing them is exact
    for p in glob.glob(f"{cfg.spool_dir}/*/.*.tmp"):
        os.remove(p)

    # I7 first: an exception the victim hit while alive is a bug even
    # if the state checks below pass
    errs = Path(root, "victim_errors.log")
    _check(not errs.exists() or errs.read_text() == "",
           f"victim logged errors:\n{errs.read_text() if errs.exists() else ''}")

    # drain what the kill left in the spool
    if profile == "stream":
        # drain by RESUMING the victim's own streams from their
        # checkpoints — the honest statehandler.rs-replay equivalent:
        # a batch the kill left uncommitted in the WAL replays with
        # its pinned file list and must dedup via the manifest
        # batch-id cursor.  (A pull drain here would corrupt the
        # checkpoint contract: it deletes files a pinned replay still
        # needs, and quarantines stream-consumed leftovers as stale.)
        from logsqlite_spark.config import LogConfig
        from logsqlite_spark.streaming.ingest import start_ingest_stream

        for fmt, key, qname in (
                ("plog", "__mux__", "ingest-mux"),
                ("jsonl", "__mux_jsonl__", "ingest-mux-jsonl")):
            q = start_ingest_stream(
                spark, cfg.spool_dir, cfg.logs_dir, cfg.state_dir,
                f"{cfg.checkpoints_dir}/{key}", LogConfig(),
                query_name=qname, fmt=fmt)
            try:
                try:
                    q.processAllAvailable()
                except SoakViolation:
                    raise
                except Exception as e:  # noqa: BLE001
                    _check(False, f"drain stream {qname} failed: {e}")
                ex = q.exception()
                _check(ex is None, f"drain stream {qname} failed: {ex}")
            finally:
                q.stop()
                q.awaitTermination(60)
        # cleanSource lags a committed batch, so consumed files may
        # remain on disk; every leftover must be provably committed
        # (name <= the manifest's last_file for its container) — an
        # unconsumed leftover after processAllAvailable is real loss
        lf_now = table.head().get("last_file", {})
        for p in glob.glob(f"{cfg.spool_dir}/*/*.*"):
            cid = os.path.basename(os.path.dirname(p))
            _check(os.path.basename(p)
                   <= os.path.basename(lf_now.get(cid, "")),
                   f"stream drain left an unconsumed spool file: {p}")
    else:
        for _ in range(50):
            ingest_spool_once(spark, cfg.spool_dir, cfg.logs_dir,
                              cfg.state_dir, fmt="plog")
            ingest_spool_once(spark, cfg.spool_dir, cfg.logs_dir,
                              cfg.state_dir, fmt="jsonl")
            if not glob.glob(f"{cfg.spool_dir}/*/*.*"):
                break
        _check(not glob.glob(f"{cfg.spool_dir}/*/*.*"),
               "spool failed to drain")

    # read through the MANIFEST (live files only) — the raw directory
    # still holds files retired by compaction/retention until gc, and
    # a raw read would double-count their rows
    rows = (table.read_df(spark, table.import_existing())
            .select("container_id", "seq", "line").collect()
            if glob.glob(f"{cfg.logs_dir}/container_id=*") else [])
    by_cid: dict[str, dict[int, str]] = {}
    for r in rows:
        d = by_cid.setdefault(r["container_id"], {})
        _check(r["seq"] not in d,
               f"{r['container_id']}: duplicate seq {r['seq']}")
        d[r["seq"]] = r["line"]

    manifest = table.head()
    last_file = {c: os.path.basename(v)
                 for c, v in manifest.get("last_file", {}).items()}
    snap_names = {os.path.basename(p) for p in snap}

    cmap = containers_for(profile)
    expected_by_cid: dict[str, list[str]] = {}
    erase_holes = 0
    for cid in cmap:
        led_path = Path(root, f"ledger_{cid}.jsonl")
        raw = _read_jsonl_tolerant(str(led_path))
        recs = [r for r in raw if "name" in r]
        voids = {r["void"] for r in raw if "void" in r}
        # VOID RESOLUTION: a victim killed between the fsync'd ledger
        # intent and the tmp-write leaves a PERMANENT hole — the file
        # never existed, so its lines can never appear.  At check time
        # the victim is dead, so the final intent is decidable: in the
        # pre-drain snapshot -> drain ingests it; consumed by the
        # engine (last_file >= its name) -> its rows MUST be in the
        # table (a miss there is a REAL loss, not a hole); neither ->
        # unmaterialized, record the void so every later cycle's
        # expectation (and the line-id shift the next writer bakes in)
        # stays exact.
        if recs:
            tail = recs[-1]
            if (tail["name"] not in voids
                    and tail["name"] not in snap_names
                    and last_file.get(cid, "") < tail["name"]):
                with open(led_path, "a") as fh:
                    fh.write(json.dumps({"void": tail["name"]}) + "\n")
                voids.add(tail["name"])
        expected = [ln for rec in recs if rec["name"] not in voids
                    for ln in rec["lines"]]
        expected_by_cid[cid] = expected
        seqs = sorted(by_cid.get(cid, {}))
        hi = seqs[-1] if seqs else 0
        lo = seqs[0] if seqs else 1
        if cid in ERASE_CIDS:
            # targeted erasure punches holes by design: the invariants
            # are (a) every present row content-correct at its seq
            # (below), (b) every MISSING seq up to the manifest
            # high-water was an erasable (marked) line — a missing
            # unmarked line is real loss, an extra marked line is fine
            # (erase not yet run over it)
            hw = int(manifest.get("high_water", {}).get(cid, 0))
            _check(hw == len(expected),
                   f"{cid}: manifest high-water {hw} vs materialized "
                   f"ledger {len(expected)}")
            _check(hi <= hw, f"{cid}: phantom seq {hi} beyond hw {hw}")
            present = set(seqs)
            for s in range(1, hw + 1):
                if s not in present:
                    _check(ERASE_MARK in expected[s - 1],
                           f"{cid}: seq {s} missing but NOT erasable: "
                           f"{expected[s - 1]!r}")
                    erase_holes += 1
            for s in seqs:
                _check(by_cid[cid][s] == expected[s - 1] + "\n",
                       f"{cid}: seq {s} content mismatch")
            continue
        # I1 contiguity
        _check(seqs == list(range(lo, hi + 1)),
               f"{cid}: seqs not contiguous: lo={lo} hi={hi} n={len(seqs)}")
        # content BEFORE the hw check: on a hw mismatch the boundary
        # rows' content is the forensic signal (which ledger line the
        # table actually ends at)
        for s in seqs:
            _check(s <= len(expected)
                   and by_cid[cid][s] == expected[s - 1] + "\n",
                   f"{cid}: seq {s} content mismatch: "
                   f"{by_cid[cid][s]!r} != "
                   f"{(expected[s - 1] if s <= len(expected) else None)!r}")
        # I2 exact no-loss/no-dup: with voids resolved every cycle the
        # high-water must equal the materialized ledger EXACTLY
        _check(hi == len(expected),
               f"{cid}: high-water {hi} vs materialized ledger "
               f"{len(expected)}; table ends at "
               f"{expected[hi - 1] if 0 < hi <= len(expected) else None!r}; "
               f"see forensics_{cycle}.json")
        # I3 deletion is retention-only
        if cid not in RETENTION_CIDS:
            _check(lo == 1 or not seqs, f"{cid}: rows deleted (lo={lo})")

    # I4 follow consumers: contiguous content-correct run
    follow_rows = 0
    for path in glob.glob(f"{root}/follow_*_{cycle}.jsonl"):
        cid = os.path.basename(path).split("_")[2]
        seen = _read_jsonl_tolerant(path)
        follow_rows += len(seen)
        exp = expected_by_cid[cid]
        prev_seq = None
        for rec in seen:
            s = rec["seq"]
            _check(prev_seq is None or s == prev_seq + 1,
                   f"{path}: gap/dup at seq {s} after {prev_seq}")
            _check(s <= len(exp) and rec["line"] == exp[s - 1] + "\n",
                   f"{path}: content mismatch at seq {s}")
            prev_seq = s

    # I5 artifact sink: committed-only, pointer monotone
    state = os.path.join(cfg.state_dir, "soak_sink")
    p = last_appended_batch(state)
    sink_recs = _read_jsonl_tolerant(str(Path(root, "ledger_sink.jsonl")))
    latest_ids = {r["bid"]: r["ids"] for r in sink_recs if "bid" in r}
    done_max = max((r["done"] for r in sink_recs if "done" in r),
                   default=None)
    if done_max is not None:
        _check(p is not None and p >= done_max,
               f"sink pointer {p} behind ledgered completion {done_max}")
    if prev.get("sink_p") is not None:
        _check(p is not None and p >= prev["sink_p"],
               f"sink pointer regressed: {p} < {prev['sink_p']}")
    art = artifact_rows(spark, state)
    got_ids = {r["doc_id"] for r in art.collect()} if art is not None else set()
    exp_ids = (set().union(*(set(latest_ids[b]) for b in latest_ids
                             if b <= p)) if p is not None and latest_ids
               else set())
    _check(got_ids == exp_ids,
           f"artifact ids != committed ledger: extra={got_ids - exp_ids} "
           f"missing={exp_ids - got_ids}")

    # I8 decode-error accounting: every error row maps to a ledgered
    # corrupt file and vice versa (modulo an unpublished final intent).
    # An error row for a NON-corrupt file is the round-14 mystery
    # caught in the act — its line now carries the byte count the read
    # saw, so fail loudly with it.
    corrupt_names = {
        rec["name"]
        for cid in cmap
        for rec in _read_jsonl_tolerant(
            str(Path(root, f"ledger_{cid}.jsonl")))
        if rec.get("corrupt")}
    de_dir = Path(cfg.state_dir) / "decode_errors"
    if de_dir.exists():
        for r in spark.read.parquet(str(de_dir)).collect():
            name = os.path.basename(r["path"])
            _check(name in corrupt_names,
                   f"decode-error row for a NON-corrupt file {name}: "
                   f"{r['line']!r}")

    # I6 manifest generation monotone; no out-of-order quarantine
    gen = table.head().get("generation", 0)
    _check(gen >= prev.get("generation", 0),
           f"manifest generation regressed: {gen} < "
           f"{prev.get('generation', 0)}")
    ooo = Path(cfg.state_dir) / "out_of_order"
    _check(not ooo.exists()
           or spark.read.parquet(str(ooo)).count() == 0,
           "out-of-order quarantine is non-empty (monotonic names)")

    # exercise gc on the restart path too (and bound soak disk): live
    # snapshots must stay readable across it
    table.gc(keep_generations=2, grace_s=0)
    _check(len(table.read_df(
        spark, table.manifest()).limit(1).take(1)) in (0, 1),
        "table unreadable after gc")

    ret_bit = any(
        (lambda sq: bool(sq and sq[0] > 1))(sorted(by_cid.get(rc, {})))
        for rc in RETENTION_CIDS if rc in cmap)
    return {"sink_p": p, "generation": gen, "erase_holes": erase_holes,
            "rows": len(rows),
            "ledgered": sum(len(v) for v in expected_by_cid.values()),
            "follow_rows": follow_rows,
            "retention_bit": ret_bit,
            "corrupt_files": sum(
                1 for cid in cmap
                for r in _read_jsonl_tolerant(
                    str(Path(root, f"ledger_{cid}.jsonl")))
                if r.get("corrupt"))}


# --------------------------------------------------------------------------
# parent driver
# --------------------------------------------------------------------------

def run_soak(cycles: int, seed: int, root: str, keep: bool,
             profile: str = "pull") -> int:
    os.makedirs(root, exist_ok=True)
    rnd = random.Random(seed)

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("soak-checker")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .getOrCreate())

    prev: dict = {}
    cover = {"follow_rows": 0, "sink_commits": 0, "retention_cycles": 0,
             "erase_holes": 0}
    t0 = time.time()
    engines = ("a", "b") if profile == "duo" else ("",)
    for cycle in range(cycles):
        readies = [Path(root, f"ready_{cycle}" + (f"_{e}" if e else ""))
                   for e in engines]
        procs = []
        for e in engines:
            argv = [sys.executable, os.path.abspath(__file__),
                    "--victim", root, str(seed), str(cycle),
                    "--profile", profile]
            if e:
                argv += ["--engine", e]
            procs.append(subprocess.Popen(
                argv, start_new_session=True,
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL))
        try:
            cold_kill = rnd.random() < 0.15
            if cold_kill:
                time.sleep(rnd.uniform(1.0, 9.0))
            else:
                deadline = time.time() + 120
                while not all(r.exists() for r in readies):
                    for proc in procs:
                        if proc.poll() is not None:
                            raise SoakViolation(
                                "victim exited on its own "
                                f"(rc={proc.returncode})")
                    if time.time() > deadline:
                        raise SoakViolation("victim never became ready")
                    time.sleep(0.1)
                # every 4th cycle: a LONG window that fits erase and
                # then the retention commit on a just-started victim
                # (about 10 s + 3-9 s, see first_pass_order); a fixed
                # 2.5-9 s window made the retention-coverage gate a
                # seed lottery (r15 seed 61 first fired at cycle ~63).
                # Kill aggression stays on the other 3 of 4 cycles.
                if long_window(cycle):
                    time.sleep(rnd.uniform(*LONG_WINDOW_S))
                else:
                    time.sleep(rnd.uniform(2.5, 9.0))
        finally:
            # duo: kill in random order with a SURVIVOR WINDOW between
            # — the living engine must keep committing while its peer
            # died possibly mid-commit (kernel-released flock, stale
            # manifest snapshots -> CommitConflict, never corruption)
            order = list(procs)
            rnd.shuffle(order)
            for i, proc in enumerate(order):
                try:
                    os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
                except ProcessLookupError:
                    pass
                if i + 1 < len(order):
                    time.sleep(rnd.uniform(0.0, 2.0))
            for proc in procs:
                proc.wait()

        try:
            if profile == "ivf":
                prev = check_cycle_ivf(spark, root, cycle, prev)
            else:
                prev = check_cycle(spark, root, cycle, prev, profile)
        except SoakViolation as e:
            print(f"FAIL cycle {cycle} (seed={seed}): {e}")
            print(f"state left in {root} for forensics")
            return 1
        if profile == "ivf":
            print(f"ok cycle {cycle}: live={prev['ivf_live']} "
                  f"appends={prev['done_appends']} "
                  f"erases={prev['done_erases']} "
                  f"compactions={prev['compactions']} "
                  f"({'cold-kill' if cold_kill else 'work-kill'})",
                  flush=True)
            continue
        cover["follow_rows"] += prev["follow_rows"]
        cover["sink_commits"] += int(prev["sink_p"] is not None)
        cover["retention_cycles"] += int(prev["retention_bit"])
        cover["erase_holes"] = max(cover.get("erase_holes", 0),
                                   prev["erase_holes"])
        print(f"ok cycle {cycle}: rows={prev['rows']} "
              f"ledgered={prev['ledgered']} sink_p={prev['sink_p']} "
              f"gen={prev['generation']} follow={prev['follow_rows']} "
              f"({'cold-kill' if cold_kill else 'work-kill'})", flush=True)

    # coverage gate: a green run that never drove followers, the sink,
    # corrupt files, or retention proved much less than it claims
    if profile == "ivf":
        cover = {k: prev.get(k, 0) for k in
                 ("done_appends", "done_erases", "compactions")}
    maint_ops: dict = {}
    if profile != "ivf":
        # per-(engine, op) outcomes, reported for every profile: starts
        # without an outcome are ops the kill cut short, so a zero
        # coverage count reads as starvation or as a failing op.  duo
        # also gates them: maintenance there shares NO lock across the
        # two processes (flock + CommitConflict only), so an op that
        # never completes in one engine is cross-process starvation
        maint = _read_jsonl_tolerant(str(Path(root, "ledger_maint.jsonl")))
        for e in engines:
            for op in ("cleanup", "compact", "erase"):
                recs = [r for r in maint
                        if r.get("engine") == e and r.get("op") == op]
                key = f"maint_{e}_{op}" if e else f"maint_{op}"
                ends = sorted(r["dt"] for r in recs if "dt" in r)
                n_ok = sum(1 for r in recs if r.get("ok"))
                if profile == "duo":
                    cover[key] = n_ok
                maint_ops[key] = {
                    "started": sum(1 for r in recs if r.get("start")),
                    "ok": n_ok,
                    "conflict": sum(1 for r in recs
                                    if r.get("ok") is False),
                    "dt_p50_s": ends[len(ends) // 2] if ends else None}
    if cycles >= 10:
        checks = (cover if profile == "ivf" else
                  {**cover, "corrupt_files": prev.get("corrupt_files", 0)})
        for k, v in checks.items():
            if v == 0:
                print(f"FAIL coverage: {k} == 0 over {cycles} cycles; "
                      f"maintenance ops: {json.dumps(maint_ops)}")
                return 1

    dt = time.time() - t0
    print(json.dumps({"metric": "soak_cycles_green", "value": cycles,
                      "unit": "cycles", "seed": seed,
                      "wall_s": round(dt, 1), "coverage": cover,
                      "maintenance_ops": maint_ops}))
    if not keep:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cycles", type=int, default=20)
    ap.add_argument("--seed", type=int, default=14)
    ap.add_argument("--root", default="/tmp/logsqlite_soak")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--profile",
                    choices=["pull", "stream", "ivf", "duo"],
                    default="pull",
                    help="pull: batch ingest_spool_once victims "
                         "(r14 profile); stream: the S4/S5 primary "
                         "mode — start_multiplexed_ingest + Spark "
                         "checkpoints + foreachBatch — with "
                         "checkpoint-resume drains (VERDICT r14 #1); "
                         "ivf: the persisted ANN index lifecycle — "
                         "append/erase/compact under kills "
                         "(VERDICT r14 #4); duo: TWO engine processes "
                         "sharing one warehouse on disjoint "
                         "containers, staggered kills (VERDICT r14 #3)")
    ap.add_argument("--engine", default="",
                    help="duo victim identity (internal): a | b")
    ap.add_argument("--victim", nargs=3, metavar=("ROOT", "SEED", "CYCLE"))
    args = ap.parse_args()
    if args.victim:
        if args.profile == "ivf":
            run_victim_ivf(args.victim[0], int(args.victim[1]),
                           int(args.victim[2]))
        else:
            run_victim(args.victim[0], int(args.victim[1]),
                       int(args.victim[2]), args.profile, args.engine)
        return 0
    return run_soak(args.cycles, args.seed, args.root, args.keep,
                    args.profile)


if __name__ == "__main__":
    sys.exit(main())
