"""The four workloads. Each takes a ``Bench`` (the running SUT plus the
run's seed, duration and trace flag), runs its set-up, measures for
the run's seconds, checks every answer, and returns a ``Result``."""

from __future__ import annotations

import os
import random
import socket
import threading
import time
from dataclasses import dataclass, field

import check
import gen
from client import LogDriver, lines_of, split_frames

# ingest-backlog
IB_CONTAINERS = 64
IB_LINES = 1500
# read-history
RH_ROWS = 100_000
RH_CLIENTS = 2
# live-mixed
LM_CONTAINERS = 8
LM_RATE = 200            # lines/s over all containers
LM_TICK_S = 0.5
LM_KEEP = 300            # cleanup_max_lines
LM_BACKLOG = 400         # lines per container pulled before streaming
LM_CLEAN_EVERY_S = 5.0
LM_WARMUP_MAX_S = 30.0
# corpus-curation
CC_DOCS = 1_500


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)     # generic names
    named: dict[str, tuple] = field(default_factory=dict)   # workload names
    layer: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0

    def fail(self, reason: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(reason)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = max(0, min(len(v) - 1, int(round(q / 100 * len(v) + 0.5)) - 1))
    return v[k]


# -- ingest-backlog --------------------------------------------------------------

def _write_round(spool: str, fmt: str, recs: dict) -> None:
    from logsqlite_spark.sources.jsonl import JsonlSpoolWriter
    from logsqlite_spark.sources.spool import SpoolWriter

    for cid, rs in recs.items():
        if fmt == "plog":
            SpoolWriter(spool, cid).write_burst(gen.to_entries(rs))
        else:
            JsonlSpoolWriter(spool, cid).write_burst(gen.to_jsonl(rs))


def ingest_backlog(b) -> Result:
    """Closed loop, one caller: write a round of bursts (untimed), then
    time the ``ingest_once`` pull that drains it. Rounds accumulate in
    one warehouse."""
    r = Result()
    g = gen.BacklogGen(b.seed, IB_CONTAINERS, IB_LINES)
    b.wait_sut()
    ld = LogDriver(b.ld_sock)
    for cid in g.cids:
        ld.start_logging(cid)
    ld.close()
    # warm-up: one small round per format, pulled untimed
    for fmt in ("plog", "jsonl"):
        recs = {c: gen.make_records(g.rng, c, g.written[c], 50, g.ts[c],
                                    2_000_000) for c in g.cids}
        for c, rs in recs.items():
            g.written[c] += len(rs)
            g.ts[c] = rs[-1].ts + 2_000_000
        _write_round(b.spool, fmt, recs)
        b.ctl("ingest", fmt=fmt)
    r.setup_s = b.setup_done()

    pulls, lines = [], 0
    t_end = time.monotonic() + b.seconds
    i = 0
    while time.monotonic() < t_end or i < 3:
        fmt, recs = g.next_round(i)
        _write_round(b.spool, fmt, recs)
        want = sum(len(v) for v in recs.values())
        t0 = time.perf_counter()
        res = b.ctl("ingest", fmt=fmt)
        pulls.append(time.perf_counter() - t0)
        r.attempted += 1
        if res["rows"] != want or res["decode_errors"] \
                or res["out_of_order_rows"]:
            r.fail(f"round {i}: pulled {res['rows']} of {want} rows, "
                   f"{res['decode_errors']} decode errors")
        lines += want
        i += 1
    b.sample_rss()
    why = check.check_ingest(b.ctl("audit"), g.written)
    if why:
        r.fail("audit: " + why)
    r.e2e = {"throughput_per_s": lines / sum(pulls),
             "latency_p50_ms": pct(pulls, 50) * 1e3,
             "latency_p90_ms": pct(pulls, 90) * 1e3}
    r.named = {"ingest_lines_per_s": (lines / sum(pulls), "lines/s"),
               "ingest_pull_p50_s": (pct(pulls, 50), "s"),
               "pulls": (len(pulls), "count")}
    return r


# -- read-history ------------------------------------------------------------------

def _timed_reads(b, hist, sched, r: Result, t_end: float, samples: dict,
                 lock: threading.Lock, tag: str) -> None:
    ld = LogDriver(b.ld_sock)
    try:
        for k, req in enumerate(sched):
            if time.monotonic() >= t_end:
                break
            rid = f"{tag}-{k}"
            t0 = time.perf_counter()
            body = ld.read_logs(
                req["cid"],
                since=gen.rfc3339(req["since"]) if "since" in req else None,
                until=gen.rfc3339(req["until"]) if "until" in req else None,
                tail=req.get("tail"), request_id=rid)
            dt = time.perf_counter() - t0
            done = time.monotonic()
            why = check.check_read(lines_of(body),
                                   gen.expected_answer(hist, req))
            with lock:
                samples["last_done"] = max(samples["last_done"], done)
                r.attempted += 1
                samples[req["kind"]].append(dt)
                samples["by_id"][rid] = dt
                if why:
                    r.fail(f"{req['kind']} {req['cid']}: {why}")
    finally:
        ld.close()


def read_history(b) -> Result:
    """Two closed-loop ReadLogs clients over an uncompacted 7-date
    history with 8 hot containers holding half of the rows."""
    r = Result()
    hist = gen.History(b.seed, RH_ROWS)
    # the shipper's backlog lands in the spool while the SUT boots;
    # one pull commits it (two bursts per container)
    for half in hist.halves():
        _write_round(b.spool, "plog", half)
    b.wait_sut()
    ld = LogDriver(b.ld_sock)
    for cid in hist.cids:
        ld.start_logging(cid)
    res = b.ctl("ingest")
    if res["rows"] != hist.n_rows:
        r.fail(f"history pull committed {res['rows']} of {hist.n_rows} rows")
    warm = gen.read_schedule(b.seed + 7, hist, 20)
    for req in warm[:4]:
        why = check.check_read(lines_of(ld.read_logs(
            req["cid"],
            since=gen.rfc3339(req["since"]) if "since" in req else None,
            until=gen.rfc3339(req["until"]) if "until" in req else None,
            tail=req.get("tail"))), gen.expected_answer(hist, req))
        if why:
            r.fail(f"warm-up {req['kind']}: {why}")
    ld.close()
    r.setup_s = b.setup_done()

    samples = {"range": [], "tail": [], "dump": [], "by_id": {},
               "last_done": 0.0}
    lock = threading.Lock()
    t_start = time.monotonic()
    t_end = t_start + b.seconds
    threads = [threading.Thread(
        target=_timed_reads, name=f"reader-{k}",
        args=(b, hist, gen.read_schedule(b.seed * 101 + k, hist, 100_000),
              r, t_end, samples, lock, f"c{k}"))
        for k in range(RH_CLIENTS)]
    for t in threads:
        t.start()
    b.note_threads()
    for t in threads:
        t.join()
    elapsed = max(1e-9, samples["last_done"] - t_start)
    b.sample_rss()
    inter = samples["range"] + samples["tail"]
    n = len(inter) + len(samples["dump"])
    r.e2e = {"throughput_per_s": n / elapsed,
             "latency_p50_ms": pct(inter, 50) * 1e3,
             "latency_p90_ms": pct(inter, 90) * 1e3}
    r.named = {"read_range_p50_ms": (pct(samples["range"], 50) * 1e3, "ms"),
               "read_range_p90_ms": (pct(samples["range"], 90) * 1e3, "ms"),
               "read_tail_p50_ms": (pct(samples["tail"], 50) * 1e3, "ms"),
               "read_tail_p90_ms": (pct(samples["tail"], 90) * 1e3, "ms"),
               "read_dump_p50_ms": (pct(samples["dump"], 50) * 1e3, "ms"),
               "read_req_per_s": (n / elapsed, "req/s"),
               "requests": (n, "count")}
    b.client_latency = samples["by_id"]
    return r


# -- live-mixed --------------------------------------------------------------------

def _follow_reader(b, ld: LogDriver, cid: str, out: list,
                   stop: threading.Event) -> None:
    """Read one Follow=true stream; per frame keep (n, created, received).
    The caller ends it by shutting the connection's socket down."""
    from logsqlite_spark.sources.frames import decode_log_entry

    try:
        resp = ld.follow(cid)
        buf = b""
        while True:
            chunk = resp.read1(1 << 16)
            if not chunk:
                break
            now = time.monotonic_ns()
            frames, buf = split_frames(buf + chunk)
            for f in frames:
                line = decode_log_entry(f).line.decode()
                n, created, _ = line.split(" ", 2)
                out.append((int(n), int(created), now))
    except Exception as e:  # noqa: BLE001 — reported as a failed check
        if not stop.is_set():
            out.append((-1, -1, -1))
            b.log(f"follow {cid}: {type(e).__name__}: {e}")


def _live_reads(b, cids: list[str], seed: int, stop: threading.Event,
                r: Result, samples: dict, lock: threading.Lock) -> None:
    rng = random.Random(seed)
    ld = LogDriver(b.ld_sock)
    try:
        k = 0
        while not stop.is_set():
            cid = rng.choice(cids)
            kind = ("range", "tail")[k % 2]
            k += 1
            now = time.time_ns()
            rid = f"live-{k}"
            t0 = time.perf_counter()
            if kind == "tail":
                body = ld.read_logs(cid, tail=100, request_id=rid)
            else:
                body = ld.read_logs(cid, since=gen.rfc3339(now - 1800 * 10**9),
                                    until=gen.rfc3339(now + 1800 * 10**9),
                                    request_id=rid)
            dt = time.perf_counter() - t0
            done = time.monotonic_ns()
            why = check.check_live_read(
                lines_of(body), cid, 100 if kind == "tail" else None)
            with lock:
                if samples["measuring"]:
                    r.attempted += 1
                    samples[kind].append(dt)
                    samples["by_id"][rid] = dt
                    samples["last_done"] = done
                if why:
                    r.fail(f"live {kind} {cid}: {why}")
    finally:
        ld.close()


def live_mixed(b) -> Result:
    """Open-loop shipper at a fixed rate beside streaming ingest, two
    HTTP follow streams, one in-process ``follow_live`` subscriber, a
    closed-loop reader and the cleaner (retention + compaction)."""
    from logsqlite_spark.sources.spool import SpoolWriter

    r = Result()
    rng = random.Random(b.seed)
    cids = [f"lm{c:02d}" for c in range(LM_CONTAINERS)]
    written = {c: 0 for c in cids}
    # the last hour's backlog lands in the spool while the SUT boots
    stamp, now = time.monotonic_ns(), time.time_ns()
    for cid in cids:
        w = SpoolWriter(b.spool, cid)
        for part in range(2):
            recs = []
            for i in range(LM_BACKLOG // 2):
                n = written[cid]
                body = gen.log_text(rng, f"{n:07d} {stamp} {cid}",
                                    gen.line_size(rng))
                ts = now - (LM_BACKLOG - n) * gen.HOUR_NS // LM_BACKLOG
                recs.append(gen.Rec(n, ts, body + "\n"))
                written[cid] += 1
            w.write_burst(gen.to_entries(recs))
    b.wait_sut()
    ld = LogDriver(b.ld_sock)
    for cid in cids:
        ld.start_logging(cid, {"cleanup_max_lines": str(LM_KEEP)})
    ld.close()
    # boot: one pull drains the backlog, then the stream takes over
    res = b.ctl("ingest")
    if res["rows"] != sum(written.values()):
        r.fail(f"backlog pull committed {res['rows']} rows")
    b.ctl("stream_start")
    writers = {c: SpoolWriter(b.spool, c) for c in cids}
    b.ctl("live_start", cid=cids[0])
    stop = threading.Event()
    follows = {c: [] for c in cids[1:3]}
    conns = {c: LogDriver(b.ld_sock) for c in follows}
    threads = [threading.Thread(target=_follow_reader, name=f"follow-{c}",
                                args=(b, conns[c], c, out, stop))
               for c, out in follows.items()]
    samples = {"range": [], "tail": [], "by_id": {}, "measuring": False,
               "last_done": 0}
    lock = threading.Lock()
    threads.append(threading.Thread(
        target=_live_reads, name="live-reader",
        args=(b, cids[3:], b.seed + 1, stop, r, samples, lock)))
    for t in threads:
        t.start()
    b.note_threads()

    per_tick = LM_RATE * LM_TICK_S / LM_CONTAINERS
    tick_ns = int(LM_TICK_S * 1e9)
    lateness, backlog = [], []
    t0 = time.monotonic_ns()
    t_measure = t_stop = None
    tick = 0
    while t_stop is None or t0 + tick * tick_ns < t_stop:
        for k, cid in enumerate(cids):
            due = t0 + tick * tick_ns + k * tick_ns // len(cids)
            now = time.monotonic_ns()
            if due > now:
                time.sleep((due - now) / 1e9)
            count = int(per_tick) + (rng.random() < per_tick % 1)
            recs = []
            for _ in range(count):
                n = written[cid]
                body = gen.log_text(rng, f"{n:07d} {due} {cid}",
                                    gen.line_size(rng))
                recs.append(gen.Rec(n, time.time_ns(), body + "\n"))
                written[cid] += 1
            writers[cid].write_burst(gen.to_entries(recs))
            if t_measure is not None:
                lateness.append(time.monotonic_ns() - due)
        tick += 1
        if t_measure is None:
            # warm until the stream has committed two non-empty batches
            done = sum(1 for p in b.ctl("stream_progress") if p["rows"])
            if done >= 2 or time.monotonic_ns() - t0 > LM_WARMUP_MAX_S * 1e9:
                t_measure = t0 + tick * tick_ns
                t_stop = t_measure + int(b.seconds * 1e9)
                r.setup_s = b.setup_done()
                # the cleaner's cadence starts with the timed window, so
                # its passes fall at the same offsets in every run
                b.ctl("cleaner_start", interval_s=LM_CLEAN_EVERY_S)
                with lock:
                    samples["measuring"] = True
        elif tick % 4 == 0:
            backlog.append(b.ctl("spool_files"))
    with lock:
        samples["measuring"] = False

    # drain: wait until every follower has every line (bounded)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if all(len(out) >= written[c] for c, out in follows.items()) \
                and b.ctl("live_count") >= written[cids[0]]:
            break
        time.sleep(0.2)
    stop.set()
    for ld in conns.values():
        if ld.conn.sock is not None:
            ld.conn.sock.shutdown(socket.SHUT_RDWR)
    for t in threads:
        t.join(timeout=30)
    for ld in conns.values():
        ld.close()
    live = b.ctl("live_stop")["rows"]
    cl = b.ctl("cleaner_stop")
    b.sample_rss()
    b.stream_progress = b.ctl("stream_progress")

    commit_lat = [(e - c) / 1e6 for n, c, e in live
                  if t_measure <= c < t_stop]
    follow_lat = [(e - c) / 1e6 for out in follows.values()
                  for n, c, e in out if t_measure <= c < t_stop]
    read_s = max(1e-9, (samples["last_done"] - t_measure) / 1e9)
    r.attempted += len(commit_lat) + len(follow_lat)
    why = check.check_follow([n for n, _, _ in live], written[cids[0]])
    if why:
        r.fail(f"follow_live {cids[0]}: {why}")
    for c, out in follows.items():
        why = check.check_follow([n for n, _, _ in out], written[c])
        if why:
            r.fail(f"follow {c}: {why}")
    why = check.check_retention(b.ctl("audit"), written, LM_KEEP)
    if why:
        r.fail("retention: " + why)
    if any(p.get("error") for p in cl["passes"]):
        r.fail("a cleaner pass raised")
    reads = samples["range"] + samples["tail"]
    if not reads or not commit_lat or not follow_lat:
        r.fail("no timed reads, commits or follow frames in the window")
    # the reader alternates range and tail; its rate at the median
    # service time of each kind is robust to the odd read that queues
    # behind a retention pass, which a count over the window is not
    pair_s = pct(samples["range"], 50) + pct(samples["tail"], 50)
    r.e2e = {"throughput_per_s": 2 / pair_s,
             "latency_p50_ms": pct(follow_lat, 50),
             "latency_p90_ms": pct(follow_lat, 90)}
    r.named = {
        "commit_visible_p50_ms": (pct(commit_lat, 50), "ms"),
        "commit_visible_p90_ms": (pct(commit_lat, 90), "ms"),
        "follow_visible_p50_ms": (pct(follow_lat, 50), "ms"),
        "follow_visible_p90_ms": (pct(follow_lat, 90), "ms"),
        "read_range_p50_ms": (pct(samples["range"], 50) * 1e3, "ms"),
        "read_range_p90_ms": (pct(samples["range"], 90) * 1e3, "ms"),
        "read_tail_p50_ms": (pct(samples["tail"], 50) * 1e3, "ms"),
        "read_tail_p90_ms": (pct(samples["tail"], 90) * 1e3, "ms"),
        "read_req_per_s": (len(reads) / read_s, "req/s"),
        "lines_written": (sum(written.values()), "count"),
        "cleaner_passes": (len(cl["passes"]), "count")}
    b.client_latency = samples["by_id"]
    r.layer["loadgen.lateness_p90_ms"] = pct(lateness, 90) / 1e6
    r.layer["ingest.backlog_files_max"] = max(backlog, default=0)
    return r


# -- corpus-curation ---------------------------------------------------------------

def corpus_curation(b) -> Result:
    """The corpus chain, repeated: ``write_prepared_corpus`` then
    ``pack_sequences`` over the committed train split."""
    r = Result()
    docs = os.path.join(b.run_dir, "docs.parquet")
    emb = os.path.join(b.run_dir, "emb.parquet")
    exact = gen.write_corpus(docs, emb, b.seed, CC_DOCS)
    b.wait_sut()

    def rep(k: int, stages: bool = False) -> dict:
        return b.ctl("curate", docs=docs, emb=emb, stages=stages,
                     out=os.path.join(b.run_dir, f"corpus{k}"))
    # one untimed chain spawns the Python workers and compiles; later
    # chains still speed up a little (steady.py reports the drift)
    first = rep(0)
    counts = [first["rows"]]
    r.setup_s = b.setup_done()
    why = check.check_curation(first["survivors"], exact, counts)
    if why:
        r.fail(why)
    chains = []
    t_end = time.monotonic() + b.seconds
    k = 1
    while time.monotonic() < t_end or len(chains) < 3:
        res = rep(k)
        chains.append(res["chain_s"])
        counts.append(res["rows"])
        r.attempted += 1
        why = check.check_curation(res["survivors"], exact, counts)
        if why:
            r.fail(why)
        k += 1
    b.sample_rss()
    b.chain_drift = chains
    r.e2e = {"throughput_per_s": CC_DOCS * len(chains) / sum(chains),
             "latency_p50_ms": pct(chains, 50) * 1e3,
             "latency_p90_ms": pct(chains, 90) * 1e3}
    r.named = {"curation_docs_per_s":
               (CC_DOCS * len(chains) / sum(chains), "docs/s"),
               "survivors": (first["rows"], "count"),
               "chains": (len(chains), "count")}
    if b.trace:
        st = rep(k, stages=True)["stages"]
        for key in ("clean_s", "exact_dedup_s", "candidates_s", "confirm_s",
                    "pack_s", "candidates", "confirmed_pairs",
                    "pack_fill_ratio"):
            r.layer[f"curation.{key}"] = st[key]
        r.layer["curation.confirm_ratio"] = \
            st["confirmed_pairs"] / max(1, st["candidates"])
    return r


WORKLOADS = {
    "ingest-backlog": ingest_backlog,
    "read-history": read_history,
    "live-mixed": live_mixed,
    "corpus-curation": corpus_curation,
}
