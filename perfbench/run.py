"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Starts the system under test
(``perfbench/sut.py``) as its own process, drives one workload from
this process (``perfbench/workloads.py``), checks every answer, stops
everything it started and removes its scratch directory. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. The lines above it print
the same figures for people, with the workload-specific names.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import select
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

# end-to-end metric -> unit; what each measures per workload is in
# perfbench/README.md
E2E = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
       "latency_p90_ms": "ms"}

# per-layer: name -> (unit, better, the metric it should move, workload
# it is read on). The metric is an end-to-end one or, where the
# workload's generic latency measures something else, the named
# figure the run prints (commit_visible_* on live-mixed).
PER_LAYER = {
    "session.spark_start_s": ("s", "lower", "setup_s", "all"),
    "session.peak_rss_mb": ("MB", "lower", "setup_s", "all"),
    "sources.spool_files": ("count", "lower", "setup_s", "live-mixed"),
    "sources.spool_bytes": ("B", "lower", "setup_s", "live-mixed"),
    "sources.read_plan_ms": ("ms", "lower", "setup_s", "live-mixed"),
    "ingest.pull_s": ("s", "lower", "setup_s", "live-mixed"),
    "ingest.rows_per_pull": ("count", "higher", "setup_s", "live-mixed"),
    "ingest.files_out_per_pull": ("count", "lower", "setup_s", "live-mixed"),
    "ingest.decode_errors": ("count", "lower", "setup_s", "live-mixed"),
    "ingest.batch_ms": ("ms", "lower", "commit_visible_p50_ms", "live-mixed"),
    "ingest.addbatch_ms": ("ms", "lower", "commit_visible_p50_ms", "live-mixed"),
    "ingest.rows_per_batch": ("count", "higher", "commit_visible_p50_ms", "live-mixed"),
    "ingest.backlog_files_max": ("count", "lower", "commit_visible_p90_ms", "live-mixed"),
    "table.commit_append_ms": ("ms", "lower", "commit_visible_p50_ms", "live-mixed"),
    "table.commit_replace_ms": ("ms", "lower", "commit_visible_p90_ms", "live-mixed"),
    "table.commits": ("count", "lower", "commit_visible_p90_ms", "live-mixed"),
    "table.commit_conflicts": ("count", "lower", "commit_visible_p90_ms", "live-mixed"),
    "table.manifest_files": ("count", "lower", "throughput_per_s", "live-mixed"),
    "table.files_per_partition": ("count", "lower", "throughput_per_s", "live-mixed"),
    "table.import_existing_ms": ("ms", "lower", "throughput_per_s", "live-mixed"),
    "table.read_df_ms": ("ms", "lower", "throughput_per_s", "live-mixed"),
    "read.plan_ms": ("ms", "lower", "throughput_per_s", "live-mixed"),
    "read.rows_out": ("count", "higher", "throughput_per_s", "live-mixed"),
    "read.files_scanned": ("count", "lower", "throughput_per_s", "live-mixed"),
    "read.rows_out_per_file_scanned": ("ratio", "higher", "throughput_per_s", "live-mixed"),
    "wire.stream_ms": ("ms", "lower", "throughput_per_s", "live-mixed"),
    "wire.frames": ("count", "higher", "throughput_per_s", "live-mixed"),
    "wire.bytes": ("B", "higher", "throughput_per_s", "live-mixed"),
    "server.overhead_ms": ("ms", "lower", "throughput_per_s", "live-mixed"),
    "follow.tail_polls": ("count", "lower", "latency_p50_ms", "live-mixed"),
    "follow.rows": ("count", "higher", "latency_p50_ms", "live-mixed"),
    "follow.resyncs": ("count", "lower", "latency_p50_ms", "live-mixed"),
    "retention.pass_s": ("s", "lower", "throughput_per_s", "live-mixed"),
    "retention.deleted_rows": ("count", "higher", "throughput_per_s", "live-mixed"),
    "retention.rewritten_partitions": ("count", "lower", "throughput_per_s", "live-mixed"),
    "retention.conflicts": ("count", "lower", "throughput_per_s", "live-mixed"),
    "compact.pass_s": ("s", "lower", "throughput_per_s", "live-mixed"),
    "compact.files_before": ("count", "higher", "throughput_per_s", "live-mixed"),
    "compact.files_after": ("count", "lower", "throughput_per_s", "live-mixed"),
    "curation.clean_s": ("s", "lower", "throughput_per_s", "corpus-curation"),
    "curation.exact_dedup_s": ("s", "lower", "throughput_per_s", "corpus-curation"),
    "curation.candidates_s": ("s", "lower", "throughput_per_s", "corpus-curation"),
    "curation.confirm_s": ("s", "lower", "throughput_per_s", "corpus-curation"),
    "curation.pack_s": ("s", "lower", "throughput_per_s", "corpus-curation"),
    "curation.candidates": ("count", "lower", "throughput_per_s", "corpus-curation"),
    "curation.confirmed_pairs": ("count", "higher", "throughput_per_s", "corpus-curation"),
    "curation.confirm_ratio": ("ratio", "higher", "throughput_per_s", "corpus-curation"),
    "curation.pack_fill_ratio": ("ratio", "higher", "throughput_per_s", "corpus-curation"),
    "loadgen.lateness_p90_ms": ("ms", "lower", "latency_p50_ms", "live-mixed"),
    "loadgen.threads": ("count", "lower", "throughput_per_s", "all"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_pids(sid: int) -> dict[int, int]:
    """Live processes of the session the SUT leads (it, its JVM and
    Spark's Python workers), as pid -> parent pid."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(d)] = int(fields[1])
    return out


class Bench:
    """The running SUT plus the run's parameters, handed to workloads."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.run_dir = os.path.join(
            ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.run_dir, "tmp"), exist_ok=True)
        self.ld_sock = os.path.join(self.run_dir, "ld.sock")
        self.spool = os.path.join(self.run_dir, "wh", "spool")
        from client import Control

        self.ctl = Control(os.path.join(self.run_dir, "ctl.sock"))
        self.proc = None
        self.ready = False
        self.peak_rss_mb = 0.0
        self.max_threads = 1
        self.client_latency: dict = {}
        self.stream_progress: list = []
        self.chain_drift: list = []

    def env(self) -> dict:
        """The pinned environment of the SUT process."""
        env = dict(os.environ)
        for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS",
                  "PYSPARK_SUBMIT_ARGS"):
            env.pop(k, None)
        tmp = os.path.join(self.run_dir, "tmp")
        env.update({
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"]
                                  if env.get("PYTHONPATH") else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONHASHSEED": "0",
        })
        return env

    def start_sut(self) -> None:
        self.t_launch = time.monotonic()
        cmd = [sys.executable, os.path.join(HERE, "sut.py"),
               "--run-dir", self.run_dir]
        if self.trace:
            cmd.append("--trace")
        self.sut_log = open(os.path.join(self.run_dir, "sut.log"), "wb")
        self.proc = subprocess.Popen(
            cmd, cwd=self.run_dir, env=self.env(), stdout=subprocess.PIPE,
            stderr=self.sut_log, start_new_session=True)

    def wait_sut(self, timeout: float = 150.0) -> None:
        """Block until the SUT prints READY (idempotent)."""
        if self.ready:
            return
        deadline = time.monotonic() + timeout
        buf = b""
        while b"\n" not in buf:
            left = deadline - time.monotonic()
            if left <= 0 or self.proc.poll() is not None:
                raise RuntimeError("SUT did not become ready")
            r, _, _ = select.select([self.proc.stdout], [], [], left)
            if r:
                chunk = os.read(self.proc.stdout.fileno(), 4096)
                if not chunk:
                    raise RuntimeError("SUT exited during start-up")
                buf += chunk
        line = buf.split(b"\n", 1)[0].decode()
        if line != "READY":
            raise RuntimeError(f"unexpected SUT output: {line[:200]}")
        self.ready = True

    def setup_done(self) -> float:
        """Seconds since the SUT launch: everything before the timed phase."""
        return time.monotonic() - self.t_launch

    def note_threads(self) -> None:
        self.max_threads = max(self.max_threads, threading.active_count())

    def sample_rss(self) -> None:
        """Peak RSS (VmHWM) of the SUT's long-lived processes: its Python
        driver and the JVM that driver launched. Spark's Python workers
        come and go with tasks and are left out."""
        sut = self.proc.pid
        total_kb = 0
        for pid, ppid in session_pids(sut).items():
            if pid != sut and ppid != sut:
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for ln in fh:
                        if ln.startswith("VmHWM:"):
                            total_kb += int(ln.split()[1])
            except OSError:
                continue
        self.peak_rss_mb = max(self.peak_rss_mb, total_kb / 1024)

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def stop_sut(self) -> None:
        """Ask the SUT to stop, then make sure its whole session is gone."""
        if self.proc is None:
            return
        if self.proc.poll() is None and self.ready:
            try:
                self.ctl("shutdown", timeout=10)
            except (OSError, RuntimeError):
                pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            pids = session_pids(self.proc.pid)
            if not pids and self.proc.poll() is not None:
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline and session_pids(self.proc.pid):
                time.sleep(0.1)
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=5)
                except subprocess.TimeoutExpired:
                    pass
        self.proc.stdout.close()
        self.sut_log.close()

    def sut_log_tail(self, n: int = 4000) -> str:
        try:
            with open(os.path.join(self.run_dir, "sut.log"), "rb") as fh:
                return fh.read()[-n:].decode("utf-8", "replace")
        except OSError:
            return ""


# -- per-layer reduction -------------------------------------------------------------

def layer_metrics(b: Bench, res, tr: dict, manifest: dict) -> dict:
    L, C = tr["layers"], tr["counts"]

    def mean_s(name: str) -> float:
        d = L.get(name)
        return d["total_s"] / d["count"] if d and d["count"] else 0.0

    def cnt(name: str) -> float:
        return float(C.get(name, 0))

    pulls = cnt("ingest.pulls")
    prog = [p for p in b.stream_progress if p["rows"]]
    scanned = cnt("read.files_scanned")
    over = [(lat - tr["engine_by_request"].get(rid, 0.0)) * 1e3
            for rid, lat in b.client_latency.items()
            if rid in tr["engine_by_request"]]
    m = {
        "session.spark_start_s": mean_s("session.get_spark"),
        "sources.spool_files": cnt("sources.spool_files"),
        "sources.spool_bytes": cnt("sources.spool_bytes"),
        "sources.read_plan_ms": mean_s("sources.read_plan") * 1e3,
        "ingest.pull_s": mean_s("ingest.pull"),
        "ingest.rows_per_pull": cnt("ingest.rows") / pulls if pulls else 0.0,
        "ingest.files_out_per_pull":
            cnt("ingest.files_out") / pulls if pulls else 0.0,
        "ingest.decode_errors": cnt("ingest.decode_errors"),
        "ingest.batch_ms": _median([p["trigger_ms"] for p in prog]),
        "ingest.addbatch_ms": _median([p["addbatch_ms"] for p in prog]),
        "ingest.rows_per_batch": _median([p["rows"] for p in prog]),
        "ingest.backlog_files_max": res.layer.get("ingest.backlog_files_max", 0),
        "table.commit_append_ms": mean_s("table.commit_append") * 1e3,
        "table.commit_replace_ms": mean_s("table.commit_replace") * 1e3,
        "table.commits": float(L.get("table.commit_append", {}).get("count", 0)
                               + L.get("table.commit_replace", {}).get("count", 0)),
        "table.commit_conflicts": cnt("table.commit_conflicts"),
        "table.manifest_files": float(manifest["files"]),
        "table.files_per_partition":
            manifest["files"] / max(1, manifest["partitions"]),
        "table.import_existing_ms": mean_s("table.import_existing") * 1e3,
        "table.read_df_ms": mean_s("table.read_df") * 1e3,
        "read.plan_ms": mean_s("read.plan") * 1e3,
        "read.rows_out": cnt("wire.frames"),
        "read.files_scanned": scanned / max(1.0, cnt("read.calls")),
        "read.rows_out_per_file_scanned":
            cnt("wire.frames") / scanned if scanned else 0.0,
        "wire.stream_ms": mean_s("wire.stream") * 1e3,
        "wire.frames": cnt("wire.frames"),
        "wire.bytes": cnt("wire.bytes"),
        "server.overhead_ms": _median(over),
        "follow.tail_polls": cnt("follow.tail_polls"),
        "follow.rows": cnt("follow.rows"),
        "follow.resyncs": cnt("follow.resyncs"),
        "retention.pass_s": mean_s("retention.pass"),
        "retention.deleted_rows": cnt("retention.deleted_rows"),
        "retention.rewritten_partitions": cnt("retention.rewritten_partitions"),
        "retention.conflicts": cnt("retention.conflicts"),
        "compact.pass_s": mean_s("compact.pass"),
        "compact.files_before": cnt("compact.files_before"),
        "compact.files_after": cnt("compact.files_after"),
        "loadgen.threads": float(b.max_threads),
        "session.peak_rss_mb": b.peak_rss_mb,
    }
    for k in PER_LAYER:
        m.setdefault(k, float(res.layer.get(k, 0.0)))
    return m


def _median(v: list) -> float:
    v = sorted(v)
    if not v:
        return 0.0
    mid = len(v) // 2
    return float(v[mid]) if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def _finite(m: dict) -> bool:
    return all(isinstance(v, (int, float)) and math.isfinite(v)
               for v in m.values())


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logsqlite_spark",
                                       "__init__.py")):
        print("perfbench: no logsqlite_spark package next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2

    b = Bench(a.workload, a.seed, a.seconds, bool(a.trace))
    # a TERM (a caller's timeout) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = tr = manifest = None
    rc = 0
    try:
        b.start_sut()
        res = workloads.WORKLOADS[a.workload](b)
        b.note_threads()
        if b.trace:
            manifest = b.ctl("manifest_stats")
            tr = b.ctl("trace", path=os.path.join(b.run_dir, "spans.json"))
            shutil.copy(os.path.join(b.run_dir, "spans.json"),
                        os.path.join(ROOT, ".perfbench_run",
                                     f"spans-{a.workload}-{a.seed}.json"))
    except Exception:  # noqa: BLE001 — reported, then exit non-zero
        traceback.print_exc()
        print("--- SUT log tail ---\n" + b.sut_log_tail(), file=sys.stderr)
        rc = 1
    finally:
        b.stop_sut()
        if res is not None and res.failed:
            print("--- SUT log tail ---\n" + b.sut_log_tail(), file=sys.stderr)
        shutil.rmtree(b.run_dir, ignore_errors=True)
    if rc:
        return rc

    e2e = {"setup_s": res.setup_s, **res.e2e}
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} "
          f"trace {a.trace} nproc {nproc()}")
    for name, (val, unit) in res.named.items():
        print(f"  {name:<28} {val:14.4f} {unit}")
    for name, val in e2e.items():
        print(f"  {name:<28} {val:14.4f} {E2E[name]}")
    print(f"  {'peak_rss_mb':<28} {b.peak_rss_mb:14.4f} MB")
    for reason in res.errors:
        print(f"  FAILED: {reason}")
    print("e2e " + json.dumps(e2e))
    if b.chain_drift:
        print("repetitions " + json.dumps(b.chain_drift))

    if b.trace:
        metrics = layer_metrics(b, res, tr, manifest)
        print(f"  {'span':<24} {'count':>7} {'total_s':>10} {'self_s':>10}")
        for name, d in sorted(tr["layers"].items()):
            print(f"  {name:<24} {d['count']:>7} {d['total_s']:>10.3f} "
                  f"{d['self_s']:>10.3f}")
        for name, val in metrics.items():
            unit, _, moves, wl = PER_LAYER[name]
            print(f"  {name:<32} {val:14.4f} {unit:<6} -> {moves} ({wl})")
        try:
            with open(os.path.join(HERE, "baseline.json")) as fh:
                over = json.load(fh)["workloads"][a.workload]["tracing_overhead"]
            print("tracing overhead, traced vs untraced median "
                  "(baseline.json): " + json.dumps(over))
        except (OSError, KeyError, ValueError):
            print("tracing overhead: not measured for this workload "
                  "(python3 perfbench/steady.py --overhead)")
        out = {k: {"value": v, "unit": PER_LAYER[k][0]}
               for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    ok = res.failed == 0 and res.attempted > 0 and _finite(e2e)
    for v in out.values():
        if not math.isfinite(v["value"]):
            v["value"] = 0.0
    print(json.dumps({"correct": ok, "attempted": res.attempted,
                      "failed": res.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
