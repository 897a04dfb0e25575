"""The system under test, started the way ``python -m logsqlite_spark
serve`` starts it: a SparkSession from ``session.get_spark``, an
``Engine`` over the run's warehouse, boot replay and the LogDriver
unix socket. Workloads that need them add, through the control
socket, the multiplexed streaming ingest and a cleaner pass
(``cleanup_all`` + ``compact``) on a short interval.

Beside the LogDriver socket the process serves a small control socket
(one JSON object per line each way) for the calls dockerd never makes:
pull-mode ingest, a ``follow_live`` subscriber, the corpus pipeline,
audits of the committed table and the trace dump.

    python3 perfbench/sut.py --run-dir DIR [--trace]

It prints ``READY`` on stdout once both sockets accept.
"""

from __future__ import annotations

import argparse
import json
import os
import socketserver
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


class SUT:
    def __init__(self, run_dir: str, trace: bool):
        self.tracer = None
        if trace:
            import spans as bench_trace

            self.tracer = bench_trace.Tracer()
            bench_trace.install(self.tracer)
        from logsqlite_spark import session
        from logsqlite_spark.api import Engine
        from logsqlite_spark.config import EngineConfig

        self.spark = session.get_spark("perfbench-sut")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.eng = Engine(self.spark, EngineConfig(
            warehouse_dir=os.path.join(run_dir, "wh")))
        self.eng.replay()
        self.srv = self.eng.serve_logdriver(os.path.join(run_dir, "ld.sock"))
        self.mux = None
        self._cleaner_stop = threading.Event()
        self._cleaner = None
        self._cleaner_log: list[dict] = []
        self._live: dict | None = None
        self.stopped = threading.Event()

    # -- control calls ---------------------------------------------------------

    def call(self, op: str, **kw):
        return getattr(self, "op_" + op)(**kw)

    def op_ping(self):
        return {"ok": True}

    def op_ingest(self, fmt: str = "plog"):
        """One pull: the plog path is ``Engine.ingest_once``; jsonl
        bursts take the same pull with the jsonl decoder, as the CLI's
        ``ingest --fmt jsonl`` does."""
        if fmt == "plog":
            res = self.eng.ingest_once()
        else:
            from logsqlite_spark.streaming import ingest as ING

            c = self.eng.config
            res = ING.ingest_spool_once(self.spark, c.spool_dir, c.logs_dir,
                                        c.state_dir, fmt="jsonl")
        return {"rows": res.get("rows", 0),
                "decode_errors": res.get("decode_errors", 0) or 0,
                "out_of_order_rows": res.get("out_of_order_rows", 0) or 0}

    def op_audit(self):
        """Per container: row count and seq range of the committed table."""
        from pyspark.sql import functions as F

        rows = (self.eng.logs_df().groupBy("container_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                     F.countDistinct("seq").alias("d"))
                .collect())
        return {r["container_id"]: [r["n"], r["lo"], r["hi"], r["d"]]
                for r in rows}

    def op_manifest_stats(self):
        files = self.eng.table.import_existing()["files"]
        parts = {f.rsplit("/", 1)[0] for f in files}
        return {"files": len(files), "partitions": len(parts)}

    def op_spool_files(self):
        import glob

        return len(glob.glob(f"{self.eng.config.spool_dir}/*/*.*log*"))

    # live-mixed -----------------------------------------------------------------

    def op_live_start(self, cid: str):
        """A ``follow_live`` subscriber that records, per emitted row,
        its arrival index, the creation stamp carried in the line
        (monotonic ns) and the monotonic ns at emission."""
        stop = threading.Event()
        got: list[tuple[int, int, int]] = []
        it = self.eng.follow_live(cid, poll_interval_s=0.05,
                                  stop=stop.is_set)

        def run():
            try:
                for chunk in it:
                    now = time.monotonic_ns()
                    for r in chunk:
                        f = r["line"].split(" ", 2)
                        got.append((int(f[0]), int(f[1]), now))
            except Exception:  # noqa: BLE001 — reported via live_stop
                got.append((-1, -1, -1))
                traceback.print_exc()
        t = threading.Thread(target=run, name="bench-follow-live",
                             daemon=True)
        t.start()
        self._live = {"stop": stop, "got": got, "thread": t}
        return {"ok": True}

    def op_live_count(self):
        return len(self._live["got"])

    def op_live_stop(self):
        lv = self._live
        lv["stop"].set()
        lv["thread"].join(timeout=30)
        return {"rows": lv["got"]}

    def op_stream_start(self):
        self.mux = self.eng.start_multiplexed_ingest()
        return {"ok": True}

    def op_cleaner_start(self, interval_s: float):
        def loop():
            while not self._cleaner_stop.wait(interval_s):
                self._maintenance_pass()
        self._cleaner = threading.Thread(target=loop, name="bench-cleaner",
                                         daemon=True)
        self._cleaner.start()
        return {"ok": True}

    def _maintenance_pass(self):
        t0 = time.perf_counter()
        try:
            ret = self.eng.cleanup_all()
            t1 = time.perf_counter()
            cmp = self.eng.compact()
            t2 = time.perf_counter()
            self._cleaner_log.append({
                "retention_s": t1 - t0, "compact_s": t2 - t1,
                "deleted_rows": sum(v.get("deleted_rows", 0)
                                    for k, v in ret.items()
                                    if k != "__gc__"),
                "compacted": sum(v.get("compacted_partitions", 0)
                                 for v in cmp.values())})
        except Exception:  # noqa: BLE001 — the cleaner must keep running
            traceback.print_exc()
            self._cleaner_log.append({"error": True})

    def op_cleaner_stop(self):
        """Stop the cadence and run one final retention pass, so the
        table reflects every retention limit."""
        self._cleaner_stop.set()
        if self._cleaner is not None:
            self._cleaner.join(timeout=120)
        self.eng.cleanup_all()
        return {"passes": self._cleaner_log}

    def op_stream_progress(self):
        out = []
        for p in self.mux.recentProgress if self.mux else []:
            d = p if isinstance(p, dict) else json.loads(p.json)
            dur = d.get("durationMs") or {}
            out.append({"rows": d.get("numInputRows", 0),
                        "trigger_ms": dur.get("triggerExecution", 0),
                        "addbatch_ms": dur.get("addBatch", 0)})
        return out

    # corpus-curation --------------------------------------------------------------

    def op_curate(self, docs: str, emb: str, out: str, budget: int = 2048,
                  stages: bool = False):
        """``write_prepared_corpus`` then ``pack_sequences`` over the
        committed train split; ``stages`` additionally materializes each
        lazy stage once to time it (traced runs only)."""
        from pyspark.sql import functions as F

        from logsqlite_spark.operators.packing import pack_sequences
        from logsqlite_spark.operators.pipeline import write_prepared_corpus
        from logsqlite_spark.table import ManifestTable

        d = self.spark.read.parquet(docs)
        e = self.spark.read.parquet(emb)
        t0 = time.perf_counter()
        res = write_prepared_corpus(d, e, out)
        t1 = time.perf_counter()
        corpus = ManifestTable(out).read_df(self.spark)
        train = corpus.filter(F.col("split") == "train").select(
            "doc_id", F.col("clean").alias("text"))
        packed = pack_sequences(train, budget=budget)
        pk = packed.agg(F.countDistinct("pack_id").alias("packs"),
                        F.sum("token_count").alias("tokens"),
                        F.count(F.lit(1)).alias("docs")).collect()[0]
        t2 = time.perf_counter()
        ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
        out_d = {"chain_s": t2 - t0, "write_s": t1 - t0, "pack_s": t2 - t1,
                 "rows": res["rows"], "split_counts": res["split_counts"],
                 "packs": pk["packs"], "pack_tokens": pk["tokens"],
                 "packed_docs": pk["docs"], "survivors": ids}
        if stages:
            out_d["stages"] = self._curation_stages(d, e, budget)
        return out_d

    def _curation_stages(self, docs, emb, budget):
        """Each pipeline stage materialized on its own (noop sink)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from logsqlite_spark.operators.dedup import two_stage_dedup
        from logsqlite_spark.operators.packing import pack_sequences
        from logsqlite_spark.operators.pipeline import MIN_TOKENS
        from logsqlite_spark.operators.similarity import embedding_dedup_pairs
        from logsqlite_spark.operators.textstats import clean_text

        def timed(df):
            t0 = time.perf_counter()
            n = df.count()
            return time.perf_counter() - t0, n

        cleaned = clean_text(docs).withColumn(
            "n_tokens", F.size(F.expr(
                "filter(split(clean, ' '), t -> t != '')")).cast("int"))
        clean_s, _ = timed(cleaned)
        w = Window.partitionBy(F.md5("clean")).orderBy("doc_id")
        kept = (cleaned.filter(F.col("n_tokens") >= MIN_TOKENS)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1))
        exact_s, _ = timed(kept)
        # confirm = two-stage total minus candidates, both timed warm
        cand = embedding_dedup_pairs(emb, threshold=0.4, method="lsh")
        timed(cand)
        cand_s, n_cand = timed(cand)
        timed(two_stage_dedup(docs, emb))
        confirm_all_s, n_conf = timed(two_stage_dedup(docs, emb))
        pk = pack_sequences(kept.select("doc_id",
                                        F.col("clean").alias("text")),
                            budget=budget)
        t0 = time.perf_counter()
        agg = pk.agg(F.countDistinct("pack_id").alias("p"),
                     F.sum("token_count").alias("t")).collect()[0]
        pack_s = time.perf_counter() - t0
        return {"clean_s": clean_s, "exact_dedup_s": exact_s,
                "candidates_s": cand_s,
                "confirm_s": max(0.0, confirm_all_s - cand_s),
                "pack_s": pack_s, "candidates": n_cand,
                "confirmed_pairs": n_conf,
                "pack_fill_ratio": (agg["t"] or 0) / max(1, agg["p"] * budget)}

    # tracing -------------------------------------------------------------------------

    def op_trace(self, path: str):
        if self.tracer is None:
            return None
        self.tracer.dump(path)
        return {"layers": self.tracer.reduce(),
                "counts": dict(self.tracer.counts),
                "engine_by_request": self.tracer.by_request(
                    ("read.plan", "wire.stream", "table.read_df",
                     "table.import_existing"))}

    def op_shutdown(self):
        self.stopped.set()
        return {"ok": True}

    def close(self):
        self._cleaner_stop.set()
        if self._live:
            self._live["stop"].set()
        try:
            self.srv.stop()
        finally:
            self.eng.stop_all()
            self.spark.stop()


class _Ctl(socketserver.StreamRequestHandler):
    def handle(self):
        for raw in self.rfile:
            req = json.loads(raw)
            try:
                res = {"ok": self.server.sut.call(req.pop("op"), **req)}
            except Exception as e:  # noqa: BLE001 — reported to the caller
                traceback.print_exc()
                res = {"err": f"{type(e).__name__}: {e}"}
            self.wfile.write((json.dumps(res) + "\n").encode())
            self.wfile.flush()


class _CtlServer(socketserver.ThreadingUnixStreamServer):
    daemon_threads = True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    sut = SUT(a.run_dir, a.trace)
    ctl = _CtlServer(os.path.join(a.run_dir, "ctl.sock"), _Ctl)
    ctl.sut = sut
    t = threading.Thread(target=ctl.serve_forever, name="bench-ctl",
                         daemon=True)
    t.start()
    print("READY", flush=True)
    sut.stopped.wait()
    ctl.shutdown()
    ctl.server_close()
    sut.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
