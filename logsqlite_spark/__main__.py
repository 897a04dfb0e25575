"""CLI: the reference daemon's operational surface as subcommands.

    python -m logsqlite_spark serve  --warehouse DIR --socket PATH
    python -m logsqlite_spark ingest --warehouse DIR [--container ID] [--fmt plog|jsonl]
    python -m logsqlite_spark read   --warehouse DIR --container ID \
        [--since RFC3339] [--until RFC3339] [--tail N] [--follow]
    python -m logsqlite_spark sql    --warehouse DIR "SELECT ..."
    python -m logsqlite_spark cleanup --warehouse DIR
    python -m logsqlite_spark compact --warehouse DIR [--container ID]
    python -m logsqlite_spark erase  --warehouse DIR "PREDICATE SQL" \
        [--container ID] [--gc]
    python -m logsqlite_spark gc     --warehouse DIR [--keep N]

``serve`` is the reference's main(): replay registered containers, bind
the LogDriver unix socket, run until interrupted (main.rs:82-110).
The maintenance subcommands are the cleaner-cadence jobs runnable
out-of-band: retention, compaction, targeted (GDPR) erasure — with
``--gc`` to immediately age out pre-erasure snapshots — and manifest
garbage collection.
"""

from __future__ import annotations

import argparse
import signal
import sys


def _engine(warehouse: str):
    from logsqlite_spark.api import Engine
    from logsqlite_spark.config import EngineConfig
    from logsqlite_spark.session import get_spark

    return Engine(get_spark("logsqlite-spark-cli"),
                  EngineConfig(warehouse_dir=warehouse))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="logsqlite_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sv = sub.add_parser("serve", help="replay + LogDriver socket daemon")
    sv.add_argument("--warehouse", required=True)
    sv.add_argument("--socket", required=True)
    sv.add_argument("--streaming", action="store_true",
                    help="continuous ingest streams (default: socket only)")

    ig = sub.add_parser("ingest", help="one batch spool pull")
    ig.add_argument("--warehouse", required=True)
    ig.add_argument("--container", default=None)
    ig.add_argument("--fmt", choices=("plog", "jsonl"), default="plog")

    rd = sub.add_parser("read", help="ReadLogs to stdout")
    rd.add_argument("--warehouse", required=True)
    rd.add_argument("--container", required=True)
    rd.add_argument("--since", default=None)
    rd.add_argument("--until", default=None)
    rd.add_argument("--tail", type=int, default=None)
    rd.add_argument("--follow", action="store_true")

    sq = sub.add_parser("sql", help="SQL over the engine views")
    sq.add_argument("--warehouse", required=True)
    sq.add_argument("query")

    cl = sub.add_parser("cleanup", help="apply retention for all containers")
    cl.add_argument("--warehouse", required=True)

    cp = sub.add_parser("compact", help="small-file compaction")
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--container", default=None)

    er = sub.add_parser("erase",
                        help="delete rows matching a SQL predicate")
    er.add_argument("--warehouse", required=True)
    er.add_argument("predicate")
    er.add_argument("--container", default=None)
    er.add_argument("--gc", action="store_true",
                    help="also age out pre-erasure snapshots now "
                         "(physical completion of the erasure)")

    gc = sub.add_parser("gc", help="retire unreferenced files/manifests")
    gc.add_argument("--warehouse", required=True)
    gc.add_argument("--keep", type=int, default=2,
                    help="manifest generations to keep (default 2)")

    a = p.parse_args(argv)
    eng = _engine(a.warehouse)

    if a.cmd == "serve":
        eng.replay(streaming=a.streaming)
        srv = eng.serve_logdriver(a.socket)
        eng.start_cleaner()
        print(f"serving LogDriver on {a.socket}", file=sys.stderr)
        stop = []
        signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
        try:
            while not stop:
                signal.pause()
        except KeyboardInterrupt:
            pass
        srv.stop()
        eng.stop_all()
        return 0

    if a.cmd == "ingest":
        from logsqlite_spark.streaming.ingest import ingest_spool_once

        res = ingest_spool_once(
            eng.spark, eng.config.spool_dir, eng.config.logs_dir,
            eng.config.state_dir, container_id=a.container, fmt=a.fmt)
        print(res)
        return 0

    if a.cmd == "read":
        if a.follow:
            for rows in eng.follow_tail(a.container, since=a.since,
                                        tail=a.tail):
                for r in rows:
                    sys.stdout.write(r["line"])
                sys.stdout.flush()
        else:
            for t in eng.scan(a.container, since=a.since, until=a.until,
                              tail=a.tail):
                sys.stdout.writelines(ln or "" for ln in
                                      t.column("line").to_pylist())
        return 0

    if a.cmd == "sql":
        eng.register_views()
        df = eng.sql(a.query)
        for r in df.toLocalIterator():
            print(r)
        return 0

    if a.cmd == "cleanup":
        print(eng.cleanup_all())
        return 0

    if a.cmd == "compact":
        print(eng.compact(a.container))
        return 0

    if a.cmd == "erase":
        res = eng.erase(a.predicate, container_id=a.container)
        if a.gc:
            from logsqlite_spark.table import open_table

            res["gc"] = open_table(eng.config.logs_dir).gc(
                keep_generations=1)
        print(res)
        return 0

    if a.cmd == "gc":
        from logsqlite_spark.table import open_table

        print(open_table(eng.config.logs_dir).gc(
            keep_generations=a.keep))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
