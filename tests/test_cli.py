"""Maintenance subcommands of python -m logsqlite_spark (round 5):
erase (with --gc physical completion) and gc over a real warehouse."""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import functions as F

from logsqlite_spark.__main__ import main
from logsqlite_spark.config import EngineConfig
from logsqlite_spark.table import ManifestTable


def _warehouse_with_logs(spark, tmp_path) -> str:
    wh = str(tmp_path / "wh")
    cfg = EngineConfig(warehouse_dir=wh)
    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e9)
    rows = [(i + 1, base + i * 10**9, "stdout",
             f"user={i % 4} m{i}\n", "c1") for i in range(40)]
    df = (spark.createDataFrame(
        rows, "seq long, ts_nanos long, source string, line string, "
        "container_id string")
        .withColumn("ts", F.timestamp_micros(F.expr("ts_nanos div 1000")))
        .withColumn("date", F.to_date("ts")))
    Path(cfg.logs_dir).parent.mkdir(parents=True, exist_ok=True)
    df.write.partitionBy("container_id", "date").parquet(cfg.logs_dir)
    return wh


def test_cli_erase_then_gc(spark, tmp_path, capsys):
    wh = _warehouse_with_logs(spark, tmp_path)
    rc = main(["erase", "--warehouse", wh, "line LIKE 'user=1 %'",
               "--gc"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "'deleted_rows': 10" in out and "'gc':" in out

    cfg = EngineConfig(warehouse_dir=wh)
    t = ManifestTable(cfg.logs_dir)
    left = t.read_df(spark)
    assert left.count() == 30
    assert left.filter("line LIKE 'user=1 %'").count() == 0
    # --gc retired the pre-erasure snapshot: only one generation left
    assert len(t.generations()) == 1


def test_cli_gc_keep(spark, tmp_path, capsys):
    wh = _warehouse_with_logs(spark, tmp_path)
    main(["erase", "--warehouse", wh, "line LIKE 'user=2 %'"])
    capsys.readouterr()
    rc = main(["gc", "--warehouse", wh, "--keep", "2"])
    assert rc == 0
    assert "deleted_manifests" in capsys.readouterr().out
    cfg = EngineConfig(warehouse_dir=wh)
    assert len(ManifestTable(cfg.logs_dir).generations()) == 2


def test_cli_read_follow_is_the_spool_tail(spark, tmp_path, capsys,
                                           monkeypatch):
    """read --follow runs the same spool tail as the HTTP follow: it
    prints the committed history, then a line published after it
    started, and ends once the idle budget (patched to 2 s here) runs
    out."""
    import threading
    import time

    from logsqlite_spark.api import Engine
    from logsqlite_spark.sources.frames import LogEntry
    from logsqlite_spark.sources.spool import SpoolWriter
    from logsqlite_spark.streaming import follow as FW

    wh = str(tmp_path / "wh")
    eng = Engine(spark, EngineConfig(warehouse_dir=wh))
    eng.start_logging("cfl", None, {"delete_when_stopped": "false"})
    w = SpoolWriter(eng.config.spool_dir, "cfl")
    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e9)
    w.write_burst([LogEntry(source="stdout", time_nano=base + i,
                            line=f"old-{i}".encode()) for i in range(2)])
    eng.ingest_once()
    monkeypatch.setattr(FW, "FOLLOW_COUNTER_MAX", 2)

    rc = {}
    th = threading.Thread(target=lambda: rc.setdefault("v", main(
        ["read", "--warehouse", wh, "--container", "cfl", "--follow"])),
        daemon=True)
    th.start()
    out = ""
    deadline = time.monotonic() + 60
    while "old-1" not in out and time.monotonic() < deadline:
        time.sleep(0.05)
        out += capsys.readouterr().out
    assert out == "old-0\nold-1\n"
    w.write_burst([LogEntry(source="stdout", time_nano=base + 10**9,
                            line=b"new-0")])
    th.join(timeout=60)
    assert not th.is_alive()
    assert rc["v"] == 0
    assert out + capsys.readouterr().out == "old-0\nold-1\nnew-0\n"


def test_cli_serve_streaming_ingests_container_started_after_boot(
        spark, tmp_path, monkeypatch):
    """serve --streaming runs ONE multiplexed ingest stream, so a
    container that sends StartLogging after boot is ingested at once:
    its burst commits with seqs 1..n while the daemon runs."""
    import json
    import signal
    import time

    from logsqlite_spark.server import connect_client
    from logsqlite_spark.sources.frames import LogEntry
    from logsqlite_spark.sources.spool import SpoolWriter

    wh = str(tmp_path / "wh")
    sock = str(tmp_path / "plugin.sock")
    cfg = EngineConfig(warehouse_dir=wh)
    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e9)
    n = 5
    seen: dict = {}

    def committed_seqs() -> list[int]:
        try:
            df = ManifestTable(cfg.logs_dir).read_df(spark)
            return sorted(r["seq"] for r in
                          df.filter("container_id = 'cnew'")
                          .select("seq").collect())
        except Exception:  # noqa: BLE001 — no commit published yet
            return []

    def pause():
        try:
            conn = connect_client(sock)
            body = json.dumps({"File": "/run/cnew.fifo",
                               "Info": {"ContainerID": "cnew"}}).encode()
            conn.request("POST", "/LogDriver.StartLogging", body=body,
                         headers={"Content-Length": str(len(body))})
            seen["start"] = json.loads(conn.getresponse().read())
            SpoolWriter(cfg.spool_dir, "cnew").write_burst([
                LogEntry(source="stdout", time_nano=base + i,
                         line=f"new-{i}".encode()) for i in range(n)])
            deadline = time.monotonic() + 90
            while time.monotonic() < deadline:
                seen["seqs"] = committed_seqs()
                if len(seen["seqs"]) >= n:
                    break
                time.sleep(0.25)
        finally:
            raise KeyboardInterrupt

    monkeypatch.setattr(signal, "signal", lambda *a: None)
    monkeypatch.setattr(signal, "pause", pause)
    rc = main(["serve", "--warehouse", wh, "--socket", sock,
               "--streaming"])
    assert rc == 0
    assert seen["start"] == {"Err": ""}
    assert seen["seqs"] == list(range(1, n + 1))
