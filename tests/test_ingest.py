"""Ingest pipeline (S1-S7): spool -> decode -> seq -> parquet, batch + stream."""

import time

import pytest
from pyspark.sql import functions as F

from logsqlite_spark.config import EngineConfig, LogConfig
from logsqlite_spark.sources.frames import LogEntry, encode_frame
from logsqlite_spark.sources.spool import SpoolWriter, read_spool_batch
from logsqlite_spark.streaming.ingest import (
    ingest_spool_once,
    start_ingest_stream,
)

def _entries(start_ts, n, source="stdout"):
    return [
        LogEntry(source=source, time_nano=start_ts + i * 1_000_000_000,
                 line=f"line-{start_ts + i}".encode())
        for i in range(n)
    ]

BASE_TS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z

@pytest.fixture()
def warehouse(tmp_path):
    return EngineConfig(warehouse_dir=str(tmp_path / "wh"))

def test_spool_decode(spark, warehouse):
    w = SpoolWriter(warehouse.spool_dir, "c1")
    w.write_burst(_entries(BASE_TS, 3))
    df = read_spool_batch(spark, warehouse.spool_dir)
    rows = df.orderBy("frame_no").collect()
    assert len(rows) == 3
    assert rows[0]["container_id"] == "c1"
    assert rows[0]["line"] == f"line-{BASE_TS}\n"  # canonicalized
    assert rows[0]["time_nano"] == BASE_TS

def test_batch_ingest_assigns_contiguous_seq(spark, warehouse):
    w1 = SpoolWriter(warehouse.spool_dir, "c1")
    w2 = SpoolWriter(warehouse.spool_dir, "c2")
    w1.write_burst(_entries(BASE_TS, 4))
    w1.write_burst(_entries(BASE_TS + 10**10, 3))
    w2.write_burst(_entries(BASE_TS, 2))

    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir)
    assert res["rows"] == 9

    logs = spark.read.parquet(warehouse.logs_dir)
    c1 = logs.filter("container_id = 'c1'").orderBy("seq").collect()
    assert [r["seq"] for r in c1] == [1, 2, 3, 4, 5, 6, 7]
    # arrival order: first burst before second
    assert c1[0]["line"] == f"line-{BASE_TS}\n"
    c2 = logs.filter("container_id = 'c2'").orderBy("seq").collect()
    assert [r["seq"] for r in c2] == [1, 2]

def test_seq_continues_across_ingests(spark, warehouse):
    w = SpoolWriter(warehouse.spool_dir, "c1")
    w.write_burst(_entries(BASE_TS, 3))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir)
    # spool consumed
    w2 = SpoolWriter(warehouse.spool_dir, "c1")
    w2.write_burst(_entries(BASE_TS + 10**10, 2))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir)

    logs = spark.read.parquet(warehouse.logs_dir).filter("container_id='c1'")
    assert sorted(r["seq"] for r in logs.select("seq").collect()) == [1, 2, 3, 4, 5]

def test_ingest_partitions_by_container_and_date(spark, warehouse, tmp_path):
    w = SpoolWriter(warehouse.spool_dir, "c9")
    w.write_burst(_entries(BASE_TS, 2))
    # second day
    w.write_burst(_entries(BASE_TS + 86_400 * 10**9, 2))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir)
    from pathlib import Path
    days = sorted(p.name for p in
                  (Path(warehouse.logs_dir) / "container_id=c9").glob("date=*"))
    assert days == ["date=2024-01-01", "date=2024-01-02"]

def test_decode_error_rows_quarantined(spark, warehouse):
    from pathlib import Path
    d = Path(warehouse.spool_dir) / "cbad"
    d.mkdir(parents=True)
    good = encode_frame(LogEntry(source="stdout", time_nano=BASE_TS, line=b"ok"))
    (d / "000000000000.plog").write_bytes(good + b"\x00\x00\x00\xffgarbage")
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir)
    # the good frame before the corruption is kept; error flagged
    assert res["rows"] == 1
    assert res["decode_errors"] == 1

def test_out_of_order_spool_file_quarantined(spark, warehouse):
    w = SpoolWriter(warehouse.spool_dir, "c1")
    w.write_burst(_entries(BASE_TS, 3))
    res1 = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                             warehouse.state_dir)
    assert res1["rows"] == 3 and res1["out_of_order_rows"] == 0

    # plant a file whose name sorts BELOW the consumed watermark — an
    # external writer breaking the monotonic-name invariant
    from pathlib import Path

    from logsqlite_spark.sources.frames import encode_frame as enc

    bad = Path(warehouse.spool_dir) / "c1" / "00000000000000000000_0.plog"
    bad.write_bytes(b"".join(
        enc(LogEntry(source="stdout", time_nano=BASE_TS + i,
                     line=f"misnamed-{i}".encode())) for i in range(2)))
    w.write_burst(_entries(BASE_TS + 10**10, 4))  # a legit file alongside

    res2 = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                             warehouse.state_dir)
    # the legit file ingested; the misnamed rows quarantined, not lost
    assert res2["rows"] == 4
    assert res2["out_of_order_rows"] == 2
    logs = spark.read.parquet(warehouse.logs_dir)
    assert logs.filter("container_id = 'c1'").count() == 7
    assert not any("misnamed" in r["line"]
                   for r in logs.select("line").collect())
    ooo = spark.read.parquet(f"{warehouse.state_dir}/out_of_order")
    assert sorted(r["line"] for r in ooo.collect()) == \
        ["misnamed-0\n", "misnamed-1\n"]

    # consume=False replays are sanctioned: nothing new lands in
    # quarantine when re-reading an unconsumed spool
    w2 = SpoolWriter(warehouse.spool_dir, "c2")
    w2.write_burst(_entries(BASE_TS, 2))
    r3 = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                           warehouse.state_dir, consume=False)
    assert r3["rows"] == 2
    r4 = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                           warehouse.state_dir, consume=False)
    assert r4.get("rows", 0) == 0 and r4.get("out_of_order_rows", 0) == 0
    assert spark.read.parquet(f"{warehouse.state_dir}/out_of_order").count() == 2

def test_streaming_ingest_end_to_end(spark, warehouse):
    w = SpoolWriter(warehouse.spool_dir, "cs")
    w.write_burst(_entries(BASE_TS, 5))
    q = start_ingest_stream(
        spark, warehouse.spool_dir, warehouse.logs_dir, warehouse.state_dir,
        warehouse.checkpoints_dir + "/mux", LogConfig(message_read_timeout_ms=100),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                n = spark.read.parquet(warehouse.logs_dir).count()
                if n >= 5:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        # mid-stream burst: visibility per micro-batch (S5/T2)
        w.write_burst(_entries(BASE_TS + 10**11, 2))
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.read.parquet(warehouse.logs_dir).count()
            if n >= 7:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    logs = spark.read.parquet(warehouse.logs_dir).filter("container_id='cs'")
    assert sorted(r["seq"] for r in logs.select("seq").collect()) == list(range(1, 8))

def test_streaming_restart_resumes_from_checkpoint(spark, warehouse):
    w = SpoolWriter(warehouse.spool_dir, "cr")
    w.write_burst(_entries(BASE_TS, 3))
    ckpt = warehouse.checkpoints_dir + "/mux"

    def run_until(n_expected):
        q = start_ingest_stream(spark, warehouse.spool_dir, warehouse.logs_dir,
                                warehouse.state_dir, ckpt)
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                try:
                    if spark.read.parquet(warehouse.logs_dir).count() >= n_expected:
                        return
                except Exception:
                    pass
                time.sleep(0.5)
            raise AssertionError(f"timed out waiting for {n_expected} rows")
        finally:
            q.stop()
            q.awaitTermination(30)

    run_until(3)   # first run ingests burst 1, then "crash" (stop)
    w.write_burst(_entries(BASE_TS + 10**11, 2))
    run_until(5)   # restart: only the new burst is processed (T3)

    logs = spark.read.parquet(warehouse.logs_dir).filter("container_id='cr'")
    seqs = sorted(r["seq"] for r in logs.select("seq").collect())
    assert seqs == [1, 2, 3, 4, 5]  # no dups, no gaps across restart


def _two_container_spool(cfg):
    """ca: one good burst; cb: a file with a good frame then a garbage
    tail (one row + one decode error), then a good burst."""
    from pathlib import Path

    wa = SpoolWriter(cfg.spool_dir, "ca")
    wb = SpoolWriter(cfg.spool_dir, "cb")
    wa.write_burst(_entries(BASE_TS, 4))
    good = encode_frame(LogEntry(source="stdout",
                                 time_nano=BASE_TS + 10**10, line=b"ok"))
    bad_name = wb.write_burst([])
    Path(bad_name).write_bytes(good + b"\xff\xff\xff\xff garbage")
    wb.write_burst(_entries(BASE_TS + 2 * 10**10, 2))
    return wa, wb


def _stale_and_fresh(cfg, wa):
    """Fresh rows for ca plus a misnamed file below ca's watermark,
    published with tmp + rename like every spool writer."""
    import os
    from pathlib import Path

    wa.write_burst(_entries(BASE_TS + 3 * 10**10, 3))
    tmp = Path(cfg.spool_dir) / "ca" / ".stale.tmp"
    tmp.write_bytes(encode_frame(LogEntry(
        source="stdout", time_nano=BASE_TS, line=b"misnamed")))
    os.replace(tmp, tmp.with_name("00000000000000000000_0.plog"))


def _scoped_pulls(spark, cfg):
    return [ingest_spool_once(spark, cfg.spool_dir, cfg.logs_dir,
                              cfg.state_dir, container_id=cid)
            for cid in ("ca", "cb")]


def _multi_pull(spark, cfg):
    return [ingest_spool_once(spark, cfg.spool_dir, cfg.logs_dir,
                              cfg.state_dir)]


def _pulled_twice(spark, cfg, pull):
    wa, _ = _two_container_spool(cfg)
    r1 = pull(spark, cfg)
    _stale_and_fresh(cfg, wa)
    r2 = pull(spark, cfg)
    return r1, r2


def _streamed_twice(spark, cfg):
    # the corrupt file is rewritten in place, so the stream starts only
    # once the first spool is complete
    wa, _ = _two_container_spool(cfg)
    results = []
    q = start_ingest_stream(
        spark, cfg.spool_dir, cfg.logs_dir, cfg.state_dir,
        cfg.checkpoints_dir + "/mux",
        LogConfig(message_read_timeout_ms=100),
        query_name="parity-mux", on_batch_result=results.append)
    try:
        q.processAllAvailable()
        r1, results[:] = list(results), []
        _stale_and_fresh(cfg, wa)
        q.processAllAvailable()
        return r1, list(results)
    finally:
        q.stop()
        q.awaitTermination(30)


def _committed_state(spark, cfg, r1, r2):
    """Everything a commit leaves behind, in a form comparable across
    warehouses: per-pass counters, rows with seqs, quarantine, manifest
    high-water and per-container file watermark."""
    from logsqlite_spark.table import ManifestTable

    counts = [tuple(sum(r.get(k, 0) for r in rs) for k in
                    ("rows", "decode_errors", "out_of_order_rows"))
              for rs in (r1, r2)]
    rows = sorted(
        (r["container_id"], r["seq"], r["line"], r["ts_nanos"])
        for r in spark.read.parquet(cfg.logs_dir).collect())
    ooo = sorted(
        r["line"] for r in spark.read.parquet(
            f"{cfg.state_dir}/out_of_order").collect())
    errs = spark.read.parquet(f"{cfg.state_dir}/decode_errors").count()
    m = ManifestTable(cfg.logs_dir).manifest()
    # spool names embed wall-clock ns — only the monotonic per-writer
    # counter suffix is comparable across runs
    wm = {c: v.rsplit("-", 1)[-1]
          for c, v in m.get("last_file", {}).items()}
    return counts, rows, ooo, errs, m.get("high_water"), wm


def _assert_expected_state(state):
    counts, _, ooo, errs, high_water, _ = state
    assert counts == [(7, 1, 0), (3, 0, 1)]
    assert high_water == {"ca": 7, "cb": 3}
    assert ooo == ["misnamed\n"]
    assert errs == 1


def test_observed_commit_equals_grouped_commit(spark, tmp_path):
    """Scoped pulls (one container per batch) and a multi-container
    pull (every container grouped into one batch) both commit through
    the one Observation-counted commit: on the same spool — decode
    errors in the first batch, a stale (watermark-violating) file in
    the second — they commit the same rows, seqs, counters, quarantine
    and manifest state."""
    scoped = EngineConfig(warehouse_dir=str(tmp_path / "scoped"))
    grouped = EngineConfig(warehouse_dir=str(tmp_path / "grouped"))
    s = _committed_state(spark, scoped,
                         *_pulled_twice(spark, scoped, _scoped_pulls))
    g = _committed_state(spark, grouped,
                         *_pulled_twice(spark, grouped, _multi_pull))
    assert s == g
    _assert_expected_state(g)


def test_listed_commit_equals_grouped_commit(spark, tmp_path):
    """A multi-container pull passes its listing to the commit for the
    read-coverage guard; the multiplexed stream commits the same
    grouped batches with no listing. On the same spool — decode errors
    in the first batch, a stale file in the second — both commit the
    same rows, seqs, counters, quarantine and manifest state."""
    listed = EngineConfig(warehouse_dir=str(tmp_path / "listed"))
    streamed = EngineConfig(warehouse_dir=str(tmp_path / "stream"))
    lst = _committed_state(spark, listed,
                           *_pulled_twice(spark, listed, _multi_pull))
    st = _committed_state(spark, streamed,
                          *_streamed_twice(spark, streamed))
    assert lst == st
    _assert_expected_state(lst)


@pytest.mark.parametrize("scoped", [True, False], ids=["scoped", "multi"])
def test_write_coverage_guard_aborts_undercounted_commit(
        spark, warehouse, monkeypatch, scoped):
    """The staged footers must back every good row the read produced:
    a write that persisted fewer rows aborts the commit — for scoped
    and multi-container pulls alike — with no watermark moved and the
    spool files left for the next pull, which commits every row."""
    import glob
    import os

    from logsqlite_spark.streaming import ingest as ING
    from logsqlite_spark.table import ManifestTable

    def pull():
        return ingest_spool_once(spark, warehouse.spool_dir,
                                 warehouse.logs_dir, warehouse.state_dir,
                                 container_id="ca" if scoped else None)

    wa = SpoolWriter(warehouse.spool_dir, "ca")
    wb = SpoolWriter(warehouse.spool_dir, "cb")
    wa.write_burst(_entries(BASE_TS, 2))
    wb.write_burst(_entries(BASE_TS, 2))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir)
    before = ManifestTable(warehouse.logs_dir).manifest()

    wa.write_burst(_entries(BASE_TS + 10**11, 3))
    wb.write_burst(_entries(BASE_TS + 10**11, 1))
    pending = sorted(glob.glob(f"{warehouse.spool_dir}/*/*.plog"))
    real = ING._parquet_num_rows
    monkeypatch.setattr(ING, "_parquet_num_rows",
                        lambda p: max(real(p) - 1, 0))
    with pytest.raises(RuntimeError, match="staged parquet rows"):
        pull()
    after = ManifestTable(warehouse.logs_dir).manifest()
    assert after["high_water"] == before["high_water"]
    assert after["last_file"] == before["last_file"]
    assert all(os.path.exists(p) for p in pending)

    monkeypatch.setattr(ING, "_parquet_num_rows", real)
    assert pull()["rows"] == (3 if scoped else 4)
    want = {"ca": [1, 2, 3, 4, 5], "cb": [1, 2] if scoped else [1, 2, 3]}
    # a raw read of the data tree: the aborted commit left no adopted
    # files behind either
    logs = spark.read.parquet(warehouse.logs_dir)
    for cid, seqs in want.items():
        assert sorted(r["seq"] for r in logs.filter(
            F.col("container_id") == cid).collect()) == seqs
    assert ManifestTable(warehouse.logs_dir).manifest()["high_water"] \
        == {c: s[-1] for c, s in want.items()}


def test_path_column_is_plain_filesystem_form(spark, warehouse):
    """Round-13: both decode sources emit ``path`` in the PLAIN
    filesystem form (no ``file:``/``file://`` URI spelling), matching
    the driver's own listing — a pull's read-coverage guard looks each
    listed file up in the observed path set, so the forms must be
    identical."""
    import glob as _glob

    from logsqlite_spark.sources.jsonl import (
        JsonlSpoolWriter,
        read_jsonl_spool_batch,
    )
    from logsqlite_spark.sources.spool import read_spool_batch

    SpoolWriter(warehouse.spool_dir, "c1").write_burst(_entries(BASE_TS, 1))
    JsonlSpoolWriter(warehouse.spool_dir, "c1").write_burst(
        [{"source": "stdout", "time_nano": BASE_TS, "line": "x"}])
    pf = sorted(_glob.glob(f"{warehouse.spool_dir}/*/*.plog"))
    jf = sorted(_glob.glob(f"{warehouse.spool_dir}/*/*.jsonl"))
    got_p = read_spool_batch(spark, warehouse.spool_dir, None,
                             paths=pf).select("path").first()[0]
    got_j = read_jsonl_spool_batch(spark, warehouse.spool_dir, None,
                                   paths=jf).select("path").first()[0]
    assert got_p == pf[0], (got_p, pf[0])
    assert got_j == jf[0], (got_j, jf[0])

def test_multiplexed_ingest_128_containers_skewed(spark, warehouse):
    """SURVEY §7 watch-list #5 / VERDICT r12 #6: ONE multiplexed
    stream carries 128 containers with skewed arrival (one hot
    container, 127 cold ones) across two waves of spool files —
    per-container seqs must be contiguous from 1 with no cross-
    container bleed, the per-container file watermarks must all
    advance, and per-container retention on the skewed table keeps
    exactly the configured tail."""
    from logsqlite_spark.operators import retention as RET

    n_c = 128
    hot, cold = 40, 2
    writers = {f"c{i:03d}": SpoolWriter(warehouse.spool_dir, f"c{i:03d}")
               for i in range(n_c)}
    # wave 1: skewed — c000 hot, everyone else cold
    for cid, w in writers.items():
        n = hot if cid == "c000" else cold
        w.write_burst(_entries(BASE_TS, n))
    q = start_ingest_stream(
        spark, warehouse.spool_dir, warehouse.logs_dir,
        warehouse.state_dir, warehouse.checkpoints_dir + "/mux",
        LogConfig(message_read_timeout_ms=100))
    want1 = hot + (n_c - 1) * cold
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                if spark.read.parquet(warehouse.logs_dir).count() >= want1:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        # wave 2: a second file per container — seq must CONTINUE
        # from each container's own high-water, not a global one
        for cid, w in writers.items():
            w.write_burst(_entries(BASE_TS + 10**11, cold))
        want2 = want1 + n_c * cold
        deadline = time.time() + 180
        while time.time() < deadline:
            if spark.read.parquet(warehouse.logs_dir).count() >= want2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)

    logs = spark.read.parquet(warehouse.logs_dir)
    per = {r["container_id"]: (r["n"], r["lo"], r["hi"]) for r in
           logs.groupBy("container_id")
           .agg(F.count("*").alias("n"), F.min("seq").alias("lo"),
                F.max("seq").alias("hi")).collect()}
    assert len(per) == n_c
    for cid, (n, lo, hi) in per.items():
        want_n = (hot if cid == "c000" else cold) + cold
        assert (n, lo, hi) == (want_n, 1, want_n), (cid, n, lo, hi)
    # no duplicate seqs anywhere (contiguity + count already implies
    # it, but pin the distinct count explicitly)
    assert logs.select("container_id", "seq").distinct().count() == \
        logs.count()
    # every container's spool watermark advanced to its wave-2 file
    from logsqlite_spark.table import ManifestTable
    lf = ManifestTable(warehouse.logs_dir).manifest()["last_file"]
    assert len(lf) == n_c
    # per-container retention under skew: keep-last-3 on the hot
    # container leaves exactly its newest 3 rows, cold ones untouched
    RET.apply_retention(spark, warehouse.logs_dir, "c000",
                        LogConfig(cleanup_max_lines=3))
    live = ManifestTable(warehouse.logs_dir).read_df(spark)
    kept = live.filter("container_id = 'c000'")
    assert sorted(r["seq"] for r in kept.select("seq").collect()) == \
        [hot + cold - 2, hot + cold - 1, hot + cold]
    assert live.filter("container_id = 'c001'").count() == 2 * cold


def test_escaped_container_id_seq_and_watermark(spark, warehouse):
    """A container id containing Hive-escaped chars (':' -> %3A in
    the partition dir) must key watermarks under the RAW id: two
    consecutive pulls assign contiguous seqs, and the second pull
    must not re-ingest the first pull's (consumed=False) files."""
    cid = "web:frontend=a"  # ':' and '=' both in Spark's escape set
    w = SpoolWriter(warehouse.spool_dir, cid)
    w.write_burst(_entries(BASE_TS, 3))
    res1 = ingest_spool_once(spark, warehouse.spool_dir,
                             warehouse.logs_dir, warehouse.state_dir,
                             consume=False)
    assert res1["rows"] == 3
    assert res1["high_water"].get(cid) == 3, res1["high_water"]

    w.write_burst(_entries(BASE_TS + 10**10, 2))
    res2 = ingest_spool_once(spark, warehouse.spool_dir,
                             warehouse.logs_dir, warehouse.state_dir,
                             consume=False)
    assert res2["rows"] == 2  # the first file is stale, not re-read
    assert res2["high_water"].get(cid) == 5

    logs = spark.read.parquet(warehouse.logs_dir) \
        .filter(F.col("container_id") == cid).orderBy("seq").collect()
    assert [r["seq"] for r in logs] == [1, 2, 3, 4, 5]


def test_partition_value_escape_roundtrip():
    from logsqlite_spark.table import (
        escape_partition_value, unescape_partition_value)

    for raw in ("plain", "web:1", "a=b", "p%q", "x/y", "tab\tchar",
                "pct%3Aliteral", "brack[]{}^", "quote'\"#"):
        esc = escape_partition_value(raw)
        assert unescape_partition_value(esc) == raw
        # escaped form is filesystem-safe: no separator, no '='
        assert "/" not in esc and "=" not in esc
    # strict hex: int()'s sign/whitespace tolerance must not decode
    assert unescape_partition_value("a%+ab") == "a%+ab"
    assert unescape_partition_value("a% 1b") == "a% 1b"


def test_escaped_container_id_retention_compact_drop(spark, warehouse):
    """Retention, compaction, and drop must actually OPERATE on an
    escaped-cid container (review: their partition prefixes were
    still built from the raw id, silently no-opping for ':'-ids)."""
    from pathlib import Path

    from logsqlite_spark.config import LogConfig
    from logsqlite_spark.operators.compact import compact_container
    from logsqlite_spark.operators.retention import (
        apply_retention, drop_container)

    cid = "svc:worker"
    for i in range(4):  # 4 pulls -> 4 data files in one partition
        w = SpoolWriter(warehouse.spool_dir, cid)
        w.write_burst(_entries(BASE_TS + i * 10**9, 1))
        ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                          warehouse.state_dir)

    out = compact_container(spark, warehouse.logs_dir, cid, min_files=4)
    assert out["compacted_partitions"] == 1, out

    conf = LogConfig(cleanup_age_s=None, cleanup_max_lines=2)
    stats = apply_retention(spark, warehouse.logs_dir, cid, conf)
    assert stats["deleted_rows"] == 2, stats

    assert drop_container(warehouse.logs_dir, cid) is True
    esc_dir = Path(warehouse.logs_dir) / "container_id=svc%3Aworker"
    assert not esc_dir.exists()


def test_gzip_spool_files_ingest_with_contiguous_seq(spark, warehouse):
    """Rotated-shipper gzip spool files (.plog.gz) decode transparently
    and interleave with plain files under one contiguous seq stream."""
    w = SpoolWriter(warehouse.spool_dir, "cg")
    w.write_burst(_entries(BASE_TS, 2))
    w.write_burst(_entries(BASE_TS + 10**10, 3), compress=True)
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir)
    assert res["rows"] == 5 and res["decode_errors"] == 0
    logs = spark.read.parquet(warehouse.logs_dir) \
        .filter("container_id = 'cg'").orderBy("seq").collect()
    assert [r["seq"] for r in logs] == [1, 2, 3, 4, 5]
    assert logs[2]["line"] == f"line-{BASE_TS + 10**10}\n"


def test_corrupt_gzip_spool_file_quarantined(spark, warehouse):
    """A truncated/corrupt .gz file surfaces as ONE decode-error row
    (quarantine policy), never a silent drop or a crash."""
    from pathlib import Path

    d = Path(warehouse.spool_dir) / "cbadgz"
    d.mkdir(parents=True)
    (d / "00000000000000000001-000000.plog.gz").write_bytes(
        b"\x1f\x8b\x08\x00garbage-not-gzip")
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir)
    assert res.get("rows", 0) == 0
    assert res["decode_errors"] == 1


def test_gzip_jsonl_spool_ingest(spark, warehouse):
    """.jsonl.gz decodes via the Arrow gunzip path (the JSON field
    decode itself stays JVM-side via from_json)."""
    from logsqlite_spark.sources.jsonl import JsonlSpoolWriter

    w = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w.write_burst([{"source": "stdout", "time_nano": BASE_TS + i,
                    "line": f"j{i}"} for i in range(3)], compress=True)
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 3
    logs = spark.read.parquet(warehouse.logs_dir) \
        .filter("container_id = 'cj'").orderBy("seq").collect()
    assert [r["line"] for r in logs] == ["j0\n", "j1\n", "j2\n"]


def test_corrupt_gzip_jsonl_spool_file_quarantined(spark, warehouse):
    """fmt=jsonl mirror of the plog pin (ADVICE r13, medium): a corrupt
    .jsonl.gz through Spark's native json codec throws inside the
    Hadoop gunzip and fails the WHOLE pull — retried forever because
    the watermark never advances past it (a poison-pill stall).
    Through the Arrow gunzip quarantine it is ONE decode-error row;
    the good files in the same pull ingest normally and the next pull
    starts clean."""
    from pathlib import Path

    from logsqlite_spark.sources.jsonl import JsonlSpoolWriter

    w = JsonlSpoolWriter(warehouse.spool_dir, "cjbad")
    w.write_burst([{"source": "stdout", "time_nano": BASE_TS,
                    "line": "ok"}])
    d = Path(warehouse.spool_dir) / "cjbad"
    (d / "99999999999999999999-000000.jsonl.gz").write_bytes(
        b"\x1f\x8b\x08\x00garbage-not-gzip")
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 1 and res["decode_errors"] == 1
    logs = spark.read.parquet(warehouse.logs_dir) \
        .filter("container_id = 'cjbad'").collect()
    assert [r["line"] for r in logs] == ["ok\n"]
    # the corrupt file was consumed — the next pull is empty, not a retry
    res2 = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                             warehouse.state_dir, fmt="jsonl")
    assert res2.get("rows", 0) == 0 and res2.get("decode_errors", 0) == 0


def test_streaming_jsonl_ingest_mixed_plain_and_gz(spark, warehouse):
    """Plain .jsonl and .jsonl.gz must flow through ONE file source
    into one contiguous per-container seq stream, and a corrupt gz
    file must quarantine (one error row) instead of failing
    micro-batches forever.

    The single-source shape is load-bearing (round-15 stream-soak
    finding): two independently-checkpointed sources (native json for
    plain + binaryFile for gz) could deliver a container's files out
    of name order across micro-batches — the monotonicity guard then
    stale-quarantined the late file and its rows never reached the
    table."""
    from pathlib import Path

    from logsqlite_spark.sources.jsonl import JsonlSpoolWriter
    from logsqlite_spark.sources.jsonl import read_jsonl_spool_stream

    # structural pin: exactly ONE streaming file source
    sdf = read_jsonl_spool_stream(spark, warehouse.spool_dir)
    plan = sdf._jdf.queryExecution().logical().toString()
    assert plan.count("StreamingRelation") == 1, plan

    w = JsonlSpoolWriter(warehouse.spool_dir, "cjs")
    w.write_burst([{"source": "stdout", "time_nano": BASE_TS + i,
                    "line": f"p{i}"} for i in range(2)])
    w.write_burst([{"source": "stdout", "time_nano": BASE_TS + 10 + i,
                    "line": f"g{i}"} for i in range(3)], compress=True)
    (Path(warehouse.spool_dir) / "cjs"
     / "99999999999999999999-000000.jsonl.gz").write_bytes(
        b"\x1f\x8b\x08\x00garbage-not-gzip")
    q = start_ingest_stream(
        spark, warehouse.spool_dir, warehouse.logs_dir, warehouse.state_dir,
        warehouse.checkpoints_dir + "/jmux",
        LogConfig(message_read_timeout_ms=100), fmt="jsonl",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(warehouse.logs_dir).count() >= 5:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    logs = spark.read.parquet(warehouse.logs_dir) \
        .filter("container_id = 'cjs'").orderBy("seq").collect()
    assert [r["seq"] for r in logs] == [1, 2, 3, 4, 5]
    assert [r["line"] for r in logs] == \
        ["p0\n", "p1\n", "g0\n", "g1\n", "g2\n"]
    errs = spark.read.parquet(f"{warehouse.state_dir}/decode_errors")
    assert errs.filter("container_id = 'cjs'").count() == 1


def test_listed_commit_aborts_when_read_misses_a_listed_file(spark, warehouse):
    """Round-14 soak finding: the listed pull derives the file
    watermark from the driver's LISTING — if the Spark read somehow
    fails to cover a listed nonempty file, advancing the watermark
    over it is silent permanent loss. The commit must abort loudly
    (nothing committed, nothing consumed) instead."""
    import pytest as _pytest

    from logsqlite_spark.sources.spool import read_spool_batch
    from logsqlite_spark.streaming.ingest import _write_batch
    from logsqlite_spark.table import ManifestTable

    w = SpoolWriter(warehouse.spool_dir, "cgap")
    fa = w.write_burst(_entries(BASE_TS, 2))
    fb = w.write_burst(_entries(BASE_TS + 10**10, 3))
    # the read covers only file A, but the listing claims A and B
    decoded = read_spool_batch(spark, warehouse.spool_dir, None, paths=[fa])
    with _pytest.raises(RuntimeError, match="missing from the batch read"):
        _write_batch(decoded, warehouse.logs_dir, warehouse.state_dir,
                     "__pull__", None, 1_000_000,
                     on_stale="quarantine", listing=[fa, fb])
    assert not ManifestTable(warehouse.logs_dir).exists() \
        or ManifestTable(warehouse.logs_dir).manifest().get(
            "high_water", {}).get("cgap") is None
    # both files still in the spool for the retry
    import os as _os
    assert _os.path.exists(fa) and _os.path.exists(fb)
    # the honest pull then succeeds
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir)
    assert res["rows"] == 5


def test_short_content_read_fails_loudly():
    """Round-14 instrumentation: spool files are immutable once
    published, so content bytes shorter than the listing-time length
    mean the read pipeline served partial data — the decode must fail
    the task (pull retries) instead of decoding a byte-prefix."""
    import pyarrow as pa
    import pytest as _pytest

    from logsqlite_spark.sources.spool import _verify_content_lengths

    ok = pa.RecordBatch.from_arrays(
        [pa.array(["/s/c/a.plog"]), pa.array([4], pa.int64()),
         pa.array([b"xxxx"], pa.binary())],
        names=["path", "length", "content"])
    _verify_content_lengths(ok)  # exact match: fine

    short = pa.RecordBatch.from_arrays(
        [pa.array(["/s/c/a.plog"]), pa.array([9], pa.int64()),
         pa.array([b"xxxx"], pa.binary())],
        names=["path", "length", "content"])
    with _pytest.raises(IOError, match="short content read"):
        _verify_content_lengths(short)

    # schema variants without the length column pass through
    nolen = pa.RecordBatch.from_arrays(
        [pa.array(["/s/c/a.plog"]), pa.array([b"xxxx"], pa.binary())],
        names=["path", "content"])
    _verify_content_lengths(nolen)


def test_backlog_over_10k_files_drains_in_bounded_chunks(spark, tmp_path):
    """VERDICT r14 #5: a >10k-file spool backlog drains as a SEQUENCE
    of bounded exactly-once commits (max_files_per_pull per commit),
    so every driver-side per-file structure — the listing handed to a
    commit, the read-coverage guard's collect_set(path) observation,
    the staged-footer walk, the consume loop — is hard-bounded no
    matter how long the shipper outran the engine."""
    import glob
    import json as _json
    import os as _os
    import time as _time

    spool, logs, state = (str(tmp_path / "spool"), str(tmp_path / "logs"),
                          str(tmp_path / "state"))
    n_files, containers = 10_500, 3
    for ci in range(containers):
        d = tmp_path / "spool" / f"c{ci}"
        d.mkdir(parents=True)
        base = _time.time_ns()
        for i in range(n_files // containers):
            rec = _json.dumps({"n": 0, "source": "stdout",
                               "time_nano": BASE_TS + i * 10**9,
                               "line": f"c{ci}-f{i}"})
            (d / f"{base + i:020d}-{i:06d}.jsonl").write_text(rec + "\n")

    res = ingest_spool_once(spark, spool, logs, state, fmt="jsonl")
    assert res["chunks"] == 3          # ceil(10500 / 4096)
    assert res["rows"] == n_files and res["decode_errors"] == 0
    # every chunk committed and consumed its own files
    assert glob.glob(f"{spool}/*/*.jsonl") == []
    logs_df = spark.read.parquet(logs)
    per = (logs_df.groupBy("container_id")
           .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
                F.min("seq").alias("mn")).collect())
    assert len(per) == containers
    for r in per:
        # contiguous seq across chunk boundaries, no loss, no dup
        assert r["n"] == n_files // containers
        assert (r["mn"], r["mx"]) == (1, n_files // containers)


# --- r16 VERDICT #2: same-ms writer bursts vs stream delivery order ---

def test_writer_mtimes_strictly_increasing_same_ms_burst(warehouse):
    """FileStreamSource orders micro-batches by MS-granular file
    mtime with arbitrary tie-breaking (probed: 8 same-mtime files
    delivered 5,6,0,1,3,2,4,7) — a tie could deliver a newer-named
    file first and the monotonic-name guard would quarantine the
    older one's rows.  The writers therefore space mtimes: every
    spool file's ms-mtime is strictly greater than its container's
    previous one, including across writer restarts."""
    import os

    from logsqlite_spark.sources.jsonl import JsonlSpoolWriter

    w = SpoolWriter(warehouse.spool_dir, "cb")
    paths = [w.write_burst(_entries(BASE_TS + i, 1)) for i in range(6)]
    ms = [os.stat(p).st_mtime_ns // 1_000_000 for p in paths]
    assert all(b > a for a, b in zip(ms, ms[1:])), ms

    # writer restart: the fresh writer seeds from the newest file
    w2 = SpoolWriter(warehouse.spool_dir, "cb")
    p = w2.write_burst(_entries(BASE_TS + 99, 1))
    assert os.stat(p).st_mtime_ns // 1_000_000 > ms[-1]

    # jsonl writer too
    jw = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    jp = [jw.write_burst([{"source": "stdout",
                           "time_nano": BASE_TS + i, "line": "x"}])
          for i in range(4)]
    jms = [os.stat(p).st_mtime_ns // 1_000_000 for p in jp]
    assert all(b > a for a, b in zip(jms, jms[1:])), jms


def test_stream_ingests_tight_burst_without_quarantine(spark, warehouse):
    """End-to-end: many sub-ms write_burst calls, one mux stream —
    every row lands in the table in name order, nothing quarantined
    (pre-fix, a same-mtime tie delivered out of order would park a
    benign file's rows in out_of_order)."""
    import os

    w = SpoolWriter(warehouse.spool_dir, "ct")
    total = 0
    for i in range(12):  # tight loop: multiple files per wall-clock ms
        w.write_burst(_entries(BASE_TS + i * 10**9, 2))
        total += 2
    q = start_ingest_stream(
        spark, warehouse.spool_dir, warehouse.logs_dir,
        warehouse.state_dir, warehouse.checkpoints_dir + "/mux",
        LogConfig(message_read_timeout_ms=100),
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(warehouse.logs_dir).count() >= total:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    logs = spark.read.parquet(warehouse.logs_dir).filter(
        "container_id='ct'")
    got = sorted((r["seq"], r["line"]) for r in logs.collect())
    assert [s for s, _ in got] == list(range(1, total + 1))
    # name order == seq order (arrival order preserved)
    assert [ln for _, ln in got] == [
        f"line-{BASE_TS + i * 10**9 + j}\n"
        for i in range(12) for j in range(2)]
    assert not os.path.exists(f"{warehouse.state_dir}/out_of_order")
