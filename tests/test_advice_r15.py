"""Round-15 ADVICE regression pins.

1. (high) a whitespace-only .jsonl spool file — e.g. the repo's own
   ``JsonlSpoolWriter.write_burst([])`` — decodes to ZERO rows, which
   used to trip the read-coverage guard and permanently block every
   multi-container batch pull (ingest.py:529).
2. (high) spool paths containing URI-escaped characters (space, %,
   non-ASCII) came back percent-encoded from input_file_name()/
   binaryFile while the listing held raw driver paths, so every file
   looked uncovered and pulls failed forever (spool.py/jsonl.py path
   normalization).
3. (low) _av_video_stats on an audio-only mp4 raised IndexError
   instead of the documented NotImplementedError contract.
4. (low) apply_retention's CommitConflict returns discarded the
   dropped-partition count accumulated in the conflicted pass.
"""

import pytest
from pyspark.sql import functions as F

from logsqlite_spark.sources.frames import LogEntry
from logsqlite_spark.sources.jsonl import JsonlSpoolWriter
from logsqlite_spark.sources.spool import SpoolWriter
from logsqlite_spark.streaming.ingest import ingest_spool_once

BASE_TS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z
DAY = 86_400 * 10**9


def _jrecs(start_ts, n, source="stdout"):
    return [{"source": source, "time_nano": start_ts + i * 10**9,
             "line": f"line-{start_ts + i}"} for i in range(n)]


def _entries(start_ts, n, source="stdout"):
    return [LogEntry(source=source, time_nano=start_ts + i * 10**9,
                     line=f"line-{start_ts + i}".encode())
            for i in range(n)]


# --- 1: blank jsonl files must not trip the coverage guard ----------

@pytest.mark.parametrize("compress", [False, True])
def test_blank_jsonl_file_does_not_block_pull(spark, tmp_path, compress):
    spool, logs, state = (str(tmp_path / "spool"), str(tmp_path / "logs"),
                          str(tmp_path / "state"))
    w1 = JsonlSpoolWriter(spool, "c1")
    w2 = JsonlSpoolWriter(spool, "c2")
    w1.write_burst(_jrecs(BASE_TS, 3))
    w1.write_burst([], compress=compress)     # whitespace-only file
    w2.write_burst(_jrecs(BASE_TS, 2))

    res = ingest_spool_once(spark, spool, logs, state, fmt="jsonl")
    assert res["rows"] == 5 and res["decode_errors"] == 0

    # the blank file is consumed and the pull keeps working afterwards
    w1.write_burst(_jrecs(BASE_TS + 10**10, 2))
    res2 = ingest_spool_once(spark, spool, logs, state, fmt="jsonl")
    assert res2["rows"] == 2
    c1 = (spark.read.parquet(logs).filter("container_id = 'c1'")
          .orderBy("seq").collect())
    assert [r["seq"] for r in c1] == [1, 2, 3, 4, 5]


# --- 2: URI-escaped characters in spool paths ------------------------

ODD_DIR = "w h%2+q"  # space (%20 in URI), literal %, literal +


@pytest.mark.parametrize("fmt", ["plog", "jsonl"])
def test_escaped_spool_path_chars_pull(spark, tmp_path, fmt):
    wh = tmp_path / ODD_DIR
    spool, logs, state = (str(wh / "spool"), str(wh / "logs"),
                          str(wh / "state"))
    if fmt == "jsonl":
        w1, w2 = JsonlSpoolWriter(spool, "c1"), JsonlSpoolWriter(spool, "c2")
        w1.write_burst(_jrecs(BASE_TS, 3))
        w2.write_burst(_jrecs(BASE_TS, 2), compress=True)
    else:
        w1, w2 = SpoolWriter(spool, "c1"), SpoolWriter(spool, "c2")
        w1.write_burst(_entries(BASE_TS, 3))
        w2.write_burst(_entries(BASE_TS, 2))

    # multi-container pull: the read-coverage guard checks its listing
    res = ingest_spool_once(spark, spool, logs, state, fmt=fmt)
    assert res["rows"] == 5 and res["decode_errors"] == 0

    # watermark/stale compares also ride the decoded path column:
    # a second pull with fresh files must continue the seq, not
    # quarantine or re-ingest
    w1.write_burst(_jrecs(BASE_TS + 10**10, 2) if fmt == "jsonl"
                   else _entries(BASE_TS + 10**10, 2))
    res2 = ingest_spool_once(spark, spool, logs, state, fmt=fmt)
    assert res2["rows"] == 2 and res2.get("out_of_order_rows", 0) == 0

    logs_df = spark.read.parquet(logs)
    c1 = logs_df.filter("container_id = 'c1'").orderBy("seq").collect()
    assert [r["seq"] for r in c1] == [1, 2, 3, 4, 5]
    # container_id derives from the DECODED path (no %xx residue)
    cids = {r["container_id"] for r in logs_df.select("container_id")
            .distinct().collect()}
    assert cids == {"c1", "c2"}
    if fmt == "jsonl":
        # the decoded path column equals the raw driver-side path form
        from logsqlite_spark.sources.jsonl import read_jsonl_spool_batch

        w1.write_burst(_jrecs(BASE_TS, 1))
        p = (read_jsonl_spool_batch(spark, spool)
             .select("path").limit(1).collect()[0]["path"])
        assert ODD_DIR in p and "%20" not in p and "%25" not in p


# --- 3: audio-only mp4 keeps the NotImplementedError contract --------

def test_av_video_stats_audio_only_mp4(tmp_path):
    av = pytest.importorskip("av")
    import io

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as c:
        s = c.add_stream("aac", rate=48000)
        import numpy as np

        frame = av.AudioFrame.from_ndarray(
            np.zeros((1, 1024), dtype="s16"), format="s16", layout="mono")
        frame.sample_rate = 48000
        for pkt in s.encode(frame):
            c.mux(pkt)
        for pkt in s.encode(None):
            c.mux(pkt)
    from logsqlite_spark.operators.multimodal import _av_video_stats

    with pytest.raises(NotImplementedError, match="no video stream"):
        _av_video_stats(buf.getvalue())


# --- 4: conflicted retention pass reports the attempted drops --------

def test_retention_conflict_reports_attempted_drops(spark, tmp_path):
    from logsqlite_spark.config import LogConfig
    from logsqlite_spark.operators.retention import apply_retention
    from logsqlite_spark.table import ManifestTable

    spool, logs, state = (str(tmp_path / "spool"), str(tmp_path / "logs"),
                          str(tmp_path / "state"))
    w = SpoolWriter(spool, "c1")
    w.write_burst(_entries(BASE_TS, 3))              # day 1 (all old)
    ingest_spool_once(spark, spool, logs, state)
    w.write_burst(_entries(BASE_TS + DAY, 2))        # day 2, 00:00 (old)
    ingest_spool_once(spark, spool, logs, state)
    w.write_burst(_entries(BASE_TS + DAY + 12 * 3600 * 10**9, 2))  # kept
    ingest_spool_once(spark, spool, logs, state)

    t = ManifestTable(logs)
    orig = ManifestTable.commit_replace
    calls = {"n": 0}

    def racing_commit(self, removed, new_files):
        if calls["n"] == 0:
            calls["n"] += 1
            victim = t.manifest()["files"][0]
            orig(t, [victim], [])        # concurrent rewrite wins
        return orig(self, removed, new_files)

    import logsqlite_spark.table as TBL
    now = BASE_TS + DAY + 18 * 3600 * 10**9
    try:
        TBL.ManifestTable.commit_replace = racing_commit
        res = apply_retention(
            spark, logs, "c1", LogConfig(cleanup_age_s=10 * 3600),
            now_nanos=now)
    finally:
        TBL.ManifestTable.commit_replace = orig
    assert res.get("conflict") is True
    # day-1 partition drop was attempted in this pass — reported, even
    # though the conflicted commit published nothing
    assert res["dropped_partitions"] >= 1
    assert res["deleted_rows"] == 0 and res["rewritten_partitions"] == 0
