"""Ingest pipeline (S4-S7): spool -> decode -> seq -> partitioned parquet.

ROWID parity (the §7 watch-list hard part): the reference gets arrival
order for free from SQLite's ROWID. Here ``seq`` is assigned as

    seq = high_water[container] + row_number() over (
              partition by container_id order by (path, frame_no))

inside each micro-batch, with high-water marks persisted atomically
alongside the data. Correctness rests on the same invariant the
reference has — ONE writer per container (one FIFO, one logger task;
logger.rs:242-272): spool files of one container are produced in
order, so (path, frame_no) is the arrival order, and batches are
processed in file order by the streaming source.

Exactly-once: data files, seq high-water marks, the per-container
spool-file watermark, and the per-stream batch id are committed in ONE
atomic manifest commit (table.py) — the transactionality the reference
gets from BEGIN/END TRANSACTION (logger.rs:155-219). A crash between
any two steps leaves only unreferenced staging files; replaying the
micro-batch (same epoch id) is detected inside the commit and skipped,
so plain parquet never degrades to at-least-once.

One commit path: every caller — a pull (one container or all of them)
and the multiplexed stream — hands its decoded batch to
``_write_batch``, which commits it in ONE Spark job: the staged write
carries an ``Observation`` of the counts and paths the commit needs,
and the per-container seq increments come from the staged footers.

Scale: the shuffle per micro-batch is one hash partition by
container_id (bounded by batch size, not table size); the parquet
append is partitioned (container_id, date) so downstream queries prune.
At 1000 executors the same code runs unchanged — micro-batch row_number
windows are per-container and AQE splits skew.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logsqlite_spark.config import LogConfig
from logsqlite_spark.sources.spool import read_spool_batch, read_spool_stream
from logsqlite_spark.table import ManifestTable, unescape_partition_value

DECODE_ERROR_SOURCE = "__decode_error__"

# Staging writes use FileOutputCommitter ALGORITHM 2 (r17, VERDICT r16
# #6, guide §6): v1 renames every task's output TWICE (task dir → job
# _temporary, then a sequential driver-side pass into the staging
# root) — measured as part of the 0.58 s partitioned-write term of
# ingest_100k_lines. v2 moves each file once, at task commit. The
# usual v2 caveat (a failed/speculative task can leave committed files
# behind) is NEUTRALIZED by this pipeline's own design: publication is
# the MANIFEST commit, not the filesystem — staged files move into the
# tree only after a fully-successful write job into a per-batch unique
# staging dir, and a failed job's staging dir is discarded wholesale,
# never moved (the crash-safety soaks exercise exactly this seam).
_COMMITTER_ALGO = "2"


def _staged_parquet_write(df: DataFrame, staging,
                          max_records_per_file: int) -> None:
    """The shared staging write: partitioned parquet under the
    committer algorithm above (the option is merged into the write
    job's Hadoop conf via newHadoopConfWithOptions)."""
    (df.write.mode("overwrite")
     .option("maxRecordsPerFile", max_records_per_file)
     .option("mapreduce.fileoutputcommitter.algorithm.version",
             _COMMITTER_ALGO)
     .partitionBy("container_id", "date")
     .parquet(str(staging)))

def assign_seq(decoded: DataFrame, high_water: dict[str, int]) -> DataFrame:
    """Turn decoded entries into the logs-table shape with seq assigned.

    Arrival order inside a batch = (path, frame_no); spool file names
    are zero-padded counters so lexicographic path order is write
    order. The window is per container — skew bounded by per-container
    batch volume.
    """
    # High-water lookup as a literal map expression, not a join: the map
    # is one entry per container (tiny), and a broadcast join here costs
    # a full BroadcastExchange per micro-batch. Fall back to a join only
    # past a size where literal expressions get unwieldy.
    hw_items = list(high_water.items())
    if not hw_items:
        hw_col = F.lit(0)
    elif len(hw_items) <= 10_000:
        pairs = []
        for cid, hw in hw_items:
            pairs += [F.lit(cid), F.lit(int(hw))]
        hw_col = F.coalesce(
            F.element_at(F.create_map(*pairs), F.col("container_id")),
            F.lit(0),
        )
    else:
        spark = decoded.sparkSession
        hw_df = spark.createDataFrame(hw_items, "container_id string, hw long")
        decoded = decoded.join(F.broadcast(hw_df), "container_id", "left")
        hw_col = F.coalesce(F.col("hw"), F.lit(0))

    w = Window.partitionBy("container_id").orderBy("path", "frame_no")
    return (
        decoded.filter(F.col("source") != DECODE_ERROR_SOURCE)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("seq", hw_col + F.col("__rn"))
        .withColumn("ts_nanos", F.col("time_nano"))
        .withColumn("ts", F.timestamp_micros(F.expr("time_nano div 1000")))
        .withColumn("date", F.to_date("ts"))
        .select("seq", "ts_nanos", "ts", "source", "line", "partial",
                "partial_meta", "container_id", "date")
    )

def _obs_or_agg(obs, df: DataFrame, aggs: list) -> dict:
    """Ride-along ``Observation`` metrics, with an exact fallback.

    Spark's CollectMetrics delivery on a FileFormatWriter action is
    not guaranteed: ``ObservationManager.tryComplete`` completes the
    observation with ``Row.empty`` whenever an execution's logical
    plan contains the CollectMetrics node but its runtime
    ``observedMetrics`` map came back without the entry (reproduced
    deterministically in this Spark build after an unrelated append
    on the same lineage).  When that happens, recompute the SAME
    aggregate expressions as one explicit tiny job — correct always,
    one job in the common case."""
    try:
        jrow = obs._jo.getRow()
        empty = jrow.length() == 0
    except Exception:  # noqa: BLE001 — any delivery failure: recompute
        empty = True
    if not empty:
        return obs.get
    return df.agg(*aggs).first().asDict()


def _norm_path(p: str) -> str:
    """Plain filesystem form of a spool path — pre-round-13 manifests
    stored the watermark in whatever URI spelling the source produced
    (binaryFile ``file:/x``, input_file_name ``file:///x``, both
    percent-encoded); the decode now emits plain paths, so stored
    watermarks normalize on read and the string compare stays
    consistent across upgrades.  Percent-decoding applies ONLY to the
    legacy URI spellings — a plain path may legitimately contain a
    literal ``%``."""
    import re
    import urllib.parse

    if re.match(r"^file:/+", p):
        return urllib.parse.unquote(re.sub(r"^file:/+", "/", p))
    return p


def _write_batch(batch_df: DataFrame, logs_dir: str, state_dir: str,
                 scope: str, batch_id: int | None,
                 max_records_per_file: int,
                 on_stale: str = "quarantine",
                 listing: list[str] | None = None) -> dict:
    """Assign seq and append one (micro-)batch; returns progress info.

    The one commit path: pulls (one container or all of them) and
    the multiplexed stream commit here, in ONE Spark job.  Decode → seq → staged write runs once, with an
    ``Observation`` riding the write that counts decode errors, good
    rows and stale rows and collects the set of (path, stale) pairs
    the batch read.  Everything else the commit needs is driver
    arithmetic:

    - seq increments: per-container row counts from the staged
      parquet FOOTERS — exact by construction (they count precisely
      the rows the commit publishes, immune to task-retry double
      counting);
    - file watermark: per container, the largest LIVE path any row
      came from (the container id is the path's parent directory, as
      the decode derives it);
    - ``listing``: the exact spool file list a pull read, used only
      by the read-coverage guard below.

    The append is exactly-once: rows land in the table's staging dir
    and, inside ONE manifest commit's critical section, move into the
    tree and become visible together with the seq high-water, spool
    watermark, and batch id. Replays abort inside that critical
    section, so a crash at any point here never duplicates rows.
    Rows of a container dropped since the batch was read stay out of
    the commit (``ManifestTable.commit_append``).  Every guard
    that fails aborts before the commit: nothing is consumed, no
    watermark moves, and the next pull (or the replayed micro-batch)
    retries the same files.
    """
    table = ManifestTable(logs_dir)
    st = table.import_existing()  # no-op once the manifest exists
    if batch_id is not None and batch_id <= st["batch_ids"].get(scope, -1):
        return {"skipped_replay": True, "batch_id": batch_id}

    # File-level idempotence: spool file names are monotonic per
    # container (single writer), so anything at or below the
    # last-consumed watermark is either a replay (batch re-pull,
    # checkpoint rebuild) or — the dangerous case — an externally
    # written file that VIOLATES name monotonicity and would otherwise
    # be silently confused with a replay and lost. Neither enters the
    # table, but ``on_stale="quarantine"`` (the default) parks the
    # rows in ``state_dir/out_of_order`` and surfaces counters, so a
    # misnamed file is an inspectable incident, not silent data loss.
    # ``on_stale="drop"`` is for callers that replay by design
    # (``consume=False`` batch re-pulls).
    # Hot-path guard: the common case (fresh table, or a steady stream
    # whose files are always new) has an EMPTY watermark map — skip the
    # __stale column entirely there: the flag is a literal false, which
    # Catalyst folds out of the aggregates and the live-row filter.
    last_file = {cid: _norm_path(v)
                 for cid, v in st.get("last_file", {}).items()}
    if last_file:
        pairs = []
        for cid, name in last_file.items():
            pairs += [F.lit(cid), F.lit(name)]
        lf_col = F.element_at(F.create_map(*pairs), F.col("container_id"))
        batch_df = batch_df.withColumn(
            "__stale", lf_col.isNotNull() & (F.col("path") <= lf_col))
        stale = F.col("__stale")
    else:
        stale = F.lit(False)
    live = ~stale
    is_err = F.col("source") == DECODE_ERROR_SOURCE

    # the path set is O(files-per-batch) on the driver: pulls hand at
    # most ``max_files_per_pull`` files, streams at most what one
    # trigger admits (maxBytesPerTrigger)
    aggs = [F.sum((is_err & live).cast("long")).alias("e"),
            F.sum((~is_err & live).cast("long")).alias("n"),
            F.sum(stale.cast("long")).alias("st"),
            F.collect_set(F.struct(F.col("path"), stale.alias("stale")))
            .alias("paths")]
    obs = Observation()
    staging = table.new_staging_dir()
    try:
        _staged_parquet_write(
            assign_seq(batch_df.observe(obs, *aggs).filter(live),
                       st["high_water"]),
            staging, max_records_per_file)
        row = _obs_or_agg(obs, batch_df, aggs)
        n_errors = int(row["e"] or 0)
        n_good = int(row["n"] or 0)
        n_stale = int(row["st"] or 0)
        paths = [(p["path"], bool(p["stale"])) for p in row["paths"] or []]

        # READ-COVERAGE GUARD (round-14 soak finding): a pull consumes
        # its whole listing after the commit, so every listed file must
        # have been read.  A nonempty spool file always decodes to >= 1
        # row (error sentinel included), so a listed nonempty file
        # absent from the rows' path set means the read dropped it:
        # committing would turn that into SILENT PERMANENT loss
        # (observed once under the kill soak).  Runs before the
        # empty-batch return, so a read that saw nothing of a nonempty
        # listing aborts too.
        if listing is not None:
            seen = {p for p, _ in paths}
            uncovered = [p for p in listing if p not in seen
                         and os.path.exists(p) and os.path.getsize(p) > 0
                         and not _is_blank_spool_file(p)]
            if uncovered:
                raise RuntimeError(
                    "listed spool files missing from the batch read "
                    f"({len(uncovered)}/{len(listing)}): {uncovered[:5]}"
                    " — aborting the commit so no watermark advances "
                    "past unread data; the next pull retries them")
        if not (n_errors or n_good or n_stale):
            # empty batch: no commit, no batch-id consumption
            return {"rows": 0, "decode_errors": 0, "batch_id": batch_id}

        increments: dict[str, int] = {}
        file_rows: dict[str, int] = {}
        for f in staging.rglob("*.parquet"):
            # staged dirs carry Spark's Hive-escaped cid (':' -> %3A …);
            # watermark keys must be the RAW cid assign_seq looks up
            rel = f.relative_to(staging)
            cid = unescape_partition_value(rel.parts[0].split("=", 1)[1])
            n = file_rows[str(rel)] = _parquet_num_rows(str(f))
            increments[cid] = increments.get(cid, 0) + n
        increments = {c: n for c, n in increments.items() if n}
        n_rows = sum(increments.values())
        # WRITE-COVERAGE GUARD (same soak finding, other side): if the
        # write persisted fewer rows than the read produced, committing
        # would lose the difference silently.
        if n_rows != n_good:
            raise RuntimeError(
                f"staged parquet rows ({n_rows}) != rows read "
                f"({n_good}) — aborting the commit")

        # Quarantine writes go through the staged-rename helper, NOT a
        # direct .mode("append") into the shared dir (round-15
        # stream-soak finding): two concurrent streams appending into
        # the same path share Hadoop's job-staging dir
        # `<dir>/_temporary/0`, and whichever job commits first deletes
        # it under the other.  Each re-scans the batch and is
        # count-verified against the write job.
        if n_stale and on_stale == "quarantine":
            _quarantine_write(
                batch_df.filter(stale)
                .select("path", "container_id", "frame_no", "source",
                        "time_nano", "line"),
                str(Path(state_dir) / "out_of_order"), n_stale,
                "out-of-order")
        if n_errors:
            # T4 policy: corrupt frames never poison the stream — the
            # good prefix of the file was kept (decode stops at the bad
            # frame, like the reference restarting on DecodeError), and
            # the error row is quarantined for ops visibility.
            _quarantine_write(
                batch_df.filter(is_err & live)
                .select("path", "container_id", "line"),
                str(Path(state_dir) / "decode_errors"), n_errors,
                "decode-error")
        top_files: dict[str, str] = {}
        for p, is_stale in paths:
            cid = os.path.basename(os.path.dirname(p))
            if not is_stale and p > top_files.get(cid, ""):
                top_files[cid] = p
        # the staged files move into the tree inside the commit's
        # critical section, which also leaves out the rows of a
        # container dropped since this batch was read
        committed = table.commit_append(sorted(file_rows), scope, batch_id,
                                        increments, top_files,
                                        staging=staging)
    finally:
        # every abort above leaves nothing in the table's data tree
        shutil.rmtree(staging, ignore_errors=True)
    if committed is None:  # concurrent replay won the commit
        return {"skipped_replay": True, "batch_id": batch_id}
    new_files = committed["appended"]
    return {
        "rows": sum(file_rows[f] for f in new_files),
        "decode_errors": n_errors,
        "out_of_order_rows": n_stale if on_stale == "quarantine" else 0,
        "batch_id": batch_id,
        "high_water": dict(committed["high_water"]),
        "new_files": new_files,
    }


def _quarantine_write(df: DataFrame, outdir: str, expected: int,
                      what: str) -> None:
    """Divergence-guarded quarantine append (round-14 soak finding).

    The quarantine is a RE-SCAN of the batch source, and a
    re-execution can legitimately see different data than the write
    job's first pass did: the soak caught a pull whose first execution
    misread a fresh spool file into an error sentinel while the
    quarantine re-scan read it clean — the sentinel vanished from the
    quarantine and the row was silently lost under an advanced
    watermark.  An ``Observation`` rides this write and the row count
    must equal what the FIRST execution counted; a mismatch aborts the
    whole commit (nothing consumed, no watermark moves), so the next
    pull re-reads the file — which, in the misread direction, is
    exactly what saves the row.  The rows land in a temp subdir and
    move in only on a matching count, so an aborted attempt never
    pollutes the quarantine (out_of_order rows are re-ingestable; a
    duplicate there would mislead).  Collecting the rows through the
    observation instead would be exact-by-construction but unbounded
    driver memory under a corrupt-flood (one error row per garbage
    jsonl line); this stays distributed and O(1) on the driver."""
    import uuid

    tmp = os.path.join(outdir, f"_inflight-{uuid.uuid4().hex}")
    obs = Observation()
    cnt = [F.count(F.lit(1)).alias("n")]
    (df.observe(obs, *cnt).write.mode("overwrite").parquet(tmp))
    got = int(_obs_or_agg(obs, df, cnt)["n"] or 0)
    if got != expected:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"{what} quarantine re-scan saw {got} rows but the write "
            f"job counted {expected} — the source read diverged "
            "between executions; aborting the commit so nothing is "
            "consumed and the next pull re-reads the files")
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            os.rename(os.path.join(tmp, name),
                      os.path.join(outdir, f"{uuid.uuid4().hex}-{name}"))
    shutil.rmtree(tmp, ignore_errors=True)


def _parquet_num_rows(path: str) -> int:
    """Footer-only row count (no column data read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _is_blank_spool_file(path: str) -> bool:
    """True iff the file's decoded content is whitespace-only.

    The read-coverage guard's premise — "a listed nonempty file always
    decodes to >= 1 row" — has exactly one counterexample: a .jsonl(.gz)
    file containing only blank lines, which Spark's json reader (and the
    gz split path) skips entirely (round-15 ADVICE: the repo's own
    ``JsonlSpoolWriter.write_burst([])`` produces such a 1-byte file,
    and one of them permanently blocked every multi-container pull).
    Such a file carries zero rows by design, so treat it as covered.
    Only called for the rare listed-but-unseen candidates, driver-side;
    an unreadable/corrupt-gz file returns False (a corrupt gz always
    yields a decode-error sentinel row, so it is in the seen set and
    never reaches this check)."""
    import gzip

    try:
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as fh:
            while True:
                chunk = fh.read(1 << 16)
                if not chunk:
                    return True
                if chunk.translate(None, b" \t\r\n\f\v"):
                    return False
    except OSError:
        return False


def ingest_spool_once(spark: SparkSession, spool_dir: str, logs_dir: str,
                      state_dir: str, container_id: str | None = None,
                      max_records_per_file: int = 1_000_000,
                      consume: bool = True, fmt: str = "plog",
                      max_files_per_pull: int = 4096) -> dict:
    """Batch ingest: drain what's in the spool now (one 'transaction').

    ``consume=True`` removes processed spool files afterwards — FIFO
    semantics; batch mode's equivalent of the stream checkpoint.
    ``fmt``: 'plog' (length-prefixed protobuf) or 'jsonl' (JVM-native
    decode — the faster path when the shipper can emit JSON lines).

    ``max_files_per_pull`` (VERDICT r14 #5): a backlogged spool (a
    shipper that ran for days while the engine was down) is drained as
    a SEQUENCE of bounded exactly-once commits instead of one monster
    batch.  Each chunk commits and (with ``consume``) deletes its
    files before the next starts, so a crash mid-backlog loses no
    progress, and every driver-side per-file structure — the listing
    itself, the commit's observed path set, the staged-footer walk,
    the consume loop — is hard-
    bounded at ``max_files_per_pull`` entries regardless of backlog
    size.  Files sort per-container within the global listing, so
    chunk boundaries preserve per-container arrival order and the
    watermark advances monotonically across chunks.
    """
    # List the spool on the driver (the spool is posix-visible by
    # nature — it's where the FIFO tailer writes) and hand the exact
    # file list to Spark. One listing serves four jobs: the
    # empty-spool fast path (no Py4J PATH_NOT_FOUND stack spew), the
    # read itself, the commit's read-coverage guard, and the
    # post-commit consume deletion — files landing mid-ingest are
    # simply left for the next pull, never deleted unread.
    import glob as _glob

    ext = "jsonl" if fmt == "jsonl" else "plog"
    # *.{ext}* also lists rotated-shipper .gz files; in-flight tmp
    # files are dot-prefixed and never match
    files = sorted(_glob.glob(f"{spool_dir}/{container_id or '*'}/*.{ext}*"))
    if not files:
        return {"rows": 0}
    # many-container pulls: stat the explicit path list on the DRIVER
    # (session.py sets this too; re-assert for harness-built sessions —
    # past 32 paths the default spins up a distributed listing job
    # whose scheduling dwarfs 100 local stat calls)
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")

    def one_chunk(chunk: list[str]) -> dict:
        if fmt == "jsonl":
            from logsqlite_spark.sources.jsonl import read_jsonl_spool_batch

            decoded = read_jsonl_spool_batch(spark, spool_dir, container_id,
                                             paths=chunk)
        else:
            decoded = read_spool_batch(spark, spool_dir, container_id,
                                       paths=chunk)
        # consume=True deletes what it reads, so a stale-named file
        # later is a real monotonicity violation -> quarantine it.
        # consume=False re-reads consumed files by design -> silently
        # drop the replays.
        res = _write_batch(decoded, logs_dir, state_dir, "__pull__", None,
                           max_records_per_file,
                           on_stale="quarantine" if consume else "drop",
                           listing=chunk)
        if consume:
            for fp in chunk:
                if os.path.exists(fp):
                    os.remove(fp)
        return res

    if len(files) <= max_files_per_pull:
        return one_chunk(files)
    # Chunked merge is a SUPERSET of the single-chunk dict (ADVICE
    # r15): counters sum, dict/list payloads merge/extend, booleans
    # OR (e.g. a replay-skipped chunk still surfaces as
    # skipped_replay=True), and batch_id carries the LAST chunk's
    # value instead of a hardcoded None — so callers see the same
    # shape whether the backlog fit in one commit or thirty.
    total: dict = {"rows": 0, "decode_errors": 0, "out_of_order_rows": 0,
                   "batch_id": None, "high_water": {}, "new_files": [],
                   "chunks": 0}
    for i in range(0, len(files), max_files_per_pull):
        res = one_chunk(files[i:i + max_files_per_pull])
        total["chunks"] += 1
        for k, v in res.items():
            if k == "batch_id":
                total[k] = v
            elif isinstance(v, dict):
                merged = dict(total.get(k) or {})
                merged.update(v)
                total[k] = merged
            elif isinstance(v, list):
                total[k] = list(total.get(k) or []) + v
            elif isinstance(v, bool):
                total[k] = bool(total.get(k, False)) or v
            elif isinstance(v, (int, float)):
                total[k] = total.get(k, 0) + v
            else:
                total[k] = v
    return total

def start_ingest_stream(
    spark: SparkSession,
    spool_dir: str,
    logs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    conf: LogConfig | None = None,
    query_name: str = "logsqlite-ingest",
    fmt: str = "plog",
    on_batch_result=None,
):
    """S4/S5: the continuous ingest StreamingQuery — ONE multiplexed
    stream over every container's spool subdir (SURVEY §7.5; the path
    carries container_id). Exactly-once holds per container because
    each micro-batch commits through one epoch-keyed manifest commit,
    and a container whose subdir appears after the start is listed on
    the next trigger. The stream's ``query_name`` is its batch-id
    scope in the manifest; give concurrent streams distinct names.

    LogConfig mapping (config.rs:175-177 -> Spark):
    - message_read_timeout  -> trigger processingTime (burst window)
    - max_size_per_tx       -> maxBytesPerTrigger (batch size cap)
    - commit visibility     -> micro-batch commit (free)
    """
    conf = conf or LogConfig()
    if fmt == "jsonl":
        from logsqlite_spark.sources.jsonl import read_jsonl_spool_stream

        decoded = read_jsonl_spool_stream(
            spark, spool_dir, max_bytes_per_trigger=conf.max_size_per_tx)
    else:
        decoded = read_spool_stream(spark, spool_dir,
                                    max_bytes_per_trigger=conf.max_size_per_tx)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = _write_batch(batch_df, logs_dir, state_dir, query_name,
                           batch_id,
                           max_records_per_file=max(conf.max_lines_per_tx, 1))
        # Observed AFTER the manifest commit, so a hook (the
        # follow_live fan-out) never sees an uncommitted batch.
        if on_batch_result is not None:
            on_batch_result(res)

    trigger_ms = max(conf.message_read_timeout_ms, 100)
    return (
        decoded.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )

def ingest_throughput(query) -> float | None:
    """S7: lines/s of the last committed micro-batch (logger.rs:187-196
    logged the same per transaction)."""
    p = query.lastProgress
    if not p:
        return None
    return p.get("processedRowsPerSecond") if isinstance(p, dict) else None
