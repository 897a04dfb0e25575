"""Retention — the cleaner (SURVEY.md §2.2 P7-P9, A2; /root/reference/src/cleaner.rs).

Reference semantics, pinned from cleaner.rs:46-131:

- keep-last-N boundary: ``boundary = ROWID at OFFSET max(count - N, 0)``
  over the *unfiltered* table, then ``DELETE ... ROWID < boundary`` —
  strict ``<``, so the boundary row itself survives and exactly
  ``min(count, N)`` rows remain.
- age: ``DELETE ... ts < now - cleanup_age`` — strict ``<``, rows with
  ``ts == cutoff`` survive.
- both: one pass, ``DELETE WHERE ts < cutoff OR ROWID < boundary``.

Spark has no row-level DELETE on plain parquet, and at 100 TB you do not
want one: the physical job is (a) drop whole ``date`` partitions whose
max ts is below the cutoff — a metadata-only operation, zero data read —
and (b) rewrite only the boundary partitions, filtered to survivors.
The survivor predicate itself is expressed once, logically, and reused
by both the logical API (``retention_survivors``) and the physical
rewrite (``apply_retention``).

Commit protocol: partition drops and boundary rewrites are published
as ONE manifest commit (table.py) — concurrent readers hold a
consistent snapshot and never observe a half-rewritten partition (the
round-1 rename-swap could transiently 404 them), and files appended
concurrently by the ingest stream are preserved because the commit
re-applies against the freshest manifest. Retired files are physically
deleted later by ``ManifestTable.gc`` on the cleaner cadence.
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logsqlite_spark.config import LogConfig
from logsqlite_spark.table import (CommitConflict, ManifestTable,
                                   escape_partition_value,
                                   unescape_partition_value)

def retention_survivors(
    logs: DataFrame,
    now_nanos: int | None = None,
    cleanup_age_s: int | None = None,
    cleanup_max_lines: int | None = None,
    ts_col: str = "ts_nanos",
    seq_col: str = "seq",
    container_col: str = "container_id",
) -> DataFrame:
    """Rows that survive a cleanup pass (logical view of P7-P9).

    Delete = ``ts < cutoff OR rank_from_end >= N`` per container, so
    survive = ``ts >= cutoff AND rank_from_end <= N`` — the exact
    complement of cleaner.rs:97-127 including the boundary row's
    survival (row_number() == N corresponds to the OFFSET row, which the
    strict ``ROWID <`` keeps).
    """
    df = logs
    if cleanup_max_lines is not None:
        w = Window.partitionBy(container_col).orderBy(F.col(seq_col).desc())
        df = (
            df.withColumn("__rank_from_end", F.row_number().over(w))
            .filter(F.col("__rank_from_end") <= int(cleanup_max_lines))
            .drop("__rank_from_end")
        )
    if cleanup_age_s is not None:
        if now_nanos is None:
            now_nanos = int(datetime.now(timezone.utc).timestamp() * 1e9)
        cutoff = int(now_nanos) - int(cleanup_age_s) * 1_000_000_000
        df = df.filter(F.col(ts_col) >= F.lit(cutoff))
    return df

def apply_retention(
    spark: SparkSession,
    logs_dir: str,
    container_id: str,
    conf: LogConfig,
    now_nanos: int | None = None,
) -> dict:
    """Physical cleanup of one container's live file set.

    Strategy (scale-first):
    1. Partition-prune to ``container_id=<id>`` — other containers are
       never touched (the reference's per-database isolation).
    2. Age limit: ``date`` partitions entirely older than the cutoff
       date are dropped from the manifest without reading a byte
       (metadata-only == the reference's O(1) ``rm dbfile``); only the
       boundary date needs a filtered rewrite.
    3. Max-lines limit: compute the boundary seq with a count + top-k
       (the reference's count + OFFSET probe, cleaner.rs:46-74, as one
       distributed agg), then rewrite only partitions containing rows
       below it — all affected partitions in ONE spark write.
    The whole pass publishes as one manifest commit; retired files
    remain on disk for in-flight readers until ``gc``.
    """
    empty = {"dropped_partitions": 0, "rewritten_partitions": 0,
             "deleted_rows": 0}

    def conflict(dropped: int) -> dict:
        # carry the work ATTEMPTED in the conflicted pass (the commit
        # itself published nothing) so run_cleanup's per-container
        # report doesn't read as a no-op — reporting only, no data
        # impact (round-15 ADVICE)
        return {**empty, "dropped_partitions": dropped, "conflict": True}
    if conf.cleanup_age_s is None and conf.cleanup_max_lines is None:
        return empty

    table = ManifestTable(logs_dir)
    manifest = table.import_existing()
    prefix = f"container_id={escape_partition_value(container_id)}/"
    by_date: dict[str, list[str]] = {}
    for f in manifest["files"]:
        if f.startswith(prefix):
            by_date.setdefault(f.split("/")[1].split("=", 1)[1], []).append(f)
    if not by_date:
        return empty

    if now_nanos is None:
        now_nanos = int(datetime.now(timezone.utc).timestamp() * 1e9)

    cutoff_nanos = None
    if conf.cleanup_age_s is not None:
        cutoff_nanos = int(now_nanos) - conf.cleanup_age_s * 1_000_000_000

    # --- step 2: metadata-only partition drops for the age limit ---
    dropped = 0
    removed: list[str] = []
    if cutoff_nanos is not None:
        cutoff_date = datetime.fromtimestamp(
            cutoff_nanos / 1e9, tz=timezone.utc
        ).date()
        for d in sorted(by_date):
            if datetime.strptime(d, "%Y-%m-%d").date() < cutoff_date:
                removed += by_date.pop(d)
                dropped += 1

    if not by_date:
        if removed:
            # even a metadata-only drop conflicts if a concurrent
            # rewrite took one of its files: the rows it meant to
            # delete live on in the rewrite's output, so dropping the
            # remaining stale names would under-delete silently.
            # Skip; the next cadence pass sees the fresh layout.
            try:
                table.commit_replace(removed, [])
            except CommitConflict:
                return conflict(dropped)
        return {**empty, "dropped_partitions": dropped}

    remaining = [str(Path(logs_dir) / f) for fs in by_date.values() for f in fs]

    def read_remaining() -> DataFrame:
        # Explicit file list + basePath: partition pruning by
        # construction, partition columns stay in scope.
        return spark.read.option("basePath", logs_dir).parquet(*remaining)

    # --- boundary seq for max-lines (count + top-k, one pass) ---
    boundary_seq = None
    if conf.cleanup_max_lines is not None:
        n = int(conf.cleanup_max_lines)
        df = read_remaining()
        total = df.count()
        if total > n:
            # seq of the first kept row == the (count-N)-th row 0-indexed
            # == the N-th largest seq. Distributed top-k, tiny result.
            kept_min = (
                df.select("seq").orderBy(F.col("seq").desc()).limit(n)
                .agg(F.min("seq").alias("m")).collect()[0]["m"]
            )
            boundary_seq = kept_min

    cond_del = F.lit(False)
    if cutoff_nanos is not None:
        cond_del = cond_del | (F.col("ts_nanos") < F.lit(cutoff_nanos))
    if boundary_seq is not None:
        cond_del = cond_del | (F.col("seq") < F.lit(int(boundary_seq)))

    df = read_remaining()
    dcol = F.col("date").cast("string")
    # per-date delete/keep counts in ONE aggregation (parquet stats make
    # the scan cheap; only boundary partitions have mixed counts)
    per_date = (
        df.groupBy(dcol.alias("d"))
        .agg(F.sum(cond_del.cast("long")).alias("del_n"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected = {r["d"]: (r["del_n"], r["n"]) for r in per_date if r["del_n"]}
    if not affected:
        if removed:
            try:
                table.commit_replace(removed, [])
            except CommitConflict:
                return conflict(dropped)
        return {**empty, "dropped_partitions": dropped}

    deleted_rows = int(sum(d for d, _ in affected.values()))
    rewrite_dates = sorted(d for d, (dn, n) in affected.items() if dn < n)
    dropped += sum(1 for dn, n in affected.values() if dn == n)

    new_files: list[str] = []
    if rewrite_dates:
        # ONE write for every affected partition's survivors
        staging = table.new_staging_dir()
        (
            df.filter(dcol.isin(rewrite_dates)).filter(~cond_del)
            .write.mode("overwrite")
            .partitionBy("container_id", "date")
            .parquet(str(staging))
        )
        new_files = table.adopt_staged(staging)
    for d in affected:
        removed += by_date[d]
    try:
        table.commit_replace(removed, new_files)
    except CommitConflict:
        # survivors were computed from a snapshot a concurrent rewrite
        # (compaction, another cleaner) has invalidated — publishing
        # would resurrect deleted rows / duplicate surviving ones
        # (round-14 soak finding).  The staged rewrite is unreferenced
        # (gc reclaims it); the next cadence pass recomputes.
        return conflict(dropped)

    return {
        "dropped_partitions": dropped,
        "rewritten_partitions": len(rewrite_dates),
        "deleted_rows": deleted_rows,
    }

def drop_container(logs_dir: str, container_id: str) -> bool:
    """``delete_when_stopped`` — the reference deletes the SQLite file
    (statehandler.rs:176-181); here we drop every manifest reference to
    the container (O(1) metadata) and reclaim the bytes immediately —
    see ``ManifestTable.drop_container``.  True if the container had
    referenced files or a partition dir."""
    root = (Path(logs_dir)
            / f"container_id={escape_partition_value(container_id)}")
    had_dir = root.exists()
    table = ManifestTable(logs_dir)
    dropped = 0
    if table.exists() or Path(logs_dir).exists():
        table.import_existing()
        dropped = table.drop_container(container_id)
    return had_dir or dropped > 0


def erase_matching(
    spark: SparkSession,
    logs_dir: str,
    predicate_sql: str,
    container_id: str | None = None,
    _retries: int = 3,
) -> dict:
    """Targeted erasure of every row matching ``predicate_sql`` — the
    right-to-be-forgotten path (delete by user/source/content, not by
    age). Strategy mirrors :func:`apply_retention`:

    1. Optional partition-prune to one container; otherwise all live
       files are in scope (erasure predicates usually aren't aligned
       with partitions — that's exactly why this operator exists).
    2. ONE aggregation finds the per-(container, date) match counts.
       Parquet footer stats + predicate pushdown make this the cheap
       pass; partitions with zero matches keep their files
       byte-identical — never rewritten, never even re-read by step 3.
    3. Fully-matching partitions drop from the manifest metadata-only;
       mixed partitions get ONE filtered rewrite (all of them in a
       single spark write).
    4. Everything publishes as ONE manifest commit — concurrent
       readers keep their snapshot until ``gc``.

    At 100 TB the cost is: one stats-assisted scan + a rewrite of only
    the partitions that actually contain the subject's rows.
    """

    table = ManifestTable(logs_dir)
    manifest = table.import_existing()
    by_part: dict[tuple[str, str], list[str]] = {}
    for f in manifest["files"]:
        parts = f.split("/")
        # partition-dir values are URI-escaped by Spark (a container id
        # "a:b" lives under container_id=a%3Ab); unescape so the keys
        # match the DataFrame values the counting pass groups by
        c = unescape_partition_value(parts[0].split("=", 1)[1])
        d = unescape_partition_value(parts[1].split("=", 1)[1])
        if container_id is not None and c != container_id:
            continue
        by_part.setdefault((c, d), []).append(f)
    empty = {"dropped_partitions": 0, "rewritten_partitions": 0,
             "deleted_rows": 0}
    if not by_part:
        return empty

    paths = [str(Path(logs_dir) / f) for fs in by_part.values() for f in fs]
    df = spark.read.option("basePath", logs_dir).parquet(*paths)
    # SQL DELETE semantics: a NULL predicate row is NOT deleted — fold
    # NULL to false on BOTH the counting and the keep side, or the
    # rewrite would silently drop rows the caller never asked to erase
    cond = F.coalesce(F.expr(predicate_sql), F.lit(False))

    per_part = (
        df.groupBy(F.col("container_id").cast("string").alias("c"),
                   F.col("date").cast("string").alias("d"))
        .agg(F.sum(cond.cast("long")).alias("del_n"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    affected = {(r["c"], r["d"]): (r["del_n"], r["n"])
                for r in per_part if r["del_n"]}
    if not affected:
        return empty

    deleted_rows = int(sum(dn for dn, _ in affected.values()))
    rewrite = sorted(k for k, (dn, n) in affected.items() if dn < n)
    dropped = sum(1 for dn, n in affected.values() if dn == n)

    new_files: list[str] = []
    if rewrite:
        keys = [f"{c} {d}" for c, d in rewrite]
        part_key = F.concat_ws(
            " ", F.col("container_id").cast("string"),
            F.col("date").cast("string"))
        staging = table.new_staging_dir()
        (
            df.filter(part_key.isin(keys)).filter(~cond)
            .write.mode("overwrite")
            .partitionBy("container_id", "date")
            .parquet(str(staging))
        )
        new_files = table.adopt_staged(staging)
    removed = [f for k in affected for f in by_part[k]]
    try:
        table.commit_replace(removed, new_files)
    except CommitConflict:
        # erase is a user-invoked guarantee, not a cadence job — a
        # concurrent rewrite invalidating our snapshot must trigger a
        # full recompute, never a silent skip (the subject's rows may
        # now live in the rewrite's output files)
        if _retries <= 0:
            raise
        return erase_matching(spark, logs_dir, predicate_sql,
                              container_id, _retries=_retries - 1)
    return {
        "dropped_partitions": dropped,
        "rewritten_partitions": len(rewrite),
        "deleted_rows": deleted_rows,
    }
