"""Partition compaction — maintenance for a micro-batched parquet sink.

A streaming sink committing every ``message_read_timeout`` (100 ms
default) writes many small files per (container, date) partition; at
100 TB that kills scan performance (file-listing cost, tiny row
groups, no effective min/max stats). The reference has no analogue
(SQLite appends to one B-tree), so this is engine-native maintenance,
run alongside retention on the cleaner schedule.

Strategy per partition:
- skip partitions already compact (fewer than ``min_files`` live files
  in the manifest);
- rewrite the rest sorted by ``seq`` (restores arrival clustering →
  tight parquet min/max on both seq and ts_nanos, so cursor and time
  filters skip row groups) into ``target_records``-sized files;
- publish via one manifest commit replacing exactly the files the
  rewrite read. Files the ingest stream appends into the same
  partition *while compaction runs* are untouched by the commit (it
  re-applies against the freshest manifest under the table lock), so
  the round-1 listing→rename race that could silently discard
  concurrent appends is structurally impossible. Old files stay on
  disk for in-flight readers until ``ManifestTable.gc``.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from logsqlite_spark.table import (CommitConflict, ManifestTable,
                                   escape_partition_value,
                                   unescape_partition_value)


def compact_container(
    spark: SparkSession,
    logs_dir: str,
    container_id: str,
    min_files: int = 4,
    target_records: int = 4_000_000,
) -> dict:
    """Compact every date partition of one container that needs it."""
    table = ManifestTable(logs_dir)
    manifest = table.import_existing()
    prefix = f"container_id={escape_partition_value(container_id)}/"
    by_date: dict[str, list[str]] = {}
    for f in manifest["files"]:
        if f.startswith(prefix):
            by_date.setdefault(f.split("/")[1].split("=", 1)[1], []).append(f)

    compacted = files_before = files_after = conflicts = 0
    for d in sorted(by_date):
        files = by_date[d]
        if len(files) < min_files:
            continue
        files_before += len(files)
        df = spark.read.option("basePath", logs_dir).parquet(
            *[str(Path(logs_dir) / f) for f in files])
        n = df.count()
        n_out = max(1, -(-n // target_records))  # ceil
        staging = table.new_staging_dir()
        (
            df.repartitionByRange(n_out, "seq")
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", target_records)
            .partitionBy("container_id", "date")
            .parquet(str(staging))
        )
        new_files = table.adopt_staged(staging)
        try:
            table.commit_replace(files, new_files)
        except CommitConflict:
            # a concurrent rewrite (retention, another compactor) took
            # some input file after our snapshot: publishing would
            # resurrect its deleted rows.  Skip — the next cadence pass
            # recomputes from fresh state; the staged output is
            # unreferenced and gc reclaims it.  (Round-14 soak finding.)
            files_before -= len(files)
            conflicts += 1
            continue
        files_after += len(new_files)
        compacted += 1
    return {
        "compacted_partitions": compacted,
        "files_before": files_before,
        "files_after": files_after,
        "conflicts": conflicts,
    }


def compact_all(spark: SparkSession, logs_dir: str, **kw) -> dict:
    table = ManifestTable(logs_dir)
    manifest = table.import_existing()
    containers = sorted({
        unescape_partition_value(f.split("/", 1)[0].split("=", 1)[1])
        for f in manifest["files"]})
    return {c: compact_container(spark, logs_dir, c, **kw)
            for c in containers}
