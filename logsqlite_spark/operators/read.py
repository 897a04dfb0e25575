"""Batch query surface — the ReadLogs path (SURVEY.md §2.2-2.4, §3.1).

Reference behavior being re-expressed (not ported):

- ``WHERE ROWID >= ?cursor [AND ts >= ?since] [AND ts <= ?until]`` with
  both time bounds *inclusive* (/root/reference/src/logger.rs:320-343).
- tail-N is resolved *after* the time filters: a count + ``LIMIT 1
  OFFSET (count - tail)`` probe finds the first kept row
  (logger.rs:347-376). In Spark that two-query plan is unnecessary:
  ``orderBy(desc(seq)).limit(N)`` compiles to TakeOrderedAndProject — a
  distributed top-k (per-partition partial top-k, final merge on the
  driver) that never materializes the full result. For "tail N per
  container" a ranking window bounded by N does the same in one shuffle.
- results stream back in ROWID (arrival) order, never ts order
  (logger.rs:379); out-of-order timestamps stay out of order. Parquet
  scan order is not guaranteed, so the ordering must be explicit.

Scale notes (100 TB): since/until on ``ts_nanos`` push down to parquet
row-group stats, and ``container_id``/``date`` predicates prune
partitions before any task launches — the moral equivalent of the
reference's ``idx_ts`` B-tree, but free and distributed. The final
``orderBy(seq)`` is the only shuffle, and only over rows that survived
pruning; tail queries avoid even that via top-k.

Serving path: one container's ReadLogs (and follow history/resync) is
small and interactive, so a Spark job's start-up cost would dominate it.
:func:`scan_container` answers it on the driver with ``pyarrow.dataset``
over the committed snapshot's files, with the same semantics as
:func:`read_logs` (inclusive nanosecond bounds, tail after the filters,
seq order). The DataFrame functions above stay for bulk reads and SQL.
"""

from __future__ import annotations

import functools
import operator
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from logsqlite_spark.functions.time import normalize_read_params
from logsqlite_spark.schema import LOGS_SCHEMA
from logsqlite_spark.table import escape_partition_value

def apply_read_filters(
    logs: DataFrame,
    container_id: str | None = None,
    since_nanos: int | None = None,
    until_nanos: int | None = None,
    cursor: int | None = None,
    ts_col: str = "ts_nanos",
    seq_col: str = "seq",
    container_col: str = "container_id",
) -> DataFrame:
    """P3-P5 predicates; all pushdown-friendly range filters.

    When the source carries a ``__ts_raw`` pushdown twin (the events
    loader keeps the raw parquet timestamp column next to the computed
    epoch-nanos ``ts`` — see ``tables._normalize_ts_nanos``), widened
    native-type bounds go on the raw column too. Those are plain
    column-vs-literal comparisons, so they reach the parquet scan as
    PushedFilters and prune row groups; the exact nanos predicates
    stay authoritative for semantics (inclusive bounds at full nanos,
    logger.rs:320-343). floor/ceil µs alignment keeps the twin bounds
    implied-by (never tighter than) the nanos bounds.
    """
    from logsqlite_spark.tables import TS_RAW_COL

    df = logs
    has_raw = TS_RAW_COL in df.columns
    if container_id is not None:
        df = df.filter(F.col(container_col) == container_id)
    if cursor is not None:
        df = df.filter(F.col(seq_col) >= F.lit(int(cursor)))
    if since_nanos is not None:
        df = df.filter(F.col(ts_col) >= F.lit(int(since_nanos)))
        if has_raw:
            lo_us = int(since_nanos) // 1000  # floor → widened
            df = df.filter(F.col(TS_RAW_COL)
                           >= F.timestamp_micros(F.lit(lo_us))
                           .cast(df.schema[TS_RAW_COL].dataType))
    if until_nanos is not None:
        df = df.filter(F.col(ts_col) <= F.lit(int(until_nanos)))
        if has_raw:
            hi_us = -((-int(until_nanos)) // 1000)  # ceil → widened
            df = df.filter(F.col(TS_RAW_COL)
                           <= F.timestamp_micros(F.lit(hi_us))
                           .cast(df.schema[TS_RAW_COL].dataType))
    return df

def tail_global(df: DataFrame, n: int, seq_col: str = "seq") -> DataFrame:
    """Last ``n`` rows by arrival order — distributed top-k.

    TakeOrderedAndProject: each partition keeps its local top-n, the
    driver merges; no full sort, no full shuffle.
    """
    return df.orderBy(F.col(seq_col).desc()).limit(int(n))

def tail_per_container(
    df: DataFrame,
    n: int,
    seq_col: str = "seq",
    container_col: str = "container_id",
) -> DataFrame:
    """Last ``n`` rows per container (the reference's tail, which is
    always per-container because each container is its own database).

    One hash-shuffle on container_id; rank() is pipelined after the
    sort within each partition. AQE splits skewed containers.
    """
    w = Window.partitionBy(container_col).orderBy(F.col(seq_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
        .drop("__rn")
    )

def read_logs(
    logs: DataFrame,
    container_id: str | None = None,
    since: str | None = None,
    until: str | None = None,
    tail: int | None = None,
    cursor: int | None = None,
    ordered: bool = True,
    **cols: str,
) -> DataFrame:
    """Full ReadLogs pipeline: normalize -> filter -> tail -> order.

    ``since``/``until`` are RFC3339 strings straight off the wire;
    sentinel values and unparseable strings drop the predicate, and
    ``tail < 1`` means "all" (docker.rs:144-166 normalization).

    ``ordered=False`` skips the final sort for callers that only count
    or re-aggregate (saves the shuffle).
    """
    seq_col = cols.get("seq_col", "seq")
    since_n, until_n, tail_n = normalize_read_params(since, until, tail)
    df = apply_read_filters(
        logs,
        container_id=container_id,
        since_nanos=since_n,
        until_nanos=until_n,
        cursor=cursor,
        **cols,
    )
    if tail_n is not None:
        if container_id is not None:
            df = tail_global(df, tail_n, seq_col=seq_col)
        else:
            df = tail_per_container(df, tail_n, seq_col=seq_col,
                                    container_col=cols.get("container_col", "container_id"))
    if ordered:
        df = df.orderBy(seq_col)
    return df

def count_logs(
    logs: DataFrame,
    container_id: str | None = None,
    since: str | None = None,
    until: str | None = None,
    cursor: int | None = None,
    **cols: str,
) -> int:
    """A1: ``SELECT count(*) FROM logs WHERE <cond>`` (logger.rs:347-355)."""
    since_n, until_n, _ = normalize_read_params(since, until, None)
    df = apply_read_filters(
        logs,
        container_id=container_id,
        since_nanos=since_n,
        until_nanos=until_n,
        cursor=cursor,
        **cols,
    )
    return df.count()

def count_per_container(
    logs: DataFrame, container_col: str = "container_id"
) -> DataFrame:
    """A2 done the Spark way: one job over every container instead of
    the reference's per-database loop (cleaner.rs:50-61). Partial
    (map-side) aggregation makes this a tiny shuffle regardless of table
    size.
    """
    return logs.groupBy(container_col).agg(F.count(F.lit(1)).alias("n_lines"))

# -- driver-side scan of the committed snapshot --------------------------------

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
# the Spark row shape every follow path emits (LOGS_SCHEMA order)
_LOG_ROW = Row(*LOGS_SCHEMA.fieldNames())
_META_ROW = Row("last", "id", "ordinal")


@functools.cache
def _arrow_schema():
    """The data-file columns as Arrow types. Passed explicitly, it reads
    every file the same way whatever physical types its writer chose
    (ingest writes ``seq`` as int32 and ``ts`` as INT96), with nulls for
    columns a file lacks."""
    import pyarrow as pa

    return pa.schema([
        ("seq", pa.int64()), ("ts_nanos", pa.int64()),
        ("ts", pa.timestamp("us")), ("source", pa.string()),
        ("line", pa.string()), ("partial", pa.bool_()),
        ("partial_meta", pa.struct([("last", pa.bool_()),
                                    ("id", pa.string()),
                                    ("ordinal", pa.int32())])),
    ])


def _utc_day(ns: int) -> str:
    """The ``date`` partition ingest gives a row with this ``ts_nanos``:
    ``to_date(timestamp_micros(ts_nanos div 1000))`` in UTC, where
    ``div`` truncates toward zero."""
    us = abs(ns) // 1000
    return (_EPOCH + timedelta(microseconds=us if ns >= 0 else -us)) \
        .date().isoformat()


def _file_ranges(frag, since_n, until_n, cursor):
    """(seq_lo, seq_hi, rows) of one file from its footer, or None when
    the footer proves no row can pass the filters. A missing ``seq``
    statistic gives an unbounded range."""
    frag.ensure_complete_metadata()
    rows, seqs, tss = 0, [], []
    for rg in frag.row_groups:
        rows += rg.num_rows
        st = rg.statistics or {}
        seqs.append(st.get("seq"))
        tss.append(st.get("ts_nanos"))
    if rows == 0:
        return None
    if all(s and s.get("min") is not None for s in seqs):
        lo = min(s["min"] for s in seqs)
        hi = max(s["max"] for s in seqs)
    else:
        lo, hi = float("-inf"), float("inf")
    if cursor is not None and hi < cursor:
        return None
    if all(t and t.get("min") is not None for t in tss) and (
            (since_n is not None and max(t["max"] for t in tss) < since_n)
            or (until_n is not None
                and min(t["min"] for t in tss) > until_n)):
        return None
    return lo, hi, rows


def scan_container(root, snapshot: dict, container_id: str,
                   since: str | None = None, until: str | None = None,
                   tail: int | None = None, cursor: int | None = None):
    """One container's committed rows, read on the driver with
    ``pyarrow.dataset``: the reference's ReadLogs query
    (logger.rs:303-392) with :func:`read_logs` semantics — inclusive
    nanosecond ``since``/``until``, ``tail`` applied after the filters,
    ``seq >= cursor``, rows in seq (arrival) order.

    Planning runs before this returns, so a caller can report a failure
    before it commits to a response:

    - files: the snapshot's files under ``container_id=<escaped>/date=``,
      pruned to the UTC days of since/until, then by each footer's
      ``seq``/``ts_nanos`` statistics;
    - groups: files whose ``seq`` ranges overlap are merged, and the
      groups are ordered by seq. Each group is read with the predicates
      pushed down and sorted by ``seq``, so driver memory is bounded by
      the largest overlapping group, not by the container (a file
      without statistics overlaps everything: correct, not bounded);
    - tail: groups are counted from the newest down, reading only the
      filtered ``seq`` column (footers alone when nothing filters),
      until ``tail`` rows are found; emission starts at that boundary.

    Returns an iterator of Arrow tables (one per non-empty group) with
    the data-file columns, each sorted by ``seq``.
    """
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    since_n, until_n, tail_n = normalize_read_params(since, until, tail)
    prefix = f"container_id={escape_partition_value(container_id)}/date="
    lo_day = "" if since_n is None else _utc_day(since_n)
    hi_day = "~" if until_n is None else _utc_day(until_n)
    k = len(prefix)
    paths = [f"{root}/{f}" for f in snapshot.get("files") or ()
             if f.startswith(prefix) and lo_day <= f[k:k + 10] <= hi_day]
    if not paths:
        return iter(())
    schema = _arrow_schema()
    dataset = ds.dataset(paths, schema=schema, format="parquet")
    files = []
    for frag in dataset.get_fragments():
        r = _file_ranges(frag, since_n, until_n, cursor)
        if r is not None:
            files.append((r[0], r[1], r[2], frag))
    files.sort(key=lambda f: f[0])
    groups: list[list] = []  # [seq_hi, rows, [fragments]]
    for lo, hi, rows, frag in files:
        if groups and lo <= groups[-1][0]:
            g = groups[-1]
            g[0] = max(g[0], hi)
            g[1] += rows
            g[2].append(frag)
        else:
            groups.append([hi, rows, [frag]])

    conds = []
    if cursor is not None:
        conds.append(ds.field("seq") >= int(cursor))
    if since_n is not None:
        conds.append(ds.field("ts_nanos") >= since_n)
    if until_n is not None:
        conds.append(ds.field("ts_nanos") <= until_n)
    pred = functools.reduce(operator.and_, conds) if conds else None

    def read(frags, **kw):
        # single-threaded: a group is small, its cost is per-file
        # opens, and the server already runs one thread per request
        return ds.FileSystemDataset(frags, schema, dataset.format,
                                    dataset.filesystem) \
            .to_table(filter=pred, use_threads=False, **kw)

    if tail_n is not None:
        need = tail_n
        for i in range(len(groups) - 1, -1, -1):
            if pred is None and groups[i][1] < need:
                need -= groups[i][1]
                continue
            seqs = read(groups[i][2], columns=["seq"])["seq"]
            if len(seqs) < need:
                need -= len(seqs)
                continue
            top = seqs.take(pc.top_k_unstable(seqs, k=need))
            conds.append(ds.field("seq") >= pc.min(top).as_py())
            pred = functools.reduce(operator.and_, conds)
            groups = groups[i:]
            break

    def emit():
        for _, _, frags in groups:
            t = read(frags)
            if t.num_rows:
                yield t.sort_by("seq")

    return emit()


def rows_of(table, container_id: str) -> list:
    """Spark ``Row``s (``LOGS_SCHEMA`` fields) of a scanned Arrow table
    — the row shape of every follow path — built from column arrays."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = [table.column(c).to_pylist()
            for c in ("seq", "ts_nanos", "ts", "source", "line", "partial")]
    metas = [None if m is None else _META_ROW(m["last"], m["id"],
                                              m["ordinal"])
             for m in table.column("partial_meta").to_pylist()]
    dates = pc.cast(table.column("ts"), pa.date32()).to_pylist()
    return [_LOG_ROW(seq, tn, ts, src, line, part, meta, container_id, d)
            for seq, tn, ts, src, line, part, meta, d
            in zip(*cols, metas, dates)]
