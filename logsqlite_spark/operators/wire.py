"""Wire-parity emit path (S3/S8).

The reference stores the re-encoded length-prefixed LogEntry frame and
streams it back to Docker verbatim (/root/reference/src/logger.rs:125-128,
395-455; docker.rs:187). We store typed columns instead, so the wire
read path *re-derives* frames on demand through one contract,
:func:`entry_of` + ``encode_frame``:

- :func:`frames_of` encodes on the driver from the column arrays of a
  table that ``read.scan_container`` produced: the LogDriver ReadLogs
  route and the CLI serve every read this way, without a Spark job;
- :func:`frame_of` encodes one follow row the same way;
- :func:`to_wire_frames` is the distributed twin (an executor-side,
  Arrow-batched ``mapInPandas`` projection) for bulk exports over a
  DataFrame; :func:`stream_wire_frames` orders it and pulls it to the
  driver partition by partition. No engine path calls the latter.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logsqlite_spark.sources.frames import LogEntry, PartialMeta, encode_frame

WIRE_SCHEMA = "container_id string, seq long, frame binary"


def entry_of(source, time_nano, line, partial, meta):
    """One row's LogEntry under the engine's coercion rules — the ONE
    copy of the row→wire contract, shared by the distributed encoder
    and the driver-side encoders below (a second copy would silently
    drift when the wire contract changes).  Called
    per-row on the executor hot path: the frames import is module-
    level, not in-function."""
    pm = None
    # a pandas NULL struct arrives as NaN (float); a Spark Row or a
    # plain dict both expose the same keys
    if meta is not None and not isinstance(meta, float):
        m = meta.asDict() if hasattr(meta, "asDict") else dict(meta)
        pm = PartialMeta(last=bool(m.get("last") or False),
                         id=m.get("id") or "",
                         ordinal=int(m.get("ordinal") or 0))
    return LogEntry(source=source or "",
                    time_nano=int(time_nano or 0),
                    line=(line or "").encode("utf-8"),
                    partial=bool(partial or False),
                    partial_meta=pm)

def frame_of(source, time_nano, line, partial, meta) -> bytes:
    """The exact on-wire frame for one row."""
    return encode_frame(entry_of(source, time_nano, line, partial, meta))

def frames_of(table) -> list[bytes]:
    """Frames of a scanned Arrow table, in its row order, built from
    column arrays."""
    return [frame_of(*r) for r in zip(
        *(table.column(c).to_pylist()
          for c in ("source", "ts_nanos", "line", "partial",
                    "partial_meta")))]

def to_wire_frames(logs: DataFrame) -> DataFrame:
    """logs rows -> (container_id, seq, frame): the exact on-wire bytes
    the reference would store and serve for each row."""

    def encode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            frames = [
                frame_of(src, tn, line, partial, meta)
                for src, line, partial, meta, tn in zip(
                    pdf["source"], pdf["line"], pdf["partial"],
                    pdf["partial_meta"], pdf["ts_nanos"],
                )
            ]
            yield pd.DataFrame(
                {
                    "container_id": pdf["container_id"],
                    "seq": pdf["seq"],
                    "frame": frames,
                }
            )

    base = logs
    for col, default in (("partial", F.lit(False)),
                         ("partial_meta", F.lit(None)),
                         ("ts_nanos", F.lit(0))):
        if col not in base.columns:
            base = base.withColumn(col, default)
    return base.select("container_id", "seq", "source", "line", "partial",
                       "partial_meta", "ts_nanos") \
               .mapInPandas(encode_batches, WIRE_SCHEMA)

def stream_wire_frames(logs: DataFrame):
    """Ordered frames of a DataFrame, pulled partition by partition
    (never a full collect)."""
    return to_wire_frames(logs).orderBy("seq").toLocalIterator()
