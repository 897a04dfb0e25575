"""JSONL spool source — the JVM-native alternate wire format.

The reference speaks only Docker's protobuf FIFO framing, but generic
log shippers (fluentd/vector/filebeat) emit JSON lines. Supporting
them as a first-class spool format has a performance bonus: the JSON
field decode runs *inside the JVM* (``from_json``, no Python in the
loop); only the per-file gunzip and line split run in Arrow-side
Python.

Record shape (one JSON object per line):

    {"n": 0, "source": "stdout", "time_nano": 1704067200000000000,
     "line": "payload", "partial": false,
     "partial_meta": {"last": false, "id": "", "ordinal": 0}}

``n`` is the writer-assigned index within the file — JSON lines carry
no implicit order once Spark splits a file, so arrival order must be
explicit in the record (the protobuf path gets it from frame position).
"""

from __future__ import annotations

import decimal
import json
import math
import os
import time
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


JSONL_SCHEMA = (
    "n long, source string, time_nano long, line string, partial boolean, "
    "partial_meta struct<last:boolean,id:string,ordinal:int>, "
    "_corrupt string"
)


def jsonl_lines(buf: bytes) -> list[str]:
    """The records of one decompressed JSONL file: split on newlines,
    a trailing carriage return dropped, blank lines skipped."""
    out = []
    for ln in buf.decode("utf-8", "replace").split("\n"):
        ln = ln.rstrip("\r")
        if ln.strip():
            out.append(ln)
    return out


_INT64 = (-1 << 63, (1 << 63) - 1)
_INT32 = (-1 << 31, (1 << 31) - 1)


def _int_ok(v, bounds) -> bool:
    return v is None or (type(v) is int and bounds[0] <= v <= bounds[1])


def _java_double(x: float) -> str:
    """A double as Jackson writes it: Java's ``Double.toString`` layout
    (plain for 1e-3 <= |x| < 1e7, else ``d.dddE<n>``), non-finite
    values as quoted strings.  The digits are Python's shortest
    round-trip ones, so a few doubles still differ from what ingest
    commits: Jackson parses some large exponents one ulp off
    (``1.0e23`` is committed as ``9.999999999999999E22``), and the
    JVM's ``Double.toString`` (before JDK 19) prints some doubles with
    extra digits (``2.82879384806159008E17``, ``4.9E-324``)."""
    if x != x:
        return '"NaN"'
    if x in (float("inf"), float("-inf")):
        return '"Infinity"' if x > 0 else '"-Infinity"'
    sign = "-" if math.copysign(1.0, x) < 0 else ""
    d = decimal.Decimal(repr(abs(x)))
    if d == 0 or 1e-3 <= abs(x) < 1e7:
        plain = format(d, "f")
        return sign + (plain if "." in plain else plain + ".0")
    digits = "".join(map(str, d.as_tuple().digits)).rstrip("0")
    exp = d.adjusted()
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{exp}"


def _json_text(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _java_double(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return "[" + ",".join(map(_json_text, v)) + "]"
    return "{" + ",".join(f"{json.dumps(k, ensure_ascii=False)}:"
                          f"{_json_text(x)}" for k, x in v.items()) + "}"


def _text(v) -> str | None:
    """A JSON value read into a string field, rendered the way
    ``from_json`` renders it: a non-string becomes its compact JSON
    text, with doubles as :func:`_java_double` writes them."""
    if v is None or isinstance(v, str):
        return v
    return _json_text(v)


def parse_jsonl_line(ln: str) -> tuple | None:
    """One JSONL record decoded on the driver the way ``from_json``
    with ``JSONL_SCHEMA`` decodes it on an executor:
    ``(n, source, time_nano, line, partial, partial_meta)``, or None
    for a line ingest quarantines as a decode error — not a JSON
    object, or a typed field of the wrong JSON type or out of range.
    Like Spark's reader it takes the first JSON value on the line
    and ignores what follows it."""
    try:
        rec, _ = json.JSONDecoder().raw_decode(ln.lstrip(" \t"))
    except (ValueError, RecursionError):  # RecursionError: deep nesting
        return None
    if not isinstance(rec, dict):
        return None
    n, tn, partial = rec.get("n"), rec.get("time_nano"), rec.get("partial")
    pm = rec.get("partial_meta")
    if not (_int_ok(n, _INT64) and _int_ok(tn, _INT64)
            and (partial is None or isinstance(partial, bool))):
        return None
    if pm is not None:
        if not (isinstance(pm, dict) and _int_ok(pm.get("ordinal"), _INT32)
                and (pm.get("last") is None
                     or isinstance(pm.get("last"), bool))):
            return None
        pm = {"last": pm.get("last"), "id": _text(pm.get("id")),
              "ordinal": pm.get("ordinal")}
    source = _text(rec.get("source")) or ""
    if source == "__decode_error__":
        return None  # ingest's error marker: never seq'd
    return (n, source, tn or 0, _text(rec.get("line")) or "",
            bool(partial), pm)


class JsonlSpoolWriter:
    """Burst writer for the JSONL format (shipper stand-in)."""

    def __init__(self, spool_dir: str, container_id: str):
        from logsqlite_spark.sources.spool import seed_last_mtime_ms

        self.dir = Path(spool_dir) / container_id
        self.dir.mkdir(parents=True, exist_ok=True)
        self._counter = 0
        self._last_mtime_ms = seed_last_mtime_ms(self.dir)

    def write_burst(self, records: Iterable[dict],
                    compress: bool = False) -> str:
        from logsqlite_spark.sources.spool import space_mtime_ms

        lines = []
        for i, rec in enumerate(records):
            rec = dict(rec)
            rec.setdefault("n", i)
            lines.append(json.dumps(rec))
        blob = ("\n".join(lines) + "\n").encode("utf-8")
        if compress:
            import gzip

            blob = gzip.compress(blob)
        stem = f"{time.time_ns():020d}-{self._counter:06d}"
        ext = "jsonl.gz" if compress else "jsonl"
        name = self.dir / f"{stem}.{ext}"
        tmp = self.dir / f".{stem}.{ext}.tmp"
        tmp.write_bytes(blob)
        # mtime spacing: see spool.space_mtime_ms (stream delivery
        # order is ms-mtime order; ties reorder arbitrarily)
        self._last_mtime_ms = space_mtime_ms(tmp, self._last_mtime_ms)
        os.rename(tmp, name)
        self._counter += 1
        return str(name)

_SPLIT_DDL = "path string, raw string"


def _split_jsonl_arrow(batches):
    """mapInArrow body for JSONL spool files, plain and ``.jsonl.gz``
    alike: per-file gunzip + line split (the JSON field decode stays
    JVM-side via ``from_json``).  Every read path — pull and stream,
    plain and gz — goes through here, so a line is quarantined the
    same way whichever path reads it.

    Spark's native json reader is not used: it gunzips by extension
    via the Hadoop codec, which THROWS on a corrupt/truncated stream
    (one bad rotated-shipper file would fail the whole pull and be
    retried forever), and it flags a mistyped field as corrupt only
    when that field is in the pruned read schema, so a pull's
    quarantine re-scan could miss the very line its write counted.
    Routing every file through the ``_gunzip_buf`` quarantine policy
    (shared with ``.plog.gz``) makes a corrupt gz file yield ONE
    unparseable sentinel line instead: ``from_json`` marks it
    ``_corrupt`` and it flows into the decode-error quarantine while
    the pull proceeds."""
    import pyarrow as pa

    from logsqlite_spark.sources.spool import (
        _BAD_GZIP_SENTINEL, _gunzip_buf, _verify_content_lengths)

    schema = pa.schema([("path", pa.string()), ("raw", pa.string())])
    for batch in batches:
        _verify_content_lengths(batch)
        contents = batch.column("content")
        out_p: list[str] = []
        out_r: list[str] = []
        for i, p in enumerate(batch.column("path").to_pylist()):
            raw = contents[i].as_py()
            buf = _gunzip_buf(p, raw)
            if buf == _BAD_GZIP_SENTINEL:
                out_p.append(p)
                # never valid JSON; carries the COMPRESSED length the
                # read saw, so a mismatch with the on-disk size is
                # direct evidence of a short content read
                out_r.append(
                    f"\x00 corrupt gzip stream (read {len(raw)} bytes)")
                continue
            for ln in jsonl_lines(buf):
                out_p.append(p)
                out_r.append(ln)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_p, pa.string()), pa.array(out_r, pa.string())],
            schema=schema)


def _decode_jsonl(binary_df: DataFrame) -> DataFrame:
    """(path, length, content) of JSONL spool files -> the decoded
    entry shape of sources/spool.DECODED_SCHEMA (S2-canonicalized,
    container_id from the path), so the ingest pipeline is shared.
    Unparseable lines flow into the same '__decode_error__'
    quarantine as corrupt protobuf frames (T4 policy, one place
    downstream)."""
    rec = F.from_json(
        "raw", JSONL_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    ).alias("rec")
    split = binary_df.mapInArrow(_split_jsonl_arrow, _SPLIT_DDL) \
        .select("path", "raw", rec)
    # from_json yields a NULL struct (not a populated _corrupt) on some
    # unparseable inputs — coalesce so either form quarantines
    err = F.coalesce(
        F.col("rec._corrupt"),
        F.when(F.col("rec").isNull(), F.col("raw")))
    corrupt = err.isNotNull()
    line = F.col("rec.line")
    return split.select(
        # plain-filesystem path form, matching sources/spool
        # (_finish_decoded)
        F.regexp_replace("path", r"^file:/+", "/").alias("path"),
        F.element_at(F.split(F.col("path"), "/"), -2).alias("container_id"),
        F.when(corrupt, F.lit("__decode_error__"))
        .otherwise(F.coalesce(F.col("rec.source"), F.lit("")))
        .alias("source"),
        F.coalesce(F.col("rec.time_nano"), F.lit(0)).alias("time_nano"),
        F.when(corrupt, F.concat(err, F.lit("\n")))
        .when(line.endswith("\n"), line)
        .otherwise(F.concat(F.coalesce(line, F.lit("")), F.lit("\n")))
        .alias("line"),
        F.coalesce(F.col("rec.partial"), F.lit(False)).alias("partial"),
        F.col("rec.partial_meta").alias("partial_meta"),
        F.when(corrupt, F.lit(-1)).otherwise(F.col("rec.n"))
        .alias("frame_no"),
    )

def read_jsonl_spool_batch(spark: SparkSession, spool_dir: str,
                           container_id: str | None = None,
                           paths: list[str] | None = None) -> DataFrame:
    """Decode JSONL spool files (plain and ``.jsonl.gz``) to the same
    shape the protobuf decode yields (path, container_id, ...,
    frame_no), through the same ``binaryFile`` → ``_split_jsonl_arrow``
    → ``from_json`` path as the stream.  ``paths``: exact file list
    from a driver-side listing (skips a second Spark directory listing
    and pins the read set)."""
    if paths is None:
        import glob as _glob

        paths = sorted(
            _glob.glob(f"{spool_dir}/{container_id or '*'}/*.jsonl*"))
    if paths:
        raw = spark.read.format("binaryFile").load(paths)
    else:
        raw = spark.createDataFrame(
            [], "path string, length long, content binary")
    return _decode_jsonl(raw.select("path", "length", "content"))


def read_jsonl_spool_stream(spark: SparkSession, spool_dir: str,
                            max_bytes_per_trigger: int | None = None
                            ) -> DataFrame:
    """Streaming decode: ONE ``binaryFile`` source for plain ``.jsonl``
    AND ``.jsonl.gz``, split+gunzipped Arrow-side with the JSON field
    decode JVM-side via ``from_json`` — mirroring the plog stream.

    This MUST be a single file source (round-15 stream-soak finding,
    caught in 7 kill cycles): the previous design unioned the native
    json reader for plain files with a binaryFile source for gz, and
    the two sources checkpoint their file offsets INDEPENDENTLY — one
    source could deliver a newer-named file in an earlier micro-batch
    than the other source's older file, violating per-container
    arrival order.  The monotonicity guard then stale-quarantined the
    late file and its rows never reached the table (8 rows lost per
    incident, shifting every later seq).  One source = one
    globally-ordered file sequence per container, the invariant the
    watermark is built on.

    Corrupt gz files still quarantine as ONE decode-error row instead
    of failing micro-batches forever (``_gunzip_buf`` sentinel), and a
    corrupt line is quarantined exactly as on a pull: both decode
    through ``_decode_jsonl``."""
    src = f"{spool_dir}/*/"
    reader = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.jsonl*")
        .option("latestFirst", "false")
        .option("maxFileAge", "3650d")
        .option("cleanSource", "delete")
    )
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger",
                               str(max_bytes_per_trigger))
    return _decode_jsonl(reader.load(src)
                         .select("path", "length", "content"))
