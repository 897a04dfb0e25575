"""Vectorized (numpy/Arrow) decode of length-prefixed LogEntry frames.

The S1 hot path. Round 1 decoded protobuf frames one at a time in
Python (per-frame object churn inside ``mapInPandas``) — the classic
slow path. ``from_protobuf()`` would need the spark-protobuf module,
which a stock PySpark install does not ship, so this module is the
one decode path: SIMD-style protobuf decoding with numpy over *all
frames of a batch at once*, emitting Arrow arrays built zero-copy from gathered
buffers. No per-frame Python objects on the happy path.

How it works:
1. One cheap Python walk over each file's u32-BE length prefixes
   yields frame (offset, length) arrays into a single concatenated
   buffer (O(#frames) trivial steps).
2. A numpy loop over *field slots* (≤6 iterations, each vectorized
   over every frame) decodes tags and varints in parallel: gather a
   10-byte window per frame, compute continuation masks, reduce to
   values — the standard SIMD varint trick.
3. String/bytes fields are materialized with one vectorized
   range-gather into an Arrow value buffer (no per-row slicing).
4. Frames the vector path can't prove simple — nested
   ``partial_log_metadata``, multi-byte tags, fixed32/64 fields,
   malformed varints — fall back to the exact per-frame codec in
   ``frames.py`` (the semantics arbiter). Partial frames are rare in
   real log streams, so the fallback stays off the hot path.

Error semantics match round 1 exactly: a corrupt frame aborts that
file's decode — frames before it are kept, frames after dropped, and
one sentinel row with source ``__decode_error__`` and ``frame_no=-1``
is emitted (the reference's restart-on-DecodeError policy, T4,
statehandler.rs:146-166).

Output rows are raw (line/source as binary, no ``\\n`` appended);
``spool.py`` finishes canonicalization and UTF-8 casting JVM-side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from logsqlite_spark.sources import frames as fr

DECODE_ERROR_SOURCE = b"__decode_error__"

# Arrow schema of the raw decoded rows (pre-canonicalization).
RAW_ARROW_SCHEMA = pa.schema([
    ("path", pa.string()),
    ("source", pa.binary()),
    ("time_nano", pa.int64()),
    ("line", pa.binary()),
    ("partial", pa.bool_()),
    ("partial_meta", pa.struct([
        ("last", pa.bool_()), ("id", pa.string()), ("ordinal", pa.int32()),
    ])),
    ("frame_no", pa.int64()),
])

# Spark DDL for RAW_ARROW_SCHEMA (mapInArrow output schema).
RAW_DDL = ("path string, source binary, time_nano long, line binary, "
           "partial boolean, "
           "partial_meta struct<last:boolean,id:string,ordinal:int>, "
           "frame_no long")

_VARINT_MAX = 10  # longest legal proto varint
_PAD = _VARINT_MAX + 4  # gather overrun guard past buffer end


def _walk_frames(bufs: list[bytes]):
    """Length-prefix walk: per-frame (start, len, file, frame_no) arrays.

    Framing corruption (truncated prefix/body — what ``decode_frames``
    raises before protobuf even starts) is recorded per file and stops
    that file's walk, keeping the good prefix.
    """
    f_start: list[int] = []
    f_len: list[int] = []
    f_file: list[int] = []
    f_no: list[int] = []
    file_err: dict[int, tuple[int, str]] = {}
    chunks: list[bytes] = []
    base = 0
    for i, buf in enumerate(bufs):
        chunks.append(buf)
        pos, n, k = 0, len(buf), 0
        while pos < n:
            # the buf length rides the message: if an error row ever
            # appears for a file whose on-disk size disagrees, that is
            # direct evidence the READ saw short content (round-14
            # soak mystery instrumentation)
            if pos + 4 > n:
                file_err[i] = (k, f"truncated length prefix "
                                  f"(buf={n} bytes, at {pos})")
                break
            ln = int.from_bytes(buf[pos:pos + 4], "big")
            pos += 4
            if pos + ln > n:
                file_err[i] = (k, f"truncated frame body "
                                  f"(frame len={ln}, buf={n} bytes, "
                                  f"at {pos})")
                break
            f_start.append(base + pos)
            f_len.append(ln)
            f_file.append(i)
            f_no.append(k)
            pos += ln
            k += 1
        base += n
    big = b"".join(chunks) + b"\x00" * _PAD
    return (np.asarray(f_start, dtype=np.int64),
            np.asarray(f_len, dtype=np.int64),
            np.asarray(f_file, dtype=np.int64),
            np.asarray(f_no, dtype=np.int64),
            file_err, big)


def _vec_varint(big_np: np.ndarray, q: np.ndarray):
    """Vectorized varint decode at positions ``q``.

    Returns (value uint64, nbytes, malformed) — malformed means >10
    continuation bytes (the slow codec's "varint too long").
    """
    window = big_np[q[:, None] + np.arange(_VARINT_MAX)]
    cont = (window & 0x80) != 0
    malformed = cont.all(axis=1)
    nbytes = np.where(malformed, _VARINT_MAX, (~cont).argmax(axis=1) + 1)
    shifts = (np.arange(_VARINT_MAX) * 7).astype(np.uint64)
    terms = (window & 0x7F).astype(np.uint64) << shifts
    used = np.arange(_VARINT_MAX)[None, :] < nbytes[:, None]
    value = (terms * used).sum(axis=1, dtype=np.uint64)
    return value, nbytes.astype(np.int64), malformed


def _vec_decode_fields(big_np: np.ndarray, f_start: np.ndarray,
                       f_len: np.ndarray):
    """The field-slot loop. Returns per-frame field arrays + bad mask.

    ``bad`` frames need the exact per-frame codec: nested
    partial_log_metadata (field 5), tags >1 byte, fixed32/64 wire
    types, malformed/overrunning varints.
    """
    n = len(f_start)
    pos = f_start.copy()
    end = f_start + f_len
    bad = np.zeros(n, dtype=bool)
    src_off = np.full(n, -1, dtype=np.int64)
    src_len = np.zeros(n, dtype=np.int64)
    line_off = np.full(n, -1, dtype=np.int64)
    line_len = np.zeros(n, dtype=np.int64)
    time_nano = np.zeros(n, dtype=np.int64)
    partial = np.zeros(n, dtype=bool)

    while True:
        active = (pos < end) & ~bad
        idx = np.nonzero(active)[0]
        if idx.size == 0:
            break
        p = pos[idx]
        tag = big_np[p]
        simple_tag = tag < 0x80
        bad[idx[~simple_tag]] = True
        idx, p, tag = idx[simple_tag], p[simple_tag], tag[simple_tag]
        wire = tag & 7
        fld = (tag >> 3).astype(np.int64)
        vectorizable = (wire == 0) | (wire == 2)
        bad[idx[~vectorizable]] = True  # fixed32/64 or bogus wire type
        idx, p = idx[vectorizable], p[vectorizable]
        wire, fld = wire[vectorizable], fld[vectorizable]
        if idx.size == 0:
            continue

        value, nb, malformed = _vec_varint(big_np, p + 1)
        vend = p + 1 + nb
        overrun = vend > end[idx]
        bvoid = malformed | overrun
        bad[idx[bvoid]] = True
        idx, p, wire, fld = idx[~bvoid], p[~bvoid], wire[~bvoid], fld[~bvoid]
        value, vend = value[~bvoid], vend[~bvoid]
        if idx.size == 0:
            continue

        is_v = wire == 0
        vi = idx[is_v]
        vfld = fld[is_v]
        vval = value[is_v]
        time_nano[vi[vfld == 2]] = vval[vfld == 2].view(np.int64)
        partial[vi[vfld == 4]] = vval[vfld == 4] != 0
        pos[vi] = vend[is_v]  # unknown varint fields: skipped, like slow path

        is_l = wire == 2
        li = idx[is_l]
        lfld = fld[is_l]
        dstart = vend[is_l]
        dlen = value[is_l].astype(np.int64)
        dend = dstart + dlen
        trunc = dend > end[li]
        bad[li[trunc]] = True
        li, lfld = li[~trunc], lfld[~trunc]
        dstart, dlen, dend = dstart[~trunc], dlen[~trunc], dend[~trunc]
        src_off[li[lfld == 1]] = dstart[lfld == 1]
        src_len[li[lfld == 1]] = dlen[lfld == 1]
        line_off[li[lfld == 3]] = dstart[lfld == 3]
        line_len[li[lfld == 3]] = dlen[lfld == 3]
        bad[li[lfld == 5]] = True  # nested partial metadata -> slow path
        pos[li] = dend  # unknown length-delimited fields: skipped

    return (src_off, src_len, line_off, line_len, time_nano, partial, bad)


def _gather_binary(big_np: np.ndarray, offs: np.ndarray,
                   lens: np.ndarray) -> pa.Array:
    """Build a pa.BinaryArray by one vectorized range-gather.

    Missing fields (off<0) come through with len 0 → empty bytes, the
    proto3 scalar default.
    """
    n = len(offs)
    arrow_offs = np.zeros(n + 1, dtype=np.int32)
    arrow_offs[1:] = np.cumsum(lens)
    total = int(arrow_offs[-1])
    if total == 0:
        vals = np.empty(0, dtype=np.uint8)
    else:
        nz = lens > 0
        o = offs[nz]
        ln = lens[nz]
        deltas = np.ones(total, dtype=np.int64)
        seg_starts = np.concatenate(([0], np.cumsum(ln)[:-1]))
        deltas[0] = o[0]
        if len(o) > 1:
            deltas[seg_starts[1:]] = o[1:] - (o[:-1] + ln[:-1]) + 1
        vals = big_np[np.cumsum(deltas)]
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(arrow_offs), pa.py_buffer(np.ascontiguousarray(vals))])


def decode_files(paths: list[str], bufs: list[bytes]) -> list[pa.RecordBatch]:
    """Decode one batch of spool files into RAW_ARROW_SCHEMA batches.

    Returns up to two batches: the vectorized bulk rows, and a small
    per-frame-decoded batch (partial frames, anomalies, sentinels).
    Row order across batches is irrelevant downstream — seq assignment
    orders by (path, frame_no).
    """
    f_start, f_len, f_file, f_no, file_err, big = _walk_frames(bufs)
    big_np = np.frombuffer(big, dtype=np.uint8)
    n = len(f_start)
    out: list[pa.RecordBatch] = []

    if n:
        (src_off, src_len, line_off, line_len,
         time_nano, partial, bad) = _vec_decode_fields(big_np, f_start, f_len)
    else:
        bad = np.zeros(0, dtype=bool)

    # Exact per-frame re-decode of everything the vector path flagged.
    slow_entries: dict[int, fr.LogEntry] = {}
    for j in np.nonzero(bad)[0] if n else []:
        i = int(f_file[j])
        body = big[int(f_start[j]):int(f_start[j] + f_len[j])]
        try:
            slow_entries[int(j)] = fr.decode_log_entry(body)
        except fr.FrameDecodeError as e:
            k = int(f_no[j])
            if i not in file_err or k < file_err[i][0]:
                file_err[i] = (k, str(e))

    # A corrupt frame aborts its file's decode: drop frames at/after it.
    if n:
        keep = np.ones(n, dtype=bool)
        for i, (k, _msg) in file_err.items():
            keep &= ~((f_file == i) & (f_no >= k))
        bulk = keep & ~bad
        nb = int(bulk.sum())
        if nb:
            paths_arr = pa.array(paths, type=pa.string())
            pm_null = pa.nulls(nb, type=RAW_ARROW_SCHEMA.field("partial_meta").type)
            out.append(pa.RecordBatch.from_arrays([
                paths_arr.take(pa.array(f_file[bulk])),
                _gather_binary(big_np, src_off[bulk], src_len[bulk]),
                pa.array(time_nano[bulk]),
                _gather_binary(big_np, line_off[bulk], line_len[bulk]),
                pa.array(partial[bulk]),
                pm_null,
                pa.array(f_no[bulk]),
            ], schema=RAW_ARROW_SCHEMA))
    else:
        keep = np.zeros(0, dtype=bool)

    # Slow rows + sentinels, built row-at-a-time (rare by construction).
    rows = {k: [] for k in ("path", "source", "time_nano", "line",
                            "partial", "pm", "frame_no")}
    if n:
        for j in np.nonzero(keep & bad)[0]:
            e = slow_entries.get(int(j))
            if e is None:
                continue
            m = e.partial_meta
            rows["path"].append(paths[int(f_file[j])])
            rows["source"].append(e.source.encode("utf-8"))
            rows["time_nano"].append(e.time_nano)
            rows["line"].append(e.line)
            rows["partial"].append(e.partial)
            rows["pm"].append(None if m is None else
                              {"last": m.last, "id": m.id, "ordinal": m.ordinal})
            rows["frame_no"].append(int(f_no[j]))
    for i, (_k, msg) in sorted(file_err.items()):
        rows["path"].append(paths[i])
        rows["source"].append(DECODE_ERROR_SOURCE)
        rows["time_nano"].append(0)
        rows["line"].append(f"{paths[i]}: {msg}".encode("utf-8"))
        rows["partial"].append(False)
        rows["pm"].append(None)
        rows["frame_no"].append(-1)
    if rows["path"]:
        out.append(pa.RecordBatch.from_arrays([
            pa.array(rows["path"], type=pa.string()),
            pa.array(rows["source"], type=pa.binary()),
            pa.array(rows["time_nano"], type=pa.int64()),
            pa.array(rows["line"], type=pa.binary()),
            pa.array(rows["partial"], type=pa.bool_()),
            pa.array(rows["pm"], type=RAW_ARROW_SCHEMA.field("partial_meta").type),
            pa.array(rows["frame_no"], type=pa.int64()),
        ], schema=RAW_ARROW_SCHEMA))
    return out
