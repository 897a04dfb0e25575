"""Vectorized plog decoder (sources/vdecode.py) vs the per-frame codec.

The per-frame codec in frames.py is the semantics arbiter (it follows
the protobuf spec directly); vdecode must agree with it bit-for-bit on
every entry, and reproduce the round-1 error policy: a corrupt frame
aborts its file's decode — good prefix kept, tail dropped, one
sentinel row (T4, statehandler.rs:146-166).
"""

from __future__ import annotations

import random

from logsqlite_spark.sources import frames as fr
from logsqlite_spark.sources import vdecode


def _rows(batches):
    out = []
    for b in batches:
        out.extend(b.to_pylist())
    return out


def _entries(n, partial_every=0):
    random.seed(n)
    out = []
    for i in range(n):
        pm = None
        partial = False
        if partial_every and i % partial_every == 0:
            pm = fr.PartialMeta(last=i % 2 == 0, id=f"p{i}", ordinal=i % 7)
            partial = True
        out.append(fr.LogEntry(
            source=("stdout", "stderr", "")[i % 3],
            time_nano=1_700_000_000_000_000_000 + i,
            line=f"line {i} {'x' * random.randint(0, 80)}".encode(),
            partial=partial, partial_meta=pm))
    return out


def _blob(entries):
    return b"".join(fr.encode_frame(e) for e in entries)


def test_matches_per_frame_codec_including_partials():
    entries = _entries(2000, partial_every=37)
    rows = _rows(vdecode.decode_files(["file:/s/c1/a.plog"], [_blob(entries)]))
    assert len(rows) == len(entries)
    by_no = {r["frame_no"]: r for r in rows}
    for k, e in enumerate(entries):
        r = by_no[k]
        assert r["source"] == e.source.encode()
        assert r["time_nano"] == e.time_nano
        assert r["line"] == e.line  # raw: no \n appended here (JVM does S2)
        assert r["partial"] == e.partial
        if e.partial_meta is None:
            assert r["partial_meta"] is None
        else:
            assert r["partial_meta"] == {
                "last": e.partial_meta.last, "id": e.partial_meta.id,
                "ordinal": e.partial_meta.ordinal}


def test_proto3_defaults_and_extreme_values():
    entries = [
        fr.LogEntry(),  # every field at proto3 default -> empty body
        fr.LogEntry(time_nano=-1),  # 10-byte negative varint
        fr.LogEntry(time_nano=(1 << 62), line=b"\x00\xff\xfe"),
        fr.LogEntry(source="s" * 300, line=b"y" * 5000),  # multi-byte lengths
    ]
    rows = _rows(vdecode.decode_files(["file:/s/c/x.plog"], [_blob(entries)]))
    by_no = {r["frame_no"]: r for r in rows}
    assert by_no[0]["source"] == b"" and by_no[0]["time_nano"] == 0
    assert by_no[0]["line"] == b"" and by_no[0]["partial"] is False
    assert by_no[1]["time_nano"] == -1
    assert by_no[2]["time_nano"] == 1 << 62
    assert by_no[2]["line"] == b"\x00\xff\xfe"
    assert by_no[3]["source"] == b"s" * 300
    assert by_no[3]["line"] == b"y" * 5000


def test_framing_corruption_keeps_prefix_and_emits_sentinel():
    good = _blob(_entries(10))
    rows = _rows(vdecode.decode_files(
        ["file:/s/c/t.plog"], [good + b"\x00\x00\x00\xff(short)"]))
    normal = sorted(r["frame_no"] for r in rows if r["frame_no"] >= 0)
    sentinels = [r for r in rows if r["frame_no"] == -1]
    assert normal == list(range(10))
    assert len(sentinels) == 1
    assert sentinels[0]["source"] == vdecode.DECODE_ERROR_SOURCE
    assert b"truncated frame body" in sentinels[0]["line"]


def test_protobuf_corruption_aborts_rest_of_file():
    bodies = [fr.encode_frame(e) for e in _entries(9)]
    bad = b"\x0a\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff"  # malformed varint
    blob = b"".join(bodies[:4]) + len(bad).to_bytes(4, "big") + bad \
        + b"".join(bodies[4:])
    rows = _rows(vdecode.decode_files(["file:/s/c/u.plog"], [blob]))
    assert sorted(r["frame_no"] for r in rows if r["frame_no"] >= 0) == [0, 1, 2, 3]
    assert sum(r["frame_no"] == -1 for r in rows) == 1


def test_corruption_in_one_file_does_not_affect_others():
    e = _entries(5)
    rows = _rows(vdecode.decode_files(
        ["file:/s/c/a.plog", "file:/s/c/b.plog", "file:/s/c2/c.plog"],
        [_blob(e), b"\x00\x00", _blob(e)]))
    a = [r for r in rows if r["path"].endswith("a.plog") and r["frame_no"] >= 0]
    c = [r for r in rows if r["path"].endswith("c.plog") and r["frame_no"] >= 0]
    assert len(a) == 5 and len(c) == 5
    assert sum(r["frame_no"] == -1 for r in rows) == 1


def test_unknown_fields_and_fixed_wiretypes_are_skipped():
    # field 7 varint, field 8 fixed64, field 9 fixed32, field 10 bytes —
    # all unknown to LogEntry; fixed types force the slow path, which
    # must still skip them exactly like _skip_field.
    body = bytearray()
    body += fr.encode_log_entry(fr.LogEntry(source="s", time_nano=5, line=b"z"))
    body += bytes([0x38, 0x2A])                      # 7: varint 42
    body += bytes([0x41]) + b"\x01" * 8              # 8: fixed64
    body += bytes([0x4D]) + b"\x02" * 4              # 9: fixed32
    body += bytes([0x52, 0x03]) + b"abc"             # 10: 3-byte bytes
    blob = len(body).to_bytes(4, "big") + bytes(body)
    rows = _rows(vdecode.decode_files(["file:/s/c/f.plog"], [blob]))
    assert len(rows) == 1
    assert rows[0]["source"] == b"s"
    assert rows[0]["time_nano"] == 5
    assert rows[0]["line"] == b"z"


def test_empty_file_and_empty_batch():
    assert _rows(vdecode.decode_files(["file:/s/c/e.plog"], [b""])) == []
    assert _rows(vdecode.decode_files([], [])) == []
