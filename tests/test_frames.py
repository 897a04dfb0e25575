"""Wire-frame codec (S1-S3) round-trips + corrupt-frame policy."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logsqlite_spark.sources.frames import (
    FrameDecodeError,
    LogEntry,
    PartialMeta,
    canonicalize,
    decode_frames,
    decode_log_entry,
    encode_frame,
    encode_log_entry,
    reencode_stored_frame,
)

def test_roundtrip_basic():
    e = LogEntry(source="stdout", time_nano=123456789, line=b"hello")
    out = decode_log_entry(encode_log_entry(e))
    assert (out.source, out.time_nano, out.line) == ("stdout", 123456789, b"hello")

def test_roundtrip_partial_meta():
    e = LogEntry(source="stderr", time_nano=1, line=b"x", partial=True,
                 partial_meta=PartialMeta(last=True, id="abc", ordinal=7))
    out = decode_log_entry(encode_log_entry(e))
    assert out.partial is True
    assert out.partial_meta.last is True
    assert out.partial_meta.id == "abc"
    assert out.partial_meta.ordinal == 7

def test_negative_time_nano():
    e = LogEntry(time_nano=-5, line=b"x")
    assert decode_log_entry(encode_log_entry(e)).time_nano == -5

def test_frame_stream():
    frames = b"".join(
        encode_frame(LogEntry(source="stdout", time_nano=i, line=f"l{i}".encode()))
        for i in range(5)
    )
    entries = list(decode_frames(frames))
    assert [e.time_nano for e in entries] == list(range(5))

def test_truncated_frame_raises():
    blob = encode_frame(LogEntry(line=b"x"))[:-1]
    with pytest.raises(FrameDecodeError):
        list(decode_frames(blob))

def test_bad_length_prefix_raises():
    with pytest.raises(FrameDecodeError):
        list(decode_frames(struct.pack(">I", 999) + b"short"))

def test_canonicalize_appends_newline_once():
    assert canonicalize(LogEntry(line=b"a")).line == b"a\n"
    assert canonicalize(LogEntry(line=b"a\n")).line == b"a\n"

def test_stored_frame_is_reparseable():
    # S3: message blob = length-prefixed re-encoded entry w/ newline
    blob = reencode_stored_frame(LogEntry(source="stdout", time_nano=9, line=b"hi"))
    [e] = list(decode_frames(blob))
    assert e.line == b"hi\n"

@settings(max_examples=200, deadline=None)
@given(
    source=st.sampled_from(["stdout", "stderr", ""]),
    time_nano=st.integers(min_value=-(2**62), max_value=2**62),
    line=st.binary(max_size=200),
    partial=st.booleans(),
)
def test_roundtrip_property(source, time_nano, line, partial):
    e = LogEntry(source=source, time_nano=time_nano, line=line, partial=partial)
    out = decode_log_entry(encode_log_entry(e))
    assert out.source == source
    assert out.time_nano == time_nano
    assert out.line == line
    assert out.partial == partial


@settings(max_examples=300, deadline=None)
@given(
    source=st.text(max_size=40),
    time_nano=st.integers(min_value=0, max_value=2**62),
    line=st.text(max_size=300),
)
def test_wire_length_oracle_formula_matches_encoder(source, time_nano, line):
    """The wire_frames DuckDB oracle predicts n_bytes with pure varint
    arithmetic (parity_queries.py); pin that formula against the REAL
    encoder for arbitrary entries so oracle and encoder can't drift.
    varint_len(x>0) = ceil(bitlength/7); falsy fields are skipped."""
    from logsqlite_spark.sources.frames import LogEntry, encode_frame

    def vlen(x: int) -> int:
        return (x.bit_length() + 6) // 7 if x > 0 else 1

    sl = len(source.encode("utf-8"))
    ll = len(line.encode("utf-8"))
    want = 4
    if sl > 0:
        want += 1 + vlen(sl) + sl
    if time_nano != 0:
        want += 1 + vlen(time_nano)
    if ll > 0:
        want += 1 + vlen(ll) + ll
    got = len(encode_frame(LogEntry(
        source=source, time_nano=time_nano, line=line.encode("utf-8"))))
    assert got == want
