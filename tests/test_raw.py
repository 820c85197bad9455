"""Byte-cursor primitive tests (SURVEY.md §2.2 B1-B9) — pins the
PDFRawData.java-transcribed semantics."""

from __future__ import annotations

import logging

import pytest

from pdfspark.kernel.errors import EParseError, soft
from pdfspark.kernel.raw import Raw


def test_skip_ws_b1():
    r = Raw(b"\x00\t\n\x0c\r abc")
    r.skip_ws()
    assert r.pos == 6 and r.data[r.pos : r.pos + 1] == b"a"


def test_skip_ws_and_comments_t10():
    r = Raw(b"  % a comment\n  % another\r\n42")
    r.skip_ws_and_comments()
    assert r.data[r.pos : r.pos + 2] == b"42"


@pytest.mark.parametrize(
    "data,after",
    [(b"line1\nX", b"X"), (b"line1\r\nX", b"X"), (b"line1\rX", b"X")],
)
def test_skip_line_b2(data, after):
    r = Raw(data)
    r.skip_line()
    assert r.data[r.pos : r.pos + 1] == after


def test_read_line():
    r = Raw(b"%PDF-1.4\r\nrest")
    assert r.read_line() == b"%PDF-1.4"
    assert r.data[r.pos :] == b"rest"


def test_fetch_uint_b4():
    r = Raw(b"  00123/")
    assert r.fetch_uint() == 123
    with pytest.raises(EParseError):
        Raw(b"abc").fetch_uint()


def test_fetch_binary_uint_b5():
    r = Raw(b"\x01\x02\x03\x04")
    assert r.fetch_binary_uint(2) == 0x0102
    assert r.fetch_binary_uint(2) == 0x0304
    with pytest.raises(EParseError):
        r.fetch_binary_uint(1)  # beyond end
    with pytest.raises(EParseError):
        Raw(b"xx").fetch_binary_uint(5)


def test_check_signature_b6():
    r = Raw(b"xyzstream")
    assert r.check_signature(b"xyz")
    assert r.check_signature(b"stream", at=3)
    assert not r.check_signature(b"stream")


def test_reverse_scan_b7_bounded():
    data = b"A" * 2000 + b"%%EOF" + b"B" * 10
    r = Raw(data)
    assert r.reverse_scan(len(data), b"%%EOF", 1024) == 2000
    # outside the lookup window → not found
    data2 = b"%%EOF" + b"B" * 2000
    assert Raw(data2).reverse_scan(len(data2), b"%%EOF", 1024) == -1


def test_read_stream_body_b9():
    body = b"S" * 20
    r = Raw(body + b"\nendstream endobj")
    got = r.read_stream_body(20)
    assert got == body
    assert r.data[r.pos : r.pos + 1] == b" "  # cursor after 'endstream'
    with pytest.raises(EParseError):
        Raw(b"short").read_stream_body(100)


def test_soft_event_logs_debug_and_never_raises(caplog):
    # §2.8: every soft assert is a diagnostic — logged at DEBUG on
    # pdfspark.kernel as "<tier>: <msg>", output unchanged
    caplog.set_level(logging.DEBUG, logger="pdfspark.kernel")
    soft("structure", "tolerated")
    r = Raw(b"\rbody")
    r.skip_crlf_or_lf()  # lone CR after `stream`: a syntax event
    assert r.pos == 1
    assert [
        (rec.levelno, rec.getMessage())
        for rec in caplog.records
        if rec.name == "pdfspark.kernel"
    ] == [
        (logging.DEBUG, "structure: tolerated"),
        (logging.DEBUG, "syntax: lone CR after 'stream' keyword"),
    ]
