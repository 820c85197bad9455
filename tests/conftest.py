from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference/pdfparse-lib/src/test/resources"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def ref_bytes(name: str) -> bytes:
    with open(os.path.join(REF, name), "rb") as f:
        return f.read()


def one_page_pdf(content: bytes, filters: bytes = b"") -> bytes:
    """A classic one-page PDF whose only content stream is ``content``
    (already encoded for ``filters``), with exact xref offsets."""
    return classic_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R >>",
        b"<< /Length %d %s>>\nstream\n%s\nendstream"
        % (len(content), filters, content),
    ])


def classic_pdf(objs: list) -> bytes:
    """A classic PDF of the object bodies ``objs`` (numbered from 1,
    object 1 the catalog), with exact xref offsets."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


@pytest.fixture(scope="session")
def spark():
    from pdfspark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="pdfspark-tests")
    yield s
    s.stop()
