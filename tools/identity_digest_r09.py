"""Byte-identity harness for r9 micro-optimizations.

Digests (a) every generated payload and (b) every extracted span tuple
over all generator variants for a doc sample, so any behavioral drift
from a CPU optimization shows up as a digest change.

Usage: python tools/identity_digest_r09.py <sf_dir> [N]
"""
import hashlib
import sys

import pyarrow.parquet as pq

sys.path.insert(0, ".")
from pdfspark.codec import build_pdf, synth_spans_py, variant_for  # noqa: E402
from pdfspark.kernel import EParseError, extract_spans_doc  # noqa: E402

VARIANTS = [
    "mixed", "classic", "objstream", "incremental", "hybrid",
    "filters_rotate", "crlf",
    "encrypted", "forms", "tagged", "nospace", "cjk:hanzi", "cjk:embedded",
    "cjk:japan1", "cjk:gb1", "type3", "pubsec",
]


def main() -> None:
    sf_dir = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = tbl["doc_id"].to_pylist()[:n]
    texts = tbl["text"].to_pylist()[:n]

    for variant in VARIANTS:
        hp = hashlib.sha256()
        hs = hashlib.sha256()
        ro = variant == "tagged"
        isp = variant == "nospace"
        for d, t in zip(ids, texts):
            try:
                v = variant_for(int(d), variant)
                p = build_pdf(str(d), synth_spans_py(str(d), t), v)
            except ValueError:
                print(f"{variant}: SKIP (unknown)")
                break
            hp.update(p)
            try:
                row = ("ok", None, extract_spans_doc(
                    p, reading_order=ro, infer_spaces=isp
                ))
            except EParseError as e:
                row = ("error", f"{type(e).__name__}: {e}", [])
            hs.update(repr(row).encode())
        else:
            print(f"{variant}: payload={hp.hexdigest()[:16]} "
                  f"spans={hs.hexdigest()[:16]}")


if __name__ == "__main__":
    main()
