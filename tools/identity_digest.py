"""Output-identity digests: run on two commits, compare the lines.

For the first N documents of an sf directory, builds every generator
variant and prints, per variant, a digest of the payload bytes and
three span digests of ``extract_spans_doc``: with ``geometry=True``,
with ``reading_order=True``, and with ``infer_spaces=True`` plus
geometry. A broken document digests as its ``EParseError`` row. Any
change in what the generator writes or the kernel extracts changes a
digest. Run it with and without ``PDFSPARK_NO_CTOK=1`` to cover both
kernel tiers. The ``pubsec`` payload digest differs from run to run
(its PKCS#7 envelope is randomized); its span digests do not.

Usage: python tools/identity_digest.py <sf_dir> [N]   (N defaults to 300)
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
    "encrypted", "forms", "tagged", "nospace", "cjk", "cjk:hanzi",
    "cjk:embedded", "cjk:japan1", "cjk:gb1", "cjk:cns1", "cjk:korea1",
    "type3", "pubsec",
]
MODES = {
    "geometry": dict(geometry=True),
    "reading_order": dict(reading_order=True),
    "infer_spaces": dict(infer_spaces=True, geometry=True),
}


def main() -> None:
    sf_dir = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = tbl["doc_id"].to_pylist()[:n]
    texts = tbl["text"].to_pylist()[:n]

    for variant in VARIANTS:
        hp = hashlib.sha256()
        hs = {mode: hashlib.sha256() for mode in MODES}
        for d, t in zip(ids, texts):
            v = variant_for(int(d), variant)
            p = build_pdf(str(d), synth_spans_py(str(d), t), v)
            hp.update(p)
            for mode, kw in MODES.items():
                try:
                    row = ("ok", None, extract_spans_doc(p, **kw))
                except EParseError as e:
                    row = ("error", f"{type(e).__name__}: {e}", [])
                hs[mode].update(repr(row).encode())
        print(f"{variant}: payload={hp.hexdigest()[:16]} "
              + " ".join(f"{m}={h.hexdigest()[:16]}" for m, h in hs.items()))


if __name__ == "__main__":
    main()
