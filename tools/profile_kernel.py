"""Serial kernel profiler — the feedback loop for kernel-tier work.

Builds the mixed-variant profile corpus (300 docs, 50-550 chars —
the same shape BENCH/BASELINE.md's kernel table quotes), then times
`extract_spans_doc` end-to-end (``--geo``: geometry-widened spans; a
broken document raises) and prints a cProfile breakdown. No Spark:
this isolates docs/s/core, the quantity that scales linearly with
executors at 100 TB.

Usage: python tools/profile_kernel.py [--docs 300] [--profile] [--geo]
"""

from __future__ import annotations

import argparse
import cProfile
import hashlib
import pstats
import sys
import time
from functools import partial

sys.path.insert(0, ".")

from pdfspark.codec import build_pdf, synth_spans_py, variant_for  # noqa: E402
from pdfspark.kernel.extract import extract_spans_doc  # noqa: E402


def corpus(n_docs: int) -> list[bytes]:
    docs = []
    for i in range(n_docs):
        doc_id = f"prof{i:05d}"
        tlen = 50 + (i * 97) % 501
        text = "".join(
            hashlib.md5(f"{doc_id}:{k}".encode()).hexdigest()
            for k in range(tlen // 32 + 1)
        )[:tlen]
        mode = ("mixed", "filters_rotate", "encrypted", "cjk", "forms",
                "cjk:embedded")[i % 6]
        variant = variant_for(i, mode) if mode in ("mixed", "filters_rotate") else mode
        docs.append(build_pdf(doc_id, synth_spans_py(doc_id, text), variant))
    return docs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--geo", action="store_true")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    docs = corpus(args.docs)
    fn = partial(extract_spans_doc, geometry=args.geo)

    def run() -> int:
        return sum(len(fn(d)) for d in docs)

    n_spans = run()  # warm (font caches are per-call, but C ext loads)
    best = min(
        (lambda t0: (run(), time.perf_counter() - t0))(time.perf_counter())[1]
        for _ in range(args.reps)
    )
    print(
        f"{args.docs} docs, {n_spans} spans: best-of-{args.reps} "
        f"{best:.3f}s = {args.docs / best:.0f} docs/s/core"
    )

    if args.profile:
        pr = cProfile.Profile()
        pr.enable()
        run()
        pr.disable()
        st = pstats.Stats(pr)
        st.sort_stats("cumulative").print_stats(30)


if __name__ == "__main__":
    main()
