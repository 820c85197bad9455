"""Serial timed calls into the codec and kernel public functions.

Runs in the driver on a seeded sample of a workload's documents, one
document at a time, outside any Spark stage. The decomposition mirrors
``kernel.extract.extract_spans_doc`` (content order): ``Parser.parse``
(kernel.xref), ``Document(...)`` plus ``pages()`` (kernel.docmodel),
``decode_stream`` (kernel.filters), ``interpret_content``
(kernel.textops); ``extract_spans`` is timed whole, so its self time is
what the four parts leave over. Means feed the layer table (a layer's
share of a stage is its mean cost times the rows the stage processed);
p50/p99 are reported as per-document costs.
"""

from __future__ import annotations

import random
import time

import numpy as np

LAYERS = ("codec", "kernel.xref", "kernel.docmodel", "kernel.filters",
          "kernel.textops", "kernel.extract")


def sample_ids(n_docs: int, k: int, seed: int) -> list[int]:
    return random.Random(seed).sample(range(n_docs), min(k, n_docs))


def run(docs: list[tuple[int, str]], budget_s: float) -> dict:
    """Time each document's generation and extraction phases until
    ``budget_s`` has passed (at least 20 documents)."""
    from pdfspark.codec import build_pdf, synth_spans_py, variant_for
    from pdfspark.kernel import Parser, extract_spans
    from pdfspark.kernel.docmodel import Document
    from pdfspark.kernel.filters import decode_stream
    from pdfspark.kernel.textops import interpret_content

    clock = time.perf_counter
    us: dict[str, list[float]] = {k: [] for k in (
        "synth", "build_pdf", "parse", "pages", "decode", "interpret", "extract")}
    payload_bytes = decoded_bytes = error_docs = 0
    # first documents warm the C extensions and per-process caches
    for did, text in docs[:3]:
        extract_spans(build_pdf(str(did), synth_spans_py(str(did), text),
                                variant_for(did, "mixed")))
    deadline = clock() + budget_s
    for n, (did, text) in enumerate(docs):
        if n >= 20 and clock() > deadline:
            break
        t0 = clock()
        spans = synth_spans_py(str(did), text)
        t1 = clock()
        payload = build_pdf(str(did), spans, variant_for(did, "mixed"))
        t2 = clock()
        status, _err, _spans = extract_spans(payload)
        t3 = clock()
        us["synth"].append((t1 - t0) * 1e6)
        us["build_pdf"].append((t2 - t1) * 1e6)
        us["extract"].append((t3 - t2) * 1e6)
        payload_bytes += len(payload)
        if status != "ok":
            error_docs += 1
            continue
        t0 = clock()
        parser = Parser(payload)
        parser.parse()
        if parser.is_encrypted:
            parser.unlock(b"")
        t1 = clock()
        pages = list(Document(parser).pages())
        t2 = clock()
        resolver, fonts = parser._resolve, {}
        t_dec = t_int = 0.0
        for page in pages:
            if not page.contents:
                continue
            a = clock()
            data = b"\n".join(decode_stream(c.data, c.dict, resolver)
                              for c in page.contents)
            b = clock()
            interpret_content(data, page.resources, resolver, doc_font_cache=fonts)
            t_dec += b - a
            t_int += clock() - b
            decoded_bytes += len(data)
        us["parse"].append((t1 - t0) * 1e6)
        us["pages"].append((t2 - t1) * 1e6)
        us["decode"].append(t_dec * 1e6)
        us["interpret"].append(t_int * 1e6)
    n_docs = len(us["extract"])
    mean = {k: float(np.mean(v)) if v else 0.0 for k, v in us.items()}
    parts = mean["parse"] + mean["pages"] + mean["decode"] + mean["interpret"]
    return {
        "docs": n_docs,
        "pct": {k: (float(np.percentile(v, 50)), float(np.percentile(v, 99)))
                for k, v in us.items() if v},
        # mean µs per document, per layer of the table
        "layer_us": {
            "codec": mean["synth"] + mean["build_pdf"],
            "kernel.xref": mean["parse"],
            "kernel.docmodel": mean["pages"],
            "kernel.filters": mean["decode"],
            "kernel.textops": mean["interpret"],
            "kernel.extract": max(0.0, mean["extract"] - parts),
        },
        "payload_bytes": payload_bytes / max(n_docs, 1),
        "decoded_bytes": decoded_bytes / max(n_docs, 1),
        "error_docs": error_docs,
    }
