"""Seeded input generator: one ``documents.parquet`` per workload.

The schema is the one ``engine.load_documents`` and the registered
queries read (``doc_id, text, lang, source, n_chars``). Texts are
word sequences drawn from the sf0.1 ``documents`` vocabulary (30 words,
near-uniform unigram counts, 10-100 words per document), so every
profile has the statistics of the repository's test corpus without
reading it. The same ``(profile, n_docs, seed)`` gives byte-identical
files and the same digest.

Profiles:

- ``small``: sf0.1-sized documents (10-100 words, about 300 chars).
- ``long``: a heavy-tailed length profile, log-normal around 8 KB
  (sigma 1), clipped to [2 KB, 256 KB].
- ``neardup``: sf0.1-sized documents where a fifth are copies of an
  earlier document with 0-8 words substituted, so MinHash LSH finds
  real candidate pairs on both sides of the Jaccard 0.5 cut.

Every seed shares one layout: which document gets which size (the
profile's quantiles, ``_strata``), which documents are near-duplicates
of which, and where their edits fall. So every seed does the same
amount of work, placed the same way across buckets and partitions; the
seed picks the words, the substituted words, languages and sources.
"""

from __future__ import annotations

import hashlib
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = np.array([2059, 753, 744, 742, 702], dtype=float) / 5000
N_SOURCES = 20

LONG_MEDIAN_CHARS = 8192
LONG_MIN_CHARS = 2048
LONG_MAX_CHARS = 256 * 1024
NEARDUP_SHARE = 0.2
NEARDUP_MAX_EDITS = 8
LAYOUT_SEED = 20240601


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _strata(layout: np.random.Generator, n: int) -> np.ndarray:
    """The n quantile midpoints (i + 0.5) / n in the layout's order."""
    return layout.permutation((np.arange(n) + 0.5) / n)


def _small_texts(rng: np.random.Generator, layout: np.random.Generator,
                 n_docs: int) -> list[str]:
    counts = 10 + (_strata(layout, n_docs) * 91).astype(int)
    return [" ".join(_words(rng, int(c))) for c in counts]


def _long_texts(rng: np.random.Generator, layout: np.random.Generator,
                n_docs: int) -> list[str]:
    z = np.array([NormalDist().inv_cdf(q) for q in _strata(layout, n_docs)])
    chars = np.clip(LONG_MEDIAN_CHARS * np.exp(z), LONG_MIN_CHARS, LONG_MAX_CHARS)
    # 5.6 chars per word on average (4.6-letter words plus a space)
    return [" ".join(_words(rng, max(1, int(c / 5.6)))) for c in chars]


def _neardup_texts(rng: np.random.Generator, layout: np.random.Generator,
                   n_docs: int) -> list[str]:
    texts = _small_texts(rng, layout, n_docs)
    copies = layout.choice(np.arange(1, n_docs), int(n_docs * NEARDUP_SHARE), replace=False)
    for k, j in enumerate(sorted(copies)):
        words = texts[int(layout.integers(0, j))].split(" ")
        for _ in range(k % (NEARDUP_MAX_EDITS + 1)):
            words[int(layout.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[j] = " ".join(words)
    return texts


PROFILES = {"small": _small_texts, "long": _long_texts, "neardup": _neardup_texts}


def generate(profile: str, n_docs: int, seed: int, out_dir: str) -> dict:
    """Write ``out_dir/documents.parquet``; return its description
    (row count, text bytes, digest of the ``(doc_id, text)`` rows)."""
    profile_no = sorted(PROFILES).index(profile)
    rng = np.random.default_rng([seed, profile_no])
    layout = np.random.default_rng([LAYOUT_SEED, profile_no])
    texts = PROFILES[profile](rng, layout, n_docs)
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = [f"src{i}" for i in rng.integers(0, N_SOURCES, n_docs)]
    h = hashlib.sha256()
    for did, text in enumerate(texts):
        h.update(f"{did}\x1f{text}\n".encode())
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return {
        "profile": profile,
        "docs": n_docs,
        "text_bytes": sum(len(t) for t in texts),
        "max_chars": max(len(t) for t in texts),
        "digest": h.hexdigest()[:16],
    }
