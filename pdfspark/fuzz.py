"""Deterministic mutation fuzzing of the reference's sample corpus.

The reference's robustness contract is FileHandlingTest.java:45-55 —
every malformed input must raise a typed parse error, never crash the
harness.  Its bundled malformed corpus is only four hand-made files;
real web-crawl corpora fail in richer ways: truncated downloads,
stale/corrupt ``startxref`` offsets, and bit rot / transfer corruption
at arbitrary offsets.  This module derives exactly those three failure
modes from the reference's own seven sample PDFs, fully
deterministically (every mutation parameter comes from
``md5(fname:kind:seed)``), so the resulting 84-mutant corpus has a
pinned per-mutant outcome manifest that doubles as the DuckDB oracle
(driver query ``pdf_mutation_golden``).

Outcome vocabulary (kernel/extract.py::extract_spans_fuzz):
``ok`` (clean entry-point parse), ``salvaged`` (a recovery path ran —
§C.2 reconstruction or the stale-startxref rescan — and extraction
still succeeded), ``error`` (the typed ``EParseError``; the exception
class is part of the pinned row).  Zero batch kills is the contract:
any other exception fails the task, and any mutant that segfaults or
hangs the worker is a kernel bug.
"""

from __future__ import annotations

import hashlib

MUTATION_KINDS = ("truncate", "xref_offset", "bitflip")
MUTATION_SEEDS = (1, 2, 3, 4)

# r8 breadth: generator-variant seed payloads — the structural shapes
# the salvage / crypt / ObjStm / structure-tree code actually faces
# (the reference corpus is all classic-layout unencrypted). One
# deterministic doc per variant; each expands into the same 12-mutant
# grid, outcomes pinned in the manifest like the reference rows.
GEN_FUZZ_VARIANTS = (
    "classic", "objstream", "incremental", "hybrid",
    "encrypted", "forms", "tagged", "nospace",
)
GEN_FUZZ_TEXT = (
    "seeded mutation corpus for structural fuzz rounds " * 18
)  # ~900 chars → 12 text spans over 3+ pages


def generator_seed_payload(variant: str) -> tuple[str, bytes]:
    """One deterministic generator-variant seed: (pseudo-fname,
    payload), named ``gen:<variant>``. The SINGLE construction site —
    the pinned manifest, the serial twin and the Spark driver query
    all build seeds through here, so the doc-id format / text
    constant / naming can never desync between them."""
    from .codec import build_pdf, synth_spans_py

    did = f"fz_{variant}"
    return (
        f"gen:{variant}",
        build_pdf(did, synth_spans_py(did, GEN_FUZZ_TEXT), variant),
    )


def generator_seed_files() -> list[tuple[str, bytes]]:
    """[(pseudo-fname, payload)] — deterministic generator-variant
    seeds, named ``gen:<variant>`` so manifest rows sort next to the
    reference files they complement."""
    return [generator_seed_payload(v) for v in GEN_FUZZ_VARIANTS]


def _digest(fname: str, kind: str, seed: int, salt: int = 0) -> bytes:
    key = f"{fname}:{kind}:{seed}:{salt}".encode()
    return hashlib.md5(key).digest()


def mutate(data: bytes, fname: str, kind: str, seed: int) -> bytes:
    """One deterministic mutant of ``data``.  ``fname`` keys the
    mutation stream so identical bytes under different names still get
    distinct, reproducible corruption."""
    h = _digest(fname, kind, seed)
    n = len(data)
    if kind == "truncate":
        # keep 5-95% of the file — a partial download
        frac = 5 + int.from_bytes(h[:4], "big") % 91
        return data[: max(10, n * frac // 100)]
    if kind == "xref_offset":
        # overwrite the digit run after the LAST startxref keyword
        # in place (same length — %%EOF and everything else stays
        # put): a stale or corrupt entry-point offset
        i = data.rfind(b"startxref")
        if i < 0:
            return data
        j = i + len(b"startxref")
        while j < n and data[j : j + 1] in (b"\r", b"\n", b" ", b"\t"):
            j += 1
        k = j
        while k < n and data[k : k + 1].isdigit():
            k += 1
        if k == j:
            return data
        bogus = str(int.from_bytes(h[:8], "big") % (2 * n)).rjust(k - j, "0")
        return data[:j] + bogus[-(k - j):].encode() + data[k:]
    if kind == "bitflip":
        # flip one bit at each of 16 seeded offsets — bit rot /
        # transfer corruption; offsets skip the first 5 header bytes
        # so the corpus stays PDF-classified (header corruption is
        # the malformed-golden corpus's territory)
        if n <= 5:
            # nothing after the protected header region — a ≤5-byte
            # payload has no flippable byte under this scheme (the
            # n > 5 formula below would index off the end)
            return data
        buf = bytearray(data)
        for t in range(16):
            ht = _digest(fname, kind, seed, salt=t + 1)
            off = 5 + int.from_bytes(ht[:8], "big") % (n - 5)
            bit = ht[8] % 8
            buf[off] ^= 1 << bit
        return bytes(buf)
    raise ValueError(f"unknown mutation kind: {kind}")


def mutant_rows_for(
    fname: str, data: bytes
) -> list[tuple[str, str, int, str, str, int]]:
    """Run every (kind, seed) mutant of one file through the lenient
    kernel → [(fname, kind, seed, status, err_class, n_spans)]."""
    from .kernel.extract import extract_spans_fuzz

    out = []
    for kind in MUTATION_KINDS:
        for seed in MUTATION_SEEDS:
            status, err_class, spans = extract_spans_fuzz(
                mutate(data, fname, kind, seed)
            )
            out.append((fname, kind, seed, status, err_class, len(spans)))
    return out


def manifest_sql() -> str:
    """The pinned manifest as a DuckDB VALUES oracle (generated by
    tools/gen_mutation_manifest.py; regen after any kernel change
    that legitimately alters an outcome — the diff is the review)."""
    from .fuzz_manifest import MUTATION_MANIFEST

    rows = ",\n  ".join(
        "('{}', '{}', CAST({} AS INT), '{}', '{}', CAST({} AS BIGINT))".format(
            f.replace("'", "''"), k, s, st, ec, ns
        )
        for (f, k, s, st, ec, ns) in MUTATION_MANIFEST
    )
    return (
        "SELECT * FROM (VALUES\n  "
        + rows
        + "\n) AS t(fname, kind, seed, status, err_class, n_spans)"
    )
