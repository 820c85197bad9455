"""Error taxonomy: one hard failure, and soft asserts as diagnostics.

Re-expresses the reference's fault model (SURVEY.md §2.8):
- ``EParseError`` — hard failure, aborts the document
  (reference: ``exception/EParseError.java``).
- Soft asserts (reference: ``parser/Diagnostics.java:20-42`` dispatch,
  gated by ``parser/ParserSettings.java:8-12``): here every soft
  assert is a diagnostic. ``soft(tier, msg)`` logs ``"<tier>: <msg>"``
  at DEBUG and never changes output; the tier labels in use are
  ``syntax``, ``structure`` and ``unsupported``. The reference's
  strict tiers have no counterpart: a strict flag would be a second
  place deciding that a document failed.

One policy for a failed document: an ``EParseError`` means a broken
document, and any other exception is a bug. At Spark scale every
stage runs through ``engine.per_doc``, which gives zero rows for an
``EParseError`` and fails the task on anything else, so a kernel bug
is never a silently missing row. The status wrappers
(``extract.extract_spans``, ``extract_spans_fuzz``, ``extract_meta``)
report the same ``EParseError`` as ``(status='error', error=msg)``
and let every other exception through.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

log = logging.getLogger("pdfspark.kernel")


class EParseError(Exception):
    """Hard parse failure — aborts the current document only."""


# Bounded-scan constants of reference ``parser/ParserSettings.java``;
# no caller sets them, so they are not settings here.
EOF_LOOKUP_RANGE = 1024  # eofLookupRange, "Same as Acrobat" (:16)
HEADER_LOOKUP_RANGE = 100  # headerLookupRange (:14-15)
STARTXREF_LOOKUP_RANGE = 100  # startxref reverse scan (PDFParser.java:97)
MAX_SCAN_RANGE = 100  # MAX_SCAN_RANGE (:6)
# dereference depth guard (COSDictionary.java:102-110)
MAX_DEREF_DEPTH = 5


def soft(tier: str, msg: str) -> None:
    """A failed soft assert: log it and carry on (the C scanner calls
    this too, handed over once by ``_ctok.configure``)."""
    log.debug("%s: %s", tier, msg)


@dataclass
class ParserSettings:
    """The one parser option callers set.

    Opt-in ISO 32000-1 §C.2 table reconstruction for files whose
    startxref/xref chain is broken or absent. Default False: the
    reference REQUIRES startxref (PDFParser.java:97-98), and the
    malformed-corpus contract (no-xref family must fail) depends on it.
    The bounded-scan limits are the module constants above.
    """

    allow_reconstruction: bool = False


DEFAULT_SETTINGS = ParserSettings()
