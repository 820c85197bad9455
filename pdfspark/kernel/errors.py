"""Error taxonomy + four-tier soft-assert policy.

Re-expresses the reference's fault model (SURVEY.md §2.8):
- ``EParseError`` — hard failure, aborts the document
  (reference: ``exception/EParseError.java``).
- Four soft-assert tiers, each gated by a settings flag
  (reference: ``parser/ParserSettings.java:8-12`` defaults,
  ``parser/Diagnostics.java:20-42`` dispatch): a failed soft assert
  either logs-and-continues or raises, per flag.

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


@dataclass
class ParserSettings:
    """Mirrors reference ``parser/ParserSettings.java`` defaults.

    - ignore syntax / structure / non-supported errors = True
    - ignore data-integrity errors = False
    The bounded-scan constants are the module constants above.
    """

    ignore_syntax_errors: bool = True
    ignore_structure_errors: bool = True
    ignore_data_integrity_errors: bool = False
    ignore_unsupported_features: bool = True

    # opt-in ISO 32000-1 §C.2 table reconstruction for files whose
    # startxref/xref chain is broken or absent. Default False: the
    # reference REQUIRES startxref (PDFParser.java:97-98), and the
    # malformed-corpus contract (no-xref family must fail) depends on it.
    allow_reconstruction: bool = False

    # --- four-tier soft asserts (Diagnostics.java:20-42) -------------
    def soft_syntax(self, cond: bool, msg: str) -> None:
        if not cond:
            if self.ignore_syntax_errors:
                log.debug("syntax: %s", msg)
            else:
                raise EParseError(msg)

    def soft_structure(self, cond: bool, msg: str) -> None:
        if not cond:
            if self.ignore_structure_errors:
                log.debug("structure: %s", msg)
            else:
                raise EParseError(msg)

    def soft_integrity(self, cond: bool, msg: str) -> None:
        # NB: default ignore_data_integrity_errors=False → integrity
        # failures RAISE by default (ParserSettings.java:11).
        if not cond:
            if not self.ignore_data_integrity_errors:
                raise EParseError(msg)
            log.debug("integrity: %s", msg)

    def soft_supported(self, cond: bool, msg: str) -> None:
        if not cond:
            if self.ignore_unsupported_features:
                log.debug("unsupported: %s", msg)
            else:
                raise EParseError(msg)


DEFAULT_SETTINGS = ParserSettings()
