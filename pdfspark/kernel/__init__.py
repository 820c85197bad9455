"""pdfspark.kernel — the per-document parse/extract kernel.

Pure-Python + numpy, no Spark imports: the same code is the pytest
oracle (run directly on fixture bytes) and the engine kernel (run
inside mapInPandas over Arrow batches). See SURVEY.md §7.
"""

from .errors import DEFAULT_SETTINGS, EParseError, ParserSettings  # noqa: F401
from .extract import (  # noqa: F401
    extract_meta,
    extract_meta_doc,
    extract_spans,
    extract_spans_doc,
    parse_document,
)
from .xref import Parser  # noqa: F401
