"""pdfspark — a PySpark-native document extraction + training-data
analytics engine.

Reproduces WHAT agolinko/pdfparse computes (PDF object-layer
resolution + per-document extraction; see SURVEY.md) re-expressed as
an idiomatic Spark pipeline over interleaved text+media span tables,
plus the large-scale training-data operators (dedup, similarity,
text stats, multimodal plumbing) such a corpus pipeline needs.

Layout:
    kernel/   pure-Python per-document parse kernel (no Spark imports)
    codec.py  deterministic spans→PDF generator (all layout variants)
    engine.py Spark pipeline stages (synthesis → generate → extract)
    scale.py  skew salting + lineage/checkpoint + resumable runs
    ops/      dedup / ann / textstats / multimodal / relational /
              streaming operators over the corpus tables
    oracle.py pure-Python single-doc oracle used by pytest
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

_stock_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_added_zip(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only archives
    under the SparkFiles root, where ``addPyFile``/``--py-files`` land;
    with no root known, every archive is re-read as before."""
    from pyspark.core.files import SparkFiles

    root = SparkFiles._root_directory
    if root is None or os.path.abspath(self.archive).startswith(
        os.path.join(os.path.abspath(root), "")
    ):
        _stock_zip_invalidate(self)


def keep_spark_zip_directories() -> None:
    """Stop each Python task from re-reading Spark's own zip archives.

    pyspark's worker calls ``importlib.invalidate_caches()`` before
    every task, and in a reused worker the stock zipimporter answers
    by re-reading the whole central directory of every archive it has
    an importer for: pyspark.zip (1,328 entries, once per package
    importer), the spark-core jar (5,359 entries) and py4j — a median
    of 130 ms per task on a 4-vCPU host. Those archives sit outside the
    SparkFiles root and do not change while the worker lives, so
    their listings are kept; archives under the root keep the stock
    re-read. Idempotent."""
    zipimport.zipimporter.invalidate_caches = _invalidate_added_zip


# unpickling any pdfspark stage imports this package inside the task,
# once per worker process; the driver and kernel-only imports skip it
if "pyspark" in sys.modules:
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        keep_spark_zip_directories()
