"""PySpark-native time-series anomaly-detection analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference repo
``debanjanofficial/Amonaly-detection-in-Time-Series-Data`` (a pandas+torch
batch pipeline; see SURVEY.md). Every operator is expressed as a
logical-plan-building transformation on ``pyspark.sql.DataFrame`` so that
Catalyst performs projection pruning, predicate pushdown, and whole-stage
codegen; shuffles are standardized on the series key so all window
operators share one exchange.

Layout:
    session     SparkSession factory (AQE, UTC timezone, arrow)
    sources     readers/writers (CSV with reference semantics, parquet)
    functions   scalar/column expressions (cleaning, time features, text, vectors)
    operators   DataFrame -> DataFrame transforms (dedup, missing, features,
                scaling, sequences, anomaly, relational, similarity)
    plans       composed end-to-end pipelines
    streaming   Structured Streaming variants
"""

import sys

__version__ = "0.1.0"


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive's central directory only when the archive's
    ``(st_ino, st_size, st_mtime_ns)`` differs from when this importer
    last read it.

    Every PySpark worker invocation ends its setup in
    ``importlib.invalidate_caches()``. Under Python 3.11 that makes each
    of the worker's 16-18 zipimporters (on ``pyspark.zip``, the
    spark-core jar and py4j) re-read its whole archive: 0.24-0.33 s per
    invocation on a 4-core host, for archives that do not change while
    the application runs (SCALING §17b). Python 3.13's ``zipimport``
    already invalidates lazily. A changed archive, such as a re-shipped
    ``addPyFile`` zip, is still re-read; an importer that has no
    recorded stat reads as before and records one.
    """
    import os
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_seen_stat", None):
            stdlib(self)
            self._seen_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Workers only: every worker-side unpickle of a package function imports
# this module, after pyspark.worker_util.setup_spark_files has marked the
# process as a worker. Any other process only pays this one lookup.
_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    _stat_checked_zip_invalidation()
del _files
