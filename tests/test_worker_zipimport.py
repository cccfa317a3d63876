"""The package's stat-checked zip invalidation (package ``__init__``):
in PySpark worker processes only, ``importlib.invalidate_caches()``
re-reads a zip archive's central directory only when the archive
changed since that importer last read it.

The Spark-free checks run in a subprocess so this test process keeps
the standard-library ``zipimport`` behaviour.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    import pyspark.core.files  # imported, but not marked as a worker
    import amonaly_detection_in_time_series_data_spark as pkg

    stdlib = zipimport.zipimporter.invalidate_caches
    assert stdlib.__module__ == "zipimport", stdlib.__module__

    archive = sys.argv[1]

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(n + ".py", f"NAME = {n!r}\\n")

    write("m1")
    sys.path.insert(0, archive)
    import m1
    assert m1.NAME == "m1"

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting

    # the standard library re-reads an unchanged archive on every call
    importlib.invalidate_caches()
    assert reads == [archive], reads

    pkg._stat_checked_zip_invalidation()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.__module__ == pkg.__name__
    importlib.invalidate_caches()  # no recorded stat yet: reads, records
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads

    write("m1", "m2")
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import m2
    assert m2.NAME == "m2"
    print("ok")
    """
)


def test_stat_checked_invalidation_outside_spark(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(tmp_path / "mods.zip")],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_installed_on_workers_only(spark):
    """A ``mapInPandas`` run twice: inside the worker the installed
    method is the stat-checked one, and a repeated
    ``importlib.invalidate_caches()`` reads no archive; the test process
    keeps the standard-library method."""
    import zipimport

    def probe(batches):
        import importlib
        import zipimport

        import amonaly_detection_in_time_series_data_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"module": [method.__module__], "reads": [len(reads)]})

    df = spark.range(1, numPartitions=1)
    for _ in range(2):
        rows = df.mapInPandas(probe, "module string, reads int").collect()
        assert [tuple(r) for r in rows] == [
            ("amonaly_detection_in_time_series_data_spark", 0)
        ]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
