"""The zip-directory re-read guard of ``crawler_spark/__init__.py``.

It leans on private names of the stdlib's ``zipimport``; these tests fail
if a Python upgrade moves them, or if a pyspark upgrade stops the guard
from being installed in its Python workers."""

from __future__ import annotations

import subprocess
import sys
import zipfile
import zipimport

import pytest

import crawler_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the guard is installed on Python < 3.12 only"
)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # restore the stdlib method after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    crawler_spark._guard_zip_directory_rereads()
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "x = 1\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()  # first sight of the archive: read
    files = zipimport._zip_directory_cache[archive]

    imp.invalidate_caches()  # unchanged: the directory already read is kept
    assert zipimport._zip_directory_cache[archive] is files
    assert imp._files is files

    with zipfile.ZipFile(archive, "a") as z:  # grows: size changes
        z.writestr("b.py", "y = 2\n")
    imp.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert imp.find_spec("b") is not None


def test_guard_installed_only_in_pyspark_workers(spark):
    probe = "import zipimport, crawler_spark; print(getattr(zipimport.zipimporter.invalidate_caches, '_crawler_spark_guard', False))"
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"

    def worker_flag(batches):
        import zipimport

        import pandas as pd

        import crawler_spark  # noqa: F401

        guard = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"guarded": [getattr(guard, "_crawler_spark_guard", False)]})

    rows = spark.range(1).mapInPandas(worker_flag, "guarded boolean").collect()
    assert [r.guarded for r in rows] == [True]
