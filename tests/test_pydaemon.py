"""The Python-worker daemon that get_spark sessions start: zip archives'
directories are re-read only when the archive changes, and workers import
the package whatever the working directory is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from agri_market_data_pipeline_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_invalidate_caches_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    modules = {
        "zpkg/__init__.py": "",
        "zpkg/a/__init__.py": "",
        "zpkg/a/m.py": "X = 1\n",
        "zpkg/b/__init__.py": "",
        "zpkg/b/m.py": "X = 2\n",
    }
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    importlib.import_module("zpkg.a.m")
    importlib.import_module("zpkg.b.m")
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) >= 3  # the archive root, zpkg, zpkg/a, zpkg/b

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert len(reads) <= 1
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {**modules, "zpkg/a/new.py": "Y = 3\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zpkg.a.new").Y == 3
    for mod in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[mod]


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A get_spark session started outside the repository, with no
    PYTHONPATH, still runs the fetch's mapInPandas: the workers' daemon and
    the pickled fetch both import the package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql.types import IntegerType, StructField, StructType
        from agri_market_data_pipeline_spark.session import get_spark
        from agri_market_data_pipeline_spark.sources.paginated_api import (
            read_paginated_api,
        )

        def fetch(offset, limit):
            return [{{"id": i}} for i in range(offset, offset + limit)]

        spark = get_spark("pydaemon-test", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        records, _ = read_paginated_api(
            spark, fetch, max_offset=20, limit=10,
            schema=StructType([StructField("id", IntegerType())]),
            num_partitions=2, pace=0.0, throttle_s=0.0,
        )
        print("rows", records.count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 20" in proc.stdout.splitlines()
