"""The engine's Python-worker daemon (``pyworker``): a zip archive is re-read
only when it changed, and the daemon runs the sessions ``get_spark`` builds,
from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from airflow_postgres_to_s3_pipeline_spark import pyworker
from airflow_postgres_to_s3_pipeline_spark.session import PACKAGE_ROOT

# the module whose invalidate_caches a worker runs: Python 3.13 is lazy
INVALIDATE_MODULE = (
    "airflow_postgres_to_s3_pipeline_spark.pyworker"
    if sys.version_info < (3, 13)
    else "zipimport"
)


def _write_zip(path, module, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy"
)
def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    module = "pyworker_probe_mod"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, module, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_read_stamps", {})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, module, raising=False)
    assert importlib.import_module(module).VALUE == 1
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first call: nothing stamped yet
    assert reads == [archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]

    # rewrite in place with new content, a new size and a later mtime
    mtime_ns = os.stat(archive).st_mtime_ns
    _write_zip(archive, module, 22)
    os.utime(archive, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 22


def test_udf_runs_under_the_engine_daemon(spark, tmp_path):
    def invalidate_module(it):
        import zipimport

        for pdf in it:
            yield pdf.assign(
                m=zipimport.zipimporter.invalidate_caches.__module__
            )

    rows = (
        spark.range(2)
        .mapInPandas(invalidate_module, "id long, m string")
        .collect()
    )
    assert {r.m for r in rows} == {INVALIDATE_MODULE}

    # a zip added after the workers started is importable from a UDF
    module = "pyworker_added_mod"
    archive = tmp_path / f"{module}.zip"
    _write_zip(archive, module, 7)
    spark.sparkContext.addPyFile(str(archive))

    def added_value(it):
        import importlib

        value = importlib.import_module("pyworker_added_mod").VALUE
        for pdf in it:
            yield pdf.assign(v=value)

    rows = spark.range(2).mapInPandas(added_value, "id long, v long").collect()
    assert {r.v for r in rows} == {7}


def test_daemon_runs_from_any_working_directory(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from airflow_postgres_to_s3_pipeline_spark.session import get_spark

        def invalidate_module(it):
            import zipimport

            for pdf in it:
                yield pdf.assign(
                    m=zipimport.zipimporter.invalidate_caches.__module__
                )

        spark = get_spark(app_name="pyworker-cwd", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.range(3).mapInPandas(invalidate_module, "id long, m string")
        print("UDF", df.count(), df.first().m)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"UDF 3 {INVALIDATE_MODULE}" in proc.stdout.splitlines()
