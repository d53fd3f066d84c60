"""The engine's Python-worker daemon (orange3_spark/_worker_daemon.py):
zipimport invalidation re-reads an archive only when it changed, and the
workers of a ``get_spark`` session run it."""

import importlib
import os
import sys
import zipfile
import zipimport

from orange3_spark import _worker_daemon
from orange3_spark.session import _PACKAGE_PARENT


def _write_zip(path, module, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path,
                                                         monkeypatch):
    module = "o3s_daemon_probe"
    arc = str(tmp_path / "probe.zip")
    _write_zip(arc, module, "VERSION = 1\n")
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.modules, module, raising=False)
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or stock_read(p))
    assert importlib.import_module(module).VERSION == 1

    # restored at teardown; install() stamps the importer made above
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _worker_daemon.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(arc) == 0

    _write_zip(arc, module, "VERSION = 2  # a different size\n")
    importlib.invalidate_caches()
    assert reads.count(arc) == 1
    del sys.modules[module]
    assert importlib.import_module(module).VERSION == 2
    importlib.invalidate_caches()
    assert reads.count(arc) == 1

    os.remove(arc)
    importlib.invalidate_caches()  # falls through to the stock method
    assert arc not in zipimport._zip_directory_cache


def test_workers_run_the_engine_daemon_and_import_shipped_files(spark,
                                                                tmp_path):
    conf = spark.sparkContext.getConf()
    assert (conf.get("spark.python.daemon.module")
            == "orange3_spark._worker_daemon")
    assert (conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0]
            == _PACKAGE_PARENT)
    module = "o3s_shipped_probe"
    arc = tmp_path / "shipped.zip"
    _write_zip(arc, module, "ANSWER = 42\n")
    spark.sparkContext.addPyFile(str(arc))

    def probe(batches):
        import zipimport

        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "daemon": zipimport.zipimporter.invalidate_caches.__module__,
                "answer": importlib.import_module(module).ANSWER,
            }, index=pdf.index)

    rows = (spark.range(8).repartition(2)
            .mapInPandas(probe, "daemon string, answer long").collect())
    assert len(rows) == 8
    assert {(r.daemon, r.answer) for r in rows} == {
        ("orange3_spark._worker_daemon", 42)}
