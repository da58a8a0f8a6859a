"""The Python worker daemon: archives are re-read only when they
change, and sessions from ``get_spark`` run their kernels under it."""

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pyarrow as pa

from data_pipeline_standalone_scripts_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    worker_daemon._invalidate_caches(imp)
    files = imp._files
    worker_daemon._invalidate_caches(imp)
    assert imp._files is files


def test_rewritten_archive_is_reread(tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    worker_daemon._invalidate_caches(imp)
    files = imp._files
    _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    worker_daemon._invalidate_caches(imp)
    assert imp._files is not files
    spec = imp.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_missing_archive_takes_stock_path(tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    worker_daemon._invalidate_caches(imp)
    os.remove(path)
    worker_daemon._invalidate_caches(imp)
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache


def _collect_strings(spark, kern):
    return [r.s for r in spark.range(1).mapInArrow(kern, "s string").collect()]


def test_kernels_run_under_the_daemon(spark):
    def kern(batches):
        import zipimport

        for _ in batches:
            mod = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.record_batch([pa.array([mod])], names=["s"])

    assert _collect_strings(spark, kern) == [worker_daemon.__name__]


def test_py_files_added_mid_session_import_in_kernels(spark, tmp_path):
    zip_mod = f"graft_zip_{uuid.uuid4().hex}"
    py_mod = f"graft_py_{uuid.uuid4().hex}"
    _write_zip(tmp_path / f"{zip_mod}.zip", {zip_mod: "VALUE = 'zip'\n"})
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    # a kernel runs first, so the workers exist before the files arrive
    def warm(batches):
        for _ in batches:
            yield pa.record_batch([pa.array(["warm"])], names=["s"])

    assert _collect_strings(spark, warm) == ["warm"]
    spark.sparkContext.addPyFile(str(tmp_path / f"{zip_mod}.zip"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_mod}.py"))

    def kern(batches):
        import importlib

        for _ in batches:
            vals = [importlib.import_module(m).VALUE for m in (zip_mod, py_mod)]
            yield pa.record_batch([pa.array(vals)], names=["s"])

    assert _collect_strings(spark, kern) == ["zip", "py"]
