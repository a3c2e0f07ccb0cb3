"""The stat-gated import-cache invalidation of ``worker_imports``.

With Spark: the package installs it inside the workers that run its
functions, pyspark's per-task set-up still reaches it, and files added with
``addPyFile`` after the first task still import.  Without Spark: it keeps
the semantics of CPython's ``importlib.invalidate_caches`` except that an
unchanged zip archive is not re-read.
"""

import importlib
import sys
import types
import uuid
import zipfile

import pytest

from pyspark.sql.types import StringType

import kafka_error_handling_spark as keh
from kafka_error_handling_spark.worker_imports import _Importlib, install


def _in_worker(spark, fn, n=4):
    """``fn(value)`` run by a capture function over ``n`` rows in 2
    partitions; its results, or the first captured error."""
    df = spark.range(n).selectExpr("id AS key", "CAST(id AS STRING) AS value").repartition(2)
    p = keh.capture_map_values(df, fn, StringType())
    errs = keh.errors(p).collect()
    assert not errs, errs[0].error.stack_trace
    return [r.result for r in keh.values(p).collect()]


def test_worker_runs_the_shim(spark):
    def probe(_):
        import pyspark.worker_util as wu

        return type(wu.importlib).__name__

    assert set(_in_worker(spark, probe)) == {"_Importlib"}


def test_pyspark_still_calls_invalidate_caches_through_the_module(spark):
    """The shim only takes effect while ``setup_spark_files`` calls
    ``importlib.invalidate_caches()`` through the module attribute it swaps;
    checked in a worker, where that module is loaded."""

    def probe(_):
        from pyspark.worker_util import setup_spark_files

        names = setup_spark_files.__code__.co_names
        return f"{'importlib' in names} {'invalidate_caches' in names}"

    assert set(_in_worker(spark, probe)) == {"True True"}, (
        "pyspark.worker_util.setup_spark_files no longer calls"
        " importlib.invalidate_caches(): worker_imports has nothing to replace"
    )


def test_py_files_added_after_the_first_task_import(spark, tmp_path):
    _in_worker(spark, lambda v: v)  # workers started, shim installed
    tag = uuid.uuid4().hex[:8]
    zip_mod, py_mod = f"keh_late_zip_{tag}", f"keh_late_py_{tag}"
    archive = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 'from zip'\n")
    source = tmp_path / f"{py_mod}.py"
    source.write_text("VALUE = 'from py'\n")
    spark.sparkContext.addPyFile(str(archive))
    spark.sparkContext.addPyFile(str(source))

    def probe(_):
        import importlib

        return importlib.import_module(zip_mod).VALUE + "," + importlib.import_module(py_mod).VALUE

    assert set(_in_worker(spark, probe)) == {"from zip,from py"}


# --- without Spark ------------------------------------------------------------


@pytest.fixture
def import_state():
    """Restore ``sys.path``, ``sys.path_importer_cache`` and ``sys.modules``."""
    path, cache, modules = sys.path[:], dict(sys.path_importer_cache), set(sys.modules)
    yield
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    for name in set(sys.modules) - modules:
        del sys.modules[name]


def test_install_only_in_a_worker_and_once(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker_util", raising=False)
    install()  # the driver: nothing to swap
    assert "pyspark.worker_util" not in sys.modules
    worker_util = types.ModuleType("pyspark.worker_util")
    worker_util.importlib = importlib
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", worker_util)
    install()
    shim = worker_util.importlib
    assert isinstance(shim, _Importlib) and shim.import_module is importlib.import_module
    install()
    assert worker_util.importlib is shim


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_zip_rewritten_in_place_is_reread(import_state, tmp_path):
    tag = uuid.uuid4().hex[:8]
    first, second = f"keh_zip_a_{tag}", f"keh_zip_b_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {first: "X = 1\n"})
    sys.path.insert(0, archive)
    assert importlib.import_module(first).X == 1
    finder = sys.path_importer_cache[archive]
    shim = _Importlib()

    files = finder._files
    shim.invalidate_caches()
    assert finder._files is files  # unchanged archive: not re-read

    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
    shim.invalidate_caches()
    assert finder._files is not files
    assert importlib.import_module(second).Y == 2


def test_none_entry_for_a_later_directory_is_dropped(import_state, tmp_path):
    tag = uuid.uuid4().hex[:8]
    later = tmp_path / "later"
    sys.path.insert(0, str(later))
    with pytest.raises(ImportError):
        importlib.import_module(f"keh_later_{tag}")
    assert sys.path_importer_cache[str(later)] is None
    later.mkdir()
    (later / f"keh_later_{tag}.py").write_text("Z = 3\n")
    _Importlib().invalidate_caches()
    assert str(later) not in sys.path_importer_cache
    assert importlib.import_module(f"keh_later_{tag}").Z == 3


def test_cache_keys_match_importlib(import_state, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {f"keh_keys_{uuid.uuid4().hex[:8]}": ""})
    for entry in [archive, str(tmp_path)]:  # a zipimporter and a FileFinder
        importlib.machinery.PathFinder.find_spec("keh_no_such_module", [entry])
    missing = str(tmp_path / "missing")
    sys.path_importer_cache[missing] = None
    sys.path_importer_cache["rel"] = sys.path_importer_cache[str(tmp_path)]
    before = dict(sys.path_importer_cache)

    _Importlib().invalidate_caches()
    shim_keys = set(sys.path_importer_cache)
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(before)
    importlib.invalidate_caches()
    assert shim_keys == set(sys.path_importer_cache)
    assert {archive, str(tmp_path)} <= shim_keys
    assert not {missing, "rel"} & shim_keys
