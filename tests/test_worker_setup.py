"""Worker setup: lazy zip-import cache invalidation.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; on Python < 3.13 each zipimporter then re-parses its archive's
whole directory. After ``lazy_zip_invalidation`` an unchanged archive
is never re-read, a changed one is read once, and its new modules
import."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from pyrate_spark.operators.worker_setup import lazy_zip_invalidation

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_zip = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from CPython 3.13 on")


def _write_zip(path, modules: dict, mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture
def reads(monkeypatch, tmp_path):
    """Un-install any earlier replacement (restored at teardown) and
    record every archive whose directory zipimport reads."""
    cur = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(cur, "__wrapped__", cur))
    seen = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: seen.append(archive) or real(archive))
    yield seen
    for p in [p for p in sys.path_importer_cache
              if p.startswith(str(tmp_path))]:
        del sys.path_importer_cache[p]
    for m in [m for m in sys.modules if m.startswith("lazyzip_pkg")]:
        del sys.modules[m]


@lazy_zip
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    zp = tmp_path / "lib.zip"
    _write_zip(zp, {"lazyzip_pkg/__init__.py": "",
                    "lazyzip_pkg/a.py": "X = 1\n"}, 10 ** 18)
    root = zipimport.zipimporter(str(zp))
    sub = zipimport.zipimporter(str(zp / "lazyzip_pkg"))
    assert reads == [str(zp)]          # the second importer shares it
    root.invalidate_caches()
    sub.invalidate_caches()
    assert len(reads) == 3             # stock: every call re-reads
    lazy_zip_invalidation()
    reads.clear()
    for _ in range(5):
        root.invalidate_caches()
        sub.invalidate_caches()
    # one read stamps the archive for both importers, then none
    assert reads == [str(zp)]
    assert sub.find_spec("lazyzip_pkg.a") is not None


@lazy_zip
def test_changed_archive_is_reread_once_and_imports(tmp_path, reads,
                                                     monkeypatch):
    zp = tmp_path / "lib.zip"
    _write_zip(zp, {"lazyzip_pkg/__init__.py": "",
                    "lazyzip_pkg/a.py": "X = 1\n"}, 10 ** 18)
    lazy_zip_invalidation()
    monkeypatch.syspath_prepend(str(zp))
    assert importlib.import_module("lazyzip_pkg.a").X == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert str(zp) not in reads
    _write_zip(zp, {"lazyzip_pkg/__init__.py": "",
                    "lazyzip_pkg/a.py": "X = 1\n",
                    "lazyzip_pkg/b.py": "Y = 2\n"}, 10 ** 18 + 10 ** 9)
    importlib.invalidate_caches()      # root and package importers
    assert reads.count(str(zp)) == 1
    assert importlib.import_module("lazyzip_pkg.b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(str(zp)) == 1


@lazy_zip
def test_second_install_is_a_noop(reads):
    stock = zipimport.zipimporter.invalidate_caches
    lazy_zip_invalidation()
    first = zipimport.zipimporter.invalidate_caches
    assert first is not stock and first.__wrapped__ is stock
    lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is first


def test_worker_modules_import_no_pyspark():
    """The worker-side modules load without pyspark: a fresh worker
    unpickling a kernel must not pay the pyspark.sql import chain."""
    code = ("import sys, zipimport\n"
            "import pyrate_spark.operators.worker_setup\n"
            "import pyrate_spark.operators.udf_kernels\n"
            "print(sorted(m for m in sys.modules\n"
            "             if m.split('.')[0] in ('pyspark', 'py4j')))\n"
            "print(zipimport.zipimporter.invalidate_caches.__module__)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    loaded, installer = out.stdout.split()
    assert loaded == "[]"
    if sys.version_info < (3, 13):
        assert installer == "pyrate_spark.operators.worker_setup"


@lazy_zip
def test_warmed_workers_run_lazy_invalidation(spark):
    """After warm_python_workers, every worker a later Python stage
    runs on has the lazy invalidate_caches installed."""
    from pyrate_spark.operators.grouped import warm_python_workers
    warm_python_workers(spark)
    parts = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))

    def report(batches):
        import os
        import zipimport
        import pandas as pd
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "installer": [zipimport.zipimporter.invalidate_caches
                          .__module__]})

    rows = (spark.range(parts, numPartitions=parts)
            .mapInPandas(report, "pid long, installer string").collect())
    assert len(rows) == parts
    assert {r["installer"] for r in rows} == {
        "pyrate_spark.operators.worker_setup"}, rows
