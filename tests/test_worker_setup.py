"""Executor worker set-up hook (``vectorchord_spark._setup_worker``): the
lazy zip-directory backport that removes the eager central-directory
re-reads from the ``importlib.invalidate_caches()`` every Python task
starts with."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_BACKPORT_SCRIPT = textwrap.dedent(
    """
    import importlib
    import os
    import sys
    import zipfile
    import zipimport

    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import vcz_pkg
    import vcz_pkg.sub.mod

    assert vcz_pkg.sub.mod.VALUE == 1
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) >= 3, importers  # archive root, package, subpackage

    calls = []
    orig = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return orig(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    eager = calls.count(archive)
    assert eager == len(importers), (eager, importers)  # one per importer

    import vectorchord_spark

    vectorchord_spark._lazy_zip_directories()
    hooked = (
        zipimport.zipimporter.__dict__["_files"],
        zipimport.zipimporter.invalidate_caches,
    )
    vectorchord_spark._lazy_zip_directories()  # installing twice is a no-op
    assert (
        zipimport.zipimporter.__dict__["_files"],
        zipimport.zipimporter.invalidate_caches,
    ) == hooked

    calls.clear()
    importlib.invalidate_caches()
    assert calls == [], calls

    # a rewritten archive is still picked up after an invalidation
    tmp = archive + ".tmp"
    with zipfile.ZipFile(archive) as src, zipfile.ZipFile(tmp, "w") as dst:
        for name in src.namelist():
            dst.writestr(name, src.read(name))
        dst.writestr("vcz_pkg/sub/new.py", "VALUE = 2\\n")
    os.replace(tmp, archive)
    importlib.invalidate_caches()
    import vcz_pkg.sub.new

    assert vcz_pkg.sub.new.VALUE == 2
    assert calls == [archive], calls  # one re-read, shared by every importer
    print("ok")
    """
)

_UNTOUCHED_SCRIPT = textwrap.dedent(
    """
    import zipimport

    before = dict(zipimport.zipimporter.__dict__)
    import vectorchord_spark

    vectorchord_spark._lazy_zip_directories()
    assert dict(zipimport.zipimporter.__dict__) == before
    print("ok")
    """
)


def _run(script, *args):
    path = [REPO, os.environ.get("PYTHONPATH", "")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in path if p))
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr
    return out


def test_lazy_zip_backport(tmp_path):
    """In a fresh interpreter (this process stays unpatched): a zip on
    sys.path with a package and a subpackage is imported from, then
    ``importlib.invalidate_caches()`` re-reads its central directory once
    per cached importer without the hook and not at all with it; a zip
    rewritten with a new module afterwards still imports after an
    invalidation, with one shared re-read. On Python >= 3.13 (already
    lazy) the hook must leave zipimport untouched."""
    if sys.version_info >= (3, 13):
        _run(_UNTOUCHED_SCRIPT)
        pytest.skip("zipimporter.invalidate_caches is lazy since Python 3.13")
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("vcz_pkg/__init__.py", "")
        z.writestr("vcz_pkg/sub/__init__.py", "")
        z.writestr("vcz_pkg/sub/mod.py", "VALUE = 1\n")
    _run(_BACKPORT_SCRIPT, archive)


def test_worker_tasks_skip_zip_rereads(spark):
    """Inside an executor Python worker that ran package code, the
    ``importlib.invalidate_caches()`` each task starts with reads no zip
    central directory: the worker set-up hook is installed."""
    import pyarrow as pa

    from vectorchord_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)  # ships the package as a zip on sys.path

    def probe(batches):
        import importlib
        import importlib.util
        import sys
        import zipimport

        from vectorchord_spark import kernels as K

        K.prep_queries([[1.0, 0.0]], "l2", 2)
        # walk every sys.path entry so each zip on it has a cached importer
        assert importlib.util.find_spec("vc_no_such_module") is None
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values())
        )
        calls = []
        orig = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return orig(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            yield pa.record_batch(
                [pa.array([importers]), pa.array([len(calls)])],
                names=["importers", "reads"],
            )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "importers long, reads long")
        .collect()
    )
    assert len(rows) == 1 and rows[0].importers > 0, rows
    assert rows[0].reads == 0, rows
