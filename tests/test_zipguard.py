"""The zip-archive guard (zipguard.py): an unchanged archive is not re-read
on import-cache invalidation, a changed or new one always is, and Spark's
addPyFile keeps working through reused python workers."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from quickwit_spark import zipguard


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def _bump_mtime(path) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory while active."""
    seen: list[str] = []
    inner = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture()
def on_path(monkeypatch, tmp_path):
    """A zip archive on sys.path holding one module; yields (zip, names)."""
    mods = [f"zg_{uuid.uuid4().hex[:8]}_{k}" for k in ("a", "b")]
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {f"{mods[0]}.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    yield zpath, mods
    sys.path_importer_cache.pop(zpath, None)
    for m in mods:
        sys.modules.pop(m, None)


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert getattr(before, "_qw_guard", False)


def test_unchanged_archive_not_reread(on_path, reads):
    zpath, mods = on_path
    assert importlib.import_module(mods[0]).VALUE == 1
    importlib.invalidate_caches()  # first guarded call stamps the importer
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zpath not in reads


def test_changed_archive_is_reread(on_path, reads):
    zpath, mods = on_path
    importlib.import_module(mods[0])
    importlib.invalidate_caches()
    _write_zip(zpath, {f"{mods[0]}.py": "VALUE = 1\n",
                       f"{mods[1]}.py": "VALUE = 2\n"})
    _bump_mtime(zpath)
    reads.clear()
    importlib.invalidate_caches()
    assert importlib.import_module(mods[1]).VALUE == 2
    assert reads.count(zpath) == 1


def test_importers_sharing_an_archive_each_reread(tmp_path):
    """The stamp is per importer: once one importer re-reads a changed
    archive, a sub-package importer on the same archive still re-reads."""
    zpath = str(tmp_path / "pkg.zip")
    _write_zip(zpath, {"pkg/__init__.py": "", "pkg/old.py": ""})
    top = zipimport.zipimporter(zpath)
    sub = zipimport.zipimporter(os.path.join(zpath, "pkg"))
    top.invalidate_caches()
    sub.invalidate_caches()
    _write_zip(zpath, {"pkg/__init__.py": "", "pkg/old.py": "",
                       "pkg/new.py": ""})
    _bump_mtime(zpath)
    top.invalidate_caches()
    assert sub.find_spec("pkg.new") is None  # not yet re-read
    sub.invalidate_caches()
    assert sub.find_spec("pkg.new") is not None


def test_unstatable_archive_falls_through(tmp_path, reads):
    zpath = str(tmp_path / "gone.zip")
    _write_zip(zpath, {"m.py": ""})
    imp = zipimport.zipimporter(zpath)
    imp.invalidate_caches()
    os.remove(zpath)
    reads.clear()
    imp.invalidate_caches()
    assert imp.find_spec("m") is None
    assert reads == [zpath]  # the original method ran (and failed softly)
    _write_zip(zpath, {"m.py": ""})
    imp.invalidate_caches()  # a re-created archive is read again
    assert imp.find_spec("m") is not None


def test_add_py_file_after_first_job(spark, tmp_path):
    sc = spark.sparkContext

    def warm(it):
        import quickwit_spark  # noqa: F401  (installs the guard)

        yield from it

    sc.parallelize(range(4), 4).mapPartitions(warm).collect()
    mod = f"zg_shipped_{uuid.uuid4().hex[:8]}"
    zpath = str(tmp_path / f"{mod}.zip")
    _write_zip(zpath, {f"{mod}.py": "VALUE = 42\n"})
    sc.addPyFile(zpath)
    try:

        def use(it):
            for _ in it:
                yield importlib.import_module(mod).VALUE

        for _ in range(3):
            assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4
    finally:
        sys.modules.pop(mod, None)


def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """Each probe task reports how often its worker re-read pyspark.zip
    since that worker's previous probe task — i.e. in this task's
    per-task set-up.  From a worker's third probe task on (guard
    installed, then its importers stamped) the count must be 0."""
    sc = spark.sparkContext

    def probe(it):
        import os
        import sys
        import zipimport

        import quickwit_spark  # noqa: F401  (installs the guard)

        for _ in it:  # a task that leaves input unread loses its worker
            pass
        st = getattr(zipimport, "_qw_probe_state", None)
        if st is None:
            st = zipimport._qw_probe_state = {"tasks": 0, "reads": []}
            inner = zipimport._read_directory

            def counting(archive):
                st["reads"].append(archive)
                return inner(archive)

            zipimport._read_directory = counting
        st["tasks"] += 1
        n = sum(os.path.basename(a) == "pyspark.zip" for a in st["reads"])
        st["reads"].clear()
        has_zip = any(
            isinstance(v, zipimport.zipimporter)
            and os.path.basename(v.archive) == "pyspark.zip"
            for v in sys.path_importer_cache.values()
        )
        yield os.getpid(), st["tasks"], n, has_zip

    rows = []
    for _ in range(40):
        rows += sc.parallelize([0], 1).mapPartitions(probe).collect()
        if any(t >= 3 for _, t, _, _ in rows):
            break
    if not any(has for *_, has in rows):
        pytest.skip("python workers do not import pyspark from pyspark.zip")
    checked = [(pid, t, n) for pid, t, n, _ in rows if t >= 3]
    assert checked, rows
    assert all(n == 0 for _, _, n in checked), rows
