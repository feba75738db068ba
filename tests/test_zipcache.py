"""Zip importers re-read an archive only when it changed
(``stackoverflowner_spark/zipcache.py``): Spark-free cases over a temp zip
on ``sys.path``, and a Python worker after an engine task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import stackoverflowner_spark  # noqa: F401  (installs the hook)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n", "zc_mod_c": "Z = 3\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b", "zc_mod_c"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _stamped(archive):
    """Import from the archive, then one invalidation: the importer exists
    and holds a stamp."""
    assert importlib.import_module("zc_mod_a").X == 1
    importlib.invalidate_caches()


def test_unchanged_archive_is_not_reread(archive, reads):
    _stamped(archive)
    before = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == before


def test_rewritten_archive_is_reread_once(archive, reads):
    _stamped(archive)
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    before = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    assert importlib.import_module("zc_mod_b").Y == 2


def test_deleted_archive_behaves_as_stdlib(archive, reads):
    _stamped(archive)
    os.remove(archive)
    importlib.invalidate_caches()
    # the importer forgot the archive's listing, as the stdlib method does
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_mod_c")
    # and an archive that reappears is read again
    _write_zip(archive, {"zc_mod_c": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_c").Z == 3


def test_install_stamps_existing_importers(archive, reads):
    # an importer made before the hook: install() reads it once, so the
    # next invalidation (a worker's second task) reads nothing
    from stackoverflowner_spark import zipcache

    assert importlib.import_module("zc_mod_a").X == 1
    imp, before = sys.path_importer_cache[archive], reads.count(archive)
    assert "_archive_stamp" not in imp.__dict__
    zipcache.install()
    assert reads.count(archive) == before + 1
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1


def test_worker_after_engine_task_skips_rereads():
    from stackoverflowner_spark.operators.document_kernel import extract_stage
    from stackoverflowner_spark.session import get_spark

    spark = get_spark(app_name="sokg-zipcache", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism

    def arm(batches):
        # a worker's first task imports the package, as unpickling any
        # engine function does, then counts every archive read from here on
        import os
        import time
        import zipimport

        import pandas as pd

        import stackoverflowner_spark  # noqa: F401

        if not hasattr(zipimport, "_zc_reads"):
            real, count = zipimport._read_directory, [0]

            def counting(path):
                count[0] += 1
                return real(path)

            zipimport._zc_real, zipimport._zc_reads = real, count
            zipimport._read_directory = counting
        list(batches)
        time.sleep(0.2)  # overlap this job's tasks so they spread over workers
        yield pd.DataFrame([(os.getpid(),)], columns=["pid"])

    armed = {r.pid for r in spark.range(2 * n, numPartitions=2 * n)
             .mapInPandas(arm, "pid long").collect()}
    pages = spark.createDataFrame(
        [(f"u{i}", "en", f"<p>Page {i} uses Python.</p>".encode(), None)
         for i in range(2 * n)],
        "url string, lang string, html binary, text string").repartition(n)
    assert extract_stage(pages).filter("ok").count() == 2 * n

    def probe(batches):
        # runs in a Python worker; a local function pickles by value and
        # references nothing of the package, so it sees the worker as
        # earlier tasks left it
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        list(batches)
        time.sleep(0.2)
        imported = "stackoverflowner_spark" in sys.modules
        hooked = (zipimport.zipimporter.invalidate_caches.__module__
                  == "stackoverflowner_spark.zipcache")
        # reads since ``arm`` ran here: the set-up of every later task
        since_arm = -1
        if hasattr(zipimport, "_zc_reads"):
            since_arm = zipimport._zc_reads[0]
            zipimport._read_directory = zipimport._zc_real
            del zipimport._zc_reads, zipimport._zc_real
        real, calls = zipimport._read_directory, []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame(
            [(os.getpid(), imported, hooked, len(calls), since_arm)],
            columns=["pid", "imported", "hooked", "reads", "since_arm"])

    rows = spark.range(2 * n, numPartitions=2 * n).mapInPandas(
        probe, "pid long, imported boolean, hooked boolean, reads long, "
        "since_arm long").collect()
    engine_workers = [r for r in rows if r.imported]
    assert engine_workers, rows  # the engine job's workers were reused
    for r in engine_workers:
        assert r.hooked and r.reads == 0, r
    # a worker's second task re-reads nothing either: the package import
    # in its first task already stamped every importer
    seen = [r for r in rows if r.pid in armed and r.since_arm >= 0]
    assert seen, (armed, rows)
    for r in seen:
        assert r.since_arm == 0, r
