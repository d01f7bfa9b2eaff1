"""The engine's worker daemon (cogger_spark/daemon_preload.py).

Every Python task calls importlib.invalidate_caches(); the daemon makes a
zipimporter re-read its archive only when the archive changed. Pinned
here: the stamp check on a real zip (unchanged -> no re-read, rewritten ->
re-read and the new module imports), and, through Spark, that worker tasks
run the stamp-checked version with nothing left to re-read — so a session
change that drops the daemon fails a test instead of quietly costing
~0.2 s per task.
"""

import importlib.util
import zipfile
import zipimport

import pandas as pd

from cogger_spark import daemon_preload as dp


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch):
    reads = []
    orig = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _import_from(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"old_mod": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads = _count_reads(monkeypatch)

    for _ in range(5):
        dp._invalidate_caches(imp)
    assert reads == [archive]
    assert imp.find_spec("new_mod") is None

    _write_zip(archive, {"old_mod": "X = 1\n", "new_mod": "Y = 2\n"})
    dp._invalidate_caches(imp)
    assert reads == [archive, archive]
    assert _import_from(imp, "new_mod").Y == 2

    # a second importer over the same archive shares the fresh directory
    other = zipimport.zipimporter(archive)
    dp._invalidate_caches(other)
    assert reads == [archive, archive]
    assert other.find_spec("new_mod") is not None


def test_install_stamps_the_archives_already_held(tmp_path, monkeypatch):
    archive = str(tmp_path / "held.zip")
    _write_zip(archive, {"held_mod": "Z = 3\n"})
    imp = zipimport.zipimporter(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    dp._install()
    reads = _count_reads(monkeypatch)

    imp.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"held_mod": "Z = 4\n", "extra_mod": "W = 5\n"})
    imp.invalidate_caches()
    assert reads == [archive]
    assert _import_from(imp, "held_mod").Z == 4


def test_worker_tasks_run_stamp_checked_invalidation(spark):
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport as zi
        for _ in batches:
            pass
        reads = []
        orig = zi._read_directory
        zi._read_directory = lambda a: reads.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = orig
        fn = zi.zipimporter.invalidate_caches
        held = sys.path_importer_cache.values()
        yield pd.DataFrame({
            "impl": [os.path.basename(fn.__code__.co_filename)],
            "zip_importers": [sum(isinstance(v, zi.zipimporter)
                                  for v in held)],
            "reads": [len(reads)]})

    rows = (spark.range(4).repartition(4)
            .mapInPandas(probe, "impl string, zip_importers long, "
                                "reads long")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.impl == "daemon_preload.py", r
        # Spark's own archives sit on the worker path; none is re-read
        assert r.zip_importers > 0, r
        assert r.reads == 0, r
