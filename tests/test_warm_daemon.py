"""The warm daemon's zip-importer stamp: ``importlib.invalidate_caches``
re-reads a zip archive's directory only when the archive changed.

The patch is process-wide, so the zipimport checks run in a child
interpreter and the pytest process keeps the stock importer."""

import os
import subprocess
import sys
import textwrap
import zipimport

_CHILD = textwrap.dedent("""
    import importlib, os, sys, time, zipfile, zipimport

    archive = sys.argv[1]

    def write(mods):
        with zipfile.ZipFile(archive, "w") as z:
            for name in mods:
                z.writestr(name + ".py", f"NAME = {name!r}\\n")

    write(["lss_zmod_a"])
    sys.path.insert(0, archive)
    import lss_zmod_a  # noqa: F401

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    zipimport._read_directory = counting_read
    importlib.invalidate_caches()
    assert len(reads) == 1, reads          # stock: one re-read per call

    from lucene_solr_spark.warm_daemon import stamp_zip_importers

    stamp_zip_importers()
    stamp_zip_importers()                  # idempotent
    imp = sys.path_importer_cache[archive]
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads              # unchanged archive: no re-read

    time.sleep(0.01)
    write(["lss_zmod_a", "lss_zmod_b"])
    importlib.invalidate_caches()
    assert reads == [archive], reads       # rewritten: re-read once
    import lss_zmod_b
    assert lss_zmod_b.NAME == "lss_zmod_b"
    importlib.invalidate_caches()
    assert reads == [archive], reads

    os.remove(archive)                     # gone: stock behaviour
    for n in (2, 3):
        importlib.invalidate_caches()
        assert reads == [archive] * n, reads
        assert imp._files == {}
        assert archive not in zipimport._zip_directory_cache
    try:
        import lss_zmod_c  # noqa: F401
    except ModuleNotFoundError:
        pass
    else:
        raise AssertionError("imported from a deleted archive")
    print("ok")
""")


def test_zip_stamp_rereads_only_changed_archives(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path / "mods.zip")],
        cwd=repo, capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": repo})
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip().endswith("ok")
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "stamped", False)


def test_spark_workers_run_stamped_importers(spark):
    """The session's daemon (conftest) is the warm daemon: its workers
    inherit the stamped ``invalidate_caches``."""

    def probe(_):
        import zipimport as z

        yield getattr(z.zipimporter.invalidate_caches, "stamped", False)

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe).collect() == [True]
