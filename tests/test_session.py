"""Session defaults that must fit the host they start on."""

import os

from hyperpolyglot_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_physical(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert default_driver_memory(16 * 2**30) == "8192m"
    assert default_driver_memory(15 * 2**30 + 12345) == "7680m"
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == f"{phys // 2**21}m"


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(16 * 2**30) == "3g"


def _write_zip(path, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_daemon_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    """With the engine daemon's patch, ``importlib.invalidate_caches()``
    re-reads an archive's directory on the first call and after the
    archive is rewritten, not while it is unchanged."""
    import importlib
    import sys
    import zipimport

    from hyperpolyglot_spark import pydaemon

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["hp_zip_a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("hp_zip_a").NAME == "hp_zip_a"
        reads.clear()
        importlib.invalidate_caches()  # a new archive path: read
        assert len(reads) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged: kept

        _write_zip(archive, ["hp_zip_a", "hp_zip_b"])
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert len(reads) == 2  # rewritten: read again
        assert importlib.import_module("hp_zip_b").NAME == "hp_zip_b"
    finally:
        for name in ("hp_zip_a", "hp_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_local_workers_run_the_engine_daemon(spark):
    """The Python workers of a local session run under the engine's
    daemon: their ``zipimporter.invalidate_caches`` is the patched one."""
    from pyspark.sql import functions as F

    from hyperpolyglot_spark import pydaemon

    @F.udf("string")
    def patch_file(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    assert spark.conf.get("spark.python.daemon.module") == "hyperpolyglot_spark.pydaemon"
    got = spark.range(1).select(patch_file("id")).first()[0]
    assert os.path.samefile(got, pydaemon.__file__)

