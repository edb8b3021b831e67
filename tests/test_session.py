"""Session defaults that must fit the host they start on, and the
engine pieces a local session installs."""

import json
import os
import shutil
import subprocess
import sys

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


def _local_fs(spark, impl: str, umask: str):
    """A fresh (uncached) ``file:`` filesystem of class ``impl`` whose
    Hadoop umask is ``umask``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    conf.set("fs.file.impl", impl)
    conf.set("fs.permissions.umask-mode", umask)
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)


def _modes(root):
    return {
        os.path.relpath(os.path.join(d, n), root): oct(os.stat(os.path.join(d, n)).st_mode & 0o7777)
        for d, dirs, files in os.walk(root) for n in dirs + files
    }


def test_engine_fs_sets_the_modes_of_hadoops_local_fs(spark, tmp_path):
    """A local session's ``file:`` filesystem is the engine's, and every
    file, checksum file and dir it creates gets the mode Hadoop's stock
    LocalFileSystem gives it under the same umask; explicit modes,
    sticky ones too, come out the same."""
    from hyperpolyglot_spark.session import NIO_FS_CLASS

    jvm = spark._jvm
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName() == NIO_FS_CLASS

    modes = {}
    for umask in ("022", "077"):
        for impl in ("org.apache.hadoop.fs.LocalFileSystem", NIO_FS_CLASS):
            root = str(tmp_path / umask / impl)
            fs = _local_fs(spark, impl, umask)
            try:
                fs.create(Path(f"{root}/new/file")).close()
                fs.mkdirs(Path(f"{root}/dir/sub"))
                fs.create(Path(f"{root}/set")).close()
                fs.setPermission(Path(f"{root}/set"), FsPermission("750"))
                fs.mkdirs(Path(f"{root}/sticky"))
                fs.setPermission(Path(f"{root}/sticky"), FsPermission("1777"))
            finally:
                fs.close()
            modes[umask, impl] = _modes(root)
    stock = modes["022", "org.apache.hadoop.fs.LocalFileSystem"]
    assert stock["new/file"] == stock["new/.file.crc"] == "0o644"
    assert stock["new"] == stock["dir/sub"] == "0o755"
    assert stock["set"] == "0o750" and stock["sticky"] == "0o1777"
    assert modes["077", "org.apache.hadoop.fs.LocalFileSystem"]["new/file"] == "0o600"
    for umask in ("022", "077"):
        assert modes[umask, NIO_FS_CLASS] == modes[umask, "org.apache.hadoop.fs.LocalFileSystem"]


def test_engine_fs_rename_never_replaces_a_file(spark, tmp_path):
    """Like the ``file:`` filesystem Spark's jars register otherwise
    (Hive's ProxyLocalFileSystem), the engine's rename refuses an
    existing destination file and leaves both files as they were."""
    from hyperpolyglot_spark.session import NIO_FS_CLASS

    Path = spark._jvm.org.apache.hadoop.fs.Path
    results = {}
    for impl in ("org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem", NIO_FS_CLASS):
        root = tmp_path / impl
        root.mkdir()
        (root / "a").write_text("a")
        (root / "b").write_text("b")
        fs = _local_fs(spark, impl, "022")
        try:
            onto_file = fs.rename(Path(f"{root}/a"), Path(f"{root}/b"))
            fresh = fs.rename(Path(f"{root}/a"), Path(f"{root}/c"))
        finally:
            fs.close()
        results[impl] = (onto_file, fresh, (root / "b").read_text(), (root / "c").read_text())
    assert results[NIO_FS_CLASS] == (False, True, "b", "a")
    assert len(set(results.values())) == 1


def test_fs_classes_compile_once_per_source_hash(tmp_path, monkeypatch):
    """The class dir is built once per source hash and reused; a changed
    source builds a new one beside it."""
    from hyperpolyglot_spark import session

    source = tmp_path / "NioLocalFileSystem.java"
    source.write_bytes(open(session.NIO_FS_SOURCE, "rb").read())
    cache = str(tmp_path / "cache")
    builds = []
    run = subprocess.run

    def counting(cmd, **kw):
        builds.append(cmd)
        return run(cmd, **kw)

    monkeypatch.setattr(session.subprocess, "run", counting)
    first = session.nio_fs_classes(str(source), cache)
    assert session.nio_fs_classes(str(source), cache) == first
    assert len(builds) == 1
    assert os.path.isfile(os.path.join(first, "hyperpolyglot_spark", "jvm", "NioLocalFileSystem.class"))

    source.write_text(source.read_text() + "// changed\n")
    second = session.nio_fs_classes(str(source), cache)
    assert second != first and len(builds) == 2
    assert sorted(os.listdir(cache)) == sorted(map(os.path.basename, [first, second]))


def _builder_conf(monkeypatch, **kw):
    """The confs ``get_spark(**kw)`` hands the session builder in local
    mode, without building a session."""
    from pyspark.sql import SparkSession

    from hyperpolyglot_spark.session import get_spark

    seen = {}

    def config(self, key=None, value=None, **_):
        seen[key] = value
        return self

    class Built:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: Built)
    get_spark(cores=2, **kw)
    return seen


def test_get_spark_installs_engine_fs_keeping_callers_class_path(monkeypatch):
    from hyperpolyglot_spark.session import NIO_FS_CLASS, nio_fs_classes

    conf = _builder_conf(monkeypatch, extra_conf={"spark.driver.extraClassPath": "lib/extra.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["lib/extra.jar", nio_fs_classes()])
    assert conf["spark.hadoop.fs.file.impl"] == NIO_FS_CLASS

    stock = "org.apache.hadoop.fs.LocalFileSystem"
    conf = _builder_conf(monkeypatch, extra_conf={"spark.hadoop.fs.file.impl": stock})
    assert conf["spark.hadoop.fs.file.impl"] == stock
    assert "spark.driver.extraClassPath" not in conf


def test_get_spark_without_javac_keeps_hadoops_fs(monkeypatch, tmp_path, caplog):
    """No JDK compiler and no built class: the session keeps Hadoop's
    ``file:`` filesystem and says so in one WARN line."""
    from hyperpolyglot_spark import session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session, "_javac", lambda: None)
    with caplog.at_level("WARNING", logger=session.__name__):
        conf = _builder_conf(monkeypatch)
    assert "spark.hadoop.fs.file.impl" not in conf
    assert "spark.driver.extraClassPath" not in conf
    assert conf["spark.python.daemon.module"] == "hyperpolyglot_spark.pydaemon"
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    assert "keeping Hadoop's local filesystem" in caplog.text


_LOCAL_WRITE_SCRIPT = """
import json, sys
from hyperpolyglot_spark.datagen.pages import gen_pages_pdf
from hyperpolyglot_spark.plans.resume import completed_buckets, read_manifest, run_with_resume
from hyperpolyglot_spark.session import get_spark

out, log = sys.argv[1:]
spark = get_spark("local_fs", cores=2)
run_with_resume(spark, spark.createDataFrame(gen_pages_pdf(40)), out, n_buckets=4, group_size=4)
probed = (sorted(completed_buckets(spark, out)), read_manifest(spark, out).count())
with open(log) as f:
    run_chmods = f.read().splitlines()
# a sticky mode still goes through Hadoop's chmod: the shim sees the JVM's forks
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext._jsc.hadoopConfiguration())
fs.setPermission(jvm.org.apache.hadoop.fs.Path(out), jvm.org.apache.hadoop.fs.permission.FsPermission("1755"))
with open(log) as f:
    sticky_chmods = len(f.read().splitlines()) - len(run_chmods)
print(json.dumps({"run_chmods": run_chmods, "sticky_chmods": sticky_chmods, "probed": probed}))
"""


def test_local_resumable_write_forks_no_chmod(tmp_path):
    """A bucket group written by a local session forks no ``chmod``: a
    logging shim first on PATH sees none during the run, and sees the
    one a sticky mode still needs. Probing the manifest afterwards logs
    no "All paths were ignored" WARN."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim, log = tmp_path / "bin", tmp_path / "chmod.log"
    shim.mkdir()
    log.write_text("")
    chmod = shutil.which("chmod")
    (shim / "chmod").write_text(f'#!/bin/sh\necho "$@" >> "{log}"\nexec {chmod} "$@"\n')
    (shim / "chmod").chmod(0o755)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT")}
    env.update(
        PATH=os.pathsep.join([str(shim), os.environ["PATH"]]), SPARK_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL_WRITE_SCRIPT, str(tmp_path / "out"), str(log)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["sticky_chmods"] == 1
    assert result["run_chmods"] == []
    assert result["probed"] == [[0, 1, 2, 3], 4]
    assert "All paths were ignored" not in proc.stderr


def test_get_spark_keeps_hadoops_fs_in_a_jvm_without_the_class(spark, monkeypatch, caplog):
    """A JVM launched without the class dir (its class path is fixed at
    launch) keeps Hadoop's ``file:`` filesystem: naming a class it cannot
    load would fail every local read and write."""
    from hyperpolyglot_spark import session

    monkeypatch.setattr(session, "NIO_FS_CLASS", "hyperpolyglot_spark.jvm.Missing")
    with caplog.at_level("WARNING", logger=session.__name__):
        conf = _builder_conf(monkeypatch)
    assert "spark.hadoop.fs.file.impl" not in conf
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    assert "the running JVM has no hyperpolyglot_spark.jvm.Missing" in caplog.text
