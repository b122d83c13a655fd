"""The Python worker conf ``get_spark`` sets: the package's worker daemon
(no zip-directory re-read per task) and Unix-domain worker sockets."""

import importlib
import os
import sys
import zipfile

import pytest

from traildb_spark import session, worker_daemon

lazy_zips = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip archives lazily itself"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    worker_daemon.install()
    path = tmp_path / "mods.zip"
    _write_zip(path, ["wd_zmod_a"])
    sys.path.insert(0, str(path))
    yield path
    sys.path.remove(str(path))
    sys.path_importer_cache.pop(str(path), None)
    for name in ("wd_zmod_a", "wd_zmod_b"):
        sys.modules.pop(name, None)


@lazy_zips
def test_unchanged_archive_is_not_reread(zip_on_path):
    import wd_zmod_a  # noqa: F401

    importer = sys.path_importer_cache[str(zip_on_path)]
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files


@lazy_zips
def test_rewritten_archive_is_reread(zip_on_path):
    import wd_zmod_a  # noqa: F401

    _write_zip(zip_on_path, ["wd_zmod_a", "wd_zmod_b"])
    importlib.invalidate_caches()
    import wd_zmod_b

    assert wd_zmod_b.NAME == "wd_zmod_b"


@lazy_zips
def test_python_tasks_run_in_the_package_daemon(spark):
    """The fixture session runs its Python tasks in workers forked from
    ``traildb_spark.worker_daemon``, which patched ``zipimport``."""
    conf = spark.sparkContext.getConf()
    daemon = conf.get("spark.python.daemon.module") == "traildb_spark.worker_daemon"
    assert daemon == session._workers_import_package()

    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    suffix = os.path.join("traildb_spark", "worker_daemon.py")
    assert [f.endswith(suffix) for f in files] == [daemon] * 4, files


def test_unix_socket_dir_rule():
    """A socket path is <dir>/.<uuid4>.sock and Linux allows 107 bytes:
    a temp dir over 64 characters leaves the workers on TCP."""
    assert session._python_worker_conf("/tmp", False) == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": "/tmp",
    }
    long_dir = "/" + "d" * 89
    assert session._python_worker_conf(long_dir, True) == {
        "spark.python.daemon.module": "traildb_spark.worker_daemon"
    }


def test_daemon_only_when_workers_import_the_package(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_package()
