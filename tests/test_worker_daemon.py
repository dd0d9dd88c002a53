"""The Python worker daemon's entry module: which ``sys.path`` archives it
moves behind the installed packages, that the workers then import the
installed pyspark, and when ``get_spark`` selects the module."""
from __future__ import annotations

import os
import zipfile
from pathlib import Path

import pytest

from pdf_extractor_spark import session
from pdf_extractor_spark.worker_daemon import installed_first

REPO = Path(__file__).resolve().parent.parent
_VERSION = b'__version__: str = "1.2.3"\n'


def _archive(path: Path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def site(tmp_path):
    """A directory holding the installed package ``pkg`` 1.2.3."""
    root = tmp_path / "site"
    (root / "pkg").mkdir(parents=True)
    (root / "pkg" / "__init__.py").write_text("")
    (root / "pkg" / "version.py").write_bytes(_VERSION)
    return str(root)


def test_identical_twin_moves_archive_behind_installed(tmp_path, site):
    zip_ = _archive(tmp_path / "pkg.zip", {"pkg/__init__.py": b"",
                                           "pkg/mod.py": b"",
                                           "pkg/version.py": _VERSION})
    assert installed_first([zip_, site]) == [site, zip_]


def test_different_version_keeps_archive_first(tmp_path, site):
    zip_ = _archive(tmp_path / "pkg.zip", {
        "pkg/__init__.py": b"",
        "pkg/version.py": b'__version__: str = "1.2.4"\n'})
    assert installed_first([zip_, site]) == [zip_, site]


def test_archive_with_an_unmatched_module_keeps_its_place(tmp_path, site):
    same = {"pkg/__init__.py": b"", "pkg/version.py": _VERSION}
    no_twin = _archive(tmp_path / "a.zip", {**same, "other/__init__.py": b""})
    top_module = _archive(tmp_path / "b.zip", {**same, "mod.py": b""})
    unversioned = _archive(tmp_path / "c.zip", {"pkg/__init__.py": b""})
    path = [no_twin, top_module, unversioned, site]
    assert installed_first(path) == path


def test_archive_without_python_moves(tmp_path, site):
    jar = _archive(tmp_path / "core.jar", {
        "META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n",
        "org/example/Main.class": b"\xca\xfe\xba\xbe"})
    assert installed_first([jar, site]) == [site, jar]


def test_non_archive_entries_keep_their_order(tmp_path, site):
    jar = _archive(tmp_path / "core.jar", {"org/A.class": b""})
    zip_ = _archive(tmp_path / "pkg.zip", {"pkg/__init__.py": b"",
                                           "pkg/version.py": _VERSION})
    kept = _archive(tmp_path / "kept.zip", {"mod.py": b""})
    other = str(tmp_path / "other")
    os.mkdir(other)
    missing = str(tmp_path / "missing")
    path = ["", zip_, other, jar, kept, missing, site]
    assert installed_first(path) == ["", other, kept, missing, site,
                                     zip_, jar]


def _archive_twin_installed() -> bool:
    """Whether Spark's own pyspark.zip has a byte-identical installed twin."""
    import pyspark

    installed = Path(pyspark.__file__).parent
    home = os.environ.get("SPARK_HOME") or str(installed)
    zip_path = Path(home) / "python" / "lib" / "pyspark.zip"
    if not zip_path.is_file():
        return False
    with zipfile.ZipFile(zip_path) as zf:
        try:
            archived = zf.read("pyspark/version.py")
        except KeyError:
            return False
    return archived == (installed / "version.py").read_bytes()


def test_workers_import_the_installed_pyspark(spark):
    if not _archive_twin_installed():
        pytest.skip("Spark's pyspark.zip has no identical installed twin")
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == session.DAEMON_MODULE)

    def origin(_):
        import pyspark

        yield pyspark.__file__

    files = spark.sparkContext.parallelize(range(4), 4) \
        .mapPartitions(origin).collect()
    assert len(files) == 4
    # a module imported from an archive has a path inside that archive
    assert all(os.path.isfile(f) for f in files), files


def test_gate_selects_the_daemon_only_where_it_can_start(tmp_path,
                                                         monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert session._own_daemon("local")
    assert session._own_daemon("local[4]")
    assert not session._own_daemon("local-cluster[2,1,1024]")
    assert not session._own_daemon("spark://host:7077")
    # a JVM someone else launched (spark-submit) starts the daemon before
    # --py-files reach the workers
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert not session._own_daemon("local[4]")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    # the package is not importable from the working directory ...
    monkeypatch.chdir(tmp_path)
    assert not session._own_daemon("local[4]")
    # ... unless PYTHONPATH holds it
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path),
                                                      str(REPO)]))
    assert session._own_daemon("local[4]")
