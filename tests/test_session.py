"""ensure_workers_can_import ships THIS checkout's sources, whatever other
checkouts (or older states of this one) left in the shared temp dir."""

import shutil
import tempfile
import zipfile
from pathlib import Path

import moamosaic_spark
from moamosaic_spark import session


class _StubContext:
    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _StubSession:
    def __init__(self):
        self.sparkContext = _StubContext()


def _zip_sources(path) -> dict:
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


def test_foreign_newer_zip_is_not_shipped(tmp_path, monkeypatch):
    pkg_dir = Path(moamosaic_spark.__file__).resolve().parent
    ours = {
        f"moamosaic_spark/{p.relative_to(pkg_dir)}": p.read_bytes()
        for p in pkg_dir.rglob("*.py")
    }
    # another checkout of the same package, edited after this one
    foreign = tmp_path / "other_checkout" / "moamosaic_spark"
    shutil.copytree(pkg_dir, foreign, ignore=shutil.ignore_patterns("__pycache__"))
    (foreign / "mosaic.py").write_text("raise ImportError('foreign checkout')\n")
    tmp_dir = tmp_path / "tmp"
    tmp_dir.mkdir()
    foreign_zip = session.package_zip(foreign, tmp_dir)
    # and a stale zip under the name every checkout used to share
    shutil.copy(foreign_zip, tmp_dir / "moamosaic_spark_pkg.zip")

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_dir))
    spark = _StubSession()
    session.ensure_workers_can_import(spark)
    session.ensure_workers_can_import(spark)  # once per session

    [shipped] = spark.sparkContext.py_files
    assert Path(shipped) != foreign_zip
    assert _zip_sources(shipped) == ours
    # same sources -> same zip, rebuilt never; no temp file left behind
    assert session.package_zip(pkg_dir, tmp_dir) == Path(shipped)
    assert not list(tmp_dir.glob("*.tmp"))
