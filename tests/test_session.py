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


def _zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def test_prune_import_caches(tmp_path, monkeypatch):
    """Sub-directory zip importers leave the importer cache and an
    archive without Python leaves sys.path; an archive with Python
    stays and its submodules still import; clean paths are unchanged."""
    import sys
    import zipimport

    code = _zip(tmp_path / "code.zip", {
        "moa_prune_probe/__init__.py": "",
        "moa_prune_probe/sub/__init__.py": "",
        "moa_prune_probe/sub/first.py": "VALUE = 1\n",
        "moa_prune_probe/sub/later.py": "VALUE = 2\n",
    })
    jar = _zip(tmp_path / "classes.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/example/Main.class": "\xca\xfe",
    })
    monkeypatch.setattr(sys, "path", [*sys.path, code, jar])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))

    def subdir_importers():
        return {k for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter) and f.prefix}

    try:
        from moa_prune_probe.sub import first

        assert first.VALUE == 1
        assert subdir_importers(), "the import left no sub-directory importer"
        session.prune_import_caches()
        assert code in sys.path and jar not in sys.path
        assert jar not in sys.path_importer_cache
        assert not subdir_importers()

        path, cache = list(sys.path), dict(sys.path_importer_cache)
        session.prune_import_caches()
        assert sys.path == path and sys.path_importer_cache == cache

        from moa_prune_probe.sub import later

        assert later.VALUE == 2
    finally:
        for name in [m for m in sys.modules if m.startswith("moa_prune_probe")]:
            del sys.modules[name]


def test_workers_keep_pruned_import_caches(spark, tmp_path):
    """In the Python workers that serve the SQL kernels, once this
    package is imported, no task sees a sub-directory zip importer or
    an archive without Python, also after a stitch job and a focal job
    ran on the same workers; a pyspark submodule not imported before
    still imports there. (Plain RDD tasks run in another worker pool.)"""
    from moamosaic_spark.functions.focal import hillshade
    from moamosaic_spark.mosaic import MosaicConfig, do_mosaic, write_mosaic
    from moamosaic_spark.sources import synth
    from tests.conftest import to_blocks, to_footprints

    rasters = synth.golden_pair(256, 256)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 128))
    res = do_mosaic(spark, fp, blocks, MosaicConfig(blocksize=64, min_overview_size=32))
    write_mosaic(res, str(tmp_path / "out"))
    tiles = spark.read.parquet(str(tmp_path / "out" / "tiles"))
    hillshade(tiles, xres=1.0, yres=1.0).write.format("noop").mode("overwrite").save()

    def in_workers(fn, ddl, n):
        """``fn()``'s row (a dict in ``ddl``'s column order) from each of
        ``n`` Arrow tasks."""
        def task(batches):
            import pyarrow as pa

            for _ in batches:
                pass
            yield pa.RecordBatch.from_pylist([fn()])

        return spark.range(0, n, numPartitions=n).mapInArrow(task, ddl).collect()

    def import_state():
        import os
        import sys
        import zipfile
        import zipimport

        was_imported = "moamosaic_spark" in sys.modules
        import moamosaic_spark  # noqa: F401  (a worker's first import prunes)

        def codeless(archive):
            with zipfile.ZipFile(archive) as z:
                return not any(n.endswith((".py", ".pyc")) for n in z.namelist())

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        archives = {f.archive for f in zips} | {
            p for p in sys.path if os.path.isfile(p) and zipfile.is_zipfile(p)}
        return {
            "pid": os.getpid(), "was_imported": was_imported,
            "subdirs": " ".join(f.archive + "/" + f.prefix for f in zips if f.prefix),
            "codeless": " ".join(a for a in archives if codeless(a)),
        }

    states = in_workers(
        import_state, "pid long, was_imported boolean, subdirs string, codeless string", 16)
    assert any(r.was_imported for r in states), "no worker had run a kernel of the package"
    for r in states:
        assert not r.subdirs and not r.codeless, r

    def late_import():
        import sys

        import moamosaic_spark  # noqa: F401

        fresh = "pyspark.sql.avro.functions" not in sys.modules
        from pyspark.sql.avro.functions import from_avro

        return {"fresh": fresh, "ok": callable(from_avro)}

    got = in_workers(late_import, "fresh boolean, ok boolean", 4)
    assert all(r.ok for r in got)
    assert any(r.fresh for r in got), got
