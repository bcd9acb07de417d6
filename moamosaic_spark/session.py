"""SparkSession builder with the engine's required and tuned configs.

Required: Arrow execution (the stitch kernel and all corpus builders move
pixel arrays across the Python<->JVM boundary as Arrow batches — numpy
values are rejected by the legacy row path).

Tuned for the stitch workload: tile rows are ~64KB-4MB each, so Arrow
batches are capped at 256 records AND at 64 MiB, whichever comes first
(SURVEY.md §7.5), and AQE is on for skew splitting and shuffle
coalescing. The stitch kernel folds a (band, tile) group one Arrow batch
at a time (operators/stitch.py), so a stitch task's Python memory is one
batch (<= 64 MiB, or one row when a single row is larger) plus the tile
canvas and its merge state, however many inputs stack on the tile.

Worker side: PySpark calls ``importlib.invalidate_caches()`` at the
start of every Python task, and that re-reads the central directory of
every zip importer the worker holds: one per imported sub-package of
``pyspark.zip`` and two for the ``spark-core`` jar. The package's first
import in a worker process prunes those caches once
(``prune_import_caches``). Measured on 4 cores (PySpark 4.1.2, Python
3.11, ``local[4]``), median per task: 150-217 ms before the prune,
9-11 ms after; a 48-task identity ``mapInArrow`` that imports the
package fell from 2.75-3.02 s to 0.94-0.96 s.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 256 rows/batch: tile rows are ~64KB-4MB, so a batch stays under
    # ~1 GB worst-case while cutting per-batch Arrow framing 4x vs the
    # old 64 (measured ~10% off the stitch wall; guide §4.2 — keep
    # batches large enough for vectorization to pay off)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # ... and at most 64 MiB a batch: the bound on a stitch task's
    # Python memory beside the canvas, whatever a tile's input count
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # deterministic epoch math for naive timestamps across engines
    "spark.sql.session.timeZone": "UTC",
}


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile (the spark-submit
    --py-files pattern, self-serve). Without it, grouped-map kernels fail
    on workers with ModuleNotFoundError whenever the repo isn't on the
    workers' PYTHONPATH (e.g. a driver harness importing by file path)."""
    if getattr(spark, "_moa_pyfiles_added", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = package_zip(pkg_dir, Path(tempfile.gettempdir()))
    spark.sparkContext.addPyFile(str(zip_path))
    spark._moa_pyfiles_added = True


def package_zip(pkg_dir: Path, out_dir: Path) -> Path:
    """Zip the ``*.py`` sources of ``pkg_dir`` into ``out_dir``, named by
    a hash of the package's path and contents, and return its path.

    The name ties the zip to exactly one checkout at exactly one state:
    a zip left in a shared temp dir by another checkout (or by an older
    state of this one) can never be shipped in its place. The zip is
    written under a temp name unique to this process, then renamed, so
    concurrent writers never see each other's partial file."""
    import hashlib

    sources = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.sha256(str(pkg_dir).encode())
    for p in sources:
        h.update(b"\0" + str(p.relative_to(pkg_dir)).encode() + b"\0")
        h.update(p.read_bytes())
    zip_path = out_dir / f"{pkg_dir.name}_pkg-{h.hexdigest()[:16]}.zip"
    if not zip_path.exists():
        fd, tmp = tempfile.mkstemp(prefix=zip_path.stem, suffix=".tmp", dir=out_dir)
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for p in sources:
                    z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    return zip_path


def get_spark(
    master: str | None = None,
    app_name: str = "moamosaic-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine conf applied.

    ``master=None`` leaves the master to spark-submit / the environment
    (the cluster path); tests and local tools pass ``local[N]``.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def prune_import_caches() -> None:
    """Drop the zip importers that make ``importlib.invalidate_caches()``
    slow, keeping every module importable.

    - Importers for a sub-directory of an archive (one per imported
      package inside a zip) leave ``sys.path_importer_cache``: that is a
      pure cache, and the path hook rebuilds an entry from zipimport's
      own directory cache when an import needs it again.
    - Archives on ``sys.path`` that hold no Python (a jar) leave
      ``sys.path`` and the cache: nothing can be imported from them.

    Archives with Python (this package's zip, ``pyspark.zip``, py4j)
    stay on ``sys.path``. On clean paths this changes nothing."""
    cache = sys.path_importer_cache
    for entry, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del cache[entry]
    for entry in list(sys.path):
        if os.path.isfile(entry) and zipfile.is_zipfile(entry) and not _holds_python(entry):
            sys.path.remove(entry)
            cache.pop(entry, None)


def _holds_python(archive: str) -> bool:
    """Whether ``archive`` has a module in it; an archive that cannot be
    read is kept, as it would be without the prune."""
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def on_worker() -> bool:
    """True inside a PySpark Python worker (set before a task's
    function is unpickled, so before this package's first import)."""
    try:
        from pyspark import SparkFiles
    except ImportError:
        return False
    return bool(getattr(SparkFiles, "_is_running_on_worker", False))
