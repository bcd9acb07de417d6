"""C6 — resumable mosaic runs with per-partition lineage checkpoints.

The reference has NO resume: a killed run restarts from scratch (its
per-file countdown, structures.py:141-170, only manages file handles).
The north rule requires it, so the rebuild adds the natural Spark
construct: the tile space is split into coarse row-range batches; each
batch is one idempotent job that writes its tiles to a partitioned sink
and appends one lineage row (batch key, tile count, seconds, status).
Resume = **left anti-join** of the batch list against completed lineage
(the J4 countdown's true distributed analog, SURVEY.md §2.3) — a killed
run re-executes only its unfinished batches.

Batches partition tiles by tile_row ranges; each batch runs its own
pruned plan — the range predicate is applied to the INPUT tile relation
(``do_mosaic(tile_row_range=...)``), below the spatial join and the
stitch kernel, so a batch only ever scans, joins and stitches its own
rows (Catalyst cannot push a filter through FlatMapGroupsInArrow, so
output-side filtering would re-stitch everything every batch). Each
batch's output lands in its own sink partition (`batch=K/`) —
re-running a batch overwrites only that partition (dynamic partition
overwrite), making resume idempotent.

With ``MosaicConfig.relayout_table`` set, batches route as do_mosaic
does: the first one builds the table if it is absent or stale, and each
batch's range predicate lands in its bucketed scan (no join, no Exchange).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..mosaic import MosaicConfig, _check_projection_row, _mosaic_from_row, _summary_row
from ..operators.stitch import check_merge_policy
from ..plans.grid import grid_from_row, n_blocks


def _lineage_path(out_path: str) -> str:
    return f"{out_path}/lineage"


def _delete_path(spark: SparkSession, path: str) -> None:
    """Scheme-agnostic recursive delete via the Hadoop FS API."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet path, or None ONLY when the path genuinely does
    not exist. Any other failure (corrupt file, transient FS error,
    permission) PROPAGATES: callers treat "absent" as "first write /
    nothing done yet", and masking a transient error as absence would
    silently re-run completed work, restart priorities, or re-arm
    guards the state exists to hold."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        return None
    return spark.read.parquet(path)


def read_lineage(spark: SparkSession, out_path: str) -> DataFrame | None:
    return read_parquet_if_exists(spark, _lineage_path(out_path))


def completed_batches(
    spark: SparkSession, out_path: str, n_batches: int | None = None
) -> set[int]:
    """Batch keys marked done — only for the SAME batch geometry: a
    lineage row from a run with a different ``n_batches`` describes
    different tile ranges, so it must not satisfy this run's keys."""
    lin = read_lineage(spark, out_path)
    if lin is None:
        return set()
    done = lin.where(F.col("status") == "done")
    if n_batches is not None and "n_batches" in lin.columns:
        done = done.where(F.col("n_batches") == n_batches)
    rows = done.select("batch_key").distinct().collect()
    return {r.batch_key for r in rows}


def resumable_mosaic(
    spark: SparkSession,
    footprints: DataFrame,
    blocks: DataFrame,
    out_path: str,
    config: MosaicConfig | None = None,
    n_batches: int = 8,
    run_id: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Run the mosaic in ``n_batches`` idempotent row-range batches with
    lineage checkpointing; re-invocation with the same ``out_path``
    resumes, skipping completed batches.

    With ``config.relayout_table`` set, each batch stitches off that
    bucketed table (sources/relayout.py) — no join, no Exchange, the
    cheapest possible re-stitch; the first batch to run (re)builds it
    when it is absent or holds another corpus or tiling.

    ``fail_after`` (testing hook) raises after that many batches,
    simulating a killed run.

    Returns {"run_id", "batches_run", "batches_skipped", "grid"}.
    """
    config = config or MosaicConfig()
    check_merge_policy(config.merge_policy)
    run_id = run_id or uuid.uuid4().hex[:12]

    # one footprint probe: the grid, the projection agreement and the
    # relayout fingerprint (batch-invariant, so the per-batch pruned
    # plans take this row instead of re-probing)
    row = _summary_row(footprints, with_fingerprint=config.relayout_table is not None)
    if config.check_projections:
        _check_projection_row(row)
    grid = grid_from_row(row, config.nullval)
    nb_r = n_blocks(grid.nrows, config.blocksize)
    n_batches = min(n_batches, nb_r)

    # A lineage row from a run with a different n_batches describes
    # different tile ranges AND different sink partitions: its batch=K
    # directories would survive dynamic partition overwrite as stale
    # duplicates. Changing the batch geometry therefore invalidates all
    # prior progress — truncate sink + lineage and start fresh.
    lin = read_lineage(spark, out_path)
    if lin is not None:
        if "n_batches" not in lin.columns:
            # legacy lineage (pre-n_batches runs): geometry unknown, so
            # any resume could keep stale batch=K partitions as
            # duplicate tiles — treat as foreign and start fresh.
            foreign = True
        else:
            foreign = (
                lin.where(F.col("n_batches") != n_batches).limit(1).count() > 0
            )
        if foreign:
            _delete_path(spark, f"{out_path}/tiles")
            _delete_path(spark, _lineage_path(out_path))
    done = completed_batches(spark, out_path, n_batches)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    from pyspark.sql import Observation

    ran, skipped = 0, 0
    for b in range(n_batches):
        if b in done:
            skipped += 1
            continue
        # tile_row range of this batch, pruned on the INPUT side — the
        # batch plan scans/joins/stitches only its own tiles.
        lo = b * nb_r // n_batches
        hi = (b + 1) * nb_r // n_batches
        t0 = time.time()
        res = _mosaic_from_row(
            spark, footprints, blocks, config, row, tile_row_range=(lo, hi)
        )
        obs = Observation()
        batch_tiles = (
            res.tiles.withColumn("batch", F.lit(b))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        # the batch's stitch partitions are already its tile ranges in
        # order (plans.grid.range_id): sort within them, no exchange
        (
            batch_tiles.sortWithinPartitions("band", "tile_row", "tile_col")
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(f"{out_path}/tiles")
        )
        n_tiles = obs.get["n"]
        seconds = time.time() - t0
        lineage_row = spark.createDataFrame(
            [(run_id, b, n_batches, 1, grid.n_bands, n_tiles, seconds, "done")],
            "run_id string, batch_key long, n_batches int, band_lo int, "
            "band_hi int, n_tiles long, seconds double, status string",
        )
        lineage_row.write.mode("append").parquet(_lineage_path(out_path))
        ran += 1
        if fail_after is not None and ran >= fail_after:
            raise RuntimeError(f"simulated failure after {ran} batches")

    return {
        "run_id": run_id,
        "batches_run": ran,
        "batches_skipped": skipped,
        "grid": grid,
        "n_batches": n_batches,
    }
