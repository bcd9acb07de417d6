"""C6 resume: a killed run resumes from lineage without recomputing
completed batches, and the resumed output is pixel-identical to an
uninterrupted run."""

import dataclasses

import numpy as np
import pytest

from moamosaic_spark.mosaic import MosaicConfig
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from moamosaic_spark.streaming.lineage import completed_batches, resumable_mosaic
from tests.conftest import to_blocks, to_footprints


@pytest.fixture()
def corpus(spark):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    return fp, blocks, want, cfg


def _read_tiles(spark, path):
    df = spark.read.parquet(f"{path}/tiles")
    out = {}
    for r in df.collect():
        key = (r.band, r.tile_row, r.tile_col)
        assert key not in out, f"duplicate tile {key} in sink"
        out[key] = decode(r.pixels).reshape(r.ysize, r.xsize)
    return out


def test_kill_resume_identical(spark, tmp_path):
    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False)
    out = str(tmp_path / "mosaic")

    # run 1: killed after 2 of 4 batches
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=4, fail_after=2)
    assert completed_batches(spark, out) == {0, 1}

    # run 2: resumes, skipping completed batches
    r2 = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=4)
    assert r2["batches_skipped"] == 2
    assert r2["batches_run"] == 2

    # final output: gap-free, no duplicates, pixel-identical to oracle
    tiles = _read_tiles(spark, out)
    assert set(tiles.keys()) == set(want.tiles.keys())
    for key, arr in tiles.items():
        np.testing.assert_array_equal(arr, want.tiles[key], err_msg=f"tile {key}")

    # run 3: everything already done -> no-op
    r3 = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=4)
    assert r3["batches_run"] == 0 and r3["batches_skipped"] == 4


def test_legacy_lineage_without_n_batches_is_foreign(spark, tmp_path, corpus):
    """Lineage rows written before the n_batches column existed describe
    unknown batch geometry: resuming over them must truncate (sink +
    lineage) and start fresh, not skip batches or keep stale batch=K
    partitions as duplicate tiles (ADVICE round-2 low)."""
    from pyspark.sql import functions as F

    fp, blocks, want, cfg = corpus
    out = str(tmp_path / "mosaic_legacy")

    # forge a legacy lineage (no n_batches column) claiming batch 0 done,
    # plus a stale tile partition that a naive resume would keep
    spark.createDataFrame(
        [("oldrun", 0, 1, 1, 99, 1.0, "done")],
        "run_id string, batch_key long, band_lo int, band_hi int, "
        "n_tiles long, seconds double, status string",
    ).write.parquet(f"{out}/lineage")
    spark.createDataFrame(
        [(1, 0, 0, 64, 64, [0] * 16)],
        "band int, tile_row int, tile_col int, ysize int, xsize int, "
        "pixels array<int>",
    ).withColumn("batch", F.lit(7)).write.partitionBy("batch").parquet(
        f"{out}/tiles"
    )

    r = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=3)
    assert r["batches_skipped"] == 0 and r["batches_run"] == 3
    tiles = _read_tiles(spark, out)  # asserts no duplicate tiles survive
    assert set(tiles.keys()) == set(want.tiles.keys())
    for key, arr in tiles.items():
        np.testing.assert_array_equal(arr, want.tiles[key])


def test_uninterrupted_equals_oracle(spark, tmp_path, corpus):
    fp, blocks, want, cfg = corpus
    out = str(tmp_path / "mosaic2")
    r = resumable_mosaic(spark, fp, blocks, out, cfg, n_batches=3)
    assert r["batches_run"] == 3
    tiles = _read_tiles(spark, out)
    assert set(tiles.keys()) == set(want.tiles.keys())
    for key, arr in tiles.items():
        np.testing.assert_array_equal(arr, want.tiles[key])


def test_resume_from_relayout(spark, tmp_path, corpus):
    """Resumable batches off a bucketed relayout table: kill, resume,
    pixel-identical to the oracle — each batch is a pruned,
    shuffle-free stitch."""
    from moamosaic_spark.sources.relayout import relayout_to_table

    fp, blocks, want, cfg = corpus
    relayout_to_table(spark, fp, blocks, "work_resume", cfg, n_buckets=8)
    out = str(tmp_path / "mosaic_rl")

    rl_cfg = dataclasses.replace(cfg, relayout_table="work_resume")
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_mosaic(
            spark, fp, blocks, out, rl_cfg, n_batches=4, fail_after=2,
        )
    r = resumable_mosaic(
        spark, fp, blocks, out, rl_cfg, n_batches=4
    )
    assert r["batches_skipped"] == 2 and r["batches_run"] == 2

    tiles = _read_tiles(spark, out)
    assert set(tiles.keys()) == set(want.tiles.keys())
    for key, arr in tiles.items():
        np.testing.assert_array_equal(arr, want.tiles[key], err_msg=f"tile {key}")


@pytest.mark.parametrize("route,per_batch", [("direct", 5), ("relayout", 3)])
def test_batches_write_with_no_range_shuffle(spark, tmp_path, corpus, spark_jobs,
                                             route, per_batch):
    """A batch writes its stitch partitions as they are: they are its
    tile ranges in order. One batch's jobs (a 3-batch run minus a
    1-batch run, halved): 3 off a relayout table (meta read, tile write,
    lineage append) and 5 direct (the tile write also runs the joins'
    broadcasts and the stitch's map stage); each was 2 more when a
    batch range-sampled and re-exchanged its tiles. Every batch's part
    files, read in part order, hold strictly increasing tile keys."""
    import pyarrow.parquet as pq

    from moamosaic_spark.sources.relayout import relayout_to_table
    from tests.conftest import fresh_table

    fp, blocks, want, cfg = corpus
    table = None
    if route == "relayout":
        table = fresh_table(spark, "work_batch_jobs")
        relayout_to_table(spark, fp, blocks, table, cfg, n_buckets=8)
    jobs = {}
    for n_batches in (1, 3):
        out = tmp_path / f"b{n_batches}"
        with spark_jobs() as n:
            resumable_mosaic(spark, fp, blocks, str(out),
                             dataclasses.replace(cfg, relayout_table=table),
                             n_batches=n_batches)
        jobs[n_batches] = n[0]
        for batch in out.joinpath("tiles").glob("batch=*"):
            files = sorted(batch.glob("part-*"), key=lambda p: int(p.name.split("-")[1]))
            keys = [(r["band"], r["tile_row"], r["tile_col"])
                    for f in files for r in pq.read_table(f).to_pylist()]
            assert keys and all(a < b for a, b in zip(keys, keys[1:])), (batch, keys)
    assert (jobs[3] - jobs[1]) / 2 == per_batch, jobs
    tiles = _read_tiles(spark, str(tmp_path / "b3"))
    assert set(tiles) == set(want.tiles)
    if table:
        fresh_table(spark, table)
