"""Salted two-stage stitch: partial merges over contiguous priority
buckets composed in bucket order must equal the unsalted fold exactly
(SURVEY.md §7.5 'ordered merge under salting')."""

import numpy as np
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints


def tiles_of(res):
    return {
        (r.band, r.tile_row, r.tile_col): decode(r.pixels).reshape(
            r.ysize, r.xsize
        )
        for r in res.tiles.collect()
    }


@pytest.mark.parametrize("salt", [2, 4, 7])
def test_salted_equals_unsalted_and_oracle(spark, salt):
    rasters = synth.hot_cell(20, 128, 128)  # 20 contributors per tile
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)

    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    plain = tiles_of(do_mosaic(spark, fp, blocks, MosaicConfig(**base)))
    salted = tiles_of(
        do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=salt))
    )
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")
        np.testing.assert_array_equal(plain[k], want.tiles[k])


def test_salted_stats_and_null_no_overwrite(spark):
    """Stats flow through the two-stage path, and null-no-overwrite
    semantics survive bucket boundaries (a null in a later bucket must
    not erase an earlier bucket's value)."""
    rasters = synth.golden_pair(128, 128)  # B's overlap col 0 is null
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       stitch_salt=2)  # bucket boundary BETWEEN the two rasters
    res = do_mosaic(spark, fp, blocks, cfg)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(res)
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])
    srow = res.stats.collect()[0]
    w_min, w_max, w_mean, w_std, w_count = want.stats[1]
    assert srow["count"] == w_count and srow.minval == w_min and srow.maxval == w_max


def test_salted_with_sparse_priorities(spark):
    """Priorities with gaps (10, 20, 30, ...) must still bucket into
    ~salt contiguous groups (ntile over order, not raw values)."""
    rasters = synth.hot_cell(12, 96, 96)
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = pdf["priority"] * 10 + 7  # sparse, non-zero-based
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)
    want = synth.oracle(rasters, blocksize=64, min_overview_size=9999)
    got = tiles_of(do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=3)))
    for k in got:
        np.testing.assert_array_equal(got[k], want.tiles[k])


def test_duplicate_priority_raises_shape_guard(spark):
    """Two sources sharing a priority with different windows must raise
    (the reference's shape-mismatch guard, mosaic.py:586-593), not
    silently paste through the wrong geometry."""
    rasters = synth.golden_pair(96, 96)
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = 0  # both sources claim priority 0
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    res = do_mosaic(
        spark, fp, blocks,
        MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False),
    )
    with pytest.raises(Exception, match="geometry mismatch|PYTHON_EXCEPTION|mismatch"):
        res.tiles.collect()


def test_salted_rejects_nearest_policy(spark):
    rasters = synth.golden_pair(64, 64)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    with pytest.raises(ValueError, match="merge_policy"):
        do_mosaic(
            spark, fp, blocks,
            MosaicConfig(blocksize=64, stitch_salt=2, merge_policy="nearest"),
        )


def test_hot_cold_split_mixed_corpus(spark):
    """Round-2: only tiles with >= threshold contributors take the
    two-stage path; cold tiles go straight to the final stitch. A mixed
    corpus (one 20-deep hot stack + one far-away single raster) must
    still be byte-identical to the unsalted run, and the split itself
    must classify tiles as expected."""
    import pandas as pd
    from pyspark.sql import functions as F

    hot = synth.hot_cell(20, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    rasters = hot + cold
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = range(len(pdf))
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False)

    plain_res = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    plain = tiles_of(plain_res)
    salted = tiles_of(
        do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=4))
    )
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")

    # the classifier itself: the cold raster's tiles are all below the
    # default threshold (2 * salt = 8), the hot stack's are all above
    counts = plain_res.assignments.groupBy("tile_row", "tile_col").agg(
        F.count("*").alias("nc")
    )
    cold_tiles = {
        (r.tile_row, r.tile_col)
        for r in plain_res.assignments.where("media_ref = 'rcold'")
        .select("tile_row", "tile_col").distinct().collect()
    }
    for r in counts.collect():
        if (r.tile_row, r.tile_col) in cold_tiles:
            assert r.nc < 8, f"cold tile {r} misclassified as hot"
        else:
            assert r.nc >= 8, f"hot tile {r} misclassified as cold"


@pytest.mark.parametrize("salt", [2, 5])
def test_salted_blend_equals_unsalted(spark, salt):
    """merge_policy='blend' on the two-stage path: blend is a per-pixel
    (wsum, wvsum) SUM — commutative, so bucket partials composed in any
    order must equal the unsalted blend bit-for-bit (exact integer
    accumulators; same half-up finalize)."""
    rasters = synth.hot_cell(20, 128, 128)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy="blend", blend_feather=16)

    plain = tiles_of(do_mosaic(spark, fp, blocks, MosaicConfig(**base)))
    salted = tiles_of(
        do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=salt))
    )
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_blend_hot_cold_mix_and_overviews(spark, merge_policy):
    """Two-stage stitch with a hot stack + a far cold raster: cold rows
    ride the union with null partial canvases and fold as raw
    contributors in stage 2; overviews flow through too."""
    hot = synth.hot_cell(12, 128, 128)
    cold = synth.make_rasters(
        [dict(media_ref="rcold", x0=300000.0 + 50000.0, y0=7000000.0,
              nrows=128, ncols=128)]
    )
    rasters = hot + cold
    pdf = synth.footprints_pdf(rasters)
    pdf["priority"] = range(len(pdf))
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, min_overview_size=32,
                merge_policy=merge_policy, blend_feather=16)

    plain_res = do_mosaic(spark, fp, blocks, MosaicConfig(**base))
    salt_res = do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=3))
    plain, salted = tiles_of(plain_res), tiles_of(salt_res)
    assert set(plain) == set(salted)
    for k in plain:
        np.testing.assert_array_equal(salted[k], plain[k], err_msg=f"tile {k}")
    ov_p = {(r.level, r.band, r.tile_row, r.tile_col): list(r.pixels)
            for r in plain_res.overviews.collect()}
    ov_s = {(r.level, r.band, r.tile_row, r.tile_col): list(r.pixels)
            for r in salt_res.overviews.collect()}
    assert ov_p == ov_s and len(ov_p) > 0


@pytest.mark.parametrize("merge_policy", ["last", "blend"])
def test_salted_all_null_hot_tile(spark, merge_policy):
    """A hot stack whose every band is nodata: each stage-1 bucket
    writes nothing and emits its 1x1 null box, and the salted tiles
    still equal the unsalted ones — same keys, all null, px_count 0."""
    rasters = synth.hot_cell(8, 96, 96)
    for r in rasters:
        r.bands = [np.full_like(b, r.nullval) for b in r.bands]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy=merge_policy, blend_feather=16)
    out = {}
    for salt in (1, 2):
        res = do_mosaic(spark, fp, blocks, MosaicConfig(**base, stitch_salt=salt))
        out[salt] = {
            (r.band, r.tile_row, r.tile_col): (bytes(r.pixels), r.px_count)
            for r in res.tiles.collect()
        }
    assert out[2] == out[1] and len(out[1]) > 0
    assert all(n == 0 for _, n in out[2].values())


def test_salted_blend_u2_layout(spark):
    """Salted blend: array<int> blocks (packed by the ingest adaptor)
    and binary blocks give byte-identical tiles."""
    from tests.test_pixels_u2 import _fp_blocks

    rasters = synth.hot_cell(10, 128, 128)
    base = dict(blocksize=64, src_blocksize=256, with_overviews=False,
                merge_policy="blend", blend_feather=16, stitch_salt=3)
    out = {}
    for as_array in (False, True):
        fp, bl = _fp_blocks(spark, rasters, as_array=as_array)
        res = do_mosaic(spark, fp, bl, MosaicConfig(**base))
        out[as_array] = {(r.band, r.tile_row, r.tile_col): bytes(r.pixels)
                         for r in res.tiles.collect()}
    assert out[True] == out[False] and len(out[False]) > 0
