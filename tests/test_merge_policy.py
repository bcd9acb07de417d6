"""Merge policies: 'last' is the reference's filelist-order rule (the
golden default — tested everywhere else); 'nearest' is the kNN
nearest-source tie-breaking extension. Verified against an independent
full-canvas numpy oracle."""

import numpy as np
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints


def nearest_oracle(rasters, grid, nullval=0):
    canvas = np.full((grid.nrows, grid.ncols), nullval, dtype=np.int32)
    best = np.full(canvas.shape, np.inf)
    for r in rasters:
        row0 = int(round((grid.y_max - r.y0) / grid.y_res))
        col0 = int(round((r.x0 - grid.x_min) / grid.x_res))
        arr = r.bands[0]
        cy, cx = row0 + (r.nrows - 1) / 2.0, col0 + (r.ncols - 1) / 2.0
        rr = np.arange(row0, row0 + r.nrows)[:, None] - cy
        cc = np.arange(col0, col0 + r.ncols)[None, :] - cx
        dist = rr * rr + cc * cc
        sub_c = canvas[row0: row0 + r.nrows, col0: col0 + r.ncols]
        sub_b = best[row0: row0 + r.nrows, col0: col0 + r.ncols]
        mask = (arr != nullval) & (dist <= sub_b)
        sub_c[mask] = arr[mask]
        sub_b[mask] = dist[mask]
    return canvas


@pytest.mark.parametrize("kernel", ["arrow"])
def test_nearest_policy_matches_oracle(spark, kernel):
    rasters = synth.grid3x3(120, 120, overlap=40)  # big overlaps
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(
        blocksize=64, src_blocksize=256, with_overviews=False,
        merge_policy="nearest",
    )
    res = do_mosaic(spark, fp, blocks, cfg)
    grid = res.grid
    want = nearest_oracle(rasters, grid)

    got = np.full((grid.nrows, grid.ncols), -1, dtype=np.int32)
    for r in res.tiles.collect():
        got[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = decode(r.pixels).reshape(r.ysize, r.xsize)
    np.testing.assert_array_equal(got, want)

    # and it actually differs from last-wins in the overlap bands
    last = synth.oracle(rasters, blocksize=64, min_overview_size=9999).canvas[1]
    assert (want != last).any()


def test_nearest_equal_distance_falls_back_to_last(spark):
    """Two identical-footprint rasters: all distances equal -> the
    later (higher-priority) source wins everywhere it is non-null,
    exactly like 'last'."""
    r0 = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=64, ncols=64)]
    )[0]
    r1 = synth.make_rasters(
        [dict(media_ref="r001", x0=300000.0, y0=7000000.0, nrows=64, ncols=64)]
    )[0]
    r1.bands[0] = r1.bands[0] + 1000  # distinguishable values, none null
    rasters = [r0, r1]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="nearest")
    res = do_mosaic(spark, fp, blocks, cfg)
    arr = decode(res.tiles.collect()[0].pixels).reshape(64, 64)
    np.testing.assert_array_equal(arr, r1.bands[0])


def blend_oracle(rasters, grid, feather=64, nullval=0):
    """Independent full-canvas feathering oracle: weight = distance of
    each pixel to its own source's nearest edge, clamped to feather;
    blended value = half-up((sum(w*v)/sum(w))) over non-null
    contributors, via exact integer arithmetic (order-free, SQL-
    replayable)."""
    wsum = np.zeros((grid.nrows, grid.ncols), dtype=np.int64)
    wvsum = np.zeros((grid.nrows, grid.ncols), dtype=np.int64)
    for r in rasters:
        row0 = int(round((grid.y_max - r.y0) / grid.y_res))
        col0 = int(round((r.x0 - grid.x_min) / grid.x_res))
        arr = r.bands[0].astype(np.int64)
        sr = np.arange(r.nrows, dtype=np.int64)
        sc = np.arange(r.ncols, dtype=np.int64)
        dr = np.minimum(sr + 1, r.nrows - sr)
        dc = np.minimum(sc + 1, r.ncols - sc)
        w = np.clip(np.minimum(dr[:, None], dc[None, :]), 1, int(feather))
        m = arr != nullval
        wsum[row0: row0 + r.nrows, col0: col0 + r.ncols][m] += w[m]
        wvsum[row0: row0 + r.nrows, col0: col0 + r.ncols][m] += (w * arr)[m]
    canvas = np.full((grid.nrows, grid.ncols), nullval, dtype=np.int32)
    valid = wsum > 0
    canvas[valid] = ((2 * wvsum[valid] + wsum[valid]) // (2 * wsum[valid])).astype(np.int32)
    return canvas


def _collect_canvas(res, grid):
    got = np.full((grid.nrows, grid.ncols), -1, dtype=np.int32)
    for r in res.tiles.collect():
        arr = decode(r.pixels)
        got[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = arr.reshape(
            r.ysize, r.xsize
        )
    return got


@pytest.mark.parametrize("kernel,feather", [("arrow", 64), ("arrow", 16)])
def test_blend_policy_matches_oracle(spark, kernel, feather):
    """Feathered edge-blending (north-star 'edge-blending'): engine ==
    the independent full-canvas oracle; seams fade (overlap pixels lie
    between the contributors) and single-contributor regions equal
    'last' exactly."""
    rasters = synth.grid3x3(120, 120, overlap=40)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="blend", blend_feather=feather)
    res = do_mosaic(spark, fp, blocks, cfg)
    grid = res.grid
    want = blend_oracle(rasters, grid, feather=feather)
    got = _collect_canvas(res, grid)
    np.testing.assert_array_equal(got, want)
    # it differs from last-wins inside the overlap bands
    last = synth.oracle(rasters, blocksize=64, min_overview_size=9999).canvas[1]
    assert (want != last).any()


def test_blend_u2_layout_matches_i4(spark):
    """array<int> blocks (packed by the ingest adaptor) and binary
    blocks blend to byte-identical tiles."""
    from tests.test_pixels_u2 import _fp_blocks

    rasters = synth.grid3x3(100, 100, overlap=30)
    out = {}
    for as_array in (False, True):
        fp, bl = _fp_blocks(spark, rasters, as_array=as_array)
        cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                           merge_policy="blend")
        res = do_mosaic(spark, fp, bl, cfg)
        out[as_array] = {(r.band, r.tile_row, r.tile_col): bytes(r.pixels)
                         for r in res.tiles.collect()}
    assert out[True] == out[False]


def test_blend_is_nodata_aware(spark):
    """A null pixel in one contributor must contribute NOTHING — the
    blend there equals the other contributor's value, not a pull
    toward nullval."""
    r0 = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=64, ncols=64)]
    )[0]
    r1 = synth.make_rasters(
        [dict(media_ref="r001", x0=300000.0, y0=7000000.0, nrows=64, ncols=64)]
    )[0]
    r0.bands[0] = np.full((64, 64), 100, dtype=np.int32)
    r1.bands[0] = np.full((64, 64), 500, dtype=np.int32)
    r1.bands[0][10:20, 10:20] = 0  # nodata hole in the later source
    rasters = [r0, r1]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, with_overviews=False,
                       merge_policy="blend")
    res = do_mosaic(spark, fp, blocks, cfg)
    arr = _collect_canvas(res, res.grid)
    # identical footprints -> equal weights everywhere both are valid
    assert (arr[30:40, 30:40] == 300).all()
    # inside r1's hole only r0 contributes
    assert (arr[10:20, 10:20] == 100).all()


def test_unknown_merge_policy_raises(spark, sql_executions):
    """An unknown policy raises before any driver action: the footprint
    probe does not run."""
    rasters = synth.grid3x3(60, 60)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    with sql_executions() as n, pytest.raises(ValueError, match="merge_policy"):
        do_mosaic(spark, fp, blocks,
                  MosaicConfig(merge_policy="average", with_overviews=False))
    assert n[0] == 0
