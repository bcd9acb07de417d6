"""S4 resample path: snap (P9), rescale planning, nearest regrid
correctness vs an independent numpy oracle, and a mixed-resolution
mosaic end-to-end."""

import numpy as np
import pytest

from moamosaic_spark import reproject as RP
from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints


def test_snap_value_matches_reference_rule():
    # reference reproj.py:249-261: floor for mins, ceil for maxes
    assert RP.snap_value(1003.0, 10.0, False) == 1000.0
    assert RP.snap_value(1003.0, 10.0, True) == 1010.0
    assert RP.snap_value(-13.0, 10.0, False) == -20.0
    assert RP.snap_value(-13.0, 10.0, True) == -10.0
    assert RP.snap_value(1000.0, 10.0, True) == 1000.0
    assert RP.align_grid(1003.0, 2091.0, -13.0, 995.0, 10.0, 10.0) == (
        1000.0, 2100.0, -20.0, 1000.0,
    )


def test_cross_crs_corners_without_pyproj():
    """P10/P11 run for real on the built-in EPSG subset (no pyproj in
    this container): UTM 56S -> geodetic envelope, x=lon y=lat order."""
    env = RP.reproject_corners(
        300000.0, 400000.0, 6200000.0, 6300000.0, "EPSG:32756", "EPSG:4326"
    )
    x_min, x_max, y_min, y_max = env
    assert x_min < x_max and y_min < y_max
    assert 148 < x_min < x_max < 157       # inside zone 56 longitudes
    assert -40 < y_min < y_max < -30       # southern mid-latitudes
    # 3857 joined the built-in subset in round 3 — works without pyproj
    env = RP.reproject_corners(
        300000.0, 400000.0, 6200000.0, 6300000.0, "EPSG:32756", "EPSG:3857"
    )
    assert env[0] < env[1] and env[2] < env[3]
    # outside the built-in subset still raises, pointing at pyproj
    with pytest.raises(RP.MoaReprojectionError, match="pyproj"):
        RP.reproject_corners(0, 1, 0, 1, "EPSG:2193", "EPSG:4326")


def _oracle_nearest(src: np.ndarray, s_x0, s_y0, s_res, x0, y0, out_res, ncols, nrows, nullval):
    dst = np.full((nrows, ncols), nullval, dtype=np.int32)
    for v in range(nrows):
        sy = int(np.floor(((v + 0.5) * out_res + (s_y0 - y0)) / s_res))
        if not (0 <= sy < src.shape[0]):
            continue
        for u in range(ncols):
            sx = int(np.floor(((u + 0.5) * out_res + (x0 - s_x0)) / s_res))
            if 0 <= sx < src.shape[1]:
                dst[v, u] = src[sy, sx]
    return dst


@pytest.mark.parametrize("out_res", [5.0, 20.0, 30.0])
def test_resample_blocks_matches_oracle(spark, out_res):
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=100, ncols=130)]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    nfp, nblocks = RP.resample_blocks(fp, blocks, out_res, out_res, src_blocksize=64)

    meta = nfp.collect()[0]
    src = rasters[0].bands[0]
    want = _oracle_nearest(
        src, 300000.0, 7000000.0, 10.0,
        meta.x0, meta.y0, out_res, meta.ncols, meta.nrows, 0,
    )
    got = np.full((meta.nrows, meta.ncols), -1, dtype=np.int32)
    for r in nblocks.collect():
        got[
            r.b_top: r.b_top + r.b_ysize, r.b_left: r.b_left + r.b_xsize
        ] = decode(r.pixels).reshape(r.b_ysize, r.b_xsize)
    assert (got != -1).all()
    np.testing.assert_array_equal(got, want)


def test_mixed_resolution_mosaic(spark):
    """Two rasters at different native resolutions, resampled to a
    common grid, then mosaicked — the reference's VRT-warp use case
    (reproj.py:130-218) end-to-end."""
    a = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=120, ncols=120)]
    )
    b = synth.make_rasters(
        [dict(media_ref="r001", x0=301000.0, y0=7000000.0, nrows=60, ncols=60,
              x_res=20.0, y_res=20.0)]
    )
    rasters = a + b
    pdf = synth.footprints_pdf(rasters)
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    nfp, nblocks = RP.resample_blocks(fp, blocks, 10.0, 10.0, src_blocksize=64)
    cfg = MosaicConfig(blocksize=64, src_blocksize=64, with_overviews=False)
    res = do_mosaic(spark, nfp, nblocks, cfg)
    grid = res.grid
    assert (grid.x_res, grid.y_res) == (10.0, 10.0)
    assert grid.ncols == 220 and grid.nrows == 120  # union extent at 10m

    canvas = np.full((grid.nrows, grid.ncols), -1, dtype=np.int32)
    for r in res.tiles.collect():
        canvas[r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = decode(r.pixels).reshape(r.ysize, r.xsize)
    assert (canvas != -1).all()

    # left part: raster A passthrough (same res)
    np.testing.assert_array_equal(canvas[:, :100], a[0].bands[0][:, :100])
    # B region rows 0..119, cols 100..220: B upsampled 2x (each src px -> 2x2),
    # where non-null B overwrites A's overlap (cols 100..120)
    b_src = b[0].bands[0]
    b_up = _oracle_nearest(b_src, 301000.0, 7000000.0, 20.0,
                           301000.0, 7000000.0, 10.0, 120, 120, 0)
    region = canvas[:, 100:220]
    mask = b_up != 0
    np.testing.assert_array_equal(region[mask], b_up[mask])


def test_reprojected_footprints_pass_projection_checks(spark):
    """Both reprojection routes plan every output footprint onto one
    snapped grid, so the P6/P7 checks (alignment scan included) hold by
    construction — which is why the resample and warp checksum queries
    may skip them. Pin that: inputs that fail the checks (origins off
    the target grid by a fraction of a pixel, two source resolutions,
    two UTM zones) come out passing them."""
    import pandas as pd

    from moamosaic_spark.mosaic import MoaProjectionError, validate_projections

    rasters = synth.make_rasters(
        [
            dict(media_ref="r000", x0=300003.7, y0=7000001.3, nrows=40, ncols=50),
            dict(media_ref="r001", x0=300204.0, y0=6999897.6, nrows=40, ncols=30),
            dict(media_ref="r002", x0=300412.9, y0=6999876.1, nrows=30, ncols=30,
                 x_res=7.5, y_res=7.5),
        ]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    with pytest.raises(MoaProjectionError, match="Pixel size"):
        validate_projections(fp)
    with pytest.raises(MoaProjectionError, match="mis-alignment"):
        validate_projections(fp.where("x_res = 10.0"))
    for res in (10.0, 12.5):
        nfp, _ = RP.resample_blocks(fp, blocks, res, res, src_blocksize=64)
        validate_projections(nfp)

    a = synth.make_rasters(
        [dict(media_ref="r000", x0=300003.7, y0=6300001.3, nrows=40, ncols=40)]
    )
    b = synth.make_rasters(
        [dict(media_ref="r001", x0=840000.0, y0=6300000.0, nrows=40, ncols=40)]
    )
    pdf_a, pdf_b = synth.footprints_pdf(a), synth.footprints_pdf(b)
    pdf_b["projection"] = "EPSG:32755"
    pdf_b["priority"] = 1
    fp = to_footprints(spark, pd.concat([pdf_a, pdf_b], ignore_index=True))
    blocks = to_blocks(
        spark, pd.concat([synth.blocks_pdf(a, 64), synth.blocks_pdf(b, 64)],
                         ignore_index=True)
    )
    with pytest.raises(MoaProjectionError, match="Projection"):
        validate_projections(fp)
    nfp, _ = RP.warp_blocks(fp, blocks, "EPSG:32756", 12.5, 12.5, src_blocksize=64)
    assert {r.projection for r in nfp.collect()} == {"EPSG:32756"}
    validate_projections(nfp)
