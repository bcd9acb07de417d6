"""Non-nearest resampling kernels (bilinear, average) vs independent
loop-based numpy goldens implementing the documented semantics, on a
seeded random raster (the column-index corpus is constant along y and
would not exercise the y axis)."""

import numpy as np
import pytest

from moamosaic_spark import reproject as RP
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

NULL = 0


def _rand_raster(seed=11, nrows=90, ncols=110):
    rs = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=nrows, ncols=ncols)]
    )
    rng = np.random.default_rng(seed)
    arr = rng.integers(1, 1000, size=(nrows, ncols)).astype(np.int32)
    arr[5:9, 7:15] = NULL  # a nodata hole
    rs[0].bands = [arr]
    return rs


def _oracle_bilinear(src, s_x0, s_y0, s_res, x0, y0, out_res, ncols, nrows, nullval):
    snr, snc = src.shape
    dst = np.full((nrows, ncols), nullval, dtype=np.int32)
    for v in range(nrows):
        fy = ((v + 0.5) * out_res + (s_y0 - y0)) / s_res - 0.5
        if not (0 <= int(np.floor(fy + 0.5)) < snr):
            continue
        y0i = int(np.floor(fy))
        wy = fy - y0i
        y0c = min(max(y0i, 0), snr - 1)
        y1c = min(max(y0i + 1, 0), snr - 1)
        for u in range(ncols):
            fx = ((u + 0.5) * out_res + (x0 - s_x0)) / s_res - 0.5
            if not (0 <= int(np.floor(fx + 0.5)) < snc):
                continue
            x0i = int(np.floor(fx))
            wx = fx - x0i
            x0c = min(max(x0i, 0), snc - 1)
            x1c = min(max(x0i + 1, 0), snc - 1)
            ps = [src[y0c, x0c], src[y0c, x1c], src[y1c, x0c], src[y1c, x1c]]
            if nullval in ps:
                continue
            val = (
                ps[0] * (1 - wy) * (1 - wx)
                + ps[1] * (1 - wy) * wx
                + ps[2] * wy * (1 - wx)
                + ps[3] * wy * wx
            )
            dst[v, u] = int(np.rint(val))
    return dst


def _oracle_average(src, s_x0, s_y0, s_res, x0, y0, out_res, ncols, nrows, nullval):
    snr, snc = src.shape
    dst = np.full((nrows, ncols), nullval, dtype=np.int32)
    for v in range(nrows):
        d_lo = (v * out_res + (s_y0 - y0)) / s_res
        d_hi = ((v + 1) * out_res + (s_y0 - y0)) / s_res
        ya = int(np.ceil(d_lo - 0.5))
        yb = int(np.ceil(d_hi - 0.5)) - 1
        ya, yb = max(ya, 0), min(yb, snr - 1)
        if yb < ya:
            continue
        for u in range(ncols):
            e_lo = (u * out_res + (x0 - s_x0)) / s_res
            e_hi = ((u + 1) * out_res + (x0 - s_x0)) / s_res
            xa = int(np.ceil(e_lo - 0.5))
            xb = int(np.ceil(e_hi - 0.5)) - 1
            xa, xb = max(xa, 0), min(xb, snc - 1)
            if xb < xa:
                continue
            box = src[ya: yb + 1, xa: xb + 1]
            vals = box[box != nullval]
            if vals.size:
                dst[v, u] = int(np.rint(vals.mean()))
    return dst


def _run(spark, rasters, out_res, method):
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 32))
    nfp, nblocks = RP.resample_blocks(
        fp, blocks, out_res, out_res, src_blocksize=32, method=method
    )
    meta = nfp.collect()[0]
    got = np.full((meta.nrows, meta.ncols), -1, dtype=np.int32)
    for r in nblocks.collect():
        got[r.b_top: r.b_top + r.b_ysize, r.b_left: r.b_left + r.b_xsize] = decode(r.pixels).reshape(r.b_ysize, r.b_xsize)
    assert (got != -1).all()
    return meta, got


@pytest.mark.parametrize("out_res", [5.0, 10.0, 25.0])
def test_bilinear_matches_golden(spark, out_res):
    rasters = _rand_raster()
    meta, got = _run(spark, rasters, out_res, "bilinear")
    want = _oracle_bilinear(
        rasters[0].bands[0], 300000.0, 7000000.0, 10.0,
        meta.x0, meta.y0, out_res, meta.ncols, meta.nrows, NULL,
    )
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("out_res", [15.0, 25.0, 40.0])
def test_average_matches_golden(spark, out_res):
    rasters = _rand_raster()
    meta, got = _run(spark, rasters, out_res, "average")
    want = _oracle_average(
        rasters[0].bands[0], 300000.0, 7000000.0, 10.0,
        meta.x0, meta.y0, out_res, meta.ncols, meta.nrows, NULL,
    )
    np.testing.assert_array_equal(got, want)


def test_unknown_method_rejected(spark):
    rasters = _rand_raster()
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 32))
    with pytest.raises(ValueError, match="resample method"):
        RP.resample_blocks(fp, blocks, 5.0, 5.0, method="cubic")
