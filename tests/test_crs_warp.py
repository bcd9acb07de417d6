"""Built-in CRS transforms (crs.py) and the cross-CRS windowed warp
(reproject.warp_blocks): published UTM anchors, round trips, identity
equivalence with the same-CRS resample, a loop-based per-pixel golden,
and a mixed-CRS mosaic end-to-end."""

import numpy as np
import pytest

from moamosaic_spark import crs
from moamosaic_spark import reproject as RP
from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.pixels import decode
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints


def test_tm_anchors_and_roundtrip():
    # classic published anchors: equator on the central meridian maps to
    # (500000, 0); the zone-edge-at-equator easting is 166021.443 m
    x, y = crs.tm_forward(3.0, 0.0, *crs.utm_params(32631))
    assert abs(x - 500000.0) < 1e-6 and abs(y) < 1e-6
    x, y = crs.tm_forward(0.0, 0.0, *crs.utm_params(32631))
    assert abs(x - 166021.443) < 0.01 and abs(y) < 1e-6
    _, y = crs.tm_forward(153.0, 0.0, *crs.utm_params(32756))
    assert abs(y - 10000000.0) < 1e-6  # southern false northing

    rng = np.random.default_rng(0)
    lon = rng.uniform(150.1, 155.9, 500)
    lat = rng.uniform(-60, -0.5, 500)
    x, y = crs.tm_forward(lon, lat, *crs.utm_params(32756))
    lon2, lat2 = crs.tm_inverse(x, y, *crs.utm_params(32756))
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8

    # cross-zone hop and back: sub-centimeter
    tr = crs.make_transform(32756, 32755)
    back = crs.make_transform(32755, 32756)
    x1, y1 = crs.tm_forward(150.5, -33.0, *crs.utm_params(32756))
    x3, y3 = back(*tr(x1, y1))
    assert abs(float(x3) - x1) < 0.01 and abs(float(y3) - y1) < 0.01

    with pytest.raises(crs.MoaCrsError, match="EPSG"):
        crs.make_transform(2193, 4326)  # NZTM: outside the built-in subset


def test_web_mercator_anchors_and_roundtrip():
    # published EPSG:3857 bounds: lon 180 and lat ~85.05112878 both map
    # to 20037508.3427892 m (the square world)
    x, y = crs.merc_forward(180.0, 0.0)
    assert abs(x - 20037508.342789244) < 1e-6 and abs(y) < 1e-9
    _, y = crs.merc_forward(0.0, 85.05112877980659)
    assert abs(y - 20037508.342789244) < 1e-5

    rng = np.random.default_rng(1)
    lon = rng.uniform(-179, 179, 300)
    lat = rng.uniform(-80, 80, 300)
    lon2, lat2 = crs.merc_inverse(*crs.merc_forward(lon, lat))
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9

    # UTM -> 3857 -> UTM round trip: sub-centimeter
    tr = crs.make_transform(32656, 3857)
    back = crs.make_transform(3857, 32656)
    x1, y1 = crs.tm_forward(153.0, 27.5, *crs.utm_params(32656))
    x3, y3 = back(*tr(x1, y1))
    assert abs(float(x3) - x1) < 0.01 and abs(float(y3) - y1) < 0.01


def _collect_canvas(nfp, nblocks, ref="r000"):
    meta = [r for r in nfp.collect() if r.media_ref == ref][0]
    got = np.full((meta.nrows, meta.ncols), -1, dtype=np.int32)
    for r in nblocks.where(f"media_ref = '{ref}'").collect():
        got[r.b_top: r.b_top + r.b_ysize, r.b_left: r.b_left + r.b_xsize] = decode(r.pixels).reshape(r.b_ysize, r.b_xsize)
    assert (got != -1).all()
    return meta, got


def test_warp_identity_crs_equals_resample(spark):
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=100, ncols=130)]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    _, w_blocks = RP.warp_blocks(fp, blocks, "EPSG:32756", 20.0, 20.0,
                                 src_blocksize=64, method="near")
    nfp, r_blocks = RP.resample_blocks(fp, blocks, 20.0, 20.0,
                                       src_blocksize=64, method="near")
    _, got_w = _collect_canvas(nfp, w_blocks)
    _, got_r = _collect_canvas(nfp, r_blocks)
    np.testing.assert_array_equal(got_w, got_r)


def _oracle_warp_near(src, s_x0, s_y0, s_res, src_epsg, meta, out_res, dst_epsg, nullval):
    tr = crs.make_transform(dst_epsg, src_epsg)
    nrows, ncols = meta.nrows, meta.ncols
    # vectorize the transform but keep indexing per-pixel and loop-free
    # of the kernel's windowing machinery
    u = np.arange(ncols) + 0.5
    v = np.arange(nrows) + 0.5
    XW = meta.x0 + np.broadcast_to(u[None, :] * out_res, (nrows, ncols))
    YW = meta.y0 - np.broadcast_to(v[:, None] * out_res, (nrows, ncols))
    xs, ys = tr(XW.ravel(), YW.ravel())
    ci = np.floor((xs - s_x0) / s_res).reshape(nrows, ncols).astype(int)
    ri = np.floor((s_y0 - ys) / s_res).reshape(nrows, ncols).astype(int)
    dst = np.full((nrows, ncols), nullval, dtype=np.int32)
    ok = (ci >= 0) & (ci < src.shape[1]) & (ri >= 0) & (ri < src.shape[0])
    dst[ok] = src[ri[ok], ci[ok]]
    return dst


def test_warp_cross_zone_matches_golden(spark):
    """UTM 56S raster warped onto the adjacent zone 55S grid."""
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=6300000.0, nrows=100, ncols=130)]
    )
    rng = np.random.default_rng(3)
    arr = rng.integers(1, 500, size=(100, 130)).astype(np.int32)
    rasters[0].bands = [arr]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    nfp, nblocks = RP.warp_blocks(fp, blocks, "EPSG:32755", 10.0, 10.0,
                                  src_blocksize=64, method="near")
    meta, got = _collect_canvas(nfp, nblocks)
    assert meta.projection == "EPSG:32755"
    want = _oracle_warp_near(arr, 300000.0, 6300000.0, 10.0, 32756,
                             meta, 10.0, 32755, 0)
    np.testing.assert_array_equal(got, want)
    # the warped raster must actually contain source data
    assert (got != 0).sum() > 0.5 * arr.size


def test_mixed_crs_mosaic_end_to_end(spark):
    """Two rasters in DIFFERENT UTM zones, warped to one grid, then
    mosaicked — the reference's cross-CRS VRT use case end-to-end."""
    a = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=6300000.0, nrows=120, ncols=120)]
    )
    b = synth.make_rasters(
        [dict(media_ref="r001", x0=840000.0, y0=6300000.0, nrows=120, ncols=120)]
    )
    pdf_a = synth.footprints_pdf(a)
    pdf_b = synth.footprints_pdf(b)
    pdf_b["projection"] = "EPSG:32755"  # zone 55: easting 840000 ~ lon 150.7E
    pdf_b["priority"] = 1
    import pandas as pd

    fp = to_footprints(spark, pd.concat([pdf_a, pdf_b], ignore_index=True))
    blocks_a = synth.blocks_pdf(a, 64)
    blocks_b = synth.blocks_pdf(b, 64)
    blocks = to_blocks(spark, pd.concat([blocks_a, blocks_b], ignore_index=True))

    nfp, nblocks = RP.warp_blocks(fp, blocks, "EPSG:32756", 10.0, 10.0,
                                  src_blocksize=64, method="near")
    projs = {r.projection for r in nfp.collect()}
    assert projs == {"EPSG:32756"}

    cfg = MosaicConfig(blocksize=64, src_blocksize=64, with_overviews=False)
    res = do_mosaic(spark, nfp, nblocks, cfg)  # passes validate_projections
    tiles = res.tiles.collect()
    assert tiles
    nonnull = sum(r.px_count for r in tiles)
    assert nonnull > 0


def test_warp_average_identity_crs_equals_resample(spark):
    """Same-CRS warp with method='average' must equal the resample
    path's prefix-sum box mean (the corner boxes degenerate to the
    axis-aligned center-in-[lo,hi) rule under an identity transform)."""
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=100, ncols=130)]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    _, w_blocks = RP.warp_blocks(fp, blocks, "EPSG:32756", 30.0, 30.0,
                                 src_blocksize=64, method="average")
    nfp, r_blocks = RP.resample_blocks(fp, blocks, 30.0, 30.0,
                                       src_blocksize=64, method="average")
    _, got_w = _collect_canvas(nfp, w_blocks)
    _, got_r = _collect_canvas(nfp, r_blocks)
    np.testing.assert_array_equal(got_w, got_r)


def _oracle_warp_average(src, s_x0, s_y0, s_res, src_epsg, meta, out_res,
                         dst_epsg, nullval):
    """Per-pixel python-loop golden of the warp 'average' semantics:
    map the target cell's 4 corners to source index space, average the
    source pixels whose centers fall in the bounding box (centers in
    [lo, hi)), ignoring nullval."""
    tr = crs.make_transform(dst_epsg, src_epsg)
    dst = np.full((meta.nrows, meta.ncols), nullval, dtype=np.int32)
    for v in range(meta.nrows):
        for u in range(meta.ncols):
            xs, ys = tr(
                np.array([meta.x0 + u * out_res, meta.x0 + (u + 1) * out_res,
                          meta.x0 + u * out_res, meta.x0 + (u + 1) * out_res]),
                np.array([meta.y0 - v * out_res, meta.y0 - v * out_res,
                          meta.y0 - (v + 1) * out_res, meta.y0 - (v + 1) * out_res]),
            )
            col = (xs - s_x0) / s_res
            row = (s_y0 - ys) / s_res
            xa = int(np.ceil(col.min() - 0.5)); xb = int(np.ceil(col.max() - 0.5)) - 1
            ya = int(np.ceil(row.min() - 0.5)); yb = int(np.ceil(row.max() - 0.5)) - 1
            if xb < xa or yb < ya or xb < 0 or ya >= src.shape[0] or yb < 0 or xa >= src.shape[1]:
                continue
            box = src[max(ya, 0): min(yb, src.shape[0] - 1) + 1,
                      max(xa, 0): min(xb, src.shape[1] - 1) + 1]
            vals = box[box != nullval]
            if vals.size:
                dst[v, u] = int(np.rint(vals.astype(np.float64).mean()))
    return dst


def test_warp_average_cross_zone_matches_golden(spark):
    """UTM 56S -> 55S downsampling warp with method='average' against a
    per-pixel loop golden (reference accepts any resample method for the
    warp, reproj.py:209-213 — this closes the method x CRS matrix)."""
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=6300000.0, nrows=96, ncols=96)]
    )
    rng = np.random.default_rng(5)
    arr = rng.integers(1, 500, size=(96, 96)).astype(np.int32)
    rasters[0].bands = [arr]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    nfp, nblocks = RP.warp_blocks(fp, blocks, "EPSG:32755", 30.0, 30.0,
                                  src_blocksize=64, method="average")
    meta, got = _collect_canvas(nfp, nblocks)
    want = _oracle_warp_average(arr, 300000.0, 6300000.0, 10.0, 32756,
                                meta, 30.0, 32755, 0)
    np.testing.assert_array_equal(got, want)
    assert (got != 0).sum() > 0.3 * got.size


def test_warp_utm_to_web_mercator_matches_golden(spark):
    """EPSG:32656 (UTM 56N) raster warped onto the EPSG:3857 grid — the
    most common CRS a real user brings (round-2 verdict item 8). Golden
    = the per-pixel nearest gather with the same transform."""
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=400000.0, y0=3050000.0, nrows=100, ncols=120)]
    )
    rng = np.random.default_rng(9)
    arr = rng.integers(1, 500, size=(100, 120)).astype(np.int32)
    rasters[0].bands = [arr]
    pdf = synth.footprints_pdf(rasters)
    pdf["projection"] = "EPSG:32656"
    fp = to_footprints(spark, pdf)
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    nfp, nblocks = RP.warp_blocks(fp, blocks, "EPSG:3857", 12.0, 12.0,
                                  src_blocksize=64, method="near")
    meta, got = _collect_canvas(nfp, nblocks)
    assert meta.projection == "EPSG:3857"
    want = _oracle_warp_near(arr, 400000.0, 3050000.0, 10.0, 32656,
                             meta, 12.0, 3857, 0)
    np.testing.assert_array_equal(got, want)
    assert (got != 0).sum() > 0.5 * arr.size

    # and back: 3857 -> UTM round trip through the warp machinery
    bfp, bblocks = RP.warp_blocks(nfp, nblocks, "EPSG:32656", 10.0, 10.0,
                                  src_blocksize=64, method="near")
    assert {r.projection for r in bfp.collect()} == {"EPSG:32656"}
    _, got_back = _collect_canvas(bfp, bblocks)
    # resampling round trip is lossy at edges; interior must carry data
    assert (got_back != 0).sum() > 0.4 * arr.size


def test_warp_bilinear_identity_crs_equals_resample(spark):
    """Same-CRS warp with method='bilinear' must equal the resample
    path's bilinear (under an identity transform the 2-D centre maps
    reduce to the separable affine ones), and both the per-pixel loop
    golden of the documented rule."""
    from tests.test_resample_methods import _oracle_bilinear

    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=100, ncols=130)]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))
    _, w_blocks = RP.warp_blocks(fp, blocks, "EPSG:32756", 15.0, 15.0,
                                 src_blocksize=64, method="bilinear")
    nfp, r_blocks = RP.resample_blocks(fp, blocks, 15.0, 15.0,
                                       src_blocksize=64, method="bilinear")
    meta, got_w = _collect_canvas(nfp, w_blocks)
    _, got_r = _collect_canvas(nfp, r_blocks)
    np.testing.assert_array_equal(got_w, got_r)
    want = _oracle_bilinear(rasters[0].bands[0], 300000.0, 7000000.0, 10.0,
                            meta.x0, meta.y0, 15.0, meta.ncols, meta.nrows, 0)
    np.testing.assert_array_equal(got_w, want)


def _oracle_warp_bilinear(src, s_x0, s_y0, s_res, src_epsg, meta, out_res,
                          dst_epsg, nullval):
    """Per-pixel loop golden of the warp 'bilinear' semantics: the 4
    neighbours at the centre-aligned fractional source index (clamped to
    the source), nullval if the centre-nearest pixel is outside the
    source or any neighbour is nullval, banker's rounding."""
    tr = crs.make_transform(dst_epsg, src_epsg)
    nrows, ncols = meta.nrows, meta.ncols
    u = np.arange(ncols) + 0.5
    v = np.arange(nrows) + 0.5
    XW = meta.x0 + np.broadcast_to(u[None, :] * out_res, (nrows, ncols))
    YW = meta.y0 - np.broadcast_to(v[:, None] * out_res, (nrows, ncols))
    xs, ys = tr(XW.ravel(), YW.ravel())
    colf = ((xs - s_x0) / s_res).reshape(nrows, ncols)
    rowf = ((s_y0 - ys) / s_res).reshape(nrows, ncols)
    snr, snc = src.shape
    dst = np.full((nrows, ncols), nullval, dtype=np.int32)
    for i in range(nrows):
        for j in range(ncols):
            r, c = float(rowf[i, j]), float(colf[i, j])
            if not (0 <= int(np.floor(r)) < snr and 0 <= int(np.floor(c)) < snc):
                continue
            fy, fx = r - 0.5, c - 0.5
            y0i, x0i = int(np.floor(fy)), int(np.floor(fx))
            wy, wx = fy - y0i, fx - x0i
            y0c, y1c = min(max(y0i, 0), snr - 1), min(max(y0i + 1, 0), snr - 1)
            x0c, x1c = min(max(x0i, 0), snc - 1), min(max(x0i + 1, 0), snc - 1)
            ps = [src[y0c, x0c], src[y0c, x1c], src[y1c, x0c], src[y1c, x1c]]
            if nullval in ps:
                continue
            val = (
                ps[0] * (1 - wy) * (1 - wx)
                + ps[1] * (1 - wy) * wx
                + ps[2] * wy * (1 - wx)
                + ps[3] * wy * wx
            )
            dst[i, j] = int(np.rint(val))
    return dst


def test_warp_bilinear_cross_zone_matches_golden(spark):
    """UTM 56S -> 55S warp with method='bilinear' (a nodata hole inside)
    against a per-pixel loop golden."""
    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=6300000.0, nrows=100, ncols=130)]
    )
    rng = np.random.default_rng(7)
    arr = rng.integers(1, 500, size=(100, 130)).astype(np.int32)
    arr[40:44, 50:61] = 0  # nodata hole
    rasters[0].bands = [arr]
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 64))

    nfp, nblocks = RP.warp_blocks(fp, blocks, "EPSG:32755", 12.0, 12.0,
                                  src_blocksize=64, method="bilinear")
    meta, got = _collect_canvas(nfp, nblocks)
    want = _oracle_warp_bilinear(arr, 300000.0, 6300000.0, 10.0, 32756,
                                 meta, 12.0, 32755, 0)
    np.testing.assert_array_equal(got, want)
    assert (got != 0).sum() > 0.4 * got.size
