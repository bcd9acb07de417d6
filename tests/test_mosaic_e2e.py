"""End-to-end mosaic: per-pixel equality vs the independent numpy oracle
(the Spark port of the reference's Fulltest.test_sameProjection,
tests.py:69-106), plus stats, pyramid, gap-fill, multi-band, and every
accepted join strategy value (all plan the one spatial join)."""

import numpy as np
import pytest

from moamosaic_spark.mosaic import MoaProjectionError, MosaicConfig, do_mosaic, validate_projections
from moamosaic_spark.pixels import decode
from moamosaic_spark.plans.grid import overview_shape
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints


def run_case(spark, rasters, blocksize=128, min_ov=64, strategy="broadcast", **kw):
    cfg = MosaicConfig(
        blocksize=blocksize,
        src_blocksize=256,
        min_overview_size=min_ov,
        strategy=strategy,
        **kw,
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, cfg.src_blocksize))
    want = synth.oracle(rasters, blocksize=blocksize, min_overview_size=min_ov)
    got = do_mosaic(spark, fp, blocks, cfg)
    return want, got


def check_tiles_equal(want, got):
    rows = got.tiles.collect()
    seen = set()
    for r in rows:
        arr = decode(r.pixels).reshape(r.ysize, r.xsize)
        key = (r.band, r.tile_row, r.tile_col)
        assert key not in seen
        seen.add(key)
        np.testing.assert_array_equal(arr, want.tiles[key], err_msg=f"tile {key}")
    assert seen == set(want.tiles.keys())


def check_stats_equal(want, got):
    for r in got.stats.collect():
        w_min, w_max, w_mean, w_std, w_count = want.stats[r.band]
        assert r["count"] == w_count
        if w_count:
            assert r.minval == w_min and r.maxval == w_max
            assert abs(r.meanval - w_mean) < 1e-7
            assert abs(r.stddev - w_std) < 1e-7


def check_overviews_equal(want, got):
    """Assemble engine fragments into full overview arrays and compare with
    the global strided subsample (ref tests.py:153-177, exact)."""
    frags = got.overviews.collect()
    grids = {}
    for r in frags:
        lvl = r.level
        key = (r.band, lvl)
        if key not in grids:
            shape = overview_shape(want.grid.nrows, want.grid.ncols, lvl)
            grids[key] = np.full(shape, -1, dtype=np.int32)
        arr = decode(r.pixels).reshape(r.ysize, r.xsize)
        tgt = grids[key][r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize]
        assert tgt.shape == arr.shape, f"fragment overflow at {key} off=({r.y_off},{r.x_off})"
        # fragments must tile the overview without overlap
        assert (tgt == -1).all(), f"overlapping fragments at {key}"
        grids[key][r.y_off: r.y_off + r.ysize, r.x_off: r.x_off + r.xsize] = arr
    assert set(grids.keys()) == set(want.overviews.keys())
    for key, g in grids.items():
        assert (g != -1).all(), f"overview {key} has unwritten pixels"
        np.testing.assert_array_equal(g, want.overviews[key], err_msg=f"overview {key}")


@pytest.mark.parametrize("strategy", ["broadcast", "cell"])
def test_golden_pair_full(spark, strategy):
    kw = {"cell_size_px": 256} if strategy == "cell" else {}
    want, got = run_case(spark, synth.golden_pair(512, 512), strategy=strategy, **kw)
    check_tiles_equal(want, got)
    check_stats_equal(want, got)
    check_overviews_equal(want, got)


def test_null_no_overwrite(spark):
    """The overlap's first column is null in raster B and must NOT
    overwrite raster A (ref tests.py:92-94): mosaic column ncols-2 keeps
    A's value ncols-2, column ncols-1 gets B's value 1."""
    nrows = ncols = 256
    want, got = run_case(spark, synth.golden_pair(nrows, ncols))
    canvas = want.canvas[1]
    assert (canvas[:, ncols - 2] == ncols - 2).all()
    assert (canvas[:, ncols - 1] == 1).all()
    check_tiles_equal(want, got)


def test_grid3x3(spark):
    want, got = run_case(spark, synth.grid3x3(200, 200))
    check_tiles_equal(want, got)
    check_stats_equal(want, got)
    check_overviews_equal(want, got)


def test_gap_null_fill(spark):
    want, got = run_case(spark, synth.with_gap(200, 200))
    check_tiles_equal(want, got)
    check_stats_equal(want, got)
    check_overviews_equal(want, got)


@pytest.mark.parametrize("route", ["direct", "relayout"])
def test_every_band_of_every_tile(spark, route):
    """Every band 1..n_bands of every tile has a row. The priority-0
    input has 2 bands (so the grid has 2); the other input, far to the
    east, has 1. Tiles it alone covers get a null band-2 tile and null
    band-2 fragments — its band 2 reads as nodata, as in the oracle of
    the same corpus with that band filled with nullval."""
    import copy

    rasters = synth.with_gap(200, 200)
    rasters[0].n_bands = 2
    rasters[0].bands.append(rasters[0].bands[0] + 1)
    padded = copy.deepcopy(rasters)
    padded[1].n_bands = 2
    padded[1].bands.append(np.full_like(padded[1].bands[0], padded[1].nullval))
    cfg = MosaicConfig(blocksize=64, src_blocksize=256, min_overview_size=32,
                       relayout_table="work_bands" if route == "relayout" else None)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, cfg.src_blocksize))
    want = synth.oracle(padded, blocksize=64, min_overview_size=32)
    got = do_mosaic(spark, fp, blocks, cfg)
    check_tiles_equal(want, got)
    check_overviews_equal(want, got)
    east = {(ti, tj) for (ti, tj, ref) in want.assignments if ref == "r001"}
    band2 = {(r.tile_row, r.tile_col): r.px_count
             for r in got.tiles.where("band = 2").collect()}
    assert east and all(band2[k] == 0 for k in east)
    if route == "relayout":
        for t in ("work_bands", "work_bands_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_multiband(spark):
    want, got = run_case(spark, synth.golden_pair(200, 200, n_bands=2))
    check_tiles_equal(want, got)
    check_stats_equal(want, got)


def test_remainder_tiling_edge(spark):
    # 1100 px with blocksize 256 -> last block absorbs the 76-px remainder
    want, got = run_case(spark, synth.golden_pair(550, 550), blocksize=256)
    check_tiles_equal(want, got)


def test_hot_cell_salted(spark):
    """Twelve inputs stacked on the same tiles, with the accepted
    ``strategy="cell"`` config. The join has no salt: a hot tile's cost
    is its output rows, which the stitch folds one Arrow batch at a time
    (test_salted_stitch.py)."""
    want, got = run_case(spark, synth.hot_cell(12), strategy="cell", cell_size_px=256)
    check_tiles_equal(want, got)
    check_stats_equal(want, got)


def test_projection_mismatch_raises(spark):
    rasters = synth.golden_pair(64, 64)
    pdf = synth.footprints_pdf(rasters)
    pdf.loc[1, "projection"] = "EPSG:4326"
    with pytest.raises(MoaProjectionError):
        validate_projections(to_footprints(spark, pdf))
    pdf = synth.footprints_pdf(rasters)
    pdf.loc[1, "x0"] += 3.0  # misaligned by 0.3 px
    with pytest.raises(MoaProjectionError):
        validate_projections(to_footprints(spark, pdf))
