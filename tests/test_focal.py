"""Focal (neighborhood) operators: halo exchange + Horn hillshade.

Truth model: assemble the full raster in numpy, compute every output
pixel from the whole raster directly (no tiling), and compare against
the distributed tiled computation pixel-for-pixel — so the cross-tile
halo exchange is what the test exercises. array<int> tiles (packed by
the ingest adaptor, pixels.ingest) and binary tiles must give
identical output.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, StructField, StructType,
)

from moamosaic_spark.functions.focal import (
    D8_DIAG_W, D8_DIRS, D8_FLAT, HS_LX, HS_LY, HS_LZ, SLOPE_Q,
    focal_stats, hillshade, terrain,
)
from moamosaic_spark.pixels import encode

# 3x3 tile grid, ragged last row/col: full raster 8+8+5 = 21 rows,
# 8+8+6 = 22 cols — every interior tile border and both ragged edges
# get exercised.
TILE_ROWS = [8, 8, 5]
TILE_COLS = [8, 8, 6]
NULL = 0


def _make_raster(rng):
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    g = rng.integers(1, 500, size=total).astype(np.int64)
    # scatter nulls, including along tile borders
    mask = rng.random(total) < 0.18
    g[mask] = NULL
    g[7:10, :] = np.where(rng.random((3, total[1])) < 0.5, NULL, g[7:10, :])
    return g


def _tiles_df(spark, grid, packed: bool):
    rows = []
    y = 0
    for tr, ys in enumerate(TILE_ROWS):
        x = 0
        for tc, xs in enumerate(TILE_COLS):
            arr = grid[y:y + ys, x:x + xs]
            px = encode(arr.ravel()) if packed else [int(v) for v in arr.ravel()]
            rows.append((1, tr, tc, ys, xs, px))
            x += xs
        y += ys
    schema = StructType([
        StructField("band", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("tile_col", IntegerType()),
        StructField("ysize", IntegerType()),
        StructField("xsize", IntegerType()),
        StructField("pixels",
                    BinaryType() if packed else ArrayType(IntegerType())),
    ])
    return spark.createDataFrame(rows, schema)


def _collect_grids(df, cols):
    """Reassemble per-tile output arrays into full-raster numpy grids."""
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grids = {c: np.full(total, -999, dtype=np.int64) for c in cols}
    for r in df.collect():
        y0 = sum(TILE_ROWS[: r.tile_row])
        x0 = sum(TILE_COLS[: r.tile_col])
        for c in cols:
            a = np.asarray(r[c], dtype=np.int64).reshape(r.ysize, r.xsize)
            grids[c][y0:y0 + r.ysize, x0:x0 + r.xsize] = a
    assert all((g != -999).all() for g in grids.values())
    return grids


def _brute_focal(grid, R=1):
    ys, xs = grid.shape
    cnt = np.full(grid.shape, -1, np.int64)
    tot = np.full(grid.shape, -1, np.int64)
    ssq = np.full(grid.shape, -1, np.int64)
    mn = np.full(grid.shape, -1, np.int64)
    mx = np.full(grid.shape, -1, np.int64)
    for r in range(ys):
        for c in range(xs):
            if grid[r, c] == NULL:
                continue
            w = grid[max(0, r - R):r + R + 1, max(0, c - R):c + R + 1]
            v = w[w != NULL]
            cnt[r, c] = v.size
            tot[r, c] = v.sum()
            ssq[r, c] = (v * v).sum()
            mn[r, c] = v.min()
            mx[r, c] = v.max()
    return cnt, tot, ssq, mn, mx


def _brute_hillshade(grid, fx, fy):
    ys, xs = grid.shape
    out = np.full(grid.shape, -1, np.int64)
    for r in range(1, ys - 1):
        for c in range(1, xs - 1):
            w = grid[r - 1:r + 2, c - 1:c + 2]
            if (w == NULL).any():
                continue
            w = w.astype(np.float64)
            gx = ((w[0, 2] + 2 * w[1, 2] + w[2, 2])
                  - (w[0, 0] + 2 * w[1, 0] + w[2, 0])) / fx
            gy = ((w[2, 0] + 2 * w[2, 1] + w[2, 2])
                  - (w[0, 0] + 2 * w[0, 1] + w[0, 2])) / fy
            num = HS_LZ - HS_LX * gx - HS_LY * gy
            den = np.sqrt(1.0 + gx * gx + gy * gy)
            out[r, c] = int(np.floor(255.0 * max(num / den, 0.0) + 0.5))
    return out


@pytest.mark.parametrize("packed", [False, True])
def test_focal_stats_matches_whole_raster(spark, packed):
    grid = _make_raster(np.random.default_rng(7))
    tiles = _tiles_df(spark, grid, packed)
    got = _collect_grids(
        focal_stats(tiles, nullval=NULL),
        ["f_count", "f_sum", "f_ssq", "f_min", "f_max"],
    )
    cnt, tot, ssq, mn, mx = _brute_focal(grid)
    np.testing.assert_array_equal(got["f_count"], cnt)
    np.testing.assert_array_equal(got["f_sum"], tot)
    np.testing.assert_array_equal(got["f_ssq"], ssq)
    np.testing.assert_array_equal(got["f_min"], mn)
    np.testing.assert_array_equal(got["f_max"], mx)


@pytest.mark.parametrize("packed", [False, True])
def test_focal_stats_radius2(spark, packed):
    # 5x5 windows: the halo is now R-row/col strips and RxR corners;
    # the ragged 5-row/6-col last tiles exercise the R=2 edge cases
    grid = _make_raster(np.random.default_rng(41))
    got = _collect_grids(
        focal_stats(_tiles_df(spark, grid, packed), nullval=NULL, radius=2),
        ["f_count", "f_sum", "f_ssq", "f_min", "f_max"],
    )
    cnt, tot, ssq, mn, mx = _brute_focal(grid, R=2)
    np.testing.assert_array_equal(got["f_ssq"], ssq)
    np.testing.assert_array_equal(got["f_count"], cnt)
    np.testing.assert_array_equal(got["f_sum"], tot)
    np.testing.assert_array_equal(got["f_min"], mn)
    np.testing.assert_array_equal(got["f_max"], mx)


def test_focal_radius_exceeding_tile_raises(spark):
    grid = _make_raster(np.random.default_rng(43))
    with pytest.raises(Exception, match="halo radius"):
        focal_stats(_tiles_df(spark, grid, True), nullval=NULL,
                    radius=6).collect()


def test_focal_layouts_agree(spark):
    """Every focal product is row-for-row identical for array<int>
    tiles and binary tiles."""
    grid = _make_raster(np.random.default_rng(11))
    products = (
        lambda t: focal_stats(t, nullval=NULL),
        lambda t: focal_majority(t, nullval=NULL),
        lambda t: hillshade(t, xres=10.0, yres=10.0, nullval=NULL),
        lambda t: terrain(t, xres=10.0, yres=10.0, nullval=NULL),
    )
    for product in products:
        a, b = (
            sorted(tuple(r) for r in product(_tiles_df(spark, grid, packed)).collect())
            for packed in (False, True)
        )
        assert a == b


@pytest.mark.parametrize("packed", [False, True])
def test_hillshade_matches_whole_raster(spark, packed):
    grid = _make_raster(np.random.default_rng(13))
    xres, yres = 10.0, 10.0
    tiles = _tiles_df(spark, grid, packed)
    got = _collect_grids(
        hillshade(tiles, xres=xres, yres=yres, nullval=NULL), ["pixels"])
    truth = _brute_hillshade(grid, 8.0 * xres, 8.0 * yres)
    np.testing.assert_array_equal(got["pixels"], truth)


def test_hillshade_flat_surface(spark):
    # flat surface: gx = gy = 0 -> shade = floor(255 * LZ + 0.5) = 180
    # everywhere the 3x3 window is fully on-raster; -1 on the border.
    grid = np.full((sum(TILE_ROWS), sum(TILE_COLS)), 7, dtype=np.int64)
    got = _collect_grids(
        hillshade(_tiles_df(spark, grid, True), xres=10.0, yres=10.0,
                  nullval=NULL),
        ["pixels"])["pixels"]
    assert (got[1:-1, 1:-1] == 180).all()
    assert (got[0, :] == -1).all() and (got[-1, :] == -1).all()
    assert (got[:, 0] == -1).all() and (got[:, -1] == -1).all()


def _brute_terrain(grid, fx, fy):
    ys, xs = grid.shape
    slope = np.full(grid.shape, -1, np.int64)
    d8 = np.full(grid.shape, -1, np.int64)
    for r in range(1, ys - 1):
        for c in range(1, xs - 1):
            w = grid[r - 1:r + 2, c - 1:c + 2]
            if (w == NULL).any():
                continue
            wf = w.astype(np.float64)
            gx = ((wf[0, 2] + 2 * wf[1, 2] + wf[2, 2])
                  - (wf[0, 0] + 2 * wf[1, 0] + wf[2, 0])) / fx
            gy = ((wf[2, 0] + 2 * wf[2, 1] + wf[2, 2])
                  - (wf[0, 0] + 2 * wf[0, 1] + wf[0, 2])) / fy
            slope[r, c] = int(np.floor(
                SLOPE_Q * np.sqrt(gx * gx + gy * gy) + 0.5))
            best_eff, best_k = -np.inf, D8_FLAT
            for k, (dy, dx) in enumerate(D8_DIRS):
                wt = D8_DIAG_W if dy != 0 and dx != 0 else 1.0
                eff = float(int(w[1, 1]) - int(w[1 + dy, 1 + dx])) * wt
                if eff > best_eff:
                    best_eff, best_k = eff, k
            d8[r, c] = best_k if best_eff > 0.0 else D8_FLAT
    return slope, d8


@pytest.mark.parametrize("packed", [False, True])
def test_terrain_matches_whole_raster(spark, packed):
    # values in 1..6 force many D8 ties -> the scan-order tie-break is
    # what this test actually gates (plus the cross-tile halo)
    rng = np.random.default_rng(17)
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = rng.integers(1, 7, size=total).astype(np.int64)
    grid[rng.random(total) < 0.1] = NULL
    got = _collect_grids(
        terrain(_tiles_df(spark, grid, packed), xres=10.0, yres=10.0,
                nullval=NULL),
        ["slope_q", "d8"],
    )
    slope, d8 = _brute_terrain(grid, 80.0, 80.0)
    np.testing.assert_array_equal(got["slope_q"], slope)
    np.testing.assert_array_equal(got["d8"], d8)


def test_terrain_flat_and_single_descent(spark):
    # flat -> slope 0, d8 = D8_FLAT; one lower cell -> its 8 neighbors
    # all point at it
    grid = np.full((sum(TILE_ROWS), sum(TILE_COLS)), 9, dtype=np.int64)
    grid[10, 10] = 3  # sits on the (8,8) tile's interior-adjacent zone
    got = _collect_grids(
        terrain(_tiles_df(spark, grid, True), xres=10.0, yres=10.0,
                nullval=NULL),
        ["slope_q", "d8"],
    )
    d8 = got["d8"]
    assert d8[5, 5] == D8_FLAT and got["slope_q"][5, 5] == 0
    # neighbors of the pit route into it: cell above flows S(4),
    # below flows N(0), left flows E(2), right flows W(6), diagonals too
    assert d8[9, 10] == 4 and d8[11, 10] == 0
    assert d8[10, 9] == 2 and d8[10, 11] == 6
    assert d8[9, 9] == 3 and d8[11, 11] == 7
    # the pit itself is a pit -> D8_FLAT (no positive drop)
    assert d8[10, 10] == D8_FLAT


def test_focal_single_shuffle_plan(spark):
    # the halo exchange must be ONE shuffle: exactly one Exchange in
    # the plan, keyed on the tile id
    grid = _make_raster(np.random.default_rng(3))
    plan = focal_stats(_tiles_df(spark, grid, True))._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


from moamosaic_spark.functions.focal import focal_majority  # noqa: E402


def _brute_majority(grid, R=1):
    from collections import Counter

    ys, xs = grid.shape
    out = np.full(grid.shape, -1, np.int64)
    for r in range(ys):
        for c in range(xs):
            if grid[r, c] == NULL:
                continue
            w = grid[max(0, r - R):r + R + 1, max(0, c - R):c + R + 1]
            cnt = Counter(int(v) for v in w.ravel() if v != NULL)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            out[r, c] = best[0]
    return out


@pytest.mark.parametrize("packed", [False, True])
def test_focal_majority_matches_brute(spark, packed):
    # values in 1..5 force constant count ties -> the smallest-value
    # tie-break is what this gates, plus the halo
    rng = np.random.default_rng(47)
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = rng.integers(1, 6, size=total).astype(np.int64)
    grid[rng.random(total) < 0.15] = NULL
    got = _collect_grids(
        focal_majority(_tiles_df(spark, grid, packed), nullval=NULL),
        ["pixels"])["pixels"]
    np.testing.assert_array_equal(got, _brute_majority(grid))


def test_focal_majority_radius2(spark):
    rng = np.random.default_rng(53)
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = rng.integers(1, 4, size=total).astype(np.int64)
    got = _collect_grids(
        focal_majority(_tiles_df(spark, grid, True), nullval=NULL, radius=2),
        ["pixels"])["pixels"]
    np.testing.assert_array_equal(got, _brute_majority(grid, R=2))


def test_focal_mean_stddev_derivation(spark):
    from moamosaic_spark.functions.focal import focal_mean_stddev

    grid = _make_raster(np.random.default_rng(59))
    got = focal_mean_stddev(
        focal_stats(_tiles_df(spark, grid, True), nullval=NULL))
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    mean = np.full(total, -2.0)
    sd = np.full(total, -2.0)
    for r in got.collect():
        y0, x0 = sum(TILE_ROWS[:r.tile_row]), sum(TILE_COLS[:r.tile_col])
        mean[y0:y0 + r.ysize, x0:x0 + r.xsize] = np.asarray(
            r.f_mean).reshape(r.ysize, r.xsize)
        sd[y0:y0 + r.ysize, x0:x0 + r.xsize] = np.asarray(
            r.f_stddev).reshape(r.ysize, r.xsize)
    ys, xs = grid.shape
    for y in range(ys):
        for x in range(xs):
            if grid[y, x] == NULL:
                assert mean[y, x] == -1.0 and sd[y, x] == -1.0
                continue
            w = grid[max(0, y - 1):y + 2, max(0, x - 1):x + 2]
            v = w[w != NULL].astype(float)
            assert abs(mean[y, x] - v.mean()) < 1e-12
            assert abs(sd[y, x] - v.std()) < 1e-12
