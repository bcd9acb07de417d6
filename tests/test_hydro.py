"""Drainage basins: D8 edges + pointer-doubling sink resolution vs a
numpy follow-the-pointer truth over the whole raster."""

import numpy as np
import pytest

from moamosaic_spark.functions.focal import D8_DIRS, D8_FLAT, terrain
from moamosaic_spark.functions.hydro import basin_summary, d8_edges, flow_basins

from tests.test_focal import (
    NULL, TILE_COLS, TILE_ROWS, _brute_terrain, _make_raster, _tiles_df,
)

BS = 8  # tile edge used by gid arithmetic (tiles are 8px except ragged)


def _gid(r, c, ncols):
    return r * ncols + c


def _brute_basins(d8):
    """Follow pointers: (basin_gid, dist) per defined cell."""
    ys, xs = d8.shape
    out = {}
    for r in range(ys):
        for c in range(xs):
            if d8[r, c] == -1:
                continue
            cr, cc, dist = r, c, 0
            while True:
                code = d8[cr, cc]
                if code == D8_FLAT:
                    out[_gid(r, c, xs)] = (_gid(cr, cc, xs), dist)
                    break
                dy, dx = D8_DIRS[code]
                nr, nc = cr + dy, cc + dx
                dist += 1
                if d8[nr, nc] == -1:
                    out[_gid(r, c, xs)] = (_gid(nr, nc, xs), dist)
                    break
                cr, cc = nr, nc
    return out


def _run_pipeline(spark, grid, xres=10.0):
    ncols = grid.shape[1]
    tiles = _tiles_df(spark, grid, packed=True)
    terr = terrain(tiles, xres=xres, yres=xres, nullval=NULL)
    edges = d8_edges(terr, g_ncols=ncols, blocksize=BS)
    return flow_basins(edges), edges


def test_basins_match_brute_force(spark):
    grid = _make_raster(np.random.default_rng(23))
    ncols = grid.shape[1]
    basins, _ = _run_pipeline(spark, grid)
    got = {r.gid: (r.basin, r.dist) for r in basins.collect()
           if r.gid in _defined_gids(grid, ncols)}
    _, d8 = _brute_terrain(grid, 80.0, 80.0)
    exp = _brute_basins(d8)
    # restrict to defined cells: the distributed relation also carries
    # absorbing virtual-outlet rows (basin == self, dist 0)
    assert {k: got[k] for k in exp} == exp


def _defined_gids(grid, ncols):
    _, d8 = _brute_terrain(grid, 80.0, 80.0)
    return {r * ncols + c for r, c in zip(*np.nonzero(d8 != -1))}


def test_long_path_converges_logarithmically(spark):
    # monotonic eastward descent -> every cell flows W in one long
    # chain; path length ~ raster width; doubling must resolve it
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = (np.arange(total[1], dtype=np.int64)[None, :] + 1).repeat(
        total[0], axis=0)
    ncols = grid.shape[1]
    basins, _ = _run_pipeline(spark, grid)
    rows = {r.gid: (r.basin, r.dist) for r in basins.collect()}
    _, d8 = _brute_terrain(grid, 80.0, 80.0)
    exp = _brute_basins(d8)
    assert {k: rows[k] for k in exp} == exp
    # interior cells drain to the western undefined column
    ys, xs = grid.shape
    far = exp[_gid(1, xs - 2, ncols)]
    assert far[1] == xs - 2  # hop count across the full row
    assert far[0] == _gid(1, 0, ncols)


def test_basin_summary_partitions_cells(spark):
    grid = _make_raster(np.random.default_rng(29))
    basins, _ = _run_pipeline(spark, grid)
    summ = {r.basin: r.n_cells for r in basin_summary(basins).collect()}
    # every REAL cell lands in exactly one basin; virtual outlets are
    # labels, not cells
    assert sum(summ.values()) == basins.where("is_cell").count()
    assert basins.where("NOT is_cell").count() > 0


def test_unconverged_raises(spark):
    # the long west-flowing chain (paths ~20 hops) cannot resolve in
    # one doubling round (round 1 covers paths of length <= 2)
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = (np.arange(total[1], dtype=np.int64)[None, :] + 1).repeat(
        total[0], axis=0)
    tiles = _tiles_df(spark, grid, packed=True)
    terr = terrain(tiles, xres=10.0, yres=10.0, nullval=NULL)
    edges = d8_edges(terr, g_ncols=grid.shape[1], blocksize=BS)
    with pytest.raises(RuntimeError, match="did not converge"):
        flow_basins(edges, max_rounds=1)


def test_basins_multiband_independent(spark):
    """Two bands with different rasters: basins resolve per band and
    never mix (band rides every join key in the chain)."""
    from pyspark.sql.types import (
        BinaryType, IntegerType, StructField, StructType,
    )

    total = (sum(TILE_ROWS), sum(TILE_COLS))
    g1 = (np.arange(total[1], dtype=np.int64)[None, :] + 1).repeat(
        total[0], axis=0)          # flows W
    g2 = g1[:, ::-1].copy()        # flows E
    rows = []
    for band, grid in ((1, g1), (2, g2)):
        y = 0
        for tr, ys in enumerate(TILE_ROWS):
            x = 0
            for tc, xs in enumerate(TILE_COLS):
                rows.append((band, tr, tc, ys, xs,
                             grid[y:y + ys, x:x + xs].astype("<u2").tobytes()))
                x += xs
            y += ys
    schema = StructType([
        StructField("band", IntegerType()),
        StructField("tile_row", IntegerType()),
        StructField("tile_col", IntegerType()),
        StructField("ysize", IntegerType()),
        StructField("xsize", IntegerType()),
        StructField("pixels", BinaryType()),
    ])
    tiles = spark.createDataFrame(rows, schema)
    ncols = total[1]
    terr = terrain(tiles, xres=10.0, yres=10.0, nullval=NULL)
    basins = flow_basins(d8_edges(terr, g_ncols=ncols, blocksize=BS))
    got = {(r.band, r.gid): (r.basin, r.dist)
           for r in basins.where("is_cell").collect()}
    for band, grid in ((1, g1), (2, g2)):
        _, d8 = _brute_terrain(grid, 80.0, 80.0)
        exp = _brute_basins(d8)
        sub = {g: v for (b, g), v in got.items() if b == band}
        assert sub == exp, f"band {band}"


from moamosaic_spark.functions.hydro import flow_accumulation  # noqa: E402


def _brute_acc(d8, ncols):
    """acc[gid] = upstream cells incl. self; virtual outlets get the
    total throughput without the +1 (they are not cells)."""
    basins = _brute_basins(d8)
    hop = {}
    for r, c in zip(*np.nonzero(d8 != -1)):
        code = d8[r, c]
        if code == D8_FLAT:
            continue
        dy, dx = D8_DIRS[code]
        hop[r * ncols + c] = (r + dy) * ncols + (c + dx)
    acc = {g: 1 for g in basins}
    outlets = {}
    for g, (_, dist) in sorted(basins.items(), key=lambda kv: -kv[1][1]):
        p = hop.get(g)
        if p is None:
            continue
        if p in acc:
            acc[p] += acc[g]
        else:
            outlets[p] = outlets.get(p, 0) + acc[g]
    return acc, outlets


@pytest.mark.parametrize("seed", [23, 29])
def test_flow_accumulation_matches_brute(spark, seed):
    grid = _make_raster(np.random.default_rng(seed))
    ncols = grid.shape[1]
    tiles = _tiles_df(spark, grid, packed=True)
    terr = terrain(tiles, xres=10.0, yres=10.0, nullval=NULL)
    edges = d8_edges(terr, g_ncols=ncols, blocksize=BS)
    got = {(r.gid, r.is_cell): r.acc for r in flow_accumulation(edges).collect()}
    _, d8 = _brute_terrain(grid, 80.0, 80.0)
    acc, outlets = _brute_acc(d8, ncols)
    assert {g: a for (g, ic), a in got.items() if ic} == acc
    assert {g: a for (g, ic), a in got.items() if not ic} == outlets


def test_flow_accumulation_long_chain(spark):
    # west-flowing rows: acc(r, c) = number of defined cells at or
    # east of c in that row; the outlet at c=0 collects the whole row
    total = (sum(TILE_ROWS), sum(TILE_COLS))
    grid = (np.arange(total[1], dtype=np.int64)[None, :] + 1).repeat(
        total[0], axis=0)
    ncols = grid.shape[1]
    tiles = _tiles_df(spark, grid, packed=True)
    terr = terrain(tiles, xres=10.0, yres=10.0, nullval=NULL)
    edges = d8_edges(terr, g_ncols=ncols, blocksize=BS)
    got = {r.gid: (r.acc, r.is_cell)
           for r in flow_accumulation(edges).collect()}
    ys, xs = grid.shape
    for rr in range(1, ys - 1):
        for cc in range(1, xs - 1):
            assert got[rr * ncols + cc] == (xs - 1 - cc, True)
        # outlet just west of the defined region drains the whole row
        assert got[rr * ncols + 0] == (xs - 2, False)


def test_flow_accumulation_deep_chain_matches_euler(spark):
    """A 24k-cell chain (one cell per level) through the in-memory
    kernel equals the distributed Euler-tour path, and both give the
    closed form: cell i drains the n - i cells at or upstream of it."""
    from moamosaic_spark.functions.hydro import (
        _flow_accumulation_euler, flow_accumulation,
    )

    n = 24_000
    # cell i flows into i - 1; cell 0 is a sink (self-loop root)
    edges = spark.range(n).selectExpr(
        "1 AS band", "id AS gid", "greatest(id - 1, 0) AS dst"
    )

    def rowset(df):
        return {(r.band, r.gid, r.acc, r.is_cell) for r in df.collect()}

    inmem = rowset(flow_accumulation(edges))
    assert inmem == rowset(_flow_accumulation_euler(edges))
    assert inmem == {(1, i, n - i, True) for i in range(n)}
