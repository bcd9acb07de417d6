"""J1 spatial join: the one tile-keyed join must reproduce the
reference's nested-loop join rows exactly (ref mosaic.py:501-535),
including the banker's-rounding coordinate transform
(structures.py:98-99) and the open-interval intersection predicate
(mosaic.py:519-520), for every accepted ``strategy`` value."""

import numpy as np
import pandas as pd
import pytest

from moamosaic_spark.mosaic import MosaicConfig, do_mosaic
from moamosaic_spark.plans.grid import (
    OutputGrid, block_edges, make_output_grid, make_tile_relation,
)
from moamosaic_spark.plans.spatial_join import _footprint_tile_covers, assign_inputs
from moamosaic_spark.schema import BLOCKS_SCHEMA
from moamosaic_spark.sources import synth
from tests.conftest import to_blocks, to_footprints

CASES = {
    "golden_pair": lambda: synth.golden_pair(300, 300),
    "grid3x3": lambda: synth.grid3x3(150, 150),
    "with_gap": lambda: synth.with_gap(),
    "hot_cell": lambda: synth.hot_cell(12),
}


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize(
    "strategy,kw",
    [
        ("broadcast", {}),
        ("cell", {"cell_size_px": 256}),
        ("cell", {"cell_size_px": 128, "blocksize": 128}),
    ],
)
def test_join_matches_nested_loop_oracle(spark, case, strategy, kw):
    rasters = CASES[case]()
    blocksize = 128
    want = synth.oracle(rasters, blocksize=blocksize, min_overview_size=64)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    grid = make_output_grid(fp)
    tiles = make_tile_relation(spark, grid, blocksize)
    got_rows = assign_inputs(
        tiles, fp, grid, strategy=strategy, **{"blocksize": blocksize, **kw}
    ).collect()
    got = {(r.tile_row, r.tile_col, r.media_ref) for r in got_rows}
    assert got == want.assignments
    # no duplicate (tile, source) pairs
    assert len(got_rows) == len(got)
    # priorities carried through: priority == footprint index
    prio = {r.media_ref: r.priority for r in got_rows}
    for i, r in enumerate(rasters):
        if r.media_ref in prio:
            assert prio[r.media_ref] == i


def test_join_inblock_geometry(spark):
    """in_* columns must equal the reference's transformToFilePixelCoords
    output (structures.py:72-99): inblock spans the tile's bounds in
    source pixel coords, possibly extending outside the source."""
    rasters = synth.golden_pair(300, 300)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    grid = make_output_grid(fp)
    tiles = make_tile_relation(spark, grid, 128)
    rows = assign_inputs(tiles, fp, grid, blocksize=128).collect()
    by = {(r.tile_row, r.tile_col, r.media_ref): r for r in rows}
    # golden_pair: raster r001 shifted right 298 px. Tile (0,0) covers
    # out px [0,128) x [0,128); in r001 coords that is left=-298.
    r = by[(0, 0, "r001")] if (0, 0, "r001") in by else None
    if r is not None:  # (0,0) only intersects r001 if round slop; must not
        pytest.fail("tile (0,0) should not intersect r001")
    r = by[(0, 2, "r001")]  # out px left=256 -> r001 left = 256-298 = -42
    assert (r.in_left, r.in_top) == (-42, 0)
    assert (r.in_xsize, r.in_ysize) == (r.xsize, r.ysize)


def test_unknown_strategy_raises(spark):
    rasters = synth.golden_pair(64, 64)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    grid = make_output_grid(fp)
    tiles = make_tile_relation(spark, grid, 32)
    with pytest.raises(ValueError, match="unknown join strategy"):
        assign_inputs(tiles, fp, grid, strategy="nested", blocksize=32)
    with pytest.raises(ValueError, match="unknown join strategy"):
        MosaicConfig(strategy="nested")


def nested_loop(fp_pdf, grid, blocksize, tile_rows=None):
    """The pure-Python nested loop of ``_select_assignment``'s
    predicate over every (tile, footprint) pair: the tile's bounds in
    the footprint's pixels, banker's rounding, open intervals."""
    out = {}
    for ti, (top, ys) in enumerate(block_edges(grid.nrows, blocksize)):
        if tile_rows is not None and ti not in tile_rows:
            continue
        for tj, (left, xs) in enumerate(block_edges(grid.ncols, blocksize)):
            for f in fp_pdf.itertuples():
                x_l = grid.x_min + left * grid.x_res
                y_t = grid.y_max - top * grid.y_res
                x_r = grid.x_min + (left + xs) * grid.x_res
                y_b = grid.y_max - (top + ys) * grid.y_res
                x0, y0, xr, yr = float(f.x0), float(f.y0), float(f.x_res), float(f.y_res)
                fl = int(round((x_l - x0) / xr))
                ft = int(round((y0 - y_t) / yr))
                fr = int(round((x_r - x0) / xr))
                fb = int(round((y0 - y_b) / yr))
                if fr > 0 and fb > 0 and fl < f.ncols and ft < f.nrows:
                    out[(ti, tj, f.media_ref)] = (ft, fl, fb - ft, fr - fl, int(f.priority))
    return out


def random_footprints(seed, n=24):
    """Misaligned, mixed-resolution footprints around a 10 m grid at
    (300000, 7000000): origins off the output pixel grid, pixel sizes
    that are not the output's, some footprints partly or wholly west,
    north, east or south of a 311 x 204 px grid."""
    rng = np.random.default_rng(seed)
    res = rng.choice([10.0, 7.5, 13.3, 20.0, 4.1], size=(n, 2))
    return pd.DataFrame(dict(
        media_ref=[f"m{i:02d}" for i in range(n)],
        priority=rng.permutation(n).astype("int32"),
        x0=300000.0 + rng.uniform(-600.0, 3300.0, n),
        y0=7000000.0 - rng.uniform(-500.0, 2200.0, n),
        x_res=res[:, 0],
        y_res=res[:, 1],
        ncols=rng.integers(1, 90, n).astype("int32"),
        nrows=rng.integers(1, 90, n).astype("int32"),
        n_bands=np.ones(n, "int32"),
        dtype="uint16",
        nullval=0.0,
        projection=synth.PROJECTION,
    ))


def rows_of(df):
    return {
        (r.tile_row, r.tile_col, r.media_ref):
        (r.in_top, r.in_left, r.in_ysize, r.in_xsize, r.priority)
        for r in df.collect()
    }


# 311 = 3 x 97 + 20 and 204 = 2 x 97 + 10: both last tiles absorb a
# remainder under 97 // 4
PINNED = OutputGrid(
    x_min=300000.0, y_max=7000000.0, x_res=10.0, y_res=10.0, ncols=311,
    nrows=204, n_bands=1, nullval=0.0, dtype="uint16", projection=synth.PROJECTION,
)


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_join_matches_python_nested_loop(spark, seed):
    """Seeded misaligned, mixed-resolution footprints against the Python
    nested loop: on a pinned grid the footprints overhang (partly and
    wholly outside), at blocksize 97 whose last tiles absorb a
    remainder, also on a row-restricted tile relation; and through
    ``do_mosaic(check_projections=False)`` on the footprints' own grid.
    Every row, with its in_* bounds and priority, must match."""
    pdf = random_footprints(seed)
    fp = to_footprints(spark, pdf)
    bs = 97
    tiles = make_tile_relation(spark, PINNED, bs)
    want = nested_loop(pdf, PINNED, bs)
    assert want and len(want) < len(pdf) * 6  # some pairs, not all
    got = assign_inputs(tiles, fp, PINNED, blocksize=bs)
    assert got.count() == len(want)
    assert rows_of(got) == want
    restricted = assign_inputs(tiles.where("tile_row = 1"), fp, PINNED, blocksize=bs)
    assert rows_of(restricted) == nested_loop(pdf, PINNED, bs, tile_rows={1})

    empty_blocks = spark.createDataFrame([], BLOCKS_SCHEMA)
    res = do_mosaic(spark, fp, empty_blocks, MosaicConfig(
        blocksize=bs, check_projections=False, with_overviews=False))
    assert rows_of(res.assignments) == nested_loop(pdf, res.grid, bs)


def assignment_plans(monkeypatch):
    """Collect the plan of every assignments relation planned from now
    on (each is built by ``spatial_join._select_assignment``)."""
    from moamosaic_spark.plans import spatial_join

    plans = []
    select = spatial_join._select_assignment

    def recording(joined, grid):
        out = select(joined, grid)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(spatial_join, "_select_assignment", recording)
    return plans


def test_no_nested_loop_join(spark, tmp_path, monkeypatch):
    """The assignments of a direct mosaic, of a relayout build and of an
    incremental batch's touched-tile join are equi-joins: no
    BroadcastNestedLoopJoin or CartesianProduct in any of their plans."""
    from moamosaic_spark.sources.relayout import relayout_to_table
    from moamosaic_spark.streaming.incremental import process_batch
    from tests.conftest import fresh_table, to_documents

    rasters = synth.grid3x3(150, 150)
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    blocks = to_blocks(spark, synth.blocks_pdf(rasters, 256))
    cfg = MosaicConfig(blocksize=64, with_overviews=False)
    plans = assignment_plans(monkeypatch)
    do_mosaic(spark, fp, blocks, cfg)
    relayout_to_table(spark, fp, blocks, fresh_table(spark, "join_fence"), cfg)
    docs = to_documents(spark, synth.documents_pdf(rasters))
    process_batch(docs, 0, spark, fp, blocks, str(tmp_path / "inc"), cfg)
    assert len(plans) >= 4
    for plan in plans:
        assert "Join" in plan
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    fresh_table(spark, "join_fence")


@pytest.mark.parametrize("case", CASES)
def test_aligned_covers_are_the_assignments(spark, case):
    """On aligned inputs every tile a footprint's pixels reach passes
    the residual: the cover rows equal the assignment rows, so the join
    reads no candidate it throws away."""
    rasters = CASES[case]()
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    grid = make_output_grid(fp)
    tiles = make_tile_relation(spark, grid, 128)
    covers = _footprint_tile_covers(fp, grid, 128)
    n = assign_inputs(tiles, fp, grid, blocksize=128).count()
    assert covers.count() == n == len(synth.oracle(rasters, blocksize=128).assignments)
