"""J1 spatial join: both physical strategies must reproduce the
reference's nested-loop join rows exactly (ref mosaic.py:501-535),
including the banker's-rounding coordinate transform
(structures.py:98-99) and the open-interval intersection predicate
(mosaic.py:519-520)."""

import pytest

from moamosaic_spark.plans.grid import make_output_grid, make_tile_relation
from moamosaic_spark.plans.spatial_join import assign_inputs
from moamosaic_spark.sources import synth
from tests.conftest import to_footprints

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
    got_rows = assign_inputs(tiles, fp, grid, strategy=strategy, **kw).collect()
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
    rows = assign_inputs(tiles, fp, grid).collect()
    by = {(r.tile_row, r.tile_col, r.media_ref): r for r in rows}
    # golden_pair: raster r001 shifted right 298 px. Tile (0,0) covers
    # out px [0,128) x [0,128); in r001 coords that is left=-298.
    r = by[(0, 0, "r001")] if (0, 0, "r001") in by else None
    if r is not None:  # (0,0) only intersects r001 if round slop; must not
        pytest.fail("tile (0,0) should not intersect r001")
    r = by[(0, 2, "r001")]  # out px left=256 -> r001 left = 256-298 = -42
    assert (r.in_left, r.in_top) == (-42, 0)
    assert (r.in_xsize, r.in_ysize) == (r.xsize, r.ysize)
