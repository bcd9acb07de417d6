"""Boundary-ring tracing (functions/outlines.region_outlines) vs an
independent Python mask-based crack-follower
(tools/mint_outline_truth.trace_rings — the same module that mints the
driver oracle's truth parquet)."""

import os
import sys
from collections import deque

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from mint_outline_truth import trace_rings  # noqa: E402

from moamosaic_spark.functions.outlines import region_outlines  # noqa: E402
from moamosaic_spark.plans.grid import OutputGrid  # noqa: E402


def _tiles_of(spark, full, bs):
    H, W = full.shape
    rows = []
    for tr in range((H + bs - 1) // bs):
        for tc in range((W + bs - 1) // bs):
            sub = full[tr * bs:(tr + 1) * bs, tc * bs:(tc + 1) * bs]
            rows.append((tr, tc, sub.shape[0], sub.shape[1],
                         [int(x) for x in sub.ravel()]))
    return spark.createDataFrame(
        rows,
        "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")


def _truth_of(full):
    """BFS-label regions, then ring-trace each one with the
    independent crack-follower."""
    H, W = full.shape
    vis = np.zeros_like(full, bool)
    out = []
    for r in range(H):
        for c in range(W):
            if full[r, c] == 0 or vis[r, c]:
                continue
            v = full[r, c]
            q = deque([(r, c)])
            vis[r, c] = True
            cells = []
            while q:
                rr, cc = q.popleft()
                cells.append((rr, cc))
                for dr, dc in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    nr, nc = rr + dr, cc + dc
                    if (0 <= nr < H and 0 <= nc < W and not vis[nr, nc]
                            and full[nr, nc] == v):
                        vis[nr, nc] = True
                        q.append((nr, nc))
            rid = min(x * W + y for x, y in cells)
            for g in trace_rings(cells, full.shape):
                out.append((rid, g["ring_idx"], g["is_hole"],
                            g["n_vertices"], g["perim"], g["start_r"],
                            g["start_c"], g["ring_hash"]))
    return sorted(out)


def _engine_of(spark, full, bs):
    H, W = full.shape
    grid = OutputGrid(x_min=0.0, y_max=float(H), x_res=1.0, y_res=1.0,
                      ncols=W, nrows=H, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    rows = region_outlines(_tiles_of(spark, full, bs), grid, bs).collect()
    assert {r.band for r in rows} <= {1}  # no band column: band 1
    return sorted(tuple(r)[1:] for r in rows)


def test_donut_hole_crosses_tiles(spark):
    """A donut spanning all four tiles: one outer ring + one hole,
    both stitched across seams; hole orientation flagged by shoelace
    sign."""
    f = np.zeros((40, 40), np.int32)
    f[5:35, 5:35] = 3
    f[12:28, 12:28] = 0
    t, e = _truth_of(f), _engine_of(spark, f, 20)
    assert e == t
    assert [x[2] for x in e] == [0, 1]  # outer then hole


def test_checkerboard_pinch_stays_separate():
    """4-connectivity: two same-value pixels touching only at a corner
    are separate regions — the right-turn successor preference must
    not cross the diagonal."""
    f = np.zeros((8, 8), np.int32)
    f[1, 1] = f[2, 2] = 5
    f[2, 1] = 7
    t = _truth_of(f)
    assert len(t) == 3  # three regions, three 4-vertex squares
    assert all(x[3] == 4 for x in t)


def test_pinch_distributed(spark):
    f = np.zeros((8, 8), np.int32)
    f[1, 1] = f[2, 2] = 5
    f[2, 1] = 7
    assert _engine_of(spark, f, 4) == _truth_of(f)


def test_nested_donuts(spark):
    """Region inside a hole inside a region: ring nesting 3 deep."""
    f = np.zeros((24, 24), np.int32)
    f[2:22, 2:22] = 1
    f[6:18, 6:18] = 2
    f[10:14, 10:14] = 0
    t, e = _truth_of(f), _engine_of(spark, f, 8)
    assert e == t
    assert sum(x[2] for x in t) == 2  # two hole rings


@pytest.mark.parametrize("seed,bs", [(0, 13), (1, 10), (2, 30)])
def test_random_rasters_any_tiling(spark, seed, bs):
    """Randomized rasters across tilings, including remainder tiles
    (bs=13 over 30px) and the single-tile degenerate (bs=30): every
    ring's canonical vertex hash must match the independent tracer —
    this also proves the successor relation is a permutation (the
    assembly kernel raises if any ring walk fails to close over all
    its segments)."""
    rng = np.random.default_rng(seed)
    f = rng.integers(0, 3, size=(30, 30)).astype(np.int32)
    assert _engine_of(spark, f, bs) == _truth_of(f)


def test_region_ids_match_label_regions(spark):
    """region_outlines shares the label pass's id space: its
    region_id set equals label_regions' over the same tiles."""
    from moamosaic_spark.functions.geometry import label_regions

    rng = np.random.default_rng(7)
    f = rng.integers(0, 3, size=(40, 40)).astype(np.int32)
    grid = OutputGrid(x_min=0.0, y_max=40.0, x_res=1.0, y_res=1.0,
                      ncols=40, nrows=40, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    tiles = _tiles_of(spark, f, 16)
    lab = {r.region_id for r in label_regions(tiles, grid, 16).collect()}
    out = {r.region_id for r in region_outlines(tiles, grid, 16).collect()}
    assert out == lab


def test_perimeter_accounting(spark):
    """Sum of ring perimeters per region = that region's boundary
    crack count (computable directly from the mask)."""
    f = np.zeros((20, 20), np.int32)
    f[3:17, 3:17] = 5
    f[8:12, 8:12] = 0
    e = _engine_of(spark, f, 10)
    # outer 14x14 square: 56 cracks; hole 4x4: 16 cracks
    assert [(x[4], x[2]) for x in e] == [(56, 0), (16, 1)]


def test_bands_trace_separately(spark):
    """Two bands over the same tiles are traced on their own: band 1's
    donut keeps one outer ring of perimeter 120 (not four seam-split
    rings) plus its hole, and band 2's stripe is not dropped."""
    donut = np.zeros((40, 40), np.int32)
    donut[5:35, 5:35] = 3
    donut[12:28, 12:28] = 0
    stripe = np.zeros((40, 40), np.int32)
    stripe[18:22, :] = 4
    rows = []
    for band, full in ((1, donut), (2, stripe)):
        for tr in range(2):
            for tc in range(2):
                sub = full[tr * 20:(tr + 1) * 20, tc * 20:(tc + 1) * 20]
                rows.append((band, tr, tc, 20, 20, [int(x) for x in sub.ravel()]))
    tiles = spark.createDataFrame(
        rows, "band int, tile_row int, tile_col int, ysize int, xsize int, "
              "pixels array<int>")
    grid = OutputGrid(x_min=0.0, y_max=40.0, x_res=1.0, y_res=1.0,
                      ncols=40, nrows=40, n_bands=2, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    got = sorted(tuple(r) for r in region_outlines(tiles, grid, 20).collect())
    want = sorted([(1,) + t for t in _truth_of(donut)]
                  + [(2,) + t for t in _truth_of(stripe)])
    assert got == want
    assert [(x[0], x[3], x[5]) for x in got] == [(1, 0, 120), (1, 1, 64), (2, 0, 88)]
