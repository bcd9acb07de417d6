"""Vector geometry (functions/geometry.py): the even-odd ray cast and
the exact rect/polygon intersection vs independent python oracles, the
cell-bucketed points_in_polygons join vs brute force, and the
polygon-aware tile assignment end-to-end."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moamosaic_spark.functions import geometry as G

POLY_TYPE = "array<struct<x double, y double>>"

L_SHAPE = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0)]
STAR = [(0.0, 3.0), (1.0, 1.0), (3.0, 0.0), (1.0, -1.0), (0.0, -3.0),
        (-1.0, -1.0), (-3.0, 0.0), (-1.0, 1.0)]


def pip_oracle(px, py, poly):
    inside = False
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        if (ay > py) != (by > py):
            xi = ax + (py - ay) * (bx - ax) / (by - ay)
            if px < xi:
                inside = not inside
    return inside


def _cross(a, b, c):
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def seg_cross_oracle(a, b, c, d):
    d1, d2 = _cross(a, b, c), _cross(a, b, d)
    d3, d4 = _cross(c, d, a), _cross(c, d, b)
    return d1 * d2 < 0 and d3 * d4 < 0


def rect_poly_oracle(x_lo, y_lo, x_hi, y_hi, poly):
    if any(x_lo <= x <= x_hi and y_lo <= y <= y_hi for x, y in poly):
        return True
    if any(
        pip_oracle(cx, cy, poly)
        for cx in (x_lo, x_hi)
        for cy in (y_lo, y_hi)
    ):
        return True
    rect_edges = [
        ((x_lo, y_lo), (x_hi, y_lo)), ((x_hi, y_lo), (x_hi, y_hi)),
        ((x_hi, y_hi), (x_lo, y_hi)), ((x_lo, y_hi), (x_lo, y_lo)),
    ]
    n = len(poly)
    return any(
        seg_cross_oracle(poly[i], poly[(i + 1) % n], e0, e1)
        for i in range(n)
        for (e0, e1) in rect_edges
    )


@pytest.mark.parametrize("poly", [L_SHAPE, STAR], ids=["L", "star"])
def test_point_in_polygon_matches_oracle(spark, poly):
    rng = np.random.default_rng(17)
    pts = rng.uniform(-4, 6, size=(300, 2))
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "pid int, x double, y double")
    plit = F.array(*[
        F.struct(F.lit(x).alias("x"), F.lit(y).alias("y")) for x, y in poly
    ])
    got = {
        r.pid: r.inside
        for r in df.select(
            "pid", G.point_in_polygon(F.col("x"), F.col("y"), plit).alias("inside")
        ).collect()
    }
    for i, (x, y) in enumerate(pts):
        assert got[i] == pip_oracle(x, y, poly), (i, x, y)


def test_rect_intersects_polygon_matches_oracle(spark):
    rng = np.random.default_rng(23)
    rects = []
    for i in range(200):
        x0, y0 = rng.uniform(-5, 6, 2)
        w, h = rng.uniform(0.2, 3.0, 2)
        rects.append((i, float(x0), float(y0), float(x0 + w), float(y0 + h)))
    df = spark.createDataFrame(rects, "rid int, x_lo double, y_lo double, x_hi double, y_hi double")
    plit = F.array(*[
        F.struct(F.lit(x).alias("x"), F.lit(y).alias("y")) for x, y in L_SHAPE
    ])
    got = {
        r.rid: r.hit
        for r in df.select(
            "rid",
            G.rect_intersects_polygon(
                F.col("x_lo"), F.col("y_lo"), F.col("x_hi"), F.col("y_hi"), plit
            ).alias("hit"),
        ).collect()
    }
    for (rid, x0, y0, x1, y1) in rects:
        assert got[rid] == rect_poly_oracle(x0, y0, x1, y1, L_SHAPE), (rid, x0, y0, x1, y1)


def test_points_in_polygons_equals_bruteforce(spark):
    """The cell-bucketed join must emit exactly the brute-force PIP
    pairs, with no CartesianProduct in its plan."""
    rng = np.random.default_rng(5)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 40, (400, 2)))]
    points = spark.createDataFrame(pts, "pid int, x double, y double")
    polys = []
    for k in range(12):
        cx, cy = rng.uniform(5, 35, 2)
        r = rng.uniform(1.0, 6.0)
        ring = [
            (float(cx + r * np.cos(t)), float(cy + 0.6 * r * np.sin(t)))
            for t in np.linspace(0, 2 * np.pi, 7)[:-1]
        ]
        polys.append((f"p{k}", ring))
    pdf = spark.createDataFrame(polys, f"poly_id string, poly {POLY_TYPE}")

    got = {
        (r.pid, r.poly_id)
        for r in G.points_in_polygons(points, pdf, cell_size=8.0).collect()
    }
    brute = points.crossJoin(pdf).where(
        G.point_in_polygon(F.col("x"), F.col("y"), F.col("poly"))
    )
    want = {(r.pid, r.poly_id) for r in brute.collect()}
    assert got == want
    assert want, "fixture should produce containments"

    plan = G.points_in_polygons(points, pdf, cell_size=8.0)._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan


def test_polygon_clipped_assignment(spark):
    """A raster whose validity outline is an octagon (cut corners): the
    pure-corner tiles must drop out of the assignment; every kept/
    dropped decision matches the python rect∩poly oracle."""
    from moamosaic_spark.plans.grid import make_output_grid, make_tile_relation
    from moamosaic_spark.plans.spatial_join import assign_inputs
    from moamosaic_spark.sources import synth
    from tests.conftest import to_footprints

    rasters = synth.make_rasters(
        [dict(media_ref="r000", x0=300000.0, y0=7000000.0, nrows=256, ncols=256)]
    )
    fp = to_footprints(spark, synth.footprints_pdf(rasters))
    grid = make_output_grid(fp, None)
    tiles = make_tile_relation(spark, grid, 32)

    # octagon: bbox with corners cut by 2.5 tile extents — NOT aligned
    # to the tile grid, so only tiles FULLY inside a cut corner drop
    # (a tile merely touched by the diagonal legitimately stays)
    x0, y0, res, n = 300000.0, 7000000.0, 10.0, 256
    ext = n * res
    cut = 800.0
    oct_ring = [
        (x0 + cut, y0), (x0 + ext - cut, y0),
        (x0 + ext, y0 - cut), (x0 + ext, y0 - ext + cut),
        (x0 + ext - cut, y0 - ext), (x0 + cut, y0 - ext),
        (x0, y0 - ext + cut), (x0, y0 - cut),
    ]
    polys = spark.createDataFrame(
        [("r000", oct_ring)], f"media_ref string, poly {POLY_TYPE}"
    )

    base = {
        (r.tile_row, r.tile_col)
        for r in assign_inputs(tiles, fp, grid, blocksize=32).collect()
    }
    clipped = {
        (r.tile_row, r.tile_col)
        for r in assign_inputs(tiles, fp, grid, polygons=polys, blocksize=32).collect()
    }
    assert clipped < base, "octagon must drop some bbox-only tiles"

    for (ti, tj) in base:
        x_lo = x0 + tj * 32 * res
        x_hi = x0 + (tj + 1) * 32 * res
        y_hi = y0 - ti * 32 * res
        y_lo = y0 - (ti + 1) * 32 * res
        want = rect_poly_oracle(x_lo, y_lo, x_hi, y_hi, oct_ring)
        assert ((ti, tj) in clipped) == want, (ti, tj)
    # the 4 extreme corner tiles are exactly the dropped ones at this cut
    assert base - clipped == {(0, 0), (0, 7), (7, 0), (7, 7)}

def test_degenerate_polygons_match_nothing(spark):
    """Empty or sub-triangle rings contain nothing and intersect
    nothing — must not crash (sequence(1, 0) descends; element_at
    would error) [review finding]."""
    rows = [(0, []), (1, [(1.0, 1.0)]), (2, [(0.0, 0.0), (2.0, 2.0)])]
    df = spark.createDataFrame(rows, f"rid int, poly {POLY_TYPE}")
    got = df.select(
        "rid",
        G.point_in_polygon(F.lit(1.0), F.lit(1.0), F.col("poly")).alias("pip"),
        G.rect_intersects_polygon(
            F.lit(0.0), F.lit(0.0), F.lit(5.0), F.lit(5.0), F.col("poly")
        ).alias("hit"),
    ).collect()
    assert all(not r.pip and not r.hit for r in got), got


def test_rasterize_polygons_vs_bruteforce(spark):
    """Vector->raster burn equals a per-pixel brute-force even-odd
    oracle, including priority overwrite in the overlap; only
    intersecting tiles emit."""
    import numpy as np

    from moamosaic_spark.functions.geometry import rasterize_polygons
    from moamosaic_spark.plans.grid import OutputGrid

    grid = OutputGrid(x_min=0.0, y_max=100.0, x_res=1.0, y_res=1.0,
                      ncols=100, nrows=100, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    sq = [{"x": 10.2, "y": 89.8}, {"x": 30.2, "y": 89.8},
          {"x": 30.2, "y": 69.8}, {"x": 10.2, "y": 69.8}]
    tri = [{"x": 20.1, "y": 95.3}, {"x": 45.7, "y": 60.2},
           {"x": 5.3, "y": 60.2}]
    polys = spark.createDataFrame(
        [(sq, 1, 0), (tri, 2, 1)],
        "poly array<struct<x double, y double>>, value int, priority int")
    out = rasterize_polygons(spark, polys, grid, blocksize=50).collect()
    full = np.zeros((100, 100), np.int32)
    for r in out:
        full[r.tile_row * 50:(r.tile_row + 1) * 50,
             r.tile_col * 50:(r.tile_col + 1) * 50] = (
            np.array(r.pixels).reshape(r.ysize, r.xsize))

    def pip(px, py, verts):
        c = 0
        for i in range(len(verts)):
            ax, ay = verts[i]["x"], verts[i]["y"]
            bx, by = verts[(i + 1) % len(verts)]["x"], verts[(i + 1) % len(verts)]["y"]
            if (ay > py) != (by > py) and px < ax + (py - ay) * (bx - ax) / (by - ay):
                c += 1
        return c % 2 == 1

    want = np.zeros((100, 100), np.int32)
    for row in range(100):
        for col in range(100):
            px, py = col + 0.5, 100.0 - (row + 0.5)
            if pip(px, py, sq):
                want[row, col] = 1
            if pip(px, py, tri):   # higher priority overwrites
                want[row, col] = 2
    np.testing.assert_array_equal(full, want)
    assert (want > 0).sum() == 816
    # the geometry sits entirely in tile (0,0): others must not emit
    assert {(r.tile_row, r.tile_col) for r in out} == {(0, 0)}


def test_label_regions_cross_tile_merge(spark):
    """Regions spanning tile boundaries must merge through the
    DataFrame connected-components: a plus-shape crossing all four
    quadrant tiles is ONE region; same-value but disconnected blobs
    stay separate."""
    import numpy as np

    from moamosaic_spark.functions.geometry import label_regions
    from moamosaic_spark.plans.grid import OutputGrid

    grid = OutputGrid(x_min=0.0, y_max=40.0, x_res=1.0, y_res=1.0,
                      ncols=40, nrows=40, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    full = np.zeros((40, 40), np.int32)
    full[18:22, 5:35] = 7      # horizontal bar crossing the col-20 seam
    full[5:35, 18:22] = 7      # vertical bar crossing the row-20 seam
    full[2:4, 2:4] = 7         # disconnected same-value blob
    full[30:33, 2:5] = 9       # different value
    rows = []
    for tr in range(2):
        for tc in range(2):
            sub = full[tr * 20:(tr + 1) * 20, tc * 20:(tc + 1) * 20]
            rows.append((tr, tc, 20, 20, [int(x) for x in sub.ravel()]))
    tiles = spark.createDataFrame(
        rows, "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")
    got = {r.region_id: (r.value, r.n_px, r.min_row, r.min_col, r.max_row, r.max_col)
           for r in label_regions(tiles, grid, 20).collect()}
    plus_px = int((full == 7).sum()) - 4           # minus the blob
    assert got == {
        2 * 40 + 2: (7, 4, 2, 2, 3, 3),            # blob
        5 * 40 + 18: (7, plus_px, 5, 5, 34, 34),   # the merged plus
        30 * 40 + 2: (9, 9, 30, 2, 32, 4),
    }, got


def test_label_regions_bands_stay_apart(spark):
    """A 900-px square present in both bands of one tile relation is
    two regions of 900 px, one per band — never one of 1800."""
    import numpy as np

    from moamosaic_spark.functions.geometry import label_regions
    from moamosaic_spark.plans.grid import OutputGrid

    grid = OutputGrid(x_min=0.0, y_max=40.0, x_res=1.0, y_res=1.0,
                      ncols=40, nrows=40, n_bands=2, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    full = np.zeros((40, 40), np.int32)
    full[5:35, 5:35] = 3       # crosses both seams
    rows = []
    for band in (1, 2):
        for tr in range(2):
            for tc in range(2):
                sub = full[tr * 20:(tr + 1) * 20, tc * 20:(tc + 1) * 20]
                rows.append((band, tr, tc, 20, 20, [int(x) for x in sub.ravel()]))
    tiles = spark.createDataFrame(
        rows, "band int, tile_row int, tile_col int, ysize int, xsize int, "
              "pixels array<int>")
    got = sorted(tuple(r) for r in label_regions(tiles, grid, 20).collect())
    assert got == [(b, 5 * 40 + 5, 3, 900, 5, 5, 34, 34) for b in (1, 2)], got


def test_zonal_stats_both_layouts(spark):
    """zonal_stats over hand-built tiles: per-zone count/sum/min/max
    with the null mask applied, identical for binary mosaic payloads
    and array<int> ones (packed by the ingest adaptor)."""
    import numpy as np

    from moamosaic_spark.functions.geometry import zonal_stats
    from moamosaic_spark.pixels import encode

    mosaic = np.array([[5, 0, 7, 7],
                       [5, 5, 0, 9],
                       [1, 2, 3, 4],
                       [0, 2, 3, 0]], np.int32)
    zones = np.array([[1, 1, 2, 2],
                      [1, 1, 2, 2],
                      [0, 3, 3, 0],
                      [0, 3, 3, 0]], np.int32)
    want = {
        1: (3, 15, 5, 5),           # three 5s; the 0 is null-masked
        2: (3, 23, 7, 9),
        3: (4, 10, 2, 3),           # 2,2,3,3
    }
    zrows = []
    mrows_i4, mrows_u2 = [], []
    for tr in range(2):
        for tc in range(2):
            msub = mosaic[tr * 2:(tr + 1) * 2, tc * 2:(tc + 1) * 2].ravel()
            zsub = zones[tr * 2:(tr + 1) * 2, tc * 2:(tc + 1) * 2].ravel()
            zrows.append((tr, tc, 2, 2, [int(x) for x in zsub]))
            mrows_i4.append((tr, tc, 2, 2, [int(x) for x in msub]))
            mrows_u2.append((tr, tc, 2, 2, encode(msub)))
    ztiles = spark.createDataFrame(
        zrows, "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")
    for rows, schema in ((mrows_i4, "pixels array<int>"),
                         (mrows_u2, "pixels binary")):
        tiles = spark.createDataFrame(
            rows, f"tile_row int, tile_col int, ysize int, xsize int, {schema}")
        got = {r.zone: (r.n_px, r.val_sum, r.val_min, r.val_max)
               for r in zonal_stats(tiles, ztiles, nullval=0).collect()}
        assert got == want, (schema, got)


def test_zonal_stats_packed_zone_tiles(spark):
    """A packed zone raster (``ingest`` of the array<int> one) gives the
    same per-zone rows as the array<int> zones; ids above the packed
    range still work as array<int>."""
    from moamosaic_spark.functions.geometry import zonal_stats
    from moamosaic_spark.pixels import ingest

    tiles = spark.createDataFrame(
        [(1, 0, 0, 2, 2, [10, 20, 0, 40]), (1, 0, 1, 2, 2, [1, 2, 3, 4]),
         (2, 0, 0, 2, 2, [5, 6, 7, 8])],
        "band int, tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")

    def zones(ids):
        return spark.createDataFrame(
            [(0, 0, 2, 2, ids[:4]), (0, 1, 2, 2, ids[4:])],
            "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")

    def rows(zt):
        return sorted(tuple(r) for r in zonal_stats(tiles, zt, nullval=0).collect())

    ids = [1, 1, 2, 65535, 0, 2, 2, 65535]
    want = rows(zones(ids))
    assert want == [(1, 1, 2, 30, 10, 20), (1, 2, 2, 5, 2, 3), (1, 65535, 2, 44, 4, 40),
                    (2, 1, 2, 11, 5, 6), (2, 2, 1, 7, 7, 7), (2, 65535, 1, 8, 8, 8)]
    assert rows(ingest(zones(ids))) == want
    big = [1, 1, 2, 70000, 0, 2, 2, 70000]
    assert rows(zones(big)) == [r[:1] + (70000,) + r[2:] if r[1] == 65535 else r
                                for r in want]


def test_rasterize_remainder_strip_and_out_of_grid(spark):
    """The last tile absorbs sub-blocksize remainders: a polygon lying
    wholly in the absorbed strip must still burn (the raw floor tile id
    names a nonexistent tile); an out-of-grid polygon must neither
    crash (descending sequence) nor burn anything."""
    import numpy as np

    from moamosaic_spark.functions.geometry import rasterize_polygons
    from moamosaic_spark.plans.grid import OutputGrid, n_blocks

    # 76 cols, bs 64 -> remainder 12 < 16 is absorbed: ONE 76-wide tile
    grid = OutputGrid(x_min=0.0, y_max=76.0, x_res=1.0, y_res=1.0,
                      ncols=76, nrows=76, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    assert n_blocks(76, 64) == 1
    strip = [{"x": 66.2, "y": 9.8}, {"x": 74.6, "y": 9.8},
             {"x": 74.6, "y": 2.2}, {"x": 66.2, "y": 2.2}]
    far = [{"x": -900.0, "y": 40.0}, {"x": -800.0, "y": 40.0},
           {"x": -850.0, "y": 20.0}]
    polys = spark.createDataFrame(
        [(strip, 5, 0), (far, 9, 1)],
        "poly array<struct<x double, y double>>, value int, priority int")
    out = rasterize_polygons(spark, polys, grid, 64).collect()
    assert len(out) == 1 and (out[0].tile_row, out[0].tile_col) == (0, 0)
    arr = np.array(out[0].pixels).reshape(out[0].ysize, out[0].xsize)
    assert arr.shape == (76, 76)
    assert (arr == 5).sum() == 9 * 8      # center cols 66.5..74.5 x rows 2.5..9.5
    assert (arr == 9).sum() == 0          # out-of-grid polygon burned nothing


def test_rasterize_equal_priority_tie_breaks_by_value(spark):
    """Two overlapping polygons with the SAME priority: the higher
    value wins deterministically (documented tie-break, mirrored by
    the oracle's composite arg_max key)."""
    import numpy as np

    from moamosaic_spark.functions.geometry import rasterize_polygons
    from moamosaic_spark.plans.grid import OutputGrid

    grid = OutputGrid(x_min=0.0, y_max=20.0, x_res=1.0, y_res=1.0,
                      ncols=20, nrows=20, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    sq = [{"x": 2.2, "y": 17.8}, {"x": 12.2, "y": 17.8},
          {"x": 12.2, "y": 7.8}, {"x": 2.2, "y": 7.8}]
    sq2 = [{"x": 7.2, "y": 17.8}, {"x": 17.2, "y": 17.8},
           {"x": 17.2, "y": 7.8}, {"x": 7.2, "y": 7.8}]
    for order in ([(sq, 4, 1), (sq2, 8, 1)], [(sq2, 8, 1), (sq, 4, 1)]):
        polys = spark.createDataFrame(
            order, "poly array<struct<x double, y double>>, value int, priority int")
        out = rasterize_polygons(spark, polys, grid, 20).collect()[0]
        arr = np.array(out.pixels).reshape(20, 20)
        # overlap cols 7.5..11.5 -> value 8 (higher) regardless of order
        assert set(arr[5, 8:12]) == {8}, arr[5]
        assert set(arr[5, 3:7]) == {4}


def test_label_regions_remainder_tile(spark):
    """Edge tiles bigger than blocksize (remainder absorption) must not
    collide region ids: gid is the min global pixel index, so a busy
    oversized tile labels correctly."""
    import numpy as np

    from moamosaic_spark.functions.geometry import label_regions
    from moamosaic_spark.plans.grid import OutputGrid

    W = 76
    grid = OutputGrid(x_min=0.0, y_max=float(W), x_res=1.0, y_res=1.0,
                      ncols=W, nrows=W, n_bands=1, nullval=0,
                      dtype="uint16", projection="EPSG:32756")
    full = np.zeros((W, W), np.int32)
    full[::2, :] = 7          # 38 separate single-row stripes
    rows = [(0, 0, W, W, [int(x) for x in full.ravel()])]
    tiles = spark.createDataFrame(
        rows, "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")
    got = sorted(r.region_id for r in label_regions(tiles, grid, 64).collect())
    assert got == [r * W for r in range(0, W, 2)]  # one region per stripe


def test_zonal_stats_multiband_no_mixing(spark):
    """A banded tile relation produces per-(band, zone) rows — bands
    never silently mix."""
    from moamosaic_spark.functions.geometry import zonal_stats

    zt = spark.createDataFrame(
        [(0, 0, 2, 2, [1, 1, 2, 2])],
        "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")
    tiles = spark.createDataFrame(
        [(1, 0, 0, 2, 2, [10, 20, 30, 40]), (2, 0, 0, 2, 2, [1, 2, 3, 4])],
        "band int, tile_row int, tile_col int, ysize int, xsize int, pixels array<int>")
    got = {(r.band, r.zone): (r.n_px, r.val_sum) for r in
           zonal_stats(tiles, zt, nullval=0).collect()}
    assert got == {(1, 1): (2, 30), (1, 2): (2, 70),
                   (2, 1): (2, 3), (2, 2): (2, 7)}


def _median_time(fn, n=5):
    import time as _t

    ts = []
    for _ in range(n):
        t0 = _t.time()
        fn()
        ts.append(_t.time() - t0)
    ts.sort()
    return ts[n // 2]


def test_burn_kernel_scales_with_edge_span_not_tile_area():
    """The rasterize burn touches only the rows each edge's y-span
    crosses: two polygons with IDENTICAL vertex counts on the same
    1024^2 tile, one spanning ~8 rows and one ~1000, must cost
    proportionally — a full-tile-pass-per-edge kernel times equal."""
    import numpy as np
    import pandas as pd

    from moamosaic_spark.functions.geometry import make_burn_fn

    burn = make_burn_fn(0.0, 1024.0, 1.0, 1.0)

    def zigzag_poly(y_lo, y_hi, n=120):
        xs = np.linspace(5.0, 1019.0, n)
        pts = [
            {"x": float(x), "y": float(y_lo if i % 2 else y_hi)}
            for i, x in enumerate(xs)
        ]
        pts += [{"x": 1019.0, "y": float(y_hi) + 2.0},
                {"x": 5.0, "y": float(y_hi) + 2.0}]
        return pts

    def group(poly):
        return pd.DataFrame([{
            "tile_row": 0, "tile_col": 0, "top": 0, "left": 0,
            "ysize": 1024, "xsize": 1024,
            "_prio": 0, "_value": 7, "_poly": poly,
        }])

    thin = group(zigzag_poly(1012.0, 1020.0))   # ~8-row spans
    tall = group(zigzag_poly(20.0, 1020.0))     # ~1000-row spans
    burn(thin), burn(tall)  # warm
    t_thin = _median_time(lambda: burn(thin))
    t_tall = _median_time(lambda: burn(tall))
    # work ratio is ~125x; 3x is a throttle-proof margin
    assert t_thin < t_tall / 3, (t_thin, t_tall)
    # and the thin burn still burns the right pixels
    out = burn(thin)
    canvas = np.asarray(out["pixels"].iloc[0]).reshape(1024, 1024)
    assert (canvas == 7).sum() > 0 and canvas[0, 0] == 0


def test_label_border_emission_scales_with_perimeter():
    """Border-row emission is array-shaped: two single-region tiles of
    EQUAL area, one 512x512 (perimeter ~2k) and one 8x32768
    (perimeter ~65k), must run within a small factor of each other —
    a per-border-pixel Python loop makes the thin tile ~30x slower."""
    import numpy as np
    import pandas as pd

    from moamosaic_spark.functions.geometry import make_label_work_fn
    from moamosaic_spark.pixels import encode

    work = make_label_work_fn(100000, 512, 0)

    def tile(ysz, xsz):
        return pd.DataFrame([{
            "band": 1, "tile_row": 0, "tile_col": 0, "ysize": ysz, "xsize": xsz,
            "pixels": encode(np.ones(ysz * xsz, dtype=np.int32)),
        }])

    square, thin = tile(512, 512), tile(8, 32768)

    def run(pdf):
        return list(work(iter([pdf])))[0]

    run(square), run(thin)  # warm
    t_sq = _median_time(lambda: run(square))
    t_thin = _median_time(lambda: run(thin))
    assert t_thin < 6 * max(t_sq, 1e-4), (t_thin, t_sq)
    # row counts: 1 partial + perimeter border rows, corners deduped
    out = run(thin)
    assert (out["kind"] == 0).sum() == 1
    assert (out["kind"] == 1).sum() == 2 * 32768 + 2 * 8 - 4
