"""Vector geometry predicates — point-in-polygon and rectangle/polygon
intersection, pure JVM column expressions.

The reference's footprints are axis-aligned rectangles (ImageInfo
bounds, structures.py:11-34); the north-star names true
point-in-polygon for non-rectangular footprints (real rasters carry
nodata collars whose validity outline is a polygon, SURVEY §7.3 item
9). Polygons are ``array<struct<x double, y double>>`` rings
(implicitly closed, any orientation, simple).

* ``point_in_polygon`` — even-odd crossing number (the classic ray
  cast), one ``aggregate`` over the edge list; no UDF, whole-stage
  codegen'd, DuckDB-replayable (the oracle renders the same rule).
* ``rect_intersects_polygon`` — exact rectangle/polygon intersection:
  a polygon vertex inside the rect, OR a rect corner inside the
  polygon, OR a proper edge/edge crossing. Used as the residual
  predicate for polygon-aware tile assignment.
* ``points_in_polygons`` — the scale path: polygons explode to the
  grid cells their bounding box covers, points key one cell, the join
  is an equi-join on cell id with the exact ray cast as residual —
  shuffle O(points + polygon-cell covers), never O(points × polygons).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def point_in_polygon(px: Column, py: Column, poly: Column) -> Column:
    """Even-odd ray cast: true iff (px, py) is strictly inside ``poly``
    (points exactly on an edge follow the half-open crossing rule).
    Degenerate rings (< 3 vertices) contain nothing — guarded, since
    sequence(1, 0) would DESCEND and element_at would error."""
    n = F.size(poly)

    def crossing(acc, i):
        a = F.element_at(poly, i)
        b = F.element_at(poly, F.pmod(i, n) + 1)
        crosses = (a["y"] > py) != (b["y"] > py)
        # the division is guarded: crosses implies a.y != b.y
        xi = a["x"] + (py - a["y"]) * (b["x"] - a["x"]) / (b["y"] - a["y"])
        return acc + F.when(crosses & (px < xi), 1).otherwise(0)

    cnt = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), crossing)
    return F.when(n >= 3, F.pmod(cnt, 2) == F.lit(1)).otherwise(F.lit(False))


def _cross(ax, ay, bx, by, cx, cy) -> Column:
    """Signed area of (a, b, c) — the orientation test."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _segments_cross(ax, ay, bx, by, cx, cy, dx, dy) -> Column:
    """Proper (interior) intersection of segments ab and cd."""
    d1 = _cross(ax, ay, bx, by, cx, cy)
    d2 = _cross(ax, ay, bx, by, dx, dy)
    d3 = _cross(cx, cy, dx, dy, ax, ay)
    d4 = _cross(cx, cy, dx, dy, bx, by)
    return (d1 * d2 < 0) & (d3 * d4 < 0)


def rect_intersects_polygon(
    x_lo: Column, y_lo: Column, x_hi: Column, y_hi: Column, poly: Column
) -> Column:
    """Axis-aligned-rect ∩ polygon ≠ ∅ (three cases: polygon vertex in
    rect, rect corner in polygon, proper edge crossing). Exact for
    OPEN-set intersection; measure-zero tangency (an edge lying along a
    rect edge, or a crossing exactly through a rect corner) may report
    false — the right semantics for tile clipping, where a zero-area
    touch contributes no pixels. Degenerate rings match nothing."""
    vertex_in_rect = F.exists(
        poly,
        lambda v: (v["x"] >= x_lo) & (v["x"] <= x_hi)
        & (v["y"] >= y_lo) & (v["y"] <= y_hi),
    )
    corner_in_poly = (
        point_in_polygon(x_lo, y_lo, poly)
        | point_in_polygon(x_hi, y_lo, poly)
        | point_in_polygon(x_lo, y_hi, poly)
        | point_in_polygon(x_hi, y_hi, poly)
    )
    n = F.size(poly)
    rect_edges = [
        (x_lo, y_lo, x_hi, y_lo),
        (x_hi, y_lo, x_hi, y_hi),
        (x_hi, y_hi, x_lo, y_hi),
        (x_lo, y_hi, x_lo, y_lo),
    ]

    def edge_hits(i):
        a = F.element_at(poly, i)
        b = F.element_at(poly, F.pmod(i, n) + 1)
        hit = F.lit(False)
        for (ex0, ey0, ex1, ey1) in rect_edges:
            hit = hit | _segments_cross(
                a["x"], a["y"], b["x"], b["y"], ex0, ey0, ex1, ey1
            )
        return hit

    edge_cross = F.exists(F.sequence(F.lit(1), n), edge_hits)
    return F.when(
        n >= 3, vertex_in_rect | corner_in_poly | edge_cross
    ).otherwise(F.lit(False))


def points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    cell_size: float,
    point_x: str = "x",
    point_y: str = "y",
    poly_col: str = "poly",
) -> DataFrame:
    """All (point, polygon) containment pairs WITHOUT a cross join:
    polygons explode to the cells of their bounding box, points key the
    one cell containing them, equi-join on the cell, exact ray cast as
    residual. Returns ``points`` columns + the polygon's non-geometry
    columns. ``cell_size`` in world units (pick ~ the median polygon
    extent; skewed giant polygons cover more cells — their covers, not
    the points, replicate)."""
    cs = float(cell_size)
    px, py = F.col(point_x), F.col(point_y)
    p = points.withColumn(
        "_cx", F.floor(px / cs).cast("long")
    ).withColumn("_cy", F.floor(py / cs).cast("long"))

    poly = F.col(poly_col)
    xs = F.transform(poly, lambda v: v["x"])
    ys = F.transform(poly, lambda v: v["y"])
    q = polys.select(
        "*",
        F.floor(F.array_min(xs) / cs).cast("long").alias("_qx0"),
        F.floor(F.array_max(xs) / cs).cast("long").alias("_qx1"),
        F.floor(F.array_min(ys) / cs).cast("long").alias("_qy0"),
        F.floor(F.array_max(ys) / cs).cast("long").alias("_qy1"),
    )
    q = q.select(
        "*", F.explode(F.sequence(F.col("_qx0"), F.col("_qx1"))).alias("_cx")
    ).select(
        "*", F.explode(F.sequence(F.col("_qy0"), F.col("_qy1"))).alias("_cy")
    ).drop("_qx0", "_qx1", "_qy0", "_qy1")

    joined = p.join(q, on=["_cx", "_cy"], how="inner")
    return joined.where(
        point_in_polygon(px, py, F.col(poly_col))
    ).drop("_cx", "_cy", poly_col)


RASTERIZE_SCHEMA = "tile_row int, tile_col int, ysize int, xsize int, pixels array<int>"


def rasterize_polygons(
    spark,
    polys: DataFrame,
    grid,
    blocksize: int,
    poly_col: str = "poly",
    value_col: str = "value",
    priority_col: str = "priority",
) -> DataFrame:
    """Vector -> raster burn (the gdal_rasterize analog over tables):
    every output pixel whose CENTER lies inside a polygon (the same
    even-odd half-open crossing rule as ``point_in_polygon``) takes
    that polygon's ``value``; overlaps resolve by ``priority`` (higher
    wins — the mosaic's ordered-overwrite semantics). Background = 0.
    Emits only tiles intersecting >= 1 polygon: (tile_row, tile_col,
    ysize, xsize, pixels array<int>).

    Scale shape: polygons explode to the TILES their bounding box
    covers (tile ids are the grid cells here — no separate cell size),
    equi-join with the tile relation, exact ``rect_intersects_polygon``
    residual, then one vectorized numpy burn per (tile, polygons)
    group via applyInPandas — shuffle O(polygon-tile covers), never
    O(tiles x polygons), and no per-pixel Python."""
    import numpy as np
    import pandas as pd

    from ..plans.grid import explode_tile_cover, make_tile_relation

    tiles = make_tile_relation(spark, grid, blocksize)
    poly = F.col(poly_col)
    xs = F.transform(poly, lambda v: v["x"])
    ys = F.transform(poly, lambda v: v["y"])
    tile_w = float(grid.x_res) * blocksize
    tile_h = float(grid.y_res) * blocksize
    x_min, y_max = float(grid.x_min), float(grid.y_max)
    # the bounding box's first and last tile; explode_tile_cover clamps
    # them into the real tile-id space
    covers = explode_tile_cover(
        polys.select(
            poly.alias("_poly"),
            F.col(value_col).cast("int").alias("_value"),
            F.col(priority_col).cast("int").alias("_prio"),
            F.floor((F.array_min(xs) - x_min) / tile_w).cast("int").alias("_c0"),
            F.floor((F.array_max(xs) - x_min) / tile_w).cast("int").alias("_c1"),
            F.floor((y_max - F.array_max(ys)) / tile_h).cast("int").alias("_r0"),
            F.floor((y_max - F.array_min(ys)) / tile_h).cast("int").alias("_r1"),
        ),
        grid, blocksize, "_r0", "_r1", "_c0", "_c1",
    ).drop("_r0", "_r1", "_c0", "_c1")
    cand = covers.join(tiles, on=["tile_row", "tile_col"], how="inner")
    tx_lo = x_min + F.col("left") * grid.x_res
    tx_hi = x_min + (F.col("left") + F.col("xsize")) * grid.x_res
    ty_hi = y_max - F.col("top") * grid.y_res
    ty_lo = y_max - (F.col("top") + F.col("ysize")) * grid.y_res
    cand = cand.where(
        rect_intersects_polygon(tx_lo, ty_lo, tx_hi, ty_hi, F.col("_poly"))
    )

    burn = make_burn_fn(x_min, y_max, float(grid.x_res), float(grid.y_res))
    return cand.groupBy("tile_row", "tile_col").applyInPandas(burn, RASTERIZE_SCHEMA)


def make_burn_fn(x_min: float, y_max: float, x_res: float, y_res: float):
    """The per-(tile, polygons) burn kernel of ``rasterize_polygons``,
    exposed at module level so the span-scaling microbench can drive it
    on in-memory groups without a Spark plan around it."""
    import numpy as np
    import pandas as pd

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        top, left = int(pdf["top"].iloc[0]), int(pdf["left"].iloc[0])
        ysz, xsz = int(pdf["ysize"].iloc[0]), int(pdf["xsize"].iloc[0])
        px = x_min + (left + np.arange(xsz) + 0.5) * x_res
        py = y_max - (top + np.arange(ysz) + 0.5) * y_res
        canvas = np.zeros((ysz, xsz), dtype=np.int32)
        # iterrows, not itertuples: underscore-prefixed column names get
        # positional aliases in namedtuples. Stable sort with value as
        # the tie-break: equal-priority overlaps resolve to the HIGHER
        # value deterministically (input row order varies with the
        # shuffle; the DuckDB oracle mirrors this with a composite
        # arg_max key)
        for _, r in pdf.sort_values(["_prio", "_value"], kind="stable").iterrows():
            vx = np.array([p["x"] for p in r["_poly"]], dtype=np.float64)
            vy = np.array([p["y"] for p in r["_poly"]], dtype=np.float64)
            if vx.size < 3:
                continue
            cnt = np.zeros((ysz, xsz), dtype=np.int32)
            for i in range(vx.size):
                ax, ay = vx[i], vy[i]
                bx, by = vx[(i + 1) % vx.size], vy[(i + 1) % vy.size]
                crosses = (ay > py) != (by > py)          # (ysz,)
                # touch only the rows this edge's y-span crosses: the
                # update is O(span x xsz), not O(tile area) — a
                # 10k-vertex polygon costs sum-of-spans, not 10k full
                # tile passes (py descends, so the span is contiguous,
                # but nonzero() needs no such assumption)
                rows_hit = np.nonzero(crosses)[0]
                if rows_hit.size == 0:
                    continue
                xi = ax + (py[rows_hit] - ay) * (bx - ax) / (by - ay)
                cnt[rows_hit] += px[None, :] < xi[:, None]
            canvas[cnt % 2 == 1] = int(r["_value"])
        return pd.DataFrame([{
            "tile_row": int(pdf["tile_row"].iloc[0]),
            "tile_col": int(pdf["tile_col"].iloc[0]),
            "ysize": ysz, "xsize": xsz,
            "pixels": canvas.ravel(),
        }])

    return burn


ZONAL_PARTS_SCHEMA = (
    "band int, zone int, n_px long, val_sum long, val_min int, val_max int"
)


def zonal_stats(
    tiles: DataFrame,
    zone_tiles: DataFrame,
    nullval: int = 0,
) -> DataFrame:
    """Zonal statistics — per-zone count/sum/min/max of mosaic pixel
    values, the classic raster <-> vector aggregate. ``tiles`` is a
    stitched tile relation (level-0 rows: tile_row, tile_col, ysize,
    xsize, pixels; ``array<int>`` pixels are packed on entry by
    pixels.ingest); ``zone_tiles`` is a zone-id
    raster on the SAME tiling (rasterize_polygons output, zone ids as
    burn values, 0 = no zone; ``array<int>`` ids, or packed u2 when the
    ids fit, e.g. after pixels.ingest). Scale shape: equi-join on the tile key
    (zones touch few tiles; mosaic tiles stream), one vectorized
    numpy partial per joined tile via mapInPandas (np.bincount over
    zone ids — no per-pixel Python), then a tiny final aggregation
    over (zones x tiles) partial rows: the same partial-algebra
    pattern as the mosaic's single-pass stats."""
    import numpy as np
    import pandas as pd

    from ..pixels import PIXEL_TYPE, decode, ingest

    tiles = ingest(tiles)
    # a multi-band tile relation (MosaicResult.tiles) carries one row
    # per (band, tile): keep band in the group key so bands never mix
    # silently; single-band inputs without the column get band = 1
    band_col = F.col("band") if "band" in tiles.columns else F.lit(1)
    # zone ids above the packed range stay array<int>: read each layout
    # as what it is
    packed_zones = zone_tiles.schema["pixels"].dataType == PIXEL_TYPE
    joined = tiles.select(
        band_col.cast("int").alias("band"),
        "tile_row", "tile_col", F.col("pixels").alias("px_payload"),
    ).join(
        zone_tiles.select(
            "tile_row", "tile_col", F.col("pixels").alias("zone_payload")
        ),
        on=["tile_row", "tile_col"],
        how="inner",
    )

    def partials(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                px = decode(r.px_payload).astype(np.int64)
                zones = (
                    decode(r.zone_payload) if packed_zones else np.asarray(r.zone_payload)
                ).astype(np.int64)
                m = (zones > 0) & (px != nullval)
                if not m.any():
                    continue
                z, v = zones[m], px[m]
                order = np.argsort(z, kind="stable")
                z, v = z[order], v[order]
                starts = np.flatnonzero(np.r_[True, z[1:] != z[:-1]])
                ends = np.r_[starts[1:], z.size]
                cs = np.r_[0, np.cumsum(v)]
                for s, e in zip(starts, ends):
                    out.append({
                        "band": int(r.band),
                        "zone": int(z[s]),
                        "n_px": int(e - s),
                        "val_sum": int(cs[e] - cs[s]),
                        "val_min": int(v[s:e].min()),
                        "val_max": int(v[s:e].max()),
                    })
            yield pd.DataFrame(
                out,
                columns=["band", "zone", "n_px", "val_sum", "val_min", "val_max"],
            )

    part = joined.mapInPandas(partials, ZONAL_PARTS_SCHEMA)
    return part.groupBy("band", "zone").agg(
        F.sum("n_px").cast("long").alias("n_px"),
        F.sum("val_sum").cast("long").alias("val_sum"),
        F.min("val_min").cast("int").alias("val_min"),
        F.max("val_max").cast("int").alias("val_max"),
    )


def _label_tile_runs(arr, nullval):
    """Local 4-connected equal-value labeling of one tile via row runs
    + union-find over runs (the standard two-pass CCL, vectorized run
    extraction; the only Python loop is over RUNS, never pixels).
    Returns (root run id per run, runs as (row, c0, c1, value))."""
    import numpy as np

    ys, xs = arr.shape
    valid = arr != nullval
    start = valid.copy()
    start[:, 1:] &= (~valid[:, :-1]) | (arr[:, 1:] != arr[:, :-1])
    flat_start = start.ravel()
    run_of_px = np.cumsum(flat_start) - 1          # per-pixel run index
    starts = np.flatnonzero(flat_start)
    n_runs = starts.size
    if n_runs == 0:
        return np.empty(0, np.int64), np.empty((0, 4), np.int64), run_of_px
    rows = starts // xs
    c0 = starts % xs
    # run length, fully vectorized: valid pixels are contiguous from a
    # start until the next start / first invalid / row end, so the
    # count of valid pixels in [start, min(next_start, row_end)) IS
    # the run length (any invalid gap before the window's end would
    # have spawned a new start)
    flat_valid = valid.ravel()
    bounds = np.r_[starts[1:], ys * xs]
    lim = np.minimum(bounds, (rows + 1) * xs)
    cv = np.r_[0, np.cumsum(flat_valid)]
    run_len = cv[lim] - cv[starts]
    c1 = c0 + run_len                              # exclusive
    vals = arr.ravel()[starts]

    parent = np.arange(n_runs, dtype=np.int64)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # union vertically-adjacent same-value overlapping runs
    row_first = np.searchsorted(rows, np.arange(ys))
    row_last = np.searchsorted(rows, np.arange(ys), side="right")
    for r in range(ys - 1):
        i, j = row_first[r], row_first[r + 1]
        ei, ej = row_last[r], row_last[r + 1]
        while i < ei and j < ej:
            if c1[i] <= c0[j]:
                i += 1
            elif c1[j] <= c0[i]:
                j += 1
            else:
                if vals[i] == vals[j]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
                if c1[i] <= c1[j]:
                    i += 1
                else:
                    j += 1
    roots = np.array([find(i) for i in range(n_runs)], dtype=np.int64)
    runs = np.stack([rows, c0, c1, vals.astype(np.int64)], axis=1)
    return roots, runs, run_of_px


def _tile_gids(arr, nullval, g0r, g0c, W):
    """One tile's regions in the global id space, shared by the
    ``label_regions`` and ``region_outlines`` kernels: the local
    labeling above, each run's gid, and the tile's O(perimeter) border
    rows for ``_with_region_ids``.

    A run's gid is its region's min global pixel index: unique across
    tiles (pixel sets are disjoint), free of per-tile id arithmetic
    that could overflow on remainder-absorbing edge tiles, and already
    canonical, so the cross-tile CC's min id is the final region_id.
    Border rows are the valid pixels of the four tile edges (np.unique
    dedups the corners). Array ops only — no loop over regions or
    pixels. Returns (runs, run_gid, run_of_px, (gid, value, grow,
    gcol))."""
    import numpy as np

    roots, runs, run_of_px = _label_tile_runs(arr, nullval)
    ys, xs = arr.shape
    root_gid = np.full(roots.size, np.iinfo(np.int64).max)
    np.minimum.at(root_gid, roots, (g0r + runs[:, 0]) * W + g0c + runs[:, 1])
    run_gid = root_gid[roots]
    flat = arr.ravel()
    edge = np.unique(np.concatenate([
        np.arange(xs, dtype=np.int64),                   # top row
        (ys - 1) * xs + np.arange(xs, dtype=np.int64),   # bottom row
        np.arange(ys, dtype=np.int64) * xs,              # left col
        np.arange(ys, dtype=np.int64) * xs + xs - 1,     # right col
    ]))
    edge = edge[flat[edge] != nullval]
    border = (
        run_gid[run_of_px[edge]], flat[edge].astype(np.int64),
        g0r + edge // xs, g0c + edge % xs,
    )
    return runs, run_gid, run_of_px, border


LABEL_WORK_SCHEMA = (
    "band int, kind int, gid long, value int, n_px long, minr long, "
    "minc long, maxr long, maxc long, grow long, gcol long"
)


def make_label_work_fn(W: int, bs: int, nullval: int):
    """The per-tile labeling kernel of ``label_regions``: one row per
    region of the tile (kind 0: gid, value, pixel count, bbox) plus its
    border rows (kind 1), all array-shaped (``_tile_gids``; the per-
    region roll-up is one sort + reduceat). Exposed at module level so
    the perimeter-scaling microbench can drive it on in-memory batches
    without a Spark plan around it."""
    import numpy as np
    import pandas as pd

    from ..pixels import decode

    cols = [c.split()[0] for c in LABEL_WORK_SCHEMA.split(", ")]

    def work(batches):
        for pdf in batches:
            frames = []
            for t in pdf.itertuples(index=False):
                arr = decode(t.pixels).reshape(int(t.ysize), int(t.xsize))
                g0r, g0c = int(t.tile_row) * bs, int(t.tile_col) * bs
                runs, run_gid, _, (bgid, bval, grow, gcol) = _tile_gids(
                    arr, nullval, g0r, g0c, W)
                if runs.size == 0:
                    continue
                order = np.argsort(run_gid, kind="stable")
                g, (rr, c0, c1, v) = run_gid[order], runs[order].T
                first = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
                z = np.zeros(first.size, np.int64)
                frames.append(pd.DataFrame({
                    "band": int(t.band), "kind": z, "gid": g[first],
                    "value": v[first], "n_px": np.add.reduceat(c1 - c0, first),
                    "minr": g0r + np.minimum.reduceat(rr, first),
                    "minc": g0c + np.minimum.reduceat(c0, first),
                    "maxr": g0r + np.maximum.reduceat(rr, first),
                    "maxc": g0c + np.maximum.reduceat(c1, first) - 1,
                    "grow": z, "gcol": z,
                }))
                z = np.zeros(bgid.size, np.int64)
                frames.append(pd.DataFrame({
                    "band": int(t.band), "kind": z + 1, "gid": bgid,
                    "value": bval, "n_px": z, "minr": z, "minc": z,
                    "maxr": z, "maxc": z, "grow": grow, "gcol": gcol,
                }))
            yield (pd.concat(frames, ignore_index=True)[cols] if frames
                   else pd.DataFrame(columns=cols))

    return work


def _with_region_ids(rows: DataFrame, borders: DataFrame) -> DataFrame:
    """Cross-tile gid merge shared by label_regions / region_outlines:
    join border rows (band, gid, value, grow, gcol) against themselves
    on down/right adjacency with equal band and value, run the
    alternating-star connected-components over the resulting gid pairs
    — node ids are (band, gid), so bands never merge — and add
    ``region_id`` to ``rows`` (keyed by band, gid): the min gid of the
    merged region, which (gids being min global pixel indices) IS the
    canonical region_id; a gid on no cross-tile edge keeps its own."""
    from .dedup import connected_components

    b2 = borders.select(*[F.col(c).alias(f"{c}_b") for c in borders.columns])
    same = (F.col("band_b") == F.col("band")) & (F.col("value_b") == F.col("value"))
    down = borders.join(
        b2, same & (F.col("grow_b") == F.col("grow") + 1) & (F.col("gcol_b") == F.col("gcol")))
    right = borders.join(
        b2, same & (F.col("gcol_b") == F.col("gcol") + 1) & (F.col("grow_b") == F.col("grow")))
    edges = (
        down.unionByName(right)
        .where(F.col("gid") != F.col("gid_b"))
        .select(
            F.struct("band", "gid").alias("u"),
            F.struct("band", F.col("gid_b").alias("gid")).alias("v"),
        )
        .distinct()
    )
    cc = connected_components(edges, "u", "v").select(
        F.col("doc_id.band").alias("band"), F.col("doc_id.gid").alias("gid"),
        F.col("cluster_id.gid").alias("_root"),
    )
    return rows.join(cc, on=["band", "gid"], how="left").withColumn(
        "region_id", F.coalesce(F.col("_root"), F.col("gid"))
    ).drop("_root")


def label_regions(
    tiles: DataFrame,
    grid,
    blocksize: int,
    nullval: int = 0,
) -> DataFrame:
    """Distributed 4-connected equal-value region labeling — the
    polygonize-lite analog (gdal_polygonize's region discovery without
    ring tracing): per-tile run-based union-find labeling, cross-tile
    merges via the SAME alternating-star DataFrame connected-components
    that resolves duplicate clusters, then a partial-algebra roll-up.

    Scale shape: the pixel payload is touched ONCE (one mapInPandas
    over tiles, packed by pixels.ingest first); everything after
    operates on per-region partial rows and border-pixel rows
    (O(perimeter), not O(area)), so a region spanning thousands of
    tiles merges through the O(|E|)-per-round CC, never by moving
    pixels. Each band is labeled on its own (band = 1 when the column
    is absent).

    Returns (band, region_id, value, n_px, min_row, min_col, max_row,
    max_col) with ``region_id`` = the region's minimum global pixel
    index (row * grid_ncols + col) — canonical across any tiling.
    """
    from ..pixels import ingest

    work = make_label_work_fn(int(grid.ncols), int(blocksize), nullval)
    band = F.col("band") if "band" in tiles.columns else F.lit(1)
    w = ingest(tiles.select(
        band.cast("int").alias("band"), "tile_row", "tile_col", "ysize", "xsize", "pixels"
    )).mapInPandas(work, LABEL_WORK_SCHEMA).localCheckpoint(eager=True)

    borders = w.where(F.col("kind") == 1).select("band", "gid", "value", "grow", "gcol")
    merged = _with_region_ids(w.where(F.col("kind") == 0), borders)
    return merged.groupBy("band", "region_id").agg(
        F.first("value").cast("int").alias("value"),
        F.sum("n_px").cast("long").alias("n_px"),
        F.min("minr").cast("long").alias("min_row"),
        F.min("minc").cast("long").alias("min_col"),
        F.max("maxr").cast("long").alias("max_row"),
        F.max("maxc").cast("long").alias("max_col"),
    )
