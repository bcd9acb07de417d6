"""J1 — the block×footprint spatial join.

The reference computes, for every output block × every input file, the
block's bounds in the file's pixel coordinates (affine forward + inverse,
int(round(...)) with banker's rounding — structures.py:72-99) and keeps
pairs passing the open-interval box-intersection test
(mosaic.py:519-520). Its implementation is a driver-side O(blocks×files)
nested loop; here it is one declarative Spark equi-join:

* each footprint explodes to the output tiles (tile_row, tile_col) its
  pixel extent covers — a superset of the pairs the box test keeps, the
  tile-aligned layout of *Raptor* (VLDB 2019);
* that cover hash-joins the tile relation on (tile_row, tile_col), with
  the exact box predicate as residual. Each (tile, media_ref) pair comes
  out once.

Work is O(tiles + footprint-tile covers), never O(tiles × files), and a
restricted tile relation (a row range, a touched-tile key set) restricts
the join. A hot tile (many overlapping footprints) is not split here:
its cost is its output rows, and those land in (band, tile) groups the
stitch folds one Arrow batch at a time (operators/stitch.py).

Output columns:
    tile_row, tile_col, top, left, ysize, xsize   — the output tile
    media_ref, priority                           — contributing source
    in_top, in_left, in_ysize, in_xsize           — tile bounds in source px
    src_ncols, src_nrows                          — for the read clamp
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .grid import OutputGrid, explode_tile_cover, morton_expr, sql_double


def _file_coords(grid: OutputGrid, fp_prefix: str = "f.") -> dict[str, str]:
    """Tile bounds in a footprint's pixel coords (structures.py:86-99),
    as SQL expressions.

    World coords of the tile's outer bounds under the output transform,
    pushed through the footprint's inverse affine. Grids are validated
    same-res/aligned (reproj.py:72-114), the transform has no rotation
    terms, so the closed forms below are exact. ``bround`` = round
    half-even, matching Python's ``int(round(...))`` banker's rounding.
    """
    f = fp_prefix
    x_min, x_res = sql_double(grid.x_min), sql_double(grid.x_res)
    y_max, y_res = sql_double(grid.y_max), sql_double(grid.y_res)
    x_left = f"{x_min} + `left` * {x_res}"
    y_top = f"{y_max} - top * {y_res}"
    x_right = f"{x_min} + (`left` + xsize) * {x_res}"
    y_bottom = f"{y_max} - (top + ysize) * {y_res}"
    return {
        "file_left": f"CAST(bround(({x_left} - {f}x0) / {f}x_res) AS INT)",
        "file_top": f"CAST(bround(({f}y0 - ({y_top})) / {f}y_res) AS INT)",
        "file_right": f"CAST(bround(({x_right} - {f}x0) / {f}x_res) AS INT)",
        "file_bottom": f"CAST(bround(({f}y0 - ({y_bottom})) / {f}y_res) AS INT)",
    }


def _select_assignment(joined: DataFrame, grid: OutputGrid) -> DataFrame:
    c = _file_coords(grid)
    return joined.where(
        f"{c['file_right']} > 0 AND {c['file_bottom']} > 0 "
        f"AND {c['file_left']} < f.ncols AND {c['file_top']} < f.nrows"
    ).selectExpr(
        "tile_row",
        "tile_col",
        "top",
        "`left`",
        "ysize",
        "xsize",
        "f.media_ref AS media_ref",
        "f.priority AS priority",
        f"{c['file_top']} AS in_top",
        f"{c['file_left']} AS in_left",
        f"{c['file_bottom']} - {c['file_top']} AS in_ysize",
        f"{c['file_right']} - {c['file_left']} AS in_xsize",
        "f.ncols AS src_ncols",
        "f.nrows AS src_nrows",
    )


def _footprint_cell_covers(
    footprints: DataFrame, grid: OutputGrid, cell_size: float, pad: float
) -> DataFrame:
    """Explode each footprint to the set of Z-order cells its (padded)
    bounds cover — the cell index of the ``cell_covers`` query.

    Cell grid is anchored at the output grid's top-left corner; cell
    coords -> Z-order cell_id via plans.grid.morton_expr. ``pad`` (world
    units) widens the cover on every side.
    """
    x_lo = F.col("x0") - F.lit(pad) - F.lit(grid.x_min)
    x_hi = F.col("x0") + F.col("ncols") * F.col("x_res") + F.lit(pad) - F.lit(grid.x_min)
    y_lo = F.lit(grid.y_max) - (F.col("y0") + F.lit(pad))
    y_hi = F.lit(grid.y_max) - (F.col("y0") - F.col("nrows") * F.col("y_res") - F.lit(pad))
    # clamp to >= 0: tiles only occupy non-negative cells (the grid origin
    # is the global extent's top-left), so negative padded covers can never
    # match and would alias under the 16-bit Morton mask.
    fp = footprints.select(
        "*",
        F.greatest(F.floor(x_lo / F.lit(cell_size)).cast("long"), F.lit(0)).alias("cx0"),
        F.greatest(F.floor(x_hi / F.lit(cell_size)).cast("long"), F.lit(0)).alias("cx1"),
        F.greatest(F.floor(y_lo / F.lit(cell_size)).cast("long"), F.lit(0)).alias("cy0"),
        F.greatest(F.floor(y_hi / F.lit(cell_size)).cast("long"), F.lit(0)).alias("cy1"),
    )
    fp = fp.select(
        "*",
        F.explode(F.sequence(F.col("cx0"), F.col("cx1"))).alias("ccx"),
    ).select(
        "*",
        F.explode(F.sequence(F.col("cy0"), F.col("cy1"))).alias("ccy"),
    )
    return fp.withColumn("cell_id", morton_expr(F.col("ccx"), F.col("ccy"))).drop(
        "cx0", "cx1", "cy0", "cy1", "ccx", "ccy"
    )


def _footprint_tile_covers(
    footprints: DataFrame, grid: OutputGrid, blocksize: int
) -> DataFrame:
    """Explode each footprint to the output tiles its half-open pixel
    extent covers: output columns [floor((x0 - x_min) / x_res),
    ceil((x0 + ncols * f.x_res - x_min) / x_res)), likewise rows, cut
    into tile indices (clamped by plans.grid.explode_tile_cover).

    A superset of the residual's hits: ``_select_assignment`` keeps a
    pair only if the tile overlaps the footprint by more than half a
    source pixel on both axes."""
    x_min, x_res = sql_double(grid.x_min), sql_double(grid.x_res)
    y_max, y_res = sql_double(grid.y_max), sql_double(grid.y_res)
    px0 = f"floor((x0 - {x_min}) / {x_res})"
    px1 = f"ceil((x0 + ncols * x_res - {x_min}) / {x_res})"
    py0 = f"floor(({y_max} - y0) / {y_res})"
    py1 = f"ceil(({y_max} - y0 + nrows * y_res) / {y_res})"
    bs = int(blocksize)
    return explode_tile_cover(
        footprints, grid, bs,
        f"floor({py0} / {bs})", f"floor(({py1} - 1) / {bs})",
        f"floor({px0} / {bs})", f"floor(({px1} - 1) / {bs})",
    )


def filter_by_polygons(
    assignments: DataFrame, polygons: DataFrame, grid: OutputGrid
) -> DataFrame:
    """Polygon-aware assignment residual (north-star point-in-polygon,
    SURVEY §7.3 item 9): keep a (tile, source) pair only if the tile's
    WORLD rectangle actually intersects the source's validity polygon
    (array<struct<x,y>> ring in world coords, e.g. a nodata-collar
    outline) — not just its bounding box. Sources without a polygon row
    keep their rectangle semantics. Exact rect∩polygon test, pure
    column expressions (functions/geometry.py); the polygon dim table
    is broadcast."""
    from ..functions.geometry import rect_intersects_polygon

    x_lo = F.lit(grid.x_min) + F.col("left") * F.lit(grid.x_res)
    x_hi = F.lit(grid.x_min) + (F.col("left") + F.col("xsize")) * F.lit(grid.x_res)
    y_hi = F.lit(grid.y_max) - F.col("top") * F.lit(grid.y_res)
    y_lo = F.lit(grid.y_max) - (F.col("top") + F.col("ysize")) * F.lit(grid.y_res)
    a = assignments.join(
        F.broadcast(polygons.select("media_ref", "poly")), on="media_ref", how="left"
    )
    keep = F.col("poly").isNull() | rect_intersects_polygon(
        x_lo, y_lo, x_hi, y_hi, F.col("poly")
    )
    return a.where(keep).drop("poly")


STRATEGIES = ("broadcast", "cell")


def check_strategy(strategy: str) -> None:
    """Raise ValueError on a join strategy name that was never accepted.
    Every accepted name plans the same one join."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown join strategy: {strategy}")


def assign_inputs(
    tiles: DataFrame,
    footprints: DataFrame,
    grid: OutputGrid,
    strategy: str = "broadcast",
    polygons: DataFrame | None = None,
    *,
    blocksize: int,
    cell_size_px: int | None = None,
) -> DataFrame:
    """J1: the (tile, footprint) pairs of ``tiles`` (a tile relation of
    ``grid`` at ``blocksize``, possibly restricted) that the reference's
    nested loop keeps, with the tile's bounds in source pixels.

    Footprints explode to the tiles they cover (_footprint_tile_covers)
    and equi-join ``tiles`` on (tile_row, tile_col); the exact box
    predicate is the residual. ``strategy`` and ``cell_size_px`` are
    accepted for old callers and select nothing."""
    check_strategy(strategy)
    covers = _footprint_tile_covers(footprints, grid, blocksize)
    out = _select_assignment(
        tiles.join(covers.alias("f"), on=["tile_row", "tile_col"]), grid
    )
    if polygons is not None:
        out = filter_by_polygons(out, polygons, grid)
    return out
