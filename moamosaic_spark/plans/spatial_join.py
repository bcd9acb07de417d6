"""J1 — the block×footprint spatial join.

The reference computes, for every output block × every input file, the
block's bounds in the file's pixel coordinates (affine forward + inverse,
int(round(...)) with banker's rounding — structures.py:72-99) and keeps
pairs passing the open-interval box-intersection test
(mosaic.py:519-520). Its implementation is a driver-side O(blocks×files)
nested loop; here it is a declarative Spark join with two physical
strategies producing identical rows:

* ``broadcast`` — footprints broadcast to every executor; Catalyst plans a
  BroadcastNestedLoopJoin over the residual predicate. Right whenever the
  footprint dim table fits in memory (the common mosaic case).
* ``cell`` — both sides are assigned S2/H3-style Z-order cell ids
  (plans/grid.py) of a fixed cell grid; the join is a shuffled **equi-join
  on cell_id** with the exact box predicate as residual; each (tile,
  media_ref) pair comes out once. This is the 10^12-document scale path: shuffle
  volume is O(tiles + footprint-cell covers), never O(tiles × files).
  A hot cell (many overlapping footprints) is not split here: its cost
  is its output rows, and those land in (band, tile) groups the stitch
  folds one Arrow batch at a time (operators/stitch.py). Salting the cell keys
  only replicated the covers and shuffled every output row once more:
  4x slower on 20k footprints stacked in one cell (PLANS.md).

Output columns:
    tile_row, tile_col, top, left, ysize, xsize   — the output tile
    media_ref, priority                           — contributing source
    in_top, in_left, in_ysize, in_xsize           — tile bounds in source px
    src_ncols, src_nrows                          — for the read clamp
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .grid import OutputGrid, morton_expr, sql_double


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


def assign_inputs_broadcast(
    tiles: DataFrame, footprints: DataFrame, grid: OutputGrid
) -> DataFrame:
    """Broadcast strategy: footprints to every executor, residual-only join."""
    joined = tiles.crossJoin(F.broadcast(footprints.alias("f")))
    return _select_assignment(joined, grid)


def _footprint_cell_covers(
    footprints: DataFrame, grid: OutputGrid, cell_size: float, pad: float
) -> DataFrame:
    """Explode each footprint to the set of cells its (padded) bounds cover.

    Cell grid is anchored at the output grid's top-left corner; cell
    coords -> Z-order cell_id via plans.grid.morton_expr. ``pad`` (world
    units) widens the cover so that any tile whose key cell merely touches
    the footprint is still matched by the equi-join.
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


def assign_inputs_cell(
    tiles: DataFrame,
    footprints: DataFrame,
    grid: OutputGrid,
    cell_size_px: int = 4096,
    blocksize: int | None = None,
) -> DataFrame:
    """Cell-keyed scale strategy.

    Each tile lands in exactly ONE cell (cells are sized >= the max tile
    size, so we key a tile by the cell containing its top-left corner and
    explode footprints by one extra cell of margin — every
    tile/footprint intersection shares the tile's key cell). Equi-join on
    cell_id, exact box predicate as residual. ``sequence()`` emits each
    covered cell once per footprint and a tile keys one cell, so every
    (tile, footprint) pair comes out once.
    """
    cell_size = cell_size_px * grid.x_res
    t = tiles.withColumn(
        "cell_id",
        morton_expr(
            F.floor(F.col("left") * F.lit(grid.x_res) / F.lit(cell_size)).cast("long"),
            F.floor(F.col("top") * F.lit(grid.y_res) / F.lit(cell_size)).cast("long"),
        ),
    )
    # Margin: a tile's far corner extends at most (max tile extent) past
    # its key-cell anchor (the tile's top-left), so padding footprint
    # covers by exactly that + rounding slop guarantees every
    # intersecting tile's key cell is covered. The max tile extent under
    # the remainder-absorbing rule is blocksize + blocksize//4 - 1
    # (grid.py:n_blocks). A loose pad costs join-candidate blowup
    # (candidates scale with pad^2), so keep it tight.
    if blocksize is not None:
        pad_px = blocksize + blocksize // 4 + 2
    else:
        pad_px = cell_size_px  # conservative when tile size unknown
    pad = pad_px * grid.x_res
    fp = _footprint_cell_covers(footprints, grid, cell_size, pad)
    joined = t.join(fp.alias("f"), on="cell_id", how="inner")
    return _select_assignment(joined, grid)


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


def assign_inputs(
    tiles: DataFrame,
    footprints: DataFrame,
    grid: OutputGrid,
    strategy: str = "broadcast",
    polygons: DataFrame | None = None,
    **kw,
) -> DataFrame:
    if strategy == "broadcast":
        out = assign_inputs_broadcast(tiles, footprints, grid)
    elif strategy == "cell":
        out = assign_inputs_cell(tiles, footprints, grid, **kw)
    else:
        raise ValueError(f"unknown join strategy: {strategy}")
    if polygons is not None:
        out = filter_by_polygons(out, polygons, grid)
    return out
