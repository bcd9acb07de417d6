"""S4/P8-P11 — the reprojection path.

Reference behavior (reproj.py:14-59): if an output projection or pixel
size is requested, each input is wrapped in a lazy VRT that warps to the
target grid at read time; otherwise inputs are validated for agreement.
Spark rebuild:

* agreement validation (P6/P7)  -> mosaic.validate_projections
* grid snap (P9, reproj.py:237-261)         -> snap_value / align_grid
* corner envelope (P10, reproj.py:221-234)  -> reproject_corners
  (pyproj when available; otherwise the built-in pure-numpy WGS84 TM
  subset in crs.py — EPSG:4326 + UTM zones)
* cross-CRS warp (reproj.py:130-218)        -> warp_blocks: the full
  VRT-warp path as a windowed relation (see the warp section below)
* resolution change, same CRS (the common mosaic-of-mixed-res case) ->
  resample_blocks: a WINDOWED regrid — the unit of work is one target
  chunk, whose needed source window is derived in closed-form column
  math, exploded to source chunk keys, equi-joined, and resampled by a
  grouped pandas kernel over a bounded window (the reference's
  warp-at-windowed-read, reproj.py:209-213, as a relation). Produces a
  NEW lazy (footprints, blocks) pair on the target grid that feeds
  straight into do_mosaic; the mosaic join prunes it by chunk keys.
  Methods: near (exact reference rule), bilinear, average.

Nearest semantics (center-based, floor):
    src_idx(dst_idx) = floor(((dst_idx + 0.5) * dst_res + dst_origin
                              - src_origin) / src_res)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .pixels import decode, encode, ingest, repeat_u2
from .schema import BLOCKS_SCHEMA


class MoaReprojectionError(Exception):
    pass


def reprojection_requested(out_epsg=None, out_wkt=None, out_xres=None, out_yres=None) -> bool:
    """P8 (reference reproj.py:62-69, extended: a bare resolution change
    also routes through the resample path)."""
    return any(v is not None for v in (out_epsg, out_wkt, out_xres, out_yres))


def snap_value(val: float, res: float, ceil: bool) -> float:
    """P9 (reference reproj.py:249-261)."""
    n = val / res
    n = math.ceil(n) if ceil else math.floor(n)
    return res * n


def align_grid(x_min, x_max, y_min, y_max, xres, yres):
    """P9 (reference reproj.py:237-246)."""
    return (
        snap_value(x_min, xres, False),
        snap_value(x_max, xres, True),
        snap_value(y_min, yres, False),
        snap_value(y_max, yres, True),
    )


def _corner_transform(src_crs: str, dst_crs: str):
    """(x, y) -> (x', y') callable. pyproj when available (any CRS);
    otherwise the built-in pure-numpy WGS84 TM subset (crs.py:
    EPSG:4326 + UTM 326zz/327zz). Axis order is always (x, y) — the
    P11 axis-swap guard (reference reproj.py:264-271)."""
    try:
        from pyproj import Transformer

        return Transformer.from_crs(src_crs, dst_crs, always_xy=True).transform
    except ImportError:
        from .crs import MoaCrsError, make_transform

        try:
            return make_transform(src_crs, dst_crs)
        except MoaCrsError as e:
            raise MoaReprojectionError(
                f"{e} — cross-CRS reprojection outside the built-in "
                "EPSG subset requires pyproj, which is not available "
                "in this environment"
            ) from e


def reproject_corners(x_min, x_max, y_min, y_max, src_crs: str, dst_crs: str):
    """P10 (reference reproj.py:221-234): transform the 4 corners, take
    the envelope."""
    tr = _corner_transform(src_crs, dst_crs)
    xs, ys = zip(
        tr(x_min, y_max),
        tr(x_max, y_max),
        tr(x_min, y_min),
        tr(x_max, y_min),
    )
    xs = [float(v) for v in xs]
    ys = [float(v) for v in ys]
    return (min(xs), max(xs), min(ys), max(ys))


def plan_rescaled_footprints(
    footprints: DataFrame, out_xres: float, out_yres: float
) -> DataFrame:
    """Virtual footprints on the target resolution: bounds snapped to
    res multiples (floor mins / ceil maxes, reference reproj.py:205-206),
    sizes re-derived. Source grid kept in s_* columns for the resampler."""
    fx = F.col("x0")
    fy = F.col("y0")
    x_max = fx + F.col("ncols") * F.col("x_res")
    y_min = fy - F.col("nrows") * F.col("y_res")
    nx0 = F.floor(fx / out_xres) * out_xres
    nx1 = F.ceil(x_max / out_xres) * out_xres
    ny1 = F.ceil(fy / out_yres) * out_yres
    ny0 = F.floor(y_min / out_yres) * out_yres
    return footprints.select(
        "media_ref",
        "priority",
        F.col("x0").alias("s_x0"),
        F.col("y0").alias("s_y0"),
        F.col("x_res").alias("s_x_res"),
        F.col("y_res").alias("s_y_res"),
        F.col("ncols").alias("s_ncols"),
        F.col("nrows").alias("s_nrows"),
        nx0.alias("x0"),
        ny1.alias("y0"),
        F.lit(float(out_xres)).alias("x_res"),
        F.lit(float(out_yres)).alias("y_res"),
        F.round((nx1 - nx0) / out_xres).cast("int").alias("ncols"),
        F.round((ny1 - ny0) / out_yres).cast("int").alias("nrows"),
        "n_bands",
        "dtype",
        "nullval",
        "projection",
    )


RESAMPLE_METHODS = ("near", "bilinear", "average")


def _target_chunk_relation(meta: DataFrame, sbs: int) -> DataFrame:
    """Explode per-footprint metadata to the target chunk relation
    (band, tb_row, tb_col, tb_top, tb_left, tb_ysize, tb_xsize) —
    JVM-generated, like the blocks fact table."""
    t = meta.select(
        "*", F.explode(F.sequence(F.lit(1), F.col("n_bands"))).alias("band")
    ).select(
        "*",
        F.explode(
            F.sequence(F.lit(0), ((F.col("nrows") - 1) / sbs).cast("int"))
        ).alias("tb_row"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.lit(0), ((F.col("ncols") - 1) / sbs).cast("int"))
        ).alias("tb_col"),
    )
    return (
        t.withColumn("tb_top", F.col("tb_row") * sbs)
        .withColumn("tb_left", F.col("tb_col") * sbs)
        .withColumn("tb_ysize", F.least(F.lit(sbs), F.col("nrows") - F.col("tb_top")))
        .withColumn("tb_xsize", F.least(F.lit(sbs), F.col("ncols") - F.col("tb_left")))
        .where((F.col("tb_ysize") > 0) & (F.col("tb_xsize") > 0))
    )


def _assemble_window(
    rows, sy_lo: int, sy_hi: int, sx_lo: int, sx_hi: int, nullval: int
) -> np.ndarray:
    """Fill the bounded source window [sy_lo..sy_hi] x [sx_lo..sx_hi]
    (inclusive) from the covering source chunks, nullval elsewhere —
    shared by the same-CRS resample and the cross-CRS warp kernels.
    Packed chunks decode zero-copy here (guide §4.2: decode at the
    native kernel, not through interpreted per-pixel expressions)."""
    win = np.full((sy_hi - sy_lo + 1, sx_hi - sx_lo + 1), nullval, dtype=np.int32)
    for r in rows:
        bt, bl = int(r.b_top), int(r.b_left)
        bys, bxs = int(r.b_ysize), int(r.b_xsize)
        y0c, y1c = max(bt, sy_lo), min(bt + bys, sy_hi + 1)
        x0c, x1c = max(bl, sx_lo), min(bl + bxs, sx_hi + 1)
        if y1c <= y0c or x1c <= x0c:
            continue
        chunk = decode(r.pixels).reshape(bys, bxs)
        win[y0c - sy_lo: y1c - sy_lo, x0c - sx_lo: x1c - sx_lo] = chunk[
            y0c - bt: y1c - bt, x0c - bl: x1c - bl
        ]
    return win


def _resample_window(g, rows, method: str, ox: float, oy: float) -> np.ndarray:
    """Resample ONE target chunk from its covering source chunks.

    ``g`` carries the chunk/grid metadata; ``rows`` the source chunk
    records. Assembles only the needed source WINDOW (size ~ chunk size
    x resolution ratio — bounded, never the whole raster) and applies
    the method. Returns the (tb_ysize, tb_xsize) int32 pixel array.

    Method semantics (deterministic analogs of the reference's GDAL
    ``resamplemethod``, reproj.py:209-213 — GDAL itself is not in this
    container):
      near     — center-based floor gather (exact reference rule).
      bilinear — 4-neighbor interpolation at the center-aligned
                 fractional source coordinate, edge-replicated; if any
                 contributing neighbor is nullval the output is nullval
                 (conservative nodata); banker's rounding to int.
      average  — mean of source pixels whose centers fall inside the
                 target cell, ignoring nullval; cells containing no
                 source center (e.g. upsampling) are nullval.
    """
    nullval = int(g.nullval)
    tb_top, tb_left = int(g.tb_top), int(g.tb_left)
    tb_ys, tb_xs = int(g.tb_ysize), int(g.tb_xsize)
    s_nrows, s_ncols = int(g.s_nrows), int(g.s_ncols)
    # source window actually needed (superset across methods), clamped
    def win_bounds(t0, tsz, o_res, s_orig_off, s_res, s_n):
        lo = math.floor((t0 * o_res + s_orig_off) / s_res) - 2
        hi = math.floor(((t0 + tsz) * o_res + s_orig_off) / s_res) + 2
        return max(0, lo), min(s_n - 1, hi)

    sy_lo, sy_hi = win_bounds(tb_top, tb_ys, oy, g.s_y0 - g.y0, g.s_y_res, s_nrows)
    sx_lo, sx_hi = win_bounds(tb_left, tb_xs, ox, g.x0 - g.s_x0, g.s_x_res, s_ncols)
    win = _assemble_window(rows, sy_lo, sy_hi, sx_lo, sx_hi, nullval)

    vr = np.arange(tb_top, tb_top + tb_ys, dtype=np.float64)
    vc = np.arange(tb_left, tb_left + tb_xs, dtype=np.float64)
    dst = np.full((tb_ys, tb_xs), nullval, dtype=np.int32)

    if method == "near":
        sy = np.floor(((vr + 0.5) * oy + (g.s_y0 - g.y0)) / g.s_y_res).astype(np.int64)
        sx = np.floor(((vc + 0.5) * ox + (g.x0 - g.s_x0)) / g.s_x_res).astype(np.int64)
        vy = (sy >= 0) & (sy < s_nrows)
        vx = (sx >= 0) & (sx < s_ncols)
        dst[np.ix_(vy, vx)] = win[np.ix_(sy[vy] - sy_lo, sx[vx] - sx_lo)]
        return dst

    if method == "bilinear":
        fy = ((vr + 0.5) * oy + (g.s_y0 - g.y0)) / g.s_y_res - 0.5
        fx = ((vc + 0.5) * ox + (g.x0 - g.s_x0)) / g.s_x_res - 0.5
        # validity matches 'near': the center-nearest pixel must exist
        vy = (np.floor(fy + 0.5) >= 0) & (np.floor(fy + 0.5) < s_nrows)
        vx = (np.floor(fx + 0.5) >= 0) & (np.floor(fx + 0.5) < s_ncols)
        fyv, fxv = fy[vy], fx[vx]
        y0i = np.floor(fyv).astype(np.int64)
        x0i = np.floor(fxv).astype(np.int64)
        wy = (fyv - y0i)[:, None]
        wx = (fxv - x0i)[None, :]
        y0c = np.clip(y0i, 0, s_nrows - 1) - sy_lo
        y1c = np.clip(y0i + 1, 0, s_nrows - 1) - sy_lo
        x0c = np.clip(x0i, 0, s_ncols - 1) - sx_lo
        x1c = np.clip(x0i + 1, 0, s_ncols - 1) - sx_lo
        p00 = win[np.ix_(y0c, x0c)].astype(np.float64)
        p01 = win[np.ix_(y0c, x1c)].astype(np.float64)
        p10 = win[np.ix_(y1c, x0c)].astype(np.float64)
        p11 = win[np.ix_(y1c, x1c)].astype(np.float64)
        val = (
            p00 * (1 - wy) * (1 - wx)
            + p01 * (1 - wy) * wx
            + p10 * wy * (1 - wx)
            + p11 * wy * wx
        )
        any_null = (
            (p00 == nullval) | (p01 == nullval) | (p10 == nullval) | (p11 == nullval)
        )
        out = np.rint(val).astype(np.int32)
        out[any_null] = nullval
        sub = np.full((tb_ys, tb_xs), nullval, dtype=np.int32)
        sub[np.ix_(vy, vx)] = out
        return sub

    if method == "average":
        # inclusive source-index box per target cell: centers inside it
        def box(t, o_res, s_orig_off, s_res, s_n):
            d_lo = (t * o_res + s_orig_off) / s_res
            d_hi = ((t + 1) * o_res + s_orig_off) / s_res
            a = np.ceil(d_lo - 0.5).astype(np.int64)
            b = (np.ceil(d_hi - 0.5) - 1).astype(np.int64)
            return np.clip(a, 0, s_n - 1), np.clip(b, a, s_n), b >= a, a <= s_n - 1, b >= 0

        ya, yb, ynz, ylo_ok, yhi_ok = box(vr, oy, g.s_y0 - g.y0, g.s_y_res, s_nrows)
        xa, xb, xnz, xlo_ok, xhi_ok = box(vc, ox, g.x0 - g.s_x0, g.s_x_res, s_ncols)
        yb = np.minimum(yb, s_nrows - 1)
        xb = np.minimum(xb, s_ncols - 1)
        vy = ynz & ylo_ok & yhi_ok
        vx = xnz & xlo_ok & xhi_ok
        valid = win != nullval
        data = np.where(valid, win, 0).astype(np.float64)
        # 2D prefix sums with a zero border for O(1) box queries
        ps = np.zeros((win.shape[0] + 1, win.shape[1] + 1))
        pc = np.zeros_like(ps)
        ps[1:, 1:] = data.cumsum(0).cumsum(1)
        pc[1:, 1:] = valid.astype(np.float64).cumsum(0).cumsum(1)
        ya_, yb_ = ya[vy] - sy_lo, yb[vy] - sy_lo + 1
        xa_, xb_ = xa[vx] - sx_lo, xb[vx] - sx_lo + 1

        def boxsum(p):
            return (
                p[np.ix_(yb_, xb_)]
                - p[np.ix_(ya_, xb_)]
                - p[np.ix_(yb_, xa_)]
                + p[np.ix_(ya_, xa_)]
            )

        s = boxsum(ps)
        n = boxsum(pc)
        out = np.full(s.shape, nullval, dtype=np.int32)
        nz = n > 0
        out[nz] = np.rint(s[nz] / n[nz]).astype(np.int32)
        sub = np.full((tb_ys, tb_xs), nullval, dtype=np.int32)
        sub[np.ix_(vy, vx)] = out
        return sub

    raise ValueError(f"unknown resample method: {method}")


def resample_blocks(
    footprints: DataFrame,
    blocks: DataFrame,
    out_xres: float,
    out_yres: float,
    src_blocksize: int = 256,
    method: str = "near",
) -> tuple[DataFrame, DataFrame]:
    """Windowed regrid of every raster onto the target resolution.
    Returns (new_footprints, new_blocks) matching the standard engine
    schemas — feed straight into do_mosaic.

    Scale shape (replaces round-1's whole-raster-per-task kernel, which
    assembled the ENTIRE source in one Python group — 40 GB for a
    100k^2 source): the unit of work is one TARGET chunk. The target
    chunk relation is generated JVM-side; each chunk's needed source
    window is derived in closed-form column math and exploded to source
    chunk keys (the reference's windowed warp-at-read, reproj.py:209-213,
    as a relation); the equi-join pulls exactly those chunks; a grouped
    pandas kernel assembles the bounded window (chunk size x resolution
    ratio) and resamples. Pure-margin chunks (outside the source after
    grid snap) never reach Python — synthesized as nullval arrays
    JVM-side, matching the warp's dstNodata fill.

    Assumes the blocks table is keyed b_row = b_top // src_blocksize
    (the same contract _contributor_chunks uses for the mosaic join).
    """
    if method not in RESAMPLE_METHODS:
        raise ValueError(
            f"unknown resample method {method!r}; supported: {RESAMPLE_METHODS}"
        )
    from .session import ensure_workers_can_import

    ensure_workers_can_import(footprints.sparkSession)
    blocks = ingest(blocks)
    vfp = plan_rescaled_footprints(footprints, out_xres, out_yres)
    meta = vfp.select(
        "media_ref", "n_bands", "s_x0", "s_y0", "s_x_res", "s_y_res",
        "s_ncols", "s_nrows", "x0", "y0", "ncols", "nrows", "nullval",
    )
    sbs = int(src_blocksize)
    ox, oy = float(out_xres), float(out_yres)

    t = _target_chunk_relation(meta, sbs)
    # needed source-index window per chunk (superset across methods)
    sy_lo = F.floor((F.col("tb_top") * oy + (F.col("s_y0") - F.col("y0"))) / F.col("s_y_res")) - 2
    sy_hi = F.floor(((F.col("tb_top") + F.col("tb_ysize")) * oy + (F.col("s_y0") - F.col("y0"))) / F.col("s_y_res")) + 2
    sx_lo = F.floor((F.col("tb_left") * ox + (F.col("x0") - F.col("s_x0"))) / F.col("s_x_res")) - 2
    sx_hi = F.floor(((F.col("tb_left") + F.col("tb_xsize")) * ox + (F.col("x0") - F.col("s_x0"))) / F.col("s_x_res")) + 2
    t = (
        t.withColumn("_sy_lo", sy_lo).withColumn("_sy_hi", sy_hi)
        .withColumn("_sx_lo", sx_lo).withColumn("_sx_hi", sx_hi)
    )
    covered, margin = _split_covered(t)
    joined = _join_source_chunks(covered, blocks, sbs)

    def resample_group(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.iloc[0]
        dst = _resample_window(g, list(pdf.itertuples(index=False)), method, ox, oy)
        return pd.DataFrame(
            [
                {
                    "media_ref": g.media_ref,
                    "band": int(g.band),
                    "b_row": int(g.tb_row),
                    "b_col": int(g.tb_col),
                    "b_top": int(g.tb_top),
                    "b_left": int(g.tb_left),
                    "b_ysize": int(g.tb_ysize),
                    "b_xsize": int(g.tb_xsize),
                    "pixels": encode(dst.ravel()),
                }
            ],
            columns=[f.name for f in BLOCKS_SCHEMA.fields],
        )

    resampled = joined.groupBy("media_ref", "band", "tb_row", "tb_col").applyInPandas(
        resample_group, BLOCKS_SCHEMA
    )
    new_blocks = resampled.unionByName(_null_margin_chunks(margin))
    new_fp = vfp.drop("s_x0", "s_y0", "s_x_res", "s_y_res", "s_ncols", "s_nrows")
    return new_fp, new_blocks


def _split_covered(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the chunk relation (carrying _sy/_sx window bounds) into
    chunks overlapping the source vs pure-margin chunks."""
    covered_pred = (
        (F.col("_sy_hi") >= 0) & (F.col("_sy_lo") <= F.col("s_nrows") - 1)
        & (F.col("_sx_hi") >= 0) & (F.col("_sx_lo") <= F.col("s_ncols") - 1)
    )
    return t.where(covered_pred), t.where(~covered_pred)


def _join_source_chunks(covered: DataFrame, blocks: DataFrame, sbs: int) -> DataFrame:
    """Explode covered chunks to covering SOURCE chunk keys and pull
    exactly those chunks via the equi-join."""
    work = covered.select(
        "*",
        F.explode(
            F.sequence(
                (F.greatest(F.col("_sy_lo"), F.lit(0)) / sbs).cast("int"),
                (F.least(F.col("_sy_hi"), F.col("s_nrows") - 1) / sbs).cast("int"),
            )
        ).alias("b_row"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                (F.greatest(F.col("_sx_lo"), F.lit(0)) / sbs).cast("int"),
                (F.least(F.col("_sx_hi"), F.col("s_ncols") - 1) / sbs).cast("int"),
            )
        ).alias("b_col"),
    )
    return work.join(blocks, on=["media_ref", "band", "b_row", "b_col"], how="inner")


def _null_margin_chunks(margin: DataFrame) -> DataFrame:
    """Pure-margin chunks (outside the source after grid snap): nullval
    payloads synthesized JVM-side, matching the warp's dstNodata fill."""
    return margin.select(
        "media_ref",
        F.col("band").cast("int").alias("band"),
        F.col("tb_row").cast("int").alias("b_row"),
        F.col("tb_col").cast("int").alias("b_col"),
        F.col("tb_top").cast("int").alias("b_top"),
        F.col("tb_left").cast("int").alias("b_left"),
        F.col("tb_ysize").cast("int").alias("b_ysize"),
        F.col("tb_xsize").cast("int").alias("b_xsize"),
        repeat_u2(
            F.col("nullval").cast("int"), F.col("tb_ysize") * F.col("tb_xsize")
        ).alias("pixels"),
    )


# ---------------------------------------------------------------------------
# Cross-CRS warp (the reference's full VRT-warp path, reproj.py:130-218,
# as a windowed relation — no GDAL/pyproj needed for the built-in EPSG
# subset; see crs.py)
# ---------------------------------------------------------------------------

WARP_METHODS = ("near", "bilinear", "average")

_WARPED_FP_EXTRA = [
    ("s_x0", "double"), ("s_y0", "double"),
    ("s_x_res", "double"), ("s_y_res", "double"),
    ("s_ncols", "int"), ("s_nrows", "int"), ("s_projection", "string"),
]


def plan_warped_footprints(
    footprints: DataFrame, dst_crs: str, out_xres: float, out_yres: float
) -> DataFrame:
    """Virtual footprints on the target CRS/resolution: corner envelope
    (P10, reference reproj.py:221-234) transformed per footprint,
    snapped to res multiples (P9, floor mins / ceil maxes). Runs as a
    vectorized pandas map over the dim table — transforms are numpy
    array ops, distributed, never a driver loop. Source geometry rides
    along in s_* columns for the warp kernel."""
    from .crs import make_transform, parse_epsg

    dst_epsg = parse_epsg(dst_crs)
    dst_name = f"EPSG:{dst_epsg}"
    ox, oy = float(out_xres), float(out_yres)

    out_fields = ", ".join(
        [
            "media_ref string", "priority int", "x0 double", "y0 double",
            "x_res double", "y_res double", "ncols int", "nrows int",
            "n_bands int", "dtype string", "nullval double",
            "projection string",
        ]
        + [f"{n} {t}" for n, t in _WARPED_FP_EXTRA]
    )

    def plan(batches):
        for pdf in batches:
            outs = []
            for proj, sub in pdf.groupby("projection"):
                tr = make_transform(proj, dst_epsg)
                x0 = sub["x0"].to_numpy(np.float64)
                y0 = sub["y0"].to_numpy(np.float64)
                xr = sub["x_res"].to_numpy(np.float64)
                yr = sub["y_res"].to_numpy(np.float64)
                nc = sub["ncols"].to_numpy(np.float64)
                nr = sub["nrows"].to_numpy(np.float64)
                x1 = x0 + nc * xr
                y1 = y0 - nr * yr
                cx = np.stack([x0, x1, x0, x1])   # 4 corners x footprint
                cy = np.stack([y0, y0, y1, y1])
                tx, ty = tr(cx, cy)
                ex0 = np.floor(tx.min(axis=0) / ox) * ox
                ex1 = np.ceil(tx.max(axis=0) / ox) * ox
                ey1 = np.ceil(ty.max(axis=0) / oy) * oy
                ey0 = np.floor(ty.min(axis=0) / oy) * oy
                out = sub[["media_ref", "priority", "n_bands", "dtype", "nullval"]].copy()
                out["x0"] = ex0
                out["y0"] = ey1
                out["x_res"] = ox
                out["y_res"] = oy
                out["ncols"] = np.round((ex1 - ex0) / ox).astype(np.int32)
                out["nrows"] = np.round((ey1 - ey0) / oy).astype(np.int32)
                out["projection"] = dst_name
                out["s_x0"] = sub["x0"].to_numpy()
                out["s_y0"] = sub["y0"].to_numpy()
                out["s_x_res"] = sub["x_res"].to_numpy()
                out["s_y_res"] = sub["y_res"].to_numpy()
                out["s_ncols"] = sub["ncols"].to_numpy()
                out["s_nrows"] = sub["nrows"].to_numpy()
                out["s_projection"] = proj
                outs.append(out)
            cols = [
                "media_ref", "priority", "x0", "y0", "x_res", "y_res",
                "ncols", "nrows", "n_bands", "dtype", "nullval", "projection",
            ] + [n for n, _ in _WARPED_FP_EXTRA]
            yield (
                pd.concat(outs)[cols]
                if outs
                else pd.DataFrame(columns=cols)
            )

    return footprints.mapInPandas(plan, out_fields)


def _warp_window(g, rows, method: str, tr, ox: float, oy: float) -> np.ndarray:
    """Warp ONE target chunk: per-pixel inverse transform (dst centers
    -> src CRS, vectorized numpy over the chunk grid) + gather from the
    bounded source window."""
    nullval = int(g.nullval)
    tb_top, tb_left = int(g.tb_top), int(g.tb_left)
    tb_ys, tb_xs = int(g.tb_ysize), int(g.tb_xsize)
    s_nrows, s_ncols = int(g.s_nrows), int(g.s_ncols)
    sy_lo = max(0, int(g._sy_lo))
    sy_hi = min(s_nrows - 1, int(g._sy_hi))
    sx_lo = max(0, int(g._sx_lo))
    sx_hi = min(s_ncols - 1, int(g._sx_hi))
    win = _assemble_window(rows, sy_lo, sy_hi, sx_lo, sx_hi, nullval)

    # dst pixel centers -> src CRS -> fractional src indices (2D maps)
    xw = g.x0 + (tb_left + np.arange(tb_xs, dtype=np.float64) + 0.5) * ox
    yw = g.y0 - (tb_top + np.arange(tb_ys, dtype=np.float64) + 0.5) * oy
    XW = np.broadcast_to(xw[None, :], (tb_ys, tb_xs))
    YW = np.broadcast_to(yw[:, None], (tb_ys, tb_xs))
    xs, ys = tr(XW.ravel(), YW.ravel())
    colf = ((xs - g.s_x0) / g.s_x_res).reshape(tb_ys, tb_xs)
    rowf = ((g.s_y0 - ys) / g.s_y_res).reshape(tb_ys, tb_xs)
    dst = np.full((tb_ys, tb_xs), nullval, dtype=np.int32)

    ci = np.floor(colf).astype(np.int64)
    ri = np.floor(rowf).astype(np.int64)
    # validity also clamps to the joined window (curvature beyond the
    # sampled-bounds margin would otherwise index outside it)
    valid = (
        (ci >= 0) & (ci < s_ncols) & (ri >= 0) & (ri < s_nrows)
        & (ci >= sx_lo) & (ci <= sx_hi) & (ri >= sy_lo) & (ri <= sy_hi)
    )
    if method == "near":
        dst[valid] = win[ri[valid] - sy_lo, ci[valid] - sx_lo]
        return dst
    if method == "bilinear":
        fy = rowf - 0.5
        fx = colf - 0.5
        y0i = np.floor(fy).astype(np.int64)
        x0i = np.floor(fx).astype(np.int64)
        wy = fy - y0i
        wx = fx - x0i
        y0c = np.clip(y0i, sy_lo, sy_hi) - sy_lo
        y1c = np.clip(y0i + 1, sy_lo, sy_hi) - sy_lo
        x0c = np.clip(x0i, sx_lo, sx_hi) - sx_lo
        x1c = np.clip(x0i + 1, sx_lo, sx_hi) - sx_lo
        p00 = win[y0c, x0c].astype(np.float64)
        p01 = win[y0c, x1c].astype(np.float64)
        p10 = win[y1c, x0c].astype(np.float64)
        p11 = win[y1c, x1c].astype(np.float64)
        val = (
            p00 * (1 - wy) * (1 - wx)
            + p01 * (1 - wy) * wx
            + p10 * wy * (1 - wx)
            + p11 * wy * wx
        )
        any_null = (
            (p00 == nullval) | (p01 == nullval) | (p10 == nullval) | (p11 == nullval)
        )
        out = np.rint(val).astype(np.int32)
        out[any_null | ~valid] = nullval
        return np.where(valid, out, nullval).astype(np.int32)
    if method == "average":
        # area-style average across CRSes: map each target CELL's four
        # corners into source index space; average the source pixels
        # whose centers fall in the axis-aligned bounding box of the
        # mapped cell (the deterministic analog of GDAL's average for a
        # locally-affine transform), ignoring nullval; empty box ->
        # nullval. Same center-in-[lo,hi) rule as the same-CRS average.
        xw_c = g.x0 + (tb_left + np.arange(tb_xs + 1, dtype=np.float64)) * ox
        yw_c = g.y0 - (tb_top + np.arange(tb_ys + 1, dtype=np.float64)) * oy
        XC = np.broadcast_to(xw_c[None, :], (tb_ys + 1, tb_xs + 1))
        YC = np.broadcast_to(yw_c[:, None], (tb_ys + 1, tb_xs + 1))
        cxs, cys = tr(XC.ravel(), YC.ravel())
        colc = ((cxs - g.s_x0) / g.s_x_res).reshape(tb_ys + 1, tb_xs + 1)
        rowc = ((g.s_y0 - cys) / g.s_y_res).reshape(tb_ys + 1, tb_xs + 1)

        def corner_box(cc):
            c00, c01 = cc[:-1, :-1], cc[:-1, 1:]
            c10, c11 = cc[1:, :-1], cc[1:, 1:]
            lo = np.minimum(np.minimum(c00, c01), np.minimum(c10, c11))
            hi = np.maximum(np.maximum(c00, c01), np.maximum(c10, c11))
            a = np.ceil(lo - 0.5).astype(np.int64)
            b = (np.ceil(hi - 0.5) - 1).astype(np.int64)
            return a, b

        xa, xb = corner_box(colc)
        ya, yb = corner_box(rowc)
        ok = (
            (xb >= xa) & (yb >= ya)
            & (xb >= 0) & (xa < s_ncols) & (yb >= 0) & (ya < s_nrows)
        )
        ya_ = np.clip(ya, sy_lo, sy_hi) - sy_lo
        yb_ = np.clip(yb, sy_lo, sy_hi) - sy_lo + 1
        xa_ = np.clip(xa, sx_lo, sx_hi) - sx_lo
        xb_ = np.clip(xb, sx_lo, sx_hi) - sx_lo + 1
        valid_px = win != nullval
        data = np.where(valid_px, win, 0).astype(np.float64)
        ps = np.zeros((win.shape[0] + 1, win.shape[1] + 1))
        pc = np.zeros_like(ps)
        ps[1:, 1:] = data.cumsum(0).cumsum(1)
        pc[1:, 1:] = valid_px.astype(np.float64).cumsum(0).cumsum(1)

        def boxsum(p):
            return p[yb_, xb_] - p[ya_, xb_] - p[yb_, xa_] + p[ya_, xa_]

        s = boxsum(ps)
        n = boxsum(pc)
        nz = ok & (n > 0)
        dst[nz] = np.rint(s[nz] / n[nz]).astype(np.int32)
        return dst
    raise ValueError(f"unknown warp method: {method}")


def warp_blocks(
    footprints: DataFrame,
    blocks: DataFrame,
    dst_crs: str,
    out_xres: float,
    out_yres: float,
    src_blocksize: int = 256,
    method: str = "near",
) -> tuple[DataFrame, DataFrame]:
    """Full cross-CRS warp: returns (new_footprints, new_blocks) on the
    target CRS/resolution grid — feed straight into do_mosaic.

    Same windowed shape as resample_blocks (the reference's
    warp-at-windowed-read, reproj.py:209-213): target chunks are
    JVM-generated; each chunk's source window is found by transforming
    a 3x3 boundary sample of the chunk into the source CRS (vectorized
    pandas map, margin derived per chunk from the sampled curvature
    residual); the
    equi-join pulls exactly those source chunks; a grouped kernel
    builds the 2D per-pixel index maps with the same transforms and
    gathers. Margin chunks never reach Python.
    """
    if method not in WARP_METHODS:
        raise ValueError(
            f"unknown warp method {method!r}; supported: {WARP_METHODS}"
        )
    from .crs import make_transform, parse_epsg
    from .session import ensure_workers_can_import

    ensure_workers_can_import(footprints.sparkSession)
    blocks = ingest(blocks)
    dst_epsg = parse_epsg(dst_crs)
    sbs = int(src_blocksize)
    ox, oy = float(out_xres), float(out_yres)

    # lazy checkpoint: the planned footprints are a tiny dim table that
    # MANY consumers re-evaluate (grid summary, broadcast build, chunk
    # relation, margin synthesis) — without it each action re-runs the
    # corner-transform Python stage (guide §5: localCheckpoint cheaply
    # cuts repeated lineage)
    vfp = plan_warped_footprints(
        footprints, dst_crs, out_xres, out_yres
    ).localCheckpoint(eager=False)
    meta = vfp.select(
        "media_ref", "n_bands", "x0", "y0", "ncols", "nrows", "nullval",
        *[n for n, _ in _WARPED_FP_EXTRA],
    )
    t = _target_chunk_relation(meta, sbs)

    bounds_fields = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in t.schema.fields]
        + ["_sy_lo long", "_sy_hi long", "_sx_lo long", "_sx_hi long"]
    )

    def bounds(batches):
        fr = np.array([0.0, 0.5, 1.0])
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for proj, sub in pdf.groupby("s_projection"):
                tr = make_transform(dst_epsg, proj)  # dst world -> src world
                n = len(sub)
                tb_top = sub["tb_top"].to_numpy(np.float64)
                tb_left = sub["tb_left"].to_numpy(np.float64)
                tb_ys = sub["tb_ysize"].to_numpy(np.float64)
                tb_xs = sub["tb_xsize"].to_numpy(np.float64)
                x0 = sub["x0"].to_numpy(np.float64)
                y0 = sub["y0"].to_numpy(np.float64)
                # 3x3 boundary sample per chunk, in dst world coords
                gx = (tb_left[:, None] + fr[None, :] * tb_xs[:, None]) * ox
                gy = (tb_top[:, None] + fr[None, :] * tb_ys[:, None]) * oy
                XW = x0[:, None, None] + np.broadcast_to(
                    gx[:, None, :], (n, 3, 3)
                )
                YW = y0[:, None, None] - np.broadcast_to(
                    gy[:, :, None], (n, 3, 3)
                )
                xs, ys = tr(XW.ravel(), YW.ravel())
                colf = ((xs.reshape(n, 9) - sub["s_x0"].to_numpy()[:, None])
                        / sub["s_x_res"].to_numpy()[:, None])
                rowf = ((sub["s_y0"].to_numpy()[:, None] - ys.reshape(n, 9))
                        / sub["s_y_res"].to_numpy()[:, None])
                # margin derived from the transform's OBSERVED curvature
                # on this chunk (not a fixed constant): residual of the
                # 9 samples vs the bilinear prediction from the 4
                # corners. The residual already folds in chunk span,
                # resolution ratio and CRS-pair distortion; deviation
                # between samples scales as span^2, so 2x the full-span
                # residual bounds it with margin to spare, +3 px for the
                # bilinear half-pixel shift and floor rounding.
                fy = np.repeat(fr, 3)[None, :]   # sample fractions, row-major
                fx = np.tile(fr, 3)[None, :]
                w00 = (1 - fy) * (1 - fx)
                w02 = (1 - fy) * fx
                w20 = fy * (1 - fx)
                w22 = fy * fx

                def resid(a):
                    pred = (
                        a[:, [0]] * w00 + a[:, [2]] * w02
                        + a[:, [6]] * w20 + a[:, [8]] * w22
                    )
                    return np.abs(a - pred).max(axis=1)

                marg = (
                    np.ceil(2.0 * np.maximum(resid(colf), resid(rowf)))
                    .astype(np.int64) + 3
                )
                out = sub.copy()
                out["_sy_lo"] = np.floor(rowf.min(axis=1)).astype(np.int64) - marg
                out["_sy_hi"] = np.floor(rowf.max(axis=1)).astype(np.int64) + marg
                out["_sx_lo"] = np.floor(colf.min(axis=1)).astype(np.int64) - marg
                out["_sx_hi"] = np.floor(colf.max(axis=1)).astype(np.int64) + marg
                outs.append(out)
            yield pd.concat(outs)

    # same: the bounds relation feeds covered AND margin AND the join —
    # three subtrees that would each re-run the per-chunk transform map
    tb = t.mapInPandas(bounds, bounds_fields).localCheckpoint(eager=False)
    covered, margin = _split_covered(tb)
    joined = _join_source_chunks(covered, blocks, sbs)

    def warp_group(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.iloc[0]
        tr = make_transform(dst_epsg, g.s_projection)
        dst = _warp_window(g, list(pdf.itertuples(index=False)), method, tr, ox, oy)
        return pd.DataFrame(
            [
                {
                    "media_ref": g.media_ref,
                    "band": int(g.band),
                    "b_row": int(g.tb_row),
                    "b_col": int(g.tb_col),
                    "b_top": int(g.tb_top),
                    "b_left": int(g.tb_left),
                    "b_ysize": int(g.tb_ysize),
                    "b_xsize": int(g.tb_xsize),
                    "pixels": encode(dst.ravel()),
                }
            ],
            columns=[f.name for f in BLOCKS_SCHEMA.fields],
        )

    warped = joined.groupBy("media_ref", "band", "tb_row", "tb_col").applyInPandas(
        warp_group, BLOCKS_SCHEMA
    )
    new_blocks = warped.unionByName(_null_margin_chunks(margin))
    new_fp = vfp.drop(*[n for n, _ in _WARPED_FP_EXTRA])
    return new_fp, new_blocks
