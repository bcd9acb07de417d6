"""S4/P8-P11 — the reprojection path.

Reference behavior (reproj.py:14-59): if an output projection or pixel
size is requested, each input is wrapped in a lazy VRT that warps to the
target grid at read time; otherwise inputs are validated for agreement.
Spark rebuild:

* agreement validation (P6/P7)  -> mosaic.validate_projections
* reprojection requested (P8)   -> the CLI's --out-epsg / --xres branch
* grid snap (P9, reproj.py:237-261)         -> snap_value / align_grid
* corner envelope (P10, reproj.py:221-234)  -> reproject_corners
* same-CRS resolution change -> resample_blocks; cross-CRS warp
  (reproj.py:130-218) -> warp_blocks

Every transform is ``crs.make_transform``: the built-in pure-numpy
subset (EPSG:4326, 3857 and WGS84 UTM zones); pyproj is not used.

Both reprojections are ONE windowed pipeline — the reference's
warp-at-windowed-read (reproj.py:209-213) as a relation. The unit of
work is one TARGET chunk: the chunk relation is generated JVM-side,
each chunk's source window is exploded to source chunk keys and
equi-joined, and one grouped Arrow kernel assembles the bounded window
and resamples it (``_sample``: near, bilinear, average). Pure-margin
chunks never reach Python. The routes differ only in their footprint
planner and window bounds (closed-form columns for the resample, a
sampled transform map for the warp) and in the index-map builder that
feeds the kernel: ``_affine_maps`` (separable row/column vectors) or
``_warp_maps`` (2-D maps through the transform). Each returns a NEW lazy
(footprints, blocks) pair on the target grid that feeds straight into
do_mosaic; the mosaic join prunes it by chunk keys.

Nearest semantics (center-based, floor):
    src_idx(dst_idx) = floor(((dst_idx + 0.5) * dst_res + dst_origin
                              - src_origin) / src_res)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .crs import MoaCrsError, make_transform, parse_epsg
from .operators.stitch import _rows_to_arrow
from .pixels import decode_column, ingest, repeat_u2
from .schema import BLOCKS_SCHEMA

METHODS = ("near", "bilinear", "average")
_ARROW_BLOCKS_SCHEMA = to_arrow_schema(BLOCKS_SCHEMA)


class MoaReprojectionError(Exception):
    pass


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


def reproject_corners(x_min, x_max, y_min, y_max, src_crs: str, dst_crs: str):
    """P10 (reference reproj.py:221-234): transform the 4 corners, take
    the envelope. Axis order is always (x, y) — the P11 axis-swap guard
    (reference reproj.py:264-271)."""
    try:
        tr = make_transform(src_crs, dst_crs)
    except MoaCrsError as e:
        raise MoaReprojectionError(str(e)) from e
    xs, ys = tr(np.array([x_min, x_max, x_min, x_max], np.float64),
                np.array([y_max, y_max, y_min, y_min], np.float64))
    return (float(xs.min()), float(xs.max()), float(ys.min()), float(ys.max()))


def _check_method(method: str) -> None:
    if method not in METHODS:
        raise ValueError(f"unknown resample method {method!r}; supported: {METHODS}")


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


def _affine_maps(c: dict, ox: float, oy: float, boxes: bool):
    """Index maps of a same-CRS rescale, separable: centres
    ``((t + 0.5) * o + off) / s`` and cell edges ``(t * o + off) / s``
    over the chunk's integer target rows (a column vector) and columns
    (a row vector). ``boxes`` is unused: the edges cost nothing."""
    def axis(t0, n, o, off, s, shape):
        t = np.arange(t0, t0 + n + 1, dtype=np.float64)
        edges = (t * o + off) / s
        centres = ((t[:-1] + 0.5) * o + off) / s
        return centres.reshape(shape), edges[:-1].reshape(shape), edges[1:].reshape(shape)

    fy, y_lo, y_hi = axis(c["tb_top"], c["tb_ysize"], oy, c["s_y0"] - c["y0"], c["s_y_res"], (-1, 1))
    fx, x_lo, x_hi = axis(c["tb_left"], c["tb_xsize"], ox, c["x0"] - c["s_x0"], c["s_x_res"], (1, -1))
    return fy, fx, (y_lo, y_hi, x_lo, x_hi)


def _warp_maps(c: dict, tr, ox: float, oy: float, boxes: bool):
    """Index maps of a cross-CRS warp, 2-D: target pixel centres (and,
    if ``boxes``, cell corners) in world coordinates, through ``tr``
    (target CRS -> source CRS), onto the source grid. A cell's box is
    the axis-aligned bounding box of its four mapped corners — the
    deterministic analog of GDAL's average for a locally-affine
    transform."""
    def src_index(extra: int, d: float):
        u = c["tb_left"] + np.arange(c["tb_xsize"] + extra, dtype=np.float64) + d
        v = c["tb_top"] + np.arange(c["tb_ysize"] + extra, dtype=np.float64) + d
        xw, yw = np.broadcast_arrays((c["x0"] + u * ox)[None, :], (c["y0"] - v * oy)[:, None])
        xs, ys = tr(xw.ravel(), yw.ravel())
        return (
            ((c["s_y0"] - ys) / c["s_y_res"]).reshape(xw.shape),
            ((xs - c["s_x0"]) / c["s_x_res"]).reshape(xw.shape),
        )

    fy, fx = src_index(0, 0.5)
    if not boxes:
        return fy, fx, None
    corners = src_index(1, 0.0)
    box = tuple(
        f(f(a[:-1, :-1], a[:-1, 1:]), f(a[1:, :-1], a[1:, 1:]))
        for a in corners for f in (np.minimum, np.maximum)
    )
    return fy, fx, box


def _sample(win, y_lo: int, x_lo: int, fy, fx, box, method: str, nullval: int):
    """Resample ONE target chunk from its bounded source window — the
    one kernel behind both reprojections.

    ``win`` holds source rows ``y_lo..`` and columns ``x_lo..``; ``fy``/
    ``fx`` are the fractional source indices of the target pixel centres
    and ``box`` = (row_lo, row_hi, col_lo, col_hi) the fractional source
    bounds of each target cell (average only), all broadcastable to the
    chunk. Every index is clamped to the window. Method semantics
    (deterministic analogs of the reference's GDAL ``resamplemethod``,
    reproj.py:209-213):
      near     — centre-based floor gather (exact reference rule);
                 nullval where the centre pixel is outside the window.
      bilinear — 4-neighbour interpolation at the centre-aligned index
                 (f - 0.5), edge-replicated; valid where 'near' is;
                 nullval if any neighbour is nullval; banker's rounding.
      average  — mean of the non-null source pixels whose centres fall
                 in the cell's [lo, hi) box; nullval if there are none
                 (e.g. upsampling).
    """
    y_hi, x_hi = y_lo + win.shape[0] - 1, x_lo + win.shape[1] - 1

    def at(i, lo, hi):
        return np.clip(i, lo, hi) - lo

    if method == "average":
        ya, yb, xa, xb = (
            (np.ceil(e - 0.5) - k).astype(np.int64) for e, k in zip(box, (0, 1, 0, 1))
        )
        ok = (
            (yb >= ya) & (xb >= xa)
            & (yb >= y_lo) & (ya <= y_hi) & (xb >= x_lo) & (xa <= x_hi)
        )
        valid = win != nullval
        ps = np.zeros((win.shape[0] + 1, win.shape[1] + 1))
        pc = np.zeros_like(ps)
        ps[1:, 1:] = np.where(valid, win, 0).astype(np.float64).cumsum(0).cumsum(1)
        pc[1:, 1:] = valid.astype(np.float64).cumsum(0).cumsum(1)
        ya, xa = at(ya, y_lo, y_hi), at(xa, x_lo, x_hi)
        yb, xb = at(yb, y_lo, y_hi) + 1, at(xb, x_lo, x_hi) + 1

        def boxsum(p):
            return p[yb, xb] - p[ya, xb] - p[yb, xa] + p[ya, xa]

        s, n = boxsum(ps), boxsum(pc)
        dst = np.full(s.shape, nullval, dtype=np.int32)
        nz = ok & (n > 0)
        dst[nz] = np.rint(s[nz] / n[nz]).astype(np.int32)
        return dst

    ri, ci = np.floor(fy).astype(np.int64), np.floor(fx).astype(np.int64)
    valid = (ri >= y_lo) & (ri <= y_hi) & (ci >= x_lo) & (ci <= x_hi)
    if method == "near":
        out = win[at(ri, y_lo, y_hi), at(ci, x_lo, x_hi)]
        return np.where(valid, out, np.int32(nullval))
    fy, fx = fy - 0.5, fx - 0.5
    y0, x0 = np.floor(fy).astype(np.int64), np.floor(fx).astype(np.int64)
    wy, wx = fy - y0, fx - x0
    y0c, y1c = at(y0, y_lo, y_hi), at(y0 + 1, y_lo, y_hi)
    x0c, x1c = at(x0, x_lo, x_hi), at(x0 + 1, x_lo, x_hi)
    p00, p01 = win[y0c, x0c].astype(np.float64), win[y0c, x1c].astype(np.float64)
    p10, p11 = win[y1c, x0c].astype(np.float64), win[y1c, x1c].astype(np.float64)
    val = (
        p00 * (1 - wy) * (1 - wx)
        + p01 * (1 - wy) * wx
        + p10 * wy * (1 - wx)
        + p11 * wy * wx
    )
    any_null = (p00 == nullval) | (p01 == nullval) | (p10 == nullval) | (p11 == nullval)
    dst = np.rint(val).astype(np.int32)
    dst[any_null | ~valid] = nullval
    return dst


def _assemble_window(tbl: pa.Table, c: dict):
    """Fill the chunk's source window (its ``_sy_lo.._sx_hi`` columns,
    clamped to the source) from the joined source chunks, nullval
    elsewhere. Payloads decode zero-copy from the Arrow buffer."""
    y_lo, y_hi = max(0, c["_sy_lo"]), min(c["s_nrows"] - 1, c["_sy_hi"])
    x_lo, x_hi = max(0, c["_sx_lo"]), min(c["s_ncols"] - 1, c["_sx_hi"])
    win = np.full((y_hi - y_lo + 1, x_hi - x_lo + 1), int(c["nullval"]), dtype=np.int32)
    offsets, values = decode_column(tbl.column("pixels").combine_chunks())
    geo = zip(*(tbl.column(n).to_pylist() for n in ("b_top", "b_left", "b_ysize", "b_xsize")))
    for i, (bt, bl, bys, bxs) in enumerate(geo):
        y0, y1 = max(bt, y_lo), min(bt + bys, y_hi + 1)
        x0, x1 = max(bl, x_lo), min(bl + bxs, x_hi + 1)
        if y1 > y0 and x1 > x0:
            chunk = values[offsets[i]: offsets[i + 1]].reshape(bys, bxs)
            win[y0 - y_lo: y1 - y_lo, x0 - x_lo: x1 - x_lo] = chunk[y0 - bt: y1 - bt, x0 - bl: x1 - bl]
    return win, y_lo, x_lo


def _reproject_chunks(t: DataFrame, blocks: DataFrame, sbs: int, method: str, index_maps):
    """The one reprojection pipeline, from the target chunk relation
    ``t`` (carrying its ``_sy_lo.._sx_hi`` source window) to blocks:
    covered chunks join their source chunks and run the grouped Arrow
    kernel (window -> ``index_maps(c, boxes)`` -> ``_sample``); margin
    chunks are synthesized as nullval JVM-side, matching the warp's
    dstNodata fill."""
    from .session import ensure_workers_can_import

    ensure_workers_can_import(t.sparkSession)
    covered, margin = _split_covered(t)
    joined = _join_source_chunks(covered, ingest(blocks), sbs)

    def kernel(tbl: pa.Table) -> pa.Table:
        c = tbl.slice(0, 1).drop_columns(["pixels"]).to_pylist()[0]
        win, y_lo, x_lo = _assemble_window(tbl, c)
        fy, fx, box = index_maps(c, method == "average")
        dst = _sample(win, y_lo, x_lo, fy, fx, box, method, int(c["nullval"]))
        row = {
            "media_ref": c["media_ref"], "band": c["band"],
            "b_row": c["tb_row"], "b_col": c["tb_col"],
            "b_top": c["tb_top"], "b_left": c["tb_left"],
            "b_ysize": c["tb_ysize"], "b_xsize": c["tb_xsize"],
            "pixels": dst.ravel(),
        }
        return _rows_to_arrow([row], _ARROW_BLOCKS_SCHEMA)

    out = joined.groupBy("media_ref", "band", "tb_row", "tb_col").applyInArrow(
        kernel, BLOCKS_SCHEMA
    )
    return out.unionByName(_null_margin_chunks(margin))


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

    The unit of work is one TARGET chunk (never the whole raster): its
    needed source window is derived in closed-form column math — a
    superset across methods — and the shared pipeline resamples it
    through the separable affine index maps.

    Assumes the blocks table is keyed b_row = b_top // src_blocksize
    (the same contract _contributor_chunks uses for the mosaic join).
    """
    _check_method(method)
    vfp = plan_rescaled_footprints(footprints, out_xres, out_yres)
    meta = vfp.select(
        "media_ref", "n_bands", "s_x0", "s_y0", "s_x_res", "s_y_res",
        "s_ncols", "s_nrows", "x0", "y0", "ncols", "nrows", "nullval",
    )
    sbs = int(src_blocksize)
    ox, oy = float(out_xres), float(out_yres)

    t = _target_chunk_relation(meta, sbs)
    sy_lo = F.floor((F.col("tb_top") * oy + (F.col("s_y0") - F.col("y0"))) / F.col("s_y_res")) - 2
    sy_hi = F.floor(((F.col("tb_top") + F.col("tb_ysize")) * oy + (F.col("s_y0") - F.col("y0"))) / F.col("s_y_res")) + 2
    sx_lo = F.floor((F.col("tb_left") * ox + (F.col("x0") - F.col("s_x0"))) / F.col("s_x_res")) - 2
    sx_hi = F.floor(((F.col("tb_left") + F.col("tb_xsize")) * ox + (F.col("x0") - F.col("s_x0"))) / F.col("s_x_res")) + 2
    t = (
        t.withColumn("_sy_lo", sy_lo).withColumn("_sy_hi", sy_hi)
        .withColumn("_sx_lo", sx_lo).withColumn("_sx_hi", sx_hi)
    )
    new_blocks = _reproject_chunks(
        t, blocks, sbs, method, lambda c, boxes: _affine_maps(c, ox, oy, boxes)
    )
    new_fp = vfp.drop("s_x0", "s_y0", "s_x_res", "s_y_res", "s_ncols", "s_nrows")
    return new_fp, new_blocks


# ---------------------------------------------------------------------------
# Cross-CRS warp (the reference's full VRT-warp path, reproj.py:130-218,
# as a windowed relation over the built-in transforms of crs.py)
# ---------------------------------------------------------------------------

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

    The same pipeline as resample_blocks: each chunk's source window is
    found by transforming a 3x3 boundary sample of the chunk into the
    source CRS (vectorized pandas map, margin derived per chunk from the
    sampled curvature residual), and the kernel resamples through 2-D
    index maps built with the same transforms — for every footprint,
    same-CRS ones included.
    """
    _check_method(method)
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

    def index_maps(c, boxes):
        return _warp_maps(c, make_transform(dst_epsg, c["s_projection"]), ox, oy, boxes)

    new_blocks = _reproject_chunks(tb, blocks, sbs, method, index_maps)
    new_fp = vfp.drop(*[n for n, _ in _WARPED_FP_EXTRA])
    return new_fp, new_blocks
